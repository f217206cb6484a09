package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.streaming.{ParquetKeyedStore, StreamPipeline}

/** Per-layer metrics of a traced stream run, all taken from outside the
  * library: the engine's own `durationMs` phases, the jobs the span layer
  * attributes to each micro-batch, and direct calls of the public decode
  * chain. */
object Layers {

  /** Modules the measured jobs are attributed to by call site. The engine
    * bridges the call site of `start()` into the stream thread, so every
    * micro-batch job of [[StreamPipeline.startBatchMerge]] (decode and
    * keyed merge, fused in one plan) names `StreamPipeline`; the store's
    * own reads name `KeyedUpsertSink`; `bench` is the benchmark's code. */
  val Modules = Seq("StreamPipeline", "KeyedUpsertSink", "bench")

  private def p50(xs: Seq[Double]): Double =
    Stats.percentile(xs, 0.5).getOrElse(
      sys.error(s"${xs.size} samples; a p50 needs ${2 * Stats.MinBeyond}"))

  def stream(r: Main.Result, t: Trace, progress: Seq[StreamingQueryProgress],
             stagedBytes: Seq[Long], store: ParquetKeyedStore, storeDir: Path,
             srcDir: Path, spark: SparkSession): Unit = {
    def phase(k: String) = progress.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble))
    val trigger = phase("triggerExecution")
    val add = phase("addBatch")
    // the engine's short phases take a few whole milliseconds, so a
    // median would read the same from run to run; they are means
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    r.put("stream.latest_offset_ms", mean(phase("latestOffset")), "ms")
    r.put("stream.planning_ms", mean(phase("queryPlanning")), "ms")
    r.put("stream.wal_commit_ms", mean(phase("walCommit")), "ms")
    r.put("stream.commit_offsets_ms", mean(phase("commitOffsets")), "ms")
    r.put("stream.trigger_overhead_ms", p50(trigger.zip(add).map { case (a, b) => a - b }), "ms")
    r.put("sink.add_batch_ms", p50(add), "ms")
    val q = add.size / 4
    r.put("sink.add_batch_late_over_early",
      Stats.median(add.takeRight(q)) / Stats.median(add.slice(q, 2 * q)), "ratio")

    // jobs of the measured batches: span-tagged by the stream thread,
    // batch-tagged by the engine
    val stream = t.spans.values.asScala.filter(_.name == "stream").map(_.id).toSet
    val batchJobs = t.jobs.values.asScala.toSeq.filter(j => j.batchId >= 0 && stream(j.span))
    val byBatch = progress.map(p => p.batchId -> batchJobs.filter(_.batchId == p.batchId))
    def perBatch(f: Seq[Trace.JobRec] => Double): Double = p50(byBatch.map(b => f(b._2)))
    r.put("sink.jobs_per_batch", perBatch(_.size.toDouble), "count")
    r.put("sink.tasks_per_batch", perBatch(_.map(_.tasks).sum.toDouble), "count")
    r.put("sink.bytes_written_per_batch", perBatch(_.map(_.outBytes).sum.toDouble), "B")
    r.put("sink.write_amp", p50(byBatch.zip(stagedBytes).map { case ((_, js), staged) =>
      js.map(_.outBytes).sum.toDouble / staged }), "ratio")
    r.put("stream.driver_ms", p50(byBatch.zip(trigger).map { case ((_, js), wall) =>
      wall - t.busyMs(js) }), "ms")
    r.put("spark.stages_per_batch", perBatch(_.map(_.stages).sum.toDouble), "count")
    r.put("spark.executor_run_ms_per_batch", perBatch(_.map(_.runMs).sum.toDouble), "ms")
    r.put("spark.executor_cpu_ms_per_batch", perBatch(_.map(_.cpuNs).sum / 1e6), "ms")
    r.put("spark.gc_ms", batchJobs.map(_.gcMs).sum.toDouble, "ms")
    r.put("spark.input_bytes_per_batch", perBatch(_.map(_.inBytes).sum.toDouble), "B")
    r.put("spark.shuffle_read_bytes_per_batch", perBatch(_.map(_.shuffleRead).sum.toDouble), "B")
    r.put("spark.shuffle_write_bytes_per_batch", perBatch(_.map(_.shuffleWrite).sum.toDouble), "B")
    // every job of the measured drain and reads, by module
    val measured = t.spans.values.asScala
      .filter(s => s.name == "stream" || s.name == "sink.read").map(_.id).toSet
    val jobs = t.jobs.values.asScala.toSeq.filter(j => measured(j.span))
    def moduleOf(j: Trace.JobRec) =
      if (j.module == "StreamPipeline" || j.module == "KeyedUpsertSink") j.module else "bench"
    Modules.foreach { m =>
      val js = jobs.filter(moduleOf(_) == m)
      r.put(s"jobs.$m", js.size.toDouble, "count")
      r.put(s"exec_ms.$m", js.map(_.runMs).sum.toDouble, "ms")
    }
    // every micro-batch job must carry a span: the stream thread inherits
    // the property from the thread that started the query
    val untagged = t.jobs.values.asScala.count(j => j.span < 0 && j.batchId >= 0)
    r.put("trace.untagged_batch_jobs", untagged.toDouble, "count")
    r.check(untagged == 0, s"$untagged micro-batch jobs carry no span")
    r.put("trace.jobs", t.jobs.size.toDouble, "count")

    r.put("sink.state_rows", store.read(spark).get.count().toDouble, "rows")
    r.put("sink.generations", Files.list(storeDir).iterator.asScala
      .count(_.getFileName.toString.startsWith("gen-")).toDouble, "count")
    r.put("sink.read_ms", p50(t.spans.values.asScala.filter(_.name == "sink.read")
      .map(_.ms).toSeq), "ms")

    // the decode chain alone, over staged files, as a counted batch query
    val files = Files.list(srcDir).iterator.asScala.toSeq.sortBy(_.toString).take(5)
    val decode = files.map { f =>
      t.span("ingest.decode") {
        val t0 = System.nanoTime()
        StreamPipeline.transform(spark.read.schema(StreamWorkload.EnvelopeSchema)
          .parquet(f.toString)).count()
        (System.nanoTime() - t0) / 1e6
      }
    }
    r.put("ingest.decode_ms", Stats.median(decode), "ms")
  }
}
