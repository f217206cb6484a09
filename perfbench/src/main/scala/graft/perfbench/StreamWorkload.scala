package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._
import graft.streaming.{ParquetKeyedStore, StreamPipeline}

/** The paper's pipeline as a stream: staged Kafka-envelope parquet files,
  * read one file per micro-batch, through [[StreamPipeline.startBatchMerge]]
  * into the keyed last-writer-wins store.
  *
  * Closed loop, one client: the stream drains a pre-staged backlog (its
  * AvailableNow trigger ends the query when the backlog is empty), then
  * the client reads the keyed table back [[Reads]] times, each read
  * checked against the benchmark's own last-writer-wins map, and finally
  * compares the table row for row. The work is fixed per `--seconds`, so
  * a faster sink is not charged for reaching a larger state. */
object StreamWorkload {

  val Growing = Gen.FxParams(msgsPerFile = 1000, docsPerMsg = 4, hotKeys = 0)
  val Hot = Gen.FxParams(msgsPerFile = 1000, docsPerMsg = 4, hotKeys = 32)
  /** Staged files (one micro-batch each) per second of `--seconds`. */
  val BatchesPerSecond = 2.5
  val Reads = 20
  val WarmFiles = 5
  /** Set-ups per untraced run; `setup_s` is their median. A traced run
    * sets up once and spends the time on the lake leg instead. */
  val SetupReps = 3

  /** Kafka source schema (the reference's envelope). */
  val EnvelopeSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Writes files [from, from + n) of a stream as `f-<index>.parquet` under
    * `dir`, one Spark task per file. Returns each file's size in bytes. */
  def stage(spark: SparkSession, dir: Path, seed: Long, tag: String,
            from: Int, n: Int, p: Gen.FxParams): IndexedSeq[Long] = {
    val rows = spark.sparkContext.parallelize(from until from + n, n).flatMap { f =>
      val msgs = Gen.fxMessages(Gen.fxDocs(seed, tag, f, p), p)
      msgs.zipWithIndex.map { case (v, i) =>
        val off = f.toLong * p.msgsPerFile + i
        Row(null, v.getBytes(UTF_8), "currency_exchange", (off % 3).toInt, off,
          new java.sql.Timestamp(Gen.BaseTsMs + off), 0)
      }
    }
    val tmp = dir.resolve(s"_tmp-$tag-$from")
    spark.createDataFrame(rows, EnvelopeSchema).write.parquet(tmp.toString)
    Files.createDirectories(dir)
    val parts = Files.list(tmp).iterator.asScala.toSeq
      .filter(f => f.getFileName.toString.startsWith("part-"))
    require(parts.size == n, s"expected $n staged files, got ${parts.size}")
    val sizes = parts.map { f =>
      val idx = from + f.getFileName.toString.stripPrefix("part-").take(5).toInt
      val dst = dir.resolve(f"f-$idx%06d.parquet")
      Files.move(f, dst)
      idx -> Files.size(dst)
    }.sortBy(_._1).map(_._2)
    Dirs.delete(tmp)
    sizes.toIndexedSeq
  }

  /** Moves staged file `idx` into the stream's source dir, stamped so the
    * file source (which orders by modification time) sees it in order. */
  def feed(pool: Path, src: Path, idx: Int): Unit = {
    val dst = src.resolve(f"f-$idx%06d.parquet")
    Files.move(pool.resolve(f"f-$idx%06d.parquet"), dst)
    dst.toFile.setLastModified(1600000000000L + idx * 1000L)
  }

  def source(spark: SparkSession, src: Path) =
    spark.readStream.schema(EnvelopeSchema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)

  /** Drains whatever sits in `src`; returns the batches' progress. */
  def drain(spark: SparkSession, src: Path, store: Path,
            ckpt: Path): Seq[StreamingQueryProgress] = {
    val q = StreamPipeline.startBatchMerge(source(spark, src), store.toString,
      ckpt.toString)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
  }

  def keyed(store: Path) = new ParquetKeyedStore(store.toString, "fx_marker", "timestamp_ms")

  def run(spark: SparkSession, a: Main.Args, hot: Boolean): Main.Result = {
    val r = new Main.Result
    val p = if (hot) Hot else Growing
    val reps = if (a.trace) 1 else SetupReps
    val tr = if (a.trace) Some(new Trace(spark.sparkContext)) else None
    tr.foreach(t => spark.sparkContext.addSparkListener(t.sparkListener))
    def span[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    r.info("params") = Map("msgs_per_file" -> p.msgsPerFile,
      "docs_per_msg" -> p.docsPerMsg, "hot_keys" -> p.hotKeys,
      "batches_per_second" -> BatchesPerSecond,
      "reads" -> Reads,
      "warm_files" -> WarmFiles, "setup_reps" -> reps)

    val files = math.max(2 * Stats.MinBeyond, math.round(a.seconds * BatchesPerSecond).toInt)
    // ---- set-up, repeated; the last repetition's pool is measured ----
    var pool: Path = null
    var sizes: IndexedSeq[Long] = null
    val setupS = (1 to reps).map { rep =>
      val t0 = System.nanoTime()
      val dir = a.work.resolve(s"setup-$rep")
      pool = dir.resolve("pool")
      sizes = span("setup.stage")(stage(spark, pool, a.seed, "fx", 0, files, p))
      val warmPool = dir.resolve("warm-pool")
      val warmSrc = dir.resolve("warm-src")
      Files.createDirectories(warmSrc)
      stage(spark, warmPool, a.seed, "warm", 0, WarmFiles, p)
      (0 until WarmFiles).foreach(feed(warmPool, warmSrc, _))
      span("setup.warm") {
        drain(spark, warmSrc, dir.resolve("warm-store"), dir.resolve("warm-ckpt"))
        keyed(dir.resolve("warm-store")).read(spark).get.count()
      }
      if (rep < reps) Dirs.delete(dir)
      Main.log(f"setup rep $rep: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      (System.nanoTime() - t0) / 1e9
    }
    r.put("setup_s", Stats.median(setupS), "s")

    // ---- measured: drain the backlog, then read the table back ----
    val src = a.work.resolve("src")
    val store = a.work.resolve("store")
    val ckpt = a.work.resolve("ckpt")
    Files.createDirectories(src)
    (0 until files).foreach(feed(pool, src, _))
    val t0 = System.nanoTime()
    val progress = span("stream")(drain(spark, src, store, ckpt))
    val wallS = (System.nanoTime() - t0) / 1e9
    r.check(progress.size == files, s"stream ran ${progress.size} batches for $files files")
    val expect = mutable.HashMap.empty[String, Long]
    (0 until files).foreach(f => Gen.lww(expect, Gen.fxDocs(a.seed, "fx", f, p)))
    val readMs = (1 to Reads).map { _ =>
      val t1 = System.nanoTime()
      val row = span("sink.read") {
        keyed(store).read(spark).get
          .agg(count(lit(1)), max(col("timestamp_ms").cast("long"))).head()
      }
      r.check(row.getLong(0) == expect.size && row.getLong(1) == expect.values.max,
        s"read: ${row.getLong(0)} rows, newest ${row.getLong(1)}; " +
          s"expected ${expect.size}, ${expect.values.max}")
      (System.nanoTime() - t1) / 1e6
    }
    val docs = files.toLong * p.docsPerFile
    Main.log(s"batches: " + progress.map(g =>
      s"${g.durationMs.get("triggerExecution")}/${g.durationMs.get("addBatch")}").mkString(" "))

    // ---- final table, row for row ----
    val got = keyed(store).read(spark).get
      .select(col("fx_marker"), col("timestamp_ms"), col("timestamp_dt").cast("string"))
      .collect()
    val utc = java.time.ZoneOffset.UTC
    val want = expect.map { case (m, ts) =>
      (m, ts.toString, java.time.Instant.ofEpochMilli(ts).atZone(utc).toLocalDate.toString)
    }.toSet
    val gotSet = got.map(x => (x.getString(0), x.getString(1), x.getString(2))).toSet
    r.check(got.length == want.size && gotSet == want,
      s"final table: ${got.length} rows, ${(gotSet diff want).size} unexpected, " +
        s"${(want diff gotSet).size} missing")

    val trigger = progress.map(_.durationMs.get("triggerExecution").toDouble)
    val batchP50 = Stats.percentile(trigger, 0.5).getOrElse(
      sys.error(s"only ${trigger.size} batches; p50 needs 20"))
    if (!a.trace) {
      r.put("docs_per_s", docs / wallS, "docs/s")
      r.put("batch_p50_ms", batchP50, "ms")
      r.put("read_p50_ms", Stats.percentile(readMs, 0.5).getOrElse(
        sys.error(s"only ${readMs.size} reads; p50 needs 20")), "ms")
      r.put("disk_mb", (Dirs.size(store) + Dirs.size(ckpt)) / 1e6, "MB")
    } else {
      val t = tr.get
      t.settle()
      r.put("trace.setup_s", r.metrics.remove("setup_s").get._1, "s")
      Layers.stream(r, t, progress, sizes, keyed(store), store, src, spark)
      r.put("trace.docs_per_s", docs / wallS, "docs/s")
      r.put("trace.batch_p50_ms", batchP50, "ms")
      LakeLeg.run(spark, a, r, t)
      t.dump(a.work.getParent.resolve(s"traces/${a.workload}-${a.seed}.json"))
    }
    r.info("batches") = progress.size
    r.info("docs") = docs
    r.info("state_rows") = expect.size
    r
  }
}

/** Small filesystem helpers. */
object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def size(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
