package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{CorpusLake, LakeView}

/** The traced lake leg: a generated base corpus, arriving batches fed one
  * at a time to [[CorpusLake.maintainCorpusStream]] with two declared
  * [[LakeView]]s refreshed after every commit, and a read of both views
  * and of the head snapshot after each commit.
  *
  * Closed loop, one client: a batch file is moved into the stream's
  * source dir and the client waits until the query has committed it (with
  * its views fresh) before it reads and hands in the next one. The first
  * commit warms the JIT and is not measured. At the end, each view is
  * checked against its recompute from [[CorpusLake.readCorpusAt]], and the
  * manifest's decision counts against what the generator planted. */
object LakeLeg {

  val Params = Gen.LakeParams(baseDocs = 1000, commits = 5, perCommit = 40,
    dupsPerCommit = 6, lowPerCommit = 2)
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  /** No commit after the first three starts once the JVM has run this
    * long, so a slow host still ends the run within its time limit. */
  val DeadlineS = 115.0
  /** Jobs writing less than this are small writes (commit barriers). */
  val SmallWriteBytes = 64 * 1024

  /** View 1: additive sums by id bucket. View 2: min and max length by
    * length band, the non-additive maintenance path. */
  private val Dims1 = Seq("bucket" -> "CAST(doc_id % 5 AS INT)")
  private val Measures1 = Seq("chars" -> "CAST(length(text) AS BIGINT)",
    "toks" -> "CAST(size(split(text, ' ')) AS BIGINT)")
  private val Dims2 = Seq("band" -> "CAST(length(text) DIV 100 AS INT)")
  private val Len = "CAST(length(text) AS BIGINT)"

  private def recompute1(snap: DataFrame): DataFrame =
    snap.select(expr(Dims1.head._2).as("bucket"), expr(Measures1(0)._2).as("chars"),
        expr(Measures1(1)._2).as("toks"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("chars"),
        sum(col("toks")).as("toks"))

  private def recompute2(snap: DataFrame): DataFrame =
    snap.select(expr(Dims2.head._2).as("band"), expr(Len).as("len"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"), min(col("len")).as("min_len"),
        max(col("len")).as("max_len"))

  private def rows(df: DataFrame, cols: Seq[String]): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  private def files(dirs: Seq[Path]): Set[Path] = dirs.filter(Files.exists(_)).flatMap { d =>
    val s = Files.walk(d)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }.toSet

  def run(spark: SparkSession, a: Main.Args, r: Main.Result, t: Trace): Unit = {
    val p = Params
    val root = a.work.resolve("lake")
    val dir = root.resolve("base")
    val (idx, corpus, maint) = (root.resolve("idx"), root.resolve("corpus"), root.resolve("maint"))
    val (view1, view2) = (root.resolve("view_bucket"), root.resolve("view_band"))
    val (pool, src, ckpt) = (root.resolve("pool"), root.resolve("src"), root.resolve("ckpt"))
    val lakeDirs = Seq(idx, corpus, maint, view1, view2)
    r.info("lake_params") = Map("base_docs" -> p.baseDocs, "commits" -> p.commits,
      "per_commit" -> p.perCommit, "dups_per_commit" -> p.dupsPerCommit,
      "low_per_commit" -> p.lowPerCommit, "views" -> 2, "view_refresh_every" -> 1)

    val t0 = System.nanoTime()
    import spark.implicits._
    val base = Gen.baseDocs(a.seed, p)
    base.map(d => (d.docId, d.text, "en", "gen", d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    val batches = (0 until p.commits).map(Gen.arrivals(a.seed, p, _))
    batches.zipWithIndex.foreach { case (b, c) =>
      b.map(d => (d.docId, d.text)).toDF("doc_id", "text").coalesce(1)
        .write.parquet(pool.resolve(f"b-$c%03d").toString)
    }
    t.span("lake.init") {
      CorpusLake.initCorpus(spark, dir.toString, idx.toString)
      LakeView.createView(spark, dir.toString, view1.toString, Dims1, Measures1)
      LakeView.createView(spark, dir.toString, view2.toString, Dims2, Nil,
        minMeasures = Seq("min_len" -> Len), maxMeasures = Seq("max_len" -> Len))
    }
    Files.createDirectories(src)
    val q = t.span("lake.stream") {
      CorpusLake.maintainCorpusStream(
          spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", 1)
            .parquet(src.toString),
          spark, dir.toString, idx.toString, corpus.toString, maint.toString,
          viewDirs = Seq(view1.toString, view2.toString), viewRefreshEvery = 1)
        .option("checkpointLocation", ckpt.toString).start()
    }
    r.put("trace.lake_setup_s", (System.nanoTime() - t0) / 1e9, "s")

    // ---- one commit per batch, then the reads ----
    final case class Commit(ms: Double, startMs: Long, endMs: Long,
                            filesWritten: Int, viewMs: Double, corpusMs: Double)
    val commits = try {
      (0 until p.commits).iterator.takeWhile(c => c < 3 || Main.elapsedS < DeadlineS).map { c =>
        val before = files(lakeDirs)
        val part = Files.list(pool.resolve(f"b-$c%03d")).iterator.asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val startMs = System.currentTimeMillis()
        val c0 = System.nanoTime()
        Files.move(part, src.resolve(f"b-$c%03d.parquet"))
        t.span("lake.commit")(q.processAllAvailable())
        val ms = (System.nanoTime() - c0) / 1e6
        val endMs = System.currentTimeMillis()
        q.exception.foreach(e => throw e)
        val written = (files(lakeDirs) -- before).size
        val v0 = System.nanoTime()
        t.span("view.read") {
          LakeView.readView(spark, view1.toString).collect()
          LakeView.readView(spark, view2.toString).collect()
        }
        val v1 = System.nanoTime()
        t.span("lake.read_corpus")(CorpusLake.readCorpusAt(spark, dir.toString, corpus.toString).count())
        val v2 = System.nanoTime()
        Main.log(f"lake commit $c: $ms%.0f ms, $written files")
        Commit(ms, startMs, endMs, written, (v1 - v0) / 1e6, (v2 - v1) / 1e6)
      }.toIndexedSeq
    } finally q.stop()
    r.info("lake_commits") = commits.size
    t.settle()

    // ---- checks ----
    val snap = CorpusLake.readCorpusAt(spark, dir.toString, corpus.toString)
    r.check(rows(LakeView.readView(spark, view1.toString), Seq("bucket", "n_docs", "chars", "toks")) ==
      rows(recompute1(snap), Seq("bucket", "n_docs", "chars", "toks")),
      "view_bucket differs from its recompute")
    r.check(rows(LakeView.readView(spark, view2.toString), Seq("band", "n_docs", "min_len", "max_len")) ==
      rows(recompute2(snap), Seq("band", "n_docs", "min_len", "max_len")),
      "view_band differs from its recompute")
    val fed = batches.take(commits.size)
    val planted = fed.flatten.groupBy(_.planted).map { case (k, v) => k -> v.size.toLong }
    val man = CorpusLake.manifest(spark, corpus.toString)
      .agg(sum("n_arrived"), sum("n_admitted"), sum("n_duplicate"),
        sum("n_contaminated"), sum("n_low_quality"), count(lit(1))).head()
    val got = (0 to 5).map(man.getLong)
    val want = Seq(fed.map(_.size.toLong).sum, planted.getOrElse("admitted", 0L),
      planted.getOrElse("duplicate", 0L), 0L, planted.getOrElse("low_quality", 0L),
      commits.size.toLong)
    r.check(got == want, s"manifest (arrived, admitted, duplicate, contaminated, " +
      s"low quality, commits) = $got; planted $want")
    val admitted = planted.getOrElse("admitted", 0L)
    val snapN = snap.count()
    r.check(snapN == p.baseDocs + admitted, s"head snapshot has $snapN docs; " +
      s"expected ${p.baseDocs + admitted}")

    // ---- per-layer metrics, medians over the measured commits ----
    val measured = commits.drop(1)
    val jobs = t.jobs.values.asScala.toSeq
    def commitJobs(c: Commit) = jobs.filter(j => j.startMs >= c.startMs && j.startMs <= c.endMs)
    val viewPaths = Seq(view1, view2).map(_.toString)
    def isView(j: Trace.JobRec) = t.planOf(j).exists(pl => viewPaths.exists(pl.contains))
    def med(f: Commit => Double): Double = Stats.median(measured.map(f))
    r.put("lake.commit_ms", med(_.ms), "ms")
    r.put("lake.jobs_per_commit", med(commitJobs(_).size.toDouble), "count")
    r.put("lake.tasks_per_commit", med(commitJobs(_).map(_.tasks).sum.toDouble), "count")
    r.put("lake.small_write_jobs_per_commit", med(commitJobs(_).count(j =>
      j.outBytes > 0 && j.outBytes < SmallWriteBytes).toDouble), "count")
    r.put("lake.files_written_per_commit", med(_.filesWritten.toDouble), "count")
    r.put("lake.bytes_written_per_commit", med(commitJobs(_).map(_.outBytes).sum.toDouble), "B")
    r.put("lake.driver_ms_per_commit", med(c => c.ms - t.busyMs(commitJobs(c))), "ms")
    r.put("lake.admitted_ratio", admitted.toDouble / want.head, "ratio")
    r.put("lake.read_corpus_ms", med(_.corpusMs), "ms")
    val stats = CorpusLake.lakeStats(spark, corpus.toString).collect()
      .map(x => x.getString(0) -> x.get(1).toString.toDouble).toMap
    r.put("lake.files_total", stats("docs_files") + stats("decisions_files") +
      stats("manifest_files"), "count")
    r.put("view.read_ms", med(_.viewMs), "ms")
    r.put("jobs.LakeView", med(commitJobs(_).count(isView).toDouble), "count")
    r.put("exec_ms.LakeView", med(commitJobs(_).filter(isView).map(_.runMs).sum.toDouble), "ms")
    // every job of the lake stream must carry a span: the stream thread
    // and the view-refresh pool inherit it from the thread that started
    // the query
    val lakeSpan = t.spans.values.asScala.find(_.name == "lake.stream").get.id
    val stray = commits.flatMap(commitJobs).count(_.span != lakeSpan)
    r.put("trace.untagged_lake_jobs", stray.toDouble, "count")
    r.check(stray == 0, s"$stray lake commit jobs carry no lake.stream span")
    r.put("lake.disk_mb", lakeDirs.map(Dirs.size).sum / 1e6, "MB")
  }
}
