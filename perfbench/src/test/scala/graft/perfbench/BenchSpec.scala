package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{ParquetKeyedStore, StreamPipeline}

/** The benchmark's own parts: its generator, its reference results, its
  * percentile rule and its job attribution. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def bytes(seed: Long, p: Gen.FxParams): Seq[Byte] =
    (0 until 3).flatMap(f => Gen.fxMessages(Gen.fxDocs(seed, "fx", f, p), p))
      .mkString("\u0000").getBytes("UTF-8").toSeq

  test("the generator is deterministic per seed, byte for byte") {
    Seq(StreamWorkload.Growing, StreamWorkload.Hot).foreach { p =>
      assert(bytes(7, p) == bytes(7, p))
      assert(bytes(7, p) != bytes(8, p))
    }
    val docs = (0 until 20).flatMap(Gen.fxDocs(7, "fx", _, StreamWorkload.Hot))
    assert(docs.map(_.marker).toSet.flatten.size == 32)
    // every adversarial kind is planted
    assert(docs.exists(_.line.contains("\"fx_marker\": \"\"")))
    assert(docs.exists(d => !d.line.contains("fx_marker")))
    assert(docs.exists(_.line.endsWith("\"fx_mark")))
    assert(docs.exists(d => d.marker.nonEmpty && d.tsMs < Gen.BaseTsMs))
  }

  test("the lake generator is deterministic and plants what it declares") {
    val p = LakeLeg.Params
    def all(seed: Long) = Gen.baseDocs(seed, p) ++
      (0 until p.commits).flatMap(Gen.arrivals(seed, p, _))
    assert(all(7) == all(7))
    assert(all(7) != all(8))
    val docs = all(7)
    assert(docs.map(_.docId).distinct.size == docs.size)
    val arrived = (0 until p.commits).flatMap(Gen.arrivals(7, p, _))
    assert(arrived.size == p.commits * p.perCommit)
    // every planted duplicate copies the text of an earlier doc
    arrived.filter(_.planted == "duplicate").foreach { d =>
      assert(docs.exists(o => o.docId < d.docId && o.planted == "admitted" && o.text == d.text))
    }
    assert(arrived.count(_.planted == "low_quality") == p.commits * p.lowPerCommit)
    // admitted texts are distinct, so none is another's duplicate
    val admitted = docs.filter(_.planted == "admitted").map(_.text)
    assert(admitted.distinct.size == admitted.size)
  }

  /** The reference wire fixture plus its adversarial rows. */
  private val handWritten = Seq(
    Gen.FxDoc(Some("EUR/GBP"), 1530305100936L,
      """{"timestamp_ms": "1530305100936", "fx_marker": "EUR/GBP"}"""),
    Gen.FxDoc(Some("USD/CHF"), 1530305100815L,
      """{"timestamp_ms": "1530305100815", "fx_marker": "USD/CHF"}"""),
    Gen.FxDoc(Some("EUR/GBP"), 1530305200000L,   // newer: wins
      """{"timestamp_ms": "1530305200000", "fx_marker": "EUR/GBP"}"""),
    Gen.FxDoc(Some("USD/CHF"), 1530300000000L,   // older: loses
      """{"timestamp_ms": "1530300000000", "fx_marker": "USD/CHF"}"""),
    Gen.FxDoc(None, 1530305100000L, """{"timestamp_ms": "1530305100000", "fx_marker": ""}"""),
    Gen.FxDoc(None, 1530305100001L, """{"timestamp_ms": "1530305100001"}"""),
    Gen.FxDoc(None, 0L, """not json at all"""),
    Gen.FxDoc(Some("AUD/NZD"), 1530305100500L,
      """{"timestamp_ms": "1530305100500", "fx_marker": "AUD/NZD"}"""))

  test("the last-writer-wins reference on the adversarial rows matches the sink") {
    val want = Map("EUR/GBP" -> 1530305200000L, "USD/CHF" -> 1530305100815L,
      "AUD/NZD" -> 1530305100500L)
    val ref = scala.collection.mutable.HashMap.empty[String, Long]
    Gen.lww(ref, handWritten)
    assert(ref.toMap == want)

    import spark.implicits._
    // two messages, the second with a trailing empty line
    val msgs = Seq(handWritten.take(4).map(_.line).mkString("\n"),
      handWritten.drop(4).map(_.line).mkString("\n") + "\n")
    val dir = java.nio.file.Files.createTempDirectory("perfbench-lww")
    try {
      val store = new ParquetKeyedStore(dir.toString, "fx_marker", "timestamp_ms")
      store.merge(StreamPipeline.transform(msgs.toDF("value")), 0L)
      val got = store.read(spark).get
        .select($"fx_marker", $"timestamp_ms".cast("long")).as[(String, Long)]
        .collect().toMap
      assert(got == want)
    } finally Dirs.delete(dir)
  }

  test("a percentile needs ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9).isDefined)
    assert(Stats.percentile(xs.take(99), 0.9).isEmpty)
    assert(Stats.percentile(xs.take(20), 0.5) == Some(10.5))
    assert(Stats.percentile(xs.take(19), 0.5).isEmpty)
    assert(Stats.percentile(Seq.empty, 0.5).isEmpty)
    assert(Stats.percentile(xs, 0.5) == Some(50.5))
  }

  test("a job is attributed to the module its call site names") {
    assert(Trace.moduleOf("parquet at KeyedUpsertSink.scala:119") == "KeyedUpsertSink")
    assert(Trace.moduleOf("start at StreamPipeline.scala:45") == "StreamPipeline")
    assert(Trace.moduleOf(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:12)\n" +
        "graft.streaming.ParquetKeyedStore.merge(KeyedUpsertSink.scala:119)\n" +
        "graft.streaming.StreamPipeline$.f(StreamPipeline.scala:45)") == "KeyedUpsertSink")
    assert(Trace.moduleOf(null) == "unknown")
    val t = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(t.sparkListener)
    try {
      t.span("known")(spark.range(1000).agg(sum(col("id"))).collect())
      t.settle()
      val known = t.spans.values.toArray(Array.empty[Trace.Span]).find(_.name == "known").get
      val js = t.jobs.values.toArray(Array.empty[Trace.JobRec]).filter(_.span == known.id)
      assert(js.nonEmpty && js.forall(_.module == "BenchSpec"),
        js.map(_.module).mkString(", "))
      assert(js.map(_.tasks).sum > 0)
    } finally spark.sparkContext.removeSparkListener(t.sparkListener)
  }
}
