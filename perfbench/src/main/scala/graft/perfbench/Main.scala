package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints one `{"info": ...}` line (workload parameters and host facts)
  * and, as the last line, `{"correct", "attempted", "failed", "metrics"}`:
  * the end-to-end metrics when untraced, the per-layer metrics when
  * traced. Exits 1 on any failure. */
object Main {

  /** What a workload hands back: checked operations and named metrics. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, Any]
    def put(name: String, value: Double, unit: String): Unit = {
      require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
      metrics(name) = (value, unit)
    }
    /** Count one checked operation; a false check is a failure. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] WRONG: $what") }
    }
  }

  private val T0 = System.nanoTime()
  /** Seconds since the JVM loaded the benchmark. */
  def elapsedS: Double = (System.nanoTime() - T0) / 1e9
  def log(msg: String): Unit =
    System.err.println(f"[perfbench $elapsedS%7.2f] $msg")

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path)

  val Workloads: Map[String, Args => SparkSession => Result] = Map(
    "fx_stream_growing_keys" -> (a => s => StreamWorkload.run(s, a, hot = false)),
    "fx_stream_hot_keys" -> (a => s => StreamWorkload.run(s, a, hot = true)))

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath)
  }

  def session(work: Path, trace: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    // a traced run attributes lake jobs by the directories their plans
    // name, so plan strings must keep whole paths
    if (trace) b.config("spark.sql.maxMetadataStringLength", "100000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def jsonValue(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jsonValue(k.toString) + ": " + jsonValue(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(jsonValue).mkString("[", ", ", "]")
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => d.toString
    case other => jsonValue(other.toString)
  }

  /** Host facts recorded with every run, so a contended run is visible:
    * `nproc`, the load average and the `Bench.calibrationProbe` time on a
    * generated 300k-row table. `run.py` turns the probe time into a ratio
    * against the reference measured on the same table (`baseline.json`). */
  def hostFacts(spark: SparkSession, work: Path): Map[String, Any] = {
    import org.apache.spark.sql.functions._
    val li = work.resolve("cal/lineitem.parquet").toString
    spark.range(0, 300000, 1, 4).select(
        (col("id") % 3).cast("string").as("l_returnflag"),
        (col("id") % 2).cast("string").as("l_linestatus"),
        (col("id") % 50).cast("double").as("l_quantity"),
        (col("id") % 9973).cast("double").as("l_extendedprice"))
      .write.mode("overwrite").parquet(li)
    require(spark.read.parquet(li).count() == 300000, "calibration table incomplete")
    val probe = graft.Bench.calibrationProbe(spark, work.resolve("cal").toString)
    Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_1m" -> java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage,
      "calibration_probe_s" -> probe)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val body = Workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; known: ${Workloads.keys.mkString(", ")}"))
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a.work, a.trace)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ok = try {
      val r = body(a)(spark)
      // the session start belongs to every workload's set-up time
      Seq("setup_s", "trace.setup_s").foreach { k =>
        r.metrics.get(k).foreach { case (v, u) => r.metrics(k) = (v + sessionS, u) }
      }
      r.info("workload") = a.workload
      r.info("seed") = a.seed
      r.info("seconds") = a.seconds
      r.info("trace") = a.trace
      r.info("host") = hostFacts(spark, a.work)
      println(jsonValue(Map("info" -> r.info)))
      println(jsonValue(scala.collection.immutable.ListMap(
        "correct" -> (r.failed == 0),
        "attempted" -> r.attempted,
        "failed" -> r.failed,
        "metrics" -> r.metrics.map { case (k, (v, u)) =>
          k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) })))
      r.failed == 0
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        false
    } finally spark.stop()
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}
