package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The traced run's span layer, measured from outside the library.
  *
  * A span is a named interval with a parent, opened around a public call
  * via the `graft.span` local property. Spark hands local properties to
  * the stream thread and to pools created under the span, so every job
  * that call causes carries the span id, and the engine tags each
  * micro-batch's jobs with its batch id. One [[SparkListener]] folds each
  * job's stages and tasks into a [[JobRec]]. Everything stays in memory
  * and is written once, at the end of the run. */
object Trace {
  val SpanKey = "graft.span"
  val BatchKey = "streaming.sql.batchId"

  final class Span(val id: Int, val name: String, val parent: Int,
                   val startNs: Long) {
    @volatile var endNs: Long = -1L
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Spark-wide counters of one job, folded from its tasks. */
  final class JobRec(val jobId: Int, val span: Int, val module: String,
                     val batchId: Long, val execId: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inBytes = 0L
    var inRows = 0L
    var outBytes = 0L
    var outRows = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  private val ShortRe = """ at ([A-Za-z0-9_$]+)\.(?:scala|java):\d+""".r
  private val FrameRe = """\(([A-Za-z0-9_$]+)\.(?:scala|java):\d+\)""".r
  private val Internal = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")

  /** The module a job's call site names: the file stem of the first frame
    * outside Spark, Scala and the JDK. Takes a long call site (one frame
    * per line) or a short one (`parquet at KeyedUpsertSink.scala:119` →
    * `KeyedUpsertSink`). */
  def moduleOf(callSite: String): String =
    Option(callSite).flatMap { s =>
      s.linesIterator.map(_.trim)
        .find(l => l.nonEmpty && !Internal.exists(l.startsWith))
        .flatMap(l => FrameRe.findFirstMatchIn(l).orElse(ShortRe.findFirstMatchIn(l)))
        .map(_.group(1))
    }.getOrElse("unknown")
}

/** Collects the spans and jobs of one traced run. */
final class Trace(sc: SparkContext) {
  import Trace._
  private val nextId = new AtomicInteger(0)
  val spans = new ConcurrentHashMap[Int, Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val execModule = new ConcurrentHashMap[Long, String]()
  private val execPlan = new ConcurrentHashMap[Long, String]()

  private def current: Int =
    Option(sc.getLocalProperty(SpanKey)).map(_.toInt).getOrElse(-1)

  /** Runs `body` inside a new span, child of the calling thread's span. */
  def span[T](name: String)(body: => T): T = {
    val parent = current
    val s = new Span(nextId.incrementAndGet(), name, parent, System.nanoTime())
    spans.put(s.id, s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(SpanKey, if (parent < 0) null else parent.toString)
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // a SQL job takes the call site of its query execution; jobs that
      // adaptive execution submits from its own threads share it
      val execId = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      val module = Option(execModule.get(execId))
        .getOrElse(moduleOf(prop("callSite.long").orElse(
          e.stageInfos.sortBy(-_.stageId).headOption.map(_.details)).orNull))
      val rec = new JobRec(e.jobId, prop(SpanKey).map(_.toInt).getOrElse(-1),
        module, prop(BatchKey).map(_.toLong).getOrElse(-1L), execId, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execModule.put(x.executionId, moduleOf(x.details))
        execPlan.put(x.executionId, x.physicalPlanDescription)
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
        j.synchronized(j.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).filter(_ => m != null).foreach { j =>
        j.synchronized {
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inBytes += m.inputMetrics.bytesRead
          j.inRows += m.inputMetrics.recordsRead
          j.outBytes += m.outputMetrics.bytesWritten
          j.outRows += m.outputMetrics.recordsWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** The physical plan of the SQL execution that ran `j`, if any. Its
    * scan and write nodes name the directories the job touches. */
  def planOf(j: JobRec): Option[String] = Option(execPlan.get(j.execId))

  /** Waits until the listener has seen every started job end (task
    * events precede their job's end on the bus), at most `maxMs`. */
  def settle(maxMs: Long = 10000L): Unit = {
    val until = System.currentTimeMillis() + maxMs
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < until)
      Thread.sleep(20)
  }

  /** The union of job intervals (ms) over the given jobs — the time at
    * least one job was running; the rest of a span's wall is driver time. */
  def busyMs(js: Seq[JobRec]): Double = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total.toDouble
  }

  /** Every span and job as one JSON document. */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"spans\": [")
    sb ++= spans.values.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }.mkString(",\n")
    sb ++= "],\n\"jobs\": ["
    sb ++= jobs.values.asScala.toSeq.sortBy(_.jobId).map { j =>
      s"""{"job": ${j.jobId}, "span": ${j.span}, "module": "${j.module}", """ +
        s""""batch": ${j.batchId}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, """ +
        s""""stages": ${j.stages}, "tasks": ${j.tasks}, "run_ms": ${j.runMs}, """ +
        s""""cpu_ms": ${j.cpuNs / 1000000}, "in_bytes": ${j.inBytes}, "in_rows": ${j.inRows}, """ +
        s""""out_bytes": ${j.outBytes}, "out_rows": ${j.outRows}, "shuffle_read": ${j.shuffleRead}, """ +
        s""""shuffle_write": ${j.shuffleWrite}, "spill": ${j.spill}}"""
    }.mkString(",\n")
    sb ++= "]}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
