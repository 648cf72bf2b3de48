package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed call (or group of calls) the benchmark made. `module` is
  * the graft package the call enters (`lake`, `pipeline`, ...), or
  * `bench` for the benchmark's own checks. */
final case class Span(id: Long, parent: Long, name: String, module: String,
    startMs: Long, endMs: Long, wallS: Double, gcS: Double, traced: Boolean,
    notes: Map[String, Double])

/** What the traced run learns about one Spark job. */
final class JobRec(val id: Int, val span: Long, val traced: Boolean, val execId: Long,
    val startMs: Long, val stageDetails: String, val callSite: String) {
  var endMs: Long = startMs
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  /** Filled in by [[Trace.attribute]]. */
  var module = ""
  var byStack = false
  var readsRaw = false
}

/** The traced run's listener. Jobs carry the id of the innermost open
  * span in the `perfbench.span` local property (Spark copies it onto
  * every job the thread starts, AQE sub-jobs included), prefixed with
  * "u" when the span runs untraced. Jobs of untraced spans are kept
  * only for attribution; their tasks are not followed. Everything is
  * kept in memory and read after the SparkContext stopped, when the
  * event bus has been drained. */
final class Trace extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val untraced = mutable.ArrayBuffer.empty[JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  /** execution id -> (caller stack, physical plan). */
  val executions = mutable.HashMap.empty[Long, (String, String)]
  /** Highest job id started: job ids count up from 0 in a SparkContext. */
  var maxJobId = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    maxJobId = math.max(maxJobId, e.jobId)
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(Trace.SpanKey))).getOrElse("-1")
    val traced = !tag.startsWith("u")
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val result = e.stageInfos.sortBy(-_.stageId).headOption
    val j = new JobRec(e.jobId, tag.stripPrefix("u").toLong, traced, execId, e.time,
      result.map(_.details).getOrElse(""), result.map(_.name).getOrElse(""))
    if (!traced) { untraced += j; return }
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) = (s.details, s.physicalPlanDescription)
    }
    case _ =>
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Innermost `graft.<package>.` frame of a call stack: the package and
    * the function. The benchmark's own package is not under `graft`,
    * so its frames never match. */
  private val Frame = """graft\.([a-z]+)\.([A-Za-z0-9_]+)\$?\.([A-Za-z0-9_$]+)\(""".r

  def innermostGraftFrame(stack: String): Option[(String, String)] =
    Frame.findFirstMatchIn(stack).map(m =>
      m.group(1) -> s"${m.group(2)}.${m.group(3).replaceAll("""^\$anonfun\$|\$\d+$""", "")}")

  private val RawScan = """Scan (csv|json)\b""".r

  /** Name every job's module: the innermost graft frame of its SQL
    * execution's caller stack, or of its result stage's call site for a
    * job run outside SQL; failing both, the module of the span that ran
    * it (`byStack = false`; reported as unattributed by name). */
  def attribute(t: Trace, spans: Map[Long, Span]): Unit = (t.jobs.values ++ t.untraced).foreach { j =>
    val exec = t.executions.get(j.execId)
    val stack = exec.map(_._1).getOrElse(j.stageDetails)
    j.readsRaw = exec.exists(e => RawScan.findFirstIn(e._2).isDefined)
    innermostGraftFrame(stack) match {
      case Some((pkg, _)) => j.module = pkg; j.byStack = true
      case None => j.module = spans.get(j.span).map(_.module).getOrElse("bench")
    }
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Length of the union of [start, end] intervals, in seconds. */
  def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /** Per-layer figures of one op (a span and its descendants), keyed by
    * metric name. `cores` is the local-mode slot count. */
  def layers(op: Span, jobs: Seq[JobRec], cores: Int): Map[String, Double] = {
    val wall = math.max(op.wallS, 1e-6)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val busy = covered(jobs.map(j => (j.startMs, j.endMs)))
    out("exec_s") = busy
    out("driver_s") = math.max(0.0, wall - busy)
    out("core_util") = jobs.map(_.runMs).sum / 1000.0 / (wall * cores)
    out("jvm.gc_s") = op.gcS
    out("jobs") = jobs.size.toDouble
    // driver time goes to the module whose job it preceded; time after
    // the last job goes to the module the op entered
    val driver = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var cursor = op.startMs
    jobs.sortBy(_.startMs).foreach { j =>
      if (j.startMs > cursor) driver(j.module) += (j.startMs - cursor) / 1000.0
      cursor = math.max(cursor, j.endMs)
    }
    if (op.endMs > cursor) driver(op.module) += (op.endMs - cursor) / 1000.0
    for ((m, js) <- jobs.groupBy(_.module)) {
      out(s"$m.jobs") = js.size.toDouble
      val exec = covered(js.map(j => (j.startMs, j.endMs)))
      out(s"$m.exec_s") = exec
      out(s"$m.core_util") =
        if (exec > 0) js.map(_.runMs).sum / 1000.0 / (exec * cores) else 0.0
      out(s"$m.shuffle_bytes") = js.map(_.shuffleWrite).sum.toDouble
      out(s"$m.spill_bytes") = js.map(_.spill).sum.toDouble
      out(s"$m.output_records") = js.map(_.outputRecords).sum.toDouble
    }
    driver.foreach { case (m, s) => out(s"$m.driver_s") = s }
    // io: the jobs whose plan scans raw CSV/JSON, whichever module ran them
    val raw = jobs.filter(_.readsRaw)
    out("io.jobs") = raw.size.toDouble
    out("io.exec_s") = covered(raw.map(j => (j.startMs, j.endMs)))
    out("io.input_bytes") = raw.map(_.inputBytes).sum.toDouble
    out("input_records") = jobs.map(_.inputRecords).sum.toDouble
    out.toMap
  }
}
