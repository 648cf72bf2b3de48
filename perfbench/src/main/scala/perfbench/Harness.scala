package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Times every call the benchmark makes into graft, from outside, and
  * counts ops and failures. In a traced run (`trace` set) each span also
  * tags its Spark jobs and reads the JVM's GC counters; `traceOn` flips
  * per op so the same run can time traced and untraced ops. */
final class Harness(val spark: SparkSession, val cores: Int,
    val trace: Option[Trace], val root: File) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Long] = Nil
  private var nextId = 1L
  var traceOn: Boolean = trace.isDefined
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]

  def spans: Seq[Span] = done.toSeq

  private def setSpanProperty(): Unit = if (trace.isDefined)
    spark.sparkContext.setLocalProperty(Trace.SpanKey,
      open.headOption.map(id => if (traceOn) id.toString else s"u$id").orNull)

  /** Run `body` as one span; returns its result and wall seconds. */
  def span[T](name: String, module: String)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    setSpanProperty()
    val tracing = trace.isDefined && traceOn
    val gc0 = if (tracing) Trace.gcSeconds() else 0.0
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      done += Span(id, parent, name, module, startMs, System.currentTimeMillis(), wall,
        if (tracing) Trace.gcSeconds() - gc0 else 0.0, tracing, Map.empty)
      (out, wall)
    } finally {
      open = open.tail
      setSpanProperty()
    }
  }

  /** In a traced run, trace op `i` in the order T U U T T U U T ...,
    * so traced and untraced ops balance over warm-up drift and the
    * difference of their medians is the tracing overhead. */
  def traceOp(i: Int): Unit = traceOn = trace.isDefined && (i % 4 == 0 || i % 4 == 3)

  /** Attach figures measured outside the span (pruning reports, rows
    * returned) to the last finished span called `name`. */
  def note(name: String, values: (String, Double)*): Unit = {
    val i = done.lastIndexWhere(_.name == name)
    if (i >= 0) done(i) = done(i).copy(notes = done(i).notes ++ values)
  }

  /** Count one op; a thrown exception or a failed check counts it as
    * failed, is logged, and the workload goes on. */
  def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $what threw: $e")
        e.printStackTrace()
        false
      }
    if (!ok) { failed += 1; notes += s"FAILED: $what" }
    ok
  }

  /** Set-up, `reps` times over: each repetition is one counted op and
    * one span named "setup". Returns the walls of the repetitions that
    * succeeded; their median is `setup_s`. */
  def setUp(reps: Int, module: String)(body: Int => Unit): Seq[Double] =
    (1 to reps).flatMap { r =>
      var wall = Option.empty[Double]
      op(s"set-up $r") { wall = Some(span("setup", module)(body(r))._2); true }
      wall
    }

  /** An output check: passes when `problems` is empty, else notes them. */
  def check(problems: Seq[String]): Boolean = {
    notes ++= problems
    problems.isEmpty
  }

  /** Sizes of all files under `dir`, by path. */
  def tree(dir: File): Map[String, Long] = {
    val out = mutable.HashMap.empty[String, Long]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else out(f.getPath) = f.length()
    walk(dir)
    out.toMap
  }
}

/** Order statistics as the benchmark reports them. */
object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** A tail percentile is reported only with at least ten samples
    * beyond it. */
  def tailOk(n: Int, p: Double): Boolean = n * (100.0 - p) / 100.0 >= 10.0
}
