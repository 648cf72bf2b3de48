package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload hands back: the contract's end-to-end metrics, the
  * workload's own named figures, and what the traced run needs to
  * derive per-layer metrics. */
final case class Outcome(
    e2e: Seq[(String, Double, String)],
    report: Seq[(String, Double, String)],
    /** Span names that are this workload's ops (per-layer medians). */
    ops: Seq[String],
    /** Layer figures measured by extra calls after the timed loop. */
    extra: Map[String, Double] = Map.empty)

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --root DIR --cores C --out FILE`. run.py builds the
  * classpath, pins the JVM and the directories, and prints the result;
  * this process writes the result to `--out` and exits 0 even when a
  * check failed (the result says so). */
object Main {
  val Workloads: Map[String, (Harness, Long, Double) => Outcome] = Map(
    "lakehouse_incremental" -> LakehouseIncremental.run,
    "lake_serving" -> LakeServing.run)

  /** Every per-layer metric, in report order: (name, unit). */
  val PerLayer: Seq[(String, String)] = Seq(
    "quality.jobs" -> "count", "quality.exec_s" -> "s",
    "lake.jobs" -> "count", "lake.exec_s" -> "s", "lake.driver_s" -> "s",
    "lake.bytes_written" -> "bytes", "lake.files_written" -> "count",
    "lake.rows_written_per_row_changed" -> "ratio",
    "io.input_bytes" -> "bytes", "io.exec_s" -> "s",
    "operators.exec_s" -> "s", "operators.core_util" -> "ratio",
    "operators.shuffle_bytes" -> "bytes", "operators.spill_bytes" -> "bytes") ++
    Seq("point", "range", "vector", "sql").flatMap(op =>
      Seq(s"$op.jobs" -> "count", s"$op.driver_s" -> "s", s"$op.exec_s" -> "s")) ++
    Seq("point", "range").flatMap(op =>
      Seq(s"$op.files_opened_ratio" -> "ratio",
        s"$op.rows_examined_per_row_returned" -> "ratio")) ++
    Seq("vector.recall_hits" -> "count",
      "jvm.gc_s" -> "s", "driver_s" -> "s", "core_util" -> "ratio",
      "trace.overhead_s" -> "s", "jobs.total" -> "count",
      "jobs.unattributed" -> "count")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val root = new File(a("root"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(new Trace) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val h = new Harness(spark, cores, trace, root)
    val out = run(h, seed, seconds)
    spark.stop() // drains the listener bus before the trace is read
    val layers = trace.map(t => perLayer(h, t, out)).getOrElse(Map.empty)
    val pw = new PrintWriter(new File(a("out")))
    try pw.println(resultJson(h, out, layers, traced)) finally pw.close()
  }

  private[perfbench] def perLayer(h: Harness, t: Trace, out: Outcome): Map[String, Double] = {
    val spans = h.spans
    val byId = spans.map(s => s.id -> s).toMap
    Trace.attribute(t, byId)
    val kids = spans.groupBy(_.parent)
    def under(s: Span): Set[Long] = kids.getOrElse(s.id, Nil).flatMap(under).toSet + s.id
    val jobsBySpan = t.jobs.values.toSeq.groupBy(_.span)
    def figures(s: Span): Map[String, Double] = {
      val f = Trace.layers(s, under(s).toSeq.flatMap(jobsBySpan.getOrElse(_, Nil)), h.cores) ++ s.notes
      val changed = f.getOrElse("rows_changed", 0.0)
      f ++ Map(
        "lake.rows_written_per_row_changed" ->
          (if (changed > 0) f.getOrElse("lake.output_records", 0.0) / changed else 0.0),
        "rows_examined_per_row_returned" ->
          f.getOrElse("input_records", 0.0) / math.max(1.0, f.getOrElse("rows_returned", 0.0)))
    }
    val traced = spans.filter(s => s.traced && out.ops.contains(s.name)).map(s => s -> figures(s))
    def med(key: String, names: Seq[String] = out.ops): Double = {
      val xs = traced.collect { case (s, f) if names.contains(s.name) => f.getOrElse(key, 0.0) }
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    // a layer's figures are medians over the ops that ran a job in that
    // layer: a cycle runs jobs in every layer, a serving op in one or two
    def medLayer(key: String): Double = {
      val layer = key.takeWhile(_ != '.')
      val xs = traced.collect { case (_, f) if f.getOrElse(s"$layer.jobs", 0.0) > 0 => f.getOrElse(key, 0.0) }
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (k <- Seq("quality.jobs", "quality.exec_s", "lake.jobs", "lake.exec_s",
        "lake.driver_s", "lake.bytes_written", "lake.files_written",
        "lake.rows_written_per_row_changed", "io.input_bytes", "io.exec_s",
        "operators.exec_s", "operators.core_util", "operators.shuffle_bytes",
        "operators.spill_bytes"))
      m(k) = medLayer(k)
    for (k <- Seq("jvm.gc_s", "driver_s", "core_util")) m(k) = med(k)
    for (op <- Seq("point", "range", "vector", "sql")) {
      m(s"$op.jobs") = med("jobs", Seq(op))
      m(s"$op.driver_s") = med("driver_s", Seq(op))
      m(s"$op.exec_s") = med("exec_s", Seq(op))
    }
    for (op <- Seq("point", "range")) {
      m(s"$op.files_opened_ratio") = med("files_opened_ratio", Seq(op))
      m(s"$op.rows_examined_per_row_returned") = med("rows_examined_per_row_returned", Seq(op))
    }
    m("vector.recall_hits") = out.extra.getOrElse("vector.recall_hits", 0.0)
    // tracing overhead: traced minus untraced median wall, per op kind,
    // averaged over the kinds that ran both ways; the first op of a kind
    // runs colder code, so it is left out
    val diffs = out.ops.flatMap { name =>
      val (on, off) = spans.filter(_.name == name).drop(1).partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some(Stats.median(on.map(_.wallS)) - Stats.median(off.map(_.wallS)))
    }
    m("trace.overhead_s") = if (diffs.isEmpty) 0.0 else diffs.sum / diffs.size
    // job accounting: the per-module counts of the recorded jobs must add
    // up to the number of jobs the SparkContext ran, which job ids give
    // independently (they count up from 0); a job whose start event the
    // listener never saw fails the run
    val recorded = t.jobs.values.toSeq ++ t.untraced
    val total = t.maxJobId + 1L
    val unattributed = recorded.filter(j => !j.byStack && j.module != "bench")
    m("jobs.total") = total.toDouble
    m("jobs.unattributed") = unattributed.size.toDouble
    val byModule = recorded.groupBy(_.module).map { case (k, v) => k -> v.size.toLong }
    h.notes += "jobs by module: " + byModule.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(" ") +
      s" (sum ${byModule.values.sum}, total $total, ${t.untraced.size} in untraced ops)"
    h.op("job accounting: per-module job counts sum to the run's jobs") {
      h.check(if (byModule.values.sum == total) Nil
        else Seq(s"JOB ACCOUNTING MISMATCH: modules sum to ${byModule.values.sum}, " +
          s"the run ran $total jobs"))
    }
    if (unattributed.nonEmpty)
      h.notes += "jobs without a graft frame (attributed to the calling span's module): " +
        unattributed.groupBy(j => s"${j.module}:${j.callSite}").toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k x${v.size}" }.mkString(", ")
    // spans and jobs are written out at the end
    def tsv(name: String, header: String, rows: Seq[Seq[Any]]): Unit = {
      val pw = new PrintWriter(new File(h.root, name))
      try { pw.println(header); rows.foreach(r => pw.println(r.mkString("\t"))) }
      finally pw.close()
    }
    tsv("spans.tsv", "span\tparent\tname\tmodule\twall_s\tgc_s\ttraced",
      spans.map(s => Seq(s.id, s.parent, s.name, s.module, s.wallS, s.gcS, s.traced)))
    tsv("jobs.tsv", "job\tspan\ttraced\tmodule\tby_stack\treads_raw\tstart_ms\tend_ms\ttasks\t" +
      "task_run_ms\ttask_gc_ms\tshuffle_write_bytes\tspill_bytes\tinput_bytes\tinput_records\t" +
      "output_bytes\toutput_records\tcall_site",
      recorded.sortBy(_.id).map(j => Seq(j.id, j.span, j.traced, j.module, j.byStack, j.readsRaw, j.startMs, j.endMs,
        j.tasks, j.runMs, j.gcMs, j.shuffleWrite, j.spill, j.inputBytes, j.inputRecords,
        j.outputBytes, j.outputRecords, j.callSite)))
    m.toMap
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** The result record run.py reads: the contract's four keys plus the
    * workload's named figures and notes. */
  def resultJson(h: Harness, out: Outcome, layers: Map[String, Double],
      traced: Boolean): String = {
    val metrics =
      if (traced) PerLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      else out.e2e
    val correct = h.failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    def obj(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      s"${str(n)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}" }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": ${h.attempted}, "failed": ${h.failed}, """ +
      s""""metrics": ${obj(metrics)}, "report": ${obj(out.report)}, """ +
      s""""notes": ${h.notes.map(str).mkString("[", ", ", "]")}}"""
  }
}
