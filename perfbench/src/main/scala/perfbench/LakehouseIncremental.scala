package perfbench

import java.io.File

import scala.collection.mutable

import graft.lake.TableLog
import graft.pipeline.Lakehouse

/** Workload `lakehouse_incremental`: the reference's operating shape —
  * raw CSV/JSON drops over an overlapping day window, each validated,
  * staged, aggregated and MERGEd into the fact table by
  * `Lakehouse.run`. Set-up is the bootstrap load of the history; the
  * timed loop applies one drop per op while the fact table grows. */
object LakehouseIncremental {
  /** Set-up repetitions; the first ones run colder code, and the median
    * of five is the third fastest. */
  val SetupReps = 5
  /** Cycles that always run, so byte figures cover the same drops on
    * every run whatever the speed. The first merge runs colder code than
    * the rest; the median over these cycles absorbs it. */
  val FixedCycles = 4

  def run(h: Harness, seed: Long, seconds: Double): Outcome = {
    val spark = h.spark
    val inputs = new File(h.root, "inputs")
    def runId(i: Int) = s"perfbench-$seed-$i"
    val boot = Gen.Lake.drop(seed, 0, new File(inputs, "drop000"))

    // set-up: the bootstrap load, into a fresh lake root per repetition;
    // the last root carries on into the timed loop
    def lakeRoot(r: Int) = new File(h.root, s"lake$r")
    val setups = h.setUp(SetupReps, "pipeline") { r =>
      Lakehouse.run(spark, boot.dir.getPath, lakeDir = Some(lakeRoot(r).getPath), runId = Some(runId(0)))
    }
    val lake = lakeRoot(SetupReps)
    val fact = new File(lake, Lakehouse.FactTable).getPath
    val expected = mutable.HashMap.empty[(String, String), Gen.Lake.Fact] ++= boot.fact

    val cycles = mutable.ArrayBuffer.empty[Double]
    var inRows = 0L
    var fixedIn = 0L
    var fixedOut = 0L
    val t0 = System.nanoTime()
    var i = 1
    while (i <= FixedCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      val drop = Gen.Lake.drop(seed, i, new File(inputs, f"drop$i%03d"))
      val before = h.tree(lake)
      h.traceOp(i - 1)
      h.op(s"cycle $i") {
        val (_, wall) = h.span("cycle", "pipeline") {
          Lakehouse.run(spark, drop.dir.getPath, lakeDir = Some(lake.getPath), runId = Some(runId(i)))
        }
        cycles += wall
        inRows += drop.inputRows
        expected ++= drop.fact
        true
      }
      val added = h.tree(lake).filter { case (p, _) => !before.contains(p) }
      val written = added.values.sum
      h.note("cycle", "lake.bytes_written" -> written.toDouble,
        "lake.files_written" -> added.size.toDouble, "rows_changed" -> drop.fact.size.toDouble)
      if (i <= FixedCycles) { fixedIn += drop.bytes; fixedOut += written }
      i += 1
    }
    h.traceOn = h.trace.isDefined

    h.op("final fact snapshot equals the last-drop-wins aggregate") {
      val (rows, _) = h.span("check", "bench") { TableLog.read(spark, fact).collect() }
      val got = rows.toSeq.map { r =>
        (r.getAs[String]("store_id"), r.getAs[java.sql.Date]("dt").toString) ->
          Gen.Lake.Fact(r.getAs[java.math.BigDecimal]("revenue").movePointRight(2).longValueExact(),
            r.getAs[Long]("order_count"), r.getAs[Long]("converted_leads"), r.getAs[Long]("sessions"))
      }
      h.check(factProblems(got, expected.toMap))
    }

    val p50 = Stats.median(cycles.toSeq)
    val failedRatio = h.failed.toDouble / h.attempted
    Outcome(
      e2e = Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("op_s.p50", p50, "s"),
        ("items_per_s", inRows / cycles.sum, "1/s"),
        ("lake_bytes_per_input_byte", fixedOut.toDouble / fixedIn, "ratio")),
      report = Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("cycle_s.p50", p50, "s")) ++
        (if (Stats.tailOk(cycles.size, 75)) Seq(("cycle_s.p75", Stats.pct(cycles.toSeq, 75), "s"))
         else Nil) ++ Seq(
        ("lake_bytes_per_input_byte", fixedOut.toDouble / fixedIn, "ratio"),
        ("failed_ratio", failedRatio, "ratio"),
        ("cycles", cycles.size.toDouble, "count"),
        ("fact_rows", expected.size.toDouble, "count"),
        ("input_rows_per_s", inRows / cycles.sum, "1/s")),
      ops = Seq("cycle"))
  }

  /** Differences between the fact snapshot's rows and the expected
    * per-key values; empty when they agree. */
  def factProblems(got: Seq[((String, String), Gen.Lake.Fact)],
      expected: Map[(String, String), Gen.Lake.Fact]): Seq[String] = {
    val byKey = got.toMap
    val dupKeys = got.size - byKey.size
    val wrong = (byKey.keySet ++ expected.keySet).toSeq.sorted
      .filter(k => byKey.get(k) != expected.get(k))
    (if (dupKeys > 0) Seq(s"fact snapshot has $dupKeys duplicate keys") else Nil) ++
      (if (wrong.nonEmpty) Seq(s"fact snapshot: ${wrong.size} of ${expected.size} keys differ, " +
        s"e.g. ${wrong.head}: got ${byKey.get(wrong.head)}, want ${expected.get(wrong.head)}") else Nil)
  }
}
