package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.quality.Expectations
import graft.quality.Expectations._

class ExpectationsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val df = Seq(
    (Some(1L), "a@x.com", 5.0),
    (None, "b@y.org", -2.0),
    (Some(3L), "not-an-email", 7.0))
    .toDF("id", "email", "amount")

  test("single-pass evaluation counts violations per check") {
    val suite = Suite("t",
      Some(ColumnsOrdered(Seq("id", "email", "amount"))),
      Seq(NotNull("id"), MinBound("amount", 0.0),
        RegexMatch("email", ".+@.+\\..+")))
    val got = Expectations.evaluate(df, suite)
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "columns_ordered" -> 0L,
      "id_not_null" -> 1L,
      "amount_min" -> 1L,
      "email_regex" -> 1L))
  }

  test("ordered-column mismatch is a schema violation") {
    val suite = Suite("t", Some(ColumnsOrdered(Seq("email", "id", "amount"))), Nil)
    val got = Expectations.evaluate(df, suite).as[(String, Long)].collect().toMap
    assert(got("columns_ordered") == 1L)
  }

  test("validateOrThrow raises on violation, passes on clean data") {
    val clean = Seq((1L, "a@x.com", 5.0)).toDF("id", "email", "amount")
    Expectations.validateOrThrow(clean,
      Suite("t", None, Seq(MinBound("amount", 0.0))))
    intercept[IllegalStateException] {
      Expectations.validateOrThrow(df,
        Suite("t", None, Seq(NotNull("id"))))
    }
  }

  test("unique / accepted_values fold into the single-pass agg with dbt semantics") {
    val frame = Seq(
      (Some(1L), Some("a")), (Some(1L), Some("b")),     // dup id
      (None, Some("a")), (None, Some("zz")),            // NULLs don't count for unique
      (Some(3L), None))                                 // NULL passes accepted_values
      .toDF("id", "kind")
    val suite = Suite("t", None, Seq(
      Unique("id"),
      AcceptedValues("kind", Seq("a", "b"))))
    val got = Expectations.evaluate(frame, suite)
      .as[(String, Long)].collect().toMap
    assert(got("id_unique") == 1L)       // 3 non-null, 2 distinct
    assert(got("kind_accepted") == 1L)   // only "zz"; NULL passes
    // a violating unique check aborts validateOrThrow like any other
    intercept[IllegalStateException] {
      Expectations.validateOrThrow(frame, Suite("t", None, Seq(Unique("id"))))
    }
  }

  test("relationships: orphan count via left-anti, NULL children pass") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), None).toDF("fk")
    val n = Expectations.relationshipOrphans(child, "fk", parent, "pk")
      .collect()(0).getLong(0)
    assert(n == 1L)                      // only the 9; NULL fk passes
    val clean = Seq(Some(2L), Some(3L)).toDF("fk")
    assert(Expectations.relationshipOrphans(clean, "fk", parent, "pk")
      .collect()(0).getLong(0) == 0L)
  }

  test("freshness status: pass / warn / error against pinned now") {
    import org.apache.spark.sql.functions._
    val loaded = Seq("2024-01-10 00:00:00").toDF("dt")
      .select(to_timestamp(col("dt")).as("dt"))
    val policy = FreshnessPolicy("dt", Some(12.0), Some(24.0))
    def statusAt(now: String): (Double, String) = {
      val r = Expectations.freshnessStatus(loaded, policy,
        asOf = Some(to_timestamp(lit(now)))).collect()(0)
      (r.getDouble(0), r.getString(1))
    }
    assert(statusAt("2024-01-10 06:00:00") == (6.0, "pass"))
    assert(statusAt("2024-01-10 18:00:00") == (18.0, "warn"))
    assert(statusAt("2024-01-11 12:00:00") == (36.0, "error"))
    // boundary is exclusive, like dbt's "after"
    assert(statusAt("2024-01-10 12:00:00")._2 == "pass")
  }

  test("freshnessReport: per-domain statuses, non-gating (dbt source freshness shape)") {
    import org.apache.spark.sql.functions._
    def loadedAt(s: String) = Seq(s).toDF("raw")
      .select(to_timestamp(col("raw")).as("dt"))
    val frames = Map(
      "erp_orders" -> loadedAt("2024-01-10 00:00:00"),
      "web_events" -> loadedAt("2024-01-09 00:00:00"))
    val policy = FreshnessPolicy("dt", Some(12.0), Some(24.0))
    val got = Expectations.freshnessReport(
      frames,
      Map("erp_orders" -> policy, "web_events" -> policy,
        "never_loaded" -> policy),
      asOf = Some(to_timestamp(lit("2024-01-10 18:00:00"))))
    // one warn, one error, one missing-frame error — nothing threw
    // (non-gating by design)
    assert(got.map(r => (r._1, r._3)) == Seq(
      ("erp_orders", "warn"),
      ("never_loaded", "error"),
      ("web_events", "error")))
    assert(got(0)._2 == 18.0 && got(2)._2 == 42.0 && got(1)._2.isNaN)
    // empty frame (source wiped) is an error, never "pass"
    val empty = loadedAt("2024-01-10 00:00:00").filter(col("dt").isNull)
    val er = Expectations.freshnessReport(Map("gone" -> empty),
      Map("gone" -> policy),
      asOf = Some(to_timestamp(lit("2024-01-10 18:00:00"))))
    assert(er.map(r => (r._1, r._3)) == Seq(("gone", "error")))
  }

  test("validateOrThrow: freshness warn surfaces but does not abort; error aborts") {
    import org.apache.spark.sql.functions._
    // stale by ~forever relative to wall clock → error when bounded
    val stale = Seq("2000-01-01 00:00:00").toDF("dt")
      .select(to_timestamp(col("dt")).as("dt"))
    val warnOnly = Suite("s", None, Nil,
      Some(FreshnessPolicy("dt", Some(12.0), None)))
    assert(Expectations.validateOrThrow(stale, warnOnly) == Some("warn"))
    intercept[IllegalStateException] {
      Expectations.validateOrThrow(stale,
        Suite("s", None, Nil, Some(FreshnessPolicy("dt", Some(12.0), Some(24.0)))))
    }
    // fresh data passes a bounded policy (uses wall clock: future-dated)
    val fresh = Seq("2999-01-01 00:00:00").toDF("dt")
      .select(to_timestamp(col("dt")).as("dt"))
    assert(Expectations.validateOrThrow(fresh,
      Suite("s", None, Nil,
        Some(FreshnessPolicy("dt", Some(12.0), Some(24.0))))) == Some("pass"))
  }

  test("validateOrThrow runs the whole gate — checks AND freshness — as ONE action") {
    import org.apache.spark.sql.functions._
    val frame = Seq((1L, "a@x.com", 5.0, "2999-01-01 00:00:00"))
      .toDF("id", "email", "amount", "dt")
      .select(col("id"), col("email"), col("amount"),
        to_timestamp(col("dt")).as("dt"))
    val suite = Suite("one-pass",
      Some(ColumnsOrdered(Seq("id", "email", "amount", "dt"))),
      Seq(NotNull("id"), MinBound("amount", 0.0),
        RegexMatch("email", ".+@.+\\..+")),
      Some(FreshnessPolicy("dt", Some(12.0), Some(24.0))))
    // one collect = one query execution = one scan of the frame (the
    // pre-fold shape ran TWO: the suite agg and the freshness agg)
    val executions = countExecutions {
      assert(Expectations.validateOrThrow(frame, suite) == Some("pass"))
    }
    assert(executions == 1,
      s"expected the suite + freshness gate to be one action, got $executions")
  }

  test("validateAllOrThrow gates several frames in ONE action") {
    val orders = Seq((1L, 5.0), (2L, 7.0)).toDF("id", "amount")
    val emails = Seq("a@x.com", "b@y.org").toDF("email")
    val ids = Seq(Some(1L), Some(2L)).toDF("id")
    val frames = Seq(
      orders -> Suite("orders", Some(ColumnsOrdered(Seq("id", "amount"))),
        Seq(NotNull("id"), MinBound("amount", 0.0))),
      emails -> Suite("emails", None, Seq(RegexMatch("email", ".+@.+\\..+"))),
      ids -> Suite("ids", None, Seq(NotNull("id"), Unique("id"))))
    val executions = countExecutions {
      assert(Expectations.validateAllOrThrow(frames) == Seq(None, None, None))
    }
    assert(executions == 1,
      s"expected three suites to be checked in one action, got $executions")
  }

  test("validateAllOrThrow names every failing suite, in the order given") {
    val bad = Seq((None: Option[Long], -1.0)).toDF("id", "amount")
    val good = Seq((Some(1L), 1.0)).toDF("id", "amount")
    val e = intercept[IllegalStateException] {
      Expectations.validateAllOrThrow(Seq(
        bad -> Suite("second_bad", None, Seq(MinBound("amount", 0.0))),
        good -> Suite("good", None, Seq(NotNull("id"))),
        bad -> Suite("first_bad", None, Seq(NotNull("id")))))
    }
    assert(e.getMessage ==
      "Expectation suite 'second_bad' failed: amount_min=1; " +
        "Expectation suite 'first_bad' failed: id_not_null=1")
  }

  /** SQL executions `body` runs, from a QueryExecutionListener. */
  private def countExecutions(body: => Unit): Int = {
    val executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = executions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events are posted async; wait for the count to settle
      var last = -1
      var spins = 0
      while (executions.get() != last && spins < 40) {
        last = executions.get(); Thread.sleep(50); spins += 1
      }
    } finally spark.listenerManager.unregister(listener)
    executions.get()
  }
}
