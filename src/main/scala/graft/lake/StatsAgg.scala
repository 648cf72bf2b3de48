package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.apache.spark.sql.types._

/** Metadata-resolved aggregates over a [[TableLog]] snapshot — answer
  * `count(*)` / `count(col)` / `min(col)` / `max(col)` / range counts
  * from the manifest's file statistics, opening only the data files the
  * stats cannot vouch for. This is the aggregate analogue of
  * [[TableLog.readWhere]]'s data skipping over the same scan set
  * ([[TableLog.scanPaths]]), and the same design as
  * Iceberg/Delta metadata queries (reference behavior: Athena resolving
  * `count(*)` from Glue partition metadata, `athena/ddl.sql`): at
  * 100 TB a profile that scans is a table-length job; resolved from the
  * log it is manifest-length work on the driver.
  *
  * EXACTNESS CONTRACT — results are always exact, never approximate:
  *   - Within this table format the stats are exact by construction:
  *     every data file is written by the engine's own parquet writer
  *     (untruncated chunk-level min/max, null counts set) and profiled
  *     by [[TableStats.collectDir]] at commit time. There is no
  *     truncated-bound or missing-null-count case for engine-written
  *     files — and when one appears anyway (foreign files, unsupported
  *     physical types, all-null columns, pre-stats manifests), the file
  *     is moved to the SCAN set, not guessed at.
  *   - `double` columns never resolve min/max or range counts from
  *     stats: parquet writers disagree on NaN handling in bounds
  *     (PARQUET-1222), so a NaN-carrying file could satisfy its bounds
  *     while `x BETWEEN lo AND hi` is false for the NaN rows. Null
  *     counts are unaffected, so `count(col)` still resolves.
  *   - Counts never double-count: a file contributes EITHER its
  *     metadata row/null counts OR its scanned rows, never both.
  *
  * The scan fallback reads only the unresolvable files, under the
  * snapshot's recorded schema (same union-schema alignment as
  * [[TableLog.readWhere]]), so `profile` == the equivalent full-scan
  * aggregate on every input, with the scan shrinking to zero as stats
  * coverage approaches 100% (the steady state for engine-written
  * tables).
  */
object StatsAgg {

  /** Exact aggregate profile of one column: non-null count + min/max
    * (min/max are None when the column has no non-null values). */
  final case class ColProfile(cnt: Long, min: Option[Any], max: Option[Any])

  // ---- stats-domain decoding (inverse of TableStats.toDomain) ----

  private def fromDomain(typ: String, v: String): Any = typ match {
    case "long"   => v.toLong
    case "double" => v.toDouble
    case "string" => v
    case "bool"   => v == "1"
    case "date"   => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.toLong))
    case "ts" =>
      val micros = v.toLong
      val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      t
  }

  /** A file's stats can answer count/min/max for `colName` iff the
    * column entry exists with known null count and known bounds (or is
    * provably all-null: bounds may be absent only when rows == nulls).
    * Doubles keep count but surrender bounds (NaN contract above). */
  private def resolvable(f: TableStats.FileStats, colName: String,
      needBounds: Boolean): Boolean =
    f.cols.get(colName) match {
      case Some(cs) if cs.nulls >= 0L =>
        if (!needBounds) true
        else if (cs.typ == "double") false
        else (cs.min.isDefined && cs.max.isDefined) || cs.nulls == f.rows
      case _ => false
    }

  // ---- profile: count(col) + min(col) + max(col) ----

  /** Exact (count, min, max) of `colName`, resolved from manifest stats
    * where the stats can vouch and a residual scan over only the files
    * they cannot. Zero data files are opened for a fully-covered
    * non-double column. */
  def profileColumn(spark: SparkSession, path: String, colName: String,
      version: Option[Int] = None): ColProfile = {
    val commit = TableLog.resolve(spark, path, version)
    val vouched: TableStats.FileStats => Boolean =
      resolvable(_, colName, needBounds = true)
    val meta = commit.stats.filter(vouched)
    val metaCnt = meta.map(f => f.rows - f.cols(colName).nulls).sum
    val metaBounds = meta.flatMap { f =>
      val cs = f.cols(colName)
      for { mn <- cs.min; mx <- cs.max } yield (cs.typ, mn, mx)
    }
    // files the manifest doesn't cover at all join the scan set
    val scanPaths = TableLog.scanPaths(commit, path, f => !vouched(f))
    val (scanCnt, scanMin, scanMax): (Long, Option[Any], Option[Any]) =
      if (scanPaths.isEmpty) (0L, None, None)
      else {
        val r = TableLog.readKept(spark, path, commit, scanPaths)
          .agg(count(col(colName)), min(col(colName)), max(col(colName)))
          .head()
        (r.getLong(0), Option(r.get(1)), Option(r.get(2)))
      }
    val statMin = metaBounds.map { case (t, mn, _) => (t, mn) }
      .reduceOption((a, b) => if (TableStats.cmp(a._1, a._2, b._2) <= 0) a else b)
      .map { case (t, v) => fromDomain(t, v) }
    val statMax = metaBounds.map { case (t, _, mx) => (t, mx) }
      .reduceOption((a, b) => if (TableStats.cmp(a._1, a._2, b._2) >= 0) a else b)
      .map { case (t, v) => fromDomain(t, v) }
    // combine the two sides in row space (both already exact)
    def pick(a: Option[Any], b: Option[Any], wantMin: Boolean): Option[Any] =
      (a, b) match {
        case (Some(x), Some(y)) =>
          val c = cmpValues(x, y)
          Some(if ((c <= 0) == wantMin) x else y)
        case (x, y) => x.orElse(y)
      }
    ColProfile(metaCnt + scanCnt,
      pick(statMin, scanMin, wantMin = true),
      pick(statMax, scanMax, wantMin = false))
  }

  private def cmpValues(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long)       => java.lang.Long.compare(x, y)
    case (x: Int, y: Int)         => Integer.compare(x, y)
    case (x: Long, y: Int)        => java.lang.Long.compare(x, y.toLong)
    case (x: Int, y: Long)        => java.lang.Long.compare(x.toLong, y)
    case (x: Double, y: Double)   => java.lang.Double.compare(x, y)
    case (x: String, y: String)   => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"cannot compare ${a.getClass} with ${b.getClass}")
  }

  // ---- countRows: delegate (kept here for API symmetry) ----

  /** Exact `count(*)`: metadata-only when the snapshot carries stats,
    * one scan job otherwise (never wrong, at worst not accelerated). */
  def countRows(spark: SparkSession, path: String,
      version: Option[Int] = None): Long =
    TableLog.countRows(spark, path, version).getOrElse(
      TableLog.read(spark, path, version).count())

  // ---- countWhere: range count with three-way file classification ----

  /** Exact `count(*) WHERE colName BETWEEN lo AND hi`. Files classify
    * three ways against the manifest bounds:
    *   - EXCLUDED  (bounds miss the interval): contribute 0, not opened
    *   - CONTAINED (bounds inside the interval, nulls known, non-double):
    *     contribute rows − nulls from metadata, not opened
    *   - BOUNDARY  (everything else): scanned with the residual filter
    * On range-clustered layout (ingestion time, Z-order) the boundary
    * set is O(1) files per commit — the metadata path does the rest. */
  def countWhere(spark: SparkSession, path: String, colName: String,
      lo: Any, hi: Any, version: Option[Int] = None): Long = {
    val commit = TableLog.resolve(spark, path, version)
    val kept: TableStats.FileStats => Boolean =
      TableStats.mightMatch(_, colName, lo, hi)
    def contained(f: TableStats.FileStats): Boolean =
      f.cols.get(colName) match {
        case Some(cs) if cs.nulls >= 0L && cs.typ != "double" =>
          (for {
            mn <- cs.min; mx <- cs.max
            l <- TableStats.toDomain(cs.typ, lo)
            h <- TableStats.toDomain(cs.typ, hi)
          } yield TableStats.cmp(cs.typ, mn, l) >= 0 &&
            TableStats.cmp(cs.typ, mx, h) <= 0).getOrElse(false)
        case _ => false
      }
    val metaCnt = commit.stats.filter(f => kept(f) && contained(f))
      .map(f => f.rows - f.cols(colName).nulls).sum
    // boundary files, and (stats-less or stats-partial snapshots) the
    // untracked dirs, are scanned with the residual filter
    val scanPaths =
      TableLog.scanPaths(commit, path, f => kept(f) && !contained(f))
    val scanCnt =
      if (scanPaths.isEmpty) 0L
      else TableLog.readKept(spark, path, commit, scanPaths)
        .where(col(colName).between(lit(lo), lit(hi))).count()
    metaCnt + scanCnt
  }

  // ---- one-row DataFrame profile over several columns ----

  /** One-row exact profile (`n_rows`, then `cnt_/min_/max_` per column)
    * as a DataFrame, for pipelines and the oracle harness. Each column
    * resolves independently: covered columns from metadata, the rest
    * from bounded residual scans. */
  def profile(spark: SparkSession, path: String, cols: Seq[String],
      version: Option[Int] = None): DataFrame = {
    val commit = TableLog.resolve(spark, path, version)
    val schema = commit.schema.getOrElse(
      TableLog.read(spark, path, version).schema)
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    val profiles = cols.map(c => c -> profileColumn(spark, path, c, version))
    val fields = StructField("n_rows", LongType, nullable = false) +:
      profiles.flatMap { case (c, _) =>
        val dt = byName.getOrElse(c, throw new IllegalArgumentException(
          s"column '$c' not in snapshot schema"))
        Seq(StructField(s"cnt_$c", LongType, nullable = false),
          StructField(s"min_$c", dt, nullable = true),
          StructField(s"max_$c", dt, nullable = true))
      }
    val values: Seq[Any] = countRows(spark, path, version) +:
      profiles.flatMap { case (_, p) =>
        Seq(p.cnt, p.min.orNull, p.max.orNull)
      }
    spark.createDataFrame(
      java.util.List.of(Row.fromSeq(values)), StructType(fields))
  }
}
