package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

import graft.quality.Expectations

/** Minimal versioned table log — the transactional core of a table
  * format (what Delta/Iceberg provide), built from first principles
  * because no table-format jar ships in this environment.
  *
  * Layout under the table root:
  * {{{
  *   _graft_log/v00000001.manifest   # line 1: action; then one data-dir per line
  *   data/c00000001-<uuid>/          # immutable parquet directory per commit
  * }}}
  *
  * The manifest IS the snapshot: a reader resolves a version to its
  * directory list once, then reads only those directories — so readers
  * NEVER see a half-written commit (data lands fully before the
  * manifest appears), concurrent readers of version v are untouched by
  * later commits, and time travel is "read an older manifest".
  * Commit = write data dirs → publish the manifest through the
  * scheme's atomic create-if-absent primitive: hard link on `file:`,
  * tmp + rename-if-absent on HDFS-like stores (the NameNode refuses
  * an existing destination atomically), and a conditional full-object
  * put (S3 If-None-Match) on object stores — where rename is a
  * non-atomic COPY that on some stores overwrites, so it can never be
  * the linearization point (the contract TableLogStressSpec's mock-S3
  * shim pins).
  *
  * This solves the non-atomicity the overwrite-based writers accept:
  * dynamic partition overwrite commits partition-by-partition, but a
  * log commit is all-or-nothing at the manifest rename.
  *
  * History is immutable: rollback APPENDS a version that points at the
  * old snapshot's directories (never deletes), and `vacuum` is the only
  * destructive operation (drops data dirs unreferenced by the retained
  * manifests).
  */
object TableLog {

  final case class Commit(version: Int, action: String, dirs: Seq[String],
      stats: Seq[TableStats.FileStats] = Seq.empty,
      schemaJson: Option[String] = None,
      constraints: Seq[Constraint] = Seq.empty,
      timestampMs: Option[Long] = None,
      inputs: Seq[InputRef] = Seq.empty,
      runId: Option[String] = None) {
    def schema: Option[StructType] =
      schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** Run identity for lineage: every commit made inside
    * `withRunId("x") { ... }` records `x` in its manifest (`#r` line),
    * grouping the commits of one pipeline invocation — the OpenLineage
    * RUN-event analog (the reference's transport carries a run id +
    * event time per run, `terraform/main.tf:104-107`; dataset edges
    * alone can't answer "show me everything run X wrote"). Scoped
    * dynamically so orchestration code stamps ONE id around its whole
    * body instead of threading a parameter through every commit
    * call; commits outside any scope record none.
    *
    * Thread caveat (DynamicVariable = InheritableThreadLocal): only
    * threads CREATED inside the scope inherit the id. Commits issued
    * from a pre-existing pool thread record none, and a streaming
    * query started inside the scope keeps stamping the id on batches
    * that commit after the scope exits — attribute streaming sinks to
    * a run only when the stream's lifetime is the run's lifetime. */
  private val activeRunId =
    new scala.util.DynamicVariable[Option[String]](None)

  def withRunId[T](runId: String)(body: => T): T = {
    require(runId.nonEmpty, "empty run id")
    activeRunId.withValue(Some(runId))(body)
  }

  /** The run id in scope (exposed so orchestrators can report it). */
  def currentRunId: Option[String] = activeRunId.value

  /** Lineage edge recorded ON the commit that consumed the input — the
    * OpenLineage dataset-version analog (the reference wires an
    * OpenLineage backend under the `lakehouse` namespace,
    * `terraform/main.tf:104-107`, and its DAG/dbt runs emit
    * input→output dataset events). `version = None` marks an
    * unversioned external input (a raw file feed, a temp view) —
    * still an edge, just without time-travel resolution. Recording
    * inputs in the manifest makes "which feed at which version
    * produced this snapshot" answerable from the log alone, the
    * question lineage exists for. */
  final case class InputRef(table: String, version: Option[Int] = None)

  /** The current snapshot of `path` as a lineage input (None version
    * when the table has no commits yet — an edge to an empty table is
    * still an edge). */
  def inputRef(spark: SparkSession, path: String, table: String): InputRef =
    InputRef(table, latestVersion(spark, path))

  /** A persisted table invariant: a boolean Spark SQL expression every
    * committed row must satisfy (Delta's `CHECK` constraint shape).
    * SQL-standard semantics: a row violates only when the expression is
    * FALSE — NULL passes, so `NOT NULL` is itself expressed as the
    * check `col IS NOT NULL`. */
  final case class Constraint(name: String, expr: String)

  /** Thrown when a commit's data (or `addConstraint`'s existing data)
    * breaks a table constraint; the table is left at its prior version
    * with the rejected data directory removed. */
  final class ConstraintViolationException(
      val byConstraint: Seq[(String, Long)], where: String)
    extends IllegalArgumentException(
      s"constraint violation in $where: " + byConstraint
        .map { case (n, c) => s"$n ($c rows)" }.mkString(", "))

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(path: String) = new Path(path, "_graft_log")
  private def manifestPath(path: String, v: Int) =
    new Path(logDir(path), f"v$v%08d.manifest")

  /** All commits, oldest first. */
  def history(spark: SparkSession, path: String): Seq[Commit] = {
    val f = fs(spark, path)
    if (!f.exists(logDir(path))) return Seq.empty
    f.listStatus(logDir(path)).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("v\\d{8}\\.manifest"))
      .sorted
      .map { name =>
        val v = name.stripPrefix("v").stripSuffix(".manifest").toInt
        val in = f.open(manifestPath(path, v))
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList finally in.close()
        // '#'-prefixed lines are metadata: '#s\t' carries the snapshot
        // schema (Delta's metadata-action pattern — resolved in O(1)
        // from the log, never inferred from file footers), '#f/#c' are
        // file-level column stats (TableStats), '#i' are lineage input
        // edges, '#r' the run id; manifests written before any existed
        // simply have none. Lineage lines may come from external
        // writers, so malformed ones are SKIPPED (like the stats
        // parser) rather than poisoning history() for the whole table.
        Commit(v, lines.head,
          lines.tail.filter(l => l.nonEmpty && !l.startsWith("#")),
          TableStats.fromLines(lines.tail),
          lines.tail.find(_.startsWith("#s\t")).map(_.drop(3)),
          lines.tail.filter(_.startsWith("#k\t")).map { l =>
            val p = l.split("\t", -1)
            Constraint(p(1), java.net.URLDecoder.decode(p(2), "UTF-8"))
          },
          lines.tail.find(_.startsWith("#t\t")).map(_.drop(3).toLong),
          lines.tail.filter(_.startsWith("#i\t")).flatMap { l =>
            // "-" is INTENTIONALLY unversioned (external feed); a
            // garbled version token skips the whole edge instead of
            // degrading to unversioned — Catalog.upstream resolves
            // unversioned as "latest", so a parse-mangled edge would
            // silently widen provenance to the current state
            val p = l.split("\t", -1)
            if (p.length < 3) None
            else scala.util.Try(java.net.URLDecoder.decode(p(1), "UTF-8"))
              .toOption.flatMap { table =>
                if (p(2) == "-") Some(InputRef(table, None))
                else scala.util.Try(p(2).toInt).toOption
                  .map(v => InputRef(table, Some(v)))
              }
          },
          lines.tail.find(_.startsWith("#r\t")).map(l =>
            java.net.URLDecoder.decode(l.drop(3), "UTF-8")))
      }
  }

  // ---- snapshot schema tracking ----
  //
  // The union-schema ("sync_all_columns") read contract says a
  // snapshot's schema is the union of its files' schemas with absent
  // columns null-backfilled. Deriving that with `mergeSchema` costs a
  // footer-read of EVERY file on EVERY read — O(files) work that at
  // 100 TB (millions of files) dwarfs many queries, and locally added
  // a schema-inference Spark job to each TableLog read (measured r5:
  // the table-log-heavy queries grew 1.5-2.4× when mergeSchema
  // landed). Instead the schema is computed ONCE per commit (an O(1)
  // in-memory merge of the previous snapshot schema with the new
  // data's) and stored in the manifest, so readers resolve it without
  // touching a single footer. Fields are recorded nullable because a
  // union-schema read can null-backfill any of them.

  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, asNullable(f.dataType), nullable = true, f.metadata)))
    case a: ArrayType => a.copy(elementType = asNullable(a.elementType),
      containsNull = true)
    case m: MapType => m.copy(keyType = asNullable(m.keyType),
      valueType = asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Union of two snapshot schemas: shared fields keep their (merged)
    * type, fields unique to either side are appended — the in-memory
    * equivalent of what `mergeSchema` infers from footers. Incompatible
    * type changes fail the commit (same outcome mergeSchema gives at
    * read time, but caught at WRITE time, where it's fixable). */
  private[lake] def mergeSchemas(a: StructType, b: StructType): StructType = {
    val bByName = b.fields.map(f => f.name -> f).toMap
    val aNames = a.fieldNames.toSet
    StructType(a.fields.map { fa =>
      bByName.get(fa.name) match {
        case Some(fb) => StructField(fa.name,
          mergeTypes(fa.name, fa.dataType, fb.dataType), nullable = true)
        case None => fa.copy(nullable = true)
      }
    } ++ b.fields.filterNot(f => aNames(f.name)))
  }

  private def mergeTypes(name: String, x: DataType, y: DataType): DataType =
    (x, y) match {
      case (sx: StructType, sy: StructType) => mergeSchemas(sx, sy)
      case (ax: ArrayType, ay: ArrayType) =>
        ArrayType(mergeTypes(name, ax.elementType, ay.elementType),
          ax.containsNull || ay.containsNull)
      case (mx: MapType, my: MapType) =>
        MapType(mergeTypes(name, mx.keyType, my.keyType),
          mergeTypes(name, mx.valueType, my.valueType),
          mx.valueContainsNull || my.valueContainsNull)
      case _ if x == y => x
      case _ => throw new IllegalArgumentException(
        s"incompatible schema evolution on column '$name': $x vs $y")
    }

  private def unionSchemaJson(prev: Option[String],
      df: DataFrame): String = {
    val next = asNullable(df.schema).asInstanceOf[StructType]
    prev match {
      case Some(p) => mergeSchemas(
        DataType.fromJson(p).asInstanceOf[StructType], next).json
      case None => next.json
    }
  }

  /** The snapshot's schema as recorded in its manifest; `None` for
    * manifests that predate schema tracking (readers then fall back to
    * footer-merge inference). */
  def snapshotSchema(spark: SparkSession, path: String,
      version: Option[Int] = None): Option[StructType] =
    resolve(spark, path, version).schema

  def latestVersion(spark: SparkSession, path: String): Option[Int] =
    history(spark, path).lastOption.map(_.version)

  private[lake] def resolve(spark: SparkSession, path: String,
      version: Option[Int]): Commit = {
    val commits = history(spark, path)
    require(commits.nonEmpty, s"no commits at $path")
    version match {
      case Some(v) => commits.find(_.version == v)
        .getOrElse(throw new IllegalArgumentException(
          s"version $v not found (have ${commits.map(_.version).mkString(",")})"))
      case None => commits.last
    }
  }

  /** Snapshot read. `version = None` reads the latest commit.
    *
    * `mergeSchema` because a snapshot's directories may span a schema
    * change: `commitAppend` after an evolved-schema merge carries the
    * pre-evolution directories forward verbatim (that's the point — no
    * rewrite), so the snapshot's schema is the UNION of its files'
    * schemas, with absent columns null-backfilled — the
    * `sync_all_columns` read contract (reference
    * `dbt/dbt_project.yml:15`). Without it Spark takes one file's
    * footer as the schema and silently drops the evolved columns. */
  def read(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame =
    readCommit(spark, path, resolve(spark, path, version))

  /** [[read]] of an already-resolved commit (no log listing). */
  private def readCommit(spark: SparkSession, path: String,
      commit: Commit): DataFrame = {
    require(commit.dirs.nonEmpty, s"version ${commit.version} is an empty snapshot")
    readDirs(spark, commit, commit.dirs.map(d => s"$path/$d"))
  }

  /** Time travel by timestamp (Delta's `TIMESTAMP AS OF`): the latest
    * version whose commit time is <= `tsMs`. Recorded times are forced
    * monotonic at write ([[monotonicNow]] clamps each commit to at
    * least predecessor+1, as Delta does), so eligible versions form a
    * prefix and the result matches TIMESTAMP AS OF semantics even when
    * writers' wall clocks skew. Eligibility is still tested per commit
    * (not a sorted prefix) so manifests written before the clamp
    * existed — which may carry non-monotonic times — resolve with
    * versions, not timestamps, as the source of truth for ordering.
    * Manifests written before timestamping read as time 0 (always
    * eligible). None = the table didn't exist yet at `tsMs`. */
  def versionAsOf(spark: SparkSession, path: String, tsMs: Long): Option[Int] =
    history(spark, path)
      .filter(_.timestampMs.getOrElse(0L) <= tsMs)
      .lastOption.map(_.version)

  /** [[read]] pinned to the snapshot current at `tsMs` — what the
    * table looked like then, regardless of commits since. */
  def readAsOf(spark: SparkSession, path: String, tsMs: Long): DataFrame =
    read(spark, path, Some(versionAsOf(spark, path, tsMs).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot at $path existed at t=$tsMs (first commit is later)"))))

  /** Read parquet paths under a snapshot's recorded schema (missing
    * columns null-backfilled by the parquet reader, zero footer reads);
    * pre-schema-tracking manifests fall back to footer-merge. */
  private def readDirs(spark: SparkSession, commit: Commit,
      paths: Seq[String]): DataFrame = commit.schema match {
    case Some(s) => spark.read.schema(s).parquet(paths: _*)
    case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
  }

  /** Fallback-path form of [[readDirs]] for PRUNED reads of
    * pre-schema-tracking manifests: footer-merge over the kept files
    * can miss a column present only in pruned files, so align to the
    * full snapshot's inferred schema with null-backfill. Manifests
    * with a recorded schema never take this path — the parquet reader
    * null-backfills against the recorded schema directly. */
  private[lake] def readDirsAligned(spark: SparkSession, commit: Commit,
      path: String, kept: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    commit.schema match {
      case Some(_) => readDirs(spark, commit, kept)
      case None =>
        val snapshot = readDirs(spark, commit,
          commit.dirs.map(d => s"$path/$d")).schema
        val pruned = spark.read.option("mergeSchema", "true").parquet(kept: _*)
        val present = pruned.columns.toSet
        pruned.select(snapshot.fields.map { fld =>
          if (present(fld.name)) col(fld.name)
          else lit(null).cast(fld.dataType).as(fld.name)
        }.toIndexedSeq: _*)
    }
  }

  /** Metadata-only row count from manifest stats — `SELECT count(*)`
    * without opening a single data file. `None` when the snapshot
    * predates stats collection (then count the ordinary way). */
  /** Rows carried by `commit`'s dirs that are NOT in `prevDirs`,
    * resolved from manifest file stats alone — lets a foreachBatch
    * sink report "rows appended this commit" without re-evaluating
    * the frame it just wrote (the second evaluation re-runs the whole
    * admission/report pipeline per micro-batch). None when stats
    * don't cover the new dirs (pre-stats writers). */
  def newDirRows(commit: Commit, prevDirs: Set[String]): Option[Long] = {
    val nd = commit.dirs.filterNot(prevDirs)
    if (nd.isEmpty) return Some(0L)
    val counted = commit.stats.filter(f => nd.exists(f.file.startsWith))
    if (counted.isEmpty) None else Some(counted.map(_.rows).sum)
  }

  def countRows(spark: SparkSession, path: String,
      version: Option[Int] = None): Option[Long] = {
    val commit = resolve(spark, path, version)
    // stats must cover EVERY dir: a stats-partial snapshot (append onto
    // a pre-stats table) would otherwise report only the tracked rows
    if (commit.stats.isEmpty || untrackedDirPaths(commit, path).nonEmpty) None
    else Some(commit.stats.map(_.rows).sum)
  }

  /** Data-skipping scan: `read(...).filter(col BETWEEN lo AND hi)`, but
    * files whose manifest [min, max] bounds exclude the interval are
    * never OPENED — at 100 TB with range-clustered layout (ingestion
    * time, [[commitOptimize]] Z-order) this is the difference between
    * scanning a day and scanning the table. The residual filter is
    * still applied, so results are exact regardless of stats quality;
    * snapshots without stats degrade to an ordinary filtered scan. */
  /** Dirs of this snapshot with NO stats coverage at all (carried
    * forward from a pre-stats manifest). A pruned read must always
    * keep them: they have no bounds to prune on, and keying the scan
    * set off the stats list alone would silently DROP their rows —
    * stats-partial snapshots are rare (append onto a pre-stats table)
    * but pruning must degrade to a scan there, never to wrong rows. */
  private[lake] def untrackedDirPaths(commit: Commit,
      path: String): Seq[String] = {
    val tracked = commit.stats.map(_.file).toSet
    commit.dirs.filterNot(d => tracked.exists(_.startsWith(d + "/")))
      .map(d => s"$path/$d")
  }

  def readWhere(spark: SparkSession, path: String, colName: String,
      lo: Any, hi: Any, version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val commit = resolve(spark, path, version)
    require(commit.dirs.nonEmpty, s"version ${commit.version} is an empty snapshot")
    val residual = col(colName).between(lit(lo), lit(hi))
    if (commit.stats.isEmpty)
      return read(spark, path, version).where(residual)
    val kept = commit.stats
      .filter(TableStats.mightMatch(_, colName, lo, hi))
      .map(f => s"$path/${f.file}") ++ untrackedDirPaths(commit, path)
    if (kept.isEmpty) read(spark, path, version).where(lit(false))
    else {
      // same union-schema contract as read(): the kept files may span a
      // schema evolution, and a column present only in PRUNED files must
      // still appear (null-backfilled) or readWhere != read().filter().
      // With a recorded snapshot schema the parquet reader does the
      // null-backfill itself; only pre-schema manifests pay footer-merge.
      readDirsAligned(spark, commit, path, kept).where(residual)
    }
  }

  /** Set-valued data skipping: `read(...).filter(col IN values)`, but a
    * file is OPENED only when its [min, max] bounds admit at least one
    * of the values — the scan shape for inverted-file probes (a search
    * touching nprobe of k cells over cell-clustered layout reads
    * ~nprobe/k of the files). Same union-schema alignment and residual
    * exactness as [[readWhere]]. */
  def readWhereIn(spark: SparkSession, path: String, colName: String,
      values: Seq[Any], version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(values.nonEmpty, "readWhereIn needs at least one value")
    val commit = resolve(spark, path, version)
    require(commit.dirs.nonEmpty, s"version ${commit.version} is an empty snapshot")
    val residual = col(colName).isin(values: _*)
    if (commit.stats.isEmpty)
      return read(spark, path, version).where(residual)
    val kept = commit.stats
      .filter(f => values.exists(v => TableStats.mightMatch(f, colName, v, v)))
      .map(f => s"$path/${f.file}") ++ untrackedDirPaths(commit, path)
    if (kept.isEmpty) read(spark, path, version).where(lit(false))
    else readDirsAligned(spark, commit, path, kept).where(residual)
  }

  /** Point-lookup scan with two pruning tiers: a file is OPENED only
    * when its manifest [min, max] bounds admit `value` AND its bloom
    * sidecar ([[BloomIndex]], when present) says the file might
    * contain it. Min/max alone is useless for a point probe on a
    * high-cardinality UNCLUSTERED key — every file's range admits the
    * value — which at 100 TB turns "find this order id" into a full
    * scan; the bloom tier cuts that to ~fpp of the files. The
    * residual filter keeps results exact regardless of index quality;
    * dirs without sidecars prune conservatively (min/max only). */
  def readWhereEq(spark: SparkSession, path: String, colName: String,
      value: Any, version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(value != null, "equality probe value must be non-null")
    val commit = resolve(spark, path, version)
    require(commit.dirs.nonEmpty, s"version ${commit.version} is an empty snapshot")
    val residual = col(colName) === lit(value)
    if (commit.stats.isEmpty)
      return read(spark, path, version).where(residual)
    val blooms = BloomIndex.loadAll(spark, path, commit)
    val kept = commit.stats
      .filter(f => TableStats.mightMatch(f, colName, value, value) &&
        BloomIndex.fileMightContain(blooms, f.file, colName, value))
      .map(f => s"$path/${f.file}") ++ untrackedDirPaths(commit, path)
    if (kept.isEmpty) read(spark, path, version).where(lit(false))
    else readDirsAligned(spark, commit, path, kept).where(residual)
  }

  /** Substring-search scan (`LIKE '%needle%'`) with trigram-bloom file
    * skipping ([[TextIndex]]): a file is OPENED only when its sidecar
    * admits EVERY trigram of the needle — the one pruning tier that
    * works for substring probes, where min/max bounds and whole-value
    * blooms are both useless. Needles shorter than a trigram, dirs
    * without sidecars, and stats-less snapshots degrade to a full
    * scan; the residual `contains` filter keeps results exact
    * regardless. */
  def readWhereContains(spark: SparkSession, path: String, colName: String,
      needle: String, version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(needle != null && needle.nonEmpty, "needle must be non-empty")
    val commit = resolve(spark, path, version)
    require(commit.dirs.nonEmpty, s"version ${commit.version} is an empty snapshot")
    val residual = col(colName).contains(needle)
    if (commit.stats.isEmpty || needle.length < TextIndex.MinNeedleLength)
      return read(spark, path, version).where(residual)
    val tris = TextIndex.loadAll(spark, path, commit)
    val kept = commit.stats
      .filter(f => TextIndex.fileMightContainNeedle(tris, f.file, colName, needle))
      .map(f => s"$path/${f.file}") ++ untrackedDirPaths(commit, path)
    if (kept.isEmpty) read(spark, path, version).where(lit(false))
    else readDirsAligned(spark, commit, path, kept).where(residual)
  }

  /** (files kept, files total) a [[readWhereContains]] probe would
    * open — the observability hook the trigram-pruning spec asserts. */
  def pruneReportContains(spark: SparkSession, path: String,
      colName: String, needle: String,
      version: Option[Int] = None): (Int, Int) = {
    val commit = resolve(spark, path, version)
    val tris = TextIndex.loadAll(spark, path, commit)
    (commit.stats.count(f =>
      TextIndex.fileMightContainNeedle(tris, f.file, colName, needle)),
      commit.stats.size)
  }

  /** (files kept by min/max only, files kept by min/max + bloom,
    * files total) that a [[readWhereEq]] probe would consider — the
    * observability hook the bloom-pruning spec asserts on. */
  def pruneReportEq(spark: SparkSession, path: String, colName: String,
      value: Any, version: Option[Int] = None): (Int, Int, Int) = {
    val commit = resolve(spark, path, version)
    val ranged = commit.stats
      .filter(TableStats.mightMatch(_, colName, value, value))
    val blooms = BloomIndex.loadAll(spark, path, commit)
    (ranged.size,
      ranged.count(f =>
        BloomIndex.fileMightContain(blooms, f.file, colName, value)),
      commit.stats.size)
  }

  /** (files kept, files total) that [[readWhereIn]] would open. */
  def pruneReportIn(spark: SparkSession, path: String, colName: String,
      values: Seq[Any], version: Option[Int] = None): (Int, Int) = {
    val commit = resolve(spark, path, version)
    (commit.stats.count(f =>
      values.exists(v => TableStats.mightMatch(f, colName, v, v))),
      commit.stats.size)
  }

  /** (files kept, files total) that [[readWhere]] would open — the
    * observability hook the pruning spec asserts on. */
  def pruneReport(spark: SparkSession, path: String, colName: String,
      lo: Any, hi: Any, version: Option[Int] = None): (Int, Int) = {
    val commit = resolve(spark, path, version)
    val total = commit.stats.size
    (commit.stats.count(TableStats.mightMatch(_, colName, lo, hi)), total)
  }

  /** Optimize-write: right-size the output file count from the
    * optimizer's size estimate BEFORE writing — no extra Spark job, no
    * shuffle, `coalesce` only (which can merge partitions but never
    * split, so a misestimate can only leave extra parallelism, never
    * add a stage). Without this every metadata-scale commit (catalog,
    * lineage, MV state) inherits the session's shuffle partitioning
    * and writes `spark.sql.shuffle.partitions` near-empty files; at
    * 100 TB that is the small-file problem manufactured at the source
    * (listing pressure + open/seek-bound scans), and [[Compaction]]
    * would just re-pay the write. Catalyst's default (non-CBO) size
    * visitor over-estimates (filters/joins keep or multiply child
    * sizes; only genuinely tiny plans — local relations, global
    * aggregates — estimate small), so an estimate under the threshold
    * is a safe signal to merge. Estimates at or above
    * `graft.write.smallBytes` (default 64 MiB) leave the frame
    * untouched; so does a frame whose plan carries an explicit
    * repartition/coalesce — the caller chose that layout on purpose
    * (z-order range files, pruning demos), and collapsing it would
    * undo the file-skipping structure the partitioning exists to
    * create. Set the conf to 0 to disable. */
  private def optimizeWrite(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
    val small = spark.conf.getOption("graft.write.smallBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    val target = spark.conf.getOption("graft.write.targetFileBytes")
      .map(_.toLong).getOrElse(32L * 1024 * 1024)
    val userPartitioned = df.queryExecution.analyzed
      .collectFirst { case r: RepartitionOperation => r }.isDefined
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // either conf non-positive disables (same semantics for both knobs)
    if (small <= 0 || target <= 0 || userPartitioned || est >= small) df
    else df.coalesce(math.max(1, (est.toLong + target - 1) / target).toInt)
  }

  private def writeData(spark: SparkSession, path: String, df0: DataFrame,
      v: Int): (String, Seq[TableStats.FileStats]) = {
    val df = optimizeWrite(spark, df0)
    val rel = f"data/c$v%08d-${java.util.UUID.randomUUID().toString.take(8)}"
    // table data is written as INT64-micros timestamps, never INT96:
    // INT96 (Spark's legacy session default) carries NO footer
    // statistics, which would blind both parquet row-group skipping and
    // TableStats file pruning on every timestamp column. Scoped here —
    // not session-wide — so ordinary result dumps keep the session's
    // format; restored in finally because the SQL conf is session-shared.
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try df.write.parquet(s"$path/$rel")
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
    // footer-only stats collection: zero data pages read (see TableStats)
    val stats = TableStats.collectDir(
      spark.sparkContext.hadoopConfiguration, s"$path/$rel", rel)
    (rel, stats)
  }

  /** Append a manifest for `dirs`; an atomic create-if-absent publish
    * enforces one winner per version (losers retry on the next version
    * number via [[commit]]).
    *
    * Publish is scheme-aware because POSIX `rename` OVERWRITES an
    * existing destination — an exists-then-rename check is a TOCTOU
    * race that silently drops a concurrent writer's commit (caught by
    * the concurrent-appenders spec). On `file:` the atomic primitive
    * is a hard link (fails with FileAlreadyExistsException if the
    * destination exists); on HDFS-like stores rename itself refuses an
    * existing destination atomically at the NameNode. On S3-class
    * stores rename is a non-atomic server-side COPY + DELETE (and the
    * copy overwrites), so the manifest is published as ONE conditional
    * full-object put instead: create-if-absent of the destination
    * directly, no tmp — object stores expose whole objects atomically
    * at completion, so no reader sees a partial manifest, and the
    * store's If-None-Match check (which may surface at create or at
    * close) picks exactly one winner. TableLogStressSpec's mock-S3
    * shim pins this contract under an injected concurrent committer. */
  private def writeManifest(spark: SparkSession, path: String, v: Int,
      action: String, dirs: Seq[String],
      stats: Seq[TableStats.FileStats] = Seq.empty,
      schemaJson: Option[String] = None,
      constraints: Seq[Constraint] = Seq.empty,
      tsMs: Long = System.currentTimeMillis(),
      inputs: Seq[InputRef] = Seq.empty): Boolean = {
    val f = fs(spark, path)
    f.mkdirs(logDir(path))
    val bytes = ((action +: dirs) ++
        Seq("#t\t" + tsMs) ++
        activeRunId.value.map(r =>
          "#r\t" + java.net.URLEncoder.encode(r, "UTF-8")).toSeq ++
        inputs.map(i => "#i\t" +
          java.net.URLEncoder.encode(i.table, "UTF-8") + "\t" +
          i.version.map(_.toString).getOrElse("-")) ++
        schemaJson.map("#s\t" + _).toSeq ++
        constraints.map(k => "#k\t" + k.name + "\t" +
          java.net.URLEncoder.encode(k.expr, "UTF-8")) ++
        TableStats.toLines(stats))
      .mkString("\n").getBytes("UTF-8")
    val dest = manifestPath(path, v)
    if (conditionalPutSchemes(f.getScheme)) {
      // Object store: no tmp — one conditional full-object put. A
      // failed conditional put leaves nothing behind, and the check
      // may surface at create OR at close (S3 checks If-None-Match
      // when the upload completes).
      try {
        val out = f.create(dest, false)
        try out.write(bytes) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      val tmp = new Path(logDir(path),
        s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = f.create(tmp, false)
      try out.write(bytes) finally out.close()
      val won =
        if (f.getScheme == "file") {
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(dest.toUri.getPath),
              java.nio.file.Paths.get(tmp.toUri.getPath))
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        } else {
          !f.exists(dest) && f.rename(tmp, dest)
        }
      if (f.getScheme == "file" || !won) f.delete(tmp, false)
      won
    }
  }

  /** Stores whose `rename` is a non-atomic copy (possibly
    * overwriting): the manifest publish must go through a conditional
    * full-object put instead of tmp + rename. */
  private val conditionalPutSchemes = Set(
    "s3", "s3a", "s3n", "gs", "oss", "cos",
    "wasb", "wasbs", "abfs", "abfss")

  /** Commit retry budget: each loss re-reads the log and retries on the
    * next version, so the budget bounds tolerated writer contention,
    * not correctness. */
  private val MaxCommitAttempts = 20

  /** Commit timestamps are clamped monotonic at WRITE time —
    * `max(previous commit ts + 1, now)` — the same forced-monotonic
    * recording Delta uses, so [[versionAsOf]]'s per-commit eligibility
    * test can never admit a later version while skipping an
    * intermediate one: under writer clock skew the recorded time
    * advances with the version even when the wall clock doesn't. */
  private def monotonicNow(prev: Option[Commit]): Long =
    math.max(System.currentTimeMillis(),
      prev.flatMap(_.timestampMs).getOrElse(0L) + 1L)

  /** Optimistic-concurrency commit loop. Each attempt RE-DERIVES the
    * snapshot via `mkDf` from the attempt's base — the latest commit,
    * exactly the version its manifest replaces — so a merge that loses
    * the race is recomputed on top of the winner's snapshot, never over
    * it (lost update). The data is written, then checked
    * ([[checkWritten]]), then published; a refused or losing attempt's
    * data directory is deleted, so neither leaks files. */
  private def commit(spark: SparkSession, path: String, action: String,
      carryPrevious: Boolean, inputs: Seq[InputRef] = Seq.empty,
      suite: Option[Expectations.Suite] = None)
      (mkDf: Option[Commit] => DataFrame): Commit = {
    var attempts = 0
    while (attempts < MaxCommitAttempts) {
      val prev = history(spark, path)
      val v = prev.lastOption.map(_.version + 1).getOrElse(1)
      val df = mkDf(prev.lastOption)
      val (dir, dirStats) = writeData(spark, path, df, v)
      val carried = if (carryPrevious) prev.lastOption else None
      val dirs = Seq(dir) ++ carried.map(_.dirs).getOrElse(Seq.empty)
      // append carries the previous snapshot's stats forward verbatim —
      // file paths are table-root-relative and files are immutable
      val stats = dirStats ++ carried.map(_.stats).getOrElse(Seq.empty)
      // snapshot schema = previous schema ∪ new data's schema, merged
      // in memory at commit time (never inferred from footers at read)
      val schema = Some(unionSchemaJson(
        carried.flatMap(_.schemaJson), df))
      // constraints are TABLE properties: they survive overwrite/merge
      // (which replace data, not metadata), so they come from the
      // previous commit regardless of carryPrevious
      val cons = prev.lastOption.map(_.constraints).getOrElse(Seq.empty)
      checkWritten(spark, path, dir, action,
        DataType.fromJson(schema.get).asInstanceOf[StructType], suite,
        // "optimize" is pure layout — same rows, spec-asserted — and
        // skips the re-validation scan (at 100 TB revalidating a full
        // rewrite doubles its read cost)
        if (action == "optimize") Seq.empty else cons)
      val ts = monotonicNow(prev.lastOption)
      if (writeManifest(spark, path, v, action, dirs, stats, schema, cons, ts,
          inputs))
        return Commit(v, action, dirs, stats, schema, cons, Some(ts), inputs,
          activeRunId.value)
      fs(spark, path).delete(new Path(path, dir), true)
      attempts += 1
    }
    throw new IllegalStateException(
      s"lost the commit race $MaxCommitAttempts times at $path — writer contention")
  }

  /** Write, then check, then publish: the expectation suite and the
    * table's constraints are evaluated together in ONE aggregate pass
    * over the directory just written — never by recomputing the plan
    * that produced it — and before the manifest publish. The directory
    * is read under the new snapshot schema, so an evolved-away column
    * reads as null and `IS NOT NULL` checks catch it. A violation or an
    * error deletes the directory and throws, leaving the table at its
    * prior version with no new files (Delta checks constraints on the
    * data being written the same way, before its atomic log commit). */
  private def checkWritten(spark: SparkSession, path: String, dir: String,
      action: String, schema: StructType,
      suite: Option[Expectations.Suite], cons: Seq[Constraint]): Unit =
    if (suite.nonEmpty || cons.nonEmpty) try {
      val written = spark.read.schema(schema).parquet(s"$path/$dir")
      // without a suite, an empty one: it carries the constraints and
      // never refuses
      val s = suite.getOrElse(
        Expectations.Suite(s"$action at $path", None, Seq.empty))
      val verdict = Expectations.gate(
        Seq((written, s, cons.map(violationCount)))).head
      Expectations.throwIfRefused(Seq(s -> verdict))
      val bad = cons.map(_.name).zip(verdict.extra).filter(_._2 > 0L)
      if (bad.nonEmpty)
        throw new ConstraintViolationException(bad, s"$action at $path")
    } catch { case e: Throwable =>
      fs(spark, path).delete(new Path(path, dir), true); throw e
    }

  /** A constraint's violating-row count as an aggregate column. A row
    * violates only when the check is FALSE — NULL passes (SQL-standard
    * CHECK). */
  private def violationCount(c: Constraint): Column = {
    import org.apache.spark.sql.functions.{coalesce, count, expr, lit, not, when}
    count(when(not(coalesce(expr(c.expr).cast("boolean"), lit(true))), 1))
  }

  /** The table's active constraints (empty before any were added). */
  def constraints(spark: SparkSession, path: String,
      version: Option[Int] = None): Seq[Constraint] =
    resolve(spark, path, version).constraints

  /** Persist a CHECK constraint: validates the EXISTING snapshot (one
    * aggregate pass — a violating table refuses the constraint), then
    * commits a metadata-only version carrying data/stats/schema forward
    * verbatim. Every later commit validates its incoming data against
    * the constraint set and is rejected atomically on violation —
    * the enforced-at-write contract of Delta's ADD CONSTRAINT, vs the
    * one-shot gate of [[commitMergeValidated]]. */
  def addConstraint(spark: SparkSession, path: String, name: String,
      checkExpr: String): Commit = {
    require(name.nonEmpty && !name.contains("\t"), s"bad constraint name '$name'")
    var attempts = 0
    while (attempts < MaxCommitAttempts) {
      val last = resolve(spark, path, None)
      require(!last.constraints.exists(_.name == name),
        s"constraint '$name' already exists")
      val n = Expectations.gate(Seq((read(spark, path),
        Expectations.Suite(s"constraint $name", None, Seq.empty),
        Seq(violationCount(Constraint(name, checkExpr)))))).head.extra.head
      if (n > 0L)
        throw new ConstraintViolationException(Seq(name -> n),
          s"existing data at $path (constraint not added)")
      val v = last.version + 1
      val cons = last.constraints :+ Constraint(name, checkExpr)
      val ts = monotonicNow(Some(last))
      if (writeManifest(spark, path, v, "constraint", last.dirs, last.stats,
          last.schemaJson, cons, ts))
        return Commit(v, "constraint", last.dirs, last.stats,
          last.schemaJson, cons, Some(ts), runId = activeRunId.value)
      attempts += 1
    }
    throw new IllegalStateException(
      s"lost the constraint race $MaxCommitAttempts times at $path")
  }

  /** `NOT NULL` as the standard CHECK form. */
  def addNotNull(spark: SparkSession, path: String, colName: String): Commit =
    addConstraint(spark, path, s"${colName}_not_null", s"$colName IS NOT NULL")

  /** Remove a constraint by name (metadata-only commit). */
  def dropConstraint(spark: SparkSession, path: String,
      name: String): Commit = {
    var attempts = 0
    while (attempts < MaxCommitAttempts) {
      val last = resolve(spark, path, None)
      require(last.constraints.exists(_.name == name),
        s"no constraint named '$name'")
      val v = last.version + 1
      val cons = last.constraints.filterNot(_.name == name)
      val ts = monotonicNow(Some(last))
      if (writeManifest(spark, path, v, "constraint", last.dirs, last.stats,
          last.schemaJson, cons, ts))
        return Commit(v, "constraint", last.dirs, last.stats,
          last.schemaJson, cons, Some(ts), runId = activeRunId.value)
      attempts += 1
    }
    throw new IllegalStateException(
      s"lost the constraint race $MaxCommitAttempts times at $path")
  }

  /** Add `df`'s rows to the table (new snapshot = previous dirs + one
    * new dir; no data rewrite at all). `action` labels the manifest —
    * idempotent writers (streaming foreachBatch) tag it with their
    * batch id and skip the commit when history already carries it. */
  def commitAppend(spark: SparkSession, path: String, df: DataFrame,
      action: String = "append", inputs: Seq[InputRef] = Seq.empty): Commit =
    commit(spark, path, action, carryPrevious = true, inputs)(_ => df)

  private def commitReplace(spark: SparkSession, path: String, df: DataFrame,
      action: String, inputs: Seq[InputRef] = Seq.empty,
      suite: Option[Expectations.Suite] = None): Commit =
    commit(spark, path, action, carryPrevious = false, inputs, suite)(_ => df)

  /** Replace the table contents with `df`. Old versions remain
    * readable until vacuumed. A `suite` gates the commit on the
    * written files before the manifest publish ([[checkWritten]]): a
    * failed contract throws and leaves the table at its prior version
    * with no new files. */
  def commitOverwrite(spark: SparkSession, path: String, df: DataFrame,
      inputs: Seq[InputRef] = Seq.empty,
      suite: Option[Expectations.Suite] = None): Commit =
    commitReplace(spark, path, df, "overwrite", inputs, suite)

  /** [[commitOverwrite]] with a caller-supplied action tag — the
    * replay-safe form for foreachBatch sinks: tag the commit with a
    * batch-derived action and skip the batch when `history` already
    * records it (the [[graft.streaming.DriftMonitor]] idempotence
    * pattern, for replace-shaped sinks). */
  def commitOverwriteTagged(spark: SparkSession, path: String,
      df: DataFrame, action: String,
      inputs: Seq[InputRef] = Seq.empty): Commit =
    commitReplace(spark, path, df, action, inputs)

  /** The upsert of `updates` onto `base` — the attempt's pinned merge
    * base, read without re-listing the log. */
  private def mergeOnto(spark: SparkSession, path: String,
      updates: DataFrame, keys: Seq[String])(base: Option[Commit]): DataFrame =
    base match {
      case None => updates
      case Some(c) => MergeWriter.upsertSyncSchema(
        readCommit(spark, path, c), updates, keys)
    }

  /** MERGE upsert as a log commit: read the latest snapshot, apply
    * [[MergeWriter.upsertSyncSchema]], write the result as the new
    * snapshot — all-or-nothing at the manifest rename (unlike dynamic
    * partition overwrite, which commits partition-by-partition). The
    * merge recomputes inside the commit loop, so losing a race means
    * merging onto the winner's snapshot, never over it. */
  def commitMerge(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], inputs: Seq[InputRef] = Seq.empty): Commit =
    commit(spark, path, "merge", carryPrevious = false, inputs)(
      mergeOnto(spark, path, updates, keys))

  /** Expectation-gated MERGE: the merged snapshot is written once,
    * then the data-quality suite is checked on the written files before
    * the manifest publish ([[checkWritten]]) — the merged plan runs
    * once, never once to validate and again to write. A failed contract
    * deletes the written directory and leaves the table at its prior
    * version (the table-format form of the reference's
    * validate-before-publish gate). The check re-runs per attempt
    * against that attempt's merged snapshot. */
  def commitMergeValidated(spark: SparkSession, path: String,
      updates: DataFrame, keys: Seq[String],
      suite: Expectations.Suite,
      inputs: Seq[InputRef] = Seq.empty): Commit =
    commit(spark, path, "merge", carryPrevious = false, inputs, Some(suite))(
      mergeOnto(spark, path, updates, keys))

  /** OPTIMIZE as a log commit: rewrite the latest snapshot into
    * `numFiles` Z-ordered files ([[ZOrder.cluster]]) and commit the
    * result atomically. Readers of the pre-optimize version are
    * untouched; the optimize is pure layout (same rows), which the
    * spec asserts. This is the table-format pairing of
    * [[Compaction]]: compaction targets file COUNT under overwrite
    * semantics, optimize targets file count + clustering under
    * snapshot semantics. */
  def commitOptimize(spark: SparkSession, path: String,
      zorderCols: (String, String), numFiles: Int): Commit = {
    val clustered = ZOrder.cluster(
      read(spark, path), zorderCols._1, zorderCols._2, numFiles)
    commitReplace(spark, path, clustered, "optimize")
  }

  /** DELETE as a log commit with data skipping: rows where
    * `colName BETWEEN lo AND hi` are removed, but a data directory whose
    * manifest file stats prove NO row can match is carried into the new
    * snapshot verbatim — zero read, zero rewrite. At 100 TB with
    * range-clustered layout (per-day ingestion commits,
    * [[commitOptimize]]) a targeted delete (GDPR erasure, bad-batch
    * retraction) rewrites one directory, not the table. Directories
    * without stats (pre-stats commits) are conservatively rewritten.
    *
    * Rows where `colName` is NULL never match a range predicate and are
    * always kept. Like every commit, a lost race recomputes against the
    * winner's snapshot. Old versions stay readable until vacuumed. */
  def commitDelete(spark: SparkSession, path: String, colName: String,
      lo: Any, hi: Any): Commit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    var attempts = 0
    while (attempts < MaxCommitAttempts) {
      val last = resolve(spark, path, None)
      val v = last.version + 1
      val statsByDir = last.stats.groupBy(f =>
        last.dirs.find(d => f.file.startsWith(d + "/")).getOrElse(""))
      val (touched, carried) = last.dirs.partition { d =>
        val fileStats = statsByDir.getOrElse(d, Seq.empty)
        fileStats.isEmpty ||
          fileStats.exists(TableStats.mightMatch(_, colName, lo, hi))
      }
      if (touched.isEmpty)
        return last // stats prove nothing matches: delete is a no-op
      val carriedStats = last.stats.filter(f =>
        carried.exists(d => f.file.startsWith(d + "/")))
      // snapshot schema on the rewrite read: touched dirs can span a
      // schema evolution (appends carry pre-evolution dirs forward),
      // and inferring one file's footer schema here would silently
      // DROP evolved columns from the rewritten rows — permanent loss
      // in the post-delete snapshot. A delete never changes the
      // schema, so the new manifest carries it forward verbatim.
      val remaining = readDirs(spark, last, touched.map(d => s"$path/$d"))
        .where(not(coalesce(col(colName).between(lit(lo), lit(hi)), lit(false))))
      val (dir, dirStats) = writeData(spark, path, remaining, v)
      val dirs = Seq(dir) ++ carried
      // delete rewrites a subset of already-validated rows: constraints
      // carry forward without a re-validation scan
      val ts = monotonicNow(Some(last))
      if (writeManifest(spark, path, v, "delete", dirs,
          dirStats ++ carriedStats, last.schemaJson, last.constraints, ts))
        return Commit(v, "delete", dirs, dirStats ++ carriedStats,
          last.schemaJson, last.constraints, Some(ts),
          runId = activeRunId.value)
      fs(spark, path).delete(new Path(path, dir), true)
      attempts += 1
    }
    throw new IllegalStateException(
      s"lost the delete race $MaxCommitAttempts times at $path — writer contention")
  }

  /** Append a version that restores snapshot `v` (history stays
    * intact; nothing is deleted). */
  def rollback(spark: SparkSession, path: String, v: Int): Commit = {
    val target = history(spark, path).find(_.version == v)
      .getOrElse(throw new IllegalArgumentException(s"version $v not found"))
    var attempts = 0
    while (attempts < MaxCommitAttempts) {
      val next = latestVersion(spark, path).get + 1
      // metadata rolls back with the data: the restored snapshot's
      // constraint set (and schema) is what validated its rows
      val ts = monotonicNow(history(spark, path).lastOption)
      if (writeManifest(spark, path, next, "rollback", target.dirs,
          target.stats, target.schemaJson, target.constraints, ts))
        return Commit(next, "rollback", target.dirs, target.stats,
          target.schemaJson, target.constraints, Some(ts),
          runId = activeRunId.value)
      attempts += 1
    }
    throw new IllegalStateException(
      s"lost the rollback race $MaxCommitAttempts times")
  }

  /** Destructive retention: keep the newest `retain` manifests, delete
    * older manifests and any data dir no retained manifest references.
    * Returns the deleted data dirs. */
  def vacuum(spark: SparkSession, path: String, retain: Int = 1): Seq[String] = {
    require(retain >= 1, "must retain at least the latest version")
    val f = fs(spark, path)
    val commits = history(spark, path)
    val (drop, keep) = commits.splitAt(math.max(0, commits.size - retain))
    val referenced = keep.flatMap(_.dirs).toSet
    val doomed = drop.flatMap(_.dirs).distinct.filterNot(referenced.contains)
    doomed.foreach(d => f.delete(new Path(path, d), true))
    drop.foreach(c => f.delete(manifestPath(path, c.version), false))
    doomed
  }
}
