package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog/docs publication: a table-of-tables materialized from
  * TableLog manifests — the dbt-docs analog of the reference's publish
  * stage (reference `airflow/dags/lakehouse_pipelines.py:93-95` runs
  * `dbt docs generate` after the build; the artifact users browse is
  * exactly name/schema/freshness/row-count per model), plus the
  * lineage edge table the reference gets from its OpenLineage backend
  * (`terraform/main.tf:104-107` — input→output dataset events per
  * run, browsable as a graph).
  *
  * One row per table: name, current version, last action, column
  * count, row count, hours-since-load freshness, schema JSON.
  * Everything resolves from MANIFESTS — `countRows` answers from file
  * stats without opening a data file, the schema is the
  * manifest-recorded one, and freshness comes from the manifest's
  * file-level max bounds on the declared loaded-at column. Tables
  * whose manifests predate stats/schema tracking publish NULL for the
  * missing fields rather than falling back to data scans: a catalog
  * build over a 10k-table lake must stay metadata-only, never
  * serialize 10k scans through the driver loop. The loop itself is
  * driver-side by design — a catalog is metadata-scale (one row per
  * TABLE, not per data row).
  */
object Catalog {

  /** Source-freshness spec for the catalog: `nowMs` pins "now" (pass a
    * wall clock in production, a literal in tests/oracles — same
    * pinning recipe as Expectations.freshnessStatus), `colFor` names
    * each table's loaded-at column (tables absent from the map, or
    * whose manifests don't track the column, publish NULL freshness —
    * dbt likewise only reports freshness where a source declares
    * `loaded_at_field`, reference `dbt/models/schema.yml:10-13`). */
  final case class FreshnessSpec(nowMs: Long, colFor: Map[String, String])

  /** Max value of `colName` across a snapshot's file stats, as epoch
    * millis — metadata-only freshness resolution. None when any dir
    * lacks stats coverage (fresher rows could hide there), when no
    * file has a non-null bound, or when the column isn't a
    * timestamp/date. */
  private def statsMaxMs(commit: TableLog.Commit, path: String,
      colName: String): Option[Long] = {
    if (commit.stats.isEmpty ||
      TableLog.untrackedDirPaths(commit, path).nonEmpty) return None
    val bounds = commit.stats.flatMap(_.cols.get(colName)).flatMap { cs =>
      cs.max.flatMap(m => cs.typ match {
        case "ts"   => Some(m.toLong / 1000L)          // micros → ms
        case "date" => Some(m.toLong * 86400000L)      // epoch-day → ms
        case _      => None
      })
    }
    if (bounds.isEmpty) None else Some(bounds.max)
  }

  /** Build the catalog frame for `tables` (name → TableLog path).
    * Tables whose path has no committed history are skipped — they
    * don't exist yet from a reader's point of view. `freshness` adds a
    * `freshness_hours` column (hours between its pinned now and the
    * stats-resolved max of the table's loaded-at column); the raw
    * IEEE division is emitted unrounded so the value is reproducible
    * bit-for-bit from the same integers in any engine.
    *
    * Contract: `n_columns` and `row_count` are NULLABLE — they resolve
    * from manifest metadata alone (schema line, file stats), and
    * manifests written before schema/stats tracking existed publish
    * NULL rather than triggering a data scan. A metadata-only build
    * stays O(tables) at any corpus size; consumers needing counts for
    * a pre-tracking table should recommit it, not scan here. */
  def build(spark: SparkSession, tables: Map[String, String],
      freshness: Option[FreshnessSpec] = None): DataFrame = {
    import spark.implicits._
    val rows = tables.toSeq.sortBy(_._1).flatMap { case (name, path) =>
      TableLog.history(spark, path).lastOption.map { c =>
        val schema = c.schema
        val nColumns: Option[Int] = schema.map(_.fields.length)
        val rowCount: Option[Long] = TableLog.statsRowCount(c, path)
        val fresh: Option[Double] = freshness.flatMap(spec =>
          spec.colFor.get(name)
            .flatMap(statsMaxMs(c, path, _))
            .map(maxMs => (spec.nowMs - maxMs) / 3600000.0))
        (name, c.version, c.action, nColumns, rowCount, fresh,
          schema.map(_.json).orElse(c.schemaJson).getOrElse(""))
      }
    }
    val df = rows.toDF("table_name", "version", "last_action",
      "n_columns", "row_count", "freshness_hours", "schema_json")
    if (freshness.isDefined) df else df.drop("freshness_hours")
  }

  /** Lineage edge frame over `tables`: one row per (commit, input) —
    * which table@version each commit consumed, across the FULL history
    * (lineage answers questions about old versions too: "which feed
    * produced the snapshot we served last Tuesday"). `input_version`
    * is NULL for unversioned external inputs (raw feeds, views). */
  def lineage(spark: SparkSession, tables: Map[String, String]): DataFrame = {
    import spark.implicits._
    allCommits(spark, tables).flatMap { case (name, c) =>
      c.inputs.map(i => (name, c.version, i.table, i.version, c.action))
    }.toDF("output_table", "output_version",
      "input_table", "input_version", "action")
  }

  /** Every commit of every listed table, name-sorted — the one walk
    * both lineage views ([[lineage]], [[downstream]]) derive their
    * edges from, so edge semantics can't diverge between them. */
  private def allCommits(spark: SparkSession,
      tables: Map[String, String]): Seq[(String, TableLog.Commit)] =
    tables.toSeq.sortBy(_._1).flatMap { case (name, path) =>
      TableLog.history(spark, path).map(name -> _)
    }

  /** Transitive upstream closure of `table`: every (table, version)
    * reachable by following the LATEST commit's inputs of each listed
    * table, then each upstream table's inputs AT THE RECORDED VERSION
    * — version-accurate provenance, not a current-state walk: when the
    * mart consumed `ord@2` and `ord` has since advanced to v5, the
    * closure reports what fed v2, never v5's feeds. An edge with no
    * recorded version (unversioned external input) falls back to that
    * table's latest commit; an edge whose RECORDED version is missing
    * from history (e.g. vacuumed away) terminates the walk at that
    * edge — substituting a different version's inputs would be the
    * current-state walk this contract rules out. Inputs that aren't
    * listed tables are external leaves and terminate the walk. The
    * walk is driver-side over manifest metadata (edge count, not
    * data), and the visited-set guard makes cycles terminate. */
  def upstream(spark: SparkSession, tables: Map[String, String],
      table: String): Seq[TableLog.InputRef] = {
    // one manifest pass up front: re-reading history per visited node
    // would re-list and re-parse a table's whole log once per hop
    val byName = allCommits(spark, tables).groupMap(_._1)(_._2)
    val acc = scala.collection.mutable.LinkedHashSet.empty[TableLog.InputRef]
    def inputsAt(name: String, version: Option[Int]): Seq[TableLog.InputRef] = {
      val h = byName.getOrElse(name, Seq.empty)
      version.map(v => h.find(_.version == v)).getOrElse(h.lastOption)
        .toSeq.flatMap(_.inputs)
    }
    def walk(name: String, version: Option[Int]): Unit =
      inputsAt(name, version).foreach { in =>
        if (acc.add(in)) walk(in.table, in.version)
      }
    walk(table, None)
    acc.toSeq.sortBy(r => (r.table, r.version.getOrElse(-1)))
  }

  /** Transitive DOWNSTREAM closure of `source`: every commit
    * (table, version) across `tables` whose inputs — directly or
    * through other commits — include `source`, the impact-analysis
    * complement of [[upstream]] ("this feed shipped bad data; which
    * marts are poisoned"). `source` may be a listed table or an
    * external input name (a feed) — it is matched against edge input
    * names. Propagation is deliberately OVER-approximate where
    * [[upstream]] is exact: a versioned edge propagates taint from
    * exactly that (table, version); an edge recorded without a
    * version propagates if ANY version of its input table is tainted
    * — impact analysis must answer "might be affected", so unknown
    * versions widen the set rather than narrow it. Taint also carries
    * FORWARD through a table's own versions: every commit that derives
    * from the previous snapshot (append, merge, constraint, delete,
    * rollback — anything but an overwrite, which rebuilds content
    * purely from its declared inputs) gets an implicit
    * (table, v-1) → (table, v) edge, because a tainted version's rows
    * physically persist in later snapshots even when the later commit's
    * declared inputs are clean. Driver-side fixpoint over the manifest
    * edge list (edge count, not data); monotone marking terminates on
    * cycles. */
  def downstream(spark: SparkSession, tables: Map[String, String],
      source: String): Seq[(String, Int)] = {
    val commits = allCommits(spark, tables)
    val declared = commits.flatMap { case (name, c) =>
      c.inputs.map(i => (name, c.version, i.table, i.version))
    }
    val carried = commits.flatMap {
      // rollback's snapshot is some EARLIER version's content, and the
      // manifest doesn't record which — widen to every prior version
      // (over-approximate, per contract) so a rollback to a tainted
      // snapshot can't escape through an intervening clean overwrite
      case (name, c) if c.action == "rollback" && c.version > 1 =>
        (1 until c.version).map(u => (name, c.version, name, Some(u)))
      case (name, c) if c.version > 1 && c.action != "overwrite" =>
        Seq((name, c.version, name, Some(c.version - 1)))
      case _ => Seq.empty
    }
    val edges = declared ++ carried
    val marked = scala.collection.mutable.Set.empty[(String, Int)]
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (out, v, inT, inV) =>
        val tainted = inT == source ||
          inV.map(iv => marked((inT, iv)))
            .getOrElse(marked.exists(_._1 == inT))
        if (tainted && marked.add((out, v))) changed = true
      }
    }
    marked.toSeq.sorted
  }

  /** Everything one pipeline run wrote, from manifests alone: one row
    * per commit across `tables` whose recorded run id equals `runId` —
    * the OpenLineage run-facet query ("show me run X's outputs"),
    * answerable because [[TableLog.withRunId]] stamps each commit.
    * Driver-side over manifest metadata, like the rest of the
    * catalog. */
  def commitsOfRun(spark: SparkSession, tables: Map[String, String],
      runId: String): DataFrame = {
    import spark.implicits._
    allCommits(spark, tables)
      .filter(_._2.runId.contains(runId))
      .map { case (name, c) => (name, c.version, c.action, c.timestampMs) }
      .toDF("table_name", "version", "action", "committed_at_ms")
  }

  /** Materialize the catalog AS a TableLog table at `path` (overwrite
    * commit — the publish stage republishes the whole catalog each
    * run, like dbt docs), and optionally the lineage edges at
    * `lineagePath`. Both commits record the published tables at their
    * current versions as their OWN lineage inputs — the catalog's
    * provenance is browsable through the same `_lineage` table it
    * publishes. Returns the catalog's committed version. */
  def publish(spark: SparkSession, tables: Map[String, String],
      path: String, freshness: Option[FreshnessSpec] = None,
      lineagePath: Option[String] = None): TableLog.Commit = {
    val inputs = tables.toSeq.sortBy(_._1)
      .map { case (n, p) => TableLog.inputRef(spark, p, n) }
    lineagePath.foreach(lp =>
      TableLog.commitOverwrite(spark, lp, lineage(spark, tables), inputs))
    TableLog.commitOverwrite(spark, path, build(spark, tables, freshness),
      inputs)
  }
}
