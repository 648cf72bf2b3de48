package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TableLog
import graft.operators.{Curation, Scrub}
import graft.quality.Expectations._

/** The curation pass as a PRODUCT job: run
  * [[graft.operators.Curation.pipeline]] over a raw corpus, validate
  * the output contract, and publish the curated snapshot into a
  * [[TableLog]]-versioned table — so downstream training runs read a
  * pinned table version, and a failed quality contract leaves the
  * previous version untouched (validate-before-publish, as a table
  * commit).
  *
  * Each run publishes a REPLACE snapshot, not a keyed merge: the
  * pipeline's invariants (prefix dedup, quality floor) hold over the
  * whole corpus it saw, and a merge would strand rows that dropped out
  * of the curated output — a doc deleted upstream, or out-competed for
  * its dedup prefix by a later arrival — silently breaking those
  * invariants in the published table. Snapshot semantics + time travel
  * give the same operational story (pin, diff, roll back) without that
  * hole.
  *
  * Scale shape inherits from the pieces: the pipeline is one scan +
  * one keyed window; the overwrite commit is a straight write of the
  * curated snapshot; the expectation suite is a single aggregate pass.
  */
object CurationJob {

  /** Output contract for the curated corpus table. */
  def suite(minDistinctRatio: Double,
      splits: Seq[(String, Double)]): Suite = Suite(
    name = "curated_corpus",
    columnsOrdered = Some(ColumnsOrdered(
      Seq("doc_id", "split", "n_tokens", "distinct_ratio", "redacted"))),
    checks = Seq(
      NotNull("doc_id"), NotNull("split"), NotNull("redacted"),
      MinBound("n_tokens", 2),
      MinBound("distinct_ratio", minDistinctRatio),
      RegexMatch("split",
        splits.map(_._1).mkString("(", "|", ")") + "$")))

  /** Run the pipeline over `docs`, validate the output contract, and
    * publish the curated corpus as a new snapshot version at
    * `tablePath`. The pipeline runs once: its output is written, the
    * contract is checked on the written files before the manifest
    * publish, and a failed contract removes them and leaves the table
    * at its prior version. Returns the commit and the per-split mix
    * report of the published snapshot. */
  def run(spark: SparkSession, docs: DataFrame, tablePath: String,
      rules: Seq[Scrub.Rule],
      minDistinctRatio: Double = 0.35,
      dedupPrefix: Int = 40,
      splits: Seq[(String, Double)] =
        Seq(("train", 0.90), ("val", 0.07), ("test", 0.03)))
      : (TableLog.Commit, DataFrame) = {
    val curated = Curation.pipeline(docs, rules, minDistinctRatio,
      dedupPrefix, splits, withText = true)
    val commit = TableLog.commitOverwrite(spark, tablePath, curated,
      suite = Some(suite(minDistinctRatio, splits)))
    val mix = TableLog.read(spark, tablePath)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("bigint").as("n_tokens"))
      .orderBy("split")
    (commit, mix)
  }
}
