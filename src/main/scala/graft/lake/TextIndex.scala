package graft.lake

import org.apache.spark.sql.SparkSession

/** Per-file TRIGRAM bloom index for substring-search file skipping —
  * the pruning tier for `LIKE '%needle%'`, where both min/max stats
  * and equality blooms ([[BloomIndex]]) are useless: a substring
  * probe matches no file bound and no whole-value hash. Instead each
  * file's sidecar holds a bloom of the DISTINCT CHARACTER TRIGRAMS of
  * the indexed column; a value containing the needle must contain
  * every trigram of the needle, so a file whose bloom misses ANY
  * needle trigram provably holds no match and is never opened. This
  * is the classic trigram-index design of text search engines
  * (pg_trgm, code-search n-gram indexes), reduced to a per-file
  * skipping test. False positives only ever cost an extra file read —
  * the residual `contains` filter keeps results exact.
  *
  * Same sidecar format as [[BloomIndex]] ([[BloomSidecar]]): one
  * `_trigram.idx` per data directory, built in one column-pruned pass
  * over the directory.
  */
object TextIndex {

  private val sidecar = new BloomSidecar("_trigram.idx", 0x47545249) // "GTRI"

  /** Probes shorter than a trigram can't use the index (they have no
    * trigram to test) and fall back to a full scan. */
  val MinNeedleLength = 3

  /** Character trigrams of `s` (overlapping, no padding). */
  private[lake] def trigrams(s: String): Iterator[String] =
    if (s == null || s.length < 3) Iterator.empty
    else (0 to s.length - 3).iterator.map(i => s.substring(i, i + 3))

  /** Bloom capacity per file: the expected DISTINCT trigram count, which
    * for natural text saturates around tens of thousands regardless of
    * row count (trigram space, not corpus size). */
  private val ExpectedTrigrams = 200000L

  /** Index every data dir of the LATEST snapshot that lacks a sidecar
    * ([[BloomSidecar.ensure]]; steady-state cost after each append is
    * O(the new dir)). Returns the dirs indexed. */
  def ensure(spark: SparkSession, path: String, cols: Seq[String],
      fpp: Double = 0.01): Seq[String] =
    sidecar.ensure(spark, path, cols, fpp,
      (b, v) => trigrams(v.toString).foreach(b.putString))(
      _ => _ => ExpectedTrigrams)

  /** Keep predicate for [[TableLog.readWhereContains]]: could the file
    * hold a value of `colName` containing `needle`? False only when the
    * sidecar PROVES some needle trigram is absent; needles shorter than
    * a trigram and files without a sidecar are always kept. */
  private[lake] def keep(spark: SparkSession, path: String,
      commit: TableLog.Commit, colName: String,
      needle: String): TableStats.FileStats => Boolean =
    if (needle.length < MinNeedleLength) _ => true
    else sidecar.keep(spark, path, commit, colName)(b =>
      trigrams(needle).forall(b.mightContainString))
}
