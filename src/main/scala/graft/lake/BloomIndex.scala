package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.sketch.BloomFilter

/** Per-file bloom-filter index for point-lookup file skipping — the
  * pruning tier min/max stats cannot provide. [[TableStats]] bounds
  * prune RANGE predicates on clustered columns, but a point lookup on
  * a high-cardinality UNCLUSTERED key (order id, user id — the GDPR
  * "find this subject's rows" shape) matches every file's [min, max]
  * and degenerates to a full scan. A per-file bloom answers "might
  * this file contain value v?" with a bounded false-positive rate, so
  * an equality probe over 100 TB opens ~fpp of the files instead of
  * all of them. Same role as Delta's bloom-filter index / parquet
  * bloom pages, built from first principles on Spark's public
  * `util.sketch.BloomFilter` (mergeable, fixed hash family — the
  * build and probe sides can never disagree on hashing).
  *
  * Layout: one `_bloom.idx` sidecar per data directory, in the
  * [[BloomSidecar]] format, built in one column-pruned pass over the
  * directory (O(new data) when run per commit, never O(table)).
  * Readers consult sidecars lazily — only an equality-pruned read
  * ([[TableLog.readWhereEq]]) ever opens one.
  */
object BloomIndex {

  private val sidecar = new BloomSidecar("_bloom.idx", 0x47424c4d) // "GBLM"

  /** Columns must be integral or string — the key types a point
    * lookup probes. (Doubles canonicalize badly, and range types
    * belong to min/max stats anyway.) */
  private def put(b: BloomFilter, v: Any): Unit = v match {
    case null       => ()
    case l: Long    => b.putLong(l)
    case i: Int     => b.putLong(i.toLong)
    case s: Short   => b.putLong(s.toLong)
    case by: Byte   => b.putLong(by.toLong)
    case s: String  => b.putString(s)
    case other => throw new IllegalArgumentException(
      s"bloom index supports integral/string columns, got ${other.getClass}")
  }

  private def mightContain(b: BloomFilter, v: Any): Boolean = v match {
    case l: Long   => b.mightContainLong(l)
    case i: Int    => b.mightContainLong(i.toLong)
    case s: Short  => b.mightContainLong(s.toLong)
    case by: Byte  => b.mightContainLong(by.toLong)
    case s: String => b.mightContainString(s)
    case other => throw new IllegalArgumentException(
      s"bloom index supports integral/string probes, got ${other.getClass}")
  }

  /** Index every data dir of the LATEST snapshot that lacks a sidecar
    * ([[BloomSidecar.ensure]]). Each file's bloom is sized exactly from
    * its manifest row count — zero extra counting; a file the stats do
    * not cover is sized for a million rows. Returns the dirs indexed. */
  def ensure(spark: SparkSession, path: String, cols: Seq[String],
      fpp: Double = 0.01): Seq[String] =
    sidecar.ensure(spark, path, cols, fpp, put) { commit =>
      val rowsByFile = commit.stats
        .map(s => BloomSidecar.fileName(s.file) -> s.rows).toMap
      file => math.max(1L, rowsByFile.getOrElse(file, 1000000L))
    }

  /** Keep predicate for [[TableLog.readWhereEq]]: could the file hold
    * `value` in `colName`? True when no bloom covers the file/column. */
  private[lake] def keep(spark: SparkSession, path: String,
      commit: TableLog.Commit, colName: String,
      value: Any): TableStats.FileStats => Boolean =
    sidecar.keep(spark, path, commit, colName)(mightContain(_, value))
}
