package graft.lake

import java.io.{DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.util.sketch.BloomFilter

/** The per-file bloom sidecar format behind [[BloomIndex]] and
  * [[TextIndex]]: one sidecar named `name` INSIDE each immutable data
  * directory, holding one bloom per (data file, indexed column). The
  * underscore prefix makes parquet scans ignore it; it travels with the
  * directory through every append that carries the dir forward (no
  * per-commit rewrite), and [[TableLog.vacuum]] deletes it with its dir.
  *
  * Byte layout: `magic` (int), fpp (double), then per bloom the file
  * name (UTF), the column (UTF), the serialized bloom's length (int) and
  * its `BloomFilter.writeTo` bytes.
  *
  * The indexes differ only in what a value puts into a bloom (`put`),
  * how large each file's bloom is (`capacity`) and the probe test a
  * reader applies ([[keep]]'s `test`).
  */
private[lake] final class BloomSidecar(name: String, magic: Int) {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Index every data dir of the LATEST snapshot that lacks a sidecar —
    * the backfill form (CREATE BLOOMFILTER INDEX on an existing table).
    * Incremental by construction: dirs already indexed are skipped, so
    * steady-state cost after each append is O(the new dir). `capacity`
    * sizes each file's bloom, given the snapshot being indexed. Returns
    * the dirs indexed. */
  def ensure(spark: SparkSession, path: String, cols: Seq[String],
      fpp: Double, put: (BloomFilter, Any) => Unit)(
      capacity: TableLog.Commit => String => Long): Seq[String] = {
    val commit = TableLog.history(spark, path).lastOption
      .getOrElse(throw new IllegalArgumentException(s"no commits at $path"))
    val f = fs(spark, path)
    val todo = commit.dirs.filterNot(d =>
      f.exists(new Path(s"$path/$d", name)))
    val cap = capacity(commit)
    todo.foreach(d => index(spark, path, d, cols, fpp, cap, put))
    todo
  }

  /** Build the sidecar for one data directory of `path` in one
    * column-pruned pass: partial blooms per (file, column) per partition,
    * merged by key, so the shuffle carries #files × #cols sketches, never
    * data rows. Idempotent: rebuilding replaces the sidecar atomically
    * (write temp + rename), and concurrent readers of the old sidecar
    * are unaffected (worst case they keep the old pruning, which is only
    * ever conservative-or-equal). */
  private def index(spark: SparkSession, path: String, dirRel: String,
      cols: Seq[String], fpp: Double, capacity: String => Long,
      put: (BloomFilter, Any) => Unit): Unit = {
    require(cols.nonEmpty, "need at least one column to index")
    val absDir = s"$path/$dirRel"
    val df = spark.read.parquet(absDir)
      .select(input_file_name().as("__file") +: cols.map(col): _*)
    val colArr = cols.toArray
    val partials = df.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[(String, Int), BloomFilter]
      it.foreach { row =>
        val file = BloomSidecar.fileName(row.getString(0))
        var i = 0
        while (i < colArr.length) {
          val v = row.get(i + 1)
          if (v != null)
            put(acc.getOrElseUpdate((file, i),
              BloomFilter.create(capacity(file), fpp)), v)
          i += 1
        }
      }
      acc.iterator
    }.reduceByKey((a, b) => a.mergeInPlace(b))
    val f = fs(spark, path)
    val tmp = new Path(absDir,
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}$name")
    val out = new DataOutputStream(f.create(tmp, true))
    try {
      out.writeInt(magic)
      out.writeDouble(fpp)
      // stream one merged bloom at a time — driver memory is one
      // sketch, not the commit's worth of them
      partials.toLocalIterator.foreach { case ((file, ci), bloom) =>
        out.writeUTF(file)
        out.writeUTF(colArr(ci))
        val bytes = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bytes)
        out.writeInt(bytes.size())
        out.write(bytes.toByteArray)
      }
    } finally out.close()
    val dest = new Path(absDir, name)
    f.delete(dest, false)
    if (!f.rename(tmp, dest))
      throw new IllegalStateException(s"could not publish $dest")
  }

  /** Sidecar entries for one data dir: file name -> col -> bloom.
    * `None` when the dir has no sidecar. */
  private def load(spark: SparkSession, path: String,
      dirRel: String): Option[Map[String, Map[String, BloomFilter]]] = {
    val f = fs(spark, path)
    val p = new Path(s"$path/$dirRel", name)
    if (!f.exists(p)) return None
    val in = new DataInputStream(f.open(p))
    try {
      require(in.readInt() == magic, s"$p is not a $name sidecar")
      in.readDouble() // fpp, informational
      val acc = scala.collection.mutable.HashMap
        .empty[String, Map[String, BloomFilter]]
      while (in.available() > 0) {
        val file = in.readUTF()
        val c = in.readUTF()
        val n = in.readInt()
        val bytes = new Array[Byte](n)
        in.readFully(bytes)
        val bloom = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bytes))
        acc(file) = acc.getOrElse(file, Map.empty) + (c -> bloom)
      }
      Some(acc.toMap)
    } finally in.close()
  }

  /** A [[TableLog.scanPaths]] keep predicate over `commit`'s files: a
    * file is dropped only when its bloom for `colName` fails `test`. A
    * file no bloom covers (no sidecar in its dir, column not indexed) is
    * kept — pruning is only ever conservative. Every dir's sidecar is
    * loaded once, when the first file is tested. */
  def keep(spark: SparkSession, path: String, commit: TableLog.Commit,
      colName: String)(test: BloomFilter => Boolean)
      : TableStats.FileStats => Boolean = {
    lazy val loaded = commit.dirs.map(d => d -> load(spark, path, d)).toMap
    f => {
      val dir = f.file.substring(0, f.file.lastIndexOf('/'))
      loaded.getOrElse(dir, None)
        .flatMap(_.get(BloomSidecar.fileName(f.file)))
        .flatMap(_.get(colName))
        .forall(test)
    }
  }
}

private[lake] object BloomSidecar {
  def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)
}
