package graft

import java.io.{ByteArrayOutputStream, OutputStream}
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** S3-semantics FileSystem shim over local disk, for the TableLog
  * publish-contract test:
  *
  *  - `rename` is a server-side COPY followed by a DELETE — two
  *    operations, NOT atomic, and the copy OVERWRITES any existing
  *    destination (the semantics that make tmp+rename publish unsafe
  *    on object stores);
  *  - `create(path, overwrite = false)` is a CONDITIONAL PUT: writes
  *    buffer in memory and the If-None-Match check runs at close()
  *    under the store's internal mutex, so the object appears
  *    atomically-whole and exactly one concurrent putter wins — the
  *    loser's close() throws FileAlreadyExistsException and nothing
  *    of the loser's upload is visible.
  *
  * [[MockS3FileSystem.conditionalPutHook]] fires when a conditional
  * put of a `*.manifest` object OPENS — the injection point where a
  * test runs a concurrent committer inside the victim's create→close
  * window (re-entrant fires are suppressed so the injected committer
  * publishes normally). */
class MockS3FileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("s3a://mockbucket/")
  override def getScheme: String = "s3a"

  // RawLocalFileSystem's statuses load their permissions lazily from a
  // java.io.File built from the path URI, which fails for s3a: paths —
  // so a Spark read listing one data dir threw. Statuses are handed out
  // with their fields copied and default permissions instead.
  override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(plain)
  private def plain(s: FileStatus): FileStatus = new FileStatus(s.getLen,
    s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime,
    s.getPath)

  override def rename(src: Path, dst: Path): Boolean = {
    val s = pathToFile(src)
    val d = pathToFile(dst)
    if (!s.exists()) false
    else {
      if (s.isDirectory) super.rename(src, dst)   // data-dir moves
      else {
        java.nio.file.Files.copy(s.toPath, d.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        s.delete()
        true
      }
    }
  }

  override def create(p: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    if (overwrite)
      super.create(p, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    else conditionalPut(p)

  // FileSystem.create(Path, boolean) funnels through THIS overload on
  // RawLocalFileSystem, not the permission one — intercept both
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    if (overwrite)
      super.create(p, overwrite, bufferSize, replication, blockSize,
        progress)
    else conditionalPut(p)

  private def conditionalPut(p: Path): FSDataOutputStream = {
    MockS3FileSystem.fireHook(p)
    val buf = new ByteArrayOutputStream()
    val target = pathToFile(p)
    new FSDataOutputStream(new OutputStream {
      def write(b: Int): Unit = buf.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        buf.write(b, off, len)
      override def close(): Unit =
        MockS3FileSystem.putLock.synchronized {
          if (target.exists())
            throw new org.apache.hadoop.fs.FileAlreadyExistsException(
              s"conditional put lost: $p")
          java.nio.file.Files.createDirectories(
            target.toPath.getParent)
          val out = java.nio.file.Files.newOutputStream(
            target.toPath,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          try out.write(buf.toByteArray) finally out.close()
        }
    }, null)
  }
}

object MockS3FileSystem {
  /** Serializes conditional-put completion — the store's internal
    * single-winner guarantee. */
  val putLock = new Object

  /** Test-injected action run when a conditional put of a manifest
    * object opens; reset to a no-op after use. */
  @volatile var conditionalPutHook: Path => Unit = _ => ()

  private val inHook = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }

  private[graft] def fireHook(p: Path): Unit =
    if (p.getName.endsWith(".manifest") && !inHook.get()) {
      inHook.set(true)
      try conditionalPutHook(p)
      finally inHook.set(false)
    }
}
