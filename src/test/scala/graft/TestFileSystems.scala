package graft

import java.io.IOException
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream,
  Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under the `crashfs:` scheme. The first `create`
  * of a path that [[CrashingFs.armed]] accepts crashes inside the write:
  * the file is created empty, then the call throws. */
class CrashingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")

  override def create(f: HPath, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    crashAt(f, super.create(f, overwrite, bufferSize, replication,
      blockSize, progress))

  override def create(f: HPath, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    crashAt(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  private def crashAt(f: HPath, out: FSDataOutputStream): FSDataOutputStream =
    if (!CrashingFs.fire(f)) out
    else {
      out.close()
      throw new IOException(s"injected crash inside the write of $f")
    }
}

/** One armed crash: the first path [[armed]] accepts fires it. */
class Trap {
  @volatile var armed: Option[HPath => Boolean] = None

  /** Whether `f` is the armed path; disarms when it is. */
  def fire(f: HPath): Boolean = synchronized {
    val hit = armed.exists(_(f))
    if (hit) armed = None
    hit
  }
}

object CrashingFs extends Trap

/** The local file system under the `delcrashfs:` scheme. The first
  * `delete` of a path that [[DeleteCrashingFs.armed]] accepts throws
  * before anything is deleted. */
class DeleteCrashingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("delcrashfs:///")

  override def delete(f: HPath, recursive: Boolean): Boolean =
    if (DeleteCrashingFs.fire(f))
      throw new IOException(s"injected crash before the delete of $f")
    else super.delete(f, recursive)
}

object DeleteCrashingFs extends Trap

/** The local file system under the `countfs:` scheme, counting the
  * `_manifests/` listings, the manifest reads, the `__bucket=`
  * directory listings and the parquet data-file opens it serves. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")

  override def listStatus(f: HPath): Array[FileStatus] = {
    if (f.getName == "_manifests") CountingFs.manifestListings.incrementAndGet()
    if (f.getName.startsWith("__bucket=")) CountingFs.bucketListings.incrementAndGet()
    super.listStatus(f)
  }

  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    if (f.getParent.getName == "_manifests") CountingFs.manifestReads.incrementAndGet()
    if (f.getName.endsWith(".parquet")) CountingFs.dataFileOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingFs {
  val manifestListings, manifestReads, bucketListings, dataFileOpens =
    new AtomicInteger()

  def reset(): Unit =
    Seq(manifestListings, manifestReads, bucketListings, dataFileOpens)
      .foreach(_.set(0))
}
