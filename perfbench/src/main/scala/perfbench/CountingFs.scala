package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, RemoteIterator}

/** The local file system, counting the requests an object store would
 * bill: listings, and opens plus status reads. Installed for `file:` only
 * in the traced run (`spark.hadoop.fs.file.impl`); Hadoop's own counters
 * for the local file system count bytes only. */
class CountingFs extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFs.lists.incrementAndGet()
    super.listStatus(p)
  }

  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
    CountingFs.lists.incrementAndGet()
    super.listStatusIterator(p)
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.reads.incrementAndGet()
    super.open(p, bufferSize)
  }

  override def getFileStatus(p: Path): FileStatus = {
    CountingFs.reads.incrementAndGet()
    super.getFileStatus(p)
  }
}

object CountingFs {
  val lists = new AtomicLong(0L)
  val reads = new AtomicLong(0L)
}
