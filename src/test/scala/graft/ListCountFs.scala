package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path,
  RawLocalFileSystem}

/** The checksummed local file system under the `listcount:` scheme,
  * counting every directory listing, `exists` call and file open made
  * through it, and recording the paths they named. A spec registers it
  * with `fs.listcount.impl` and names its tables `listcount://<path>`. */
class ListCountFs extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("listcount:///")
}) {
  override def listStatus(p: Path): Array[FileStatus] = {
    ListCountFs.listings.incrementAndGet()
    ListCountFs.touched.add("list " + p.toUri.getPath)
    super.listStatus(p)
  }

  override def exists(p: Path): Boolean = {
    ListCountFs.touched.add("exists " + p.toUri.getPath)
    super.exists(p)
  }

  override def open(p: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    ListCountFs.touched.add("open " + p.toUri.getPath)
    super.open(p, bufferSize)
  }
}

object ListCountFs {
  val listings = new AtomicLong
  val touched = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** The "<op> <path>" calls `body` made through the file system. */
  def during[T](body: => T): (T, Seq[String]) = {
    touched.clear()
    val r = body
    val calls = touched.toArray(Array.empty[String]).toSeq
    touched.clear()
    (r, calls)
  }
}
