package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocatedFileStatus, Path, RemoteIterator}

/** The specs' local filesystem: [[graft.util.GraftLocalFileSystem]]
  * plus a count of the directory listings and file opens made below a
  * watched directory (see [[CountingLocalFileSystem.watching]]) — the
  * evidence that a planning path reads no metadata file. Nothing is
  * counted while no directory is watched. */
class CountingLocalFileSystem extends graft.util.GraftLocalFileSystem {
  import CountingLocalFileSystem.count

  override def listStatus(f: Path): Array[FileStatus] = {
    count("listStatus", f); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    count("listStatus", f); super.listLocatedStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count("open", f); super.open(f, bufferSize)
  }
}

object CountingLocalFileSystem {
  @volatile private var watched: Option[String] = None
  private val counts = new ConcurrentHashMap[String, AtomicLong]()

  private def count(op: String, f: Path): Unit =
    watched.foreach { dir =>
      if (f.toUri.getPath.startsWith(dir))
        counts.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()
    }

  /** `body`'s result and the operations it made below `dir` (a local
    * path), by kind: "listStatus", "open". */
  def watching[T](dir: String)(body: => T): (T, Map[String, Long]) = synchronized {
    counts.clear()
    watched = Some(new Path(new java.io.File(dir).getAbsolutePath).toUri.getPath)
    try {
      val r = body
      import scala.jdk.CollectionConverters._
      (r, counts.asScala.map { case (k, v) => k -> v.get }.toMap)
    } finally watched = None
  }
}
