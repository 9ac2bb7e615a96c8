package graft

import java.net.URI

import org.apache.hadoop.fs.Path

/** Local filesystem under a `countfs://` scheme that RECORDS every
  * open() and listStatus() — planning-I/O assertions (e.g. "the kafka source's
  * endOffsets opens ONLY the active segment", "a Delta statement opens
  * each log commit once") read the log. Shared static state is fine:
  * tests run in one JVM (local mode). Writes set permissions without
  * forking (see NioRawLocalFileSystem). */
class CountingFileSystem extends graft.sources.NioRawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFileSystem.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
}

object CountingFileSystem {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { opened.clear(); listed.clear() }
  def openedPaths: Seq[String] = {
    import scala.jdk.CollectionConverters._
    opened.asScala.toSeq
  }
  def listedPaths: Seq[String] = {
    import scala.jdk.CollectionConverters._
    listed.asScala.toSeq
  }
}
