package graft

import java.net.URI

import org.apache.hadoop.fs.RawLocalFileSystem

/** A non-local-scheme Hadoop FileSystem backed by the local disk — the
  * standard trick for exercising the remote-store code paths (scheme
  * resolution, lease locking instead of OS byte-range locks, FileSystem
  * rename semantics) without a real HDFS/S3 endpoint. Registered under
  * `fs.graftmock.impl`; a table at `graftmock:///...` must behave exactly
  * like one at a plain local path.
  */
class MockRemoteFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftmock"
  override def getUri: URI = URI.create("graftmock:///")

  // record every rename source path: on a real object store each rename is
  // a full COPY + delete, so specs assert the data path never renames
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    MockRemoteFileSystem.renamed.add(src.toUri.getPath)
    super.rename(src, dst)
  }

  // record which THREAD performs per-file metadata/read RPCs: on an
  // object store each is a round trip, and specs assert the publish
  // path's per-data-file reads run on executor task threads (one
  // distributed job), never serialized through the driver
  override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    MockRemoteFileSystem.record(p)
    super.getFileStatus(p)
  }

  override def open(p: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    MockRemoteFileSystem.record(p)
    super.open(p, bufferSize)
  }

  // every create and append opens its stream here
  override protected def createOutputStreamWithMode(p: org.apache.hadoop.fs.Path,
      append: Boolean, permission: org.apache.hadoop.fs.permission.FsPermission)
      : java.io.OutputStream = {
    if (MockRemoteFileSystem.failWrite(p.toUri.getPath))
      throw new java.io.IOException(s"injected write failure: $p")
    super.createOutputStreamWithMode(p, append, permission)
  }
}

object MockRemoteFileSystem {
  val renamed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def resetRenames(): Unit = renamed.clear()
  def renames: Set[String] = {
    import scala.jdk.CollectionConverters._
    renamed.asScala.toSet
  }

  // (path, thread name) per getFileStatus/open — see the instance methods
  val accessed = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  @volatile var recording = false
  private[graft] def record(p: org.apache.hadoop.fs.Path): Unit =
    if (recording) accessed.add((p.toUri.getPath, Thread.currentThread().getName))
  def resetAccesses(): Unit = accessed.clear()
  def accesses: Set[(String, String)] = {
    import scala.jdk.CollectionConverters._
    accessed.asScala.toSet
  }

  /** An injected write failure: opening a file for writing throws for
    * every path this accepts.
    */
  @volatile var failWrite: String => Boolean = _ => false
}
