package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus,
  Path, PathFilter, RemoteIterator}
import org.apache.spark.sql.SparkSession

/** The local file system, counting the status, existence, listing and
  * glob calls made outside Spark's task threads: the metadata work a
  * query does before any task opens a file.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.count

  override def getFileStatus(p: Path): FileStatus = {
    count(); super.getFileStatus(p)
  }
  override def exists(p: Path): Boolean = { count(); super.exists(p) }
  override def listStatus(p: Path): Array[FileStatus] = {
    count(); super.listStatus(p)
  }
  override def listLocatedStatus(
      p: Path): RemoteIterator[LocatedFileStatus] = {
    count(); super.listLocatedStatus(p)
  }
  override def globStatus(p: Path): Array[FileStatus] = {
    count(); super.globStatus(p)
  }
  override def globStatus(p: Path, f: PathFilter): Array[FileStatus] = {
    count(); super.globStatus(p, f)
  }
}

object CountingFileSystem {
  private val calls = new AtomicLong

  private def count(): Unit =
    if (!Thread.currentThread.getName.startsWith("Executor task launch"))
      calls.incrementAndGet()

  /** `f`'s result and the calls it made on `file:` paths outside task
    * threads. Every Hadoop configuration copied from the SparkContext's while
    * `f` runs uses this file system, uncached.
    */
  def counted[T](spark: SparkSession)(f: => T): (Long, T) = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[CountingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    calls.set(0)
    try {
      val r = f
      (calls.get, r)
    } finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
  }
}
