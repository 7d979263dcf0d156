package graft.engine

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local file system under the test-only `countfs` scheme, counting the
  * directory listings and file opens made through it. A `FilterFileSystem`
  * would hand `countfs:` paths unchanged to the local file system, which
  * rejects a foreign scheme, so this extends the raw local one and only
  * renames its scheme, the way Spark's own file-index suites mock a file
  * system. */
final class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = CountingFs.Root
  override def getScheme: String = CountingFs.Scheme

  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFs.record("list", p)
    super.listStatus(p)
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.record("open", p)
    super.open(p, bufferSize)
  }
}

object CountingFs {
  val Scheme = "countfs"
  private val Root = URI.create(s"$Scheme:///")

  /** Registers the scheme with `spark`'s Hadoop conf; returns `localDir`
    * addressed through it. */
  def uri(spark: SparkSession, localDir: String): String = {
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CountingFs].getName)
    s"$Scheme://$localDir"
  }

  private val calls = new ConcurrentHashMap[(String, String), AtomicInteger]()

  private def record(op: String, p: Path): Unit = {
    calls.computeIfAbsent((op, p.toUri.getPath), _ => new AtomicInteger).incrementAndGet()
    ()
  }

  /** `op` ("list" or "open") calls made on `localPath` or below it while `f`
    * runs, with `f`'s result. */
  def during[T](op: String, localPath: String)(f: => T): (T, Int) = {
    def count = calls.asScala.iterator.collect {
      case ((`op`, p), n) if p == localPath || p.startsWith(localPath + "/") => n.get
    }.sum
    val before = count
    val out = f
    (out, count - before)
  }
}
