package graft

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local disk under its own scheme, `graftfs:`. Lifecycle code that
  * reaches for `java.io.File` instead of the Hadoop `FileSystem` of its
  * path fails on a `graftfs:///…` root, or litters a relative `graftfs:`
  * directory in the working directory, instead of passing by accident
  * as it would on `file:` paths. A rename onto a destination named by
  * [[GraftFs.failRenameTo]] throws: a crash at that commit point. Every
  * directory listing is counted by the directory's name
  * ([[GraftFs.listings]]) and by its path ([[GraftFs.listingsByPath]]). */
class GraftFs extends RawLocalFileSystem {
  override def getUri: URI = GraftFs.uri

  override def rename(src: Path, dst: Path): Boolean = {
    if (GraftFs.failRenameTo.contains(dst.getName))
      throw new java.io.IOException(s"injected rename failure onto $dst")
    super.rename(src, dst)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    GraftFs.listed.merge(f.getName, 1, (a: Int, b: Int) => a + b)
    GraftFs.listedPaths.merge(f.toUri.getPath, 1, (a: Int, b: Int) => a + b)
    super.listStatus(f)
  }
}

object GraftFs {
  val uri: URI = URI.create("graftfs:///")

  @volatile var failRenameTo: Option[String] = None

  private val listed = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  private val listedPaths =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** Run `body`; also return how often it listed a directory named
    * `name`. */
  def listings[T](name: String)(body: => T): (T, Int) = {
    listed.clear()
    val r = body
    (r, listed.getOrDefault(name, 0))
  }

  /** Run `body`; also return how often it listed each directory, by
    * path (the path part of its URI). */
  def listingsByPath[T](body: => T): (T, Map[String, Int]) = {
    import scala.jdk.CollectionConverters._
    listedPaths.clear()
    val r = body
    (r, listedPaths.asScala.toMap)
  }

  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftFs].getName)

  /** A fresh empty directory, as a `graftfs:` URI. */
  def tempRoot(prefix: String): String =
    "graftfs://" + java.nio.file.Files.createTempDirectory(prefix)

  /** Run `body` with the rename onto `name` failing. */
  def failingRenameTo[T](name: String)(body: => T): T = {
    failRenameTo = Some(name)
    try body finally failRenameTo = None
  }
}
