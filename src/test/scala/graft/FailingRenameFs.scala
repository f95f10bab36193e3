package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** Local file system on the test-only `failrename:` scheme whose `rename`
  * throws while a chosen predicate matches its source or destination: a
  * crash injected at one state-write boundary. Spark's output committer
  * publishes every file by rename, so this fails the write of one chosen
  * table without touching the others. Tests run as root, where a
  * permission change cannot make a write fail. */
class FailingRenameFs extends RawLocalFileSystem {
  override def getUri: URI = FailingRenameFs.uri
  override def getScheme: String = FailingRenameFs.scheme
  override def rename(src: Path, dst: Path): Boolean = {
    if (FailingRenameFs.failWhen(src.toString) ||
        FailingRenameFs.failWhen(dst.toString))
      throw new IOException(s"injected rename failure: $src -> $dst")
    super.rename(src, dst)
  }
}

object FailingRenameFs {
  val scheme = "failrename"
  val uri: URI = URI.create(s"$scheme:///")

  @volatile private var failWhen: String => Boolean = _ => false

  /** Register the scheme on the session's Hadoop conf. */
  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$scheme.impl", classOf[FailingRenameFs].getName)

  /** `localDir` (absolute) on the failing scheme. */
  def path(localDir: String): String = s"$scheme://$localDir"

  /** Run `f` with every rename touching a path that satisfies `p`
    * throwing. */
  def failingRenames[A](p: String => Boolean)(f: => A): A = {
    failWhen = p
    try f finally failWhen = _ => false
  }
}
