package graft

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** A local FS under the `flaky:` scheme whose rename returns FALSE (once)
  * when the destination's name matches
  * [[FlakyRenameFs.failOnceWhenDstNamed]] -- the Hadoop soft-failure mode
  * a commit must treat as an abort, not a success. Otherwise it is the
  * raw local FS, which makes it the specs' stand-in for a warehouse on a
  * scheme other than `file:`. */
class FlakyRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def rename(src: Path, dst: Path): Boolean = {
    val want = FlakyRenameFs.failOnceWhenDstNamed.get()
    if (want != null && dst.getName == want) {
      FlakyRenameFs.failOnceWhenDstNamed.set(null)
      false
    } else super.rename(src, dst)
  }
}

object FlakyRenameFs {
  val failOnceWhenDstNamed =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Register the `flaky:` scheme in the session's Hadoop configuration
    * (idempotent), so Spark's reads and writes resolve it too, and return
    * its file system. */
  def register(spark: SparkSession): FileSystem = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setClass("fs.flaky.impl", classOf[FlakyRenameFs], classOf[FileSystem])
    FileSystem.get(java.net.URI.create("flaky:///"), conf)
  }
}
