package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Storage access through the Hadoop FileSystem API — the only layer that
  * exists on every backend the engine must run against (HDFS, S3A, GCS,
  * local). `java.io.File` works only on a local POSIX view and silently
  * breaks on the object stores that hold the data at 100 TB, so no storage
  * path in this codebase touches it.
  */
object Fs {

  def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fileSystem(spark, path).exists(new Path(path))

  /** Recursive delete; no-op when absent. */
  def delete(spark: SparkSession, path: String): Unit =
    fileSystem(spark, path).delete(new Path(path), true): Unit

  /** Atomic rename with overwrite via FileContext — the rename primitive
    * that is atomic on HDFS and correct (copy+delete under the hood where
    * the store lacks rename) elsewhere. */
  def renameOverwrite(spark: SparkSession, src: String, dst: String): Unit =
    FileContext.getFileContext(new Path(dst).toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(new Path(src), new Path(dst), Options.Rename.OVERWRITE)

  /** Write a small UTF-8 text file (driver-side metadata: state stores,
    * markers). Not for data — data goes through DataFrame writers. */
  def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val out = fileSystem(spark, path).create(new Path(path), true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a small UTF-8 text file written by [[writeString]]. */
  def readString(spark: SparkSession, path: String): String = {
    val in = fileSystem(spark, path).open(new Path(path))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }
}
