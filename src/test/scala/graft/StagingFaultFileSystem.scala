package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `faultfs` scheme, able to fail ONE file
  * create whose path contains an armed marker — a staging write that dies
  * mid-job. Tables written through `faultfs:` paths behave exactly like
  * local ones until [[StagingFaultFileSystem.failNextCreateUnder]] arms
  * a marker; the first create under it throws and disarms it.
  */
class StagingFaultFileSystem extends RawLocalFileSystem {
  override def getUri: URI = StagingFaultFileSystem.Uri
  override def getScheme: String = StagingFaultFileSystem.Scheme

  private def check(f: Path): Unit = {
    val marker = StagingFaultFileSystem.armed.get()
    if (marker != null && f.toString.contains(marker) &&
        StagingFaultFileSystem.armed.compareAndSet(marker, null))
      throw new java.io.IOException(s"injected staging failure creating $f")
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object StagingFaultFileSystem {
  val Scheme = "faultfs"
  private val Uri = URI.create(s"$Scheme:///")
  private val armed = new AtomicReference[String](null)

  /** Register the scheme with `spark`'s Hadoop configuration. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[StagingFaultFileSystem].getName)

  /** A fresh local temp directory, addressed through this filesystem. */
  def tempDir(prefix: String): String =
    s"$Scheme://" + java.nio.file.Files.createTempDirectory(prefix).toString

  /** Fail the next file create whose path contains `marker`. */
  def failNextCreateUnder(marker: String): Unit = armed.set(marker)

  /** True while an armed failure has not fired yet. */
  def pending: Boolean = armed.get() != null

  def disarm(): Unit = armed.set(null)
}
