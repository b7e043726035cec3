package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Temp dirs for a suite: each [[tempDir]] is deleted, with everything
  * under it, after the suite's last test.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh, empty directory named `prefix…` in the system temp dir. */
  def tempDir(prefix: String): String = made.synchronized {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    made += dir
    dir.toString
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally made.synchronized {
      made.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      made.clear()
    }
}

/** Shared session base for all specs: one local session per suite. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  def localRows(n: Long): Boolean = n > 0

  /** Unload state-store providers after every suite. The RocksDB provider
    * holds native handles whose maintenance thread otherwise survives to
    * JVM exit, where its teardown can race Spark's shutdown hooks and
    * abort the forked test JVM (observed as an intermittent exit 134
    * AFTER "All tests passed"). Stopping stray queries then unloading here
    * is deterministic and idempotent; later suites re-load providers.
    */
  override protected def afterAll(): Unit = {
    try {
      SparkSpec.session.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    } catch { case _: Throwable => () }
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      // the engine's session-build-time function surface: suites exercise
      // graft_dot / graft_simhash64 / graft_kmv_sketch through plain SQL
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
