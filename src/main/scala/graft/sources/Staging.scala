package graft.sources

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Marker-gated local/shared-FS staging for operators that must materialize
  * fixture files before reading them back through a real Spark source
  * (`binaryFile`, partitioned parquet for DPP, the file-stream archives).
  *
  * Why a marker and not `dir.exists()`: a staging job that fails part-way
  * leaves the directory present, and an existence check would silently
  * reuse the incomplete data on the next run — returning wrong results
  * instead of failing (ADVICE r5). The `_GRAFT_STAGED` marker is written
  * only after the staging body returns, so a partial prior attempt is
  * detected and wiped, then re-staged from scratch.
  *
  * Cluster note: the default root is the driver's `java.io.tmpdir`, which
  * is only reachable by executors in local mode. On a real cluster, set
  * `spark.graft.staging.dir` to a shared filesystem (HDFS/NFS/object-store
  * mount) — the write body runs on executors via `foreachPartition` or
  * `spark.write`, both of which target the same shared path, and the
  * marker (written by the driver after the job completes) provides the
  * atomic visibility cut the `_SUCCESS` convention gives `spark.write`.
  */
object Staging {

  /** Marker file name; binaryFile readers exclude it via `pathGlobFilter`. */
  val Marker = "_GRAFT_STAGED"

  def root(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.staging.dir")
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** A session- and input-scoped staging directory path (not yet created). */
  def dirFor(spark: SparkSession, kind: String, inputDir: String): String = {
    cleanupAtEnd(spark)
    s"${root(spark)}/graft_${kind}_${spark.sparkContext.applicationId}_" +
      Integer.toHexString(inputDir.hashCode)
  }

  /** Delete every `graft_*` entry of application `appId` directly under
    * `roots`: the [[dirFor]] dirs and the work dirs library code names
    * `graft_<kind>_<appId>…` by hand. Other applications' entries stay.
    */
  def cleanup(appId: String, roots: Seq[String]): Unit =
    roots.distinct.foreach { r =>
      Option(new java.io.File(r).listFiles()).getOrElse(Array.empty)
        .filter { f =>
          val n = f.getName
          n.startsWith("graft_") && (n.endsWith(s"_$appId") || n.contains(s"_${appId}_"))
        }
        .foreach(deleteRecursively)
    }

  private val cleanupRegistered =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Run [[cleanup]] of this application's dirs, under the staging root
    * and `java.io.tmpdir`, when the application ends. Registered once per
    * context; every entry point that names such dirs calls it.
    */
  def cleanupAtEnd(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (cleanupRegistered.putIfAbsent(sc.applicationId, ()).isEmpty)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          cleanup(sc.applicationId, Seq(root(spark), System.getProperty("java.io.tmpdir")))
      })
  }

  /** Run `write(dir)` at most once per directory: gated on the completion
    * marker, wiping any partial prior attempt first. Synchronized so two
    * concurrent first callers in one JVM cannot interleave stage jobs.
    */
  def ensure(dirPath: String)(write: String => Unit): String = synchronized {
    val dir = new java.io.File(dirPath)
    val marker = new java.io.File(dir, Marker)
    if (!marker.exists()) {
      if (dir.exists()) deleteRecursively(dir)
      dir.mkdirs()
      write(dirPath)
      marker.createNewFile()
    }
    dirPath
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }
}
