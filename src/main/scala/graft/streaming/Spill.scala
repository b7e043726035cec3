package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The IVM state spill's storage ([[IncrementalQ3]]'s bounded-memory
  * mode). The z-set algebra hands every compaction a consolidated state
  * (or just its DIRTY buckets) and rebinds to the frame returned here.
  * The layout is the table-format pattern Delta/Iceberg use, reduced to
  * its essentials:
  *
  *  - DATA files are immutable per-bucket parquet under a shared pool
  *    (`root/pool/<state>/v<writingVersion>/p…-b…parquet`) — a file, once
  *    written, is never modified or renamed;
  *  - each version's manifest (`root/v<N>/<state>/MANIFEST`) lists
  *    `bucket|file` entries. A carry-forward compaction writes data files
  *    ONLY for the dirty buckets and re-points every clean bucket's
  *    entries at the PREVIOUS version's files — pure metadata, zero data
  *    I/O, so a compaction writes O(dirty buckets), never O(state);
  *  - `drop` is reference-counted GC, the VACUUM shape: a data file is
  *    deleted only when no surviving manifest of that state references it.
  *
  * LISTING-FREE: the operation set is PUT / GET / one append-only log —
  * never LIST, the object-store contract the real formats are built on.
  * Data-file names are chosen BY THE WRITING TASKS (one file per bucket,
  * `p<partition>-b<bucket>.parquet`) and reported back to the driver,
  * which writes the manifest from the report — the Spark commit-protocol
  * shape, not a post-write directory scan. Surviving-version discovery for
  * GC reads the root's append-only `VLOG` (the `_delta_log` shape: entries
  * are never removed; a fully-dropped version's manifests are simply
  * absent and contribute no references).
  * Task-retry note: file names are attempt-independent and opened in
  * OVERWRITE mode — safe under retry-after-failure; a production adapter
  * would use attempt-unique names + the commit protocol to also survive
  * speculative duplicates (speculation is off in this harness).
  */
object MergeLogSpill {

  /** Buckets per state: the algebra's dirty-bucket probe
    * (`pmod(hash(key), Buckets)`) and the writer classify identically.
    * Locally 32 matches the shuffle width.
    */
  final val Buckets = 32

  private def stateDir(root: String, version: Long, name: String): Path =
    Paths.get(s"$root/v$version/$name")

  private def manifestPath(root: String, version: Long, name: String): Path =
    stateDir(root, version, name).resolve("MANIFEST")

  private def poolDir(root: String, name: String, version: Long): Path =
    Paths.get(s"$root/pool/$name/v$version")

  /** Manifest entries `(bucket, rootRelativePath)`; empty for an absent
    * manifest (an empty state writes no data files).
    */
  private[streaming] def readManifest(root: String, version: Long,
                                      name: String): Seq[(Int, String)] = {
    val p = manifestPath(root, version, name)
    if (!Files.exists(p)) Seq.empty
    else new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toIndexedSeq.filter(_.nonEmpty).map { l =>
        val Array(b, f) = l.split("\\|", 2)
        b.toInt -> f
      }
  }

  private def writeManifest(root: String, version: Long, name: String,
                            entries: Seq[(Int, String)]): Unit = {
    Files.createDirectories(stateDir(root, version, name))
    val tmp = manifestPath(root, version, name).resolveSibling("MANIFEST.tmp")
    Files.write(tmp, entries.sortBy(_._1)
      .map { case (b, f) => s"$b|$f" }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(root, version, name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def frameOf(spark: SparkSession,
                      schema: org.apache.spark.sql.types.StructType,
                      root: String, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema)
      .parquet(files.map(f => Paths.get(root).resolve(f).toString): _*)

  // --- the append-only version log (surviving-version discovery for GC) --

  private def vlogPath(root: String): Path = Paths.get(root, "VLOG")

  private def vlogVersions(root: String): Seq[Long] =
    if (!Files.exists(vlogPath(root))) {
      // BACKFILL (ADVICE r13): a root written by pre-VLOG code has v<N>
      // dirs but no log — resolving survivors from an absent log would
      // let GC delete carried-forward files other versions' manifests
      // still reference. One-time directory scan, persisted as the log,
      // so every later operation is listing-free again.
      val scanned = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty).toIndexedSeq
        .filter(_.isDirectory)
        .flatMap(f => if (f.getName.startsWith("v"))
          f.getName.stripPrefix("v").toLongOption else None)
      if (scanned.nonEmpty) {
        Files.createDirectories(Paths.get(root))
        Files.write(vlogPath(root),
          scanned.sorted.map(v => s"$v\n").mkString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
      scanned
    }
    else new String(Files.readAllBytes(vlogPath(root)),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toIndexedSeq.flatMap(_.trim.toLongOption)

  // synchronized: one compaction's states MERGE concurrently, and each
  // write registers the same version — an unguarded read-check-append
  // would log it once per racing writer
  private def vlogAdd(root: String, version: Long): Unit = synchronized {
    if (!vlogVersions(root).contains(version)) {
      Files.createDirectories(Paths.get(root))
      Files.write(vlogPath(root),
        s"$version\n".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  /** One task's data-file writes: every row of `it` (last column is the
    * precomputed bucket id) goes to this task's file for its bucket,
    * named deterministically — the task KNOWS its files, so the driver
    * never lists the pool. Returns the (bucket, fileName) pairs written.
    */
  private def writeTaskFiles(poolStr: String, ddl: String, pid: Int,
                             it: Iterator[org.apache.spark.sql.Row])
      : Iterator[(Int, String)] = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    val msgType = MergeLogSchema.toMessageType(schema)
    val factory = new SimpleGroupFactory(msgType)
    val conf = new org.apache.hadoop.conf.Configuration()
    val writers = scala.collection.mutable.Map.empty[
      Int, (org.apache.parquet.hadoop.ParquetWriter[
        org.apache.parquet.example.data.Group], String)]
    try {
      it.foreach { row =>
        val b = row.getInt(row.length - 1)
        val (w, _) = writers.getOrElseUpdate(b, {
          val fn = f"p$pid%05d-b$b%05d.parquet"
          val w = ExampleParquetWriter.builder(
              new org.apache.hadoop.fs.Path(s"$poolStr/$fn"))
            .withConf(conf).withType(msgType)
            .withWriteMode(
              org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
            .build()
          (w, fn)
        })
        w.write(MergeLogSchema.toGroup(factory, schema, row))
      }
    } finally writers.values.foreach { case (w, _) => w.close() }
    writers.iterator.map { case (b, (_, fn)) => b -> fn }.toVector.iterator
  }

  /** Persist `rows` as state `name` at `version` under `root`, bucketed by
    * `key`, and return the frame the state should rebind to.
    *
    * `carry = Some((prevVersion, dirtyBuckets))` is the INCREMENTAL
    * contract: `rows` holds only the consolidated content of
    * `dirtyBuckets`, and every other bucket is carried forward from
    * `prevVersion` UNREWRITTEN (its manifest entries re-pointed).
    * `carry = None` is a full rewrite.
    */
  def write(spark: SparkSession, root: String, version: Long,
            name: String, key: String, rows: DataFrame,
            carry: Option[(Long, Set[Int])]): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val pool = poolDir(root, name, version)
    Files.createDirectories(pool)
    // hash-repartition on the bucket value: each bucket's rows land in
    // exactly one task (a task may own several buckets — hash-mod can
    // collide distinct buckets into one partition and leave others
    // empty), so each bucket still gets exactly one immutable data file,
    // written and NAMED by its owning task
    val bucketed = rows
      .withColumn("__bucket", pmod(hash(col(key)), lit(Buckets)).cast("int"))
      .repartition(Buckets, col("__bucket"))
    val poolStr = pool.toString
    val ddl = rows.schema.toDDL
    val fresh: Seq[(Int, String)] = bucketed.rdd
      .mapPartitionsWithIndex((pid, it) => writeTaskFiles(poolStr, ddl, pid, it))
      .collect().toIndexedSeq // ≤ one (bucket, file) pair per bucket
      .map { case (b, fn) => b -> s"pool/$name/v$version/$fn" }
    // the MERGE: dirty buckets from the fresh write, every clean bucket
    // re-pointed at the previous version's files — metadata only
    val carried: Seq[(Int, String)] = carry match {
      case Some((prevVersion, dirty)) =>
        readManifest(root, prevVersion, name)
          .filterNot { case (b, _) => dirty.contains(b) }
      case None => Seq.empty
    }
    vlogAdd(root, version)
    writeManifest(root, version, name, fresh ++ carried)
    frameOf(spark, rows.schema, root, (fresh ++ carried).map(_._2))
  }

  /** Read back ONLY the rows of `dirtyBuckets` from `name`@`version` —
    * the compaction input that keeps the rewrite O(dirty), not O(state).
    * `schema` pins the frame schema when no files exist for those buckets.
    */
  def readBuckets(spark: SparkSession, root: String, version: Long,
                  name: String,
                  schema: org.apache.spark.sql.types.StructType,
                  dirtyBuckets: Set[Int]): DataFrame = {
    requireMergeLogLayout(root)
    frameOf(spark, schema, root,
      readManifest(root, version, name)
        .collect { case (b, f) if dirtyBuckets.contains(b) => f })
  }

  /** Older builds could also spill in a bucketed-parquet layout and named
    * it in a `FORMAT` marker at the root. That layout has no manifests, so
    * reading it here would resume an EMPTY state; refuse it instead.
    */
  private def requireMergeLogLayout(root: String): Unit = {
    val marker = Paths.get(root, "FORMAT")
    if (Files.exists(marker)) {
      val layout = new String(Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8).trim
      require(layout == "mergelog", s"spill root $root holds the " +
        s"'$layout' layout of an older build, which this build cannot " +
        "read — delete the root and restart the fold from scratch")
    }
  }

  /** Drop `version`, whose states are `names`: each state's files that no
    * other version's manifest references, then the version's directory.
    * Content that NEWER versions carried forward survives.
    */
  def drop(root: String, version: Long, names: Seq[String]): Unit = {
    names.foreach(dropState(root, version, _))
    org.apache.commons.io.FileUtils.deleteQuietly(
      Paths.get(s"$root/v$version").toFile)
  }

  private def dropState(root: String, version: Long, name: String): Unit = {
    // reference-counted GC: files this version references, minus files any
    // OTHER surviving manifest of the same state still references.
    // Candidate versions come from the append-only VLOG, never a listing;
    // a version already fully dropped has no manifests left and so
    // contributes no references (its stale VLOG entry is harmless — the
    // real transaction logs are append-only for the same reason).
    val mine = readManifest(root, version, name).map(_._2).toSet
    val survivors = vlogVersions(root)
      .filter(_ != version)
      .flatMap(v => readManifest(root, v, name).map(_._2)).toSet
    (mine -- survivors).foreach { f =>
      Files.deleteIfExists(Paths.get(root).resolve(f))
    }
  }
}

/** StructType ⇄ parquet-mr schema/Group conversion for [[MergeLogSpill]]'s
  * task-side writers. Covers the spill-state type surface (long, int,
  * double, string, date, decimal, boolean); anything else fails loudly.
  * Decimals are FIXED_LEN_BYTE_ARRAY two's-complement (the encoding Spark
  * both writes at precision > 18 and reads at any precision); dates are
  * INT32 epoch days.
  */
private[streaming] object MergeLogSchema {
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  import org.apache.spark.sql.types._

  /** Minimum bytes holding any unscaled value of the given precision
    * (exact BigInt arithmetic — a double comparison misrounds near the
    * byte boundaries). Precision 38 → 16 bytes.
    */
  private[streaming] def decimalBytes(precision: Int): Int = {
    require(precision >= 1 && precision <= 38,
      s"decimal precision $precision out of range")
    (1 to 16).find(n =>
      BigInt(10).pow(precision) - 1 <= BigInt(2).pow(8 * n - 1) - 1).get
  }

  def toMessageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case LongType => b.addField(Types.optional(INT64).named(f.name))
        case IntegerType => b.addField(Types.optional(INT32).named(f.name))
        case DoubleType => b.addField(Types.optional(DOUBLE).named(f.name))
        case BooleanType => b.addField(Types.optional(BOOLEAN).named(f.name))
        case StringType => b.addField(Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name))
        case DateType => b.addField(Types.optional(INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name))
        case d: DecimalType => b.addField(
          Types.optional(FIXED_LEN_BYTE_ARRAY).length(decimalBytes(d.precision))
            .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
            .named(f.name))
        case other => sys.error(
          s"mergelog spill: unsupported state column type $other (${f.name})")
      }
    }
    b.named("graft_mergelog")
  }

  def toGroup(factory: org.apache.parquet.example.data.simple.SimpleGroupFactory,
              schema: StructType,
              row: org.apache.spark.sql.Row): org.apache.parquet.example.data.Group = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) schema.fields(i).dataType match {
        case LongType => g.add(i, row.getLong(i))
        case IntegerType => g.add(i, row.getInt(i))
        case DoubleType => g.add(i, row.getDouble(i))
        case BooleanType => g.add(i, row.getBoolean(i))
        case StringType => g.add(i, row.getString(i))
        case DateType => g.add(i,
          row.getAs[java.sql.Date](i).toLocalDate.toEpochDay.toInt)
        case d: DecimalType =>
          val unscaled = row.getDecimal(i)
            .setScale(d.scale, java.math.RoundingMode.UNNECESSARY)
            .unscaledValue()
          val n = decimalBytes(d.precision)
          val raw = unscaled.toByteArray // big-endian two's complement
          val out = new Array[Byte](n)
          // sign-extend into the fixed width
          if (unscaled.signum() < 0) java.util.Arrays.fill(out, 0xFF.toByte)
          System.arraycopy(raw, 0, out, n - raw.length, raw.length)
          g.add(i, org.apache.parquet.io.api.Binary.fromConstantByteArray(out))
        case other => sys.error(s"mergelog spill: unsupported type $other")
      }
      i += 1
    }
    g
  }
}
