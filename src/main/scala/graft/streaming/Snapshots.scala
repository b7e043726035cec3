package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Durable snapshots of the incremental-Q3 state.
  *
  * Structured Streaming's own checkpoint only persists SOURCE offsets for
  * a `foreachBatch` query — the z-set states live on the driver as cached
  * DataFrames and would not survive a restart. Snapshotting them as
  * parquet (exact types: decimal revenue, dates, weights) makes the IVM
  * restartable: resume = load + keep folding. At cluster scale this is
  * the same pattern with a transactional table format in place of
  * overwrite-parquet; the z-set algebra on top is unchanged.
  *
  * The reference has no recovery story at all (SURVEY §2.8: no
  * checkpointing configured, heap-only state) — this is the upgrade
  * Spark's ecosystem makes cheap.
  */
object Snapshots {

  private val baseParts = Seq("c", "o", "l", "co")

  /** Persist every state z-set (base states + one dir per aggregate
    * grain), the grain key lists, the compaction counter, and the spill
    * version history — without the history a resumed spilled fold would
    * restart pruning from scratch and leak every pre-snapshot spill
    * version forever (the at-most-two-on-disk invariant). The dirty-bucket
    * bookkeeping ([[IncrementalQ3.SpillMeta]]) is deliberately NOT
    * persisted: a resumed fold's first compaction falls back to a full
    * rewrite (correct, just not incremental once), then tracking resumes.
    */
  def save(st: IncrementalQ3.State, dir: String): Unit = {
    // Clear any stale DELTA-form residue first (ADVICE r12): a crash
    // between a delta snapshot's DELTA write and its LATEST flip leaves
    // the marker + pending_* dirs behind; overwriting the dir with the
    // FULL form must not leave them, or the next loadLatest would
    // dispatch on the stale marker and load the wrong state.
    clearDeltaResidue(dir)
    val parts = baseParts ++ st.aggsRaw.indices.map(IncrementalQ3.aggName)
    // Concurrent per-state writes (r14, guide §2.6 "overlap independent
    // jobs"): the 5–7 state writes are independent Spark jobs over
    // already-pinned blocks — serially each pays its own scheduling +
    // commit latency per batch; concurrently the wall time is the
    // slowest write, the same pattern as IncrementalQ3.step's upkeep
    // pins.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.sequence(parts.zip(st.all).map { case (name, df) =>
      Future { df.write.mode("overwrite").parquet(s"$dir/$name") }
    }), Duration.Inf)
    Files.write(Paths.get(s"$dir/grains"),
      st.aggsRaw.map(_._1.mkString(",")).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$dir/dirty"),
      st.dirty.toString.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$dir/spill_history"),
      st.spillHistory.mkString(",").getBytes(StandardCharsets.UTF_8))
    // the adaptive latch must cross the boundary: a resumed fold that
    // forgot it was engaged would fall back to in-memory and re-measure —
    // correct but paying a threshold's worth of heap it already proved
    // it can't afford
    Files.write(Paths.get(s"$dir/spill_engaged"),
      st.spillEngaged.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Load a snapshot; the returned state folds on via [[IncrementalQ3.step]].
    *
    * Each state is eagerly localCheckpoint'd on load: the non-compacting
    * upkeep path in [[IncrementalQ3.step]] keeps the loaded frames in its
    * union lineage indefinitely, and without severing it here a later
    * [[saveBatch]] prune (or an overwriting [[save]]) would delete the very
    * parquet files the live state still scans.
    */
  def load(spark: SparkSession, dir: String): IncrementalQ3.State = {
    // grain list: from the grains file; pre-r11 snapshots had a single
    // implicit Q3 grain stored under "agg"
    val grainsFile = Paths.get(s"$dir/grains")
    val (grains, aggDirs) =
      if (Files.exists(grainsFile)) {
        val gs = new String(Files.readAllBytes(grainsFile), StandardCharsets.UTF_8)
          .split("\n").toIndexedSeq.map(_.trim).filter(_.nonEmpty)
          .map(_.split(",").toIndexedSeq.map(_.trim))
        (gs, gs.indices.map(IncrementalQ3.aggName))
      } else
        (IndexedSeq(IncrementalQ3.DefaultAggKeys.toIndexedSeq), IndexedSeq("agg"))
    def part(name: String) =
      spark.read.parquet(s"$dir/$name").localCheckpoint()
    val Seq(c, o, l, co) = baseParts.map(part)
    // spill_history may be absent in pre-spill snapshots — default Nil
    val histFile = Paths.get(s"$dir/spill_history")
    val history =
      if (!Files.exists(histFile)) Nil
      else new String(Files.readAllBytes(histFile), StandardCharsets.UTF_8)
        .split(",").toList.flatMap(_.trim.toLongOption)
    // pre-r14 snapshots have no flag file — a fold that had spilled was
    // by definition engaged, so the history is the back-compat signal
    val engagedFile = Paths.get(s"$dir/spill_engaged")
    val engaged =
      if (Files.exists(engagedFile))
        new String(Files.readAllBytes(engagedFile), StandardCharsets.UTF_8)
          .trim.toBoolean
      else history.nonEmpty
    IncrementalQ3.State(c, o, l, co,
      aggsRaw = grains.zip(aggDirs).map { case (keys, d) => (keys: Seq[String]) -> part(d) }.toVector,
      dirty = new String(Files.readAllBytes(Paths.get(s"$dir/dirty")),
        StandardCharsets.UTF_8).trim.toInt,
      spillHistory = history,
      spillEngaged = engaged)
  }

  // --- per-batch snapshots for the continuous query (auto-resume) ------
  //
  // Layout: $dir/b<batchId>/{c,o,l,co,agg*,grains,dirty} plus a LATEST
  // pointer file holding the last fully-written batch id. The pointer is
  // flipped by ATOMIC_MOVE only AFTER the snapshot directory is complete,
  // so a crash mid-save leaves LATEST at the previous consistent snapshot.
  // Snapshots older than LATEST are pruned after the flip — at any moment
  // at most two live on disk (the one being written + the last good one).

  /** Remove a snapshot dir's DELTA marker and pending_* payload dirs —
    * the parts of the delta form a full [[save]] does not overwrite.
    */
  private def clearDeltaResidue(dir: String): Unit = {
    val base = Paths.get(dir)
    if (Files.isDirectory(base)) {
      Files.deleteIfExists(base.resolve("DELTA"))
      val ds = Files.list(base)
      try ds.filter(_.getFileName.toString.startsWith("pending_"))
        .forEach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
      finally ds.close()
    }
  }

  /** Persist the post-batch state and advance the LATEST pointer.
    *
    * INCREMENTAL since r14 (guide §1.2 — the full per-batch rewrite was
    * 1–2.8 s of every composition micro-batch): when the previous batch's
    * FULL-form snapshot is on disk and a state's upkeep took the
    * plain-union path (`state' = state ∪ delta`, recorded in
    * [[IncrementalQ3.State.snapDeltas]]), the new snapshot HARD-LINKS the
    * previous snapshot's parquet files for that state and appends only
    * the delta's files — O(delta) I/O, byte-identical multiset of rows
    * (parquet dir = unordered file set; append writes fresh
    * uniquely-named parts next to the linked ones). States the batch
    * consolidated or spilled fall back to a full write, as does the
    * whole snapshot when there is no usable previous (first batch,
    * post-resume gap, or a DELTA-form predecessor). Pruning is
    * unchanged: flipLatest deletes the superseded DIRECTORY; shared
    * inodes survive through the links.
    */
  def saveBatch(st: IncrementalQ3.State, dir: String, batchId: Long): Unit = {
    val prev = Paths.get(s"$dir/b${batchId - 1}")
    val latestFile = Paths.get(s"$dir/LATEST")
    val prevUsable = st.snapDeltas.nonEmpty &&
      Files.exists(latestFile) &&
      new String(Files.readAllBytes(latestFile), StandardCharsets.UTF_8)
        .trim == (batchId - 1).toString &&
      Files.isDirectory(prev) && !Files.exists(prev.resolve("DELTA"))
    if (!prevUsable) save(st, s"$dir/b$batchId")
    else {
      val d = s"$dir/b$batchId"
      // a crashed earlier attempt leaves a partial dir — start clean
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
      Files.createDirectories(Paths.get(d))
      val parts = baseParts ++ st.aggsRaw.indices.map(IncrementalQ3.aggName)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Await.result(Future.sequence(parts.zip(st.all).map { case (name, df) =>
        Future {
          val dst = s"$d/$name"
          (st.snapDeltas.get(name), Files.isDirectory(prev.resolve(name))) match {
            case (Some(delta), true) =>
              linkTree(prev.resolve(name), Paths.get(dst))
              delta.write.mode("append").parquet(dst)
            case _ => df.write.mode("overwrite").parquet(dst)
          }
        }
      }), Duration.Inf)
      Files.write(Paths.get(s"$d/grains"),
        st.aggsRaw.map(_._1.mkString(",")).mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(s"$d/dirty"),
        st.dirty.toString.getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(s"$d/spill_history"),
        st.spillHistory.mkString(",").getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(s"$d/spill_engaged"),
        st.spillEngaged.toString.getBytes(StandardCharsets.UTF_8))
    }
    flipLatest(dir, batchId)
  }

  private def flipLatest(dir: String, batchId: Long): Unit = {
    val tmp = Paths.get(s"$dir/.LATEST.tmp")
    Files.createDirectories(Paths.get(dir))
    Files.write(tmp, batchId.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(s"$dir/LATEST"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // prune superseded snapshots (anything but b<batchId>)
    val ds = Files.list(Paths.get(dir))
    try {
      ds.filter(p => p.getFileName.toString.startsWith("b") &&
          p.getFileName.toString != s"b$batchId")
        .forEach { p =>
          val fs = Files.walk(p)
          try fs.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => Files.delete(f))
          finally fs.close()
        }
    } finally ds.close()
  }

  // --- DELTA snapshots: continuous durability at delta cost -------------
  //
  // A full per-batch snapshot re-materializes every state — O(state) per
  // batch, exactly the cost the delta-chained fold removed from the hot
  // path. Once the fold SPILLS, the state is already durable in the
  // versioned spill tables; the only parts living solely on the driver are
  // the pending per-batch deltas accumulated since the newest version
  // (State.spillMeta). So a delta snapshot persists just:
  //   - a pointer (spill root + version) to the durable base,
  //   - the pending delta chains (delta-sized; unchanged links are
  //     HARD-LINKED from the previous snapshot, so each batch writes only
  //     its OWN delta),
  //   - the scalar fold counters (grains, dirty, spillHistory, aggDepth).
  // Resume = readBuckets(version, ALL) ∪ pendings per state, eagerly
  // checkpointed (severing the spill-table dependence, as [[load]] does
  // for parquet), spillMeta = None — the resumed fold's first compaction
  // falls back to a full rewrite, then incremental tracking restarts: the
  // same documented fallback the full snapshot uses.
  //
  // Version liveness: a delta snapshot always references the NEWEST spill
  // version as of its batch, and the algebra retains the two newest — so
  // the LATEST snapshot's version is on disk in every crash window (it
  // can lag the tip by at most the one compaction whose snapshot flip
  // didn't land, and that leaves both versions retained).

  /** Delta snapshot when the fold has spilled (cost: this batch's delta);
    * full [[saveBatch]] otherwise (pre-first-compaction states are
    * delta-sized anyway).
    */
  def saveBatchAuto(st: IncrementalQ3.State, dir: String, batchId: Long): Unit =
    st.spillMeta match {
      case Some(meta) => saveBatchDelta(st, meta, dir, batchId)
      case None => saveBatch(st, dir, batchId)
    }

  private def saveBatchDelta(st: IncrementalQ3.State,
                             meta: IncrementalQ3.SpillMeta,
                             dir: String, batchId: Long): Unit = {
    val d = s"$dir/b$batchId"
    // a crashed earlier attempt at this same id leaves a partial dir —
    // start clean so hard-link targets and markers can't be stale (ADVICE
    // r12; the prev dir is b(id−1), so nuking b(id) orphans nothing)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    Files.createDirectories(Paths.get(d))
    val prev = s"$dir/b${batchId - 1}"
    val counts = st.names.map { name =>
      val chain = meta.pending.getOrElse(name, Vector.empty)
      chain.zipWithIndex.foreach { case (df, k) =>
        val dst = Paths.get(s"$d/pending_${name}_$k")
        val src = Paths.get(s"$prev/pending_${name}_$k")
        // all links but the newest existed in the previous snapshot —
        // hard-link their files (inode-shared, byte-identical) and write
        // parquet only for this batch's own delta
        if (Files.isDirectory(src)) linkTree(src, dst)
        else df.write.mode("overwrite").parquet(dst.toString)
      }
      name -> chain.size
    }
    Files.write(Paths.get(s"$d/grains"),
      st.aggsRaw.map(_._1.mkString(",")).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    val metaBody = (Seq(meta.root, meta.version.toString, st.dirty.toString,
      st.aggDepth.toString, st.spillHistory.mkString(",")) ++
      counts.map { case (n, c) => s"$n=$c" }).mkString("\n")
    Files.write(Paths.get(s"$d/DELTA"),
      metaBody.getBytes(StandardCharsets.UTF_8))
    flipLatest(dir, batchId)
  }

  private def linkTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    Files.createDirectories(dst)
    val fs = Files.list(src)
    try fs.forEach { f =>
      if (Files.isRegularFile(f))
        Files.createLink(dst.resolve(f.getFileName.toString), f)
    } finally fs.close()
  }

  private def loadDelta(spark: SparkSession, d: String): IncrementalQ3.State = {
    val lines = new String(Files.readAllBytes(Paths.get(s"$d/DELTA")),
      StandardCharsets.UTF_8).split("\n").toSeq
    val (root, version) = (lines(0), lines(1).toLong)
    val dirty = lines(2).toInt
    val aggDepth = lines(3).toInt
    val history = lines(4).split(",").toList.flatMap(_.trim.toLongOption)
    val counts = lines.drop(5).map { l =>
      val Array(n, c) = l.split("="); n -> c.toInt
    }.toMap
    val grains = new String(Files.readAllBytes(Paths.get(s"$d/grains")),
      StandardCharsets.UTF_8).split("\n").toIndexedSeq.map(_.trim)
      .filter(_.nonEmpty).map(_.split(",").toIndexedSeq.map(_.trim): Seq[String])
    // schema templates for the bucket reads, from an empty fold shell
    val shell = IncrementalQ3.init(spark, grains)
    def part(name: String, schema: org.apache.spark.sql.types.StructType) = {
      val base = MergeLogSpill.readBuckets(spark, root, version, name, schema,
        (0 until MergeLogSpill.Buckets).toSet)
      val pend = (0 until counts.getOrElse(name, 0))
        .map(k => spark.read.parquet(s"$d/pending_${name}_$k"))
      // eager checkpoint: sever the spill-table dependence before the
      // resumed fold's compactions drop the referenced version
      (base +: pend).reduce(_ unionByName _).localCheckpoint()
    }
    val frames = shell.names.zip(shell.all.map(_.schema))
      .map { case (n, s) => part(n, s) }
    val Seq(c, o, l, co) = frames.take(4)
    IncrementalQ3.State(c, o, l, co,
      aggsRaw = grains.toVector.zip(frames.drop(4)),
      dirty = dirty, spillHistory = history, spillMeta = None,
      aggDepth = aggDepth,
      // a delta snapshot exists only once the fold has spilled — engaged
      // by construction
      spillEngaged = true)
  }

  /** Latest consistent per-batch snapshot, if one exists:
    * `(state, lastAppliedBatchId)` — full or delta form, transparently.
    */
  def loadLatest(spark: SparkSession, dir: String): Option[(IncrementalQ3.State, Long)] = {
    val latest = Paths.get(s"$dir/LATEST")
    if (!Files.exists(latest)) None
    else {
      val id = new String(Files.readAllBytes(latest),
        StandardCharsets.UTF_8).trim.toLong
      val d = s"$dir/b$id"
      val st = if (Files.exists(Paths.get(s"$d/DELTA"))) loadDelta(spark, d)
               else load(spark, d)
      Some((st, id))
    }
  }
}
