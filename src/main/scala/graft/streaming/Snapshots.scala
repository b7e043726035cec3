package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable per-batch snapshots of the incremental-Q3 state.
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
  *
  * LAYOUT: `dir/b<id>/` holds one `META` record and each state's parts;
  * `dir/LATEST` names the last complete snapshot. A saved state is
  * `base ∪ parts`:
  *  - `base` is an optional spill version, read back with
  *    [[MergeLogSpill.readBuckets]];
  *  - each part `<state>_<k>` is a parquet dir. Whatever the previous
  *    snapshot already holds is HARD-LINKED from it (inode-shared,
  *    byte-identical), so a batch writes only its own delta.
  * A fold that has not spilled saves each state as its parts; once it
  * spills, the newest spill version is the base and the parts are the
  * deltas pending since then ([[IncrementalQ3.SpillMeta]]). `META` also
  * carries the grains and the fold counters (`dirty`, `aggDepth`, the
  * spill history and the adaptive-spill latch): without the history a
  * resumed spilled fold would leak every pre-snapshot spill version, and
  * without the latch it would fall back to the heap and re-pay the state
  * it already proved it can't afford. A resumed fold does not rebuild its
  * [[IncrementalQ3.SpillMeta]] (the pending chains are folded into the
  * loaded states), so its first compaction is a full rewrite; the ones
  * after it probe their dirty buckets again.
  *
  * CRASH SAFETY: `b<id>` is cleaned before it is written, `META` is written
  * after every part, and only then is `LATEST` flipped by `ATOMIC_MOVE` —
  * a crash anywhere before the flip leaves `LATEST` at the previous
  * complete snapshot. Older snapshots are pruned after the flip, so at most
  * two live on disk; shared inodes survive through the links.
  *
  * VERSION LIVENESS: a snapshot's base is the newest spill version its
  * fold had written, or, right after a resume, its predecessor's base,
  * which stays the fold's newest version until the next compaction. The
  * algebra keeps the two newest versions on disk, so the base `LATEST`
  * names is readable in every crash window (it lags the tip by at most the
  * one compaction whose snapshot flip didn't land).
  */
object Snapshots {

  /** One saved state: its spill base version, if any, and its part count. */
  private final case class Saved(version: Option[Long], parts: Int)

  /** The `META` record of one snapshot; `states` in [[IncrementalQ3.State.names]] order. */
  private final case class Meta(grains: Seq[Seq[String]], dirty: Int,
                                aggDepth: Int, spillHistory: List[Long],
                                spillEngaged: Boolean, spillRoot: String,
                                states: Seq[(String, Saved)])

  private def part(d: Path, name: String, k: Int): Path = d.resolve(s"${name}_$k")

  /** The id `LATEST` names, if any; [[loadLatest]] reads that snapshot. */
  private[streaming] def latestId(dir: String): Option[Long] = {
    val latest = Paths.get(s"$dir/LATEST")
    if (!Files.exists(latest)) None
    else Some(new String(Files.readAllBytes(latest), StandardCharsets.UTF_8).trim.toLong)
  }

  private def writeMeta(d: Path, m: Meta): Unit = {
    val lines = m.grains.map(g => s"grain=${g.mkString(",")}") ++ Seq(
      s"dirty=${m.dirty}", s"aggDepth=${m.aggDepth}",
      s"spillHistory=${m.spillHistory.mkString(",")}",
      s"spillEngaged=${m.spillEngaged}", s"spillRoot=${m.spillRoot}") ++
      m.states.map { case (n, s) => s"state=$n:${s.version.getOrElse("")}:${s.parts}" }
    Files.write(d.resolve("META"), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** A `b<id>` without `META` was written by an older build (one parquet
    * dir per state plus one-value files, or a `DELTA` record) — refuse it
    * rather than resume an empty or partial state.
    */
  private def readMeta(d: Path): Meta = {
    val f = d.resolve("META")
    require(Files.exists(f), s"snapshot $d has no META record: it was " +
      "written by an older build, which this build cannot read — delete " +
      "the snapshot dir and restart the fold from scratch")
    val kv = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
    def all(k: String) = kv.collect { case (`k`, v) => v }
    def one(k: String) = all(k).head
    Meta(all("grain").map(_.split(",").toSeq),
      one("dirty").toInt, one("aggDepth").toInt,
      one("spillHistory").split(",").toList.flatMap(_.toLongOption),
      one("spillEngaged").toBoolean, one("spillRoot"),
      all("state").map { s =>
        val Array(n, v, c) = s.split(":", 3)
        n -> Saved(v.toLongOption, c.toInt)
      })
  }

  /** Persist the post-batch state as `b<batchId>` and advance `LATEST`.
    *
    * Per state, what is written follows from what the fold knows:
    *  - a spilled fold: base = its newest spill version, parts = the
    *    pending chain since; the leading links the previous snapshot holds
    *    over the same base are linked, the rest written;
    *  - a plain-union batch (`state' = state ∪ delta`, recorded in
    *    [[IncrementalQ3.State.snapDeltas]]) over a previous snapshot: that
    *    snapshot's base and parts, linked, with the delta appended to the
    *    last part (parquet dir = unordered file set; the append adds
    *    fresh uniquely-named files next to the linked ones), so an
    *    insert-only fold's state stays one part;
    *  - otherwise (first batch, a state the batch consolidated, no usable
    *    previous): no base, the state as its one part.
    * Only the snapshot `LATEST` names as `b<batchId−1>` is linked from —
    * any other `b<batchId−1>` is debris of a crashed attempt.
    */
  def saveBatch(st: IncrementalQ3.State, dir: String, batchId: Long): Unit = {
    val d = Paths.get(s"$dir/b$batchId")
    // a crashed earlier attempt at this id leaves a partial dir — start
    // clean (the previous snapshot is b<id−1>, so this orphans nothing)
    org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
    Files.createDirectories(d)
    val prevDir = Paths.get(s"$dir/b${batchId - 1}")
    val prev = if (latestId(dir).contains(batchId - 1)) Some(readMeta(prevDir)) else None
    // per state: base version, parts linked from the previous snapshot,
    // and the frames written (appended) from part `into` on
    val plan: Seq[(String, Option[Long], Int, Int, Seq[DataFrame])] =
      st.names.zip(st.all).map { case (name, df) =>
        (st.spillMeta, st.snapDeltas.get(name), prev.flatMap(_.states.toMap.get(name))) match {
          case (Some(m), _, h) =>
            val chain = m.pending.getOrElse(name, Vector.empty)
            val linked = h.filter(s => prev.exists(_.spillRoot == m.root) &&
              s.version.contains(m.version) && s.parts <= chain.size).fold(0)(_.parts)
            (name, Some(m.version), linked, linked, chain.drop(linked))
          case (None, Some(delta), Some(h)) =>
            (name, h.version, h.parts, (h.parts - 1).max(0), Seq(delta))
          case _ => (name, None, 0, 0, Seq(df))
        }
      }
    plan.foreach { case (name, _, linked, _, _) =>
      (0 until linked).foreach(k => linkTree(part(prevDir, name, k), part(d, name, k)))
    }
    // Concurrent part writes (r14, guide §2.6 "overlap independent jobs"):
    // independent Spark jobs over already-pinned blocks — serially each
    // pays its own scheduling + commit latency per batch; concurrently the
    // wall time is the slowest write, the same pattern as
    // IncrementalQ3.step's upkeep pins and spilled MERGEs, each under the
    // caller's job label.
    graft.Phase.concurrently(plan.flatMap { case (name, _, _, into, fresh) =>
      fresh.zipWithIndex.map { case (df, i) =>
        () => df.write.mode("append").parquet(part(d, name, into + i).toString)
      }
    })
    writeMeta(d, Meta(st.aggsRaw.map(_._1), st.dirty, st.aggDepth,
      st.spillHistory, st.spillEngaged,
      st.spillMeta.map(_.root).orElse(prev.map(_.spillRoot)).getOrElse(""),
      plan.map { case (name, v, linked, into, fresh) =>
        name -> Saved(v, linked.max(into + fresh.size))
      }))
    flipLatest(dir, batchId)
  }

  private def flipLatest(dir: String, batchId: Long): Unit = {
    val tmp = Paths.get(s"$dir/.LATEST.tmp")
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

  private def linkTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val fs = Files.list(src)
    try fs.forEach { f =>
      if (Files.isRegularFile(f))
        Files.createLink(dst.resolve(f.getFileName.toString), f)
    } finally fs.close()
  }

  /** Latest complete snapshot, if one exists: `(state, lastAppliedBatchId)`;
    * the state folds on via [[IncrementalQ3.step]].
    *
    * Each state is eagerly localCheckpoint'd on load: the non-compacting
    * upkeep path in [[IncrementalQ3.step]] keeps the loaded frames in its
    * union lineage indefinitely, and without severing it here a later
    * [[saveBatch]] prune (or the resumed fold's compactions dropping the
    * base's spill version) would delete the very files the live state
    * still scans.
    */
  def loadLatest(spark: SparkSession, dir: String): Option[(IncrementalQ3.State, Long)] =
    latestId(dir).map { id =>
      val d = Paths.get(s"$dir/b$id")
      val m = readMeta(d)
      // schema templates for the base reads, from an empty fold shell
      lazy val shell = IncrementalQ3.init(spark, m.grains)
      val frames = m.states.zipWithIndex.map { case ((name, s), i) =>
        val base = s.version.map(v => MergeLogSpill.readBuckets(spark, m.spillRoot,
          v, name, shell.all(i).schema, (0 until MergeLogSpill.Buckets).toSet))
        val parts = if (s.parts == 0) None
          else Some(spark.read.parquet((0 until s.parts).map(part(d, name, _).toString): _*))
        (base ++ parts).reduce(_ unionByName _).localCheckpoint()
      }
      val Seq(c, o, l, co) = frames.take(4)
      (IncrementalQ3.State(c, o, l, co,
        aggsRaw = m.grains.toVector.zip(frames.drop(4)),
        dirty = m.dirty, spillHistory = m.spillHistory, aggDepth = m.aggDepth,
        spillEngaged = m.spillEngaged), id)
    }
}
