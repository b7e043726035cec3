package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The spill store's CONTRACT ([[MergeLogSpill]]) — what the z-set
  * algebra relies on, stated so that a transactional table format
  * (Delta/Iceberg MERGE) standing in for the store must pass it too:
  *
  *  - full write → the returned frame and an all-buckets read both equal
  *    the input;
  *  - incremental carry: a write given only the DIRTY buckets' content
  *    must serve the full state (dirty from the new write, clean carried
  *    forward from the previous version);
  *  - dirty-read: `readBuckets` returns exactly the requested buckets'
  *    rows, and an empty/fileless request yields an empty frame with the
  *    pinned schema;
  *  - version-drop survivability: dropping the PREVIOUS version must not
  *    damage content the new version carried forward (its manifest
  *    still references it) — the invariant the algebra's
  *    two-version pruning relies on;
  *  - drop removes the version's own content.
  */
class SpillFormatContractSpec extends SparkSpec {

  import spark.implicits._

  private def state1: DataFrame =
    (0L until 500L).map(k => (k, 1L)).toDF("k", ZSet.W)

  private def bucketOfKey(k: Long): Int =
    Seq(k).toDF("k").select(pmod(hash(col("k")), lit(MergeLogSpill.Buckets))
      .cast("int")).head().getInt(0)

  private def rowsOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("[mergelog] full write: returned frame and all-buckets read equal input") {
    val root = tempDir("graft-spillfmt-mergelog-full")
    val w = MergeLogSpill.write(spark, root, 1L, "s", "k", state1, carry = None)
    assert(rowsOf(w) == rowsOf(state1))
    val all = MergeLogSpill.readBuckets(spark, root, 1L, "s", state1.schema,
      (0 until MergeLogSpill.Buckets).toSet)
    assert(rowsOf(all) == rowsOf(state1))
    MergeLogSpill.drop(root, 1L, Seq("s"))
  }

  test("[mergelog] carry: dirty-only input serves the full merged state") {
    val root = tempDir("graft-spillfmt-mergelog-carry")
    MergeLogSpill.write(spark, root, 1L, "s", "k", state1, carry = None)
    // the churn: key 3 upweighted, key 7 deleted → their buckets dirty
    val dirty = Set(bucketOfKey(3L), bucketOfKey(7L))
    val expected = rowsOf(state1) - ((3L, 1L)) - ((7L, 1L)) + ((3L, 2L))
    val dirtyContent = expected.toSeq.toDF("k", ZSet.W)
      .filter(pmod(hash(col("k")), lit(MergeLogSpill.Buckets)).cast("int")
        .isin(dirty.toSeq: _*))
    val w2 = MergeLogSpill.write(spark, root, 2L, "s", "k", dirtyContent,
      carry = Some((1L, dirty)))
    assert(rowsOf(w2) == expected,
      "carry write must serve dirty content + carried clean buckets")
    // dirty-read returns exactly the requested buckets' rows
    val dr = rowsOf(MergeLogSpill.readBuckets(spark, root, 2L, "s", state1.schema, dirty))
    assert(dr == rowsOf(dirtyContent))
    // version-drop survivability: v1 goes, v2 must stay fully readable
    MergeLogSpill.drop(root, 1L, Seq("s"))
    val after = MergeLogSpill.readBuckets(spark, root, 2L, "s", state1.schema,
      (0 until MergeLogSpill.Buckets).toSet)
    assert(rowsOf(after) == expected,
      "dropping the previous version damaged carried-forward content")
    // and dropping v2 removes its content
    MergeLogSpill.drop(root, 2L, Seq("s"))
    val gone = MergeLogSpill.readBuckets(spark, root, 2L, "s", state1.schema,
      (0 until MergeLogSpill.Buckets).toSet)
    assert(gone.isEmpty, "dropped version still served rows")
  }

  test("[mergelog] fileless read yields an empty frame with the pinned schema") {
    val root = tempDir("graft-spillfmt-mergelog-empty")
    val e = MergeLogSpill.readBuckets(spark, root, 9L, "s", state1.schema, Set(0, 1))
    assert(e.schema == state1.schema && e.isEmpty)
  }

  test("[mergelog] carry is metadata-only: fresh data files exist only for dirty buckets") {
    val root = tempDir("graft-spillfmt-mergelog-meta")
    MergeLogSpill.write(spark, root, 1L, "s", "k", state1, carry = None)
    val dirty = Set(bucketOfKey(3L))
    val dirtyContent = state1
      .filter(pmod(hash(col("k")), lit(MergeLogSpill.Buckets)).cast("int")
        .isin(dirty.toSeq: _*))
    MergeLogSpill.write(spark, root, 2L, "s", "k", dirtyContent,
      carry = Some((1L, dirty)))
    // v2's manifest points FRESH (v2-pool) files only for the dirty
    // buckets — every clean bucket re-pointed at v1's files, zero data
    // I/O (checked from the manifest, the format's own metadata)
    val manifest = MergeLogSpill.readManifest(root, 2L, "s")
    val freshBuckets = manifest.filter(_._2.contains("/v2/")).map(_._1).toSet
    assert(freshBuckets == dirty,
      s"carry rewrote data for buckets ${freshBuckets -- dirty} it should have re-pointed")
    val carriedBuckets = manifest.filterNot(_._2.contains("/v2/")).map(_._1).toSet
    assert(carriedBuckets.nonEmpty && (carriedBuckets & dirty).isEmpty,
      "clean buckets must be carried forward from v1, never rewritten")
  }

  test("[mergelog] listing-free: a planted decoy file in the pool is invisible") {
    // the write/GC paths must derive file sets from task reports +
    // manifests + the VLOG, never from directory listings — so a foreign
    // file sitting in the pool (which the old listing-based write would
    // have swept into the manifest) must neither enter the manifest nor
    // corrupt reads, and GC must leave it alone (it owns only what its
    // manifests reference)
    val root = tempDir("graft-spillfmt-mergelog-decoy")
    val decoyDir = java.nio.file.Paths.get(s"$root/pool/s/v1")
    java.nio.file.Files.createDirectories(decoyDir)
    // a VALID parquet file with poison rows, named like a data file
    Seq((999999L, 42L)).toDF("k", ZSet.W).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/decoy_stage")
    val part = Option(new java.io.File(s"$root/decoy_stage").listFiles())
      .get.find(_.getName.endsWith(".parquet")).get
    val decoy = decoyDir.resolve("p99999-b00000.parquet")
    java.nio.file.Files.copy(part.toPath, decoy)
    val w = MergeLogSpill.write(spark, root, 1L, "s", "k", state1, carry = None)
    assert(rowsOf(w) == rowsOf(state1),
      "a foreign pool file leaked into the written state")
    val all = MergeLogSpill.readBuckets(spark, root, 1L, "s", state1.schema,
      (0 until MergeLogSpill.Buckets).toSet)
    assert(rowsOf(all) == rowsOf(state1),
      "a foreign pool file leaked into the bucket read")
    MergeLogSpill.drop(root, 1L, Seq("s"))
    assert(java.nio.file.Files.exists(decoy),
      "GC deleted a file no manifest ever referenced — it must only " +
        "reclaim what it owns")
  }
}
