package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Randomized properties of the hash-free dedup primitives
  * ([[Dedup.repeatedPassagesDocs]], [[Dedup.clusterize]]) over
  * adversarial random inputs: tiny vocabularies force dense passage
  * repetition (including passages repeated many times WITHIN one doc),
  * random edge sets force multi-component, chain, and singleton cluster
  * shapes. Each distributed answer must equal a sequential
  * recomputation. Fixed seeds (offline, no scalatest-scalacheck bridge)
  * so failures replay deterministically.
  */
class DedupPropertySpec extends SparkSpec {

  // vocab of 4 tokens ⇒ only 4^8 distinct 8-token windows; docs of up to
  // 60 tokens collide constantly, within and across documents
  private val docsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(0, 40)
    lens <- Gen.listOfN(n, Gen.choose(0, 60))
    texts <- Gen.sequence[List[List[String]], List[String]](
      lens.map(l => Gen.listOfN(l, Gen.oneOf("a", "b", "c", "d"))))
  } yield texts.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }

  private def sampleDocs(i: Long): List[(Long, String)] =
    docsGen(Gen.Parameters.default, Seed(i)).get

  test("edit-distance ASCII fold pins multibyte text to a single-unit alphabet") {
    // The audit's cross-engine contract (ADVICE r5): every non-ASCII char
    // folds to '_' BEFORE levenshtein, so zh/multibyte prefixes compare in
    // a provably single-unit alphabet. Pin the fold's semantics on
    // explicit BMP strings: equal-length zh runs fold to identical
    // underscores (distance carried by the ASCII tail alone), and the
    // fold is length-preserving for BMP input.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val fold = (c: org.apache.spark.sql.Column) =>
      regexp_replace(c, "[^\\x00-\\x7F]", "_")
    val rows = Seq(
      ("中文测试 abcd", "中文测验 abce", 1), // zh differs but folds equal; ASCII d→e = 1
      ("中文 kitten", "中文 sitting", 3),    // classic pair behind an equal fold
      ("中文字", "中文", 1),                 // pure-BMP length edit survives the fold
      ("plain ascii", "plain ascii", 0)
    ).toDF("a", "b", "want")
    val got = rows.select(levenshtein(fold(col("a")), fold(col("b"))).as("d"),
        col("want"), length(fold(col("a"))).as("fl"), length(col("a")).as("l"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"fold distance ${r.getInt(0)} != ${r.getInt(1)}")
      assert(r.getInt(2) == r.getInt(3), "fold must be length-preserving for BMP text")
    }
  }

  test("span rewrite == sequential first-occurrence replay on random tiny-vocab corpora") {
    import spark.implicits._
    // tiny vocab ⇒ dense aligned-span collisions within and across docs;
    // the distributed rewrite must keep exactly the (doc_id, idx)-first
    // copy of each span text and reassemble in order
    for (seed <- 1L to 6L) {
      val docs = sampleDocs(seed)
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.dedupSpanRewriteDocs(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toList
      // sequential replay
      val seen = scala.collection.mutable.Set.empty[String]
      val want = docs.map { case (id, text) =>
        // split semantics match both engines: "".split("\\s+") == [""]
        // (an empty doc has ONE empty token, hence one empty span)
        val ws = text.trim.split("\\s+").toList
        val spans = ws.grouped(Dedup.SpanWords).map(_.mkString(" ")).toList
        val kept = spans.filter(s => seen.add(s))
        (id, spans.length.toLong, kept.length.toLong, kept.mkString(" "))
      }
      assert(got == want.sortBy(_._1), s"seed $seed")
    }
  }

  test("repeated passages == sequential window counts on random tiny-vocab corpora") {
    import spark.implicits._
    val W = Dedup.PassageWindow
    for (seed <- 1L to 8L) {
      val data = sampleDocs(seed)
      val got = Dedup.repeatedPassagesDocs(
          data.toDF("doc_id", "text").repartition(5))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val occ = scala.collection.mutable.Map.empty[String, List[Long]]
      for {
        (id, text) <- data
        w = text.trim.split("\\s+").toSeq if w.size >= W && text.trim.nonEmpty
        i <- 0 to w.size - W
      } occ.updateWith(w.slice(i, i + W).mkString(" "))(o => Some(id :: o.getOrElse(Nil)))
      val want = occ.iterator
        .map { case (p, ids) => (p, ids.distinct.size.toLong, ids.size.toLong) }
        .filter(_._2 >= 2).toSeq.sortBy(_._1)
      assert(got == want, s"seed $seed: passage counts diverged")
    }
  }

  test("hash-keyed substring dedup == exact text-key form (incl. conf flip)") {
    import spark.implicits._
    for (seed <- 11L to 16L) {
      val data = sampleDocs(seed)
      val df = data.toDF("doc_id", "text").repartition(5)
      val exact = Dedup.repeatedPassagesDocs(df).collect().map(_.toSeq).toSeq
      val hashed = Dedup.repeatedPassagesHashedDocs(df).collect().map(_.toSeq).toSeq
      assert(hashed == exact, s"seed $seed: hashed variant diverged")
    }
    // the conf routes the default entry point to the hashed form
    val data = sampleDocs(3L)
    val df = data.toDF("doc_id", "text").repartition(5)
    val exact = Dedup.repeatedPassagesDocs(df).collect().map(_.toSeq).toSeq
    spark.conf.set("spark.graft.substring.hashed", "true")
    try assert(Dedup.repeatedPassagesDocs(df).collect().map(_.toSeq).toSeq == exact)
    finally spark.conf.unset("spark.graft.substring.hashed")
  }

  test("prefix filtering == exact Jaccard pairs on fixture and random corpora") {
    import spark.implicits._
    // fixture: the prefix-filter path must be bit-identical to the exact
    // inverted-index self-join it replaces
    val want = Dedup.dedupNgramJaccard(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val got = Dedup.dedupPrefixFilter(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(got == want, s"prefix-filter (${got.size}) != exact (${want.size})")
    assert(want.nonEmpty, "fixture must contain near-dup pairs")
    // adversarial tiny-vocab corpora: dense shingle collisions stress the
    // prefix cut's integer ceil and the length filter at every set size
    for (seed <- 1L to 4L) {
      val docs = sampleDocs(seed)
      if (docs.nonEmpty) {
        val sh = Dedup.shingledDocs(docs.toDF("doc_id", "text").repartition(5))
          .localCheckpoint()
        val exact = Dedup.exactJaccardPairs(sh, 0.8)
          .collect().map(_.toSeq).toSet
        val pf = Dedup.prefixFilterPairs(sh, 4, 5)
          .collect().map(_.toSeq).toSet
        assert(pf == exact, s"seed $seed: prefix-filter diverges from exact")
      }
    }
  }

  test("incremental dedup == full near-dup pairs restricted to base×delta") {
    // the delta side is the trailing tenth of the id space, so the
    // incremental answer must be EXACTLY the full pair set's cross-split
    // slice: no pair invented, none lost at the index boundary
    val full = Dedup.dedupMinhashLsh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val maxId = graft.sources.Tables.table(spark, sfDir, "documents")
      .agg(max(col("doc_id"))).head().getLong(0)
    val split = maxId * 9 / 10
    val want = full.filter { case (a, b, _) => a < split && b >= split }
    val got = Dedup.dedupIncremental(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want,
      s"incremental (${got.size}) != cross-split slice (${want.size}) of full (${full.size})")
    assert(got.nonEmpty, "fixture must contain at least one base×delta near-dup pair")
  }

  test("incremental dedup against a parquet-PERSISTED index == derived index") {
    // the deployment claim behind Dedup.lshIndex: the (doc_id, band,
    // bucket) frame survives a write/reload roundtrip and an ingest batch
    // joined against the RELOADED index produces the identical pair set
    val sh = Dedup.shingled(spark, sfDir).localCheckpoint()
    val maxId = sh.agg(max(col("doc_id"))).head().getLong(0)
    val split = maxId * 9 / 10
    val shBase = sh.filter(col("doc_id") < split)
    val shDelta = sh.filter(col("doc_id") >= split)
    val derived = Dedup.incrementalPairs(Dedup.lshIndex(shBase), sh, shDelta)
      .collect().map(_.toSeq).toSet
    val dir = tempDir("graft-lsh-index")
    Dedup.lshIndex(shBase).write.mode("overwrite").parquet(dir)
    val reloaded = Dedup.incrementalPairs(spark.read.parquet(dir), sh, shDelta)
      .collect().map(_.toSeq).toSet
    assert(reloaded == derived && derived.nonEmpty,
      s"persisted-index pairs (${reloaded.size}) != derived (${derived.size})")
  }

  private val edgesGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(0, 60)
    as <- Gen.listOfN(n, Gen.choose(0L, 30L))
    bs <- Gen.listOfN(n, Gen.choose(0L, 30L))
  } yield as.zip(bs).filter { case (a, b) => a != b }

  test("clusterize == sequential union-find on random edge sets") {
    import spark.implicits._
    for (seed <- 21L to 26L) {
      val edges = edgesGen(Gen.Parameters.default, Seed(seed)).get
      if (edges.nonEmpty) {
        val got = Dedup.clusterize(spark, edges.toDF("doc_a", "doc_b"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
        // sequential union-find with min-label normalization
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val members = parent.keys.toSeq.groupBy(find)
        val want = members.toSeq.flatMap { case (_, ms) =>
          val label = ms.min
          ms.map(m => (m, label, ms.size.toLong))
        }.sorted
        assert(got == want, s"seed $seed: clustering diverged")
      }
    }
  }
}
