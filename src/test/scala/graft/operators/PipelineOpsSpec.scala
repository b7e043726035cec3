package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Invariants for the training-data-pipeline operators (dedup, similarity,
  * multimodal, text, windows); exact value parity is the driver's DuckDB
  * gate.
  */
class PipelineOpsSpec extends SparkSpec {

  test("frequent tokens: sketch recall + exact verify equals naive top-k") {
    import graft.functions.TextOps
    // capacity 64 « vocabulary forces real Misra–Gries evictions, yet the
    // checked bound (kth > N/(c+1)) still holds at fixture skew
    val got = TextOps.frequentTokens(spark, sfDir, k = 10, capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = graft.sources.Tables.table(spark, sfDir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want && got.size == 10)
    // an absurdly small sketch must fail the completeness check LOUDLY,
    // never return a silently-wrong top-k
    val ex = intercept[Exception] {
      TextOps.frequentTokens(spark, sfDir, k = 10, capacity = 2).collect()
    }
    assert(ex.getMessage.contains("recall bound violated"))
  }

  test("dedup: minhash-LSH and simhash both recover the exact jaccard pairs") {
    val exact = Dedup.dedupNgramJaccard(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty, "fixtures should contain planted near-dups")
    val minhash = Dedup.dedupMinhashLsh(spark, sfDir).collect().map(_.toSeq).toSeq
    val simhash = Dedup.dedupSimhash(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(minhash == exact, "minhash LSH must have full recall on fixtures")
    val exactTight = exact.filter(_(2).asInstanceOf[Double] >= Dedup.SimhashJaccardThreshold)
    assert(simhash == exactTight, "simhash must have full recall at its 0.9 regime")
  }

  test("simhash chunk regime: switch thresholds pinned, override validated") {
    // the corpus-size → chunk-count derivation IS the recall/selectivity
    // contract (radius = chunks − 1, buckets/chunk = 2^(64/chunks)); the
    // switch points are load-bearing for both the ≤100K full-recall claim
    // and the ≥100K narrowed regime (measured in README.md) — pin them
    assert(Dedup.simhashChunks(500L) == 16)
    assert(Dedup.simhashChunks(100000L) == 16, "the wide band holds THROUGH 100K")
    assert(Dedup.simhashChunks(100001L) == 8, "the narrowed band engages PAST 100K")
    assert(Dedup.simhashChunks(10000000L) == 8)
    assert(Dedup.simhashChunks(10000001L) == 4, "the web-dedup band engages past 10M")
    // the override wins at every size and rejects non-divisors of 64
    System.setProperty("graft.simhash.chunks", "8")
    try assert(Dedup.simhashChunks(500L) == 8)
    finally System.clearProperty("graft.simhash.chunks")
  }

  test("simhash narrowed regime: radius-7 subset of the wide answer, exact precision") {
    // the ≥100K regime exercised AT fixture scale via the override: every
    // pair it emits must be a true J ≥ 0.9 pair (verification is exact),
    // and its pair set must be a subset of the wide 16-chunk answer —
    // recall narrows to the guaranteed radius, precision never moves.
    // (The 100K+ run with the auto switch is recorded in README.md; this
    // pins the same semantics cheaply.)
    val wide = Dedup.dedupSimhash(spark, sfDir).collect().map(_.toSeq).toSet
    System.setProperty("graft.simhash.chunks", "8")
    val narrow = try Dedup.dedupSimhash(spark, sfDir).collect().map(_.toSeq).toSet
    finally System.clearProperty("graft.simhash.chunks")
    assert(narrow.subsetOf(wide),
      "the narrowed band may only lose recall past its radius, never " +
        "emit a pair the exact verification would reject")
  }

  test("dedup: bucketed embedding-cosine equals the all-pairs exact answer") {
    val exact = Dedup.dedupEmbeddingCosineExact(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty, "fixtures should contain cosine near-dups")
    // pin BOTH strategies of the adaptive path: the LSH bucket join must
    // have full recall, and the direct-triangle branch must agree too
    for (path <- Seq("lsh", "exact")) {
      System.setProperty("graft.dedup.embedding.path", path)
      try {
        val got = Dedup.dedupEmbeddingCosine(spark, sfDir).collect().map(_.toSeq).toSeq
        assert(got == exact, s"$path candidates must reproduce the exact answer")
      } finally System.clearProperty("graft.dedup.embedding.path")
    }
  }

  test("embedding candidate-path rule: small-n short-circuits, LSH engages above it") {
    // below smallN: exact, WITHOUT evaluating the estimate (by-name arg)
    assert(Dedup.embeddingCandidatePath(100, 4096,
      fail("estimate must not run below smallN")) == "exact")
    assert(Dedup.embeddingCandidatePath(0, 4096, 0.0) == "exact")
    // above smallN the measured estimate decides: prunable histogram → lsh
    val n = 10000L
    val triangle = n.toDouble * (n - 1) / 2
    assert(Dedup.embeddingCandidatePath(n, 4096, triangle / 10) == "lsh")
    // degenerate buckets (estimate ≥ half the triangle) → direct exact
    assert(Dedup.embeddingCandidatePath(n, 4096, triangle) == "exact")
  }

  test("bijective token rewrite keeps minhash dedup pairs within-copy (DedupBench invariant)") {
    import org.apache.spark.sql.functions._
    val off = 1000000000L
    val base = graft.sources.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val scaled = (0 until 2).map { i =>
      base.select((col("doc_id") + lit(i * off)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1x$i").as("text"))
    }.reduce(_ unionByName _)
    val pairs = Dedup.minhashLshPairs(Dedup.shingledDocs(scaled).localCheckpoint())
      .localCheckpoint()
    assert(pairs.filter(
      expr(s"doc_a DIV $off") =!= expr(s"doc_b DIV $off")).count() == 0,
      "the per-copy token rewrite must zero cross-copy shingle overlap")
    // the rewrite is a bijection on shingles: each copy must reproduce the
    // base corpus's pair count exactly
    val basePairs = Dedup.minhashLshPairs(
      Dedup.shingledDocs(base).localCheckpoint()).count()
    assert(basePairs > 0, "fixtures must contain near-dups")
    val perCopy = pairs.groupBy(expr(s"doc_a DIV $off")).count()
      .select(col("count")).collect().map(_.getLong(0))
    assert(perCopy.length == 2 && perCopy.forall(_ == basePairs),
      s"each copy must reproduce the base $basePairs pairs, got ${perCopy.mkString(",")}")
  }

  test("dedup_exact counts are consistent") {
    val r = Dedup.dedupExact(spark, sfDir).head()
    assert(r.getAs[Long]("n_docs") ==
      r.getAs[Long]("n_unique") + r.getAs[Long]("n_dup_docs"))
  }

  test("ann: lsh reproduces brute force exactly (full-recall regime)") {
    // The fixed seed-42 family at T=28/b=3 has full recall on the fixture,
    // and candidates are exact-reranked — so equality, not subset.
    val exact = Similarity.annBruteForce(spark, sfDir).collect().map(_.toSeq).toSeq
    val approx = Similarity.annLsh(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(approx == exact, "LSH must reproduce the exact top-K on fixtures")
  }

  test("ann: ivf reproduces brute force exactly (triangle-inequality pruning)") {
    // IVF is exact BY CONSTRUCTION (cell pruning bound never discards a
    // possible top-K neighbor), independent of clustering quality.
    val exact = Similarity.annBruteForce(spark, sfDir).collect().map(_.toSeq).toSeq
    val approx = Similarity.annIvf(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(approx == exact, "IVF pruning must never change the answer")
  }

  test("ann brute force: 5 neighbors per query, descending cosine") {
    val rows = Similarity.annBruteForce(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    // vec_id < NumQueries selects min(NumQueries, corpus) query vectors
    val nVecs = graft.sources.Tables.table(spark, sfDir, "embeddings").count()
    assert(byQ.size == math.min(Similarity.NumQueries.toLong, nVecs))
    byQ.values.foreach { rs =>
      assert(rs.length == Similarity.K)
      val cos = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cos.sameElements(cos.sorted.reverse))
    }
  }

  test("multimodal: features are normalized histograms over decoded pixels") {
    val rows = Multimodal.features(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val f = r.getSeq[Double](r.fieldIndex("features"))
      assert(f.length == 16)
      assert(math.abs(f.sum - 1.0) < 1e-9, "histogram must be normalized")
      assert(r.getLong(r.fieldIndex("n_px")) == 768L, "16x16 RGB = 768 values")
    }
    // deterministic across runs (real PNG encode->decode is bit-stable)
    val again = Multimodal.features(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("multimodal resize: 4x4 box pooling of the decoded image, exact sums") {
    val rows = Multimodal.resize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.values.foreach(rs => assert(rs.length == 16, "4x4 blocks per doc"))
    rows.foreach { r =>
      Seq("r_sum", "g_sum", "b_sum").foreach { c =>
        val v = r.getLong(r.fieldIndex(c))
        assert(v >= 0 && v <= 16L * 255, "block sum of 16 8-bit values")
      }
    }
    val again = Multimodal.resize(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("windows: sliding double-counts tumbling; session partitions events") {
    import graft.sources.Tables
    val nEvents = Tables.table(spark, sfDir, "events").count()
    val tumN = Windows.tumbling(spark, sfDir).agg(sum("n")).head.getLong(0)
    assert(tumN == nEvents)
    val slideN = Windows.sliding(spark, sfDir).agg(sum("n")).head.getLong(0)
    assert(slideN == 2 * nEvents, "each event lands in exactly 2 sliding windows")
    val sessN = Windows.session(spark, sfDir).agg(sum("n_events")).head.getLong(0)
    assert(sessN == nEvents)
  }

  test("split covers all docs; sample is stable, stratified, and a subset") {
    import graft.sources.Tables
    val nDocs = Tables.table(spark, sfDir, "documents").count()
    val split = Pipelines.trainValTestSplit(spark, sfDir).collect()
    assert(split.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(split.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "val", "test")))

    val s1 = Pipelines.stratifiedSample(spark, sfDir).collect()
    val s2 = Pipelines.stratifiedSample(spark, sfDir).collect()
    assert(s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq, "membership must be rerun-stable")
    assert(s1.length > 0 && s1.length < nDocs, "sample must actually sample")
    // balancing: target is HALF the smallest stratum, so even with hash
    // noise no sampled stratum should reach its own original size or far
    // exceed the smallest original stratum
    val origBySource = Tables.table(spark, sfDir, "documents").groupBy("source").count()
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val minOrig = origBySource.values.min
    s1.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      assert(rows.length <= minOrig, s"stratum $src not downsampled: ${rows.length} vs min $minOrig")
    }
  }

  test("dedup clusters: components are consistent with the pair set") {
    val pairs = Dedup.dedupMinhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val clusters = Dedup.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // membership = exactly the docs in some pair
    assert(clusters.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    // near-dup endpoints always land in the same component
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 == clusters(b)._1, s"pair ($a,$b) split across clusters")
    }
    // the label is the smallest member (the canonical keeper), and csize
    // counts the members carrying that label
    clusters.groupBy(_._2._1).foreach { case (label, members) =>
      assert(members.keys.min == label, s"cluster $label: label is not min member")
      members.values.foreach { case (_, sz) => assert(sz == members.size) }
    }
    // transitivity actually exercised: some component must be larger than
    // a single pair (A~B~C with A~C never a pair collapses to one cluster)
    assert(clusters.values.map(_._2).max >= 2)
  }

  test("clusterize: a 500-deep chain converges in log rounds (pointer jumping)") {
    import spark.implicits._
    // path graph 0-1-2-…-500: diameter 500. Plain neighbor-min label
    // propagation needs 500 rounds (> the 64-round cap); pointer jumping
    // must close it in ~log2(500) ≈ 9 — if the jump regressed, the cap
    // aborts this test loudly.
    val chain = (0L until 500L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterize(spark, chain).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 501)
    assert(got.forall { case (_, label, sz) => label == 0L && sz == 501L },
      "every chain vertex must collapse to the component min")
    // two disjoint components stay disjoint
    val two = (0L until 3L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .union(Seq((100L, 101L), (101L, 102L)).toDF("doc_a", "doc_b"))
    val labels = Dedup.clusterize(spark, two).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.filter(_._1 < 100).values.toSet == Set(0L))
    assert(labels.filter(_._1 >= 100).values.toSet == Set(100L))
  }

  test("decontaminate: flags exactly the corpus docs sharing a benchmark gram") {
    import graft.sources.Tables
    val got = Pipelines.decontaminate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "fixture vocabulary guarantees shared trigrams")
    assert(got.keySet.forall(_ % 20 != 0), "benchmark docs must never be flagged")
    // independent recomputation via pairwise array intersection on a
    // sampled subset (the query path is an inverted-index join — different
    // plan, same semantics)
    val sh = Dedup.shingled(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val benchGrams = sh.filter(_._1 % 20 == 0).values.flatten.toSet
    sh.filter(_._1 % 20 != 0).foreach { case (id, grams) =>
      val n = grams.intersect(benchGrams).size
      assert(got.getOrElse(id, 0L) == n.toLong, s"doc $id: got ${got.get(id)} want $n")
    }
  }

  test("embed norms: one dimension per label, order-stable stats") {
    val rows = Similarity.embedNorms(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dims") == 1L, "mixed dims in one label must be caught")
      val (lo, hi) = (r.getAs[Double]("min_norm"), r.getAs[Double]("max_norm"))
      val avg = r.getAs[Double]("avg_norm")
      assert(lo > 0 && lo <= avg && avg <= hi)
    }
    val again = Similarity.embedNorms(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("pack: distributed running sum equals sequential concatenate-and-cut") {
    val rows = Pipelines.packSequences(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // sequential replay: docs concatenated in doc_id order, cut every 2048
    var cum = 0L
    rows.sortBy(_._1).foreach { case (id, n, seqId, off) =>
      assert(seqId == cum / 2048 && off == cum % 2048, s"doc $id misplaced")
      cum += n
    }
    // multiple sequences actually produced, and offsets stay in budget
    assert(rows.map(_._3).distinct.length > 1)
    assert(rows.forall(r => r._4 >= 0 && r._4 < 2048))
  }

  test("chunk: every token covered, overlap = window - stride, text reconstructs") {
    import graft.sources.Tables
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = Pipelines.chunkDocuments(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(chunks.nonEmpty)
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val toks = docs(id).split(" ", -1)
      val sorted = cs.sortBy(_._2)
      // chunk_idx is dense from 0; every chunk starts at idx*stride and
      // carries exactly the tokens of its window slice
      sorted.zipWithIndex.foreach { case ((_, idx, text, n), i) =>
        assert(idx == i.toLong)
        val start = i * 24
        val want = toks.slice(start, start + 32)
        assert(n == want.length.toLong, s"doc $id chunk $i token count")
        assert(text == want.mkString(" "), s"doc $id chunk $i text")
      }
      // coverage: the last chunk reaches the last token
      val (_, lastIdx, _, lastN) = sorted.last
      assert(lastIdx * 24 + lastN == toks.length.toLong, s"doc $id tail uncovered")
    }
  }

  test("interleave: deterministic, weight-proportional at every prefix") {
    val s1 = Pipelines.interleaveSources(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val s2 = Pipelines.interleaveSources(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(s1.sortBy(_._1).toSeq == s2.sortBy(_._1).toSeq, "schedule must be rerun-stable")
    val sched = s1.sortBy(_._1)
    // positions are a dense 1..n permutation of the whole corpus
    assert(sched.map(_._1).toSeq == (1L to sched.length).toSeq)
    assert(sched.map(_._3).distinct.length == sched.length)
    // SAME rule as the implementation: FIRST digit run, 0 when digitless
    def weight(src: String): Long =
      1 + "\\d+".r.findFirstIn(src).map(_.toLong).getOrElse(0L) % 3
    // stride scheduling: at any prefix, a source's emitted count can't
    // trail its weight share by more than one full round of the schedule
    val bySrc = sched.map { case (_, src, _) => src }
    val srcs = bySrc.distinct
    val wsum = srcs.map(weight).sum.toDouble
    for (prefix <- Seq(sched.length / 4, sched.length / 2)) {
      val counts = bySrc.take(prefix).groupBy(identity).view.mapValues(_.length).toMap
      srcs.foreach { s =>
        val share = prefix * weight(s) / wsum
        assert(math.abs(counts.getOrElse(s, 0) - share) <= wsum,
          s"source $s at prefix $prefix: ${counts.getOrElse(s, 0)} vs share $share")
      }
    }
  }

  test("quantize: int8 reconstruction error bounded by scale/2") {
    import graft.sources.Tables
    val rows = Similarity.embedQuantize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // global bound: err <= scale/2 = max|x|/254 per vector; check against
    // the corpus-wide max component (a loose but engine-independent bound)
    val maxAbs = Tables.table(spark, sfDir, "embeddings")
      .selectExpr("array_max(transform(cast(embedding as array<double>), x -> abs(x))) as m")
      .agg(max("m")).head.getDouble(0)
    rows.foreach { r =>
      val (avg, worst) = (r.getAs[Double]("avg_max_err"), r.getAs[Double]("worst_err"))
      assert(avg >= 0 && avg <= worst)
      assert(worst <= maxAbs / 254.0 + 1e-9, s"worst=$worst exceeds scale/2 bound")
    }
  }

  test("text stats: ratios in [0,1], fingerprints are hex md5") {
    val rows = graft.functions.TextOps.textStats(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("alpha_ratio") >= 0 && r.getAs[Double]("alpha_ratio") <= 1)
      assert(r.getAs[Double]("quality") >= 0 && r.getAs[Double]("quality") <= 1.0000001)
    }
    val fp = graft.functions.TextOps.docFingerprint(spark, sfDir).collect()
    fp.foreach(r => assert(r.getAs[String]("fp").matches("[0-9a-f]{32}")))
  }

  test("repeated passages equal a sequential window-count recomputation") {
    val got = Dedup.repeatedPassages(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty, "fixtures should contain planted repeated passages")
    // independent in-JVM oracle: tokenize every doc sequentially, slide
    // the same W-token window, count docs/occurrences per passage
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    val W = Dedup.PassageWindow
    val occ = scala.collection.mutable.Map.empty[String, List[Long]]
    for ((id, w) <- docs; i <- 0 to w.size - W if w.size >= W)
      occ.updateWith(w.slice(i, i + W).mkString(" "))(o => Some(id :: o.getOrElse(Nil)))
    val want = occ.iterator
      .map { case (p, ids) => (p, ids.distinct.size.toLong, ids.size.toLong) }
      .filter(_._2 >= 2).toSeq.sortBy(_._1)
    assert(got == want)
    // every emitted passage is exactly W tokens
    got.foreach { case (p, _, _) => assert(p.split(" ").length == W) }
  }

  test("canonicalization keeps the best-quality doc per cluster, singletons self-map") {
    val rows = Dedup.dedupCanonical(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
    assert(rows.length == docs.count())
    rows.foreach { case (id, canon, kept) => assert(kept == (id == canon)) }
    val canonOf = rows.map(r => r._1 -> r._2).toMap
    val quality = graft.functions.TextOps.textStats(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
    val clusters = Dedup.dedupClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.nonEmpty)
    // within every cluster: one shared keeper, and it is the
    // (max quality, min doc_id) argmax of the members
    clusters.groupBy(_._2).values.foreach { members =>
      val ids = members.map(_._1).toSeq
      val keepers = ids.map(canonOf).distinct
      assert(keepers.size == 1, s"cluster must share one keeper, got $keepers")
      val best = ids.maxBy(id => (quality(id), -id))
      assert(keepers.head == best)
    }
    // docs in no cluster keep themselves
    val clustered = clusters.map(_._1).toSet
    rows.filter(r => !clustered(r._1)).foreach { case (id, canon, kept) =>
      assert(canon == id && kept)
    }
  }

  test("bm25 equals a sequential scorer and ranks term-dense docs first") {
    import graft.functions.TextOps
    val got = TextOps.bm25(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.size == 50)
    // independent sequential BM25 over the collected corpus
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.size).sum.toDouble / n
    val dfs = TextOps.Bm25Terms.map(t => t -> docs.count(_._2.contains(t)).toDouble).toMap
    def score(w: Seq[String]): Double = TextOps.Bm25Terms.map { t =>
      val tf = w.count(_ == t).toDouble
      if (tf == 0) 0.0
      else math.log((n - dfs(t) + 0.5) / (dfs(t) + 0.5) + 1.0) *
        (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * w.size / avgdl))
    }.sum
    val want = docs
      .map { case (id, w) =>
        (id, BigDecimal(score(w)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, s) => (-s, id) }.take(50).toSeq
    assert(got == want)
    // descending scores, deterministic tie-break already proven by equality
    assert(got.map(_._2) == got.map(_._2).sorted(Ordering[Double].reverse))
  }

  test("sharded inverted index equals a sequential build and prunes the df tail") {
    import graft.functions.TextOps
    val got = TextOps.invertedIndex(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    val postings = docs
      .flatMap { case (id, ws) => ws.groupBy(identity).map { case (t, o) => (t, id, o.size.toLong) } }
      .groupBy(_._1)
    val want = postings.toSeq
      .filter(_._2.size >= TextOps.IndexMinDf)
      .flatMap { case (t, ps) =>
        val df = ps.size.toLong
        val totalTf = ps.map(_._3).sum
        ps.groupBy(_._2 % TextOps.IndexShards).map { case (shard, sps) =>
          val sorted = sps.sortBy(_._2)
          (t, shard, df, totalTf,
            sorted.map(p => s"${p._2}:${p._3}").mkString(","))
        }
      }
      .sortBy(r => (r._1, r._2))
    assert(got == want && got.nonEmpty)
    // the global stats are identical on every shard row of a term, and the
    // shard column actually partitions (more rows than terms at this sf)
    val terms = got.map(_._1).distinct
    assert(got.groupBy(_._1).forall { case (_, rs) => rs.map(r => (r._3, r._4)).distinct.size == 1 })
    assert(got.size > terms.size)
    // pruning accounting: emitted terms + pruned tail = full vocabulary
    // (sf0.001's vocab has no df<5 tail; the sf0.01 driver oracle has one)
    val tail = postings.count(_._2.size < TextOps.IndexMinDf)
    assert(terms.size == postings.size - tail)
  }

  test("retention triangle equals a sequential cohort fold") {
    import java.time.temporal.ChronoUnit
    val got = Pipelines.retention(spark, sfDir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val events = graft.sources.Tables.table(spark, sfDir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val cohort = events.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
    val want = events.map { case (u, d) => (u, cohort(u), d) }.distinct
      .groupBy { case (_, c, d) => (c, ChronoUnit.DAYS.between(c, d)) }
      .map { case ((c, off), us) => (c, off, us.size.toLong) }.toSeq
    val sizes = want.collect { case (c, 0L, n) => c -> n }.toMap
    val wantRows = want.map { case (c, off, n) => (c.toString, off, n, sizes(c)) }
      .sortBy { case (c, off, _, _) => (c, off) }
    assert(got == wantRows && got.nonEmpty)
    // every user appears at offset 0, so n_active ≤ cohort_size row-wise
    got.foreach { case (_, _, n, size) => assert(n <= size) }
    assert(got.exists(_._2 > 0), "fixtures should span multiple active days")
  }

  test("negative pairs: deterministic, cross-source, ≤4 per anchor") {
    val rows = Pipelines.negativePairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3), r.getString(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, j, neg, as, ns) =>
      assert(j >= 1 && j <= 4 && as != ns && a != neg)
    }
    val perAnchor = rows.groupBy(_._1)
    assert(perAnchor.values.forall(_.size <= 4))
    // rerun is bit-identical (the reproducible-epoch contract)
    val again = Pipelines.negativePairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3), r.getString(4)))
    assert(rows.toSeq == again.toSeq)
  }

  test("reservoir sample: exactly k per source, equals the window spelling") {
    val got = Pipelines.reservoirSample(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val perSource = got.groupBy(_._1)
    assert(perSource.nonEmpty && perSource.values.forall(_.size == 5),
      "every stratum must yield exactly k=5 docs")
    // the min-k-hash sample IS the window top-k under the same rank
    import org.apache.spark.sql.expressions.Window
    val want = graft.sources.Tables.table(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
        md5(concat(lit("reservoir:"), col("doc_id").cast("string"))).as("rk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("rk"), col("doc_id"))))
      .filter(col("rn") <= 5).drop("rn")
      .orderBy("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == want)
  }
}
