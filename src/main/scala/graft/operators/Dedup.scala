package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operators over `documents` — exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, and embedding-cosine near-dup (builder brief: the
  * large-scale training-data pipeline surface).
  *
  * Scale design: the exact Jaccard path joins through an inverted shingle
  * index (pairs sharing zero shingles never meet — no O(n²) cross join);
  * the MinHash and SimHash paths generate candidates from constant-size
  * signatures (band buckets), so the only all-pairs work is within a
  * bucket. All signature math is `xxhash64` Catalyst expressions —
  * codegen'd, no UDFs. Approximate stages are RECALL stages: every
  * candidate pair is exactly verified, so results equal the exact-Jaccard
  * answer whenever recall is complete (asserted in DedupSpec; at 16 bands
  * × 2 rows the miss probability at J=0.8 is (1−0.8²)¹⁶ ≈ 4·10⁻⁴ per pair).
  */
object Dedup {

  val JaccardThreshold = 0.8
  /** SimHash is a reliable recall stage only at tighter similarity (its
    * hamming distance grows with the differing-shingle fraction; at J≈0.89
    * true pairs can exceed any practical chunk bound), so the SimHash path
    * targets J ≥ 0.9 — the classic near-identical-dedup regime.
    */
  val SimhashJaccardThreshold = 0.9
  val CosineThreshold = 0.4

  /** Distinct word 3-gram shingles per doc: `(doc_id, shingles)`. */
  def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledDocs(Tables.table(spark, dir, "documents"))

  /** [[shingled]] over an explicit `(doc_id, text)` frame. */
  def shingledDocs(docs: DataFrame): DataFrame =
    Tables.spread(docs) // single-file fixture scan → spread the CPU-heavy
                        // shingle/verify work across cores (no-op at scale)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), when(size(col("w")) >= 3,
          array_distinct(expr(
            """transform(sequence(1, size(w) - 2),
              |  i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', element_at(w, i + 2)))""".stripMargin)))
        .otherwise(array().cast("array<string>")).as("s"))

  /** Exact dedup summary via content hash (hash-groupBy): md5(text) is the
    * canonical distributed exact-dup key — one shuffle on the digest, never
    * on the full text.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"))

  /** `(doc_a, doc_b, inter)` + per-doc set sizes → thresholded Jaccard.
    * Pure counts — no array materialization or O(|set|) intersect in the
    * pair loop, so verification cost is one hash join per side.
    */
  private def jaccardFromCounts(inter: DataFrame, sizes: DataFrame,
                                threshold: Double): DataFrame = {
    inter
      .join(sizes.toDF("doc_a", "sza"), "doc_a")
      .join(sizes.toDF("doc_b", "szb"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextOps.round6(col("jaccard")).as("jaccard"))
  }

  /** Exact-verify candidate pairs: count common shingles via the inverted
    * index (join on (doc, gram)), never touching shingle arrays pairwise.
    */
  private def verifyCandidates(cand: DataFrame, sh: DataFrame,
                               threshold: Double): DataFrame = {
    val inv = sh.select(col("doc_id"), explode(col("s")).as("g"))
    val inter = cand
      .join(inv.toDF("doc_a", "g"), "doc_a")
      .join(inv.toDF("doc_b", "g"), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    jaccardFromCounts(inter,
      sh.select(col("doc_id"), size(col("s")).as("sz")), threshold)
  }

  /** Exact n-gram Jaccard near-dup pairs via inverted shingle index:
    * explode → self-join on shingle → count common shingles per pair →
    * verify. Equivalent to the O(n²) oracle but only materializes pairs
    * with ≥1 common shingle.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    // The pin stays ON the shingle arrays: exploding the raw inline
    // shingle expression instead (pin the exploded index, derive sizes
    // from it) re-evaluates the transform/array_distinct chain per output
    // row — measured 16–20 s vs 2.4–2.7 s at sf0.1 (PLANS.md).
    exactJaccardPairs(shingled(spark, dir).localCheckpoint(), JaccardThreshold)
      .orderBy("doc_a", "doc_b")

  /** Exact Jaccard pairs ≥ `threshold` over a PINNED shingle frame — the
    * recall-independent ground truth the approximate families are judged
    * against (DedupPropertySpec). `sh` must be
    * checkpointed by the caller: it is consumed by an explode and a sizes
    * projection, and an unpinned inline shingle expression under the
    * explode re-evaluates per output row.
    */
  def exactJaccardPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val inv = sh.select(col("doc_id"), explode(col("s")).as("g"))
    val inter = inv.as("x").join(inv.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sh.select(col("doc_id"), size(col("s")).as("sz"))
    jaccardFromCounts(inter, sizes, threshold)
  }

  /** Prefix-filtering set-similarity join (All-Pairs/PPJoin family,
    * Bayardo et al. WWW'07; Xiao et al. WWW'08) — the EXACT-recall scale
    * path beside the probabilistic MinHash one. Under any common total
    * token order, J(A,B) ≥ τ forces the globally-smallest COMMON shingle
    * into both docs' prefixes of length |x| − ⌈τ|x|⌉ + 1 (each side has
    * ≤ |x| − ⌈τ|x|⌉ non-common tokens, so the smallest common one sits at
    * rank ≤ prefix length). Candidates therefore come from joining
    * PREFIX tokens only — with the order chosen rarest-document-frequency-
    * first, the join keys are the corpus's rare shingles, so bucket sizes
    * are bounded where frequent-token buckets would explode. A 5·min ≥
    * 4·max length filter (J ≥ 0.8 ⟹ min ≥ 0.8·max) prunes before the
    * exact count-based verification that makes the result identical to
    * [[exactJaccardPairs]] — same oracle as the MinHash family.
    *
    * τ is taken as the rational `tauNum/tauDen` so the prefix cut uses
    * INTEGER ceil division: an IEEE `ceil(0.8 * 35)` evaluates 28.000…004
    * → 29 and silently shortens the prefix below the recall bound.
    */
  def prefixFilterPairs(sh: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = sh.select(col("doc_id"), explode(col("s")).as("g"))
    val dfreq = inv.groupBy("g").agg(count(lit(1)).as("df"))
    val sizes = sh.select(col("doc_id"), size(col("s")).as("sz"))
    // per-doc rank under the global (df asc, token asc) order; the window
    // is partitioned by doc — state bounded by one doc's shingle set
    val ranked = inv.join(dfreq, "g")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
    // prefix length |x| − ⌈τ|x|⌉ + 1 with exact integer ceil: DIV is true
    // integer division (ADVICE r7: Column `/` is IEEE double division —
    // only incidentally exact below 2^53, contradicting the stated
    // exact-arithmetic recall contract)
    val prefix = ranked.join(sizes, "doc_id")
      .filter(col("rn") <=
        col("sz") - expr(s"(${tauNum}L * sz + ${tauDen - 1}L) DIV ${tauDen}L") + 1)
      .select(col("doc_id"), col("g"), col("sz"))
    val cand = prefix.toDF("doc_a", "g", "sza")
      .join(prefix.toDF("doc_b", "g", "szb"), Seq("g"))
      .filter(col("doc_a") < col("doc_b") &&
        col("szb") * tauDen >= col("sza") * tauNum &&
        col("sza") * tauDen >= col("szb") * tauNum)
      .select("doc_a", "doc_b").distinct()
    verifyCandidates(cand, sh, tauNum.toDouble / tauDen)
  }

  /** Driver query: exact J ≥ 0.8 near-dup pairs via prefix filtering —
    * bit-identical output to `dedup_ngram_jaccard`/`dedup_minhash_lsh`
    * (shared oracle), reached through deterministic exact-recall
    * candidates instead of a full inverted-index self-join (only prefix
    * tokens — the rarest ~20% — ever enter the pair-generating join).
    */
  def dedupPrefixFilter(spark: SparkSession, dir: String): DataFrame =
    prefixFilterPairs(shingled(spark, dir).localCheckpoint(), 4, 5)
      .orderBy("doc_a", "doc_b")

  private val NumHashes = 32
  private val Bands = 16 // 2 rows per band

  /** MinHash signature matrix: `(doc_id, sig: array[long] of NumHashes)`.
    * Hash family: `xxhash64(seed_i, shingle)` — a native codegen'd
    * expression; `aggregate` folds the per-shingle min without exploding.
    */
  def minhashSignatures(sh: DataFrame): DataFrame =
    sh.filter(size(col("s")) > 0).select(col("doc_id"),
      array((0 until NumHashes).map(i =>
        expr(s"aggregate(s, cast(9223372036854775807 as bigint), (acc, g) -> least(acc, xxhash64($i, g)))")): _*)
        .as("sig"))

  /** MinHash + LSH banding: band hash → bucket join → exact verification.
    * The 100 TB path: signatures are 32 longs per doc; the shuffle is on
    * (band, bandHash) — near-dup buckets only.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairs(shingled(spark, dir).localCheckpoint())
      .orderBy("doc_a", "doc_b")

  /** The MinHash+LSH pair pipeline over a PINNED shingle frame. */
  def minhashLshPairs(sh: DataFrame): DataFrame = {
    val bands = lshIndex(sh)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyCandidates(cand, sh, JaccardThreshold)
  }

  /** Character-level edit-distance audit of the near-dup pair set — the
    * post-hoc check curation pipelines run on shingle-level matches
    * (token Jaccard can pair docs whose surface text differs more than
    * the threshold suggests; Levenshtein on a fixed prefix quantifies
    * it). Spark's BUILT-IN codegen'd `levenshtein` (functions-not-UDFs),
    * DP cost bounded by the 120-char prefix, computed only for the pair
    * set — text moves only for pair-touched docs through two ids-keyed
    * joins, never corpus×corpus.
    *
    * The audited prefix is ASCII-FOLDED first (every non-ASCII char →
    * `_`): Spark's and DuckDB's levenshtein/substr are not guaranteed to
    * agree on character units outside ASCII (code points vs bytes vs
    * graphemes — ADVICE r5, the fixture includes zh documents), so the
    * cross-engine contract is pinned to a provably single-unit alphabet.
    * For BMP text the fold is length-preserving, so distances keep their
    * audit meaning; the residual engine divergence (supplementary-plane
    * chars fold to 2 units in UTF-16 engines vs 1 rune in UTF-8 engines)
    * is outside both the fixture and the 120-char audit's precision needs.
    */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupMinhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val d = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(substring(col("text"), 1, 120),
          "[^\\x00-\\x7F]", "_").as("p"))
    pairs
      .join(d.select(col("doc_id").as("doc_a"), col("p").as("pa")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("p").as("pb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).as("edit_distance"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** `(doc_id, band, bucket)` LSH band keys of a pinned shingle frame —
    * the frame a deployment PERSISTS as its dedup index (16 rows × 12
    * bytes per doc; [[dedupIncremental]] joins ingest batches against it).
    * The signatures are pinned BEFORE banding: posexplode over the
    * computed band array re-evaluates its element expressions per OUTPUT
    * row, i.e. 16 bands × the full 32-hash aggregate fold (same trap as
    * Similarity.bucketedIds); pinned, the explode reads 32 plain longs.
    */
  def lshIndex(sh: DataFrame): DataFrame = {
    val sig = minhashSignatures(sh).localCheckpoint()
    sig.select(col("doc_id"),
      posexplode(array((0 until Bands).map(b =>
        hash(col("sig").getItem(2 * b), col("sig").getItem(2 * b + 1))): _*)))
      .toDF("doc_id", "band", "bucket")
  }

  /** Delta-vs-base near-dup pairs through a prebuilt [[lshIndex]]: the
    * delta's bands equi-join the index, and the exact-Jaccard verify is
    * restricted to the documents some candidate pair touches — EVERY
    * stage is O(delta × bucket collision rate); the base corpus is never
    * re-shuffled, let alone re-paired against itself. `shAll` must cover
    * both sides' doc_ids (at deployment: the persisted shingle store,
    * fetched by candidate id).
    */
  def incrementalPairs(baseIndex: DataFrame, shAll: DataFrame,
                       shDelta: DataFrame): DataFrame = {
    val cand = baseIndex.as("x").join(lshIndex(shDelta).as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // verification only ever reads docs a candidate pair touches, so the
    // shingle fetch is candidate-sized, not corpus-sized
    val touched = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    verifyCandidates(cand, shAll.join(touched, Seq("doc_id"), "left_semi"),
      JaccardThreshold)
  }

  /** INCREMENTAL near-dup: which DELTA documents (the trailing tenth of
    * doc_ids — a stand-in for "today's ingest batch") near-duplicate the
    * BASE corpus? The production dedup shape: a corpus that already paid
    * its MinHash cost once must not be re-paired per ingest — see
    * [[incrementalPairs]] for the cost argument. Output
    * matches [[dedupMinhashLsh]]'s contract restricted to base×delta
    * pairs (doc_a < split ≤ doc_b), so the exact-Jaccard oracle is the
    * same feasible form with the split predicate.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).localCheckpoint()
    // bounded scalar: the split point, delta = trailing 10% of the id space
    val maxId = sh.agg(max(col("doc_id"))).head().getLong(0)
    val splitId = maxId * 9 / 10
    incrementalPairs(
      lshIndex(sh.filter(col("doc_id") < splitId)),
      sh, sh.filter(col("doc_id") >= splitId))
      .orderBy("doc_a", "doc_b")
  }

  private val SimBits = 64

  // Chunk-count regime: pigeonhole guarantees recall up to hamming
  // chunks−1, and bucket selectivity is 2^(64/chunks) values per chunk —
  // recall radius and selectivity trade off directly. Measured on the
  // fixtures, true J ≥ 0.9 pairs of ~100-shingle docs sit at hamming up to
  // 11 (per-bit sums are noisy, std ≈ √shingles), so small corpora NEED
  // the wide 16-chunk radius (15); there the 16-buckets-per-chunk band
  // join is harmless. As the corpus grows the band join's O(n²/buckets)
  // per chunk dominates, so the default narrows — the classic web-dedup
  // regime (4 × 16-bit, radius 3) only catches long/near-identical docs,
  // which is exactly how production SimHash is used; the guaranteed-exact
  // any-radius engine path at scale is MinHash+LSH.
  //
  //   docs        chunks  buckets/chunk  guaranteed radius
  //   ≤ 100 K     16      16             15
  //   ≤ 10 M      8       256            7
  //   > 10 M      4       65 536         3
  //
  // -Dgraft.simhash.chunks overrides the derivation at every size.
  // A def, not a lazy val: the property is read per derivation, so a
  // test/run can set and clear it without poisoning later derivations.
  private def ChunksOverride: Option[Int] = sys.props.get("graft.simhash.chunks").map { s =>
    val c = s.toInt
    // ≥2: one 64-bit chunk would need mask -1L ((1L<<64)-1 wraps to 0 and
    // would collapse every band to bucket 0 = a full cross product), and
    // banding on the whole signature defeats the point anyway
    require(c >= 2 && c <= 32 && SimBits % c == 0,
      s"graft.simhash.chunks must be in 2..32 and divide 64, got $c")
    c
  }
  private[graft] def simhashChunks(nDocs: Long): Int =
    ChunksOverride.getOrElse(
      if (nDocs <= 100000L) 16 else if (nDocs <= 10000000L) 8 else 4)

  /** 64-bit SimHash per doc: bit j = sign of Σ_shingles (±1 by bit j of
    * the shingle hash), packed into ONE long — computed by the native
    * [[graft.functions.Simhash64]] codegen expression in a single pass per
    * document (no explode, no 64-column aggregate, no shuffle).
    */
  def simhashSignatures(sh: DataFrame): DataFrame = {
    graft.functions.Simhash64.register(sh.sparkSession)
    sh.filter(size(col("s")) > 0)
      .select(col("doc_id"), graft.functions.Simhash64(col("s")).as("sig"))
  }

  /** SimHash near-dup: candidates share at least one signature chunk
    * (pigeonhole: hamming ≤ chunks−1 ⇒ some chunk equal), are prefiltered
    * by exact signature hamming (ONE bit_count(xor) on the packed sigs —
    * 2 ALU ops, so the expensive shingle verification only ever sees
    * true near-dups; unrelated docs sit near hamming 32), then
    * exact-verified — same output contract as the Jaccard paths. The
    * chunk count derives from corpus size (see [[simhashChunks]]).
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairsDocs(shingled(spark, dir).localCheckpoint())
      .orderBy("doc_a", "doc_b")

  /** The frame-parametric core of [[dedupSimhash]]. */
  private[graft] def simhashPairsDocs(sh: DataFrame): DataFrame = {
    val sig = simhashSignatures(sh).localCheckpoint()
    val nChunks = simhashChunks(sig.count())
    val chunkBits = SimBits / nChunks
    val maxHamming = nChunks - 1
    // band values are shift/mask views of the packed signature; the sig
    // rides along so the hamming bound evaluates INSIDE the join (codegen
    // ALU ops on matched rows, nothing materialized) — only true near-dups
    // reach distinct/verify.
    val mask = (1L << chunkBits) - 1
    val chunks = sig.select(col("doc_id"), col("sig"),
      posexplode(expr(s"""transform(sequence(0, ${nChunks - 1}),
                         |  c -> shiftright(sig, c * $chunkBits) & ${mask}L)""".stripMargin)))
      .toDF("doc_id", "sig", "chunk", "v")
    val x = chunks.toDF("doc_a", "siga", "chunk", "v")
    val y = chunks.toDF("doc_b", "sigb", "chunk", "v")
    val cand = x.join(y, Seq("chunk", "v"))
      .filter(col("doc_a") < col("doc_b") &&
        expr("bit_count(siga ^ sigb)") <= maxHamming)
      .select("doc_a", "doc_b")
      .distinct()
    verifyCandidates(cand, sh, SimhashJaccardThreshold)
  }

  /** Exact cosine ≥ threshold on a given pair set `(doc_a, doc_b)` — the
    * verification stage shared by the bucketed and all-pairs forms. The
    * cosine expression is the identical double-op sequence as the oracle's,
    * so candidates-then-verify is bit-stable against it.
    */
  private def verifyCosine(cand: DataFrame, v: DataFrame): DataFrame = {
    import graft.functions.VectorExprs.dot
    cand
      .join(v.select(col("vec_id").as("doc_a"), col("e").as("ea"), col("nrm").as("na")), "doc_a")
      .join(v.select(col("vec_id").as("doc_b"), col("e").as("eb"), col("nrm").as("nb")), "doc_b")
      .withColumn("cosine", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= CosineThreshold)
      .select(col("doc_a"), col("doc_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup over `embeddings`, bucketed: candidate pairs
    * come from the engine's fixed random-hyperplane LSH family (the same
    * seed-42 sketches [[Similarity.annLsh]] uses — 28 tables × 3 bits by
    * default), then every candidate is exactly verified, so the output
    * equals the all-pairs answer whenever recall is complete. At the 0.4
    * cosine threshold P(bit agree) ≈ 0.63, so per-pair miss is
    * (1 − 0.63³)²⁸ ≈ 3·10⁻⁴ — the fixed family is in the full-recall
    * regime on the verification fixtures (asserted against
    * [[dedupEmbeddingCosineExact]] in PipelineOpsSpec and the driver's
    * all-pairs oracle). The bucket join shuffles ONLY (vec_id, table,
    * bucket) triples — ids meet per bucket, never corpus², and embedding
    * payloads move once, by id, in the verify joins.
    */
  /** Candidate-strategy decision rule, factored pure so the spec can pin
    * it: below `smallN` the all-pairs triangle is trivially cheap and the
    * measurement jobs themselves dominate, so short-circuit to exact
    * without ever computing the bucket histogram (`candEst` is by-name —
    * the estimate's Spark jobs run only when the rule needs them).
    */
  private[operators] def embeddingCandidatePath(n: Long, smallN: Long,
                                                candEst: => Double): String = {
    val triangle = n.toDouble * (n - 1) / 2
    if (triangle == 0 || n <= smallN) "exact"
    else if (candEst >= triangle / 2) "exact"
    else "lsh"
  }

  /** Corpus size under which the exact triangle is generated without
    * measurement: n²/2 pairs through the count-only verify join is well
    * under a second at 4096 (8.4M pairs), cheaper than the histogram
    * aggregate + counts the adaptive estimate costs.
    */
  private[operators] lazy val EmbeddingSmallN: Long =
    sys.props.get("graft.dedup.embedding.smallN").map(_.toLong).getOrElse(4096L)

  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    val v = Similarity.vectors(spark, dir).localCheckpoint()
    // lazy: the small-n short circuit and the forced-exact test path never
    // build (or eagerly checkpoint) the 28-table bucket projection
    lazy val ids = Similarity.bucketedIds(v)
    // ADAPTIVE candidate strategy, decided from the MEASURED bucket
    // histogram (Σ c_b² over (table,bucket) counts ≈ candidate pairs the
    // bucket join would emit, pre-distinct — the classic self-join
    // cardinality estimate, here exact because the histogram is exact and
    // cheap: |ids| = n·tables rows of longs). Hyperplane LSH prunes only
    // when the threshold sits in the high-cosine regime; at τ=0.4 the
    // per-table collision gap (p=0.597 for a 0.3-cosine pair vs 0.631 at
    // the threshold) is so thin that 28×3-bit tables pass ~98% of ALL
    // pairs (measured at sf0.1: 2.93M of 2M distinct pairs pre-distinct),
    // and the bucket join is all-pairs wearing a shuffle. When the
    // estimated candidate mass exceeds half the triangle, generating the
    // triangle directly is strictly cheaper — same exact verify either
    // way, so the answer is identical; only the plan changes. (Forced via
    // graft.dedup.embedding.path=lsh|exact for tests.)
    // forced path (tests) skips the measurement jobs entirely
    val path = sys.props.getOrElse("graft.dedup.embedding.path",
      embeddingCandidatePath(v.count(), EmbeddingSmallN, {
        val hist = ids.groupBy(col("table"), col("bucket")).count()
        // counts cast to double BEFORE multiplying: c·(c−1) on longs wraps
        // silently past c ≈ 3·10⁹ — exactly the degenerate-bucket scale
        // this estimate exists to catch. coalesce covers the empty corpus
        // (sum over zero rows is NULL).
        hist
          .agg(coalesce(sum(col("count").cast("double") * (col("count") - 1) / 2),
            lit(0.0)))
          .head().getDouble(0)
      }))
    val cand =
      if (path == "exact") trianglePairs(v)
      else
        ids.as("x").join(ids.as("y"),
            col("x.table") === col("y.table") && col("x.bucket") === col("y.bucket") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("doc_a"), col("y.vec_id").as("doc_b"))
          .distinct()
    verifyCosine(cand, v)
  }

  /** The all-pairs upper triangle over `v` — shared by the adaptive
    * direct branch and the exact oracle twin, so they cannot diverge.
    */
  private def trianglePairs(v: DataFrame): DataFrame =
    v.select(col("vec_id").as("doc_a"))
      .join(v.select(col("vec_id").as("doc_b")), col("doc_a") < col("doc_b"))

  /** All-pairs upper-triangle form — the exact oracle twin of
    * [[dedupEmbeddingCosine]] (recall-independent; O(n²), test scale only).
    */
  def dedupEmbeddingCosineExact(spark: SparkSession, dir: String): DataFrame = {
    val v = Similarity.vectors(spark, dir)
    verifyCosine(trianglePairs(v), v)
  }

  /** Near-dup clustering: connected components over the verified
    * MinHash-LSH pair set, labeling every clustered doc with the smallest
    * doc_id reachable through near-dup edges (the canonical keeper) and
    * its component size — the step that turns pairwise dedup output into
    * keep-one-per-group decisions (pairs alone can't: transitive groups
    * A~B~C must collapse to ONE keeper even when A~C was never a pair).
    *
    * Scale design: Pregel-style min-label propagation WITH pointer
    * jumping over the edge set, which is tiny relative to the corpus
    * (only docs in some near-dup pair). Each round is two shuffles keyed
    * by vertex — neighbor-min, then label-of-label (path doubling) — so
    * the round count is O(log diameter), not the diameter: a 10⁶-doc
    * near-dup CHAIN converges in ~20 rounds instead of 10⁶. The
    * per-round convergence check is a scalar count; no row data ever
    * reaches the driver. localCheckpoint truncates the per-round lineage
    * so the plan doesn't grow with rounds.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // the shingle/signature blocks dedupMinhashLsh pins surface as
    // LogicalRDD leaves of the pair frame's own plan — released with the
    // loop state on exit
    val pairs = dedupMinhashLsh(spark, dir).select("doc_a", "doc_b")
    clusterize(spark, pairs, pinIds(pairs))
  }

  /** Connected components over an explicit undirected pair set (spec
    * entry; [[dedupClusters]] is this over the verified LSH pairs).
    */
  def clusterize(spark: SparkSession, pairs: DataFrame): DataFrame =
    clusterize(spark, pairs, Set.empty)

  /** The persistent-RDD ids a frame reads from block storage: every
    * `localCheckpoint` in its lineage survives as a `LogicalRDD` leaf of
    * its plan, holding the exact RDD that was pinned. EXACT attribution —
    * unlike a `getPersistentRDDs` set-diff around the call, a block a
    * CONCURRENT thread checkpointed in the window can never be claimed
    * here (and so never unpersisted by this call's exit sweep; because
    * localCheckpoint truncates lineage, such a mis-attributed unpersist
    * would be unrecoverable block loss for that thread, not a recompute).
    */
  private def pinIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  private def clusterize(spark: SparkSession, pairs: DataFrame,
                         extraPins: Set[Int]): DataFrame = {
    val sc = spark.sparkContext
    // Track the block-storage ids each eager localCheckpoint pins so a
    // superseded round can be dropped as soon as the next one is
    // materialized — otherwise executor storage grows linearly with round
    // count (and across repeated calls in a long session). Attribution is
    // by the checkpointed frame's OWN plan (its LogicalRDD leaf), so only
    // ids this call created are ever tracked or dropped.
    var mine = extraPins
    def tracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val out = df.localCheckpoint()
      val ids = pinIds(out) // exactly the new checkpoint's block id
      mine ++= ids
      (out, ids)
    }
    def drop(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

    val (edges, _) = tracked(
      pairs.union(pairs.select(col("doc_b"), col("doc_a"))).toDF("src", "dst"))
    var (labels, labelIds) = tracked(
      edges.select(col("src").as("id")).distinct().withColumn("label", col("id")))
    var changed = 1L
    var rounds = 0
    val maxRounds = Integer.getInteger("graft.cluster.maxRounds", 64).intValue()
    while (changed > 0 && rounds < maxRounds) {
      // neighbor-min: the smallest label one hop away
      val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("label").as("next"))
      val (stepped, steppedIds) = tracked(
        labels.join(prop, Seq("id"), "left")
          .select(col("id"), col("label").as("old"),
            least(col("label"), coalesce(col("next"), col("label"))).as("mid")))
      // pointer jump: follow the label to ITS label (every label is a
      // member vertex id, so the lookup side is total) — path doubling
      // makes deep chains converge in log rounds
      val jump = stepped.select(col("id").as("mid"), col("mid").as("jlabel"))
      val (merged, mergedIds) = tracked(
        stepped.join(jump, Seq("mid"), "left")
          .withColumn("new", least(col("mid"), coalesce(col("jlabel"), col("mid"))))
          .select(col("id"), col("new").as("label"),
            (col("new") < col("old")).as("moved")))
      changed = merged.filter(col("moved")).count()
      drop(labelIds)   // superseded round — its blocks are dead now
      drop(steppedIds) // intermediate: both jump branches have been read
      labels = merged.drop("moved")
      labelIds = mergedIds
      rounds += 1
    }
    require(changed == 0,
      s"label propagation did not converge in $rounds rounds " +
        s"(component diameter > $maxRounds; raise -Dgraft.cluster.maxRounds)")
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    // pin the (small) result, then release everything THIS call pinned —
    // the loop states, the edges, and the caller's pair-derivation pins —
    // except the result's own blocks (the returned frame must not read
    // from storage this method just freed)
    val (result, resultIds) = tracked(
      labels.join(sizes, "label")
        .select(col("id").as("doc_id"), col("label").as("cluster_id"), col("csize"))
        .orderBy("doc_id"))
    drop(mine -- resultIds)
    result
  }

  /** Exact repeated-passage window: W consecutive whitespace tokens. 8 at
    * fixture scale (docs are 10–100 tokens); the published substring-dedup
    * regime uses ~50-token windows over full-length documents.
    */
  val PassageWindow = 8

  /** Cross-document repeated passages — EXACT substring-level dedup (the
    * "same 50-token span appears in many documents" pathology of web
    * corpora, distinct from document-level Jaccard similarity: two docs
    * sharing one boilerplate paragraph are passage-dups but nowhere near
    * Jaccard-0.8 document dups). Emits every [[PassageWindow]]-token
    * window that occurs in ≥ 2 distinct documents, with its document and
    * occurrence counts — the removal list a substring-dedup pass cuts
    * against.
    *
    * Scale design: the distributed-friendly n-gram-window formulation of
    * suffix-array substring dedup — one explode into an inverted window
    * index, one hash aggregation (map-side partial combine collapses the
    * within-partition repeats first), no pairwise work anywhere. The
    * shuffled key is the W-token window text itself, which is what makes
    * the aggregation exact in one pass. The volume knob for 100 TB is
    * [[repeatedPassagesHashedDocs]] — shuffle `xxhash64(window)` instead
    * (~20× less shuffle bytes) and re-derive the text only for surviving
    * hashes — selectable via `spark.graft.substring.hashed=true`; the
    * exact text-key form stays the default.
    */
  def repeatedPassages(spark: SparkSession, dir: String): DataFrame =
    repeatedPassagesDocs(Tables.table(spark, dir, "documents"))

  /** [[repeatedPassages]] over an explicit `(doc_id, text)` frame. */
  def repeatedPassagesDocs(docs: DataFrame): DataFrame =
    if (docs.sparkSession.conf.get("spark.graft.substring.hashed", "false").toBoolean)
      repeatedPassagesHashedDocs(docs)
    else {
      val windows = passageWindows(docs)
      windows.select(col("doc_id"), explode(col("g")).as("passage"))
        .groupBy("passage")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_docs") >= 2)
        .orderBy("passage")
    }

  /** Hash-keyed [[repeatedPassagesDocs]] (VERDICT r4 item 4): identical
    * output, ~20× less shuffle volume — the knob the exact form documents.
    * Candidates-then-verify, the dedup family's shape applied to the
    * window index:
    *
    *  1. RECALL: aggregate `(xxhash64(window), doc_id)` pairs — 16 bytes
    *     per window instead of the W-token text (~300 B at the published
    *     W≈50 regime) — keeping every hash seen in ≥ 2 distinct docs. A
    *     true repeat always survives (hashing only CONFLATES windows, so a
    *     hash group's distinct-doc count dominates each member's).
    *  2. VERIFY: re-derive `(passage, doc_id)` for surviving hashes only —
    *     the repeated fraction of the corpus — and run the exact text-key
    *     aggregation on that subset. Collisions are handled by
    *     construction, not checked-and-prayed: a colliding window that
    *     piggy-backed into the candidate set gets its OWN exact counts
    *     here and the `n_docs >= 2` filter re-applies, so the output is
    *     bit-identical to the exact form (the shared oracle and the
    *     equality property test pin this).
    */
  def repeatedPassagesHashedDocs(docs: DataFrame): DataFrame = {
    val windows = passageWindows(docs)
    val exploded = windows.select(col("doc_id"), explode(col("g")).as("passage"))
      .select(col("doc_id"), col("passage"), xxhash64(col("passage")).as("h"))
    val survivors = exploded
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    // second pass over the pinned window arrays (the explode re-reads
    // checkpointed blocks); only surviving windows' text enters the final
    // shuffle. No forced broadcast on survivors: repeated-window hashes are
    // normally a small fraction of the corpus and AQE converts this to a
    // broadcast join at runtime (keeping the text map-side); a pathological
    // everything-repeats corpus falls back to a shuffled join — correct,
    // just no cheaper than the exact form (cdcUpsert's no-hint reasoning).
    exploded.join(survivors, "h")
      .groupBy("passage")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
      .orderBy("passage")
  }

  /** Shared first stage of both substring-dedup forms: the W-token window
    * arrays, pinned BEFORE the explode (exploding the raw transform(...)
    * expression re-evaluates the whole window-building chain per OUTPUT
    * row — the measured trap, see decontaminate).
    */
  private def passageWindows(docs: DataFrame): DataFrame = {
    val W = PassageWindow
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= W)
      .select(col("doc_id"), expr(
        s"""transform(sequence(1, size(w) - ${W - 1}),
           |  i -> array_join(slice(w, i, $W), ' '))""".stripMargin).as("g"))
      .localCheckpoint()
  }

  /** Cluster canonicalization — the decision step that turns near-dup
    * CLUSTERS into a deduplicated corpus: every document maps to its
    * cluster's keeper (highest [[graft.functions.TextOps.quality]], ties
    * to the smallest doc_id — "keep the best copy", not "keep the first
    * seen"), unclustered documents keep themselves. `kept` marks the
    * surviving corpus; `canonical_id` is the redirect every downstream
    * reference (dup of X → X) follows.
    *
    * Scale design: quality is computed at the scan (row-local, text never
    * shuffles); the argmax and redirect join move only
    * `(cluster, quality, id)` triples. The cluster frame covers just the
    * docs in some near-dup pair — tiny relative to the corpus — so the
    * left join back is broadcast-shaped at real scale.
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextOps.round6(graft.functions.TextOps.quality).as("q"))
    val labeled = q
      .join(dedupClusters(spark, dir).select("doc_id", "cluster_id"),
        Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
    // argmax(quality, then min id) per cluster via ordered-struct max:
    // max((q, -id)) picks the largest quality, then the smallest doc_id
    val canon = labeled.groupBy(col("cid"))
      .agg(max(struct(col("q"), (-col("doc_id")).as("neg"))).as("best"))
      .select(col("cid"), (-col("best.neg")).cast("long").as("canonical_id"))
    labeled.join(canon, Seq("cid"))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("kept"))
      .orderBy("doc_id")
  }

  /** SPAN-LEVEL CORPUS REWRITE — the C4/RefinedWeb "remove repeated
    * passages, keep the document" operator, a different CLASS from every
    * dedup above: those FIND duplicates (pairs, clusters, canonical ids);
    * this one rewrites the corpus, dropping each globally-repeated span
    * while the surrounding document survives. Boilerplate, licenses, and
    * navigation chrome die; unique prose stays.
    *
    * Semantics: documents are cut into ALIGNED spans of [[SpanWords]]
    * tokens (span i = tokens [8i, 8i+8)); a span is kept iff it is the
    * corpus-wide FIRST occurrence of its text (ordered by (doc_id,
    * span_idx)); each document's cleaned text is its kept spans rejoined
    * in order. Alignment makes the pass one-shot and deterministic —
    * the suffix-array generality of unaligned matching is
    * [[repeatedPassages]]' job; the rewrite is this one's.
    *
    * Scale shape: spans are keyed by md5 (128-bit — deterministic in both
    * engines, collision-free at any realistic corpus), so the
    * first-occurrence groupBy and the keep-join move (hash, doc_id, idx)
    * triples ONLY — span text never shuffles; the rebuild joins kept ids
    * back to the span frame (one localCheckpoint, consumed twice) and
    * reassembles per doc with an ordered-struct `array_sort` — a per-doc
    * array op, not a window. min(struct) is map-side combinable, so the
    * hot aggregate is one combine-heavy exchange of id triples.
    */
  val SpanWords = 8

  def dedupSpanRewrite(spark: SparkSession, dir: String): DataFrame =
    dedupSpanRewriteDocs(Tables.table(spark, dir, "documents"))

  def dedupSpanRewriteDocs(docs: DataFrame): DataFrame = {
    val w = SpanWords
    val spans = docs
      .select(col("doc_id"), graft.functions.TextOps.tokens.as("w"))
      .select(col("doc_id"),
        // empty-token guard: sequence(0, -1) would DESCEND in Spark
        posexplode(expr(
          s"CASE WHEN size(w) < 1 THEN array() ELSE " +
            s"transform(sequence(0, (size(w) + ${w - 1}) DIV $w - 1), " +
            s"i -> array_join(slice(w, i * $w + 1, $w), ' ')) END"))
          .as(Seq("idx", "span")))
      .localCheckpoint() // keyed pass + rebuild both read it
    val keyed = spans.select(col("doc_id"), col("idx"), md5(col("span")).as("h"))
    val first = keyed.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
      .select(col("h"), col("f.doc_id").as("fd"), col("f.idx").as("fi"))
    val kept = keyed.join(first, "h")
      .filter(col("doc_id") === col("fd") && col("idx") === col("fi"))
      .select(col("doc_id"), col("idx"))
    val rebuilt = kept.join(spans, Seq("doc_id", "idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(array_sort(collect_list(struct(idx, span))), s -> s.span)"),
          " ").as("text_clean"))
    spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[dedupSpanRewrite]] — same aligned spans, same
    * md5-keyed first-occurrence, same ordered reassembly.
    */
  val spanRewriteOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |              FROM documents),
       |sp AS (SELECT doc_id, u.s.idx AS idx, u.s.span AS span FROM (
       |  SELECT doc_id, unnest([{'idx': i,
       |           'span': array_to_string(w[i * $SpanWords + 1 : i * $SpanWords + $SpanWords], ' ')}
       |          for i in range(0, (len(w) + ${SpanWords - 1}) // $SpanWords)]) AS s
       |  FROM toks) u),
       |ranked AS (SELECT doc_id, idx, span,
       |    ROW_NUMBER() OVER (PARTITION BY md5(span) ORDER BY doc_id, idx) AS rn
       |  FROM sp),
       |rebuilt AS (SELECT doc_id, count(*) AS n_kept,
       |    string_agg(span, ' ' ORDER BY idx) AS text_clean
       |  FROM ranked WHERE rn = 1 GROUP BY doc_id),
       |tot AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id)
       |SELECT t.doc_id, t.n_spans,
       |       COALESCE(r.n_kept, 0) AS n_kept,
       |       COALESCE(r.text_clean, '') AS text_clean
       |FROM tot t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
       |ORDER BY t.doc_id""".stripMargin
}
