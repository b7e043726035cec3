package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** PRODUCT QUANTIZATION (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the storage/compute path a
  * billion-vector ANN index actually runs: split each d-dim vector into M
  * subvectors, train a small codebook per subspace, store each vector as M
  * one-byte codes (here 64 dims × 4 B floats = 256 B → 4 codes), and
  * answer queries with ASYMMETRIC DISTANCE COMPUTATION (ADC): the query
  * precomputes its M×K table of subspace distances once, then every
  * database vector's approximate distance is M table lookups — no float
  * math per pair.
  *
  * Engine-exact by construction, like [[Clustering]]: embeddings quantize
  * once to integer millionths, per-subspace codebooks train with the same
  * fixed-point Lloyd contract (seeds = `vec_id` 0..K−1's subvectors,
  * truncating-division means, carry-forward on empty codes, (dist, cid)
  * tie-break), so codes, quantization errors, and ADC distances are all
  * exact int64 — the DuckDB oracle unrolls the identical computation.
  *
  * Scale shape: training is M small hash aggregates per round (K·subdim
  * groups each); encoding is a row-local argmin projection (codebooks ride
  * as literals into whole-stage codegen — zero shuffle); the ADC scan is
  * the documented brute-force form over `NumQueries` query rows — at
  * production scale the same scan runs inside IVF cells
  * ([[Similarity]] provides the cell pruning; IVF-PQ composes the two).
  */
object ProductQuant {

  val M = 4            // subspaces
  val SubDim = 16      // dims per subspace (4 × 16 = the 64-dim fixture)
  val Codes = 8        // codebook entries per subspace (3-bit codes here)
  val Iters = 2        // Lloyd rounds per subspace
  val Scale = 1000000L // float → integer millionths (exact in double)
  val NumQueries = 100

  private def quantized: Column =
    transform(col("embedding"),
      x => floor(x.cast("double") * Scale).cast("long"))

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    quantizedOf(Tables.table(spark, dir, "embeddings"))

  /** Quantize any `(vec_id, embedding)` frame to the engine's integer
    * millionths.
    */
  private[graft] def quantizedOf(df: DataFrame): DataFrame =
    df.select(col("vec_id"), quantized.as("e"))

  /** Subspace m's slice of the full quantized vector (1-based, codegen). */
  private def sub(m: Int): Column = slice(col("e"), m * SubDim + 1, SubDim)

  /** Exact int64 squared L2 between a row subvector and a centroid
    * literal (|q| ≤ 10⁶ ⇒ per-dim square ≤ 4·10¹², ×16 dims ≪ 2⁶³).
    */
  private def dist2(ce: Seq[Long], v: Column): Column =
    aggregate(zip_with(v, typedlit(ce), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, d) => acc + d)

  /** argmin over the codebook as `array_min` of (dist, cid) structs —
    * lexicographic struct ordering IS the tie-break-by-cid contract.
    */
  private def assign(cb: Seq[(Long, Seq[Long])], v: Column): Column =
    array_min(array(cb.map { case (cid, ce) =>
      struct(dist2(ce, v).as("dist"), lit(cid).as("cid"))
    }: _*))

  /** One Lloyd round over `(vec_id, se)`: K·SubDim integer sums/counts,
    * merged driver-side into the next codebook (O(K·SubDim) driver state
    * — the data never moves to the driver).
    */
  private def updated(q: DataFrame, cb: Seq[(Long, Seq[Long])])
      : Seq[(Long, Seq[Long])] = {
    val rows = q.select(assign(cb, col("se")).getField("cid").as("cid"), col("se"))
      .select(col("cid"), posexplode(col("se")).as(Seq("dim", "v")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
      .collect()
    val byCid = rows.groupBy(_.getLong(0))
    cb.map { case (cid, old) =>
      cid -> byCid.get(cid).fold(old) { rs =>
        val means = rs.map(r => r.getInt(1) -> (r.getLong(2) / r.getLong(3))).toMap
        old.indices.map(i => means(i))
      }
    }
  }

  /** Fixed-point Lloyd over any `(vec_id, se)` frame: seeds = the first
    * `k` vec_ids' subvectors, [[Iters]] rounds of [[updated]]. Shared by
    * the per-subspace PQ codebooks and the full-dimension IVF coarse
    * quantizer (same exact-int64 contract, different slice widths).
    */
  private def trainOn(qm: DataFrame, k: Int): Seq[(Long, Seq[Long])] = {
    val init = qm.filter(col("vec_id") < k).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq)
      .sortBy(_._1).toSeq
    var cb: Seq[(Long, Seq[Long])] = init
    for (_ <- 1 to Iters) cb = updated(qm, cb)
    cb
  }

  /** Train subspace m's codebook on the pinned quantized frame. */
  private def trainSub(q: DataFrame, m: Int): Seq[(Long, Seq[Long])] =
    trainOn(q.select(col("vec_id"), sub(m).as("se")), Codes)

  /** All M codebooks off ONE pinned scan (M × Iters small aggregates). */
  private def codebooks(q: DataFrame): Seq[Seq[(Long, Seq[Long])]] =
    (0 until M).map(m => trainSub(q, m))

  /** `embed_pq` — the PQ ENCODE profile: every vector encoded to its M
    * codes; per (subspace, code): occupancy, total quantization error
    * (exact int64 — the ADC error budget), and membership checksums. One
    * union of M row-local assignment projections over the pinned scan.
    */
  def pqProfile(spark: SparkSession, dir: String): DataFrame = {
    val q = vecs(spark, dir).localCheckpoint()
    val cbs = codebooks(q)
    (0 until M).map { m =>
      q.select(lit(m).as("subspace"), col("vec_id"),
        assign(cbs(m), sub(m)).as("a"))
    }.reduce(_.unionByName(_))
      .groupBy(col("subspace"), col("a.cid").as("code"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("a.dist")).as("sq_err"),
        sum(col("vec_id")).as("sum_vec_ids"),
        min(col("vec_id")).as("min_vec_id"))
      .orderBy(col("subspace"), col("code"))
  }

  /** `ann_pq_adc` — asymmetric-distance top-1 search: queries (`vec_id <
    * NumQueries`) precompute their M×K distance tables as row-local
    * arrays (`dt_m[c]` = exact d² from the query's subvector to codebook
    * entry c), the database side carries only its M codes, and each
    * query×candidate pair costs M `element_at` lookups + 3 adds — the PQ
    * ADC contract. Top-1 per query is one hash aggregate
    * (min-of-struct), tie-broken by candidate id.
    */
  /** Database side: vec_id + M codes (row-local argmin projections). */
  private def encodedFrame(q: DataFrame, cbs: Seq[Seq[(Long, Seq[Long])]]): DataFrame =
    q.select(
      (col("vec_id").as("n_id") +:
        (0 until M).map(m => assign(cbs(m), sub(m)).getField("cid").as(s"c$m"))): _*)

  /** Query side: vec_id + M distance tables (arrays indexed by code, which
    * is the SEED vec_id 0..K-1, stable across rounds by carry-forward).
    */
  private def queryFrame(q: DataFrame, cbs: Seq[Seq[(Long, Seq[Long])]]): DataFrame =
    q.filter(col("vec_id") < NumQueries).select(
      (col("vec_id").as("q_id") +:
        (0 until M).map { m =>
          array(cbs(m).sortBy(_._1).map { case (_, ce) => dist2(ce, sub(m)) }: _*)
            .as(s"dt$m")
        }): _*)

  /** ADC of one (query, candidate) pair: M table lookups + 3 adds. */
  private def adcExpr: Column = (0 until M).map(m =>
    element_at(col(s"dt$m"), (col(s"c$m") + 1).cast("int"))).reduce(_ + _)

  /** Top-1-per-query over a scored (q_id, dt*, c*, n_id) candidate frame:
    * one hash aggregate, min-of-struct, ties on candidate id.
    */
  private def adcTop1Of(cand: DataFrame): DataFrame =
    cand.filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), struct(adcExpr.as("adc"), col("n_id").as("nn_id")).as("p"))
      .groupBy(col("q_id"))
      .agg(min(col("p")).as("m"))
      .select(col("q_id"), col("m.nn_id").as("nn_id"), col("m.adc").as("adc_dist"))
      .orderBy(col("q_id"))

  /** Row fence for the flat baseline: `ann_pq_adc` deliberately scores
    * every (query, vector) pair — the textbook ADC reference the pruned
    * [[ivfAdcTop1]] is bit-matched against — so past this corpus size it
    * must STOP, not silently burn a Q×N scan a 100 TB user meant to send
    * to `ann_ivf_pq`. A def, not a lazy val: the property is re-read per
    * call so a harness can raise it for one deliberate oversized run.
    */
  private[graft] def flatAdcMaxRows: Long =
    sys.props.get("graft.pq.flatMaxRows").map { raw =>
      // fail loudly WITH the property name and raw value (same convention
      // as bpeMinFrequency / SPARK_GRAFT_CPUS) — a bare .toLong would
      // throw an uncontextualized NumberFormatException
      raw.trim.toLongOption.filter(_ >= 1).getOrElse(sys.error(
        s"graft.pq.flatMaxRows must be a positive long, got '$raw'"))
    }.getOrElse(1000000L)

  def adcTop1(spark: SparkSession, dir: String): DataFrame = {
    val q = vecs(spark, dir).localCheckpoint()
    val n = q.count()
    require(n <= flatAdcMaxRows,
      s"ann_pq_adc is the flat QxN ADC BASELINE and scores every (query, vector) pair: " +
      s"corpus has $n rows > graft.pq.flatMaxRows=$flatAdcMaxRows. Use ann_ivf_pq " +
      "(the IVF-pruned production form, bit-equal on fixtures) or raise " +
      "-Dgraft.pq.flatMaxRows for a deliberate oversized run.")
    adcTop1On(q)
  }

  /** Flat-ADC core over a pinned quantized frame (the documented Q×N
    * baseline — [[ivfAdcTop1On]] is the pruned form).
    */
  private[graft] def adcTop1On(q: DataFrame): DataFrame = {
    val cbs = codebooks(q)
    adcTop1Of(queryFrame(q, cbs).crossJoin(encodedFrame(q, cbs)))
  }

  // --- IVF × PQ composition ----------------------------------------------

  // coarse cells / probe seeds; cell seeds are vec_id 0..cells-1
  val IvfCells = 16
  val IvfProbes = 4

  /** `ann_ivf_pq` — the production billion-vector index shape: IVF coarse
    * cells restrict which encoded vectors each query ADC-scores, replacing
    * [[adcTop1]]'s flat query×corpus scan (the ANN family's last unpruned
    * Q×N product) with a cells-probed one.
    *
    * EXACT by the triangle inequality, in RECONSTRUCTION space: the ADC
    * distance is precisely ‖q − recon(n)‖² (the subspaces partition the
    * dimensions, so the M table lookups sum to the full squared L2 against
    * the concatenated centroids). Hence with cell radius
    * `r_j = max_{n∈j} ‖recon(n) − g_j‖`, any cell with
    * `‖q − g_j‖ − r_j > ‖q − recon(best)‖` cannot contain a better
    * candidate — pruning NEVER changes the top-1 (ties included: equal-ADC
    * candidates sit exactly on the bound, which is kept inclusively with a
    * float-slack margin), so the query shares [[adcOracleSql]] verbatim.
    * Coarse-centroid quality only changes how much is pruned, exactly as
    * in [[Similarity.annIvf]].
    *
    * All integer geometry: cell assignment and `‖q − g_j‖²` reuse the
    * fixed-point Lloyd contract; `‖recon(n) − g_j‖²` decomposes per
    * subspace into a (cell × subspace × code) lookup table computed
    * driver-side from the two codebooks (16·4·8 longs — a literal), so
    * the radius aggregate is M array lookups per row, no vector math.
    *
    * Scale shape: per query the only all-cells product is the IvfCells
    * distance rows (posexplode over a literal array — no join at all);
    * candidates are an equi hash join on `cell`; at corpus scale grow
    * IvfCells ∝ √N so the scanned fraction shrinks while exactness holds.
    */
  def ivfAdcTop1(spark: SparkSession, dir: String): DataFrame =
    ivfAdcTop1On(vecs(spark, dir).localCheckpoint())

  /** The IVF×PQ core over a pinned quantized frame. */
  private[graft] def ivfAdcTop1On(q: DataFrame): DataFrame = {
    val cbs = codebooks(q)
    // coarse quantizer over the FULL 64-dim vector (per-dim d² ≤ 4·10¹²
    // × 64 ≪ 2⁶³ — same headroom argument as the subspace training)
    val coarse = trainOn(q.select(col("vec_id"), col("e").as("se")), IvfCells)
    // codes AND cell in ONE row-local projection off the pinned scan
    val encoded = q.select(
      (col("vec_id").as("n_id") +:
        assign(coarse, col("e")).getField("cid").as("cell") +:
        (0 until M).map(m => assign(cbs(m), sub(m)).getField("cid").as(s"c$m"))): _*)
      .localCheckpoint() // reused by the radius aggregate + both scans
    // recon(n)↔own-centroid distance: Σ_m T[cell][m][code_m], with T the
    // driver-computed literal table (subspace decomposition again)
    val reconTable: Seq[Seq[Seq[Long]]] = coarse.sortBy(_._1).map { case (_, g) =>
      (0 until M).map { m =>
        val gSub = g.slice(m * SubDim, (m + 1) * SubDim)
        cbs(m).sortBy(_._1).map { case (_, ce) =>
          ce.zip(gSub).map { case (x, y) => (x - y) * (x - y) }.sum
        }
      }
    }
    val reconD2 = (0 until M).map { m =>
      element_at(element_at(element_at(typedlit(reconTable),
        (col("cell") + 1).cast("int")), m + 1), (col(s"c$m") + 1).cast("int"))
    }.reduce(_ + _)
    val radii = encoded.groupBy(col("cell"))
      .agg(max(reconD2).as("r2")) // IvfCells rows — a frame, never collected
    val queries = queryFrame(q, cbs).localCheckpoint() // both scans read it
    // (query, cell) distance rows WITHOUT a join: the centroids are
    // literals, so the all-cells product is a posexplode over a computed
    // array — pinned before the explode (the bucketedIds re-eval trap)
    val cellDist = q.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"),
        array(coarse.sortBy(_._1).map { case (_, g) => dist2(g, col("e")) }: _*)
          .as("ds"))
      .localCheckpoint()
      .select(col("q_id"), posexplode(col("ds")))
      .toDF("q_id", "cell", "d2")
    def scoreCells(probes: DataFrame): DataFrame =
      encoded.join(probes.withColumnRenamed("q_id", "pq"), "cell")
        .join(queries, col("pq") === col("q_id"))
    // phase 1: exact ADC in the IvfProbes nearest cells seeds the bound —
    // probe selection through the bounded-heap top-k operator
    val seeds = graft.plans.TopKPerGroup.topKPerGroup(
      cellDist, Seq("q_id"), Seq(("d2", false), ("cell", false)), IvfProbes)
      .select("q_id", "cell")
    val bestSeed = scoreCells(seeds)
      .filter(col("n_id") =!= col("q_id"))
      .groupBy(col("q_id").as("bq")).agg(min(adcExpr).as("best"))
    // phase 2: keep cells that could still beat the seeded best (sqrt of
    // exact int64 d² is ~1 ulp; the 1e-6 slack dwarfs it and only ever
    // probes MORE — queries with no seed candidates keep every cell)
    val probes = cellDist
      .join(radii, Seq("cell"), "left")
      .join(bestSeed, col("q_id") === col("bq"), "left")
      .filter(col("best").isNull ||
        sqrt(col("d2")) - sqrt(coalesce(col("r2"), lit(0L))) <=
          sqrt(col("best")) + lit(1e-6))
      .select(col("q_id"), col("cell"))
    adcTop1Of(scoreCells(probes))
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles: the identical fixed-point computation unrolled as
  // chained CTEs (same quantization, slices, seeds, truncating means,
  // carry-forward, and tie-breaks).
  // ---------------------------------------------------------------------

  private def baseCte: String =
    s"""WITH q AS (SELECT vec_id,
       |      list_transform(CAST(embedding AS DOUBLE[]),
       |        x -> CAST(floor(x * $Scale) AS BIGINT)) AS e
       |    FROM embeddings)""".stripMargin

  /** Per-subspace training CTEs: sm{m} (slice), m{m}c0..c$Iters. */
  private def trainCtes(m: Int): String = {
    val lo = m * SubDim + 1
    val hi = (m + 1) * SubDim
    def assignCte(a: String, c: String) =
      s"""$a AS (
         |  SELECT vec_id, se, cid, dist FROM (
         |    SELECT s.vec_id, s.se, c.cid,
         |      CAST(list_sum(list_transform(list_zip(s.se, c.ce),
         |        p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
         |        CAST(list_sum(list_transform(list_zip(s.se, c.ce),
         |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT), c.cid) AS rn
         |    FROM sm$m s, $c c) t WHERE rn = 1)""".stripMargin
    val iters = (1 to Iters).map { i =>
      s"""${assignCte(s"m${m}a$i", s"m${m}c${i - 1}")},
         |m${m}u$i AS (
         |  SELECT cid, list(mu ORDER BY dim) AS ce FROM (
         |    SELECT a.cid, t.i AS dim,
         |      CAST(sum(a.se[t.i + 1]) AS BIGINT) // count(*) AS mu
         |    FROM m${m}a$i a, range($SubDim) t(i)
         |    GROUP BY a.cid, t.i) s
         |  GROUP BY cid),
         |m${m}c$i AS (SELECT cid, ce FROM m${m}u$i
         |        UNION ALL
         |        SELECT p.cid, p.ce FROM m${m}c${i - 1} p
         |        WHERE p.cid NOT IN (SELECT cid FROM m${m}u$i))""".stripMargin
    }.mkString(",\n")
    s"""sm$m AS (SELECT vec_id, e[$lo:$hi] AS se FROM q),
       |m${m}c0 AS (SELECT vec_id AS cid, se AS ce FROM sm$m WHERE vec_id < $Codes),
       |$iters,
       |${assignCte(s"m${m}fin", s"m${m}c$Iters")}""".stripMargin
  }

  val pqOracleSql: String = {
    val subs = (0 until M).map(trainCtes).mkString(",\n")
    val branches = (0 until M).map { m =>
      s"""SELECT $m AS subspace, cid AS code, count(*) AS n_vecs,
         |       CAST(sum(dist) AS BIGINT) AS sq_err,
         |       CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids,
         |       min(vec_id) AS min_vec_id
         |FROM m${m}fin GROUP BY cid""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$baseCte,
       |$subs
       |$branches
       |ORDER BY subspace, code""".stripMargin
  }

  val adcOracleSql: String = {
    val subs = (0 until M).map(trainCtes).mkString(",\n")
    // per-subspace pair distance: query subvector → the CODEBOOK ENTRY of
    // the candidate's code (asymmetric: database side is its centroid)
    val dCtes = (0 until M).map { m =>
      s"""d$m AS (
         |  SELECT s.vec_id AS q_id, en.vec_id AS n_id,
         |    CAST(list_sum(list_transform(list_zip(s.se, cb.ce),
         |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
         |  FROM sm$m s
         |  JOIN m${m}fin en ON en.vec_id <> s.vec_id
         |  JOIN m${m}c$Iters cb ON cb.cid = en.cid
         |  WHERE s.vec_id < $NumQueries)""".stripMargin
    }.mkString(",\n")
    val joins = (1 until M).map(m =>
      s"JOIN d$m ON d$m.q_id = d0.q_id AND d$m.n_id = d0.n_id").mkString("\n")
    val total = (0 until M).map(m => s"d$m.d").mkString(" + ")
    s"""$baseCte,
       |$subs,
       |$dCtes,
       |adc AS (
       |  SELECT d0.q_id, d0.n_id, CAST($total AS BIGINT) AS adc_dist,
       |    ROW_NUMBER() OVER (PARTITION BY d0.q_id
       |      ORDER BY CAST($total AS BIGINT), d0.n_id) AS rn
       |  FROM d0
       |  $joins)
       |SELECT q_id, n_id AS nn_id, adc_dist FROM adc WHERE rn = 1
       |ORDER BY q_id""".stripMargin
  }
}
