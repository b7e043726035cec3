package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Iterative graph analytics over relational edges — PageRank on the
  * part↔supplier co-purchase graph ([[Dedup.dedupClusters]] already covers
  * connected components via pointer-jumping; PageRank adds the
  * fixed-point-iteration family: influence/centrality scoring, the shape
  * of label propagation, embedding propagation, and every "repeat a join +
  * aggregate until done" workload).
  *
  * Determinism design: ranks are FIXED-POINT integers (scaled by 10^12),
  * not doubles. Every step is integer multiply / integer DIV / integer
  * sum, all associative and engine-exact, so the result is bit-identical
  * regardless of aggregation order, partitioning, or engine — a double
  * PageRank cannot promise that (float sums reorder across runs), and the
  * round-4 lesson (bm25/quality midpoint flips) is that cross-engine
  * doubles are a correctness tax. Truncation toward zero loses ≤1 unit in
  * 10^12 per term — far below any ranking-relevant difference.
  *
  * Scale shape: the symmetric edge list with per-source out-degree is
  * computed ONCE and pinned (at cluster scale: a bucketed table on `src`,
  * making every iteration's join shuffle-free on the edge side). Each of
  * the 5 iterations is one hash join (edges ⋈ ranks on src — ranks is
  * nodes-sized, ids + one long) and one hash aggregate by dst with
  * map-side partial sums; rank state is pinned per iteration
  * (`localCheckpoint`) to truncate the growing lineage — the standard
  * iterative-DataFrame discipline. Nothing driver-side except the loop
  * counter; the final top-20 is TakeOrderedAndProject.
  */
object Graph {

  /** The distinct (order, part) basket frame every co-purchase kernel
    * starts from.
    */
  private[graft] def basketFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()

  private val One = 1000000000000L // fixed-point 1.0

  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    // node ids stay LONGS through the whole fixed-point loop — part p is
    // node 2p, supplier s is node 2s+1 — and become display strings only
    // on the final 20 rows, so every join/aggregate moves (long, long)
    // pairs instead of strings and the dedup shuffle runs on the two
    // integer keys. At fixture scale this is wall-clock-neutral (~7 s
    // warm either way — the time is ~11 AQE stages' scheduling + codegen,
    // a fixed cost that data volume amortizes); at corpus scale the
    // payload halving is the difference that matters.
    val pairs = Tables.table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val e0 = pairs.select((col("l_partkey") * 2L).as("src"),
      (col("l_suppkey") * 2L + 1L).as("dst"))
    // undirected: every edge contributes in both directions, so the graph
    // has no dangling nodes (every node has outdeg ≥ 1 by construction)
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val adj = sym.join(deg, "src").localCheckpoint()

    // the degree frame IS the node set — no second distinct pass
    var ranks = deg.select(col("src").as("id"), lit(One).as("r"))
    // 5 iterations nest into ONE lazy plan executed in a single job: each
    // intermediate ranks frame feeds exactly one consumer, so nothing is
    // recomputed, and AQE sizes each iteration's join strategy from the
    // previous stage's actual output (the nodes-sized ranks side comes
    // back broadcast-small here; at 100 TB it shuffles against a
    // src-bucketed adj instead). Deep fixed-point runs (50+ rounds) would
    // re-introduce a localCheckpoint every ~10 iterations to bound plan
    // depth — at 5 rounds a per-iteration pin costs more than it saves
    // (measured 8.0 s pinned vs 6.4 s unpinned, warm, sf0.1).
    for (_ <- 1 to 5) {
      ranks = adj.join(ranks, adj("src") === ranks("id"))
        .select(col("dst"), expr("r DIV outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("sc"))
        // r' = 0.15 + 0.85·Σ contrib, as 17/20 in exact integer arithmetic
        .select(col("dst").as("id"),
          (lit(One * 3 / 20) + expr("17 * sc DIV 20")).as("r"))
    }
    ranks
      .select(when(col("id") % 2 === 0, concat(lit("p:"), expr("id DIV 2")))
        .otherwise(concat(lit("s:"), expr("id DIV 2"))).as("id"), col("r"))
      .orderBy(col("r").desc, col("id")).limit(20)
      .select(col("id"), col("r").as("rank"))
  }

  /** DuckDB oracle: the same 5 iterations unrolled as chained CTEs,
    * generated from the same constants. `//` is DuckDB's integer floor
    * division — identical to Spark's DIV on the all-positive ranks.
    * Sums are cast back to BIGINT (DuckDB sums BIGINT into HUGEINT).
    */
  def pageRankOracleSql: String = {
    val base =
      s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
         |                            l_suppkey * 2 + 1 AS dst
         |            FROM lineitem),
         |sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
         |r0 AS (SELECT src AS id, CAST($One AS BIGINT) AS r FROM deg)""".stripMargin
    val iters = (1 to 5).map { i =>
      s"""r$i AS (SELECT s.dst AS id,
         |            CAST(${One * 3 / 20} + (17 * CAST(sum(r.r // d.outdeg) AS BIGINT)) // 20 AS BIGINT) AS r
         |        FROM sym s JOIN r${i - 1} r ON s.src = r.id
         |                   JOIN deg d ON s.src = d.src
         |        GROUP BY s.dst)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters,
       |named AS (SELECT CASE WHEN id % 2 = 0 THEN 'p:' || CAST(id // 2 AS VARCHAR)
       |                      ELSE 's:' || CAST(id // 2 AS VARCHAR) END AS id,
       |                 r FROM r5)
       |SELECT id, r AS rank FROM named ORDER BY rank DESC, id LIMIT 20""".stripMargin
  }

  /** TRIANGLE COUNT over the part co-purchase graph (parts are adjacent
    * when some order contains both), with the global clustering
    * coefficient — the second classic "can your engine do graphs" kernel
    * beside [[pageRank]]'s fixed point: one-shot, join-only, and famously
    * skew-bound (Suri & Vassilvitskii, "Counting Triangles and the Curse
    * of the Last Reducer", WWW'11).
    *
    * Scale design — DEGREE-ORDERED ORIENTATION: every undirected edge is
    * directed from its (degree, id)-smaller endpoint to its larger one.
    * The orientation is acyclic, each triangle keeps exactly one "apex"
    * node with both out-edges, and — the point — a node's OUT-degree is
    * O(√m) even if its degree is huge (a higher-degree neighbor absorbs
    * the edge). The wedge self-join (out-edges ⋈ out-edges on src) is
    * therefore O(√m) even when degrees are huge (a higher-degree neighbor
    * absorbs the edge) — no "curse of the last reducer".
    *
    * Counting is COMPACT-FORWARD (Latapy 2008), not wedge
    * materialization: out-neighbor lists are grouped once per node
    * (each list O(√m) by the orientation bound — bounded per-row state,
    * no skew blowup), each oriented edge (u,v) joins its endpoints'
    * lists, and `array_intersect` counts the closing nodes row-locally.
    * The Σ outdeg² wedge stream — 42 M rows at bench SF, the whole
    * shuffle at 100× — never exists; the joins move only the m edges and
    * the n adjacency rows (measured 13.3 s → ~4 s at sf0.1). Every stage
    * is an equi-join or hash aggregate; the per-order pair expansion is
    * bounded by TPC-H's ≤7 lineitems per order.
    *
    * Determinism: counts are integers; the clustering coefficient is
    * emitted as exact integer millionths (3·triangles·10⁶ DIV wedges),
    * never a double.
    */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    triangleCore(basketFrame(spark, dir))

  private[graft] def triangleCore(li: DataFrame): DataFrame = {
    // undirected edge set {a < b}: parts co-occurring in an order, deduped
    // across orders (the self-join is per-order, ≤ C(7,2) pairs each)
    val edges = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
      .localCheckpoint() // edges feed 4 consumers; compute the join once
    val deg = edges.select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient by (degree, id): src = smaller endpoint under that order
    val withDeg = edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val oriented = withDeg.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint() // adjacency build + two probe joins share it
    // per-node out-neighbor list — O(√m) elements by the orientation bound
    val adj = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs"))
    // each oriented edge (u,v) closes one triangle per w ∈ N⁺(u) ∩ N⁺(v):
    // orientation makes u ≺ v ≺ w the unique representation, so the
    // row-local intersection size sums to the exact triangle count
    val tri = oriented
      .join(adj.select(col("src").as("u"), col("nbrs").as("nu")),
        col("src") === col("u"))
      .join(adj.select(col("src").as("v"), col("nbrs").as("nv")),
        col("dst") === col("v"))
      .select(size(array_intersect(col("nu"), col("nv"))).cast("long").as("t"))
      .agg(sum(col("t")).as("n_triangles"))
    // open-wedge denominator Σ d·(d−1)/2 over UNDIRECTED degrees
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(d) DIV 2").as("n_edges"),
      sum(expr("d * (d - 1) DIV 2")).as("n_wedges"))
    stats.crossJoin(tri) // two 1-row frames
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("3 * n_triangles * 1000000 DIV n_wedges").as("global_cc_ppm"))
  }

  /** SYNCHRONOUS MIN-LABEL PROPAGATION — 4 rounds of `label' =
    * min(label, min over neighbors)` on the part co-purchase graph: the
    * community/propagation kernel family's simplest member, and the
    * OBSERVABLE-PARTIAL-CONVERGENCE counterpoint to
    * [[graft.operators.Dedup.dedupClusters]]' pointer-jumping CC (which
    * runs to a fixed point; here the 4-round frontier is the contract, so
    * the result exposes propagation SPEED, not just the final partition).
    * Labels are node ids — integer, deterministic, engine-exact.
    *
    * The graph is the SUPPORT-≥2 co-purchase graph (parts co-ordered at
    * least twice): the full graph is so dense its diameter is ~2 and
    * every node collapses to one label by round 2 — structurally true
    * but uninformative; the sparsified graph has real community
    * structure (93 components at sf0.01, 2 366 at sf0.1).
    *
    * Scale shape: each round is one shuffle — neighbor labels ride the
    * symmetric edge list (`sym ⋈ labels` on src, grouped by dst with a
    * map-side-combined min) unioned with the self label. Rounds =
    * O(diameter) to converge; fixed 4 here. Same pinned `sym` frame as
    * [[pageRank]]'s discipline.
    */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val edges = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
      .select(col("a"), col("b"))
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .toDF("src", "dst").localCheckpoint()
    var labels = sym.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
    for (_ <- 1 to 4) {
      labels = sym.join(labels, col("src") === col("v"))
        .select(col("dst").as("v"), col("lbl"))
        .union(labels)
        .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))
    }
    labels.groupBy(col("lbl").as("label"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("label")).limit(20)
  }

  /** DuckDB oracle: the same 4 rounds unrolled. */
  val labelPropagationOracleSql: String = {
    val base =
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |edges AS (SELECT x.p AS a, y.p AS b
        |          FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT a AS src, b AS dst FROM edges
        |        UNION ALL SELECT b AS src, a AS dst FROM edges),
        |l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM sym)""".stripMargin
    val rounds = (1 to 4).map { i =>
      s"""l$i AS (SELECT v, min(lbl) AS lbl FROM (
         |  SELECT s.dst AS v, l.lbl FROM sym s JOIN l${i - 1} l ON s.src = l.v
         |  UNION ALL SELECT v, lbl FROM l${i - 1}) u GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT lbl AS label, count(*) AS n_nodes
       |FROM l4 GROUP BY lbl ORDER BY n_nodes DESC, label LIMIT 20""".stripMargin
  }

  /** NODE-PAIR JACCARD SIMILARITY over the co-purchase graph — for every
    * EDGE (a,b), |N(a) ∩ N(b)| / |N(a) ∪ N(b)| on the undirected
    * neighborhoods: link-prediction / graph-sparsification's standard
    * "edge embeddedness" score, and the third member of the graph family
    * ([[pageRank]] iterates, [[triangleCount]] counts globally, this
    * ranks pairs).
    *
    * NO adjacency arrays on undirected degrees (a celebrity node's full
    * neighbor list is the skew trap): the common-neighbor count of edge
    * (a,b) IS the number of triangles through it, so the compact-forward
    * machinery enumerates each triangle once (bounded O(√m) oriented
    * lists), explodes it into its 3 canonical edges, and one hash
    * aggregate yields per-edge counts; |∪| falls out as deg(a)+deg(b)−cn
    * with no set materialized. The score is exact integer millionths;
    * top-20 by (jaccard DESC, a, b) is TakeOrderedAndProject.
    */
  def nodeSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val edges = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
      .localCheckpoint()
    val deg = edges.select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val oriented = withDeg.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    val adj = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs"))
    // one row per triangle (u, v, w): w ranges over N⁺(u) ∩ N⁺(v)
    val tris = oriented
      .join(adj.select(col("src").as("u"), col("nbrs").as("nu")), col("src") === col("u"))
      .join(adj.select(col("src").as("v"), col("nbrs").as("nv")), col("dst") === col("v"))
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
    // 3 canonical (lo, hi) edges per triangle → per-edge triangle count
    val cn = tris.select(explode(array(
        struct(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b")),
        struct(least(col("src"), col("w")).as("a"), greatest(col("src"), col("w")).as("b")),
        struct(least(col("dst"), col("w")).as("a"), greatest(col("dst"), col("w")).as("b"))))
        .as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("cn"))
    withDeg.join(cn, Seq("a", "b"), "left")
      .select(col("a").as("part_a"), col("b").as("part_b"),
        coalesce(col("cn"), lit(0L)).as("common"),
        (col("da") + col("db") - coalesce(col("cn"), lit(0L))).as("union_size"),
        expr("coalesce(cn, 0) * 1000000 DIV (da + db - coalesce(cn, 0))").as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("part_a"), col("part_b")).limit(20)
  }

  /** DuckDB oracle for [[nodeSimilarity]] — wedge-join triangle
    * enumeration, same canonical-edge explode, same integer score.
    */
  val nodeSimilarityOracleSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |edges AS (SELECT DISTINCT x.p AS a, y.p AS b
      |          FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p),
      |deg AS (SELECT v, count(*) AS d FROM (
      |          SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
      |        GROUP BY v),
      |o AS (SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
      |             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst,
      |             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dd
      |      FROM edges e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
      |tris AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
      |         FROM o e1
      |         JOIN o e2 ON e1.src = e2.src AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
      |         JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
      |ce AS (SELECT least(u, v) AS a, greatest(u, v) AS b FROM tris
      |       UNION ALL SELECT least(u, w), greatest(u, w) FROM tris
      |       UNION ALL SELECT least(v, w), greatest(v, w) FROM tris),
      |cn AS (SELECT a, b, count(*) AS cn FROM ce GROUP BY a, b)
      |SELECT e.a AS part_a, e.b AS part_b,
      |       COALESCE(c.cn, 0) AS common,
      |       da.d + db.d - COALESCE(c.cn, 0) AS union_size,
      |       CAST(COALESCE(c.cn, 0) * 1000000 // (da.d + db.d - COALESCE(c.cn, 0)) AS BIGINT) AS jaccard_ppm
      |FROM edges e
      |JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v
      |LEFT JOIN cn c ON e.a = c.a AND e.b = c.b
      |ORDER BY jaccard_ppm DESC, part_a, part_b LIMIT 20""".stripMargin

  /** WEIGHTED SINGLE-SOURCE SHORTEST PATHS — 6 rounds of Bellman–Ford on
    * the support-weighted co-purchase graph: the MIN-PLUS semiring member
    * of the iterative family ([[pageRank]] is sum-times, [[labelPropagation]]
    * is plain min; distances need min over (dist + weight), which neither
    * covers). Edge weight is `1000000 DIV support` — strongly co-purchased
    * parts are "close" — so every distance is an exact integer and the
    * result is engine-bit-identical (a double SSSP cannot promise that).
    *
    * The frontier table holds ONLY reached nodes (source row seeds it), so
    * early rounds move frontier-sized state, not graph-sized state — the
    * property that makes Bellman-Ford-on-a-DataFrame viable at 100 TB:
    * each round is one hash join (sym ⋈ dist on src — dist is ids + one
    * long) and one map-side-combined min aggregate, the same
    * pinned-symmetric-edge-list discipline as [[pageRank]]. The source is
    * a 1-row broadcast (global min part id), never a driver collect.
    * Output: the 20 nearest parts by (cost, id) — TakeOrderedAndProject.
    */
  def shortestPaths(spark: SparkSession, dir: String): DataFrame =
    ssspCore(basketFrame(spark, dir))

  private[graft] def ssspCore(li: DataFrame): DataFrame = {
    val edges = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
      .select(col("a"), col("b"), expr("1000000 DIV sup").as("w"))
    val sym = edges.union(edges.select(col("b"), col("a"), col("w")))
      .toDF("src", "dst", "w").localCheckpoint()
    // source = the max-degree node (ties → smallest id) as a 1-row frame
    // (TakeOrderedAndProject over the degree aggregate — broadcast seed,
    // no driver round-trip). Max-degree beats min-id because the sparser
    // fixtures fragment: at sf0.1 the support-≥2 graph splits into small
    // components and an arbitrary seed reaches almost nothing; the
    // max-degree seed sits in the densest component at every scale.
    var dist = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("src")).limit(1)
      .select(col("src").as("v"), lit(0L).as("dist"))
    for (_ <- 1 to 6) {
      // dist feeds TWO consumers (the relax join and the union), so an
      // unpinned lineage doubles per round — 2⁶ copies of the base plan
      // by round 6 (measured: 254 HashAggregates in the formatted plan).
      // Pinning each round keeps the plan one-join deep; the pinned frame
      // is frontier-sized (ids + one long), the cheapest thing in the job.
      dist = sym.join(dist, col("src") === col("v"))
        .select(col("dst").as("v"), (col("dist") + col("w")).as("dist"))
        .union(dist)
        .groupBy(col("v")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dist.select(col("v").as("part"), col("dist").as("cost"))
      .orderBy(col("cost"), col("part")).limit(20)
  }

  /** DuckDB oracle: the same 6 relaxation rounds unrolled. */
  val shortestPathsOracleSql: String = {
    val base =
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |edges AS (SELECT x.p AS a, y.p AS b, CAST(1000000 // count(*) AS BIGINT) AS w
        |          FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT a AS src, b AS dst, w FROM edges
        |        UNION ALL SELECT b AS src, a AS dst, w FROM edges),
        |d0 AS (SELECT src AS v, CAST(0 AS BIGINT) AS dist FROM (
        |         SELECT src, count(*) AS deg FROM sym GROUP BY src
        |         ORDER BY deg DESC, src LIMIT 1) s)""".stripMargin
    val rounds = (1 to 6).map { i =>
      s"""d$i AS (SELECT v, min(dist) AS dist FROM (
         |  SELECT s.dst AS v, d.dist + s.w AS dist
         |  FROM sym s JOIN d${i - 1} d ON s.src = d.v
         |  UNION ALL SELECT v, dist FROM d${i - 1}) u GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT v AS part, dist AS cost FROM d6
       |ORDER BY cost, part LIMIT 20""".stripMargin
  }

  /** K-CORE DECOMPOSITION (k = 3, 8 peeling rounds) — the iterative
    * FILTERING kernel beside the propagation kernels: repeatedly delete
    * every node of degree < k and the edges it carries until the 3-core
    * stabilizes. The output is the peeling TRAJECTORY — (round, surviving
    * nodes, surviving edges) for rounds 0..8 — so the result exposes how
    * fast the periphery collapses, not just the final core (the same
    * observable-partial-convergence contract as [[labelPropagation]]).
    *
    * Scale shape: each round is one degree aggregate (map-side combined)
    * plus two semi joins of the edge list against the ids-only survivor
    * set — no adjacency arrays, no driver state beyond the loop counter.
    * Each round's edge set is pinned (`localCheckpoint`) because it feeds
    * three consumers (degree, next round, trajectory row); rounds strictly
    * shrink the data, so the 8 pins are each at most edge-list-sized.
    * Production k-core peels to fixpoint with the identical loop body.
    */
  def kCore(spark: SparkSession, dir: String): DataFrame =
    kCorePeel(basketFrame(spark, dir))

  private[graft] def kCorePeel(li: DataFrame): DataFrame = {
    // the SUPPORT-≥3 graph (one notch sparser than [[labelPropagation]]'s
    // ≥2): the denser graphs have minimum degree above k everywhere, so
    // nothing would peel — structurally true but uninformative; at ≥3 the
    // periphery collapses over ~3 rounds and the 3-core stabilizes
    var e = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("sup")).filter(col("sup") >= 3)
      .select(col("a"), col("b"))
      .localCheckpoint()
    def summary(round: Int, ed: DataFrame): DataFrame = {
      val nodes = ed.select(col("a").as("v")).union(ed.select(col("b").as("v")))
        .distinct().agg(count(lit(1)).as("n_nodes"))
      val ecnt = ed.agg(count(lit(1)).as("n_edges"))
      nodes.crossJoin(ecnt) // two 1-row frames
        .select(lit(round).as("round"), col("n_nodes"), col("n_edges"))
    }
    var out = summary(0, e)
    for (i <- 1 to 8) {
      val keep = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .filter(col("d") >= 3).select(col("v"))
      e = e.join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint()
      out = out.union(summary(i, e))
    }
    out.orderBy(col("round"))
  }

  /** DuckDB oracle: the same 8 peeling rounds unrolled. Every round CTE is
    * `AS MATERIALIZED` — each `e_i` is referenced three times by round
    * i+1, so DuckDB's default inlining would expand the chain 3⁸-fold
    * (observed as "Too many open files" re-scanning the parquet).
    */
  val kCoreOracleSql: String = {
    val base =
      """WITH e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b
        |            FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem) x
        |            JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem) y
        |              ON x.ok = y.ok AND x.p < y.p
        |            GROUP BY 1, 2 HAVING count(*) >= 3)""".stripMargin
    val rounds = (1 to 8).map { i =>
      s"""k$i AS MATERIALIZED (SELECT v FROM (
         |          SELECT v, count(*) AS d FROM (
         |            SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) u
         |          GROUP BY v) g WHERE d >= 3),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |        WHERE a IN (SELECT v FROM k$i) AND b IN (SELECT v FROM k$i))""".stripMargin
    }.mkString(",\n")
    val rows = (0 to 8).map { i =>
      s"""SELECT $i AS round,
         |  (SELECT count(*) FROM (SELECT a AS v FROM e$i UNION SELECT b FROM e$i) u) AS n_nodes,
         |  (SELECT count(*) FROM e$i) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$base,
       |$rounds
       |SELECT * FROM (
       |$rows
       |) t ORDER BY round""".stripMargin
  }

  /** DuckDB oracle: same construction; the closure join enumerates each
    * triangle once because the (degree, id) orientation is a total order.
    */
  val triangleCountOracleSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |edges AS (SELECT DISTINCT x.p AS a, y.p AS b
      |          FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p),
      |deg AS (SELECT v, count(*) AS d FROM (
      |          SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
      |        GROUP BY v),
      |oriented AS (
      |  SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
      |         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst,
      |         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dd
      |  FROM edges e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM oriented e1
      |  JOIN oriented e2 ON e1.src = e2.src AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
      |  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
      |st AS (SELECT count(*) AS n_nodes,
      |              CAST(sum(d) // 2 AS BIGINT) AS n_edges,
      |              CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      |       FROM deg)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |       CAST(3 * n_triangles * 1000000 // n_wedges AS BIGINT) AS global_cc_ppm
      |FROM st, tri""".stripMargin
}
