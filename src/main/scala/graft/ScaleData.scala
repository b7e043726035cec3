package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Materialize an SF-N-sized fixture from sf0.1 for the full-surface
  * two-scale sweep (r10 verdict item 5): `scale` key-shifted copies of
  * every per-row table, written as parquet with the fixture layout, so
  * the whole 200-query surface can run at ~SF-1 and any super-linear
  * scaling cliff shows up as a >scale× time ratio.
  *
  * {{{ sbt "runMain graft.ScaleData 10 /root/repo/bench_sfx" }}}
  *
  * Copies are SEMANTICALLY DISJOINT, not just key-disjoint: document
  * texts get a per-copy suffix token and embeddings a per-copy
  * first-component nudge — verbatim copies would manufacture 10-way
  * near-duplicate clusters and dense ANN bucket collisions, and the sweep
  * would read those quadratic blowups as engine cliffs when they are
  * fixture artifacts. Foreign keys shift together (order ↔ lineitem ↔
  * customer, part/supplier refs), so join cardinalities scale linearly —
  * the same shape a real 10× corpus has. region/nation stay as-is
  * (dimension tables don't grow with SF).
  */
object ScaleData {

  private val Off = 1000000000L

  private def copies(df: DataFrame, n: Int)(shift: (DataFrame, Long) => DataFrame): DataFrame =
    (0 until n).map(i => shift(df, i.toLong * Off)).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val out = args.lift(1).getOrElse("/root/repo/bench_sfx")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()

    def t(name: String) = Tables.table(spark, sfDir, name)
    def shiftCols(cols: String*)(df: DataFrame, off: Long): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + off))

    val scaled: Seq[(String, DataFrame)] = Seq(
      "region" -> t("region"),
      "nation" -> t("nation"),
      "customer" -> copies(t("customer"), scale)(shiftCols("c_custkey")),
      "supplier" -> copies(t("supplier"), scale)(shiftCols("s_suppkey")),
      "part" -> copies(t("part"), scale)(shiftCols("p_partkey")),
      "orders" -> copies(t("orders"), scale)(shiftCols("o_orderkey", "o_custkey")),
      "lineitem" -> copies(t("lineitem"), scale)(
        shiftCols("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> copies(t("events"), scale)(shiftCols("event_id", "user_id")),
      "documents" -> copies(t("documents"), scale) { (df, off) =>
        val d = shiftCols("doc_id")(df, off)
        // per-copy TOKEN RENAME (not a suffix token — r11's first sweep
        // appended one trailing token, which leaves every interior shingle
        // identical across copies: each doc then has 9 true J≈0.97
        // near-duplicates and the dedup family pays a genuine 45× pair
        // blowup that reads as an engine cliff but is fixture semantics).
        // Suffixing EVERY token maps each copy's vocabulary injectively:
        // within-copy tf/df/shingle structure is isomorphic to the
        // original (same dedup/IR problem, 10× over), cross-copy shingle
        // overlap is exactly zero.
        if (off == 0) d
        else {
          val tag = s"c${off / Off}"
          d.withColumn("text",
              expr(s"array_join(transform(split(text, ' '), t -> concat(t, '_$tag')), ' ')"))
            .withColumn("n_chars", length(col("text")))
        }
      },
      "embeddings" -> copies(t("embeddings"), scale) { (df, off) =>
        val d = shiftCols("vec_id")(df, off)
        // per-copy ISOMETRY: flip each dimension's sign by a deterministic
        // per-(copy, dim) pattern. Sign flips applied to every vector of a
        // copy preserve all WITHIN-copy dot products and norms exactly (the
        // copy is the same ANN problem), while CROSS-copy similarities
        // decorrelate — so a 10× corpus has 10× independent structure, not
        // 10-way near-duplicate clusters that would turn bucketed ANN
        // quadratic and read as an engine cliff
        if (off == 0) d
        else {
          val copyIdx = (off / Off).toInt
          d.withColumn("embedding",
            expr(s"transform(embedding, (x, i) -> CAST(CASE WHEN " +
              s"pmod(hash(i * 97 + $copyIdx), 2) = 0 THEN x ELSE -x END AS FLOAT))"))
        }
      }
    )
    // optional 3rd arg: comma-separated table subset (e.g. the changelog
    // trio for a 100× spill-engagement run — scaling 100× of documents/
    // embeddings to test a TPC-H stream would be pure write cost)
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    scaled.filter(kv => only.forall(_.contains(kv._1))).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scale] $name written")
    }
    println(s"""{"metric":"scale_data","scale":$scale,"out":"$out"}""")
    spark.stop()
  }
}
