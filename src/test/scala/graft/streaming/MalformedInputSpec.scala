package graft.streaming

import graft.SparkSpec

/** What [[IncrementalQ3.step]] does today with three kinds of malformed
  * changelog line. None of them is counted yet: a bad header is dropped
  * without trace, a bad value in a column Q3 reads fails the batch under
  * ANSI casting, and a bad value in a column Q3 prunes away is never parsed.
  */
class MalformedInputSpec extends SparkSpec {

  // one qualifying customer ⋈ order ⋈ lineitem chain: BUILDING segment,
  // order before and shipment after the Q3 cutoff (1995-03-15);
  // revenue = 100.00 × (1 − 0.10) = 90
  private val good = Seq(
    "+CU|1|Customer#1|7|100.00|BUILDING",
    "+OR|10|1|O|150.00|1995-03-01|1-URGENT",
    "+LI|10|5|6|1|1.00|100.00|0.10|0.00|N|O|1995-04-01")

  /** A second lineitem of order 10 adding 50 revenue, with `partkey` and
    * `orderkey` substitutable.
    */
  private def li2(orderkey: String = "10", partkey: String = "5"): String =
    s"|$orderkey|$partkey|6|2|1.00|50.00|0.00|0.00|N|O|1995-04-01"

  /** (l_orderkey, revenue, cnt) of the Q3 aggregate after one batch. */
  private def fold(lines: Seq[String]): Seq[(Long, BigDecimal, Long)] = {
    import spark.implicits._
    val st = IncrementalQ3.step(IncrementalQ3.init(spark), lines.toDF("line"),
      spillDir = None)
    st.agg.orderBy("l_orderkey").collect().toSeq.map { r =>
      (r.getAs[Long]("l_orderkey"), BigDecimal(r.getAs[java.math.BigDecimal]("revenue")),
        r.getAs[Long]("cnt"))
    }
  }

  test("a line without a valid ±CU|OR|LI| header is dropped silently") {
    assert(fold(good) == Seq((10L, BigDecimal(90), 1L)))
    assert(fold(good :+ ("+LI" + li2())) == Seq((10L, BigDecimal(140), 2L)))
    // the same lineitem behind four broken headers: none of it counts
    val broken = Seq("+LX" + li2(), "*LI" + li2(), "+LI" + li2().drop(1), "LI" + li2())
    assert(fold(good ++ broken) == Seq((10L, BigDecimal(90), 1L)))
  }

  test("a non-numeric l_orderkey fails the batch under ANSI casting") {
    assert(spark.conf.get("spark.sql.ansi.enabled").toBoolean,
      "this pins the ANSI behavior; the session runs with ANSI off")
    val e = intercept[Exception](fold(good :+ ("+LI" + li2(orderkey = "1O"))))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("CAST_INVALID_INPUT")),
      s"expected a cast failure, got: $e")
  }

  test("a malformed column that Q3 prunes away passes unnoticed") {
    // l_partkey is never read by Q3, so its cast never runs: the line
    // counts exactly as its well-formed twin does
    assert(fold(good :+ ("+LI" + li2(partkey = "five"))) ==
      fold(good :+ ("+LI" + li2())))
  }
}
