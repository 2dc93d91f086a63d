package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Round-18 optimization seams. Each test pins an optimized internal to
  * the form it replaced:
  *  - topTokenFrac's sorted-run-length rewrite must be value-identical
  *    to the r12 distinct×filter form on real fixture text and on the
  *    tie/empty/single-token edges (the oracle hash is the end-to-end
  *    gate; this is the row-for-row witness).
  */
class Round18OptSpec extends SparkSuite {

  /** The pre-r18 O(distinct × len) form, kept verbatim as the witness. */
  private def ttfLegacy(toks: Column): Column =
    array_max(transform(array_distinct(toks),
      d => size(filter(toks, x => x === d)))).cast("long") /
      size(toks).cast("long")

  test("topTokenFrac sorted-run form equals the distinct-filter form on fixture text") {
    val docs = sources.Tables.load(spark, sf, "documents")
    val t = TextAnalysis.tokens
    val mism = docs.select(
      TextAnalysis.topTokenFrac(t).as("v_new"), ttfLegacy(t).as("v_old"))
      .filter(!(col("v_new") <=> col("v_old"))).count()
    assert(mism === 0L)
  }

  test("topTokenFrac edges: empty, single token, all-equal, tie, null text") {
    import spark.implicits._
    val df = Seq(
      (1L, ""), // split("") -> [""] : one empty-string token
      (2L, "one"),
      (3L, "x x x x"),
      (4L, "a a b b c"), // tie between runs
      (5L, "a b a b a"), // interleaved: sort must regroup
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val t = TextAnalysis.tokens
    val rows = df.select(col("doc_id"),
      TextAnalysis.topTokenFrac(t).as("v_new"), ttfLegacy(t).as("v_old"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"null drift on doc ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getDouble(1) === r.getDouble(2), s"value drift on doc ${r.getLong(0)}")
    }
    // spot values: interleaved doc 5 has max frequency 3 of 5 tokens
    val v5 = rows.find(_.getLong(0) == 5L).get.getDouble(1)
    assert(v5 === 3.0 / 5.0)
  }

  test("reconcile one-shuffle rewrite matches EXCEPT-DISTINCT semantics (dupes + nulls)") {
    import spark.implicits._
    import graft.operators.Delta
    // duplicates, null keys, and rows unique to each side
    val src = Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]),
      (4L, "d")).toDF("k", "v")
    val tgt = Seq((1L, "a"), (3L, null.asInstanceOf[String]), (5L, "e"),
      (5L, "e")).toDF("k", "v")
    val r = Delta.reconcile(src, tgt)
    assert(r.srcCount === 5L)
    assert(r.tgtCount === 4L)
    // EXCEPT DISTINCT: {(1,a),(2,b),(3,null),(4,d)} minus {(1,a),(3,null),(5,e)}
    assert(r.srcMinusTgt === 2L) // (2,b),(4,d)
    assert(r.tgtMinusSrc === 1L) // (5,e)
    assert(r.missingCols.isEmpty && r.extraCols.isEmpty && !r.ok)
    // cross-check against Spark's own except()
    assert(r.srcMinusTgt === src.except(tgt).count())
    assert(r.tgtMinusSrc === tgt.except(src).count())
    val m = Delta.symmetricMinusCounts(src, tgt).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(m === Map("src_minus_tgt" -> 2L, "tgt_minus_src" -> 1L))
    // equal-sides case reports ok
    val same = Delta.reconcile(src, src)
    assert(same.ok && same.srcMinusTgt === 0L && same.tgtMinusSrc === 0L)
  }
}
