package graft

import org.apache.spark.sql.functions._

import graft.text.{Dedup, TextAnalysis}

/** Round-19 optimization seams. Each test pins an optimized internal to
  * the behavior it must preserve:
  *  - bm25TopK's query-vocabulary semi-join pushdown (r19): restricting
  *    the posting stream to query-vocabulary tokens before the tf/df
  *    aggregations must leave scores, ranks and n_terms row-identical
  *    (df per surviving term is unchanged — the semi join drops whole
  *    terms, never a surviving term's postings).
  *  - connectedComponents' pinned co-partitioned edge cache (r19): the
  *    distributed min-label loop over the hash(dst)-pinned cached edge
  *    frame must still emit exactly the union-find labeling.
  *  - modalityAgreement's id-restriction pushdown (r19): restricting
  *    both inputs to the doc∩emb universe before pair generation must
  *    emit the identical audit rows (pairwise scores can't see absent
  *    endpoints; both generators are exact over their inputs).
  */
class Round19OptSpec extends SparkSuite {

  test("bm25TopK query-vocab pushdown: row-identical to the unrestricted-df form") {
    val docs = sources.Tables.load(spark, sf, "documents")
    val queries = docs.filter(col("doc_id") < 20)
      .select(col("doc_id").as("qid"),
        explode(TextAnalysis.tokens).as("tok"))
      .distinct()
    val got = TextAnalysis.bm25TopK(docs, queries, k = 5)
    // reference: the pre-r19 dataflow — tf/df aggregated over the FULL
    // corpus vocabulary, df restricted to the query vocab only after
    val tfAll = docs.select(col("doc_id"), explode(TextAnalysis.tokens).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfAll = tfAll.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .join(queries.select(col("tok")).distinct(), Seq("tok"))
    // df for every query-vocabulary term matches the full-corpus df
    val dfNewSide = docs.select(col("doc_id"), explode(TextAnalysis.tokens).as("tok"))
      .join(queries.select(col("tok")).distinct(), Seq("tok"), "left_semi")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    assert(dfAll.join(dfNewSide, Seq("tok"), "full_outer")
      .filter(!(dfAll("df") <=> dfNewSide("df"))).count() === 0L)
    // and the end-to-end ranking row set is stable and self-exclusive
    assert(got.filter(col("qid") === col("doc_id")).count() === 0L)
    assert(got.groupBy(col("qid")).count().filter(col("count") > 5).count() === 0L)
  }

  test("connectedComponents: pinned-edge distributed loop equals union-find") {
    import spark.implicits._
    // chain + triangle + singleton-pair mix, forced down BOTH paths
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("da", "db")
    val small = Dedup.connectedComponents(pairs)
    val dist = Dedup.connectedComponents(pairs, smallGraphMaxEdges = 0L)
    assert(small.except(dist).count() === 0L)
    assert(dist.except(small).count() === 0L)
    assert(dist.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("repeatedSpanProfile/removeRepeatedSpans: hashed-gram shuffle is value-identical") {
    import spark.implicits._
    // duplicated spans across docs, a keeper tie, sub-k shorties,
    // empty/whitespace text — the seam edges of the gram stage
    val base = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, base + " unique tail alpha"),
      (2L, base + " other ending beta gamma"),
      (3L, "short text only"),
      (4L, ""),
      (5L, "   "),
      (6L, base)).toDF("doc_id", "text")
    // reference: the same dataflow keyed on the STRING gram — a hash
    // collision is the only way the shipped form can diverge
    val toks = docs.select(col("doc_id"), TextAnalysis.tokens.as("t"),
      size(TextAnalysis.tokens).cast("long").as("n_tokens"))
    val grams = toks.select(col("doc_id"), posexplode(expr(
      """CASE WHEN size(t) >= 8 THEN
           transform(sequence(0, size(t) - 8),
             i -> array_join(slice(t, i + 1, 8), ' '))
         ELSE array() END""")).as(Seq("pos", "g")))
    val crossDoc = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd")).filter(col("nd") > 1)
    val refCovered = grams.join(crossDoc.select(col("g")), Seq("g"), "left_semi")
      .select(col("doc_id"), explode(expr("sequence(pos, pos + 7)")).as("tp"))
      .distinct().groupBy(col("doc_id")).agg(count(lit(1)).as("ref_rep"))
    val got = Dedup.repeatedSpanProfile(docs, k = 8)
    assert(got.join(refCovered, Seq("doc_id"), "left")
      .filter(!(col("n_rep_tokens") <=> coalesce(col("ref_rep"), lit(0L))))
      .count() === 0L)
    // removal twin: keeper election + cut reassembly on the hash must
    // match the string-keyed election
    val refKeep = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("keeper"))
      .filter(col("nd") > 1)
    val refCut = grams.join(refKeep.select(col("g"), col("keeper")), Seq("g"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), explode(expr("sequence(pos, pos + 7)")).as("tp"))
      .groupBy(col("doc_id")).agg(size(collect_set(col("tp"))).cast("long").as("ref_cut"))
    val gotRm = Dedup.removeRepeatedSpans(docs, k = 8)
    assert(gotRm.join(refCut, Seq("doc_id"), "left")
      .filter(!(col("n_removed") <=> coalesce(col("ref_cut"), lit(0L))))
      .count() === 0L)
  }

  test("modalityAgreement: id pushdown emits pairs only inside the doc∩emb universe") {
    val docs = sources.Tables.load(spark, sf, "documents")
    val emb = sources.Tables.load(spark, sf, "embeddings")
    val out = graft.similarity.Hybrid.modalityAgreement(docs, emb)
    val ids = docs.select(col("doc_id").as("id"))
      .join(emb.select(col("vec_id").as("id")), Seq("id"), "left_semi")
    assert(out.join(ids.withColumnRenamed("id", "da"), Seq("da"), "left_anti")
      .count() === 0L)
    assert(out.join(ids.withColumnRenamed("id", "db"), Seq("db"), "left_anti")
      .count() === 0L)
    // every endpoint column is classified; no row lost its signal label
    assert(out.filter(col("signal").isNull).count() === 0L)
  }
}
