package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.text.Dedup

/** Round-18 seam: the AUTO bucketed-dispatch handoff (verdict #2). The
  * est32 > fence regime had only ever run with the fence pinned to 0
  * (the bucketed path forced); these tests pin the auto comparison at
  * the exact boundary — fence = est32 selects the two-phase broadcast,
  * fence = est32 − 1 selects the bucketed path, outputs identical —
  * and pin the [[GenScale.widenText]] invariants that make the
  * DEFAULT-fence engagement reachable on one box (a high-postings
  * corpus: postings/doc ×w ⇒ est32 crosses 1.5 GB at an
  * on-disk-feasible doc count).
  */
class Round18Spec extends SparkSuite {

  private def docs = sources.Tables.load(spark, sf, "documents")

  private def widened(w: Int): DataFrame =
    docs.withColumn("text", GenScale.widenText(w))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** The dispatch's own size estimates (same arithmetic as
    * Dedup.verifiedCommon — Round17Spec pins the formula). */
  private def estimates(sh: DataFrame): (Long, Long) = {
    val hs = Dedup.docHashSets(Dedup.hashedPostings(sh))
    val r = hs.agg(count(lit(1)), coalesce(sum(col("n")), lit(0L))).head()
    val (rows, postings) = (r.getLong(0), r.getLong(1))
    (rows * 48L + postings * 4L, rows * 48L + postings * 8L)
  }

  private def allPlanNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => allPlanNodes(a.executedPlan)
      case _ => p.children.flatMap(allPlanNodes)
    }
    p +: kids
  }

  test("widenText: distinct postings scale ~w-fold (the est32 lever)") {
    CacheScope.scoped {
      val base = Dedup.docHashSets(
        Dedup.hashedPostings(Dedup.shingles(docs)))
        .agg(sum(col("n"))).head().getLong(0)
      val wide = Dedup.docHashSets(
        Dedup.hashedPostings(Dedup.shingles(widened(4))))
        .agg(sum(col("n"))).head().getLong(0)
      val ratio = wide.toDouble / base
      // exact ×4 per variant + 2 boundary trigrams per junction:
      // ≈ (4·p + 6)/p at p ≈ 50 distinct shingles/doc
      assert(ratio > 3.9 && ratio < 4.4,
        s"postings ratio $ratio outside the ~4x widening band")
    }
  }

  test("widenText: pairwise containment structure is preserved") {
    CacheScope.scoped {
      def pairs(d: DataFrame): Set[(Long, Long)] =
        Dedup.containmentPairsCapped(Dedup.shingles(d), threshold = 0.5)
          .select(col("da"), col("db")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val base = pairs(docs)
      val wide = pairs(widened(4))
      assert(base.nonEmpty, "fixture produced no containment pairs — vacuous")
      // intersection and set sizes both scale ×w; only the boundary
      // sliver can flip pairs sitting exactly on the threshold
      val jac = (base intersect wide).size.toDouble / (base union wide).size
      assert(jac >= 0.9, s"pair-set Jaccard $jac — widening distorted the corpus")
    }
  }

  test("auto dispatch boundary: fence = est32 broadcasts two-phase, fence = est32 - 1 hands off to bucketed, outputs identical") {
    CacheScope.scoped {
      // widened shingles: the postings-dominated regime the handoff
      // serves (row term is < 2% of est32 here, as at the campaign SF)
      val sh = Dedup.shingles(widened(4))
      val (est32, est64) = estimates(sh)
      assert(est32 < est64)
      def run(): Set[org.apache.spark.sql.Row] =
        Dedup.containmentPairsCapped(sh, threshold = 0.5).collect().toSet
      def planOf(): Seq[SparkPlan] = {
        val df = Dedup.containmentPairsCapped(sh, threshold = 0.5)
        df.count()
        allPlanNodes(df.queryExecution.executedPlan)
      }
      val baseline = run() // default fence 1.5e9 >> est64 at sf0.001
      assert(baseline.nonEmpty)
      try {
        // exactly AT the fence: est32 <= fence still holds — the auto
        // comparison keeps the two-phase broadcast (no bucketed scan)
        spark.conf.set(Dedup.VerifyBroadcastBytesKey, est32.toString)
        assert(run() == baseline, "two-phase leg diverged at fence = est32")
        assert(!planOf().exists {
          case f: FileSourceScanExec => f.bucketedScan
          case _ => false
        }, "fence = est32 must stay on the broadcast side of the handoff")
        // one byte below: est32 > fence — the AUTO comparison (not a
        // 0-pin) selects the bucketed two-phase path
        spark.conf.set(Dedup.VerifyBroadcastBytesKey, (est32 - 1).toString)
        assert(run() == baseline, "bucketed leg diverged at fence = est32 - 1")
        val nodes = planOf()
        assert(nodes.exists {
          case f: FileSourceScanExec => f.bucketedScan
          case _ => false
        }, "fence = est32 - 1 must take the bucketed path (auto handoff)")
        assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
          "verify must never sort-merge")
      } finally spark.conf.unset(Dedup.VerifyBroadcastBytesKey)
    }
  }

  test("flagship stage probe: per-stage seams fire in order and reproduce the unprobed output") {
    CacheScope.scoped {
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      val probe: graft.text.Pipelines.StageProbe = (name, df) => {
        seen += name
        val p = CacheScope.persist(df)
        p.count()
        p
      }
      val probed = Flagship.curationPipeline(spark, sf, probe = probe)
        .collect().toSet
      val plain = Flagship.curationPipeline(spark, sf).collect().toSet
      assert(probed == plain, "probe mode changed the composition's output")
      assert(seen.toSeq == Seq("s1_containment_drops", "s2_span_drops",
        "s3_lexical_survivors", "s4_cc_keepers", "s5_decontaminate_hits",
        "s6_checkpoint_clean", "s7_semdedup_drops", "s8_checkpoint_corpus",
        "s9_distill_gate"),
        s"stage seams out of order: $seen")
    }
  }
}
