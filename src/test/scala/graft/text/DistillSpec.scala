package graft.text

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.{CacheScope, SparkSuite}
import graft.sources.Tables

/** Gate distillation: the GD kernel against the DataFrame round it
  * replaced (exact, `==` on every weight and every scored row), the
  * job shape of a training round, and the gate's end-to-end behavior
  * (learns above the base rate, degrades to typed empty output). */
class DistillSpec extends SparkSuite {

  private val gate = TextAnalysis.gopherMetrics(10, 1000, 2.0, 10.0, 0.2, 0.2).last
  private val sf01 = "/root/testdata/sf0.01"

  /** The per-round DataFrame form of `Distill.gdTrain`, kept verbatim as
    * the reference: each round plans a map-literal projection, a per-doc
    * DECIMAL aggregate, a shuffle-hash join and a per-bucket DECIMAL
    * aggregate; the weight map is seeded from a distinct-bucket collect. */
  private def gdTrainReference(feats: DataFrame, ndocs: Double, iters: Int,
      lr: Double): Map[Int, Double] = {
    def round8(v: Double): Double =
      BigDecimal(v).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sigmoid = round(lit(1.0) / (lit(1.0) + exp(-col("s"))), 6)
    var wMap: Map[Int, Double] =
      feats.select(col("b")).distinct().collect()
        .map(r => r.getInt(0) -> 0.0).toMap
    for (_ <- 1 to iters) {
      val resid = Distill.scored(feats, wMap)
        .select(col("doc_id"), (sigmoid - col("y")).as("r"))
      val grads = feats.join(resid.hint("shuffle_hash"), "doc_id")
        .select(col("b"),
          round(col("x") * col("r"), 8).cast("decimal(20,8)").as("g"))
        .groupBy(col("b"))
        .agg(sum(col("g")).cast("double").as("gsum"))
        .select(col("b"),
          round(col("gsum") / lit(ndocs), 8).as("g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      wMap = wMap.map { case (b, v) =>
        b -> round8(v - lr * grads.getOrElse(b, 0.0)) }
    }
    wMap
  }

  /** `distillGate`'s output with the weights trained by the reference. */
  private def distillReference(feats: DataFrame, w: Map[Int, Double]): DataFrame = {
    val sigmoid = round(lit(1.0) / (lit(1.0) + exp(-col("s"))), 6)
    Distill.scored(feats, w)
      .select(col("doc_id"), col("y").as("label"), sigmoid.as("score"),
        when(sigmoid >= 0.5, 1L).otherwise(0L).as("predicted"))
      .withColumn("correct",
        when(col("predicted") === col("label"), 1L).otherwise(0L))
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Kernel and reference weights, then the scored rows of
    * `distillGate` against the reference composition, all by `==`. */
  private def assertParity(docs: DataFrame, label: Column, dim: Int,
      iters: Int, lr: Double): Unit = CacheScope.scoped {
    val ndocs = docs.count()
    val feats = Distill.labeledFeatures(docs, label, dim, ndocs)
    val ref = gdTrainReference(feats, ndocs.toDouble, iters, lr)
    assert(Distill.gdTrain(feats, ndocs.toDouble, iters, lr) == ref)
    assert(sortedRows(Distill.distillGate(docs, label, dim, iters, lr)) ==
      sortedRows(distillReference(feats, ref)))
  }

  test("GD kernel equals the DataFrame round on the sf0.01 documents") {
    assertParity(Tables.load(spark, sf01, "documents"), gate,
      dim = 64, iters = 20, lr = 16.0)
  }

  test("GD kernel merges partials across partitions exactly") {
    CacheScope.scoped {
      val docs = Tables.load(spark, sf01, "documents")
      val ndocs = docs.count()
      val feats = Distill.labeledFeatures(docs, gate, 64, ndocs)
      // production sizing gives one partition below 50k docs
      assert(feats.rdd.getNumPartitions == 1)
      val split = CacheScope.persist(feats.repartition(3, col("doc_id")))
      assert(split.rdd.getNumPartitions == 3)
      val ref = gdTrainReference(feats, ndocs.toDouble, 20, 16.0)
      assert(Distill.gdTrain(split, ndocs.toDouble, 20, 16.0) == ref)
      assert(Distill.gdTrain(feats, ndocs.toDouble, 20, 16.0) == ref)
    }
  }

  test("GD kernel equals the DataFrame round on null, empty, blank, one-word docs") {
    import spark.implicits._
    val docs = Seq[(Long, String, java.lang.Long)](
      (1L, "the cat sat on the mat", 1L),
      (2L, null, 0L),
      (3L, "", 1L),
      (4L, "   ", 0L),
      (5L, "word", 1L),
      (6L, "the dog sat on the cat mat", null),
      (7L, "a dog sat on a mat", 0L),
      (8L, "cat", 0L)).toDF("doc_id", "text", "lab")
    assertParity(docs, col("lab"), dim = 8, iters = 5, lr = 4.0)
  }

  // the DataFrame round threw ROW_VALUE_IS_NULL reading such a bucket's
  // NULL gradient; the oracle's coalesce(g.g, 0.0) steps it by zero
  test("a bucket whose every gradient term is NULL keeps its weight") {
    import spark.implicits._
    val docs = Seq[(Long, String, java.lang.Long)](
      (1L, "alpha beta", 1L),
      (2L, "alpha", 0L),
      (3L, "gamma delta epsilon", null)).toDF("doc_id", "text", "lab")
    CacheScope.scoped {
      val feats = Distill.labeledFeatures(docs, col("lab"), 64, 3L)
      val unlabeled = feats.groupBy(col("b"))
        .agg(count(col("y")).as("n")).where(col("n") === 0L)
        .as[(Int, Long)].collect().map(_._1)
      assert(unlabeled.nonEmpty)
      val w = Distill.gdTrain(feats, 3.0, 3, 4.0)
      unlabeled.foreach(b => assert(w(b) == 0.0))
      assert(w.values.exists(_ != 0.0))
    }
  }

  // a job that also ran a shuffle map stage would submit two stages
  test("a warm training round is one job with no shuffle map stage") {
    val group = "distill-gd-rounds"
    val marker = "distill-gd-marker"
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val markerSeen = new AtomicInteger
    def groupOf(p: java.util.Properties): String =
      Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case `group` => jobs.incrementAndGet()
          case `marker` => markerSeen.incrementAndGet()
          case _ =>
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) stages.incrementAndGet()
    }
    val sc = spark.sparkContext
    CacheScope.scoped {
      val docs = Tables.load(spark, sf01, "documents")
      val ndocs = docs.count()
      val feats = Distill.labeledFeatures(docs, gate, 64, ndocs)
      val split = CacheScope.persist(feats.repartition(3, col("doc_id")))
      split.count() // build both caches before counting
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, "GD rounds")
        Distill.gdTrain(split, ndocs.toDouble, 7, 16.0)
        // listener events arrive in posting order: once the marker job
        // is seen, every training event has been delivered
        sc.setJobGroup(marker, "marker")
        sc.parallelize(Seq(1), 1).count()
        eventually(timeout(30.seconds)) { assert(markerSeen.get() == 1) }
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      assert(jobs.get() == 7)
      assert(stages.get() == 7)
    }
  }

  test("distilled gate scorer beats the majority-class base rate") {
    CacheScope.scoped {
      val docs = Tables.load(spark, sf, "documents")
      val out = Distill.distillGate(docs, gate, dim = 64, iters = 20, lr = 16.0)
      val r = out.agg(avg(col("label")), avg(col("correct")),
        count(lit(1))).head()
      val base = math.max(r.getDouble(0), 1.0 - r.getDouble(0))
      assert(r.getLong(2) == docs.count(), "one scored row per document")
      // the student must actually LEARN: strictly above always-majority
      // (measured 0.940 vs 0.926 at sf0.001)
      assert(r.getDouble(1) > base,
        s"accuracy ${r.getDouble(1)} must beat base rate $base")
    }
  }

  test("distillGate output shape: one row per doc, accuracy above a coin flip") {
    val docs = Tables.load(spark, sf, "documents")
    CacheScope.scoped {
      val out = Distill.distillGate(docs, gate, dim = 16, iters = 3, lr = 4.0)
        .orderBy("doc_id").collect()
      // every doc scored exactly once, score in (0,1), label/predicted
      // binary, correct consistent
      assert(out.nonEmpty)
      assert(out.map(_.getLong(0)).distinct.length === out.length)
      out.foreach { r =>
        val score = r.getDouble(2) // 6-dp sigmoid: saturation to 0/1 is legal
        assert(score >= 0.0 && score <= 1.0)
        assert(Set(0L, 1L).contains(r.getLong(3)))
        assert(r.getLong(4) === (if (r.getLong(3) == r.getLong(1)) 1L else 0L))
      }
      // the gate separates: accuracy over the fixture beats coin flip
      val acc = out.map(_.getLong(4)).sum.toDouble / out.length
      assert(acc > 0.5)
    }
  }

  test("scoreGate emits every input doc once under the literal-map lookup") {
    val docs = Tables.load(spark, sf, "documents")
    CacheScope.scoped {
      val w = Distill.trainGate(docs.where(col("doc_id") % 4 === 0), gate,
        dim = 16, iters = 2, lr = 4.0)
      val scoredDocs = Distill.scoreGate(docs, w, dim = 16)
      assert(scoredDocs.select(col("doc_id")).distinct().count() === docs.count())
      assert(scoredDocs.filter(col("score").isNull).count() === 0L)
    }
  }

  // an empty training corpus must degrade to a typed EMPTY result — the
  // pre-r18 empty-weight-frame inner-join behavior — not throw
  test("distillGate/scoreGate degrade to empty output on an empty corpus") {
    import spark.implicits._
    val empty = spark.createDataset(Seq.empty[(Long, String)])
      .toDF("doc_id", "text")
    val gated = Distill.distillGate(empty, lit(1L), dim = 8, iters = 1)
    assert(gated.count() === 0L)
    assert(gated.columns.toSeq ===
      Seq("doc_id", "label", "score", "predicted", "correct"))
    // scoring a NON-empty corpus with an empty (untrained) weight map:
    // the pre-r18 inner join against an empty weight frame was empty
    val docs = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val scoredEmpty = Distill.scoreGate(docs, Map.empty[Int, Double])
    assert(scoredEmpty.count() === 0L)
    assert(scoredEmpty.columns.toSeq === Seq("doc_id", "score", "predicted"))
    // and a trained map still scores every doc (the guard folds away)
    val w = Distill.trainGate(docs, lit(1L), dim = 8, iters = 1)
    assert(Distill.scoreGate(docs, w).count() === 2L)
  }
}
