package graft.text

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal

/** Gate distillation: train a linear (logistic-regression) scorer to
  * mimic an expensive boolean quality gate, then score every document
  * with one dot product — the fastText-style quality-classifier
  * pattern (CCNet, LLaMA data pipeline): the teacher gate runs complex
  * per-doc analysis; the student is a hashed-bag-of-words linear model
  * cheap enough to score 100 TB.
  *
  * Fully deterministic dataflow so the oracle can walk the IDENTICAL
  * trajectory (the [[graft.similarity.Kmeans]] / PageRank discipline):
  * fixed iteration count, md5-derived feature buckets, per-term 8 dp
  * rounding with DECIMAL(20,8) sums (partial-aggregation-order-exact),
  * sigmoid rounded to 6 dp before it feeds anything downstream (also
  * absorbs last-ulp exp() differences between engines), weights
  * rounded to 8 dp per step.
  *
  * Scale shape: features are (doc, bucket) rows — one explode + one
  * groupBy, the same volume as hashingTf — cached hash-partitioned by
  * doc_id with the label folded in; each GD iteration is then ONE
  * plain aggregate job over the cached rows: per partition, each doc's
  * score and residual, then per-bucket gradient partials, merged into
  * ≤ dim+5 sums on the driver — corpus-linear, no
  * shuffle, no per-round query planning, no driver-side data loops
  * (the loop is over the FIXED iteration count). Scoring is a
  * DataFrame: the weights ride the plan as one map literal.
  *
  * Train and score are SEPARATE entry points ([[trainGate]] /
  * [[scoreGate]]) because that is the production shape: the teacher
  * gate runs on a bounded labeled sample, the learned ≤ dim+5-double
  * weight vector ships to the driver, and scoring the remaining
  * 100 TB is one map-literal lookup + one per-doc sum per document —
  * no iteration touches the full corpus. [[distillGate]] composes
  * the two over one input for the oracle-gated registered query.
  */
object Distill {

  /** Features (the fastText-quality shape — a hashed token bag PLUS a
    * handful of cheap one-pass scalar metrics; tf-weighted bags alone
    * measured inseparable on the gate, all-majority at any lr):
    * buckets 0..dim-1 hold unigram PRESENCE (1.0 if any token of the
    * doc hashes there — presence beats tf here because a stopword's
    * signal is its existence, not its share), and reserved negative
    * buckets hold: -1 bias, -2 log-length ln(1+wc)/10, -3 distinct
    * ratio, -4 top-token fraction, -5 stopword fraction. All are
    * single-pass per-doc scalars — the student stays one cheap dot
    * product per document at scoring time. Output: (doc_id, b, x). */
  private def rawFeatures(docs: DataFrame, dim: Int): DataFrame = {
    val tk = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens).as("tok"))
    val unigram = tk
      .select(col("doc_id"),
        pmod(graft.functions.Scalars.md5Long60(col("tok")), lit(dim.toLong))
          .cast("int").as("b"))
      .distinct()
      .withColumn("x", lit(1.0))
    val t = TextAnalysis.tokens
    val wc = size(t).cast("long")
    val metrics = docs.select(col("doc_id"), array(
        struct(lit(-1).as("b"), lit(1.0).as("x")),
        struct(lit(-2).as("b"),
          round(log(lit(1.0) + wc.cast("double")) / 10, 6).as("x")),
        struct(lit(-3).as("b"), round(size(array_distinct(t)).cast("double")
          / wc.cast("double"), 6).as("x")),
        struct(lit(-4).as("b"),
          round(TextAnalysis.topTokenFrac(t).cast("double"), 6).as("x")),
        struct(lit(-5).as("b"),
          round(TextAnalysis.stopHits(t, TextAnalysis.enStops).cast("double")
            / wc.cast("double"), 6).as("x"))).as("m"))
      .select(col("doc_id"), explode(col("m")).as("f"))
      .select(col("doc_id"), col("f.b").as("b"), col("f.x").as("x"))
    unigram.unionByName(metrics)
  }

  /** The label rides every feature row (ONE corpus join at build time
    * instead of one per GD round), and the frame is hash-partitioned
    * by doc_id ONCE before caching: every doc's rows sit in one
    * partition, so a GD round scores docs and sums gradient partials
    * partition-locally and never shuffles. (The round-12
    * shape re-shuffled feats by doc_id twice per round plus re-counted
    * the corpus inside every gradient job: 18.0 s at sf0.1, 7.1% of
    * the whole bench, all job floor.)
    *
    * Partition count is SIZE-ADAPTIVE (r18, guide §2.2/§2.4): the GD
    * loop launches 1 pass over this cache per round × `iters`
    * rounds, so its partition count is a per-round task-floor
    * multiplier — at bench scale the session default (one partition
    * per core) put 64 near-empty tasks in every round's critical path
    * (measured 0.48 → 0.22 s/round at sf0.1 after sizing, r18 plans/).
    * ~50k docs per partition ≈ 1.5M feature rows ≈ 50 MB, inside the
    * guide's 100 MB–1 GB band for a cached working set this hot; the
    * session shuffle-partition knob stays the ceiling so a cluster
    * deployment (which overrides it to 2-3× its core total) keeps its
    * parallelism. Partitioning cannot perturb results: every per-row
    * term is rounded to 8 dp and summed as DECIMAL(20,8), so the
    * reduction is order-exact (object scaladoc). */
  private[text] def labeledFeatures(docs: DataFrame, label: Column,
      dim: Int, ndocs: Long): DataFrame = {
    val ceilParts =
      docs.sparkSession.sessionState.conf.numShufflePartitions
    val parts = math.max(1L, math.min(ceilParts.toLong,
      (ndocs + 49999L) / 50000L)).toInt
    graft.CacheScope.persist(
      rawFeatures(docs, dim)
        .join(docs.select(col("doc_id"), label.cast("long").as("y")),
          "doc_id")
        .repartition(parts, col("doc_id")))
  }

  private val sigmoid = round(lit(1.0) / (lit(1.0) + exp(-col("s"))), 6)

  /** The weight vector as a MAP LITERAL column, `w(b) = element_at(m, b)`
    * — replacing a broadcast-joined local frame (r18): the ≤ dim+5-entry
    * map rides the plan as one literal reference, so scoring is a
    * map-only projection with no broadcast build. Value-identical:
    * every feature bucket trained on is a key of `m` (round 1 of
    * [[gdTrain]] seeds the weight map from every bucket the frame
    * holds), and at scoring time an unigram
    * bucket the sample never produced hits no key → element_at yields
    * NULL → the per-term product is NULL → sum() skips it, exactly as
    * the old inner join dropped that row; every doc still appears
    * because the bias bucket (-1) is always trained.
    *
    * An EMPTY weight map (an empty training corpus seeds zero buckets)
    * cannot build a map literal; the consumers short-circuit it to a
    * typed empty result instead — exactly what the pre-r18 inner join
    * against an empty weight frame produced (r19, ADVICE: the r18 form
    * threw IllegalArgumentException on that input). */
  private def wCol(m: Map[Int, Double]): Column =
    if (m.isEmpty) lit(null).cast("double") else element_at(typedLit(m), col("b"))

  /** Empty-weight-map guard: `lit(false)` prunes the frame to a typed
    * empty relation at optimization time (the pre-r18 empty-join
    * behavior); for a trained map it folds to `true` and vanishes. */
  private def nonEmptyW(m: Map[Int, Double]): Column = lit(m.nonEmpty)

  /** scores AND residual input in one aggregation pass over a LABELED
    * feature frame: y is constant per doc, so max() re-emits it
    * without a second join against the label frame. */
  private[text] def scored(feats: DataFrame, w: Map[Int, Double]): DataFrame =
    feats
      .where(nonEmptyW(w))
      .select(col("doc_id"), col("y"),
        round(col("x") * wCol(w), 8).cast("decimal(20,8)").as("t"))
      .groupBy(col("doc_id"))
      .agg(sum(col("t")).cast("double").as("s"), max(col("y")).as("y"))

  /** `iters` batch-GD rounds over a persisted labeled feature frame;
    * model state lives on the DRIVER — the MLlib topology: the data
    * stays distributed, the ≤ dim+5-double weight vector ships in each
    * round's task closure, and each round is ONE plain aggregate job
    * over the cache's rows ([[roundGrads]]). The RDD is taken once
    * before the loop, so no round pays Catalyst analysis, optimization,
    * AQE planning or codegen. The cache's hash(doc_id) partitioning
    * puts every doc's rows in one partition, and the per-partition
    * partials (≤ dim+5 decimals each) merge on the driver without a
    * tree level, so no round shuffles at any partition count. Round 1
    * (all weights 0.0) also returns the set of buckets it saw, which
    * seeds the weight map without a separate distinct-bucket job; an
    * empty frame sees none and trains the empty map. */
  private[text] def gdTrain(feats: DataFrame, ndocs: Double, iters: Int,
      lr: Double): Map[Int, Double] = {
    val rows = feats.rdd
    val cols = Seq("doc_id", "b", "x", "y").map(feats.schema.fieldIndex)
    var wMap = Map.empty[Int, Double]
    for (i <- 1 to iters) {
      val w = if (i == 1) None else Some(wMap)
      val grads = rows
        .mapPartitions(it => Iterator(roundGrads(it, cols, w)))
        .aggregate(mutable.HashMap.empty[Int, Decimal])(mergeGrads, mergeGrads)
      if (i == 1) wMap = grads.keys.map(_ -> 0.0).toMap
      wMap = wMap.map { case (b, v) =>
        val g = grads.get(b).flatMap(Option(_))
          .fold(0.0)(d => round8(d.toDouble / ndocs))
        b -> round8(v - lr * g) }
    }
    wMap
  }

  /** Spark's `round(v, 8)` on a double (HALF_UP on the decimal string;
    * NaN and ±Inf pass through). */
  private def round8(v: Double): Double = roundHalfUp(v, 8)

  private def roundHalfUp(v: Double, scale: Int): Double =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  /** Spark's `CAST(v AS DECIMAL(20,8))` under ANSI: overflow throws. */
  private def dec20(v: Double): Decimal = {
    val d = Decimal(v)
    if (!d.changePrecision(20, 8))
      throw new ArithmeticException(s"$v overflows DECIMAL(20,8)")
    d
  }

  /** One GD round over one partition of the labeled feature frame, the
    * exact arithmetic of the DataFrame form the oracle unrolls:
    *   s_doc = Σ CAST(round(x·w(b), 8) AS DECIMAL(20,8)) → double,
    *   r_doc = round(1 / (1 + exp(-s_doc)), 6) − max(y),
    *   g_b   = Σ CAST(round(x·r_doc, 8) AS DECIMAL(20,8)),
    * every NULL (x, a bucket with no weight, y, a doc with no non-NULL
    * term) skipped as SQL sum() skips it. Returns every bucket seen,
    * mapped to its partial gradient sum, or null when all of its terms
    * were NULL. `w = None` is round 1: every bucket weighs 0.0.
    *
    * A doc's rows are not contiguous in the partition, so the rows with
    * a non-NULL x are buffered once. Presence rows (x == 1.0) make up
    * most of the frame, and for them round(x·w, 8) and round(x·r, 8)
    * depend only on the bucket and the doc: those Decimals are built
    * once per bucket and once per doc instead of once per row. */
  private def roundGrads(rows: Iterator[Row], cols: Seq[Int],
      w: Option[Map[Int, Double]]): mutable.HashMap[Int, Decimal] = {
    val Seq(di, bi, xi, yi) = cols
    val weight: Int => Option[Double] = w.fold((_: Int) => Option(0.0))(m => m.get)
    val oneTerm = mutable.HashMap.empty[Int, Decimal]
    def term(b: Int, x: Double): Decimal = weight(b) match {
      case None => null
      case Some(wb) =>
        if (x == 1.0) oneTerm.getOrElseUpdate(b, dec20(round8(1.0 * wb)))
        else dec20(round8(x * wb))
    }
    val grads = mutable.HashMap.empty[Int, Decimal]
    val docIdx = new java.util.HashMap[Any, Integer]
    val sums = mutable.ArrayBuffer.empty[Decimal]
    val ys = mutable.ArrayBuffer.empty[java.lang.Long]
    val rowDoc = mutable.ArrayBuilder.make[Int]
    val rowB = mutable.ArrayBuilder.make[Int]
    val rowX = mutable.ArrayBuilder.make[Double]
    rows.foreach { row =>
      val b = row.getInt(bi)
      if (!grads.contains(b)) grads(b) = null
      // a null doc_id never matches the gradient join: seen, not trained
      if (!row.isNullAt(di)) {
        var d: Integer = docIdx.get(row.get(di))
        if (d == null) {
          d = sums.length
          docIdx.put(row.get(di), d)
          sums += null
          ys += null
        }
        if (!row.isNullAt(yi)) {
          val y = row.getLong(yi)
          if (ys(d) == null || ys(d) < y) ys(d) = y
        }
        // a NULL x adds no score term and no gradient term
        if (!row.isNullAt(xi)) {
          val x = row.getDouble(xi)
          val t = term(b, x)
          if (t != null) sums(d) = if (sums(d) == null) t else sums(d) + t
          rowDoc += d; rowB += b; rowX += x
        }
      }
    }
    val resid = sums.indices.map { d =>
      if (sums(d) == null || ys(d) == null) None
      else Some(roundHalfUp(1.0 / (1.0 + StrictMath.exp(-sums(d).toDouble)), 6)
        - ys(d).toDouble)
    }
    val residOne = resid.map(_.map(r => dec20(round8(1.0 * r))).orNull)
    val (doc, bs, xs) = (rowDoc.result(), rowB.result(), rowX.result())
    for (i <- doc.indices; r <- resid(doc(i))) {
      val g = if (xs(i) == 1.0) residOne(doc(i)) else dec20(round8(xs(i) * r))
      val p = grads(bs(i))
      grads(bs(i)) = if (p == null) g else p + g
    }
    grads
  }

  /** Merge partial gradient maps: a bucket's sums add; null (all terms
    * NULL so far) is sum()'s identity. */
  private def mergeGrads(a: mutable.HashMap[Int, Decimal],
      c: mutable.HashMap[Int, Decimal]): mutable.HashMap[Int, Decimal] = {
    c.foreach { case (b, g) =>
      a.get(b) match {
        case Some(p) if p != null => if (g != null) a(b) = p + g
        case _ => a(b) = g
      }
    }
    a
  }

  /** Train the student on `docs` (the bounded teacher-labeled sample)
    * and return the learned weight vector — a fenced ≤ dim+5-entry
    * driver map, the only thing that ships to the scoring pass. */
  def trainGate(docs: DataFrame, label: Column, dim: Int = 64,
      iters: Int = 3, lr: Double = 1.0): Map[Int, Double] = {
    require(dim > 0 && iters > 0 && lr > 0, "trainGate needs dim, iters, lr > 0")
    val ndocs = docs.count()
    gdTrain(labeledFeatures(docs, label, dim, ndocs), ndocs.toDouble,
      iters, lr)
  }

  /** Score `docs` with a trained weight vector: one map-literal lookup
    * + one per-doc sum — the 100 TB pass. Output (doc_id, score,
    * predicted); the identical rounding discipline as training, so a
    * doc scored here equals the same doc scored inside
    * [[distillGate]]. */
  def scoreGate(docs: DataFrame, w: Map[Int, Double],
      dim: Int = 64): DataFrame =
    rawFeatures(docs, dim)
      .where(nonEmptyW(w))
      .select(col("doc_id"),
        round(col("x") * wCol(w), 8).cast("decimal(20,8)").as("t"))
      .groupBy(col("doc_id"))
      .agg(sum(col("t")).cast("double").as("s"))
      .select(col("doc_id"), sigmoid.as("score"),
        when(sigmoid >= 0.5, 1L).otherwise(0L).as("predicted"))

  /** Train `iters` batch-GD rounds against `label` over `docs`, then
    * emit per doc: (doc_id, label, score, predicted, correct). `lr` is
    * the learning rate on the MEAN gradient. Train + score over the
    * same input — the oracle-gated registered form. */
  def distillGate(docs: DataFrame, label: Column, dim: Int = 64,
      iters: Int = 3, lr: Double = 1.0): DataFrame = {
    require(dim > 0 && iters > 0 && lr > 0, "distillGate needs dim, iters, lr > 0")
    // corpus size as a fenced driver scalar, computed ONCE — the
    // crossJoin(broadcast(one-row-agg)) form re-counted the corpus
    // inside every round's gradient job
    val ndocs = docs.count()
    val feats = labeledFeatures(docs, label, dim, ndocs)
    val wMap = gdTrain(feats, ndocs.toDouble, iters, lr)
    scored(feats, wMap)
      .select(col("doc_id"), col("y").as("label"), sigmoid.as("score"),
        when(sigmoid >= 0.5, 1L).otherwise(0L).as("predicted"))
      .withColumn("correct",
        when(col("predicted") === col("label"), 1L).otherwise(0L))
  }
}
