package graft

import java.nio.file.{Files, Paths}

/** Benchmark main. Runs every registered query `SPARK_GRAFT_REPS` times
  * (default 3) and reports the per-query MEDIAN: a single run on a
  * load-variable box has ±2× per-query variance, which made earlier
  * rounds' regressions unadjudicable. Reps are rep-major (a full pass
  * over all queries per rep) so drifting box load spreads across queries
  * instead of concentrating in one query's reps.
  *
  * Output: the driver's one-line JSON on stdout (total = sum of medians)
  * plus the complete artifact — per-rep times included — at
  * target/bench.json (the driver's line capture truncates the head of
  * long lines, which cost rounds 1-3 their first ~19 queries).
  */
object Bench {
  /** The true median: for an even rep count, the mean of the two middle
    * elements (the upper middle alone biases every even-rep median
    * high). */
  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty rep vector")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Between queries: drop the cached frames so one query's persisted
    * lineage can't subsidize the next one's timing, then force a GC.
    * Shuffle FILES are deleted by the ContextCleaner only once the
    * driver collects the exchange RDDs that own them, and a barely
    * pressured bench heap can go a whole run without a collection —
    * files then pile up until disk, not any single query, is the limit
    * (a scaled-up rep once died ENOSPC under ~60 GB of earlier queries'
    * shuffle files while its own peak fit with margin). */
  private def release(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Env.string("SPARK_GRAFT_SF_DIR").getOrElse("/root/testdata/sf0.1")
    val reps = Env.positiveInt("SPARK_GRAFT_REPS").getOrElse(3)
    val spark = GraftSession.local(GraftSession.envCpus)
    // local iteration aids (the driver never sets either, so the contract
    // output is unchanged): SPARK_GRAFT_ONLY=q_a,q_b times a subset;
    // SPARK_GRAFT_SKIP=q_c,q_d excludes queries — used by the scaled-up
    // decade runs to drop the brute-force exact-twin recall gates, whose
    // all-pairs shuffle is quadratic by construction and exceeds the
    // single box's spill disk at 500k+ docs (they gate correctness, not
    // the scale path).
    val only = Env.names("SPARK_GRAFT_ONLY")
    val skip = Env.names("SPARK_GRAFT_SKIP").getOrElse(Set.empty[String])
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) && !skip(n) }
    // Streaming queries pay a first-run cost that is pure warm-up —
    // micro-batch engine classloading, state-store provider init,
    // RocksDB JNI — which made their cold reps bimodal (r6 artifact:
    // per-rep max 3-5x the median; every other family sits inside
    // ±15%). One untimed pass over the q_stream_* family pins all
    // TIMED reps to warm-path behavior; failures surface in the timed
    // reps, so they're ignored here.
    names.filter(_._1.startsWith("q_stream_")).foreach { case (name, fn) =>
      try { fn(spark, sfDir).count(); () } catch {
        // logged, not rethrown: a broken warm-up must stay visible when
        // adjudicating timed-rep variance (a half-initialized state dir
        // can skew the reps) but failures are the TIMED reps' to report
        case e: Throwable => System.err.println(
          s"[bench] warm-up of $name failed: " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      release(spark)
    }
    // name -> (per-rep seconds for successful reps, first error if any)
    val runs: Seq[(String, Seq[Double], Option[String])] = {
      val raw = (1 to reps).map { _ =>
        names.map { case (name, fn) =>
          val t0 = System.nanoTime()
          val err = try { fn(spark, sfDir).count(); None } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
          }
          val dt = (System.nanoTime() - t0) / 1e9
          release(spark)
          (name, dt, err)
        }
      }
      names.map { case (name, _) =>
        val mine = raw.map(_.find(_._1 == name).get)
        (name, mine.collect { case (_, dt, None) => dt },
          mine.collectFirst { case (_, _, Some(m)) => m })
      }
    }
    // a broken query must never subsidize the total: no successful rep →
    // null in `queries` plus an entry in `errors`
    val qs = runs.map { case (k, ts, _) =>
      Verify.jsonString(k) + ":" + (if (ts.nonEmpty) median(ts).toString else "null")
    }.mkString("{", ",", "}")
    val errs = runs.collect { case (k, _, Some(m)) =>
      Verify.jsonString(k) + ":" + Verify.jsonString(m)
    }.mkString("{", ",", "}")
    val total = runs.collect { case (_, ts, _) if ts.nonEmpty => median(ts) }.sum
    val nErrors = runs.count { case (_, ts, _) => ts.isEmpty }
    // full_artifact points the driver's (line-truncating) capture at the
    // complete on-disk copy, so the round artifact is self-contained
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
      s""""queries":$qs,"errors":$errs,"n_errors":$nErrors,"sf":"$sfDir",""" +
      s""""full_artifact":"target/bench.json"}"""
    // complete artifact, immune to line truncation: medians + every rep
    val perRep = runs.map { case (k, ts, _) =>
      Verify.jsonString(k) + ":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench.json"),
      line.dropRight(1) + s""","per_rep":$perRep}""")
    println(line)
    // compact summary printed LAST: the round snapshot keeps a truncated
    // TAIL of the output, which in r1-r7 lost the headline totals at the
    // head of the long line — the final line always survives intact
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
      s""""n_queries":${names.size},"n_errors":$nErrors,"sf":"$sfDir",""" +
      s""""summary_of":"full line above","full_artifact":"target/bench.json"}""")
    spark.stop()
  }
}
