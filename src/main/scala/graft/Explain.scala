package graft



/** Plan-inspection main: prints `.explain("formatted")` for the named
  * queries (or all) — the scale-review loop: check pushdown, broadcast
  * choices, and shuffle counts before trusting a plan at 100 TB. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = Env.string("SPARK_GRAFT_SF_DIR").getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    wanted.foreach { name =>
      println(s"\n===== $name =====")
      // plan-only consumer: the curation flagship's seam checkpoints
      // are deferred (lazyCheckpoints) so Explain prints the plan
      // without executing stages 1–5 (verdict r14 #7); every other
      // query constructs cheaply through the registry
      if (name == "q_flagship_curation") {
        Flagship.curationPipeline(spark, sfDir, lazyCheckpoints = true)
          .explain("formatted")
        // the flagship's SemDeDup assignment dispatches two-level only
        // past the measured n·k work budget, so the registered plan at
        // a test sf is the (correct) flat pass; print the FORCED
        // two-level twin too — output is provably identical
        // (Round12Spec), this is the 100 TB plan shape
        println(s"\n===== $name [forceTwoLevel] =====")
        Flagship.curationPipeline(spark, sfDir, forceTwoLevel = true,
          lazyCheckpoints = true).explain("formatted")
      } else SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
