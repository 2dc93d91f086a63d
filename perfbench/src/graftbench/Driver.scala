package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{CacheScope, GraftSession, SparkEntry}
import graft.sources.Stage

/** One benchmark run in one JVM: start a session, warm up with untimed
  * passes of the workload's steps, one per warm-up directory, then time
  * passes over the main input: at least `--min-passes` of them and more
  * until the run's seconds are used or, when traced, a traced pass between
  * two untraced ones. Every pass reads its own copy of its input, so
  * per-input memos in the engine are built in every pass.
  *
  * A step is one registered query, timed from outside in three calls:
  * construction (`fn(spark, dir)`), planning (`executedPlan` of the action's
  * query) and execution (a `noop` write, which consumes every column, with
  * an `Observation` that counts the rows). Each step runs inside
  * `CacheScope.scoped`, so the caches and staged files it registers are
  * released before the next step.
  *
  *   Driver --steps q_a,q_b --warm DIR1,DIR2 --main DIR3,DIR4,DIR5
  *          --seconds 20 --min-passes 3 --trace 0 --cpus 4 --out result.json
  *
  * Writes one JSON document to `--out`; the Python front end checks the
  * row counts and derives the metrics.
  */
object Driver {
  final case class Step(name: String, constructS: Double, planS: Double,
      execS: Double, rows: Option[Long], error: Option[String])
  final case class Pass(dir: String, traced: Boolean, wallS: Double,
      peakCacheMb: Double, steps: Seq[Step])

  type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opt("steps").split(",").toSeq
    val warms = opt("warm").split(",").toSeq
    val mains = opt("main").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val minPasses = opt("min-passes").toInt
    val traced = opt("trace") == "1"

    // the engine's staging root, and which of its directories predate
    // this run, so the front end can measure and remove what the run left
    val stageRoot = Paths.get(Stage.forInput("q", "d")).getParent.getParent
    val stageExisted = (Option(stageRoot.toFile.listFiles).fold(Seq.empty[java.io.File])(_.toSeq)
      .map(_.toPath) ++ Iterator.iterate(stageRoot)(_.getParent).takeWhile(_ != null))
      .filter(Files.exists(_)).map(_.toString)

    val t0 = System.nanoTime()
    val spark = GraftSession.local(opt("cpus").toInt)
    val sessionS = secs(t0)
    val sc = spark.sparkContext
    val registry = SparkEntry.queries
    val steps = names.map(n => n -> registry.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))
    val cache = new CacheTracker
    sc.addSparkListener(cache)

    def pass(dir: String, isTraced: Boolean): Pass = {
      // what earlier passes left cached (frames outside any CacheScope,
      // unreferenced checkpoints) must not weigh on this one
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      ListenerBus.drain(sc)
      cache.resetPeak()
      val t = System.nanoTime()
      val done = steps.map { case (n, fn) => step(spark, n, fn, dir) }
      val wall = secs(t)
      ListenerBus.drain(sc)
      Pass(dir, isTraced, wall, cache.peakBytes / 1e6, done)
    }

    // the first pass in a JVM is cold; the second still runs slower than
    // later ones while the JIT compiles, so both are set-up
    val warmup = warms.map(pass(_, isTraced = false))
    val setupS = secs(t0)

    val passes = mutable.ArrayBuffer.empty[Pass]
    var trace = Map.empty[String, Double]
    if (traced) {
      // untraced passes on both sides of the traced one, so the tracing
      // overhead is not confused with the drift of a warming JVM
      passes += pass(mains(0), isTraced = false)
      val jobs = new JobTracer
      val streams = new StreamTracer
      sc.addSparkListener(jobs)
      spark.streams.addListener(streams)
      passes += pass(mains(1), isTraced = true)
      sc.removeSparkListener(jobs)
      spark.streams.removeListener(streams)
      trace = jobs.snapshot ++ streams.snapshot
      passes += pass(mains(2), isTraced = false)
    } else {
      val start = System.nanoTime()
      while (passes.size < minPasses || (passes.size < mains.size && secs(start) < seconds))
        passes += pass(mains(passes.size), isTraced = false)
    }

    val oracle = SparkEntry.oracleSql
    val doc = Map(
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "warmup" -> warmup.map(passJson),
      "passes" -> passes.map(passJson).toSeq,
      "trace" -> trace,
      "stage_root" -> stageRoot.toString,
      "stage_existed" -> stageExisted,
      "oracle" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "env" -> Map(
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "cpus" -> opt("cpus").toInt,
        "pid" -> ProcessHandle.current().pid()))
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(doc))
    spark.stop()
  }

  private def step(spark: SparkSession, name: String, fn: Query, dir: String): Step = {
    val sc = spark.sparkContext
    var (c, p, e) = (0.0, 0.0, 0.0)
    sc.setLocalProperty(Tags.Step, name)
    try CacheScope.scoped {
      sc.setLocalProperty(Tags.Phase, "construct")
      var t = System.nanoTime()
      val df = fn(spark, dir)
      c = secs(t)

      sc.setLocalProperty(Tags.Phase, "plan")
      t = System.nanoTime()
      val rows = Observation()
      val observed = df.observe(rows, count(lit(1)).as("rows"))
      observed.queryExecution.executedPlan
      p = secs(t)

      sc.setLocalProperty(Tags.Phase, "exec")
      t = System.nanoTime()
      observed.write.format("noop").mode("overwrite").save()
      val n = rows.get("rows").asInstanceOf[Long]
      e = secs(t)
      Step(name, c, p, e, Some(n), None)
    } catch {
      case NonFatal(ex) =>
        System.err.println(s"[graftbench] $name on $dir failed: $ex")
        Step(name, c, p, e, None, Some(s"${ex.getClass.getSimpleName}: ${ex.getMessage}"))
    } finally {
      sc.setLocalProperty(Tags.Phase, null)
      sc.setLocalProperty(Tags.Step, null)
    }
  }

  private def passJson(p: Pass): Map[String, Any] = Map(
    "dir" -> p.dir, "traced" -> p.traced, "wall_s" -> p.wallS,
    "peak_cache_mb" -> p.peakCacheMb,
    "steps" -> p.steps.map(s => Map(
      "name" -> s.name, "construct_s" -> s.constructS, "plan_s" -> s.planS,
      "exec_s" -> s.execS, "rows" -> s.rows, "error" -> s.error)))
}
