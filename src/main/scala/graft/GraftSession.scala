package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: one place that knows the session configuration
  * the engine requires, so host apps (and the four driver mains) can't
  * drift apart on it.
  *
  * The non-negotiable configs and why:
  *  - `spark.sql.legacy.parquet.nanosAsLong` — upstream files may carry
  *    parquet TIMESTAMP(NANOS), which Spark only reads as raw longs;
  *    without the flag such a scan dies with PARQUET_TYPE_ILLEGAL.
  *    `Tables.normalizeTs` then folds whatever LOGICAL type the reader
  *    produced (nanos-long, TIMESTAMP_NTZ micros, TIMESTAMP) to
  *    session-zone TimestampType — the engine never assumes one
  *    physical encoding (the round-8 fixture churn lesson).
  *  - `spark.sql.session.timeZone=UTC` — every timestamp function in the
  *    engine (and every oracle) assumes UTC; a host-local zone would
  *    silently shift date_format/window boundaries.
  *  - AQE on — the skew-join and auto-broadcast behavior the operators
  *    document (and PlanSpec asserts) assume runtime re-planning.
  *  - `spark.sql.extensions=graft.GraftExtensions` — registers the
  *    codegen-native functions (`dot_f64`) without host code changes.
  *
  * Shuffle partitions default to the core count: on a laptop-sized
  * `local[n]` the 200-partition default just multiplies task overhead;
  * a real cluster deployment overrides this to ~2-3× its executor-core
  * total.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Shuffle-file deletion rides the driver's ContextCleaner, which
      // only fires when driver GC collects the shuffle handles — on a
      // large heap that can exceed Spark's 30min default periodic-GC
      // interval, during which a many-query run accumulates tens of GB
      // of dead shuffle files (a measured 74 GB across one bench rep at
      // 500k docs). 3min bounds that backlog; the forced GC itself is a
      // few ms on an idle-tenured heap.
      .config("spark.cleaner.periodicGC.interval", "3min")
      // The adaptive broadcast dispatches (Dedup.verifiedCommon's 1.5 GB
      // budget, the salted-join builds) estimate build sizes up to
      // 1.5 GB; Spark's default driver.maxResultSize (1 GiB) sits BELOW
      // that, so an explicit broadcast hint whose collect lands in the
      // 1.07–1.5 GB band would kill the whole job instead of running
      // the plan the dispatch chose. 4g keeps every fenced estimate
      // under the collect ceiling with margin.
      .config("spark.driver.maxResultSize", "4g")
      // Bucketed+sorted stages written through Bucketing.stageBucketed
      // hold exactly ONE file per bucket (repartition-before-write on
      // the bucket hash), so exposing the per-bucket sort order is
      // sound — it removes the per-join SortExec over the staged side
      // (the verify hash-set frame, the stored band index). Spark 3+
      // hides the order by default because multi-file buckets would
      // need a merge-read; the legacy rule still checks
      // one-file-per-bucket before claiming order, so multi-file
      // bucketed tables (e.g. coLocatedOrderJoin's) keep their sorts.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // r18: without the Hadoop native lib, the stock local FS FORKS a
      // process per permissioned create (`chmod`) and per FileContext
      // rename probe (`readlink`) — 24k forks in a three-query bench
      // subset; streaming micro-batch tasks parked in
      // ProcessImpl.forkAndExec at ~100 ms CPU per ~2 s wall (jstack
      // witness, r18 plans/). The fork-free adapters do the identical
      // chmod/link-status work in-JVM via NIO; HDFS/S3 deployments
      // never route through the "file" scheme, so this is local-adapter
      // plumbing, not a tuning knob. See graft.sources.FastLocalFs.
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.FastLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.sources.FastLocalFs")
      // r18: Spark 4.1 turned on checksum sidecar files for streaming
      // checkpoints (corruption detection on long-lived state). Every
      // state-store delta close then AWAITS a checksum-file future; with
      // one state store per shuffle partition × 4 stores per
      // stream-stream join, the micro-batch's tasks sat blocked ~5.5 s
      // wall at ~50 ms CPU in ChecksumCancellableFSDataOutputStream
      // .close (thread-dump witness, r18 plans/). The engine's
      // checkpoints are per-invocation scratch (fresh dir every run), so
      // integrity re-verification buys nothing here; deployments with
      // durable checkpoints can re-enable it with `.config(k, "true")`
      // on the returned builder.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // r19: RocksDB commits write a FULL snapshot (zip + upload of the
      // store directory) per store per micro-batch; changelog
      // checkpointing appends the batch's puts to a small changelog
      // instead and snapshots asynchronously in maintenance — the
      // production-recommended setting once state outgrows the trivial
      // (commit latency stops scaling with store size). Measured HERE
      // (same-boot A/B, 6-rep legs): at this bench's near-empty stores
      // it is ~5% SLOWER (the snapshot zip is cheap; the changelog adds
      // version-replay lineage the offline statestore reader must walk),
      // so the LOCAL default stays off and the driver's bench stays
      // comparable; large-state deployments enable it with
      // `.config(k, "true")` on the returned builder. Results are
      // unchanged either way — reconstruction replays changelog over the
      // last snapshot.
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** Local session sized to `cpus` threads, with as many shuffle
    * partitions — the mains' form. Host apps that need another
    * partition count or conf build through [[builder]]. */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Core count from the driver contract env, default 4. */
  def envCpus: Int = Env.positiveInt("SPARK_GRAFT_CPUS").getOrElse(4)
}
