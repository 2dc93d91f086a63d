package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Local-property keys the driver sets around each call into the engine;
  * every job carries the values current on the thread that launched it
  * (threads the engine forks inherit them), which is how the traced run
  * attributes a job, its stages and tasks to one step and one phase. */
object Tags {
  val Step = "graftbench.step"
  val Phase = "graftbench.phase"
}

/** Peak bytes held by cached RDD blocks, memory plus disk, from the block
  * manager's update events. Attached in every run: it is the source of the
  * end-to-end `peak_cache_mb`. */
final class CacheTracker extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var total = 0L
  private var base = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      total += now - sizes.getOrElse(key, 0L)
      if (now == 0L) sizes.remove(key) else sizes(key) = now
      peak = math.max(peak, total)
    }
  }

  /** Start a new window; its peak counts bytes cached beyond those cached now. */
  def resetPeak(): Unit = synchronized { base = total; peak = total }
  def peakBytes: Long = synchronized(peak - base)
}

/** Scheduler-side counters of the traced pass, keyed `<phase>.<counter>`
  * and `step.<query>.jobs`. Phases are `construct` (jobs the engine runs
  * while building a frame), `plan` and `exec` (the timed action). */
final class JobTracer extends SparkListener {
  private val counters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val stageTag = mutable.HashMap.empty[Int, (String, String)]

  private def add(key: String, v: Double): Unit = counters(key) += v
  private def max(key: String, v: Double): Unit =
    counters(key) = math.max(counters(key), v)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("none")
    val tag = (prop(Tags.Step), prop(Tags.Phase))
    e.stageIds.foreach(stageTag(_) = tag)
    add(s"${tag._2}.jobs", 1)
    add(s"step.${tag._1}.jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val phase = stageTag.get(info.stageId).fold("none")(_._2)
    add(s"$phase.stages", 1)
    if (info.numTasks == 1) add(s"$phase.single_task_stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val phase = stageTag.get(e.stageId).fold("none")(_._2)
    add(s"$phase.tasks", 1)
    add(s"$phase.task_s", e.taskInfo.duration / 1e3)
    if (e.reason != Success) add(s"$phase.failed_tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add(s"$phase.cpu_s", m.executorCpuTime / 1e9)
      add(s"$phase.gc_s", m.jvmGCTime / 1e3)
      add(s"$phase.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add(s"$phase.spill_mb", m.diskBytesSpilled / 1e6)
      max(s"$phase.peak_task_mem_mb", m.peakExecutionMemory / 1e6)
      add("sources.input_mb", m.inputMetrics.bytesRead / 1e6)
      add("sources.output_mb", m.outputMetrics.bytesWritten / 1e6)
    }
  }

  def snapshot: Map[String, Double] = synchronized(counters.toMap)
}

/** Micro-batch progress of every streaming query the traced pass runs. */
final class StreamTracer extends StreamingQueryListener {
  import StreamingQueryListener._
  private val counters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val stateRows = mutable.HashMap.empty[java.util.UUID, Long]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def ms(k: String): Double = Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue) / 1e3
    counters("streaming.batches") += 1
    counters("streaming.trigger_s") += ms("triggerExecution")
    counters("streaming.add_batch_s") += ms("addBatch")
    counters("streaming.wal_commit_s") += ms("walCommit") + ms("commitOffsets")
    counters("streaming.state_commit_s") +=
      p.stateOperators.map(_.commitTimeMs).sum / 1e3
    stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
  }

  def snapshot: Map[String, Double] = synchronized {
    counters.toMap + ("streaming.state_rows" -> stateRows.values.sum.toDouble)
  }
}
