package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Listener that accumulates job, stage and task counters, and keeps
  * every completed stage's [submission, completion] interval so the
  * driver gap (wall time no stage covers) of any window can be read.
  * It also follows the memory that stored RDD blocks (the program's
  * checkpoints and caches) take, and its peak. Spark posts no update for
  * the removal of broadcast pieces and task results, so those are left
  * out. */
final class SparkProbe(sc: SparkContext, cores: Int) extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var taskRunMs, taskCpuNs, gcMs = 0L
  private var shuffleWrite, shuffleRead, spill = 0L
  private val intervals = ArrayBuffer[(Long, Long)]()
  private val storage = new BlockMemory

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) intervals += ((a, b))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    i.blockId.asRDDId.foreach(b => storage.update(i.blockManagerId.toString, b, i.memSize))
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized(storage.unpersist(e.rddId))

  /** Start a new storage peak from the memory stored now. */
  def resetStoragePeak(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(storage.resetPeak())
  }

  /** Highest memory held by stored RDD blocks since [[resetStoragePeak]], MB. */
  def storagePeakMb(): Double = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(storage.peak / 1e6)
  }

  /** Cumulative counters, after every event posted so far is delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      Map(
        "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
        "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
        "gc_s" -> gcMs / 1e3, "shuffle_write_mb" -> shuffleWrite / 1e6,
        "shuffle_read_mb" -> shuffleRead / 1e6, "spill_mb" -> spill / 1e6)
    }
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one stage. */
  def stageCoverMs(fromMs: Long, toMs: Long): Long = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val clipped = synchronized(intervals.toList)
    toMs - fromMs - Tracer.selfTime(fromMs, toMs, clipped)
  }

  /** The `spark.*` layer metrics of a window that began at `before`
    * (a [[snapshot]]) and wall-clock `fromMs`. */
  def window(before: Map[String, Double], fromMs: Long): Map[String, Double] = {
    val toMs = System.currentTimeMillis()
    val after = snapshot()
    val wallS = (toMs - fromMs) / 1e3
    val d = after.map { case (k, v) => k -> (v - before(k)) }
    val gap = wallS - stageCoverMs(fromMs, toMs) / 1e3
    (d ++ Map(
      "driver_gap_s" -> gap,
      "core_util" -> (if (wallS > 0) d("task_run_s") / (wallS * cores) else 0.0)))
      .map { case (k, v) => s"spark.$k" -> v }
  }
}

/** Memory held by stored RDD blocks, from block updates (a block's
  * in-memory size, 0 once it left memory) and unpersists, which drop an
  * RDD's blocks without an update each. */
final class BlockMemory {
  private val sizes = scala.collection.mutable.HashMap[(String, RDDBlockId), Long]()
  private var now, high = 0L

  def update(manager: String, block: RDDBlockId, memSize: Long): Unit = {
    val key = (manager, block)
    now += memSize - sizes.getOrElse(key, 0L)
    if (memSize > 0) sizes(key) = memSize else sizes.remove(key)
    high = math.max(high, now)
  }

  def unpersist(rddId: Int): Unit =
    sizes.keys.filter(_._2.rddId == rddId).toList.foreach(k => now -= sizes.remove(k).getOrElse(0L))

  def current: Long = now

  /** Highest [[current]] since the last [[resetPeak]]. */
  def peak: Long = high

  def resetPeak(): Unit = high = now
}
