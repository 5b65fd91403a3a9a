package pipebench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Local properties that tag every Spark job with the pipeline run and the
  * innermost open span that submitted it.
  */
object Tags {
  val Run = "pipebench.run"
  val Span = "pipebench.span"
}

/** One timed call into a layer of the program. `parent` is -1 at the root. */
final case class Span(id: Int, name: String, run: Int, parent: Int,
    startNs: Long, var endNs: Long = 0L)

/** Records spans in memory; they are written out with the run record.
  * A disabled tracer runs the body untimed and records nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var run = -1

  def beginRun(id: Int): Unit = {
    run = id
    sc.setLocalProperty(Tags.Run, id.toString)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, run, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tags.Span, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tags.Span, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

/** Spark task counters, attributed to (run, span) through the job's local
  * properties. Callbacks arrive on the listener-bus thread; readers drain
  * the bus first (see [[org.apache.spark.PipebenchBus]]).
  */
final class ExecListener extends SparkListener {
  private final case class Tag(run: Int, span: Int)
  private final case class Task(tag: Tag, stage: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, shufWrite: Long, shufRead: Long, fetchWaitMs: Long,
      spill: Long, failed: Boolean)
  private final case class Job(tag: Tag, stages: Seq[Int])
  private final case class StageDone(tag: Tag, stage: Int, durationMs: Long)

  private val stageTag = mutable.Map.empty[Int, Tag]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stagesDone = mutable.ArrayBuffer.empty[StageDone]
  private val blocks = mutable.Map.empty[String, Long]
  private var stored = 0L
  private var storedPeak = 0L

  private def intProp(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Tag(intProp(e.properties, Tags.Run), intProp(e.properties, Tags.Span))
    val ids = e.stageInfos.map(_.stageId)
    ids.foreach(id => stageTag.getOrElseUpdate(id, tag))
    jobs += Job(tag, ids)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val tag = stageTag.getOrElse(i.stageId, Tag(-1, -1))
    val d = for (a <- i.submissionTime; b <- i.completionTime) yield b - a
    stagesDone += StageDone(tag, i.stageId, d.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val tag = stageTag.getOrElse(e.stageId, Tag(-1, -1))
    val failed = !e.taskInfo.successful
    if (m == null) tasks += Task(tag, e.stageId, 0, 0, 0, 0, 0, 0, 0, failed)
    else tasks += Task(tag, e.stageId, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, failed)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      stored += now - blocks.getOrElse(b.blockId.name, 0L)
      if (now == 0L) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = now
      storedPeak = math.max(storedPeak, stored)
    }
  }

  /** Restart the cached-block high-water mark from what is stored now. */
  def resetStoragePeak(): Unit = synchronized { storedPeak = stored }
  def storagePeakBytes: Long = synchronized(storedPeak)

  /** Counters of the jobs tagged with `run` (and `span`, when given). */
  def counters(run: Int, span: Option[Int], wallS: Double, cpus: Int): Map[String, Double] =
    synchronized {
      def mine(t: Tag) = t.run == run && span.forall(_ == t.span)
      val js = jobs.filter(j => mine(j.tag))
      val ts = tasks.filter(t => mine(t.tag))
      val done = stagesDone.filter(s => mine(s.tag))
      val planned = js.flatMap(_.stages).distinct
      val ran = done.map(_.stage).distinct
      val taskS = ts.map(_.runMs).sum / 1e3
      val skew = if (done.isEmpty) 1.0 else {
        val longest = done.maxBy(_.durationMs).stage
        val times = ts.filter(_.stage == longest).map(_.runMs.toDouble).sorted
        if (times.isEmpty) 1.0
        else times.last / math.max(times(times.size / 2), 1.0)
      }
      val mb = 1024.0 * 1024.0
      Map(
        "jobs" -> js.size.toDouble,
        "stages" -> done.size.toDouble,
        "tasks" -> ts.size.toDouble,
        "task_s" -> taskS,
        "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "gc_s" -> ts.map(_.gcMs).sum / 1e3,
        "shuffle_write_mb" -> ts.map(_.shufWrite).sum / mb,
        "shuffle_read_mb" -> ts.map(_.shufRead).sum / mb,
        "fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
        "spill_mb" -> ts.map(_.spill).sum / mb,
        "busy_share" -> (if (wallS > 0) taskS / (wallS * cpus) else 0.0),
        "skew_ratio" -> skew,
        "skipped_stage_share" ->
          (if (planned.isEmpty) 0.0 else planned.count(s => !ran.contains(s)).toDouble / planned.size),
        "failed_tasks" -> ts.count(_.failed).toDouble)
    }
}

/** Live heap after a full collection, taken at the end of each run while the
  * run's caches are still held; the peak is the largest such reading.
  */
object HeapMonitor {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  def liveHeapBytes(): Long = {
    System.gc()
    heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }
}
