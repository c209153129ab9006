package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark execution counters keyed by (job group, phase). The benchmark
  * sets the job group to the request (or batch) id and the
  * [[Tracer.PhaseProp]] local property to the phase that submits the job,
  * so every job, stage and task is charged to the request and the phase
  * that caused it.
  */
final class ExecCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def +=(o: ExecCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** One job's start and end (epoch ms, as the scheduler stamps them) and,
  * per stage, the sum and the longest of its tasks' run times.
  */
final case class JobTiming(phase: String, startMs: Long, endMs: Long, stages: Seq[(Long, Long)]) {
  def wallMs: Double = (endMs - startMs).toDouble

  /** Shortest time the job's tasks could take on `cores` cores, stage
    * after stage: no less than the longest task, nor than the stage's
    * task time spread over every core.
    */
  def computeMs(cores: Int): Double =
    stages.map { case (sum, max) => math.max(max.toDouble, sum.toDouble / cores) }.sum

  /** Wall time not spent running tasks: scheduling, serialization, stage
    * hand-offs, result handling.
    */
  def overheadMs(cores: Int): Double = wallMs - computeMs(cores)
}

object JobTiming {
  /** Time covered by at least one of the jobs (jobs may overlap). */
  def coveredMs(jobs: Seq[JobTiming]): Double = {
    var covered, reach = 0L
    jobs.sortBy(_.startMs).foreach { j =>
      val from = math.max(j.startMs, reach)
      if (j.endMs > from) { covered += j.endMs - from; reach = j.endMs }
    }
    covered.toDouble
  }
}

/** Remembers which jobs ended, so [[Tracer.flush]] can wait for one. */
abstract class FlushableListener extends SparkListener {
  private val ended = mutable.HashSet.empty[Int]
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += e.jobId }
  def sawJobEnd(jobId: Int): Boolean = synchronized { ended(jobId) }
}

final class ExecListener extends FlushableListener {
  private val counters = mutable.HashMap.empty[(String, String), ExecCounters]
  private val stageKey = mutable.HashMap.empty[Int, (String, String)]
  private val stageTasks = mutable.HashMap.empty[Int, (Long, Long)]
  private val running = mutable.HashMap.empty[Int, (Long, Seq[Int], (String, String))]
  private val timings = mutable.HashMap.empty[String, mutable.ArrayBuffer[JobTiming]]

  private def at(k: (String, String)) = counters.getOrElseUpdate(k, new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty(Tracer.GroupProp)))
      .getOrElse("")
    val phase = props.flatMap(p => Option(p.getProperty(Tracer.PhaseProp))).getOrElse("")
    val k = (group, phase)
    at(k).jobs += 1
    e.stageIds.foreach(s => stageKey(s) = k)
    running(e.jobId) = (e.time, e.stageIds, k)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach { case (t0, stageIds, (group, phase)) =>
      timings.getOrElseUpdate(group, mutable.ArrayBuffer.empty) += JobTiming(phase, t0,
        e.time, stageIds.map(s => stageTasks.getOrElse(s, (0L, 0L))))
    }
    super.onJobEnd(e)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(k => at(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageKey.get(e.stageId).foreach { k =>
      val c = at(k)
      c.tasks += 1
      if (m != null) {
        val (sum, max) = stageTasks.getOrElse(e.stageId, (0L, 0L))
        stageTasks(e.stageId) = (sum + m.executorRunTime, math.max(max, m.executorRunTime))
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counters of one group, per phase. */
  def forGroup(group: String): Map[String, ExecCounters] = synchronized {
    counters.collect { case ((g, p), c) if g == group => p -> c }.toMap
  }

  /** Timings of the group's ended jobs, in end order. */
  def jobTimings(group: String): Seq[JobTiming] = synchronized {
    timings.get(group).map(_.toSeq).getOrElse(Nil)
  }
}

/** Peak bytes held by persisted RDD blocks (memory plus disk) while
  * attached. Blocks leave the total when their RDD is unpersisted.
  */
final class StorageListener extends FlushableListener {
  private val blocks = mutable.HashMap.empty[(Int, Int), Long]
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { b =>
      val k = (b.rddId, b.splitIndex)
      val size = info.memSize + info.diskSize
      current += size - blocks.getOrElse(k, 0L)
      if (size > 0) blocks(k) = size else blocks.remove(k)
      peak = math.max(peak, current)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_._1 == e.rddId).toSeq.foreach(k => current -= blocks.remove(k).get)
  }

  def peakMb: Double = synchronized { peak / 1048576.0 }
}

/** A span: one call into a layer, from outside it. */
final case class Span(request: String, name: String, parent: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder plus the listener; spans are written out once,
  * when the run ends.
  */
final class Tracer(sc: SparkContext) {
  val listener = new ExecListener
  val spans = mutable.ArrayBuffer.empty[Span]

  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = sc.removeSparkListener(listener)

  def record(request: String, name: String, parent: String, t0: Long, t1: Long): Unit =
    spans += Span(request, name, parent, t0, t1)

  def flush(): Unit = Tracer.flush(sc, listener)

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"request":"${s.request}","name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Tracer {
  private val flushes = new java.util.concurrent.atomic.AtomicInteger

  /** Blocks until `l` has seen every event posted so far: a marker job is
    * submitted and its end awaited (delivery is asynchronous, in order).
    */
  def flush(sc: SparkContext, l: FlushableListener): Unit = {
    val prevGroup = sc.getLocalProperty(GroupProp)
    sc.setLocalProperty(GroupProp, s"__flush_${flushes.incrementAndGet()}")
    val jobId =
      try sc.submitJob(sc.parallelize(Seq(1), 1), (it: Iterator[Int]) => it.size, Seq(0),
        (_: Int, _: Int) => (), ()).jobIds.head
      finally sc.setLocalProperty(GroupProp, prevGroup)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!l.sawJobEnd(jobId) && System.nanoTime() < deadline) Thread.sleep(2)
  }

  val PhaseProp = "perfbench.phase"
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupProp = "spark.jobGroup.id"
}
