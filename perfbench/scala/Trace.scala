package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Layer spans plus a listener that attributes Spark jobs and tasks to
  * them.
  *
  * A span sets the local property [[Trace.Key]] for the calls it wraps;
  * every job submitted meanwhile carries the span's name in its
  * properties, and its stages' tasks are charged to that name. Spans and
  * events are kept in memory; [[metrics]] folds them after the listener
  * bus has drained.
  */
final class Trace(sc: SparkContext, cores: Int) extends SparkListener {
  import Trace._

  private case class Span(name: String, startMs: Long, endMs: Long, wallS: Double)
  private case class Job(span: String, startMs: Long, endMs: Long)
  private case class Task(span: String, durMs: Long, cpuNs: Long,
                          schedMs: Long, gcMs: Long, inBytes: Long, outBytes: Long,
                          shuffleBytes: Long, spillBytes: Long, readsShuffle: Boolean,
                          failed: Boolean)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val log = mutable.ArrayBuffer.empty[Span] // every span, never reset
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = sc.removeSparkListener(this)

  /** Runs `body` as span `name`; spans of one name add up. */
  def span[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Key, prev)
      val span = Span(name, s0, System.currentTimeMillis(), wall)
      synchronized { spans += span; log += span }
    }
  }

  /** Every span recorded, in order, for the result file. */
  def spanLog: Seq[Map[String, Any]] = synchronized {
    log.toSeq.map(s => Map("name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "wall_s" -> s.wallS))
  }

  /** Forgets everything recorded so far. */
  def reset(): Unit = synchronized {
    spans.clear(); jobStart.clear(); jobs.clear(); stageSpan.clear(); tasks.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).getOrElse(Unlabelled)
    jobStart(e.jobId) = (name, e.time)
    e.stageIds.foreach(stageSpan(_) = name)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (n, t) => jobs += Job(n, t, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    val overhead = g(_.executorRunTime) + g(_.executorDeserializeTime) +
      g(_.resultSerializationTime)
    tasks += Task(stageSpan.getOrElse(e.stageId, Unlabelled), info.duration,
      g(_.executorCpuTime), math.max(0L, info.duration - overhead), g(_.jvmGCTime),
      g(_.inputMetrics.bytesRead), g(_.outputMetrics.bytesWritten),
      g(_.shuffleWriteMetrics.bytesWritten),
      g(_.memoryBytesSpilled) + g(_.diskBytesSpilled),
      g(_.shuffleReadMetrics.recordsRead) > 0, !info.successful)
  }

  /** Per-span-name metrics; [[All]] folds every job and task. */
  def metrics(): Map[String, Map[String, Double]] = {
    org.apache.spark.PerfBenchBus.drain(sc)
    synchronized {
      val names = spans.map(_.name).distinct.toSeq :+ All
      names.map { n =>
        val ss = if (n == All) spans.toSeq else spans.filter(_.name == n).toSeq
        val js = if (n == All) jobs.toSeq else jobs.filter(_.span == n).toSeq
        val ts = if (n == All) tasks.toSeq else tasks.filter(_.span == n).toSeq
        val wall = ss.map(_.wallS).sum
        // job-running time inside this name's spans, overlapping jobs once
        val busyS = ss.map { s =>
          unionMs(js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))) / 1e3
        }.sum
        val runS = ts.map(_.durMs).sum / 1e3
        n -> Map(
          "wall_s" -> wall,
          "jobs" -> js.size.toDouble,
          "tasks" -> ts.size.toDouble,
          "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
          "driver_s" -> math.max(0.0, wall - busyS),
          "idle_core_s" -> math.max(0.0, cores * busyS - runS),
          "sched_delay_s" -> ts.map(_.schedMs).sum / 1e3,
          "gc_s" -> ts.map(_.gcMs).sum / 1e3,
          "input_mb" -> ts.map(_.inBytes).sum / 1e6,
          "output_mb" -> ts.map(_.outBytes).sum / 1e6,
          "shuffle_mb" -> ts.map(_.shuffleBytes).sum / 1e6,
          "spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
          "failed_tasks" -> ts.count(_.failed).toDouble,
          "max_task_s" -> (if (ts.isEmpty) 0.0 else ts.map(_.durMs).max / 1e3),
          "reduce_tasks" -> ts.count(_.readsShuffle).toDouble)
      }.toMap
    }
  }
}

object Trace {
  val Key = "perfbench.span"
  val All = "*"
  val Unlabelled = "-"

  /** Length of the union of [start, end) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}
