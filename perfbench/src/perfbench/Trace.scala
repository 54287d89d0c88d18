package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import scala.collection.mutable

/** Totals of one span over all its calls. */
final class SpanStats {
  var calls = 0L
  var wallNs = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  var tasks = 0L
  var stages = 0L
  var recordsRead = 0L
}

/** The benchmark's one span recorder and its one task-metrics listener.
  *
  * A span is a job group set on the calling thread around a call into one
  * layer's public function. Every stage submitted under the group is
  * attributed to the span, and every task of such a stage adds its
  * metrics. Spans stay in memory; [[metrics]] reads them when the run
  * ends. Until [[start]] a span is just the call and no listener is
  * registered, so untraced operations pay nothing for it. */
final class Tracer(sc: SparkContext, val on: Boolean) extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  private val stageSpan =
    new java.util.concurrent.ConcurrentHashMap[Integer, String]
  private val stats = mutable.LinkedHashMap.empty[String, SpanStats]

  @volatile private var active = false

  /** Start recording spans (traced runs only; a no-op otherwise). */
  def start(): Unit = if (on && !active) {
    active = true
    sc.addSparkListener(this)
  }

  /** Stop recording; what was recorded is kept. */
  def stop(): Unit = if (active) {
    org.apache.spark.PerfbenchHooks.drainListenerBus(sc)
    sc.removeSparkListener(this)
    active = false
  }

  private def stat(name: String): SpanStats =
    stats.getOrElseUpdate(name, new SpanStats)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
    if (g != null) {
      stageSpan.put(e.stageInfo.stageId, g)
      synchronized(stat(g).stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) synchronized {
      val s = stat(g)
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.maxTaskMs = math.max(s.maxTaskMs, m.executorRunTime)
      s.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Run `f` as span `name`. Spans may nest; stages go to the innermost. */
  def span[T](name: String)(f: => T): T =
    if (!active) f
    else {
      val prev = sc.getLocalProperty(GroupKey)
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try f
      finally {
        val dt = System.nanoTime() - t0
        synchronized { val s = stat(name); s.calls += 1; s.wallNs += dt }
        if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
      }
    }

  /** Totals of a span after every pending listener event has landed. */
  def get(name: String): SpanStats = {
    org.apache.spark.PerfbenchHooks.drainListenerBus(sc)
    synchronized(stats.getOrElse(name, new SpanStats))
  }

  /** The seven resource metrics of one span, per call. */
  def metrics(name: String, cores: Int): Seq[(String, Double, String)] = {
    val s = get(name)
    val n = math.max(1L, s.calls).toDouble
    val wall = s.wallNs / 1e9 / n
    val task = s.taskMs / 1e3 / n
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Seq(
      (s"$name.wall_s", wall, "s"),
      (s"$name.task_s", task, "s"),
      (s"$name.gc_frac", ratio(s.gcMs, s.taskMs), "ratio"),
      (s"$name.shuffle_mb", s.shuffleBytes / 1048576.0 / n, "MB"),
      (s"$name.spill_mb", s.spillBytes / 1048576.0 / n, "MB"),
      (s"$name.par_eff", ratio(task, wall * cores), "ratio"),
      (s"$name.max_task_share", ratio(s.maxTaskMs, s.taskMs), "ratio"))
  }
}
