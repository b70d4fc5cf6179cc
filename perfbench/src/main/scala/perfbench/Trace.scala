package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Scheduler counts of one span, summed from task-end events. */
final class SpanCounts {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var maxTaskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var recordsWritten = 0L

  def addTask(t: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (t.taskInfo != null) maxTaskMs = math.max(maxTaskMs, t.taskInfo.duration)
    val m = t.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      gcMs += m.jvmGCTime
      recordsWritten += m.outputMetrics.recordsWritten
    }
  }
}

/** Attributes every job to the span that launched it through the job group
  * the span sets, and every task to its job through the stage ids. Jobs of
  * the `runner` group are split further by the sink their SQL execution
  * writes: `violations`, `verdicts` or `manifest`; any other execution is
  * `runner.other`, so a moved or added job shows as a shift between the
  * runner spans, never as lost time.
  */
final class LayerListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]
  // SQL execution id -> its root execution (a write command runs its query
  // as a nested execution); root id -> sink it writes, start time, span
  private val execRoot = new ConcurrentHashMap[Long, Long]
  private val rootSink = new ConcurrentHashMap[Long, String]
  private val rootStart = new ConcurrentHashMap[Long, java.lang.Long]
  private val rootSpan = new ConcurrentHashMap[Long, String]
  private val spanExecMs = new ConcurrentHashMap[String, Long]
  private val counts = new ConcurrentHashMap[String, SpanCounts]

  // the formatted plan's node details carry the write's output path
  private val sinkRe =
    "(?s)Execute InsertIntoHadoopFsRelationCommand.*?Arguments: [^,\\s]*/(violations|verdicts|manifest),".r

  def countsOf(span: String): SpanCounts = counts.computeIfAbsent(span, _ => new SpanCounts)

  /** Summed wall time of the root SQL executions attributed to `span`. */
  def execSeconds(span: String): Double = spanExecMs.getOrDefault(span, 0L) / 1e3

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { group =>
      val root = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(id => execRoot.getOrDefault(id.toLong, id.toLong))
      val span =
        if (group != LayerListener.RunnerGroup) group
        else root.flatMap(r => Option(rootSink.get(r))).map("runner." + _)
          .getOrElse("runner.other")
      root.foreach(rootSpan.putIfAbsent(_, span))
      val c = countsOf(span)
      c.synchronized { c.jobs += 1 }
      j.stageIds.foreach(stageSpan.put(_, span))
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(t.stageId)).foreach(countsOf(_).addTask(t))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val root = s.rootExecutionId.getOrElse(s.executionId)
      execRoot.put(s.executionId, root)
      if (root == s.executionId) rootStart.put(root, java.lang.Long.valueOf(s.time))
      sinkRe.findFirstMatchIn(s.physicalPlanDescription)
        .foreach(m => rootSink.putIfAbsent(root, m.group(1)))
    case s: SparkListenerSQLExecutionEnd =>
      for (t0 <- Option(rootStart.remove(s.executionId));
           span <- Option(rootSpan.get(s.executionId)))
        spanExecMs.merge(span, s.time - t0, (a, b) => a + b)
    case _ =>
  }
}

object LayerListener {
  val RunnerGroup = "runner"
}

/** One measured span: wall time on the driver plus the scheduler counts of
  * the jobs it launched.
  */
final case class SpanResult(wallS: Double, c: SpanCounts, cores: Int) {
  def taskS: Double = c.taskMs / 1e3
  def util: Double = if (wallS > 0) taskS / (wallS * cores) else 0.0

  /** The ten per-layer metrics of a fully traced span that produced `rows`. */
  def full(name: String, rows: Long): Seq[(String, Double, String)] = short(name) ++ Seq(
    (s"$name.tasks", c.tasks.toDouble, "count"),
    (s"$name.max_task_ms", c.maxTaskMs.toDouble, "ms"),
    (s"$name.shuffle_write_mb", c.shuffleWriteBytes / 1e6, "MB"),
    (s"$name.spill_mb", c.spillBytes / 1e6, "MB"),
    (s"$name.gc_s", c.gcMs / 1e3, "s"),
    (s"$name.rows_out", rows.toDouble, "rows"))

  /** The four per-layer metrics of a span traced for time and jobs only. */
  def short(name: String): Seq[(String, Double, String)] = Seq(
    (s"$name.wall_s", wallS, "s"),
    (s"$name.task_s", taskS, "s"),
    (s"$name.util", util, "ratio"),
    (s"$name.jobs", c.jobs.toDouble, "count"))
}

final class Tracer(spark: SparkSession, cores: Int) {
  val listener = new LayerListener
  private val sc = spark.sparkContext

  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = { BusDrain(sc); sc.removeSparkListener(listener) }

  /** Runs `body` under job group `group` and returns its wall time and the
    * counts of `group`, read after the listener bus is drained.
    */
  def span[A](group: String)(body: => A): (SpanResult, A) = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    BusDrain(sc)
    (SpanResult(wall, listener.countsOf(group), cores), out)
  }
}

/** Highest task `peakExecutionMemory` among jobs of one job group. */
final class PeakMem(group: String) extends SparkListener {
  private val stages = ConcurrentHashMap.newKeySet[Int]()
  @volatile var peakBytes = 0L
  override def onJobStart(j: SparkListenerJobStart): Unit =
    if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
      j.stageIds.foreach(stages.add(_))
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (stages.contains(t.stageId) && t.taskMetrics != null)
      peakBytes = math.max(peakBytes, t.taskMetrics.peakExecutionMemory)
}
