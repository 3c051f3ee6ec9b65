package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Nested timed regions on the driver thread. Every region carries the
  * layer it is a call into; a region's self time is its wall time minus
  * its children's. Disabled recorders run the body and record nothing, so
  * an untraced run pays two branch tests per region. */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        round: Int, startNs: Long, var endNs: Long)

  val all = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var round: Int = -1

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.size, stack.headOption.map(_.id).getOrElse(-1), name,
        layer, round, System.nanoTime(), 0L)
      all += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }
}

/** One clock for spans (nanoTime) and listener events (epoch ms). */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def ms(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

/** The per-layer census of a traced run: a SparkListener (jobs, stages,
  * tasks), a QueryExecutionListener (analysis/optimization/planning phases
  * of every action), a StreamingQueryListener (micro-batch progress) and
  * codegen readings taken at round boundaries. Raw records are kept in
  * memory and reduced per round at the end; nothing is attached in an
  * untraced run. */
final class Census(spark: SparkSession) {
  final case class Job(start: Long, end: Long)
  final case class Task(stage: Int, attempt: Int, finishMs: Long,
                        runMs: Long, cpuNs: Long, gcMs: Long,
                        schedMs: Long, shWrite: Long, shRead: Long, spill: Long)
  final case class Stage(id: Int, attempt: Int, numTasks: Int, submitMs: Long,
                         doneMs: Long)
  final case class Plan(endMs: Long, planMs: Long)
  final case class Progress(query: String, startMs: Long, triggerMs: Long,
                            addBatchMs: Long)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  val queryStarts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  /** (round, compile ns, classes compiled) deltas, read at round ends. */
  val codegen = ArrayBuffer[(Int, Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, e.time); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add(Job(s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.attemptNumber(), i.numTasks,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
      ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        // Scheduler delay as the Spark UI reads it, task deserialization
        // included: task wall time not spent running or returning results.
        val sched = math.max(0L, i.finishTime - i.launchTime - m.executorRunTime -
          m.resultSerializationTime - i.gettingResultTime)
        tasks.add(Task(e.stageId, e.stageAttemptId, i.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime, sched,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
      ()
    }
  }

  private val planListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = ph.values.map(p => p.endTimeMs - p.startTimeMs).sum
      val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
      plans.add(Plan(end, ms)); ()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    private def epoch(ts: String): Long =
      try java.time.Instant.parse(ts).toEpochMilli catch { case _: Exception => System.currentTimeMillis() }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      queryStarts.put(e.runId.toString, epoch(e.timestamp)); ()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      progress.add(Progress(p.runId.toString, epoch(p.timestamp),
        d.get("triggerExecution").map(_.longValue).getOrElse(0L),
        d.get("addBatch").map(_.longValue).getOrElse(0L)))
      ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  import org.apache.spark.metrics.source.CodegenMetrics
  private var cgNs = CodeGenerator.compileTime
  private var cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    cgNs = CodeGenerator.compileTime
    cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  /** Close a round's codegen reading (driver thread). */
  def endRound(round: Int): Unit = {
    val ns = CodeGenerator.compileTime
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    codegen += ((round, ns - cgNs, n - cgN))
    cgNs = ns
    cgN = n
  }

  def detach(): Unit = {
    graft.streaming.LifecycleGate.flushListenerBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}

object Census {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of [a, b) intervals. */
  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Reduce the raw census to one map of layer metrics per round.
    *
    * @param rounds (round, startMs, endMs) windows on the Clock timeline
    * @param ops    (round, startMs, endMs) of every timed operation
    */
  def perRound(c: Census, cores: Int, rounds: Seq[(Int, Double, Double)],
               ops: Seq[(Int, Double, Double)]): Map[Int, Map[String, Double]] = {
    val jobs = c.jobs.asScala.toSeq.map(j => (j.start.toDouble, j.end.toDouble))
    val tasks = c.tasks.asScala.toSeq
    val stages = c.stages.asScala.toSeq
    val plans = c.plans.asScala.toSeq
    val prog = c.progress.asScala.toSeq
    def in(r: (Int, Double, Double), t: Double) = t >= r._2 && t <= r._3
    rounds.map { r =>
      val rid = r._1
      val rJobs = jobs.filter(j => in(r, j._2))
      val rTasks = tasks.filter(t => in(r, t.finishMs.toDouble))
      val rStages = stages.filter(s => in(r, s.doneMs.toDouble))
      val rOps = ops.filter(_._1 == rid)
      val gapMs = rOps.map { case (_, s, e) =>
        val clipped = jobs.filter(j => j._2 > s && j._1 < e)
          .map(j => (math.max(j._1, s), math.min(j._2, e)))
        (e - s) - unionMs(clipped)
      }.sum
      val jobWallMs = unionMs(rJobs)
      val runMs = rTasks.map(_.runMs).sum.toDouble
      val byStage = rTasks.groupBy(t => (t.stage, t.attempt))
      // Skew of the slowest stage that ran more than one task (a one-task
      // stage has no skew to show).
      val slowest = rStages.filter(_.numTasks > 1).sortBy(s => -(s.doneMs - s.submitMs)).headOption
      val skew = slowest.flatMap(s => byStage.get((s.id, s.attempt))).map { ts =>
        val d = ts.map(_.runMs.toDouble)
        val med = median(d)
        if (med > 0) d.max / med else 1.0
      }.getOrElse(1.0)
      val (cgNs, cgN) = c.codegen.filter(_._1 == rid)
        .foldLeft((0L, 0L)) { case ((a, b), (_, x, y)) => (a + x, b + y) }
      val rProg = prog.filter(p => in(r, p.startMs.toDouble))
      val firstBatch = rProg.groupBy(_.query).toSeq.flatMap { case (q, ps) =>
        Option(c.queryStarts.get(q)).map(s => (ps.map(_.startMs).min - s).toDouble)
      }
      val mb = 1024.0 * 1024.0
      rid -> Map(
        "driver.plan_s" -> plans.filter(p => in(r, p.endMs.toDouble)).map(_.planMs).sum / 1e3,
        "driver.gap_s" -> gapMs / 1e3,
        "driver.codegen_compile_s" -> cgNs / 1e9,
        "driver.codegen_classes" -> cgN.toDouble,
        "driver.sched_delay_s" -> rTasks.map(_.schedMs).sum / 1e3,
        "spark.jobs" -> rJobs.size.toDouble,
        "spark.stages" -> rStages.size.toDouble,
        "spark.tasks" -> rTasks.size.toDouble,
        "spark.single_task_stages" -> rStages.count(_.numTasks == 1).toDouble,
        "exec.run_s" -> runMs / 1e3,
        "exec.cpu_s" -> rTasks.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> rTasks.map(_.gcMs).sum / 1e3,
        "exec.busy_ratio" -> (if (jobWallMs > 0) runMs / (jobWallMs * cores) else 0.0),
        "shuffle.write_mb" -> rTasks.map(_.shWrite).sum / mb,
        "shuffle.read_mb" -> rTasks.map(_.shRead).sum / mb,
        "shuffle.spill_mb" -> rTasks.map(_.spill).sum / mb,
        "shuffle.skew" -> skew,
        "streaming.batches" -> rProg.size.toDouble,
        "streaming.batch_add_s" -> rProg.map(_.addBatchMs).sum / 1e3,
        "streaming.batch_overhead_s" ->
          rProg.map(p => p.triggerMs - p.addBatchMs).sum / 1e3,
        "streaming.start_s" -> firstBatch.sum / 1e3)
    }.toMap
  }
}
