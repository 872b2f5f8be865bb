package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced pass. `layer` is the name's prefix
  * (streaming, sources, pipeline, queries, engine); `owner` is the run
  * or query id the work belongs to; `parent` is the key of the
  * enclosing span ("" for a root). Times are System.nanoTime.
  */
final case class Span(key: String, name: String, owner: String, start: Long, end: Long, parent: String) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

final case class JobRec(id: Int, start: Long, var end: Long, owner: String, execId: Option[Long], stages: Seq[Int])
final case class TaskRec(stage: Int, runMs: Long, gcMs: Long, schedDelayMs: Long, failed: Boolean)
final case class StageRec(id: Int, shuffleRead: Long, shuffleWrite: Long, spill: Long)
final case class QeRec(id: Long, durNs: Long, at: Long, phasesMs: Map[String, Long], observed: Seq[String])
final case class ProgressRec(batchId: Long, startNs: Long, durMs: Map[String, Long])

/** What one traced block recorded. */
final case class Records(spans: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec], stages: Seq[StageRec],
    qes: Seq[QeRec], progress: Seq[ProgressRec])

/** In-memory tracer for the traced pass. Listeners are registered only
  * between `begin()` and `end()`, so the untraced blocks of a traced
  * run (and every untraced run) carry none of them. Harness-side spans
  * go through `add`; Spark's own activity arrives through the
  * public SparkListener, QueryExecutionListener and
  * StreamingQueryListener surfaces.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  /** Spark events carry wall-clock milliseconds; spans use nanoTime. */
  def fromWallMs(ms: Long): Long = (ms - wall0) * 1000000L + nano0

  private val spans = new ConcurrentLinkedQueue[Span]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val stages = new ConcurrentLinkedQueue[StageRec]
  private val qes = new ConcurrentLinkedQueue[QeRec]
  private val progress = new ConcurrentLinkedQueue[ProgressRec]

  def add(key: String, name: String, owner: String, start: Long, end: Long, parent: String = ""): Unit =
    spans.add(Span(key, name, owner, start, end, parent))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      jobs.put(e.jobId, JobRec(e.jobId, fromWallMs(e.time), -1L,
        props.flatMap(p => Option(p.getProperty(OwnerProp))).getOrElse(""),
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption),
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = fromWallMs(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      val run = if (m == null) 0L else m.executorRunTime
      val sched = if (m == null) 0L
        else math.max(0L, i.duration - run - m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      tasks.add(TaskRec(e.stageId, run, if (m == null) 0L else m.jvmGCTime, sched, !i.successful))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      stages.add(StageRec(s.stageId,
        if (m == null) 0L else m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val at = System.nanoTime()
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      qes.add(QeRec(qe.id, durationNs, at, phases, qe.observedMetrics.keys.toSeq))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = fromWallMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      progress.add(ProgressRec(p.batchId, start, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def begin(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain Spark's listener bus so every event of the block is in, then
    * unregister and hand back what the block recorded.
    */
  def end(): Records = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] = { val s = q.asScala.toVector; q.clear(); s }
    val js = jobs.values.asScala.toVector.sortBy(_.id)
    jobs.clear()
    Records(take(spans), js, take(tasks), take(stages), take(qes), take(progress))
  }
}

object Tracer {
  /** Thread-local job property naming the run or query a job belongs to. */
  val OwnerProp = "perfbench.owner"

  def setOwner(spark: SparkSession, owner: String): Unit =
    spark.sparkContext.setLocalProperty(OwnerProp, owner)

  /** Owner for a job: the SQL execution's owner when one is known, else
    * the thread-local owner property the job was submitted under.
    */
  def ownerOf(j: JobRec, byExec: Map[Long, String]): String =
    j.execId.flatMap(byExec.get).getOrElse(j.owner)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionLen(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Job spans, each parented to the innermost span of its owner that
    * contains it, else to the innermost round-level span containing it.
    */
  def jobSpans(r: Records, byExec: Map[Long, String], roundLevel: Set[String]): Seq[Span] = {
    val slack = 2000000L // Spark event times are whole milliseconds
    def contains(s: Span, a: Long, b: Long) = s.start - slack <= a && b <= s.end + slack
    r.jobs.filter(_.end >= 0).map { j =>
      val owner = ownerOf(j, byExec)
      val own = r.spans.filter(s => s.owner == owner && contains(s, j.start, j.end))
      val pool = if (own.nonEmpty) own else r.spans.filter(s => roundLevel(s.name) && contains(s, j.start, j.end))
      val parent = if (pool.isEmpty) "" else pool.minBy(_.dur).key
      Span(s"job-${j.id}", "engine.job", owner, j.start, j.end, parent)
    }
  }

  /** Self time per layer: a span's duration minus the union of its
    * children's intervals, summed over the spans of each layer.
    */
  def selfTime(all: Seq[Span]): Map[String, Long] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.dur - unionLen(kids.getOrElse(s.key, Nil).map(c => (c.start, c.end)), s.start, s.end)
      }.sum
    }
  }
}

/** Engine-layer totals over the traced blocks of a run. */
final class EngineAgg(cores: Int) {
  var ops = 0L
  var wallNs = 0L
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, gcMs, schedMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val selfNs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** Fold in one block; `ops` = the block's unit operations, `skip` =
    * owners whose jobs are harness bookkeeping, not workload.
    */
  def add(r: Records, ops: Long, wallNs: Long, spans: Seq[Span], skip: String => Boolean): Unit = {
    this.ops += ops
    this.wallNs += wallNs
    val js = r.jobs.filterNot(j => skip(j.owner))
    val stageIds = js.flatMap(_.stages).toSet
    jobs += js.size
    val ss = r.stages.filter(s => stageIds(s.id))
    stages += ss.size
    shuffleRead += ss.map(_.shuffleRead).sum
    shuffleWrite += ss.map(_.shuffleWrite).sum
    spill += ss.map(_.spill).sum
    val ts = r.tasks.filter(t => stageIds(t.stage))
    tasks += ts.size
    taskFailures += ts.count(_.failed)
    runMs += ts.map(_.runMs).sum
    gcMs += ts.map(_.gcMs).sum
    schedMs += ts.map(_.schedDelayMs).sum
    r.qes.foreach { q =>
      analysisMs += q.phasesMs.getOrElse("analysis", 0L)
      optimizationMs += q.phasesMs.getOrElse("optimization", 0L)
      planningMs += q.phasesMs.getOrElse("planning", 0L)
    }
    Tracer.selfTime(spans).foreach { case (l, ns) => selfNs(l) += ns }
  }

  def metrics(): Map[String, Double] = {
    val per = math.max(ops, 1L).toDouble
    Map(
      "engine.analysis_s" -> analysisMs / 1e3 / per,
      "engine.optimization_s" -> optimizationMs / 1e3 / per,
      "engine.planning_s" -> planningMs / 1e3 / per,
      "engine.jobs" -> jobs / per,
      "engine.stages" -> stages / per,
      "engine.tasks" -> tasks / per,
      "engine.sched_delay_s" -> (if (tasks == 0) 0.0 else schedMs / 1e3 / tasks),
      "engine.core_busy_ratio" -> (if (wallNs == 0) 0.0 else runMs * 1e6 / (wallNs.toDouble * cores)),
      "engine.gc_s" -> gcMs / 1e3 / per,
      "engine.shuffle_read_bytes" -> shuffleRead / per,
      "engine.shuffle_write_bytes" -> shuffleWrite / per,
      "engine.spill_bytes" -> spill / per,
      "engine.task_failures" -> taskFailures.toDouble,
    ) ++ Seq("streaming", "sources", "pipeline", "queries", "engine").map(l => s"self.${l}_s" -> selfNs(l) / 1e9 / per)
  }
}

/** Sample lists and their order statistics. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); 0 for no samples. */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
