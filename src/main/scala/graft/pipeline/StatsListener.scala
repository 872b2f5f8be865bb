package graft.pipeline

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import scala.concurrent.duration.FiniteDuration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Run-stats side channel + failure alerting.
  *
  * The reference logs per-step read/write seconds and writes run-stats
  * rows to a MySQL stats DB (/root/reference/
  * parallelized_data_pipeline_dag.py:100,109,118,181-194), and posts
  * Slack alerts on task failure (dag_utils.py:8-35) — with an
  * unimplemented `TODO Update the processing status as failed` at
  * dag_utils.py:34. Here both are one QueryExecutionListener: success
  * captures duration + observed metrics (`Dataset.observe` — metrics
  * ride the job, no second scan), failure records a FAILED stats row
  * (the TODO, done) and notifies an [[AlertSink]].
  *
  * AlertSink is pluggable because this container has zero egress; the
  * production impl posts the webhook, [[LogAlertSink]] records in-proc.
  */
final case class StepStat(
    run_id: String,
    step: String,
    status: String,
    duration_ms: Long,
    rows: Option[Long],
)

trait AlertSink extends Serializable {
  def alert(runId: String, step: String, error: String): Unit
}

/** In-process alert sink (test/default). */
final class LogAlertSink extends AlertSink {
  val alerts = new ConcurrentLinkedQueue[(String, String, String)]
  override def alert(runId: String, step: String, error: String): Unit =
    alerts.add((runId, step, error))
}

object StatsListener {
  /** Observe-metric name carrying BOTH the run id and the step: two
    * concurrent runs sharing one session each see every execution
    * through their own listener, so a bare step prefix would cross-
    * attribute metrics between runs. runId is delimited with '/' (never
    * produced by runId generators here) so step names containing '_'
    * can't alias another run's prefix.
    */
  def observeName(runId: String, step: String): String = s"graft/$runId/$step"
}

final class StatsListener(runId: String, alertSink: AlertSink = new LogAlertSink) extends QueryExecutionListener {
  private val stats = new ConcurrentLinkedQueue[StepStat]

  /** Rows metric observed under any name starting with this prefix is
    * picked up as the step's row count — scoped to THIS run.
    */
  val ObservePrefix: String = StatsListener.observeName(runId, "")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    // only executions carrying this run's observe metric are recorded —
    // the listener sees EVERY query on the shared session, and neither
    // unrelated work nor ANOTHER run's steps may be attributed to this
    // run_id
    qe.observedMetrics.collectFirst {
      case (name, row) if name.startsWith(ObservePrefix) && row.schema.fieldNames.contains("rows") =>
        (name.stripPrefix(ObservePrefix), row.getAs[Long]("rows"))
    }.foreach { case (step, rows) =>
      record(StepStat(runId, step, "COMPLETED", durationNs / 1000000L, Some(rows)))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    // the dag_utils.py:34 TODO, implemented: failed status row + alert —
    // scoped to THIS run like onSuccess: every listener sees every failed
    // query on the shared session, and concurrent runs (sensor fan-out)
    // must not cross-attribute failures or cross-fire alerts. Scoping
    // key = this run's observe node in the analyzed plan (observed
    // METRICS are empty on failure; the plan node is still there).
    val step = scala.util.Try(qe.analyzed.collectFirst {
      case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
        if c.name.startsWith(ObservePrefix) => c.name.stripPrefix(ObservePrefix)
    }).toOption.flatten
    step.foreach { s =>
      record(StepStat(runId, s, "FAILED", 0L, None))
      alertSink.alert(runId, s, exception.getMessage)
    }
  }

  private def record(stat: StepStat): Unit = synchronized {
    stats.add(stat)
    notifyAll()
  }

  /** Block until every one of `steps` has a stats row, or `timeout`
    * passes. Listener callbacks arrive on Spark's listener bus after the
    * action has returned; each recorded row wakes the waiter.
    */
  def awaitSteps(steps: Set[String], timeout: FiniteDuration): Unit = synchronized {
    val deadline = System.nanoTime() + timeout.toNanos
    var left = timeout.toNanos
    while (left > 0 && !steps.forall(s => stats.asScala.exists(_.step == s))) {
      TimeUnit.NANOSECONDS.timedWait(this, left)
      left = deadline - System.nanoTime()
    }
  }

  def snapshot: Seq[StepStat] = stats.asScala.toSeq

  /** Stats as a frame, writable to any stats sink (JDBC/parquet). */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    snapshot.toDF()
  }
}
