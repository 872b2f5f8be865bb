package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.operators.FieldMapping
import graft.pipeline.PipelineRunner.PipelineSpec
import graft.sources.ZipIngest
import graft.streaming.SensorLoop
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** ingest_burst: a backlog of zips lands in the inbox at once and
  * `SensorLoop.start` drains it with `Trigger.AvailableNow`, fanning out
  * one `PipelineRunner` run per file on `cores` threads. After an untimed
  * warm-up burst of `WarmFiles` files, measured bursts of every file
  * repeat until the run's seconds are spent (at least one; see
  * [[Rounds]] for which bursts a traced run traces).
  *
  * Timing is read from outside the program: the drop time, the
  * `specFor` callback, and each entity sink's `_SUCCESS` mtime (written
  * when the write job commits).
  */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._

  private val zips: Vector[Path] = Files.list(ctx.inputs.resolve("zips")).iterator().asScala
    .map(_.toAbsolutePath).toVector.sortBy(_.toString)

  /** zip name -> entity -> (row count, content hash). */
  private val expected: Map[String, Map[String, (Long, BigInt)]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val JObject(files) = JsonMethods.parse(new String(Files.readAllBytes(ctx.inputs.resolve("expected.json")), StandardCharsets.UTF_8))
    files.map { case (zip, JObject(ents)) =>
      zip -> ents.map { case (e, JArray(List(JInt(n), JString(h)))) => e -> (n.toLong, BigInt(h)) }.toMap
    }.toMap
  }

  def touch(spark: SparkSession): Unit =
    ZipIngest.read(spark, zips.head.toString).entities.values.foreach(_.schema)

  def run(spark: SparkSession, tracer: Option[Tracer]): Outcome = {
    val land, runS, burstS = Vector.newBuilder[Double]
    val rounds = new Rounds(tracer.isDefined, 1)
    var files, landed, rows = 0L
    var failed = 0L
    val checks = Vector.newBuilder[String]
    val layer = new LayerSamples
    val agg = new EngineAgg(ctx.cores)
    val allSpans = Vector.newBuilder[Span]
    val warm = burst(spark, -1, zips.take(WarmFiles), None)
    files += warm.runs.size
    failed += WarmFiles - warm.runs.count(_.committedUs.isDefined)
    deleteTree(warm.dir)
    val t0 = System.nanoTime()
    var k = 0
    while (rounds.more(k, ctx.deadline(t0))) {
      val tr = tracer.filter(_ => rounds.isTraced(k))
      tr.foreach(_.begin())
      val b = burst(spark, k, zips, tr)
      tr.foreach { t =>
        val rec = t.end()
        allSpans ++= layer.add(b, rec, agg)
      }
      rounds.record(k, b.wallS)
      burstS += b.wallS
      files += zips.size
      b.runs.foreach { r =>
        r.committedUs match {
          case Some(c) =>
            landed += 1
            rows += r.rows
            land += (c - b.dropUs) / 1e6
            runS += (c - r.callUs) / 1e6
          case None => ()
        }
      }
      failed += zips.size - b.runs.count(_.committedUs.isDefined)
      checks ++= check(spark, b)
      deleteTree(b.dir)
      k += 1
    }
    val wall = burstS.result().sum
    val l = land.result()
    val rs = runS.result()
    val bad = checks.result()
    tracer.foreach(_ => Main.sidecar(ctx, allSpans.result(), layer.counts))
    Outcome(
      attempted = files, failed = failed, correct = bad.isEmpty && failed == 0, checks = bad,
      e2e = Map(
        "ops_per_s" -> M(landed / wall, "1/s"),
        "main_s_p50" -> M(Stats.q(l, 0.5), "s"), "aux_s_p50" -> M(Stats.q(rs, 0.5), "s")),
      named = Map(
        "files_per_s" -> M(landed / wall, "1/s"), "rows_per_s" -> M(rows / wall, "1/s"),
        "land_s_p50" -> M(Stats.q(l, 0.5), "s"), "land_s_p90" -> M(Stats.q(l, 0.9), "s"),
        "land_s_p95" -> M(Stats.q(l, 0.95), "s"),
        "file_run_s_p50" -> M(Stats.q(rs, 0.5), "s"), "file_run_s_p90" -> M(Stats.q(rs, 0.9), "s"),
        "files_landed" -> M(l.size, "count")),
      layers = layer.metrics ++ agg.metrics() + ("trace.overhead_ratio" -> rounds.overhead),
      counts = Map("bursts" -> k.toLong, "files" -> files, "files_landed" -> landed, "rows_landed" -> rows) ++ layer.counts,
      detail = Map("burst_s" -> burstS.result(), "file_run_s" -> rs),
    )
  }

  /** One burst: drop a message per zip, drain the sensor, read commit times. */
  private def burst(spark: SparkSession, k: Int, zips: Seq[Path], tr: Option[Tracer]): Burst = {
    val dir = ctx.work.resolve(s"ingest/b$k")
    val inbox = Files.createDirectories(dir.resolve("inbox"))
    val sinks = dir.resolve("sinks")
    zips.zipWithIndex.foreach { case (z, i) =>
      Files.write(inbox.resolve(f"msg-$i%04d.json"),
        s"""{"s3_bucket": "local", "s3_file_path": "$z"}""".getBytes(StandardCharsets.UTF_8))
    }
    val calls = new ConcurrentHashMap[String, Call]
    val enrichAt = new ConcurrentHashMap[String, java.lang.Long]
    def enrich(runId: String, f: DataFrame => DataFrame): DataFrame => DataFrame = { df =>
      enrichAt.putIfAbsent(runId, System.nanoTime())
      f(df)
    }
    val specFor = (runId: String, path: String) => {
      calls.put(runId, Call(runId, path, Thread.currentThread().getName, System.nanoTime(), nowUs()))
      tr.foreach(_ => Tracer.setOwner(spark, s"b$k/$runId"))
      PipelineSpec(
        runId = runId,
        mappings = Mappings,
        enrichments = Map("contact" -> enrich(runId, EnrichContact), "transaction" -> enrich(runId, EnrichTransaction)),
        sinkDir = sinks.resolve(runId).toString)
    }
    val dropUs = nowUs()
    val dropNs = System.nanoTime()
    val q = SensorLoop.start(spark, inbox.toString, dir.resolve("ckpt").toString, specFor,
      trigger = Trigger.AvailableNow(), maxParallelFiles = ctx.cores)
    val ok = try { q.awaitTermination(); true } catch { case e: Exception =>
      System.err.println(s"[perfbench] burst $k failed: ${e.getMessage}")
      false
    }
    val endNs = System.nanoTime()
    val byName = zips.map(z => z.toString -> z.getFileName.toString).toMap
    val runs = calls.values.asScala.toVector.map { c =>
      val commits = Entities.map(e => sinks.resolve(s"${c.runId}/$e/_SUCCESS")).filter(Files.exists(_))
        .map(p => Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS))
      val zip = byName.getOrElse(c.path, c.path)
      RunRec(c, zip, Option(enrichAt.get(c.runId)).map(_.longValue),
        if (ok && commits.size == Entities.size) Some(commits.max) else None,
        expected.get(zip).map(_.values.map(_._1).sum).getOrElse(0L))
    }
    Burst(k, dir, sinks, dropUs, dropNs, endNs, runs)
  }

  /** Both sinks of every run hold exactly the generated rows (count and
    * order-free content hash), and every zip ran exactly once.
    */
  private def check(spark: SparkSession, b: Burst): Seq[String] = {
    val ran = b.runs.groupBy(_.zip)
    val missing = zips.map(_.getFileName.toString).filterNot(ran.contains)
    val twice = ran.collect { case (z, rs) if rs.size > 1 => z }
    val got: Map[(String, String), (Long, BigInt)] = Entities.flatMap { e =>
      spark.read.parquet(s"${b.sinks}/*/$e")
        .select(regexp_extract(input_file_name(), "/sinks/([^/]+)/", 1).as("run"), Canonical(e).as("s"))
        .groupBy("run")
        .agg(count(lit(1)).as("n"),
          sum(conv(substring(md5(col("s")), 1, 15), 16, 10).cast("decimal(38,0)")).as("h"))
        .collect().map(r => (r.getString(0), e) -> (r.getLong(1), BigInt(r.getDecimal(2).toBigInteger)))
    }.toMap
    val wrong = b.runs.flatMap { r =>
      Entities.filter(e => expected.get(r.zip).flatMap(_.get(e)) != got.get((r.call.runId, e)))
        .map(e => s"burst ${b.k}: ${r.zip} $e sink differs from the generated rows")
    }
    missing.map(z => s"burst ${b.k}: $z never ran") ++ twice.map(z => s"burst ${b.k}: $z ran twice") ++ wrong
  }
}

object Ingest {
  val Entities: Seq[String] = Seq("contact", "transaction")
  /** Files of the untimed warm-up burst, so the measured burst runs on
    * compiled (JIT) code paths. After a 36-file warm-up a second measured
    * burst still ran 16 % faster than the first.
    */
  val WarmFiles = 50

  /** The mapping schema every file runs with (FIXTURES B3 shape). */
  val Mappings: Map[String, Seq[FieldMapping]] = Map(
    "contact" -> Seq(
      FieldMapping("_id['$oid']", "contact_id"),
      FieldMapping("external_id", "external_id"),
      FieldMapping("company_id", "company_id"),
      FieldMapping("upper(name)", "full_name"),
      FieldMapping("email", "email_address"),
      FieldMapping("segment", "segment"),
      FieldMapping("acctbal['$numberDecimal']", "acctbal", Some("decimal(12,2)")),
      FieldMapping("created_at['$date']", "created_at", Some("timestamp"))),
    "transaction" -> Seq(
      FieldMapping("_id['$oid']", "txn_id"),
      FieldMapping("external_id", "external_id"),
      FieldMapping("company_id", "company_id"),
      FieldMapping("contact_external_id", "contact_external_id"),
      FieldMapping("amount['$numberDecimal']", "amount", Some("decimal(12,2)")),
      FieldMapping("status", "status"),
      FieldMapping("priority", "priority"),
      FieldMapping("ts['$date']", "ts", Some("timestamp"))),
  )

  val EnrichContact: DataFrame => DataFrame =
    _.withColumn("email_domain", substring_index(col("email_address"), "@", -1))
  val EnrichTransaction: DataFrame => DataFrame =
    _.withColumn("amount_band",
      when(col("amount") >= 100000, "high").when(col("amount") >= 10000, "mid").otherwise("low"))

  /** Row rendering the generator hashes, column for column. */
  val Canonical: Map[String, org.apache.spark.sql.Column] = Map(
    "contact" -> concat_ws("|", col("contact_id"), col("external_id"), col("company_id"), col("full_name"),
      col("email_address"), col("segment"), col("acctbal").cast("string"),
      unix_millis(col("created_at")).cast("string"), col("email_domain")),
    "transaction" -> concat_ws("|", col("txn_id"), col("external_id"), col("company_id"),
      col("contact_external_id"), col("amount").cast("string"), col("status"), col("priority"),
      unix_millis(col("ts")).cast("string"), col("amount_band")),
  )

  final case class Call(runId: String, path: String, thread: String, ns: Long, us: Long)
  final case class RunRec(call: Call, zip: String, enrichNs: Option[Long], committedUs: Option[Long], rows: Long) {
    def callUs: Long = call.us
  }
  final case class Burst(k: Int, dir: Path, sinks: Path, dropUs: Long, dropNs: Long, endNs: Long, runs: Vector[RunRec]) {
    def wallS: Double = (endNs - dropNs) / 1e9
  }

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  /** Per-layer samples gathered over the traced bursts. */
  final class LayerSamples {
    private val batchS, planS, dispatch, decode, persist, postWrite = Vector.newBuilder[Double]
    private var bursts, files, decodeJobs, jobs, tasks, rows = 0L
    private var wallNs = 0L

    /** Fold in one traced burst; returns its spans (harness + engine). */
    def add(b: Burst, r: Records, agg: EngineAgg): Seq[Span] = {
      bursts += 1
      files += b.runs.size
      rows += b.runs.filter(_.committedUs.isDefined).map(_.rows).sum
      wallNs += b.endNs - b.dropNs
      r.progress.foreach { p =>
        batchS += p.durMs.getOrElse("triggerExecution", 0L) / 1e3
        planS += p.durMs.getOrElse("queryPlanning", 0L) / 1e3
      }
      val batchStart = r.progress.map(p => p.batchId -> p.startNs).toMap
      // persist: each entity write's QueryExecutionListener record, keyed
      // on PipelineRunner's graft/<run>/<entity> observe name
      val writes = r.qes.flatMap(q => q.observed.collect {
        case n if n.startsWith("graft/") => (n.split('/')(1), q)
      })
      writes.foreach { case (_, q) => persist += q.durNs / 1e9 }
      val byExec = writes.map { case (run, q) => q.id -> s"b${b.k}/$run" }.toMap
      val lastWrite = writes.groupBy(_._1).map { case (run, ws) => run -> ws.map(_._2.at).max }
      val harness = Vector.newBuilder[Span]
      harness += Span(s"burst-${b.k}", "streaming.burst", s"b${b.k}", b.dropNs, b.endNs, "")
      r.progress.foreach { p =>
        harness += Span(s"batch-${b.k}-${p.batchId}", "streaming.batch", s"b${b.k}", p.startNs,
          p.startNs + p.durMs.getOrElse("triggerExecution", 0L) * 1000000L, s"burst-${b.k}")
      }
      b.runs.foreach { run =>
        val id = run.call.runId
        val owner = s"b${b.k}/$id"
        val batchId = id.split('_')(1).toLong
        batchStart.get(batchId).foreach(s => dispatch += (run.call.ns - s) / 1e9)
        run.enrichNs.foreach(e => decode += (e - run.call.ns) / 1e9)
        val end = lastWrite.getOrElse(id, b.endNs)
        harness += Span(s"file-$owner", "pipeline.file", owner, run.call.ns, end, s"batch-${b.k}-$batchId")
        run.enrichNs.foreach(e => harness += Span(s"decode-$owner", "sources.decode", owner, run.call.ns, e, s"file-$owner"))
        writes.filter(_._1 == id).foreach { case (_, q) =>
          harness += Span(s"persist-$owner-${q.id}", "pipeline.persist", owner, q.at - q.durNs, q.at, s"file-$owner")
        }
      }
      // post-write: a run's last committed write -> the next specFor on the same thread
      b.runs.groupBy(_.call.thread).values.foreach { rs =>
        rs.sortBy(_.call.ns).sliding(2).foreach {
          case Seq(prev, next) => lastWrite.get(prev.call.runId).foreach(w => postWrite += (next.call.ns - w) / 1e9)
          case _ => ()
        }
      }
      // decode jobs: submitted from the run's own thread (tagged in
      // specFor) before its enrichment callback, i.e. JSON schema inference
      val decodeEnd = b.runs.flatMap(x => x.enrichNs.map(s"b${b.k}/${x.call.runId}" -> _)).toMap
      decodeJobs += r.jobs.count(j => decodeEnd.get(j.owner).exists(j.start <= _))
      jobs += r.jobs.size
      tasks += r.tasks.size
      val hs = harness.result()
      val spans = hs ++ Tracer.jobSpans(r.copy(spans = hs), byExec, Set("streaming.burst", "streaming.batch"))
      agg.add(r, b.runs.size, b.endNs - b.dropNs, spans, _ => false)
      spans
    }

    def metrics: Map[String, Double] = {
      val per = math.max(files, 1L).toDouble
      val nb = math.max(bursts, 1L).toDouble
      Map(
        "streaming.sensor_batch_s" -> batchS.result().sum / nb,
        "streaming.sensor_plan_s" -> planS.result().sum / nb,
        "streaming.dispatch_wait_s_p50" -> Stats.q(dispatch.result(), 0.5),
        "streaming.dispatch_wait_s_p95" -> Stats.q(dispatch.result(), 0.95),
        "sources.zip_decode_s_p50" -> Stats.q(decode.result(), 0.5),
        "sources.zip_decode_s_p95" -> Stats.q(decode.result(), 0.95),
        "sources.decode_jobs_per_file" -> decodeJobs / per,
        "pipeline.persist_s_p50" -> Stats.q(persist.result(), 0.5),
        "pipeline.persist_s_p95" -> Stats.q(persist.result(), 0.95),
        "pipeline.jobs_per_file" -> jobs / per,
        "pipeline.tasks_per_file" -> tasks / per,
        "pipeline.post_write_s" -> Stats.mean(postWrite.result()),
        "pipeline.sink_rows_per_s" -> (if (wallNs == 0) 0.0 else rows / (wallNs / 1e9)),
      )
    }

    def counts: Map[String, Long] =
      Map("traced_bursts" -> bursts, "traced_files" -> files, "traced_jobs" -> jobs, "traced_tasks" -> tasks)
  }
}
