package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.Engine
import org.apache.spark.sql.SparkSession

/** Run settings, as passed by run.py. */
final case class Ctx(workload: String, inputs: Path, work: Path, seconds: Double, trace: Boolean,
    seed: Long, cores: Int, cohorts: Path) {
  def deadline(t0: Long): Long = t0 + (seconds * 1e9).toLong
}

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** What a workload run produced. `e2e` = the contract's end-to-end
  * metrics except setup_s and live_mem_mb (filled in by Main); `named`
  * = the same figures under the workload's own metric names, printed
  * for people; `layers` = per-layer metrics of a traced run.
  */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean, checks: Seq[String],
    e2e: Map[String, M], named: Map[String, M], layers: Map[String, Double], counts: Map[String, Long],
    detail: Map[String, Any] = Map.empty)

trait Workload {
  /** First touch of the inputs; timed as part of setup_s. */
  def touch(spark: SparkSession): Unit
  def run(spark: SparkSession, tracer: Option[Tracer]): Outcome
}

/** Benchmark JVM entry point: sets up the session once, cold, in this
  * fresh JVM (timed: session creation + first touch of inputs), runs
  * the workload on it, and writes `result.json` (plus the trace sidecar
  * of a traced run) into the work directory.
  */
object Main {
  /** Per-layer metric names every traced run reports (the per_layer
    * list of BENCHMARK.json); a layer the workload never reaches reads 0.
    */
  val LayerMetrics: Seq[String] = Seq(
    "streaming.sensor_batch_s", "streaming.sensor_plan_s", "streaming.dispatch_wait_s_p50",
    "streaming.dispatch_wait_s_p95",
    "sources.zip_decode_s_p50", "sources.zip_decode_s_p95", "sources.decode_jobs_per_file",
    "pipeline.persist_s_p50", "pipeline.persist_s_p95", "pipeline.jobs_per_file", "pipeline.tasks_per_file",
    "pipeline.post_write_s", "pipeline.sink_rows_per_s",
    "queries.construct_s", "queries.eager_jobs", "queries.exec_s",
    "engine.analysis_s", "engine.optimization_s", "engine.planning_s", "engine.jobs", "engine.stages",
    "engine.tasks", "engine.sched_delay_s", "engine.core_busy_ratio", "engine.gc_s", "engine.shuffle_read_bytes",
    "engine.shuffle_write_bytes", "engine.spill_bytes", "engine.storage_mem_mb_end", "engine.task_failures",
    "self.streaming_s", "self.sources_s", "self.pipeline_s", "self.queries_s", "self.engine_s",
    "trace.overhead_ratio",
  )

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val ctx = Ctx(a("workload"), Paths.get(a("inputs")), Paths.get(a("work")), a("seconds").toDouble,
      a("trace") == "1", a("seed").toLong, a("cores").toInt, Paths.get(a("cohorts")))
    val workload: Workload = ctx.workload match {
      case "ingest_burst" => new Ingest(ctx)
      case "catalog_mix"  => new Catalog(ctx)
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    val spark = Engine.session(appName = "perfbench", cores = ctx.cores.toString)
    workload.touch(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    val p1 = System.nanoTime()
    val out = workload.run(spark, tracer)
    val p2 = System.nanoTime()
    val (heapMb, nonHeapMb) = liveMem()
    val liveMb = heapMb + nonHeapMb
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val peakRssMb = peakRss()
    spark.stop()

    val e2e = out.e2e ++ Map("setup_s" -> M(setupS, "s"), "live_mem_mb" -> M(liveMb, "MB"))
    val layers = (LayerMetrics ++ out.layers.keys).map(n => n -> out.layers.getOrElse(n, 0.0)).toMap +
      ("engine.storage_mem_mb_end" -> storageMb)
    val result = Json.obj(
      "correct" -> out.correct,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "checks" -> out.checks,
      "e2e" -> e2e.map { case (k, m) => k -> Json.obj("value" -> m.value, "unit" -> m.unit) },
      "named" -> (out.named + ("setup_s" -> e2e("setup_s")) + ("live_mem_mb" -> e2e("live_mem_mb")) +
          ("live_heap_mb" -> M(heapMb, "MB")) + ("non_heap_mb" -> M(nonHeapMb, "MB")) +
          ("peak_rss_mb" -> M(peakRssMb, "MB")))
        .map { case (k, m) => k -> Json.obj("value" -> m.value, "unit" -> m.unit) },
      "layers" -> (if (ctx.trace) layers else Map.empty[String, Double]),
      "counts" -> out.counts,
      "detail" -> out.detail,
      "run_s" -> (p2 - p1) / 1e9,
      "env" -> Json.obj("java" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version, "cores" -> ctx.cores),
    )
    Files.write(ctx.work.resolve("result.json"), result.s.getBytes(StandardCharsets.UTF_8))
  }

  /** Memory the program still holds when the measured units end, in MB:
    * heap that survives a full collection (live data, cached and pinned
    * blocks) and non-heap in use (class metadata, JIT code). Unlike the
    * resident peak, neither follows the fixed heap size of the JVM.
    */
  def liveMem(): (Double, Double) = {
    val m = ManagementFactory.getMemoryMXBean
    def collect() = { System.gc(); m.getHeapMemoryUsage.getUsed / 1048576.0 }
    // A collection lets Spark's ContextCleaner drop the broadcast and
    // shuffle blocks of plans no longer reachable, which the next
    // collection frees: collect until the heap stops shrinking.
    var prev = collect()
    var cur = prev
    var i = 0
    while (i < 8 && { Thread.sleep(250); cur = collect(); prev - cur >= 1.0 }) { prev = cur; i += 1 }
    (cur, m.getNonHeapMemoryUsage.getUsed / 1048576.0)
  }

  /** Peak resident set of this JVM (VmHWM), in MB; printed, not gated. */
  def peakRss(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Write the traced run's sidecar: every span plus the count totals. */
  def sidecar(ctx: Ctx, spans: Seq[Span], counts: Map[String, Long]): Unit = {
    val body = Json.obj(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "counts" -> counts,
      "spans" -> spans.map(s => Json.obj("name" -> s.name, "key" -> s.key, "owner" -> s.owner,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent)))
    Files.write(ctx.work.resolve("trace.json"), body.s.getBytes(StandardCharsets.UTF_8))
  }
}

/** Which measured units (burst, sweep) of a run are
  * traced. Both workloads warm up before their first unit. An untraced
  * run traces none; a traced run alternates traced (even) and untraced
  * (odd) units, at least one of each, and `overhead` compares the two
  * sets' median unit times.
  */
final class Rounds(traced: Boolean, minUnits: Int) {
  private val t, u = Vector.newBuilder[Double]
  def isTraced(unit: Int): Boolean = traced && unit % 2 == 0
  /** At least `minUnits` units (two in a traced run), then while time lasts. */
  def more(unit: Int, deadline: Long): Boolean =
    unit < (if (traced) math.max(minUnits, 2) else minUnits) || System.nanoTime() < deadline
  def record(unit: Int, seconds: Double): Unit = if (isTraced(unit)) t += seconds else u += seconds
  def overhead: Double = Stats.q(t.result(), 0.5) / math.max(Stats.q(u.result(), 0.5), 1e-9)
}

/** Minimal JSON encoder for the result files. */
object Json {
  /** Already-encoded JSON. */
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}:${enc(v)}" }.mkString("{", ",", "}"))
  private def str(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def enc(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${str(k.toString)}:${enc(x)}" }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
