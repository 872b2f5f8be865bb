package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** catalog_mix: the two frozen cohorts of `cohorts.json` (floor: the 78
  * queries under 0.15 s in the r21 bench; heavy: its 15 slowest),
  * interleaved and run through `SparkEntry.queries` to a noop sink the
  * way `graft.Bench` does, over generated tables in the TESTDATA
  * schemas. `WarmSweeps` untimed warm-up sweeps (codegen, footer caches,
  * JIT), then timed sweeps while the run's seconds last: at least
  * `MinSweeps`, so their median rides out the 30 s periodic
  * `System.gc()` the session schedules (see [[Rounds]] for which
  * sweeps a traced run traces). A query that throws is a
  * failed operation; its time up to the throw stays in the sums.
  */
final class Catalog(ctx: Ctx) extends Workload {
  import Catalog._
  private val dir = ctx.inputs.resolve("tables").toString

  private val (floor, heavy) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(new String(Files.readAllBytes(ctx.cohorts), StandardCharsets.UTF_8))
    def names(k: String) = (j \ k).children.collect { case JString(s) => s }.toVector
    (names("floor"), names("heavy"))
  }

  /** Heavy queries spread evenly through the floor cohort. */
  private val order: Vector[String] = {
    val step = floor.size.toDouble / heavy.size
    floor.zipWithIndex.flatMap { case (q, i) =>
      val h = heavy.indices.filter(k => (k * step).toInt == i).map(heavy)
      h :+ q
    }
  }
  require(order.size == floor.size + heavy.size && order.forall(SparkEntry.queries.contains),
    s"cohorts name queries the catalog lacks: ${order.filterNot(SparkEntry.queries.contains)}")

  def touch(spark: SparkSession): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val t = Tables(spark, dir)
    Seq(t.lineitem, t.orders, t.customer, t.events, t.documents, t.embeddings).foreach(_.limit(1).collect())
  }

  def run(spark: SparkSession, tracer: Option[Tracer]): Outcome = {
    val isHeavy = heavy.toSet
    var attempted, failed = 0L
    val failures = scala.collection.mutable.LinkedHashSet.empty[String]
    val floorS, heavyS, sweepS = Vector.newBuilder[Double]
    val rounds = new Rounds(tracer.isDefined, MinSweeps)
    var queries = 0L
    val agg = new EngineAgg(ctx.cores)
    val allSpans = Vector.newBuilder[Span]
    var construct, exec = 0.0
    var eager, tracedQueries = 0L
    val perQuery = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)

    /** One query; returns (construct s, total s). */
    def one(q: String, sweep: Int, tr: Option[Tracer]): (Double, Double) = {
      val owner = s"s$sweep/$q"
      tr.foreach(_ => Tracer.setOwner(spark, owner))
      attempted += 1
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        if (t1 == t0) t1 = System.nanoTime()
        failed += 1
        failures += q
        System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
      }
      val t2 = System.nanoTime()
      tr.foreach { t =>
        t.add(s"query-$owner", "queries.query", owner, t0, t2)
        t.add(s"construct-$owner", "queries.construct", owner, t0, t1, s"query-$owner")
        t.add(s"exec-$owner", "queries.exec", owner, t1, t2, s"query-$owner")
      }
      ((t1 - t0) / 1e9, (t2 - t0) / 1e9)
    }

    val warm0 = System.nanoTime()
    for (w <- 1 to WarmSweeps; q <- order) one(q, -w, None)
    val start = System.nanoTime()
    var sweep = 0
    while (rounds.more(sweep, ctx.deadline(start))) {
      val tr = tracer.filter(_ => rounds.isTraced(sweep))
      tr.foreach(_.begin())
      val s0 = System.nanoTime()
      var f, h = 0.0
      order.foreach { q =>
        val (c, total) = one(q, sweep, tr)
        if (isHeavy(q)) h += total else f += total
        perQuery(q) :+= total
        if (tr.isDefined) { construct += c; exec += total - c }
      }
      val wall = (System.nanoTime() - s0) / 1e9
      queries += order.size
      floorS += f
      heavyS += h
      sweepS += wall
      rounds.record(sweep, wall)
      tr.foreach { t =>
        Tracer.setOwner(spark, null)
        val rec = t.end()
        tracedQueries += order.size
        val ctorSpans = rec.spans.filter(_.name == "queries.construct")
        eager += rec.jobs.count(j => ctorSpans.exists(s => s.owner == j.owner && s.start <= j.start && j.start <= s.end))
        val spans = rec.spans ++ Tracer.jobSpans(rec, Map.empty, Set("queries.query"))
        agg.add(rec, order.size, (System.nanoTime() - s0), spans, _ => false)
        allSpans ++= spans
      }
      sweep += 1
    }
    val fl = floorS.result()
    val hv = heavyS.result()
    val wall = sweepS.result().sum
    val nq = math.max(tracedQueries, 1L).toDouble
    tracer.foreach(_ => Main.sidecar(ctx, allSpans.result(), Map("traced_queries" -> tracedQueries)))
    val checks = failures.toSeq.map(q => s"$q threw")
    Outcome(
      attempted = attempted, failed = failed, correct = failed == 0, checks = checks,
      e2e = Map(
        "ops_per_s" -> M(queries / wall, "1/s"),
        "main_s_p50" -> M(Stats.q(fl, 0.5), "s"), "aux_s_p50" -> M(Stats.q(hv, 0.5), "s")),
      named = Map(
        "catalog_floor_s" -> M(Stats.q(fl, 0.5), "s"), "catalog_heavy_s" -> M(Stats.q(hv, 0.5), "s"),
        "queries_per_s" -> M(queries / wall, "1/s"), "sweeps" -> M(fl.size, "count")),
      layers = agg.metrics() ++ Map(
        "queries.construct_s" -> construct / nq, "queries.eager_jobs" -> eager / nq, "queries.exec_s" -> exec / nq,
        "trace.overhead_ratio" -> rounds.overhead),
      counts = Map("sweeps" -> sweep.toLong, "queries" -> queries, "floor" -> floor.size.toLong,
        "heavy" -> heavy.size.toLong, "traced_queries" -> tracedQueries, "warmup_ms" -> (start - warm0) / 1000000L),
      detail = perQuery.map { case (q, ts) => s"$q.s_p50" -> Stats.q(ts, 0.5) }.toMap ++
        Map("floor_s" -> fl, "heavy_s" -> hv),
    )
  }
}

object Catalog {
  val WarmSweeps = 4
  val MinSweeps = 6
}
