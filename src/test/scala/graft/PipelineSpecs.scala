package graft

import graft.operators.FieldMapping
import graft.pipeline._
import graft.pipeline.PipelineRunner.PipelineSpec
import graft.sources.ZipIngest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class ZipIngestSpec extends SparkSpec {

  /** Each member of a zip read by `ZipIngest.read` against Spark's own
    * `spark.read.json(spark.createDataset(lines))`: same schema, same rows.
    */
  private def assertSparkEquivalent(members: Seq[(String, Seq[String])]): Unit = {
    import spark.implicits._
    val zip = tmpDir("zipequiv").resolve("in.zip")
    Fixtures.writeZip(zip, members.map { case (name, lines) => s"$name.json" -> lines.mkString("\n") })
    val got = ZipIngest.read(spark, zip.toString).entities
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    members.foreach { case (name, lines) =>
      val want = spark.read.json(spark.createDataset(lines))
      assert(got(name).schema === want.schema, s"$name: ${lines.mkString(" ⏎ ")}")
      assert(rows(got(name)) === rows(want), s"$name: ${lines.mkString(" ⏎ ")}")
    }
  }

  test("driver-side inference matches spark.read.json: ext-JSON, widening, nulls, arrays, corrupt and blank lines") {
    assertSparkEquivalent(Seq(
      "extjson" -> Seq(
        """{"_id": {"$oid": "5f1"}, "at": {"$date": 1600000000000}, "amt": {"$numberDecimal": "9.99"}}""",
        """{"_id": {"$oid": "5f2"}, "at": {"$date": "2020-09-13T12:26:40Z"}, "amt": {"$numberDecimal": "-0.5"}}"""),
      "widening" -> Seq(
        """{"v": 1, "n": 7, "s": "x"}""",
        """{"v": 2.5, "n": 12345678901234, "s": 3}""",
        """{"v": "text", "n": 123456789012345678901234567890}"""),
      "nulls" -> Seq(
        """{"gone": null, "k": 1}""",
        """{}""",
        """{"gone": null, "xs": [{"a": 1}, {"a": 2, "b": "y"}], "e": {}}""",
        """{"xs": [], "ys": [null]}"""),
      "corrupt" -> Seq(
        """{"a": 1}""",
        """{"a": """,
        "",
        "   ",
        """[{"a": 2}, {"a": 3}]""",
        "17",
        """{"a": 4}"""),
      "empty" -> Seq.empty,
    ))
  }

  test("property: driver-side inference matches spark.read.json on generated JSON lines") {
    val scalar: Gen[String] = Gen.oneOf(
      Gen.choose(-1000L, 1000L).map(_.toString),
      Gen.choose(Long.MinValue / 2, Long.MaxValue / 2).map(_.toString),
      Gen.const("123456789012345678901234567890"),
      Gen.choose(-1e6, 1e6).map(_.toString),
      Gen.listOfN(3, Gen.alphaLowerChar).map(cs => "\"" + cs.mkString + "\""),
      Gen.oneOf("true", "false", "null", "\"\""),
      Gen.const("""{"$oid": "5f1a"}"""),
      Gen.choose(0L, 2000000000000L).map(ms => s"""{"$$date": $ms}"""),
      Gen.choose(0, 99999).map(c => s"""{"$$numberDecimal": "${c / 100}.${c % 100}"}"""))
    val keys = Gen.oneOf("a", "b", "c", "d")
    def value(depth: Int): Gen[String] =
      if (depth == 0) scalar
      else Gen.frequency(
        6 -> scalar,
        1 -> Gen.choose(0, 3).flatMap(Gen.listOfN(_, value(depth - 1))).map(_.mkString("[", ", ", "]")),
        1 -> obj(depth - 1))
    def obj(depth: Int): Gen[String] = for {
      n <- Gen.choose(0, 4)
      ks <- Gen.listOfN(n, keys)
      vs <- Gen.listOfN(n, value(depth))
    } yield ks.distinct.zip(vs).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    val line = Gen.frequency(
      12 -> obj(2),
      1 -> Gen.oneOf("", "{\"a\": ", "not json", "[{\"a\": 1}]", "42"))
    val member = Gen.choose(0, 8).flatMap(Gen.listOfN(_, line))
    (0 until 20).foreach { i =>
      Gen.listOfN(2, member).apply(Gen.Parameters.default, Seed(i.toLong)).foreach { ms =>
        assertSparkEquivalent(ms.zipWithIndex.map { case (lines, j) => s"e$j" -> lines })
      }
    }
  }

  test("zip fixture: metadata + per-entity json-lines members") {
    val dir = tmpDir("zipingest")
    val zip = dir.resolve("input.zip")
    Fixtures.writeZip(zip, Seq(
      "metadata.json" -> """{"workflow_system_name": "crm", "company_id": 42}""",
      "contact.json" -> Seq(
        """{"cid": {"$oid": "aa"}, "name": "alice", "created": {"$date": 1600000000000}}""",
        """{"cid": {"$oid": "bb"}, "name": "bob", "created": {"$date": 1600000001000}}""",
      ).mkString("\n"),
      "transaction.json" -> """{"tid": 1, "amount": {"$numberDecimal": "9.99"}}""",
    ))
    val payload = ZipIngest.read(spark, zip.toString)
    assert(payload.metadata === Map("workflow_system_name" -> "crm", "company_id" -> "42"))
    assert(payload.entities.keySet === Set("contact", "transaction"))
    assert(payload.entities("contact").count() === 2L)
    assert(payload.entities("transaction").count() === 1L)
  }

  test("metadata parser flattens scalars, ignores nested") {
    val m = ZipIngest.parseMetadata("""{"a": "x", "n": 5, "f": 1.5, "b": true, "nested": {"k": 1}}""")
    assert(m === Map("a" -> "x", "n" -> "5", "f" -> "1.5", "b" -> "true"))
  }
}

class PipelineRunnerSpec extends SparkSpec {

  test("zip -> split -> transform -> enrich -> persist with concurrent branches, stats, and barrier") {
    val dir = tmpDir("pipeline")
    val zip = dir.resolve("input.zip")
    val sink = dir.resolve("sink").toString
    Fixtures.writeZip(zip, Seq(
      "metadata.json" -> """{"workflow_system_name": "crm", "company_id": 42}""",
      "contact.json" -> Seq(
        """{"cid": "c1", "name": "alice", "segment": "building"}""",
        """{"cid": "c2", "name": "bob", "segment": null}""",
      ).mkString("\n"),
      "transaction.json" -> Seq(
        """{"tid": 1, "amount": 9.99}""",
        """{"tid": 2, "amount": 1.25}""",
        """{"tid": 3, "amount": 4.50}""",
      ).mkString("\n"),
    ))
    val spec = PipelineSpec(
      runId = "run_test_1",
      mappings = Map(
        "contact" -> Seq(
          FieldMapping("cid", "contact_id"),
          FieldMapping("upper(name)", "full_name"),
          FieldMapping("segment", "segment", default = Some("'unknown'")),
        ),
        "transaction" -> Seq(
          FieldMapping("tid", "txn_id", Some("bigint")),
          FieldMapping("amount", "amount", Some("double")),
        ),
      ),
      enrichments = Map(
        "transaction" -> (df => df.withColumn("amount_cents", (col("amount") * 100).cast("bigint"))),
      ),
      sinkDir = sink,
    )
    val alerts = new LogAlertSink
    val stats = PipelineRunner.runFromZip(spark, zip.toString, spec, alerts)

    val contacts = spark.read.parquet(s"$sink/contact").orderBy("contact_id").collect()
    assert(contacts.map(_.toSeq).toSeq === Seq(
      Seq("c1", "ALICE", "building"), Seq("c2", "BOB", "unknown")))
    val txns = spark.read.parquet(s"$sink/transaction").orderBy("txn_id").collect()
    assert(txns.map(_.getAs[Long]("amount_cents")).toSeq === Seq(999L, 125L, 450L))

    // stats side-channel: one COMPLETED row per entity with observed rows
    val byStep = stats.filter(_.status == "COMPLETED").groupBy(_.step)
    assert(byStep.contains("contact") && byStep.contains("transaction"))
    assert(byStep("contact").exists(_.rows.contains(2L)))
    assert(byStep("transaction").exists(_.rows.contains(3L)))
    assert(alerts.alerts.isEmpty)
  }

  test("per-file Spark floor: decoding submits no job; a two-entity run is two one-task jobs, one part file per sink") {
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("pipelinefloor")
    val zip = dir.resolve("input.zip")
    val sink = dir.resolve("sink")
    Fixtures.writeZip(zip, Seq(
      "metadata.json" -> """{"workflow_system_name": "crm"}""",
      "contact.json" -> (1 to 30).map(i => s"""{"cid": "c$i", "name": "n$i"}""").mkString("\n"),
      "transaction.json" -> (1 to 40).map(i => s"""{"tid": $i, "amount": $i.5}""").mkString("\n"),
    ))
    val decodeJobs = PipelineSpecs.jobsDuring(spark) {
      ZipIngest.read(spark, zip.toString).entities.values.foreach(_.schema)
    }
    assert(decodeJobs.isEmpty, s"decoding submitted jobs: $decodeJobs")
    val spec = PipelineSpec(
      runId = "run_floor",
      mappings = Map(
        "contact" -> Seq(FieldMapping("cid", "contact_id")),
        "transaction" -> Seq(FieldMapping("tid", "txn_id"), FieldMapping("amount", "amount"))),
      sinkDir = sink.toString)
    val runJobs = PipelineSpecs.jobsDuring(spark) {
      PipelineRunner.runFromZip(spark, zip.toString, spec)
    }
    assert(runJobs.map(_._2) === Seq(1, 1), s"jobs (description, tasks): $runJobs")
    Seq("contact" -> 30L, "transaction" -> 40L).foreach { case (entity, n) =>
      val parts = java.nio.file.Files.list(sink.resolve(entity)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq
      assert(parts.size === 1, s"$entity: $parts")
      assert(spark.read.parquet(sink.resolve(entity).toString).count() === n)
    }
  }

  test("failing branch raises after the barrier and the alert sink fires (dag_utils TODO)") {
    import spark.implicits._
    val dir = tmpDir("pipelinefail")
    val spec = PipelineSpec(
      runId = "run_test_2",
      mappings = Map("bad" -> Seq(FieldMapping("assert_true(x < 0, 'boom')", "chk"), FieldMapping("x", "x"))),
      sinkDir = dir.resolve("sink").toString,
    )
    val alerts = new LogAlertSink
    val bad = Seq(1L, 2L).toDF("x")
    intercept[Exception] {
      PipelineRunner.run(spark, Map("bad" -> bad), spec, alerts)
    }
    // the dag_utils TODO behavior: the failure fired an alert attributed
    // to THIS run and step
    import scala.jdk.CollectionConverters._
    assert(alerts.alerts.asScala.exists { case (r, s, _) => r == "run_test_2" && s == "bad" },
      alerts.alerts.asScala.toSeq.toString)
  }

  test("a failing run's FAILED row and alert stay scoped to that run under concurrency") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("pipelinefailscope")
    val goodSpec = PipelineSpec(
      runId = "runGood",
      mappings = Map("contact" -> Seq(FieldMapping("x", "x"))),
      sinkDir = dir.resolve("good").toString)
    val badSpec = PipelineSpec(
      runId = "runBad",
      mappings = Map("contact" -> Seq(FieldMapping("assert_true(x < 0, 'boom')", "chk"), FieldMapping("x", "x"))),
      sinkDir = dir.resolve("bad").toString)
    val alertsGood = new LogAlertSink
    val alertsBad = new LogAlertSink
    val goodF = Future(PipelineRunner.run(spark, Map("contact" -> (1L to 9L).toDF("x")), goodSpec, alertsGood))
    val badF = Future(PipelineRunner.run(spark, Map("contact" -> (1L to 3L).toDF("x")), badSpec, alertsBad))
    val statsGood = Await.result(goodF, 2.minutes)
    intercept[Exception](Await.result(badF, 2.minutes))
    // the bad run alerted under ITS id; the healthy run saw neither a
    // FAILED stats row nor an alert (the shared-session listener must
    // scope failures by observe node, not record every failed query).
    // Grace period first: listener delivery is async, and a cross-fired
    // alert would arrive late — the negative asserts must not pass by
    // racing it
    Thread.sleep(1000)
    assert(alertsBad.alerts.asScala.exists { case (r, s, _) => r == "runBad" && s == "contact" },
      alertsBad.alerts.asScala.toSeq.toString)
    assert(alertsGood.alerts.asScala.isEmpty, alertsGood.alerts.asScala.toSeq.toString)
    assert(!statsGood.exists(_.status == "FAILED"), statsGood.toString)
    assert(statsGood.exists(s => s.status == "COMPLETED" && s.rows.contains(9L)))
  }

  test("two concurrent runs on one shared session never cross-attribute stats rows") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmpDir("pipelineconcurrent")
    // same ENTITY NAME in both runs: under the old bare step prefix this
    // is exactly the collision that swapped metrics between runs
    def spec(runId: String, sink: String) = PipelineSpec(
      runId = runId,
      mappings = Map("contact" -> Seq(FieldMapping("x", "x"))),
      sinkDir = sink,
    )
    val dfA = (1L to 7L).toDF("x")
    val dfB = (1L to 11L).toDF("x")
    val (statsA, statsB) = Await.result(
      Future(PipelineRunner.run(spark, Map("contact" -> dfA), spec("runA", dir.resolve("a").toString)))
        .zip(Future(PipelineRunner.run(spark, Map("contact" -> dfB), spec("runB", dir.resolve("b").toString)))),
      2.minutes)
    val a = statsA.filter(_.status == "COMPLETED")
    val b = statsB.filter(_.status == "COMPLETED")
    assert(a.map(s => (s.run_id, s.step, s.rows)) === Seq(("runA", "contact", Some(7L))))
    assert(b.map(s => (s.run_id, s.step, s.rows)) === Seq(("runB", "contact", Some(11L))))
  }

  test("ViewMaintain: insert/update/delete batches converge to the from-scratch join; replay is idempotent") {
    import spark.implicits._
    import graft.pipeline.ViewMaintain
    val dim = Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("d_key", "d_name")
    def b(rows: Seq[(Long, Long, Double, Long, Boolean)]) =
      rows.toDF("k", "fk", "price", "seq", "deleted")
    val batches = Seq(
      b(Seq((1L, 10L, 1.0, 0L, false), (2L, 20L, 2.0, 0L, false))),
      // update row 1's price AND re-point its fk; insert row 3
      b(Seq((1L, 30L, 9.0, 1L, false), (3L, 10L, 3.0, 1L, false))),
      // tombstone row 2; stale redelivery of row 1's ORIGINAL (seq 0)
      // must lose to the stored seq-1 state
      b(Seq((2L, 20L, 2.0, 2L, true), (1L, 10L, 1.0, 0L, false))),
    )
    val (fact, view) = ViewMaintain.foldBatches(
      batches, "k", "seq", "deleted", dim, "fk", "d_key")
    val gotFact = fact.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotFact === Set((1L, 30L, 9.0), (3L, 10L, 3.0)), gotFact.toString)
    val gotView = view.select("k", "price", "d_name")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(gotView === Set((1L, 9.0, "z"), (3L, 3.0, "x")),
      s"update re-joined to the NEW dim row, delete left the view: $gotView")
    // view equals the from-scratch join of the resolved fact at every fold
    val scratch = fact.join(dim, col("fk") === col("d_key"))
      .select("k", "price", "d_name")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(gotView === scratch)
    // replaying the last batch changes nothing (idempotence)
    val (f2, v2) = ViewMaintain.applyBatch(fact, view, batches.last,
      "k", "seq", "deleted", dim, "fk", "d_key")
    assert(f2.exceptAll(fact).isEmpty && fact.exceptAll(f2).isEmpty)
    assert(v2.exceptAll(view).isEmpty && view.exceptAll(v2).isEmpty)
    // malformed dim/fact column collision fails fast
    val e = intercept[IllegalArgumentException] {
      ViewMaintain.applyBatch(fact, view, batches.head, "k", "seq", "deleted",
        dim.withColumnRenamed("d_key", "k"), "fk", "k")
    }
    assert(e.getMessage.contains("collision"), e.getMessage)
  }

  test("ViewMaintain: a fact payload named __state doesn't collide with the pin tag; oversized dims skip the broadcast hint") {
    import spark.implicits._
    import graft.pipeline.ViewMaintain
    // applyBatch accepts ARBITRARY frames (catalog tables refuse __
    // names, raw DataFrames don't): the internal pinPair tag must not
    // shadow a user column literally named __state
    val dim = Seq((10L, "x"), (20L, "y")).toDF("d_key", "d_name")
    val batches = Seq(
      Seq((1L, 10L, 7L, 0L, false), (2L, 20L, 8L, 0L, false))
        .toDF("k", "fk", "__state", "seq", "deleted"),
      Seq((1L, 20L, 9L, 1L, false))
        .toDF("k", "fk", "__state", "seq", "deleted"),
    )
    val (fact, view) = ViewMaintain.foldBatches(
      batches, "k", "seq", "deleted", dim, "fk", "d_key")
    val gotFact = fact.select("k", "__state").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotFact === Set((1L, 9L), (2L, 8L)),
      s"the user __state payload must survive the pin round-trip: $gotFact")
    val gotView = view.select("k", "__state", "d_name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(gotView === Set((1L, 9L, "y"), (2L, 8L, "y")), gotView.toString)
    // broadcast gating: under a tiny cap the delta join must NOT carry
    // the explicit broadcast hint on the dim side (the planner decides)
    val capKey = "spark.graft.viewMaintain.broadcastDimBytes"
    spark.conf.set(capKey, "1")
    try {
      val (f2, v2) = ViewMaintain.applyBatch(fact, view, batches.last,
        "k", "seq", "deleted", dim, "fk", "d_key")
      // correctness unchanged either way
      assert(v2.select("k", "__state", "d_name").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet === gotView)
    } finally spark.conf.unset(capKey)
  }
}

object PipelineSpecs {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import org.apache.spark.sql.SparkSession

  /** The jobs `body` submits, as (description, task count). Job starts
    * reach listeners in submission order, so a marker job run after
    * `body` returns flushes every job it submitted, from any thread.
    */
  def jobsDuring(spark: SparkSession)(body: => Any): Seq[(String, Int)] = {
    val sc = spark.sparkContext
    val marker = s"jobsDuring-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Int)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        seen.add((props.map(_.getProperty("spark.jobGroup.id")).orNull,
          props.map(_.getProperty("spark.job.description")).orNull, j.stageInfos.map(_.numTasks).sum))
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "flush", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_._1 == marker)) {
        if (System.nanoTime() > deadline) throw new AssertionError("the marker job never reached the listener")
        Thread.sleep(10)
      }
      seen.asScala.toSeq.takeWhile(_._1 != marker).map(j => (j._2, j._3))
    } finally sc.removeSparkListener(listener)
  }
}
