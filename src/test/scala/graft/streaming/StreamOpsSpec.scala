package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.{Event, EventLogRegistry}

class StreamOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def populate(name: String, partitions: Int, n: Int) = {
    EventLogRegistry.drop(name)
    val log = EventLogRegistry.create(name, partitions)
    for (p <- 0 until partitions; i <- 0 until n)
      log.append(p, Event(s"$p-$i".getBytes, i * 1000000L))
    log
  }

  test("windowedCounts over the source (reference demo shape)") {
    populate("so1", 2, 100) // 2 partitions, events at t=0..99s
    val src = spark.readStream.format("graft-eventlog").option("name", "so1").load()
    val q = StreamOps.windowedCounts(src, "enqueuedTime", "10 seconds", "10 seconds")
      .writeStream.format("memory").queryName("so1_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val counts = spark.table("so1_out").select($"n").as[Long].collect()
    assert(counts.length == 10 && counts.forall(_ == 20))
  }

  test("streamingDedup drops same-key duplicates within the watermark") {
    EventLogRegistry.drop("so2")
    val log = EventLogRegistry.create("so2", 1)
    // bodies repeat: 0,1,2,0,1,2,... at increasing times
    for (i <- 0 until 30) log.append(0, Event(s"${i % 3}".getBytes, i * 1000000L))
    val src = spark.readStream.format("graft-eventlog").option("name", "so2").load()
      .select(col("enqueuedTime"), col("body").cast("string").as("k"))
      .withColumn("enqueuedTime", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    val q = StreamOps.streamingDedup(src, "enqueuedTime", "1 hour", Seq("k"))
      .writeStream.format("memory").queryName("so2_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("so2_out").count() == 3)
  }

  test("sessionize closes sessions on gap events and flushes idle keys via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    def ts(s: Long) = new Timestamp(s * 1000)
    // user a: events at 1s,10s then 1000s (gap closes first session of 2).
    // NB: an event at t=0 would be dropped by the initial watermark boundary
    // (eventTime <= watermark(0)), so timestamps start at 1s.
    input.addData(("a", ts(1)), ("a", ts(10)), ("b", ts(5)))
    val q = StreamOps.sessionize(input.toDS(), gapMs = 60000)
      .writeStream.format("memory").queryName("so3_out").outputMode("append").start()
    q.processAllAvailable()
    input.addData(("a", ts(1000)))
    q.processAllAvailable()
    input.addData(("a", ts(5000)))
    q.processAllAvailable()
    // advance the watermark far past every open session so event-time
    // timeouts flush them (b's only session, a's 1000s and 5000s sessions)
    input.addData(("z", ts(100000)))
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("so3_out")
      .as[StreamOps.SessionUpdate].collect()
      .filter(_.key != "z").sortBy(s => (s.startMs, s.key))
    assert(sessions.map(s => (s.key, s.nEvents)).toSeq ==
      Seq(("a", 2L), ("b", 1L), ("a", 1L), ("a", 1L)), sessions.mkString(","))
  }

  test("foreachWriter round-robins into a named log (ref S11)") {
    EventLogRegistry.drop("so4"); populate("so4src", 1, 12)
    EventLogRegistry.create("so4", 3)
    val q = spark.readStream.format("graft-eventlog").option("name", "so4src").load()
      .select(col("body").cast("string").as("value")).as[String]
      .writeStream.foreach(StreamOps.foreachWriter("so4"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val bounds = EventLogRegistry.boundedSeqNos("so4")
    assert(bounds.values.map(_._2).sum == 12)
    assert(bounds.values.forall(_._2 > 0), s"round robin skipped: $bounds")
  }

  test("heavyHitterSink: bounded state, skewed terms found, replayed epochs skipped") {
    // 3 heavy terms spread across batches + a long distinct tail: state may
    // never exceed k candidates + one sketch, yet the heavy terms must win
    val (tracker, fn) = StreamOps.heavyHitterSink("body", k = 3)
    def batch(rows: Seq[String]) = rows.toDF("body")
    // batch 0: alpha-heavy; batch 1: beta-heavy; batch 2: gamma + tail noise
    fn(batch(Seq.fill(40)("alpha common") ++ Seq.tabulate(20)(i => s"t0_$i")), 0L)
    fn(batch(Seq.fill(30)("beta common") ++ Seq.tabulate(20)(i => s"t1_$i")), 1L)
    fn(batch(Seq.fill(25)("gamma") ++ Seq.tabulate(20)(i => s"t2_$i")), 2L)
    val got = tracker.result
    assert(got.length <= 3, s"state exceeded k: $got")
    // common: 70 across epochs; alpha 40; beta 30 — the cross-batch merge
    // must rank 'common' first even though no single batch made it #1
    assert(got.map(_._1) == Seq("common", "alpha", "beta"), got.toString)
    assert(got.toMap.apply("common") == 70L, got.toString)
    // replayed epoch (failure recovery re-runs epoch 2): counts unchanged
    fn(batch(Seq.fill(25)("gamma")), 2L)
    assert(tracker.estimate("gamma") == 25L, "replayed epoch was double-merged")
    // a fresh epoch does merge
    fn(batch(Seq.fill(50)("gamma")), 3L)
    assert(tracker.estimate("gamma") == 75L)
    // checkpoint/restore: a restarted driver resumes the tracker — same
    // top-k, same estimates, and the restored epoch floor still rejects a
    // replay of the last merged epoch
    val (restored, fn2) = StreamOps.heavyHitterSink("body", k = 3)
    restored.restore(tracker.toBytes)
    assert(restored.result == tracker.result)
    fn2(batch(Seq.fill(50)("gamma")), 3L) // replay of epoch 3: skipped
    assert(restored.estimate("gamma") == 75L)
    fn2(batch(Seq.fill(5)("gamma")), 4L)  // new epoch: merged
    assert(restored.estimate("gamma") == 80L)
    // reset(): a reused tracker serves a NEW query whose epochs restart at
    // 0 — without it, the replay guard would skip every batch
    restored.reset()
    assert(restored.result.isEmpty)
    fn2(batch(Seq.fill(3)("delta")), 0L)
    assert(restored.estimate("delta") == 3L,
      "post-reset epoch 0 was treated as a replay")
  }

  test("heavyHitter restore validates CMS params: a differently-configured tracker throws") {
    // the checkpoint header carries (k, eps, confidence, seed); restoring
    // into a tracker whose CMS was built with ANY other configuration must
    // fail loudly — a silent merge of incompatible sketches (different
    // width/depth/hash seeds) produces garbage counts with no error
    val (writer, fn) = StreamOps.heavyHitterSink("body", k = 3)
    def batch(terms: Seq[String]) = {
      import spark.implicits._
      terms.toDF("body")
    }
    fn(batch(Seq.fill(10)("alpha")), 0L)
    val bytes = writer.toBytes
    for (mismatched <- Seq(
        StreamOps.heavyHitterSink("body", k = 5)._1,
        StreamOps.heavyHitterSink("body", k = 3, eps = 0.01)._1,
        StreamOps.heavyHitterSink("body", k = 3, confidence = 0.95)._1,
        StreamOps.heavyHitterSink("body", k = 3, seed = 7)._1)) {
      val e = intercept[IllegalArgumentException](mismatched.restore(bytes))
      assert(e.getMessage.contains("differently-configured"), e.getMessage)
    }
    // garbage bytes are rejected by the magic, not misparsed as state
    val bad = intercept[IllegalArgumentException](
      StreamOps.heavyHitterSink("body", k = 3)._1.restore(
        Array.fill[Byte](64)(0x2a)))
    assert(bad.getMessage.contains("magic"), bad.getMessage)
    // the matching configuration still round-trips
    val (same, _) = StreamOps.heavyHitterSink("body", k = 3)
    same.restore(bytes)
    assert(same.estimate("alpha") == 10L)
  }

  test("constraintSink: cumulative profile == batch check, replayed epoch skipped, reset clears") {
    import spark.implicits._
    val rules = Seq(
      "text_nonempty" -> (length(col("text")) > 0),
      "id_le_5" -> (col("id") <= 5L))
    def batch(rows: Seq[(Long, String)]) = rows.toDF("id", "text")
    val (tracker, fn) = StreamOps.constraintSink(col("id"), rules)
    val b0 = Seq((1L, "ok"), (2L, ""), (3L, "fine"))
    val b1 = Seq((7L, "ok"), (8L, ""), (4L, "x"))
    fn(batch(b0), 0L); fn(batch(b1), 1L)
    // at-least-once replay of epoch 1 must not double-count
    fn(batch(b1), 1L)
    val all = b0 ++ b1
    val expected = graft.operators.Validation.checkConstraints(
        batch(all), col("id"), rules)
      .select(col("rule"), col("n_rows"), col("n_violations"), col("first_violation"))
      .as[(String, Long, Long, Option[String])].collect().toSeq
    assert(tracker.result == expected,
      s"tracker ${tracker.result} != batch $expected")
    // min offender crosses batches: epoch 0's "2" beats epoch 1's "8"
    assert(tracker.result.find(_._1 == "text_nonempty").get._4 == Some("2"))
    tracker.reset()
    assert(tracker.result.forall(r => r._2 == 0 && r._3 == 0 && r._4.isEmpty))
    // post-reset epoch 0 is merged again, not skipped by the old floor
    fn(batch(b0), 0L)
    assert(tracker.result.find(_._1 == "text_nonempty").get._2 == 3L)
  }

  test("constraintTracker checkpoint: byte round-trip, rule-set validation, replay floor survives") {
    import spark.implicits._
    val rules = Seq("a" -> ($"id" > 0L), "b" -> (length($"text") > 0))
    val (t1, fn1) = StreamOps.constraintSink(col("id"), rules)
    fn1(Seq((0L, "x"), (2L, "")).toDF("id", "text"), 0L)
    fn1(Seq((3L, "y")).toDF("id", "text"), 1L)
    val bytes = t1.toBytes
    // fresh "process": restore, replay epoch 1 (skipped by the restored
    // floor), then continue — totals equal an unbroken accumulation
    val (t2, fn2) = StreamOps.constraintSink(col("id"), rules)
    t2.restore(bytes)
    fn2(Seq((3L, "y")).toDF("id", "text"), 1L) // replay: must be skipped
    fn2(Seq((-1L, "z")).toDF("id", "text"), 2L)
    assert(t2.result == Seq(
      ("a", 4L, 2L, Some("-1")), ("b", 4L, 1L, Some("2"))), t2.result.toString)
    // a different rule set must refuse the bytes, not mis-attribute counts
    val (t3, _) = StreamOps.constraintSink(col("id"),
      Seq("a" -> ($"id" > 0L), "c" -> (length($"text") > 0)))
    val e = intercept[IllegalArgumentException](t3.restore(bytes))
    assert(e.getMessage.contains("wrong"), e.getMessage)
    // foreign bytes rejected by the magic
    val bad = intercept[IllegalArgumentException](
      t3.restore(Array.fill[Byte](64)(0x11)))
    assert(bad.getMessage.contains("magic"), bad.getMessage)
  }

  test("driftSink: cumulative counts == batch histogram, replay skipped, PSI matches batch") {
    import spark.implicits._
    val ref = Seq(1.0, 2.0, 5.0, 5.0, 9.0).toDF("v")
    val b0 = Seq(Some(1.0), Some(6.0), None)
    val b1 = Seq(Some(6.5), Some(-3.0), Some(42.0)) // clamps both edges
    val tracker = StreamOps.driftFit(ref, "v", lo = 0.0, hi = 10.0, buckets = 5)
    val sink = StreamOps.driftSink(tracker, "v")
    sink(b0.toDF("v"), 0L); sink(b1.toDF("v"), 1L)
    sink(b1.toDF("v"), 1L) // at-least-once replay must not double-count
    val batch = graft.operators.Validation.distributionDrift(
        ref, (b0 ++ b1).toDF("v"), "v", 0.0, 10.0, 5)
      .select(col("bucket"), col("n_ref"), col("n_cur"))
      .as[(Int, Long, Long)].collect().toSeq
    assert(tracker.counts == batch, s"${tracker.counts} != $batch")
    val batchPsi = graft.operators.Validation.psiTotal(
      ref, (b0 ++ b1).toDF("v"), "v", 0.0, 10.0, 5)
    assert(math.abs(tracker.psiTotal - batchPsi) < 1e-12)
    // reset clears the stream side + floor, keeps the fitted reference
    tracker.reset()
    assert(tracker.counts.forall(_._3 == 0L) && tracker.counts.map(_._2).sum == 5L)
    sink(b0.toDF("v"), 0L)
    assert(tracker.counts.map(_._3).sum == 2L)
  }

  test("driftSink hard gate: trips at the exact crossing epoch; replay never double-trips") {
    import spark.implicits._
    // reference: uniform over [0, 10); planted drift arrives in epoch 2
    val ref = Seq(1.0, 3.0, 5.0, 7.0, 9.0).toDF("v")
    val tracker = StreamOps.driftFit(ref, "v", lo = 0.0, hi = 10.0, buckets = 5)
    val sink = StreamOps.driftSink(tracker, "v", maxPsi = 0.5)
    // epochs 0-1: same distribution — cumulative PSI stays under the gate
    sink(Seq(1.0, 3.0, 5.0, 7.0, 9.0).toDF("v"), 0L)
    assert(tracker.psiTotal < 0.5)
    sink(Seq(1.0, 3.0, 5.0, 7.0, 9.0).toDF("v"), 1L)
    // epoch 2: everything lands in the top bucket — cumulative PSI crosses
    val drifted = Seq.fill(50)(9.9).toDF("v")
    val e = intercept[IllegalStateException](sink(drifted, 2L))
    assert(e.getMessage.contains("epoch 2") &&
      e.getMessage.contains("worst buckets"), e.getMessage)
    // the tripping epoch MERGED before throwing; its recovery-replay is
    // merge-skipped by the floor (no double-count) but the gate itself
    // RE-EVALUATES — if the tripped epoch was the stream's last, a
    // restarted query must re-fail, not complete over the threshold
    val countsAfterTrip = tracker.counts
    intercept[IllegalStateException](sink(drifted, 2L))
    assert(tracker.counts == countsAfterTrip) // idempotent: no double-merge
    // the NEXT epoch still gates (cumulative PSI remains over)
    intercept[IllegalStateException](sink(Seq(9.9).toDF("v"), 3L))
  }

  test("constraintSink hard gate: cumulative tolerance crossing trips once per epoch, replay-safe") {
    import spark.implicits._
    val rules = Seq("text_nonempty" -> (length(col("text")) > 0))
    // tolerance 0.25: one empty text among the first four rows stays under
    val (tracker, fn) = StreamOps.constraintSink(col("id"), rules,
      hardTolerance = Some(Map("text_nonempty" -> 0.25)))
    fn(Seq((1L, "ok"), (2L, "ok"), (3L, ""), (4L, "ok")).toDF("id", "text"), 0L)
    assert(tracker.result.head._3 == 1L) // merged, under tolerance (1/4)
    // epoch 1 pushes the CUMULATIVE fraction to 3/6 > 0.25 -> trips
    val bad = Seq((5L, ""), (6L, "")).toDF("id", "text")
    val e = intercept[IllegalStateException](fn(bad, 1L))
    assert(e.getMessage.contains("epoch 1") &&
      e.getMessage.contains("text_nonempty"), e.getMessage)
    // replay of the tripping epoch: merge-skipped by the floor (counts
    // unchanged) but the gate re-trips — a crash-then-retry on a final
    // tripping epoch must re-fail, not complete over tolerance
    val after = tracker.result
    intercept[IllegalStateException](fn(bad, 1L))
    assert(tracker.result == after)
    // zero tolerance (empty map): the first violation anywhere trips
    val (_, strict) = StreamOps.constraintSink(col("id"), rules,
      hardTolerance = Some(Map.empty))
    strict(Seq((1L, "ok")).toDF("id", "text"), 0L)
    intercept[IllegalStateException](
      strict(Seq((2L, "")).toDF("id", "text"), 1L))
    // unknown rule name in the tolerance map is a loud config error
    intercept[IllegalArgumentException](StreamOps.constraintSink(
      col("id"), rules, hardTolerance = Some(Map("nope" -> 0.1))))
  }

  test("driftTracker checkpoint: byte round-trip validates params AND reference histogram") {
    import spark.implicits._
    val ref = Seq(1.0, 2.0, 7.0).toDF("v")
    val t1 = StreamOps.driftFit(ref, "v", 0.0, 10.0, 5)
    val sink1 = StreamOps.driftSink(t1, "v")
    sink1(Seq(3.0, 8.0).toDF("v"), 0L)
    val bytes = t1.toBytes
    // fresh "process": restore, replayed epoch skipped, totals continue
    val t2 = StreamOps.driftFit(ref, "v", 0.0, 10.0, 5)
    t2.restore(bytes)
    StreamOps.driftSink(t2, "v")(Seq(3.0, 8.0).toDF("v"), 0L) // replay
    StreamOps.driftSink(t2, "v")(Seq(1.0).toDF("v"), 1L)
    assert(t2.counts.map(_._3).sum == 3L, t2.counts.toString)
    // different bucketing refuses the bytes
    val tB = StreamOps.driftFit(ref, "v", 0.0, 10.0, 4)
    val e1 = intercept[IllegalArgumentException](tB.restore(bytes))
    assert(e1.getMessage.contains("differently-configured"), e1.getMessage)
    // same params, DIFFERENT reference snapshot: refused, not garbage PSI
    val tR = StreamOps.driftFit(Seq(1.0, 2.0, 2.0).toDF("v"), "v", 0.0, 10.0, 5)
    val e2 = intercept[IllegalArgumentException](tR.restore(bytes))
    assert(e2.getMessage.contains("reference"), e2.getMessage)
    // foreign bytes rejected by the magic
    val e3 = intercept[IllegalArgumentException](
      t2.restore(Array.fill[Byte](64)(0x2a)))
    assert(e3.getMessage.contains("magic"), e3.getMessage)
  }

  test("fuzzyLinkStream: any trigger slicing unions to the batch fuzzyJoin") {
    implicit val sqlCtx = spark.sqlContext
    val catalog = Seq(1L -> "kitten", 2L -> "sitting", 3L -> "mitten",
      4L -> "flour").toDF("id", "key")
    val dirty = Seq((10L, "kittXn"), (11L, "sittin"), (12L, "flour"),
      (13L, "zzzzzz"), (14L, "mitten"))
    val expected = graft.operators.Fuzzy.fuzzyJoin(catalog,
        dirty.toDF("rid", "rkey"), "id", "key", "rid", "rkey", 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(expected.nonEmpty && !expected.exists(_._2 == 13L))
    for (slices <- Seq(Seq(dirty), dirty.grouped(2).toSeq, dirty.map(Seq(_)))) {
      val input = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.Set.empty[(Long, Long, Int)]
      val q = StreamOps.fuzzyLinkStream(input.toDF().toDF("rid", "rkey"),
          catalog, "id", "key", "rid", "rkey", maxDist = 1) { (res, _) =>
        got ++= res.as[(Long, Long, Int)].collect()
        ()
      }.start()
      slices.foreach { s => input.addData(s: _*); q.processAllAvailable() }
      q.stop()
      assert(got.toSet == expected, s"slicing ${slices.map(_.size)} diverged")
    }
  }

  test("asofEnrichStream: any trigger slicing unions to the batch asofJoin") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    // static dimension: per-key value history with gaps and ties
    val dim = Seq(
      ("k1", ts(10), 100L), ("k1", ts(50), 150L), ("k1", ts(50), 160L),
      ("k2", ts(30), 200L)).toDF("k", "t", "v")
    val leftRows = Seq(
      (1L, "k1", ts(5)),   // before any right row -> null
      (2L, "k1", ts(10)),  // exactly at -> 100
      (3L, "k1", ts(60)),  // after the tie -> max of tie = 160
      (4L, "k2", ts(100)), // -> 200
      (5L, "k3", ts(40))) // key with no dimension rows -> null
    val expected = graft.operators.Relational.asofJoin(
        leftRows.toDF("id", "k", "t"), dim, "k", "t", Map("v" -> "v"))
      .select($"id", $"v").as[(Long, Option[Long])].collect().toSet
    // stream the left side in 3 different slicings; every one must union
    // to the batch result exactly (per-row stateless w.r.t. the stream)
    for (slices <- Seq(Seq(leftRows), leftRows.grouped(2).toSeq,
        leftRows.map(Seq(_)))) {
      val input = MemoryStream[(Long, String, Timestamp)]
      val got = scala.collection.mutable.Set.empty[(Long, Option[Long])]
      val q = StreamOps.asofEnrichStream(
          input.toDF().toDF("id", "k", "t"), dim, "k", "t",
          Map("v" -> "v")) { (res, _) =>
        got ++= res.select(col("id"), col("v"))
          .as[(Long, Option[Long])].collect()
        ()
      }.start()
      slices.foreach { s => input.addData(s: _*); q.processAllAvailable() }
      q.stop()
      assert(got.toSet == expected, s"slicing ${slices.map(_.size)} diverged")
    }
  }

  test("asofEnrichStream driver restart end-to-end: checkpoint resume + epoch replay == batch join") {
    // a REAL enrichment stream stopped mid-corpus and resumed from the
    // same Spark checkpoint in a "new process" (a fresh asofEnrichStream
    // writer refits the dimension). The last commit file is deleted before
    // the resume, so Spark genuinely replays the final pre-stop epoch —
    // the per-epoch overwrite sink (the idempotency the scaladoc demands)
    // must absorb it. Final output == the batch asofJoin over all probes.
    def ts(s: Long) = new Timestamp(s * 1000)
    val dim = Seq(
      ("k1", ts(10), 100L), ("k1", ts(50), 150L), ("k1", ts(50), 160L),
      ("k2", ts(30), 200L)).toDF("k", "t", "v")
    val probes = (0 until 40).map { i =>
      (i.toLong, s"k${i % 4}", ts(i * 3L)) // k0/k3 have no dimension rows
    }
    val base = java.nio.file.Files.createTempDirectory("asof_restart").toString
    def feed(rows: Seq[(Long, String, Timestamp)]): Unit =
      rows.toDF("id", "k", "t").coalesce(1)
        .write.mode("append").parquet(s"$base/src")
    def run(): Unit = {
      val q = StreamOps.asofEnrichStream(
          spark.readStream.schema("id LONG, k STRING, t TIMESTAMP")
            .option("maxFilesPerTrigger", "1").parquet(s"$base/src"),
          dim, "k", "t", Map("v" -> "v")) { (res, epoch) =>
        res.write.mode("overwrite").parquet(s"$base/out/epoch=$epoch")
        ()
      }.option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish")
    }
    probes.grouped(10).take(2).foreach(feed); run() // first half: 2 epochs
    val lastCommit = new java.io.File(s"$base/cp/commits/1")
    assert(lastCommit.exists, "expected 2 committed epochs")
    assert(lastCommit.delete())
    new java.io.File(s"$base/cp/commits/.1.crc").delete()
    probes.grouped(10).drop(2).foreach(feed); run() // replay epoch 1 + rest
    val got = spark.read.parquet(s"$base/out")
      .select($"id", $"v").as[(Long, Option[Long])].collect()
    val expected = graft.operators.Relational.asofJoin(
        probes.toDF("id", "k", "t"), dim, "k", "t", Map("v" -> "v"))
      .select($"id", $"v").as[(Long, Option[Long])].collect()
    assert(got.length == expected.length, // replay absorbed, nothing doubled
      s"${got.length} output rows vs ${expected.length} probes")
    assert(got.toSet == expected.toSet)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    ()
  }

  test("heavyHitterTracker driver restart end-to-end: byte-roundtrip + checkpoint resume == unbroken run") {
    // a REAL stream stopped mid-corpus, the tracker checkpointed to bytes,
    // a NEW tracker restored and the query resumed from the SAME Spark
    // checkpoint — final counts must equal an unbroken run. The last commit
    // file is deleted before the resume, so Spark genuinely REPLAYS the
    // final pre-stop epoch (the crash-between-merge-and-commit case) and
    // the restored epoch floor must skip it, not double-merge.
    val base = java.nio.file.Files.createTempDirectory("hh_restart").toString
    def file(dir: String, rows: Seq[String]): Unit =
      rows.toDF("body").coalesce(1).write.mode("append").parquet(dir)
    val files = Seq(
      Seq.fill(10)("common alpha") ++ Seq.tabulate(15)(i => s"a_$i"),
      Seq.fill(10)("common alpha") ++ Seq.tabulate(15)(i => s"b_$i"),
      Seq.fill(10)("common alpha alpha") ++ Seq.tabulate(15)(i => s"c_$i"),
      Seq.fill(10)("common beta") ++ Seq.tabulate(15)(i => s"d_$i"),
      Seq.fill(10)("common beta") ++ Seq.tabulate(15)(i => s"e_$i"),
      Seq.fill(10)("common beta beta") ++ Seq.tabulate(15)(i => s"f_$i"))
    // exact truth: common = 60, alpha = 40, beta = 40 (alpha wins the tie
    // on the term-asc tie-break)
    def run(dir: String, cp: String, fn: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit = {
      val q = spark.readStream.schema("body STRING")
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .writeStream.foreachBatch(fn).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish")
    }
    // unbroken reference run over the full corpus
    files.foreach(file(s"$base/srcA", _))
    val (unbroken, fnA) = StreamOps.heavyHitterSink("body", k = 3)
    run(s"$base/srcA", s"$base/cpA", fnA)
    assert(unbroken.result.map(_._1) == Seq("common", "alpha", "beta"))
    // restart run: first half, stop, checkpoint the tracker to bytes
    files.take(3).foreach(file(s"$base/srcB", _))
    val (before, fnB1) = StreamOps.heavyHitterSink("body", k = 3)
    run(s"$base/srcB", s"$base/cpB", fnB1)
    assert(before.estimate("alpha") == 40L && before.estimate("common") == 30L)
    val bytes = before.toBytes
    // crash between tracker merge and offset commit: epoch 2 merged into
    // the tracker bytes, but Spark's commit log never recorded it
    val lastCommit = new java.io.File(s"$base/cpB/commits/2")
    assert(lastCommit.exists, "expected 3 committed epochs")
    assert(lastCommit.delete())
    // the local FS keeps a checksum sibling; a real HDFS loss drops both
    new java.io.File(s"$base/cpB/commits/.2.crc").delete()
    // resume: fresh process = fresh tracker restored from bytes, same
    // checkpoint; Spark re-runs epoch 2 (skipped) then the second half
    files.drop(3).foreach(file(s"$base/srcB", _))
    val (resumed, fnB2) = StreamOps.heavyHitterSink("body", k = 3)
    resumed.restore(bytes)
    run(s"$base/srcB", s"$base/cpB", fnB2)
    assert(resumed.result == unbroken.result,
      s"resumed ${resumed.result} != unbroken ${unbroken.result}")
    assert(resumed.estimate("common") == 60L, "replayed epoch was double-merged")
    assert(resumed.estimate("alpha") == 40L && resumed.estimate("beta") == 40L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("catDriftSink: cumulative fold == batch categoricalDrift, replay skipped, __other__ keyed by is-other") {
    import graft.operators.Validation
    // reference mix: a dominates, b second, real '__other__' in the tail,
    // c tail — topK = 2 keeps (a, b), folds (c, __other__)
    val ref = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c", "__other__"))
      .toDF("src")
    val curAll = Seq.fill(2)("a") ++ Seq.fill(5)("b") ++
      Seq("d", "d", "__other__", null)
    val tracker = StreamOps.catDriftFit(ref, "src", topK = 2)
    assert(tracker.topCats == Seq("a", "b"))
    val sink = StreamOps.catDriftSink(tracker, "src")
    // any slicing: 3 epochs of uneven sizes
    sink(curAll.take(4).toDF("src"), 0L)
    sink(curAll.slice(4, 5).toDF("src"), 1L)
    sink(curAll.drop(5).toDF("src"), 2L)
    sink(curAll.take(4).toDF("src"), 1L) // replayed epoch: merge skipped
    val streamRows = Validation.categoricalDriftFromCounts(
        tracker.counts.toDF("category", "__ord", "n_ref", "n_cur"), 0.5)
      .select(col("category"), col("n_ref"), col("n_cur"), col("psi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e9)))
    val batchRows = Validation.categoricalDrift(
        ref, curAll.toDF("src"), "src", topK = 2)
      .select(col("category"), col("n_ref"), col("n_cur"), col("psi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e9)))
    assert(streamRows.toSeq == batchRows.toSeq,
      s"stream ${streamRows.toSeq} != batch ${batchRows.toSeq}")
    // the fold row holds the tail (c + the real __other__ string + d+d),
    // never double-counting a top-set category
    val other = tracker.counts.last
    assert(other._1 == "__other__" && other._3 == 2L && other._4 == 3L)
    assert(tracker.psiTotal > 0.0)
    // reset clears the stream side only
    tracker.reset()
    assert(tracker.counts.map(_._4).sum == 0L &&
      tracker.counts.map(_._3).sum == 11L)
  }

  test("catDriftSink hard gate: trips at the crossing epoch, replay re-trips idempotently; checkpoint round-trip") {
    val ref = (Seq.fill(10)("a") ++ Seq.fill(10)("b")).toDF("src")
    val tracker = StreamOps.catDriftFit(ref, "src", topK = 2)
    val sink = StreamOps.catDriftSink(tracker, "src", maxPsi = 0.5)
    sink(Seq("a", "b", "a", "b").toDF("src"), 0L) // balanced: under
    assert(tracker.psiTotal < 0.5)
    // epoch 1: everything lands on 'a' -> cumulative mix shifts over
    val drifted = Seq.fill(60)("a").toDF("src")
    val e = intercept[IllegalStateException](sink(drifted, 1L))
    assert(e.getMessage.contains("epoch 1") &&
      e.getMessage.contains("worst categories"), e.getMessage)
    // replay: merge-skipped (counts unchanged) but the gate re-trips
    val after = tracker.counts
    intercept[IllegalStateException](sink(drifted, 1L))
    assert(tracker.counts == after)
    // checkpoint: restore into a same-fit tracker continues the floor
    val bytes = tracker.toBytes
    val t2 = StreamOps.catDriftFit(ref, "src", topK = 2)
    t2.restore(bytes)
    assert(t2.counts == after)
    StreamOps.catDriftSink(t2, "src")(Seq.fill(60)("a").toDF("src"), 1L) // replay: skipped
    assert(t2.counts == after)
    // differently-fitted monitor refuses the bytes
    val t3 = StreamOps.catDriftFit(
      (Seq.fill(10)("a") ++ Seq.fill(3)("b")).toDF("src"), "src", topK = 2)
    val e2 = intercept[IllegalArgumentException](t3.restore(bytes))
    assert(e2.getMessage.contains("DIFFERENT reference mix"), e2.getMessage)
    val t4 = StreamOps.catDriftFit(ref, "src", topK = 3)
    intercept[IllegalArgumentException](t4.restore(bytes))
  }

  test("groupDriftSink: cumulative == batch per-group profile, mid-stream group admitted, maxGroups loud") {
    import graft.operators.Validation
    val ref = Seq(("g1", 1.0), ("g1", 3.0), ("g1", 9.0), ("g2", 2.0),
      ("g2", 8.0)).toDF("g", "v")
    val curAll = Seq(("g1", 9.5), ("g1", 9.9), ("g2", 2.0), ("g3", 5.0),
      ("g1", 0.5), (null, 7.0), ("g1", Double.NaN))
    val tracker = StreamOps.groupDriftFit(ref, "g", "v", 0.0, 10.0, 5)
    val sink = StreamOps.groupDriftSink(tracker, "g", "v")
    sink(curAll.take(3).toDF("g", "v"), 0L)
    sink(curAll.drop(3).toDF("g", "v"), 1L) // admits mid-stream group g3
    sink(curAll.take(3).toDF("g", "v"), 0L) // replay: merge skipped
    val stream = Validation.distributionDriftByGroupFromCounts(
        tracker.counts.toDF("group", "bucket", "n_ref", "n_cur"),
        0.0, 10.0, 5)
      .select(col("group"), col("bucket"), col("n_ref"), col("n_cur"),
        col("psi")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        math.rint(r.getDouble(4) * 1e9)))
    val batch = Validation.distributionDriftByGroup(ref,
        curAll.toDF("g", "v"), "g", "v", 0.0, 10.0, 5)
      .select(col("group"), col("bucket"), col("n_ref"), col("n_cur"),
        col("psi")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        math.rint(r.getDouble(4) * 1e9)))
    assert(stream.toSeq == batch.toSeq,
      s"stream ${stream.toSeq} != batch ${batch.toSeq}")
    // psiByGroup: g3 has an all-zero reference side, nonzero PSI
    assert(tracker.psiByGroup.keySet == Set("g1", "g2", "g3"))
    assert(tracker.psiByGroup("g3") > 0.0)
    // maxGroups: an id-like group column fails LOUDLY before mutating
    val tiny = StreamOps.groupDriftFit(ref, "g", "v", 0.0, 10.0, 5,
      maxGroups = 3)
    val s2 = StreamOps.groupDriftSink(tiny, "g", "v")
    s2(curAll.take(4).toDF("g", "v"), 0L) // 3 groups: at the cap
    val e = intercept[IllegalArgumentException](
      s2(Seq(("g4", 1.0), ("g5", 2.0)).toDF("g", "v"), 1L))
    assert(e.getMessage.contains("maxGroups"), e.getMessage)
    assert(!tiny.counts.exists(_._1 == "g4"), "failed admit must not mutate")
  }

  test("groupDriftSink hard gate names the failing group; checkpoint round-trip validates reference") {
    val ref = Seq(("g1", 1.0), ("g1", 5.0), ("g2", 1.0), ("g2", 5.0))
      .toDF("g", "v")
    val tracker = StreamOps.groupDriftFit(ref, "g", "v", 0.0, 10.0, 5)
    val sink = StreamOps.groupDriftSink(tracker, "g", "v", maxPsi = 0.5)
    sink(Seq(("g1", 1.0), ("g2", 5.0)).toDF("g", "v"), 0L)
    // g2 floods one bucket; g1 stays balanced -> only g2 is named
    val e = intercept[IllegalStateException](
      sink(Seq.fill(40)(("g2", 9.9)).toDF("g", "v"), 1L))
    assert(e.getMessage.contains("'g2'") && !e.getMessage.contains("'g1'"),
      e.getMessage)
    // replay re-trips idempotently
    val after = tracker.counts
    intercept[IllegalStateException](
      sink(Seq.fill(40)(("g2", 9.9)).toDF("g", "v"), 1L))
    assert(tracker.counts == after)
    // checkpoint round-trip; a differently-fitted reference refuses
    val bytes = tracker.toBytes
    val t2 = StreamOps.groupDriftFit(ref, "g", "v", 0.0, 10.0, 5)
    t2.restore(bytes)
    assert(t2.counts == after && t2.psiByGroup == tracker.psiByGroup)
    val t3 = StreamOps.groupDriftFit(ref.limit(2), "g", "v", 0.0, 10.0, 5)
    val e2 = intercept[IllegalArgumentException](t3.restore(bytes))
    assert(e2.getMessage.contains("DIFFERENT reference"), e2.getMessage)
  }

  test("embedDriftSink: cumulative sums == batch embeddingDrift (rounded), dim mismatch mid-stream, minCos gate") {
    import graft.operators.Similarity
    def r4(d: Double) = math.rint(d * 1e4)
    val ref = Seq(("x", Seq(1.0, 0.0)), ("x", Seq(0.8, 0.2)),
      ("y", Seq(0.0, 1.0))).toDF("label", "v")
    val curAll = Seq(("x", Seq(0.9, 0.1)), ("x", Seq(1.1, -0.1)),
      ("y", Seq(0.1, 0.9)), ("z", Seq(0.5, 0.5)))
    val tracker = StreamOps.embedDriftFit(ref, "label", "v")
    val sink = StreamOps.embedDriftSink(tracker, "label", "v")
    sink(curAll.take(2).toDF("label", "v"), 0L)
    sink(curAll.drop(2).toDF("label", "v"), 1L)
    sink(curAll.take(2).toDF("label", "v"), 0L) // replay: merge skipped
    val stream = tracker.result.map { case (l, nr, nc, nRef, nCur, cos, mm) =>
      (l, nr, nc, nRef.map(r4), nCur.map(r4), cos.map(r4), mm)
    }
    val batch = Similarity.embeddingDrift(ref, curAll.toDF("label", "v"),
        "label", "v")
      .orderBy(col("label")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(x => r4(x.asInstanceOf[Double])),
        Option(r.get(4)).map(x => r4(x.asInstanceOf[Double])),
        Option(r.get(5)).map(x => r4(x.asInstanceOf[Double])),
        r.getBoolean(6)))
    assert(stream.toSeq == batch.toSeq,
      s"stream ${stream.toSeq} != batch ${batch.toSeq}")
    // dim mismatch arriving MID-STREAM: label x gets a width-3 vector
    sink(Seq(("x", Seq(1.0, 0.0, 0.0))).toDF("label", "v"), 2L)
    val xRow = tracker.result.find(_._1 == "x").get
    assert(xRow._7 && xRow._6.isEmpty,
      "mixed widths must set dim_mismatch and null the cosine")
    // minCos hard gate: an anti-aligned feed trips with the label named
    val t2 = StreamOps.embedDriftFit(ref, "label", "v")
    val gated = StreamOps.embedDriftSink(t2, "label", "v", minCos = 0.5)
    gated(Seq(("y", Seq(0.0, 1.0))).toDF("label", "v"), 0L) // aligned: ok
    val e = intercept[IllegalStateException](
      gated(Seq.fill(30)(("x", Seq(-1.0, 0.05))).toDF("label", "v"), 1L))
    assert(e.getMessage.contains("'x'") &&
      e.getMessage.contains("centroid cos"), e.getMessage)
    // a dim mismatch with both sides present also trips the gate
    val t3 = StreamOps.embedDriftFit(ref, "label", "v")
    val g3 = StreamOps.embedDriftSink(t3, "label", "v", minCos = 0.5)
    val e2 = intercept[IllegalStateException](
      g3(Seq(("y", Seq(0.0, 1.0, 0.0))).toDF("label", "v"), 0L))
    assert(e2.getMessage.contains("DIM MISMATCH"), e2.getMessage)
  }

  test("drift monitors: RANDOM trigger slicings all converge to the batch profile (property sweep)") {
    import graft.operators.{Similarity, Validation}
    val rnd = new scala.util.Random(42)
    // one shared corpus: (group/category, value, vector) rows
    val cats = Array("a", "b", "c", "d")
    val refRows = (0 until 120).map { i =>
      (cats(i % 4), (i % 37).toDouble, Seq((i % 5).toDouble, (i % 3).toDouble))
    }
    val curRows = (0 until 150).map { i =>
      (cats((i * 7) % 4), ((i * 11) % 41).toDouble,
        Seq(((i * 3) % 5).toDouble, ((i * 2) % 3).toDouble))
    }
    val ref = refRows.toDF("g", "v", "e")
    def r9(d: Double) = math.rint(d * 1e9)
    val batchCat = Validation.categoricalDrift(ref, curRows.toDF("g", "v", "e"),
        "g", topK = 2)
      .select(col("category"), col("n_ref"), col("n_cur"), col("psi")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r9(r.getDouble(3))))
      .toSeq
    val batchGrpCat = Validation.categoricalDriftByGroup(ref,
        curRows.toDF("g", "v", "e"), "g", "v", topK = 3)
      .select(col("group"), col("category"), col("n_ref"), col("n_cur"),
        col("psi")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r9(r.getDouble(4)))).toSeq
    val batchGrp = Validation.distributionDriftByGroup(ref,
        curRows.toDF("g", "v", "e"), "g", "v", 0.0, 41.0, 5)
      .select(col("group"), col("bucket"), col("n_ref"), col("n_cur"),
        col("psi")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r9(r.getDouble(4)))).toSeq
    def r4(d: Double) = math.rint(d * 1e4)
    val batchEmb = Similarity.embeddingDrift(ref, curRows.toDF("g", "v", "e"),
        "g", "e")
      .orderBy(col("label")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(x => r4(x.asInstanceOf[Double])),
        Option(r.get(4)).map(x => r4(x.asInstanceOf[Double])),
        Option(r.get(5)).map(x => r4(x.asInstanceOf[Double])),
        r.getBoolean(6))).toSeq
    (0 until 8).foreach { trial =>
      // random slicing into 1..6 epochs (some possibly empty)
      val nEpochs = 1 + rnd.nextInt(6)
      val slices = curRows.groupBy(_ => rnd.nextInt(nEpochs))
      val cat = StreamOps.catDriftFit(ref, "g", topK = 2)
      val catSink = StreamOps.catDriftSink(cat, "g")
      val grp = StreamOps.groupDriftFit(ref, "g", "v", 0.0, 41.0, 5)
      val grpSink = StreamOps.groupDriftSink(grp, "g", "v")
      val gcat = StreamOps.groupCatDriftFit(ref, "g", "v", topK = 3)
      val gcatSink = StreamOps.groupCatDriftSink(gcat, "g", "v")
      val emb = StreamOps.embedDriftFit(ref, "g", "e")
      val embSink = StreamOps.embedDriftSink(emb, "g", "e")
      (0 until nEpochs).foreach { ep =>
        val df = slices.getOrElse(ep, Seq.empty).toDF("g", "v", "e")
        catSink(df, ep.toLong); grpSink(df, ep.toLong)
        gcatSink(df, ep.toLong); embSink(df, ep.toLong)
      }
      val streamGrpCat = Validation.categoricalDriftByGroupFromCounts(
          gcat.counts.toDF("group", "category", "__ord", "n_ref", "n_cur"),
          0.5)
        .select(col("group"), col("category"), col("n_ref"), col("n_cur"),
          col("psi")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r9(r.getDouble(4)))).toSeq
      assert(streamGrpCat == batchGrpCat, s"trial $trial grpCat")
      val streamCat = Validation.categoricalDriftFromCounts(
          cat.counts.toDF("category", "__ord", "n_ref", "n_cur"), 0.5)
        .select(col("category"), col("n_ref"), col("n_cur"), col("psi"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r9(r.getDouble(3)))).toSeq
      assert(streamCat == batchCat, s"trial $trial cat: $streamCat")
      val streamGrp = Validation.distributionDriftByGroupFromCounts(
          grp.counts.toDF("group", "bucket", "n_ref", "n_cur"), 0.0, 41.0, 5)
        .select(col("group"), col("bucket"), col("n_ref"), col("n_cur"),
          col("psi")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r9(r.getDouble(4)))).toSeq
      assert(streamGrp == batchGrp, s"trial $trial grp")
      val streamEmb = emb.result.map { case (l, nr, nc, a, b, c, m) =>
        (l, nr, nc, a.map(r4), b.map(r4), c.map(r4), m)
      }
      assert(streamEmb == batchEmb, s"trial $trial emb: $streamEmb")
    }
  }

  test("groupCatDriftSink: mid-stream new group folds with empty top set; hard gate names the group; checkpoint") {
    val ref = Seq(("g1", "a"), ("g1", "a"), ("g1", "b"), ("g2", "x"),
      ("g2", "x"), ("g2", "y")).toDF("g", "c")
    val tracker = StreamOps.groupCatDriftFit(ref, "g", "c", topK = 1)
    assert(tracker.topSets == Map("g1" -> Seq("a"), "g2" -> Seq("x")))
    val sink = StreamOps.groupCatDriftSink(tracker, "g", "c", maxPsi = 0.5)
    sink(Seq(("g1", "a"), ("g2", "x"), ("g3", "new")).toDF("g", "c"), 0L)
    // g3 admitted mid-stream: empty top set, everything folds, n_ref 0
    val g3 = tracker.counts.filter(_._1 == "g3")
    assert(g3 == Seq(("g3", "__other__", -1L, 0L, 1L)))
    // g2's mix floods its fold row -> only g2 trips, named in the message
    val bad = Seq.fill(40)(("g2", "zzz")).toDF("g", "c")
    val e = intercept[IllegalStateException](sink(bad, 1L))
    assert(e.getMessage.contains("'g2'") && !e.getMessage.contains("'g1'"),
      e.getMessage)
    // replay: merge-skipped but the gate re-trips idempotently
    val after = tracker.counts
    intercept[IllegalStateException](sink(bad, 1L))
    assert(tracker.counts == after)
    // checkpoint round-trip; differently-fitted reference refused
    val bytes = tracker.toBytes
    val t2 = StreamOps.groupCatDriftFit(ref, "g", "c", topK = 1)
    t2.restore(bytes)
    assert(t2.counts == after && t2.psiByGroup == tracker.psiByGroup)
    val t3 = StreamOps.groupCatDriftFit(ref.limit(3), "g", "c", topK = 1)
    val e2 = intercept[IllegalArgumentException](t3.restore(bytes))
    assert(e2.getMessage.contains("DIFFERENT reference"), e2.getMessage)
    // maxGroups admission is loud and pre-mutation
    val tiny = StreamOps.groupCatDriftFit(ref, "g", "c", topK = 1,
      maxGroups = 2)
    val s2 = StreamOps.groupCatDriftSink(tiny, "g", "c")
    val e3 = intercept[IllegalArgumentException](
      s2(Seq(("g9", "q")).toDF("g", "c"), 0L))
    assert(e3.getMessage.contains("maxGroups"), e3.getMessage)
    assert(!tiny.counts.exists(_._1 == "g9"))
  }

  test("embedDriftTracker checkpoint: byte round-trip validates the fitted reference, floor survives") {
    val ref = Seq(("x", Seq(1.0, 0.0)), ("y", Seq(0.0, 1.0))).toDF("label", "v")
    val t1 = StreamOps.embedDriftFit(ref, "label", "v")
    val sink1 = StreamOps.embedDriftSink(t1, "label", "v")
    sink1(Seq(("x", Seq(0.9, 0.1))).toDF("label", "v"), 0L)
    val bytes = t1.toBytes
    // fresh "process": restore, replayed epoch merge-skipped, totals continue
    val t2 = StreamOps.embedDriftFit(ref, "label", "v")
    t2.restore(bytes)
    assert(t2.result == t1.result)
    val sink2 = StreamOps.embedDriftSink(t2, "label", "v")
    sink2(Seq(("x", Seq(0.9, 0.1))).toDF("label", "v"), 0L) // replay
    sink2(Seq(("x", Seq(1.1, -0.1))).toDF("label", "v"), 1L)
    assert(t2.result.find(_._1 == "x").get._3 == 2L, t2.result.toString)
    // a differently-fitted monitor refuses the bytes, unchanged
    val t3 = StreamOps.embedDriftFit(ref.limit(1), "label", "v")
    val before = t3.result
    val e = intercept[IllegalArgumentException](t3.restore(bytes))
    assert(e.getMessage.contains("DIFFERENT reference"), e.getMessage)
    assert(t3.result == before)
    // foreign bytes refuse loudly
    intercept[IllegalArgumentException](t3.restore(Array[Byte](1, 2, 3)))
  }

  test("streaming curation pipeline restart: quality -> persisted dedup -> drift gate survives epoch replay") {
    // the q_stream_pipeline composition stopped mid-corpus and resumed
    // from the same checkpoint with the last commit deleted (a genuine
    // epoch replay): the replayed epoch must (a) not duplicate survivors
    // (per-epoch overwrite sink), (b) not re-merge into the drift tracker
    // (epoch floor), (c) not drop against its own replayed admission (the
    // index probe excludes the epoch's own delta).
    import graft.operators.{CorpusOps, Dedup}
    val corpusTexts = (0 until 10).map(i =>
      s"the quick brown fox number $i jumps over the lazy dog and sleeps")
    val corpus = corpusTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("pipe_restart").toString
    val idxPath = s"$base/idx"
    Dedup.saveHashIndex(corpus, Seq(col("text")), idxPath)
    val tracker = StreamOps.driftFit(
      corpus.select(graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("double").as("n_tok")), "n_tok", 0.0, 32.0, 8)
    // incoming: id%4==0 duplicates corpus (dedup drops), id%4==1 fails
    // quality (too short), the rest are unique keepers
    val incoming = (0 until 40).map { i =>
      val text =
        if (i % 4 == 0) corpusTexts(i / 4)
        else if (i % 4 == 1) "tiny"
        else s"the shiny new document number $i rolls in with the morning crawl"
      (i.toLong, text)
    }
    def feed(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$base/src")
    def run(): Unit = {
      val kept = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
        .filter(CorpusOps.qualityReason(col("text"), 3, 100, "en", 0.0, 1.0)
          === "keep")
      val drift = StreamOps.driftSink(tracker, "n_tok", maxPsi = 100.0)
      val q = Dedup.dedupStreamAgainstHashIndex(kept, Seq(col("text")),
          idxPath) { (survivors, epochId) =>
        val admitted = survivors.select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("double").as("n_tok"))
        drift(admitted.select(col("n_tok")), epochId)
        admitted.write.mode("overwrite").parquet(s"$base/out/epoch=$epochId")
      }.option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish")
    }
    incoming.grouped(10).take(2).foreach(feed); run() // 2 epochs
    val lastCommit = new java.io.File(s"$base/cp/commits/1")
    assert(lastCommit.exists, "expected 2 committed epochs")
    assert(lastCommit.delete())
    new java.io.File(s"$base/cp/commits/.1.crc").delete()
    incoming.grouped(10).drop(2).foreach(feed); run() // replay epoch 1 + rest
    val got = spark.read.parquet(s"$base/out")
      .select($"doc_id").as[Long].collect().sorted
    val expected = incoming.collect {
      case (id, _) if id % 4 >= 2 => id
    }.sorted
    assert(got.toSeq == expected.toSeq,
      s"survivors after replay: got ${got.toSeq} expected ${expected.toSeq}")
    // drift state merged each admitted row EXACTLY once across the replay
    val fresh = StreamOps.driftFit(
      corpus.select(graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("double").as("n_tok")), "n_tok", 0.0, 32.0, 8)
    StreamOps.driftSink(fresh, "n_tok")(
      incoming.filter(_._1 % 4 >= 2).toDF("doc_id", "text")
        .select(graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("double").as("n_tok")), 0L)
    assert(tracker.counts == fresh.counts,
      "replayed epoch double-merged into the drift tracker")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    ()
  }

  test("cat drift trackers: fit-mismatch throws PRE-mutation — the epoch floor stays, a valid retry merges") {
    val ref = Seq("a", "a", "b").toDF("c")
    val t = StreamOps.catDriftFit(ref, "c", topK = 2)
    // a category outside the fitted top set (sink/tracker fit mismatch)
    // throws with counts AND the epoch floor untouched
    intercept[IllegalArgumentException](
      t.update(Seq((Some("a"), 5L), (Some("nope"), 1L)), 0L))
    assert(t.counts.forall(_._4 == 0L), "failed update must not mutate")
    assert(t.update(Seq((Some("a"), 2L)), 0L),
      "the failed epoch must still be mergeable — its floor never advanced")
    assert(t.counts.find(_._1 == "a").get._4 == 2L)

    val refG = Seq(("g1", "a"), ("g1", "b")).toDF("g", "c")
    val tg = StreamOps.groupCatDriftFit(refG, "g", "c", topK = 2)
    intercept[IllegalArgumentException](
      tg.update(Seq(("g1", Some("a"), 5L), ("g1", Some("nope"), 1L)), 0L))
    assert(tg.counts.forall(_._5 == 0L), "failed update must not mutate")
    assert(tg.update(Seq(("g1", Some("a"), 2L)), 0L))
    assert(tg.counts.find(r => r._1 == "g1" && r._2 == "a").get._5 == 2L)
  }

  test("group drift admission: all-null-value groups enter fit and sink like the batch grps()") {
    import graft.operators.Validation
    def jd(d: Double): java.lang.Double = d
    // gN's reference rows carry only null/NaN values — the batch operator
    // still admits the group (group-not-null filter only), all-zero rows
    val ref = Seq(("g1", jd(1.0)), ("g1", jd(9.0)), ("gN", null),
      ("gN", jd(Double.NaN))).toDF("g", "v")
    val cur = Seq(("g1", jd(9.5)), ("gM", null), ("g1", jd(0.5)),
      ("gN", jd(5.0))).toDF("g", "v")
    val tracker = StreamOps.groupDriftFit(ref, "g", "v", 0.0, 10.0, 5)
    val sink = StreamOps.groupDriftSink(tracker, "g", "v")
    sink(cur.limit(2), 0L)
    sink(cur.except(cur.limit(2)), 1L)
    assert(tracker.counts.exists(_._1 == "gN"), "all-null ref group admitted")
    assert(tracker.counts.exists(_._1 == "gM"), "all-null cur group admitted")
    val stream = Validation.distributionDriftByGroupFromCounts(
        tracker.counts.toDF("group", "bucket", "n_ref", "n_cur"), 0.0, 10.0, 5)
      .select(col("group"), col("bucket"), col("n_ref"), col("n_cur"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val batch = Validation.distributionDriftByGroup(ref, cur, "g", "v",
        0.0, 10.0, 5)
      .select(col("group"), col("bucket"), col("n_ref"), col("n_cur"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(stream.toSeq == batch.toSeq, s"stream ${stream.toSeq} != batch ${batch.toSeq}")

    // categorical twin: all-null-CATEGORY groups admitted on both sides
    val refC = Seq(("g1", "a"), ("g1", "a"), ("g1", "b"), ("gN", null))
      .toDF("g", "c")
    val curC = Seq(("g1", "a"), ("gM", null), ("g1", null), ("gN", "z"))
      .toDF("g", "c")
    val tc = StreamOps.groupCatDriftFit(refC, "g", "c", topK = 2)
    assert(tc.topSets.get("gN") == Some(Seq.empty),
      "all-null-cat ref group admitted with an empty top set")
    val sc = StreamOps.groupCatDriftSink(tc, "g", "c")
    sc(curC.limit(2), 0L)
    sc(curC.except(curC.limit(2)), 1L)
    val streamC = Validation.categoricalDriftByGroupFromCounts(
        tc.counts.toDF("group", "category", "__ord", "n_ref", "n_cur"), 0.5)
      .select(col("group"), col("category"), col("n_ref"), col("n_cur"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val batchC = Validation.categoricalDriftByGroup(refC, curC, "g", "c",
        topK = 2)
      .select(col("group"), col("category"), col("n_ref"), col("n_cur"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(streamC.toSeq == batchC.toSeq,
      s"stream ${streamC.toSeq} != batch ${batchC.toSeq}")
  }

  /** One tracker fed epochs 0 until `n` of a fixed per-tracker script,
    * behind closures so the checkpoint tests below treat the seven monitor
    * types alike. `replay()` re-sends epoch n-1; `next()` sends epoch n. */
  private final class Fed(n: Int, val feed: Int => Any, val state: () => Any,
      val toBytes: () => Array[Byte], val restore: Array[Byte] => Unit) {
    (0 until n).foreach(feed)
    def replay(): Unit = { feed(n - 1); () }
    def next(): Unit = { feed(n); () }
  }

  private val monitors: Seq[(String, Int => Fed)] = Seq(
    "ConstraintTracker" -> { n =>
      val t = new StreamOps.ConstraintTracker(Seq("a", "b"))
      def feed(e: Int) = t.update(Seq(
        ("a", e + 2L, e % 2L, if (e % 2 == 1) Some(s"id$e") else None),
        ("b", 1L, 1L, Some(s"z${9 - e}"))), e.toLong)
      new Fed(n, feed, () => t.result, () => t.toBytes, t.restore)
    },
    "DriftTracker" -> { n =>
      val t = new StreamOps.DriftTracker(0.0, 10.0, 4, 0.5,
        Array(3L, 1L, 0L, 2L))
      def feed(e: Int) =
        t.update(Seq((e % 4, e + 1L), ((e + 2) % 4, 2L)), e.toLong)
      new Fed(n, feed, () => t.counts, () => t.toBytes, t.restore)
    },
    "CatDriftTracker" -> { n =>
      val t = new StreamOps.CatDriftTracker(2, 0.5, Array("a", "b"),
        Array(5L, 3L), 2L)
      def feed(e: Int) = t.update(
        Seq((Some(if (e % 2 == 0) "a" else "b"), e + 1L), (None, 2L)), e.toLong)
      new Fed(n, feed, () => t.counts, () => t.toBytes, t.restore)
    },
    "GroupDriftTracker" -> { n =>
      val t = new StreamOps.GroupDriftTracker(0.0, 10.0, 3, 0.5, 10,
        Map("g1" -> Array(1L, 2L, 0L), "g2" -> Array(0L, 0L, 4L)))
      def feed(e: Int) = t.update(
        Seq((s"g${e % 3}", e % 3, e + 1L), (s"n$e", -1, 1L)), e.toLong)
      new Fed(n, feed, () => t.counts, () => t.toBytes, t.restore)
    },
    "GroupCatDriftTracker" -> { n =>
      val t = new StreamOps.GroupCatDriftTracker(1, 0.5, 10,
        Map("g1" -> Seq(("a", 3L)), "g2" -> Seq(("x", 2L))),
        Map("g1" -> 1L, "g2" -> 0L))
      def feed(e: Int) = t.update(Seq(("g1", Some("a"), e + 1L),
        (s"g${e % 2 + 1}", None, 2L), (s"n$e", None, 1L)), e.toLong)
      new Fed(n, feed, () => t.counts, () => t.toBytes, t.restore)
    },
    "EmbedDriftTracker" -> { n =>
      val t = new StreamOps.EmbedDriftTracker(10,
        Map("x" -> ((2L, 2.0, 2, 2))), Map("x" -> Array(1.8, 0.2)))
      def feed(e: Int) = t.update(
        Seq(("x", 1L, 1.0 + e / 4.0, 2, 2), (s"l$e", 1L, 0.5, 2, 2)),
        Seq(("x", 0, 0.9 + e / 8.0), ("x", 1, 0.1), (s"l$e", 0, 0.3),
          (s"l$e", 1, 0.4)), e.toLong)
      new Fed(n, feed, () => t.result, () => t.toBytes, t.restore)
    },
    "HeavyHitterTracker" -> { n =>
      // eps 0.5 / confidence 0.5: a 1 x 4 sketch keeps the pinned bytes short
      val t = new StreamOps.HeavyHitterTracker(2, 0.5, 0.5, 7)
      def feed(e: Int) = {
        val cms =
          org.apache.spark.util.sketch.CountMinSketch.create(0.5, 0.5, 7)
        cms.add("a", e + 1L); cms.add(s"t$e", 2L)
        val bos = new java.io.ByteArrayOutputStream(); cms.writeTo(bos)
        t.update(Some(bos.toByteArray), Seq(s"t$e", "a"), e.toLong)
      }
      new Fed(n, feed, () => t.result, () => t.toBytes, t.restore)
    })

  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString
  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("tracker checkpoints: toBytes is byte-identical to the pinned format, and the pinned bytes restore") {
    // toBytes of each tracker fed epochs 0 and 1: the checkpoint format,
    // pinned so that blobs already written keep restoring
    val golden = Map(
      "ConstraintTracker" -> (
        "6743545200000002000161000162000000000000000100000000000000050000" +
        "000000000001010003696431000000000000000200000000000000020100027a" +
        "38"),
      "DriftTracker" -> (
        "6744465400000000000000004024000000000000000000043fe0000000000000" +
        "0000000000000003000000000000000100000000000000000000000000000002" +
        "0000000000000001000000000000000100000000000000020000000000000002" +
        "0000000000000002"),
      "CatDriftTracker" -> (
        "67434454000000023fe000000000000000000002000161000162000000000000" +
        "0005000000000000000300000000000000020000000000000001000000000000" +
        "000100000000000000020000000000000004"),
      "GroupDriftTracker" -> (
        "6747445400000000000000004024000000000000000000033fe0000000000000" +
        "0000000a00000002000267310000000000000001000000000000000200000000" +
        "0000000000026732000000000000000000000000000000000000000000000004" +
        "0000000000000001000000040002673000000000000000010000000000000000" +
        "0000000000000000000267310000000000000000000000000000000200000000" +
        "0000000000026e30000000000000000000000000000000000000000000000000" +
        "00026e31000000000000000000000000000000000000000000000000"),
      "GroupCatDriftTracker" -> (
        "67474354000000013fe00000000000000000000a000000020002673100000001" +
        "0001610000000000000003000267320000000100017800000000000000020000" +
        "0002000267310000000000000001000267320000000000000000000000000000" +
        "0001000000010002673100000001000000000000000300000004000267310000" +
        "00000000000200026732000000000000000200026e3000000000000000010002" +
        "6e310000000000000001"),
      "EmbedDriftTracker" -> (
        "674544540000000a000000010001780000000000000002400000000000000000" +
        "000002000000020000000100017800000002000000003ffccccccccccccd0000" +
        "00013fc999999999999a00000000000000010000000300026c30000000000000" +
        "00013fe0000000000000000000020000000200026c3100000000000000013fe0" +
        "0000000000000000000200000002000178000000000000000240020000000000" +
        "0000000002000000020000000300026c3000000002000000003fd33333333333" +
        "33000000013fd999999999999a00026c3100000002000000003fd33333333333" +
        "33000000013fd999999999999a00017800000002000000003ffecccccccccccc" +
        "000000013fc999999999999a"),
      "HeavyHitterTracker" -> (
        "67484854000000023fe00000000000003fe00000000000000000000700000000" +
        "0000000100000002000161000274300000003c00000001000000000000000700" +
        "00000100000004000000005d878bcc0000000000000000000000000000000300" +
        "000000000000020000000000000002"))
    monitors.foreach { case (name, fed) =>
      val live = fed(2)
      assert(hex(live.toBytes()) == golden(name), s"$name: format moved")
      val restored = fed(0)
      restored.restore(unhex(golden(name)))
      assert(restored.state() == live.state(), name)
      // the restored floor: epoch 1 replayed is skipped, epoch 2 merges
      restored.feed(1); restored.feed(2)
      assert(restored.state() == fed(3).state(), s"$name: floor not restored")
    }
  }

  test("tracker restore: every truncated checkpoint throws with state and epoch floor untouched") {
    monitors.foreach { case (name, fed) =>
      // a blob with a different state and a later floor (epoch 4), so a
      // partial install would show in the state or in the floor
      val blob = fed(5).toBytes()
      (0 until blob.length).foreach { len =>
        val t = fed(2)
        val before = t.state()
        intercept[Exception](t.restore(blob.take(len)))
        assert(t.state() == before,
          s"$name: a $len-byte prefix changed the state")
        t.replay()
        assert(t.state() == before,
          s"$name: after a $len-byte prefix, replayed epoch 1 merged")
        t.next()
        assert(t.state() != before,
          s"$name: after a $len-byte prefix, epoch 2 was skipped")
      }
    }
  }
}
