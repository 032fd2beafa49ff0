package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class ConnectorBatchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshLog(name: String, partitions: Int = 4, perPartition: Int = 10)
      : InMemoryEventLog = {
    EventLogRegistry.drop(name)
    val log = EventLogRegistry.create(name, partitions)
    for (p <- 0 until partitions; i <- 0 until perPartition)
      log.append(p, Event(s"$p-$i".getBytes("UTF-8"), i * 1000000L,
        properties = Map("i" -> i.toString)))
    log
  }

  test("batch read: full scan with fixed 9-col schema") {
    freshLog("b1")
    val df = spark.read.format("graft-eventlog").option("name", "b1").load()
    assert(df.schema == EventLogTable.schema)
    assert(df.count() == 40)
    val row = df.filter($"partition" === "2" && $"sequenceNumber" === 3L).collect().head
    assert(new String(row.getAs[Array[Byte]]("body")) == "2-3")
    assert(row.getAs[String]("offset") == "3")
    assert(row.getAs[Map[String, String]]("properties") == Map("i" -> "3"))
  }

  test("reuse same dataframe in query (ref EventHubsRelationSuite:174)") {
    // the reference guarded an RDD-reuse bug: self-union of one relation
    // must read the log twice, not alias one scan's rows
    freshLog("b1r")
    val df = spark.read.format("graft-eventlog").option("name", "b1r").load()
    assert(df.union(df).count() == 80)
    assert(df.union(df).select($"partition", $"sequenceNumber")
      .groupBy($"partition", $"sequenceNumber").count()
      .filter($"count" =!= 2).count() == 0)
  }

  test("batch read: starting/ending positions narrow the scan (ref EventHubsRelationSuite)") {
    freshLog("b2")
    val df = spark.read.format("graft-eventlog").option("name", "b2")
      .option("startingPosition", """{"seqNo":5}""")
      .option("endingPosition", """{"seqNo":8}""")
      .load()
    assert(df.count() == 4 * 3)
    assert(df.agg(min("sequenceNumber"), max("sequenceNumber")).as[(Long, Long)].head() == ((5L, 7L)))
  }

  test("batch read: enqueuedTime start position") {
    freshLog("b3")
    val df = spark.read.format("graft-eventlog").option("name", "b3")
      .option("startingPosition", """{"enqueuedTime":"1970-01-01T00:00:07Z"}""")
      .load()
    assert(df.count() == 4 * 3) // seqNos 7,8,9 per partition
  }

  test("pushdown: sequenceNumber predicates narrow ranges and appear in explain") {
    freshLog("b4")
    val df = spark.read.format("graft-eventlog").option("name", "b4").load()
      .filter($"sequenceNumber" >= 8L)
    assert(df.count() == 4 * 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-eventlog"), plan)
  }

  test("pushdown: limit clamps per-partition ranges") {
    freshLog("b5", partitions = 4, perPartition = 1000)
    val got = spark.read.format("graft-eventlog").option("name", "b5").load().limit(3).count()
    assert(got == 3)
  }

  test("column pruning reaches the reader") {
    freshLog("b6")
    val df = spark.read.format("graft-eventlog").option("name", "b6").load()
      .select($"sequenceNumber", $"partition")
    assert(df.distinct().count() == 40)
    val scanSchema = df.queryExecution.executedPlan.collectLeaves().head.schema
    assert(scanSchema.fieldNames.toSet == Set("sequenceNumber", "partition"))
  }

  test("data-loss: aged-out start clamps (failOnDataLoss=false) or throws (true)") {
    val log = freshLog("b7", partitions = 1, perPartition = 10)
    log.ageOut(0, 4)
    val ok = spark.read.format("graft-eventlog").option("name", "b7")
      .option("failOnDataLoss", "false").load()
    assert(ok.count() == 6)
    val bad = spark.read.format("graft-eventlog").option("name", "b7")
      .option("failOnDataLoss", "true")
      .option("startingPosition", """{"seqNo":0}""").load()
    val e = intercept[Exception](bad.count())
    assert(e.getMessage.contains("aged out") ||
      Option(e.getCause).exists(_.getMessage.contains("aged out")))
  }

  test("parquet-seeded log: deterministic partition/seqNo layout") {
    val dir = SparkTestSession.sf0001
    val df = spark.read.format("graft-eventlog")
      .option("path", s"$dir/events.parquet")
      .option("partitions", "4").load()
    val events = spark.read.parquet(s"$dir/events.parquet")
    assert(df.count() == events.count())
    // body carries props; partition = event_id % 4; enqueuedTime = ts
    val viaLog = df.select($"partition".cast("int"),
      col("body").cast("string").as("props"), $"enqueuedTime")
    val expected = graft.Tables.normalizeTs(events)
      .select(pmod($"event_id", lit(4)).cast("int").as("partition"),
        $"props", $"ts".as("enqueuedTime"))
    assert(viaLog.except(expected).isEmpty && expected.except(viaLog).isEmpty)
  }

  // ---- metadata aggregate pushdown (SQL face of ref S5 count-without-scan) ----

  private def aggPlanOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("aggregate pushdown: global count/min/max answered from metadata") {
    freshLog("agg1", partitions = 4, perPartition = 25)
    val df = spark.read.format("graft-eventlog").option("name", "agg1").load()
      .agg(count(lit(1)).as("n"), min($"sequenceNumber").as("mn"),
        max($"sequenceNumber").as("mx"))
    assert(aggPlanOf(df).contains("metadata-agg"), aggPlanOf(df))
    assert(df.as[(Long, Long, Long)].head() == ((100L, 0L, 24L)))
  }

  test("aggregate pushdown: group by partition skips empty partitions") {
    EventLogRegistry.drop("agg2")
    val log = EventLogRegistry.create("agg2", 3)
    for (i <- 0 until 7) log.append(0, Event(s"a$i".getBytes("UTF-8"), i * 1000L))
    for (i <- 0 until 2) log.append(2, Event(s"c$i".getBytes("UTF-8"), i * 1000L))
    val df = spark.read.format("graft-eventlog").option("name", "agg2").load()
      .groupBy($"partition")
      .agg(count(lit(1)).as("n"), min($"sequenceNumber").as("mn"),
        max($"sequenceNumber").as("mx"))
      .orderBy($"partition")
    assert(aggPlanOf(df).contains("metadata-agg"), aggPlanOf(df))
    // a row-level GROUP BY has no group for the empty partition 1
    assert(df.as[(String, Long, Long, Long)].collect().toSeq ==
      Seq(("0", 7L, 0L, 6L), ("2", 2L, 0L, 1L)))
  }

  test("aggregate pushdown: starting positions narrow the metadata ranges") {
    freshLog("agg3", partitions = 4, perPartition = 10)
    val df = spark.read.format("graft-eventlog").option("name", "agg3")
      .option("startingPosition", """{"seqNo":5}""").load()
      .agg(count(lit(1)).as("n"), min($"sequenceNumber").as("mn"),
        max($"sequenceNumber").as("mx"))
    assert(aggPlanOf(df).contains("metadata-agg"), aggPlanOf(df))
    assert(df.as[(Long, Long, Long)].head() == ((20L, 5L, 9L)))
  }

  test("aggregate pushdown: declined when any predicate is present") {
    freshLog("agg4", partitions = 4, perPartition = 10)
    val df = spark.read.format("graft-eventlog").option("name", "agg4").load()
      .filter($"sequenceNumber" >= 5L)
      .agg(count(lit(1)).as("n"))
    // pushed filters are residual-reevaluated hints: aggregation over them
    // must fall back to a real row scan
    assert(!aggPlanOf(df).contains("metadata-agg"), aggPlanOf(df))
    assert(df.as[Long].head() == 20L)
  }

  test("aggregate pushdown: declined for non-metadata aggregates") {
    freshLog("agg5", partitions = 2, perPartition = 5)
    val df = spark.read.format("graft-eventlog").option("name", "agg5").load()
      .agg(sum($"sequenceNumber").as("s"))
    assert(!aggPlanOf(df).contains("metadata-agg"), aggPlanOf(df))
    assert(df.as[Long].head() == 2L * (0 + 1 + 2 + 3 + 4))
  }

  test("aggregate pushdown: empty log counts 0, min/max null") {
    EventLogRegistry.drop("agg6")
    EventLogRegistry.create("agg6", 2)
    val df = spark.read.format("graft-eventlog").option("name", "agg6").load()
      .agg(count(lit(1)).as("n"), min($"sequenceNumber").as("mn"))
    assert(aggPlanOf(df).contains("metadata-agg"), aggPlanOf(df))
    val row = df.collect().head
    assert(row.getLong(0) == 0L && row.isNullAt(1))
  }
}

class ConnectorStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def populate(name: String, partitions: Int, perPartition: Int): InMemoryEventLog = {
    EventLogRegistry.drop(name)
    val log = EventLogRegistry.create(name, partitions)
    for (p <- 0 until partitions; i <- 0 until perPartition)
      log.append(p, Event(s"$p-$i".getBytes, (p * perPartition + i) * 1000000L))
    log
  }

  test("streaming: rate-limited micro-batches consume the full log (ref :202-255)") {
    populate("s1", 4, 50)
    val q = spark.readStream.format("graft-eventlog")
      .option("name", "s1").option("maxEventsPerTrigger", "40").load()
      .writeStream.format("memory").queryName("s1_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("s1_out").count() == 200)
    // admission control must actually split the log into rate-limited
    // micro-batches (200 events / 40 per trigger = 5 batches), not fall back
    // to one unbounded batch
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 5, s"expected 5 rate-limited batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows == 40))
    // each partition delivered in order without gaps
    val perPart = spark.table("s1_out").groupBy("partition")
      .agg(count("*").as("n"), min("sequenceNumber").as("lo"), max("sequenceNumber").as("hi"))
      .as[(String, Long, Long, Long)].collect()
    assert(perPart.forall { case (_, n, lo, hi) => n == 50 && lo == 0 && hi == 49 })
  }

  // parquet sink (memory sink does not support checkpoint recovery)
  private def runToParquet(src: String, ckpt: String, out: String): Unit = {
    val q = spark.readStream.format("graft-eventlog").option("name", src).load()
      .select($"partition", $"sequenceNumber")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
  }

  test("streaming: checkpoint recovery resumes from committed offsets (ref :298-328)") {
    val log = populate("s2", 2, 10)
    val tmp = java.nio.file.Files.createTempDirectory("graft-s2")
    val (ckpt, out) = (s"$tmp/ckpt", s"$tmp/out")
    runToParquet("s2", ckpt, out)
    assert(spark.read.parquet(out).count() == 20)
    // append more events, restart from checkpoint: only the delta arrives
    for (p <- 0 until 2; i <- 10 until 15)
      log.append(p, Event(s"$p-$i".getBytes, i * 1000000L))
    runToParquet("s2", ckpt, out)
    val all = spark.read.parquet(out)
    assert(all.count() == 30) // no duplicates: delta was exactly 10
    val seqs = all.filter($"sequenceNumber" >= 10).select($"sequenceNumber")
      .as[Long].collect().toSet
    assert(seqs == (10L until 15L).toSet)
  }

  test("streaming: partition growth mid-stream picks up new partitions at earliest (ref :257-329)") {
    populate("s3", 2, 10)
    val tmp = java.nio.file.Files.createTempDirectory("graft-s3")
    val (ckpt, out) = (s"$tmp/ckpt", s"$tmp/out")
    runToParquet("s3", ckpt, out)
    assert(spark.read.parquet(out).count() == 20)
    val bigger = EventLogRegistry.grow("s3", 3)
    for (i <- 0 until 7) bigger.append(2, Event(s"2-$i".getBytes, i * 1000000L))
    runToParquet("s3", ckpt, out)
    val rows = spark.read.parquet(out).groupBy("partition").count()
      .as[(String, Long)].collect().toMap
    assert(rows == Map("0" -> 10L, "1" -> 10L, "2" -> 7L),
      s"new partition should merge in at earliest: $rows")
  }

  test("streaming: watermark + tumbling window aggregation end-to-end (ref :737-778)") {
    EventLogRegistry.drop("s4")
    val log = EventLogRegistry.create("s4", 1)
    // events at t=0s..99s, one per second
    for (i <- 0 until 100) log.append(0, Event(s"$i".getBytes, i * 1000000L))
    val q = spark.readStream.format("graft-eventlog").option("name", "s4").load()
      .withWatermark("enqueuedTime", "10 seconds")
      .groupBy(window($"enqueuedTime", "5 seconds"))
      .agg(count("*").as("n"))
      .writeStream.format("memory").queryName("s4_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val counts = spark.table("s4_out").select($"n").as[Long].collect()
    assert(counts.length == 20 && counts.forall(_ == 5), counts.mkString(","))
  }

  test("O(1) count from offset arithmetic (ref S5) matches scan count") {
    populate("s5", 3, 17)
    val meta = graft.GraftEventLog.count("s5")
    assert(meta == 51)
  }
}

class ConnectorMetricsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("operator drop counters ride along in source metrics") {
    import spark.implicits._
    EventLogRegistry.drop("met-docs")
    val log = EventLogRegistry.create("met-docs", 2)
    for (p <- 0 until 2; i <- 0 until 10)
      log.append(p, Event(
        s"alpha beta gamma delta doc $p $i unique tail $i".getBytes("UTF-8"),
        (i + 1) * 1000000L))
    // every benchmark doc shares a 3-gram prefix: with maxShingleDf=2 the
    // shared shingles are hot and MUST be dropped (counted under tag
    // "decontaminate")
    val bench = (0 until 8).map(i => (i.toLong, s"alpha beta gamma shared prefix $i"))
      .toDF("doc_id", "text")
    val docsStream = spark.readStream.format("graft-eventlog")
      .option("name", "met-docs").load()
      .select(col("sequenceNumber").as("doc_id"), col("body").cast("string").as("text"))
    val q = graft.operators.CorpusOps.decontaminateStream(
        docsStream, bench, "doc_id", "text", k = 3, minShared = 2, maxShingleDf = 2) {
        (report, _) => { report.count(); () }
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // the skew guard's recall-loss counters appear in the SOURCE metrics of
    // StreamingQueryProgress — pipeline drops are observable next to
    // backlog/throttle state, not only in executor logs
    val m = q.recentProgress.flatMap(_.sources).map(_.metrics)
      .filter(_.containsKey("drops.decontaminate.buckets"))
    assert(m.nonEmpty, "drop counters missing from StreamingQueryProgress source metrics")
    assert(m.last.get("drops.decontaminate.buckets").toLong > 0,
      "hot benchmark shingles must surface as dropped buckets")
    assert(m.last.get("drops.decontaminate.rows").toLong > 0)
  }

  test("dropMetricsScope: two concurrent scoped pipelines never read each other's counters") {
    import spark.implicits._
    import graft.operators.Dedup
    // two pipelines sharing the JVM, SAME operator tag, different scopes
    // and different drop volumes — without scoping the later computation
    // would clobber the earlier one under the shared tag
    def docs(n: Int) = (0 until n)
      .map(i => (i.toLong, s"common shared prefix doc $i")).toDF("doc_id", "text")
    Dedup.withDropScope("qA") {
      Dedup.ngramJaccardPairs(docs(30), "doc_id", "text", k = 3,
        threshold = 0.9, maxShingleDf = 2).count()
    }
    Dedup.withDropScope("qB") {
      Dedup.ngramJaccardPairs(docs(12), "doc_id", "text", k = 3,
        threshold = 0.9, maxShingleDf = 2).count()
    }
    Dedup.publishDropStats()
    val a = Dedup.scopedDropStats("qA")
    val b = Dedup.scopedDropStats("qB")
    assert(a.contains("ngramJaccardPairs") && b.contains("ngramJaccardPairs"))
    assert(a("ngramJaccardPairs").rows > b("ngramJaccardPairs").rows,
      s"scoped counters must keep each pipeline's own volume: $a vs $b")
    // a source scoped to qA reports ONLY qA's counters in its metrics
    EventLogRegistry.drop("met-scoped")
    val log = EventLogRegistry.create("met-scoped", 1)
    for (i <- 0 until 5) log.append(0, Event(s"e$i".getBytes, (i + 1) * 1000000L))
    val q = spark.readStream.format("graft-eventlog")
      .option("name", "met-scoped").option("dropMetricsScope", "qA").load()
      .writeStream.format("noop").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val keys = q.recentProgress.flatMap(_.sources).flatMap { s =>
      import scala.jdk.CollectionConverters._
      s.metrics.asScala.keys
    }.filter(_.startsWith("drops.")).toSet
    assert(keys.contains("drops.ngramJaccardPairs.buckets"),
      s"own scope's counters missing: $keys")
    assert(keys.forall(k => !k.contains("qB") && !k.contains("qA/")),
      s"cross-pipeline counters leaked into a scoped source's metrics: $keys")
  }

  test("progress carries source metrics (events behind latest, throttle) and sink metrics") {
    EventLogRegistry.drop("met-src"); EventLogRegistry.drop("met-dst")
    val src = EventLogRegistry.create("met-src", 2)
    for (p <- 0 until 2; i <- 0 until 50)
      src.append(p, Event(s"$p-$i".getBytes, (i + 1) * 1000000L))
    EventLogRegistry.create("met-dst", 2)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-met-ckpt").toString
    val q = spark.readStream.format("graft-eventlog")
      .option("name", "met-src")
      .option("maxEventsPerTrigger", "20")
      .option("slowPartitionAdjustment", "true")
      .load()
      .selectExpr("body", "partition")
      .writeStream.format("graft-eventlog")
      .option("name", "met-dst").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val progs = q.recentProgress
    // ReportsSourceMetrics: events-behind-latest appears once a committed
    // offset exists, and mid-stream batches see a non-zero backlog
    val sourceMetrics = progs.flatMap(_.sources).map(_.metrics)
      .filter(_.containsKey("maxEventsBehindLatest"))
    assert(sourceMetrics.nonEmpty, "no source metrics in StreamingQueryProgress.sources")
    assert(sourceMetrics.exists(_.get("maxEventsBehindLatest").toLong > 0),
      "backlog metric never non-zero mid-stream")
    assert(sourceMetrics.last.get("maxEventsBehindLatest") == "0",
      "drained stream must report zero backlog")
    // adaptive throttling state is observable per partition
    assert(sourceMetrics.exists(m => Option(m.get("throttleFactors"))
      .exists(s => s.contains("\"0\":") && s.contains("\"1\":"))),
      "throttleFactors missing from source metrics")
    // ReportsSinkMetrics: staged rows return to zero after each publish and
    // the appended total reaches the full stream
    val sinkMetrics = progs.map(_.sink.metrics).filter(_.containsKey("stagedRows"))
    assert(sinkMetrics.nonEmpty, "no sink metrics in StreamingQueryProgress.sink")
    assert(sinkMetrics.last.get("stagedRows") == "0")
    assert(sinkMetrics.last.get("appendedEvents") == "100")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  test("transport-scope knobs are accepted, range-validated, and inert") {
    // a conf migrated verbatim from the reference connector may carry AMQP
    // transport tuning (receiver silence threshold, epoch receivers, client
    // thread pool). The strict-option validator must accept them — parsed
    // with the reference's range rules — while they change nothing on the
    // local backend.
    val base = Map("name" -> "knobs1", "partitions" -> "2")
    val conf = EventLogConf(base ++ Map(
      "maxsilenttime" -> "PT60S",
      "useexclusivereceiver" -> "false",
      "threadpoolsize" -> "16")).validated()
    assert(conf.maxSilentTimeMs.contains(60000L))
    assert(!conf.useExclusiveReceiver)
    assert(conf.threadPoolSize.contains(16))
    // defaults mirror the reference: exclusive receiver on, others unset
    val dflt = EventLogConf(base).validated()
    assert(dflt.useExclusiveReceiver && dflt.maxSilentTimeMs.isEmpty &&
      dflt.threadPoolSize.isEmpty)
    // range rules fire at the validation boundary, not at some never-read
    // accessor: below the 30 s silent-time floor (ref setMaxSilentTime,
    // EventHubsConf.scala:393-395), non-boolean, non-positive pool
    intercept[IllegalArgumentException](
      EventLogConf(base + ("maxsilenttime" -> "1000")).validated())
    intercept[IllegalArgumentException](
      EventLogConf(base + ("useexclusivereceiver" -> "yep")).validated())
    intercept[IllegalArgumentException](
      EventLogConf(base + ("threadpoolsize" -> "0")).validated())
    // inert: an end-to-end read with the knobs set returns the same rows
    EventLogRegistry.drop("knobs1")
    val log = EventLogRegistry.create("knobs1", 2)
    for (p <- 0 until 2; i <- 0 until 5)
      log.append(p, Event(s"$p-$i".getBytes("UTF-8"), i * 1000000L))
    val rows = spark.read.format("graft-eventlog").option("name", "knobs1")
      .option("maxSilentTime", "PT60S").option("useExclusiveReceiver", "true")
      .option("threadPoolSize", "8").load().count()
    assert(rows == 10)
  }
}

class ConnectorSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("batch write: string body round-robins across partitions (ref EventHubsSinkSuite)") {
    EventLogRegistry.drop("w1"); EventLogRegistry.create("w1", 4)
    (0 until 20).map(i => s"m$i").toDF("body")
      .write.mode("append").format("graft-eventlog").option("name", "w1").save()
    val b = EventLogRegistry.boundedSeqNos("w1")
    assert(b.values.map(_._2).sum == 20)
    assert(b.values.forall(_._2 > 0), s"round-robin skipped a partition: $b")
  }

  test("batch write: explicit partition targeting") {
    EventLogRegistry.drop("w2"); EventLogRegistry.create("w2", 4)
    (0 until 10).map(i => (s"m$i", "2")).toDF("body", "partition")
      .write.mode("append").format("graft-eventlog").option("name", "w2").save()
    val b = EventLogRegistry.boundedSeqNos("w2")
    assert(b(2) == ((0L, 10L)) && b(0) == ((0L, 0L)))
  }

  test("batch write: partitionKey routes deterministically; properties preserved") {
    EventLogRegistry.drop("w3"); EventLogRegistry.create("w3", 4)
    Seq(("a", "k1", Map("p" -> "1")), ("b", "k1", Map("p" -> "2")))
      .toDF("body", "partitionKey", "properties")
      .write.mode("append").format("graft-eventlog").option("name", "w3").save()
    val nonEmpty = EventLogRegistry.boundedSeqNos("w3").filter(_._2._2 > 0)
    assert(nonEmpty.size == 1, "same key must land in one partition")
    val evs = EventLogRegistry.receive("w3", nonEmpty.keys.head, 0, 10).toVector
    assert(evs.map(_._2.properties("p")).toSet == Set("1", "2"))
    assert(evs.forall(_._2.partitionKey == "k1"))
  }

  test("write schema error matrix (ref EventHubsSinkSuite:93-466)") {
    EventLogRegistry.drop("w4"); EventLogRegistry.create("w4", 2)
    def attempt(df: org.apache.spark.sql.DataFrame): Throwable =
      intercept[Throwable](df.write.mode("append").format("graft-eventlog").option("name", "w4").save())
    // missing body
    assert(attempt(Seq(1).toDF("x")).getMessage.contains("body"))
    // both partition and partitionKey
    assert(attempt(Seq(("b", "0", "k")).toDF("body", "partition", "partitionKey"))
      .getMessage.contains("mutually exclusive"))
    // wrong body type
    assert(attempt(Seq(1).toDF("body")).getMessage.contains("STRING or BINARY"))
    // wrong partition type
    assert(attempt(Seq(("b", 1)).toDF("body", "partition")).getMessage.contains("STRING"))
    // out-of-range partition id fails at execution
    intercept[Throwable] {
      Seq(("b", "9")).toDF("body", "partition")
        .write.mode("append").format("graft-eventlog").option("name", "w4").save()
    }
    // null body fails at execution (ref EventHubsWriteTask null checks)
    def rootMsgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ rootMsgs(t.getCause)
    val eNullBody = intercept[Throwable] {
      Seq(Tuple1(null.asInstanceOf[String])).toDF("body")
        .write.mode("append").format("graft-eventlog").option("name", "w4").save()
    }
    assert(rootMsgs(eNullBody).exists(_.contains("null 'body'")), rootMsgs(eNullBody))
    // null property VALUE fails at execution (ref EventHubsSinkSuite:443)
    val eNullProp = intercept[Throwable] {
      Seq("b").toDF("body")
        .withColumn("properties", map(lit("a"), lit(null).cast("string")))
        .write.mode("append").format("graft-eventlog").option("name", "w4").save()
    }
    assert(rootMsgs(eNullProp).exists(_.contains("null key or value")), rootMsgs(eNullProp))
  }

  test("task-side staged writes: O(1) messages, speculative/replayed/aborted attempts dropped") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    EventLogRegistry.drop("stg1"); EventLogRegistry.create("stg1", 2)
    val conf = EventLogConf(Map("name" -> "stg1", "partitions" -> "2"))
    val schema = StructType(Seq(StructField("body", StringType)))
    val write = new EventLogWrite(conf, schema, EventLogWriteSupport.plan(schema), "q-stg1")
    val sw = write.toStreaming
    val factory = sw.createStreamingWriterFactory(null)
    def runTask(pid: Int, tid: Long, epoch: Long, n: Int) = {
      val w = factory.createWriter(pid, tid, epoch)
      (0 until n).foreach(i => w.write(InternalRow(UTF8String.fromString(s"e$pid-$tid-$i"))))
      w.commit()
    }
    val log = EventLogRegistry.get("stg1")
    val m1 = runTask(0, 1L, 0L, 3)
    val m2 = runTask(1, 2L, 0L, 2)
    runTask(0, 99L, 0L, 3) // speculative duplicate Spark will NOT report
    assert(m1.isInstanceOf[StagedEventsMessage], "commit message must be key-only")
    assert(log.stagedCount() == 8, "rows staged in the log, not the driver")
    sw.commit(0L, Array(m1, m2))
    assert(graft.GraftEventLog.count("stg1") == 5, "only reported tasks published")
    assert(log.stagedCount() == 0, "speculative attempt garbage-collected")
    // replayed epoch after recovery: re-staged rows dropped, no duplicates
    val m3 = runTask(0, 3L, 0L, 3)
    sw.commit(0L, Array(m3))
    assert(graft.GraftEventLog.count("stg1") == 5 && log.stagedCount() == 0)
    // epoch abort discards its staging
    val m4 = runTask(0, 4L, 1L, 4)
    sw.abort(1L, Array(m4))
    assert(graft.GraftEventLog.count("stg1") == 5 && log.stagedCount() == 0)
    // task abort discards its own key
    val w = factory.createWriter(0, 5L, 2L)
    w.write(InternalRow(UTF8String.fromString("doomed")))
    w.commit(); w.abort()
    assert(log.stagedCount() == 0)
    // zombie/speculative task whose stage lands AFTER its epoch was
    // published: dropped at staging time, not parked under a prefix that is
    // never swept again
    runTask(1, 6L, 0L, 2)
    assert(log.stagedCount() == 0, "post-publish zombie staging must be dropped")
    assert(graft.GraftEventLog.count("stg1") == 5, "zombie rows never published")
  }

  test("streaming write: source->sink roundtrip preserves events") {
    EventLogRegistry.drop("w5src"); EventLogRegistry.drop("w5dst")
    val src = EventLogRegistry.create("w5src", 2)
    EventLogRegistry.create("w5dst", 2)
    for (p <- 0 until 2; i <- 0 until 25)
      src.append(p, Event(s"$p-$i".getBytes, i * 1000000L))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = spark.readStream.format("graft-eventlog").option("name", "w5src")
      .option("maxEventsPerTrigger", "20").load()
      .select($"body", $"partition")
      .writeStream.format("graft-eventlog").option("name", "w5dst")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val dst = spark.read.format("graft-eventlog").option("name", "w5dst").load()
    assert(dst.count() == 50)
    // same bodies arrive, partition-targeted
    val bodies = dst.select(col("body").cast("string")).as[String].collect().toSet
    assert(bodies == (for (p <- 0 until 2; i <- 0 until 25) yield s"$p-$i").toSet)
  }

  test("durable sink: batch write survives a process restart and re-reads exactly") {
    val root = java.nio.file.Files.createTempDirectory("graft-durable").toString + "/log"
    Seq(("a", "k1", Map("p" -> "1")), ("b", "k2", Map("p" -> "2")),
        ("c", "k1", Map.empty[String, String]))
      .toDF("body", "partitionKey", "properties")
      .write.mode("append").format("graft-eventlog")
      .option("durablePath", root).option("partitions", "2").save()
    // simulate a fresh process: drop every in-JVM cache; the data is files
    DurableEventLog.invalidate(root)
    val back = spark.read.format("graft-eventlog")
      .option("durablePath", root).option("partitions", "2").load()
    assert(back.count() == 3)
    val rows = back.select(col("body").cast("string"), col("partitionKey"),
        col("properties")).as[(String, String, Map[String, String])]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("a", "b", "c"))
    assert(rows.map(_._2).toSeq == Seq("k1", "k2", "k1"), "partitionKey survives")
    assert(rows.map(_._3).toSeq == Seq(Map("p" -> "1"), Map("p" -> "2"), Map.empty),
      "properties survive")
    // same key = same partition, across a second (appending) batch write
    Seq(("d", "k1")).toDF("body", "partitionKey")
      .write.mode("append").format("graft-eventlog")
      .option("durablePath", root).option("partitions", "2").save()
    val byPart = spark.read.format("graft-eventlog")
      .option("durablePath", root).option("partitions", "2").load()
      .filter(col("partitionKey") === "k1")
      .select(col("partition")).distinct().count()
    assert(byPart == 1, "k1 rows must land in ONE partition across batches")
    // a partition-count mismatch on an existing log fails loudly
    val e = intercept[Exception] {
      spark.read.format("graft-eventlog")
        .option("durablePath", root).option("partitions", "8").load().count()
    }
    assert(e.getMessage.contains("partitions"), e.getMessage)
  }

  test("durable sink: streaming roundtrip + restart-safe replay idempotence on the file path") {
    EventLogRegistry.drop("w6src")
    val src = EventLogRegistry.create("w6src", 2)
    for (p <- 0 until 2; i <- 0 until 25)
      src.append(p, Event(s"$p-$i".getBytes, i * 1000000L))
    val base = java.nio.file.Files.createTempDirectory("graft-durable-s").toString
    val root = s"$base/log"
    val q = spark.readStream.format("graft-eventlog").option("name", "w6src")
      .option("maxEventsPerTrigger", "20").load()
      .select($"body", $"partition")
      .writeStream.format("graft-eventlog")
      .option("durablePath", root).option("partitions", "2")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    DurableEventLog.invalidate(root) // fresh-process read
    val dst = spark.read.format("graft-eventlog")
      .option("durablePath", root).option("partitions", "2").load()
    assert(dst.count() == 50)
    assert(dst.select(col("body").cast("string")).as[String].collect().toSet ==
      (for (p <- 0 until 2; i <- 0 until 25) yield s"$p-$i").toSet)
    // restart the SAME query from its checkpoint: every epoch replays as
    // already-committed (markers are ON DISK, not process state) — zero
    // duplicates even though this is a "new driver"
    val q2 = spark.readStream.format("graft-eventlog").option("name", "w6src")
      .option("maxEventsPerTrigger", "20").load()
      .select($"body", $"partition")
      .writeStream.format("graft-eventlog")
      .option("durablePath", root).option("partitions", "2")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    assert(spark.read.format("graft-eventlog")
      .option("durablePath", root).option("partitions", "2").load().count() == 50,
      "restarted query must not duplicate committed epochs")
  }

  test("durable sink: staged replay/abort/speculative semantics on the file path") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val root = java.nio.file.Files.createTempDirectory("graft-durable-2pc").toString + "/log"
    val conf = EventLogConf(Map("durablepath" -> root, "partitions" -> "2"))
    val schema = StructType(Seq(StructField("body", StringType)))
    val write = new DurableEventLogWrite(conf, schema,
      EventLogWriteSupport.plan(schema), "q-dur1")
    val sw = write.toStreaming
    val factory = sw.createStreamingWriterFactory(null)
    def runTask(pid: Int, tid: Long, epoch: Long, n: Int) = {
      val w = factory.createWriter(pid, tid, epoch)
      (0 until n).foreach(i => w.write(InternalRow(UTF8String.fromString(s"e$pid-$tid-$i"))))
      w.commit()
    }
    def total() = spark.read.format("graft-eventlog")
      .option("durablePath", root).option("partitions", "2").load().count()
    val m1 = runTask(0, 1L, 0L, 3)
    val m2 = runTask(1, 2L, 0L, 2)
    runTask(0, 99L, 0L, 3) // speculative duplicate Spark will NOT report
    sw.commit(0L, Array(m1, m2))
    assert(total() == 5, "only reported tasks published")
    // replayed epoch (same epochId, e.g. after recovery): marker-skipped
    val m3 = runTask(0, 3L, 0L, 3)
    sw.commit(0L, Array(m3))
    assert(total() == 5, "replayed epoch must not re-publish")
    // epoch abort sweeps staging but leaves the epoch OPEN for a retry
    val m4 = runTask(0, 4L, 1L, 4)
    sw.abort(1L, Array(m4))
    assert(total() == 5)
    val m5 = runTask(0, 5L, 1L, 4)
    sw.commit(1L, Array(m5))
    assert(total() == 9, "an aborted epoch's retry must publish")
    // task abort drops its own staging
    val w = factory.createWriter(0, 6L, 2L)
    w.write(InternalRow(UTF8String.fromString("doomed")))
    w.commit(); w.abort()
    sw.commit(2L, Array.empty)
    assert(total() == 9)
  }

  test("durable log: invalidate drops footer timestamp maxima with the rest") {
    val root = java.nio.file.Files.createTempDirectory("graft-durable-ts").toString + "/log"
    val name = DurableEventLog.logName(root, 1)
    def writeLog(tsMicros: Seq[Long]): Unit = {
      DurableEventLog.create(root, 1)
      tsMicros.foreach(t => DurableEventLog.send(name, Event(s"e$t".getBytes, t), Some(0), None))
    }
    writeLog(Seq(1000L, 2000L, 3000L))
    assert(DurableEventLog.seekEnqueuedTime(name, 0, 2500L) == 2)
    // the same path, re-created with later timestamps by "another process"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    writeLog(Seq(10000L, 20000L, 30000L))
    DurableEventLog.invalidate(root) // simulates a fresh process
    assert(DurableEventLog.seekEnqueuedTime(name, 0, 5000L) == 0,
      "a stale footer maximum skipped the re-created log's first segment")
  }

  test("durable sink: a foreign append between epochs is never renamed over") {
    val partitions = 2
    EventLogRegistry.drop("w7src")
    val src = EventLogRegistry.create("w7src", partitions)
    val keys = Seq("k1", "k2", "k3", "k4")
    def offer(from: Int, until: Int): Unit = (from until until).foreach { i =>
      val key = keys(i % keys.size)
      src.append(i % partitions, Event(s"s$i".getBytes, i.toLong,
        properties = Map("pk" -> key)))
    }
    val base = java.nio.file.Files.createTempDirectory("graft-durable-f").toString
    val root = s"$base/log"
    offer(0, 40)
    val q = spark.readStream.format("graft-eventlog").option("name", "w7src").load()
      .select($"body", $"properties".getItem("pk").as("partitionKey"))
      .writeStream.format("graft-eventlog")
      .option("durablePath", root).option("partitions", partitions.toString)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // another writer under the same lease appends to a partition the next
      // epoch writes too, after this JVM last assigned that partition's tail
      DurableEventLog.send(DurableEventLog.logName(root, partitions),
        Event("foreign".getBytes, 0L, partitionKey = "k1"), None, Some("k1"))
      def segmentBytes(): Map[String, Seq[Byte]] = {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "segments"))
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator.asScala.filter(_.getFileName.toString.startsWith("seg-"))
            .map(f => f.toString -> java.nio.file.Files.readAllBytes(f).toSeq).toMap
        } finally walk.close()
      }
      val before = segmentBytes()
      offer(40, 80)
      q.processAllAvailable()
      val after = segmentBytes()
      before.foreach { case (f, bytes) =>
        assert(after.get(f).contains(bytes), s"segment $f was replaced")
      }
      assert(after.size > before.size)
    } finally q.stop()
    DurableEventLog.invalidate(root)
    val rows = spark.read.format("graft-eventlog")
      .option("durablePath", root).option("partitions", partitions.toString).load()
      .select(col("body").cast("string"), col("partitionKey"), col("partition").cast("int"))
      .as[(String, String, Int)].collect()
    val expected = (0 until 80).map(i => s"s$i") :+ "foreign"
    assert(rows.map(_._1).sorted.toSeq == expected.sorted, "every event exactly once")
    rows.foreach { case (body, key, pid) =>
      assert(pid == math.floorMod(key.hashCode, partitions), s"$body ($key) in partition $pid")
    }
  }
}
