package graft.sources

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class PartitionThrottlerSpec extends AnyFunSuite {

  test("reference worked example: one 10x-slow partition is throttled (doc :34-60)") {
    // 10 partitions, 9 at 20 ms/event, one at 200 ms/event: the slow one's
    // 200 s batch clears the 30 s acceptance gate (ref default)
    val t = new PartitionThrottler()
    for (p <- 0 until 9) t.record(0L, p, 1000, (1000 * 20e6).toLong)
    t.record(0L, 9, 1000, (1000 * 200e6).toLong)
    val f = t.factors
    for (p <- 0 until 9) assert(f(p) == 1.0, s"healthy partition $p throttled")
    val slow = f(9)
    // mean = 38ms => factor = 38/200 = 0.19
    assert(math.abs(slow - 0.19) < 0.01, s"slow factor $slow")
  }

  test("acceptance gate: statistically slow but fast-finishing partitions stay unthrottled") {
    // identical 10x spread, but every batch completes in << 30 s — the ref
    // maxAcceptableBatchReceiveTime gate must keep factors at 1.0
    val t = new PartitionThrottler()
    for (p <- 0 until 9) t.record(0L, p, 1000, (1000 * 0.2e6).toLong)
    t.record(0L, 9, 1000, (1000 * 2e6).toLong) // 2 s batch < 30 s gate
    assert(t.factors(9) == 1.0, "sub-gate partition was throttled")
    // a tightened gate re-enables the statistical rule
    val tight = new PartitionThrottler(maxAcceptableBatchMs = 1000L)
    for (p <- 0 until 9) tight.record(0L, p, 1000, (1000 * 0.2e6).toLong)
    tight.record(0L, 9, 1000, (1000 * 2e6).toLong)
    assert(math.abs(tight.factors(9) - 0.19) < 0.01)
  }

  test("maxAcceptableBatchReceiveTime conf round-trips (millis and ISO-8601)") {
    assert(EventLogConf(Map("name" -> "x")).maxAcceptableBatchReceiveTimeMs == 30000L)
    assert(EventLogConf(Map("name" -> "x", "maxacceptablebatchreceivetime" -> "5000"))
      .maxAcceptableBatchReceiveTimeMs == 5000L)
    assert(EventLogConf(Map("name" -> "x", "maxacceptablebatchreceivetime" -> "PT10S"))
      .validated().maxAcceptableBatchReceiveTimeMs == 10000L)
    intercept[IllegalArgumentException] {
      EventLogConf(Map("name" -> "x", "maxacceptablebatchreceivetime" -> "-5"))
        .maxAcceptableBatchReceiveTimeMs
    }
  }

  test("slow iff timePerEvent > mean + stddev (ref PartitionsStatusTracker:399-406)") {
    val t = new PartitionThrottler()
    // two partitions mildly different: neither exceeds mean+stddev
    t.record(0L, 0, 1000, 100_000_000L)
    t.record(0L, 1, 1000, 120_000_000L)
    assert(t.factors(0) == 1.0 && t.factors(1) == 1.0)
  }

  test("sliding window keeps only recent batches; tiny batches ignored") {
    val t = new PartitionThrottler(windowSize = 2)
    t.record(0L, 0, 1000, 1L)
    t.record(1L, 0, 1000, 100L)
    t.record(2L, 0, 1000, 200L)
    // window of 2 -> only batches 1,2 remain: avg of (0.1, 0.2)
    assert(math.abs(t.timePerEvent(0) - 0.15) < 1e-9)
    t.record(3L, 0, 5, 999999999L) // below minEventsForMeasure -> ignored
    assert(math.abs(t.timePerEvent(0) - 0.15) < 1e-9)
  }

  test("single measured partition yields no throttling") {
    val t = new PartitionThrottler()
    t.record(0L, 0, 1000, 999999999L)
    assert(t.factors(0) == 1.0)
  }

  test("admission control applies throttle factors to the next batch (integration)") {
    EventLogRegistry.drop("th1")
    val log = EventLogRegistry.create("th1", 4)
    for (p <- 0 until 4; i <- 0 until 5000)
      log.append(p, Event(Array[Byte](1), i.toLong))
    val conf = EventLogConf(Map("name" -> "th1", "slowpartitionadjustment" -> "true"))
    PartitionThrottler.drop(conf.throttlerKey)
    // inject metrics as the reference's SimulatedPartitionStatusTracker does
    val t = PartitionThrottler.forLog(conf.throttlerKey)
    for (p <- 0 until 3) t.record(0L, p, 1000, (1000 * 20e6).toLong)
    t.record(0L, 3, 1000, (1000 * 200e6).toLong)

    val stream = new EventLogMicroBatchStream(conf, EventLogTable.schema)
    val start = stream.initialOffset().asInstanceOf[EventLogSourceOffset]
    val end = stream.latestOffset(start, ReadLimit.maxRows(4000))
      .asInstanceOf[EventLogSourceOffset]
    val shares = end.seqNos.map { case (p, until) => p -> (until - start.seqNos(p)) }
    // healthy partitions get their full prorated 1000; the slow one its
    // throttled share: mean/t = 0.65/2 = 0.325 -> ceil(1000 * 0.325) = 325
    for (p <- 0 until 3) assert(shares(p) == 1000L, s"healthy share $p = ${shares(p)}")
    assert(shares(3) == 325L, s"slow share = ${shares(3)}")
  }

  test("plugins receive callbacks") {
    EventLogRegistry.drop("th2")
    val log = EventLogRegistry.create("th2", 1)
    for (i <- 0 until 100) log.append(0, Event(Array[Byte](1), i.toLong))
    TestPlugins.reset()
    val spark = SparkTestSession.spark
    val q = spark.readStream.format("graft-eventlog").option("name", "th2")
      .option("slowPartitionAdjustment", "true")
      .option("metricPlugin", classOf[RecordingMetricPlugin].getName)
      .option("throttlingStatusPlugin", classOf[RecordingThrottlingPlugin].getName)
      .load()
      .writeStream.format("memory")
      .queryName("th2_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(TestPlugins.receiveCalls.get() > 0, "metric plugin never called")
    assert(TestPlugins.batchCalls.get() > 0, "throttling plugin never called")
  }
}

object TestPlugins {
  val receiveCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  val batchCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { receiveCalls.set(0); batchCalls.set(0) }
}
class RecordingMetricPlugin extends MetricPlugin {
  override def onReceiveMetric(np: NameAndPartition, batchId: Long, events: Long,
      elapsedNanos: Long): Unit = { TestPlugins.receiveCalls.incrementAndGet(); () }
}
class RecordingThrottlingPlugin extends ThrottlingStatusPlugin {
  override def onBatchCreation(batchId: Long,
      untilSeqNos: Map[Int, Long]): Unit = { TestPlugins.batchCalls.incrementAndGet(); () }
  override def onPartitionsStatusUpdate(factors: Map[Int, Double]): Unit = ()
}

/** Property tests for the admission-control math (SURVEY §5: scalacheck for
  * offset arithmetic / rate proration). Deterministic seeded sampling (no
  * scalatestplus bridge in the offline cache). */
class RateLimiterPropertySpec extends AnyFunSuite {

  private def forSamples[A](g: Gen[A], n: Int = 300)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val boundsGen: Gen[Map[Int, (Long, Long)]] = Gen.mapOfN(6, for {
    pid <- Gen.choose(0, 63)
    from <- Gen.choose(0L, 10000L)
    backlog <- Gen.choose(0L, 50000L)
  } yield pid -> ((from, from + backlog))).suchThat(_.nonEmpty)

  test("prorated untils never exceed latest, never precede from, and respect budget+partitions slack") {
    forSamples(Gen.zip(boundsGen, Gen.choose(1L, 100000L))) { case (bounds, budget) =>
      val r = RateLimiter.prorate(bounds, budget)
      assert(r.keySet == bounds.keySet)
      for ((p, until) <- r) {
        val (from, latest) = bounds(p)
        assert(until >= from && until <= latest, s"range violated for $p")
      }
      val taken = r.map { case (p, u) => u - bounds(p)._1 }.sum
      val backlog = bounds.values.map { case (f, l) => l - f }.sum
      // ceil-based starvation guard can overshoot by < 1 event per partition
      assert(taken <= math.min(budget + bounds.size, backlog))
      if (backlog <= budget) assert(taken == backlog, "under budget must drain fully")
    }
  }

  test("per-partition max rates cap the advance in every branch (ref EventHubsConf:331-369)") {
    val capsGen = Gen.mapOf(Gen.zip(Gen.choose(0, 63), Gen.choose(1L, 500L)))
    forSamples(Gen.zip(boundsGen, Gen.choose(1L, 100000L), capsGen)) {
      case (bounds, budget, caps) =>
        val r = RateLimiter.prorate(bounds, budget, maxRates = caps)
        for ((p, until) <- r) {
          val (from, latest) = bounds(p)
          assert(until >= from && until <= latest)
          caps.get(p).foreach(cap => assert(until - from <= cap, s"cap violated for $p"))
        }
        // capped partitions still progress when they have backlog
        if (bounds.values.map { case (f, l) => l - f }.sum > budget) {
          for ((p, (from, latest)) <- bounds if latest > from)
            assert(r(p) > from, s"partition $p starved under caps")
        }
    }
  }

  test("every partition with backlog makes progress (no starvation)") {
    forSamples(Gen.zip(boundsGen, Gen.choose(1L, 1000L))) { case (bounds, budget) =>
      val r = RateLimiter.prorate(bounds, budget)
      if (bounds.values.map { case (f, l) => l - f }.sum > budget) {
        for ((p, (from, latest)) <- bounds if latest > from)
          assert(r(p) > from, s"partition $p starved")
      }
    }
  }

  test("offset JSON roundtrips for arbitrary partition maps") {
    forSamples(Gen.nonEmptyMap(
        Gen.zip(Gen.choose(0, 1023), Gen.choose(0L, Long.MaxValue / 2)))) { m =>
      val off = EventLogSourceOffset("hub", m)
      assert(EventLogSourceOffset.parse(off.json()) == off)
    }
  }

  test("local-cluster[2,1,1024]: factors move via the accumulator transport (multi-JVM)") {
    // executors run as SEPARATE processes, so reader-side record() calls
    // are invisible to the driver — the driver's factors moving proves the
    // ReceiveSample accumulator transport end-to-end. Runs the check as a
    // subprocess because this suite's JVM already holds the shared local
    // SparkContext (one context per JVM).
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    // the child gets this JVM's own --add-opens flags: build.sbt holds the
    // one list
    val cmd = (Seq(javaBin) ++ graft.tools.ClusterThrottleCheck.jvmAddOpens ++
      Seq("-Xmx1g", "-cp", cp, "graft.tools.ClusterThrottleCheck")).toList
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val buf = new java.io.ByteArrayOutputStream()
    val drainer = new Thread(() => {
      try proc.getInputStream.transferTo(buf) catch { case _: Exception => () }
    })
    drainer.setDaemon(true)
    drainer.start()
    val done = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) proc.destroyForcibly()
    drainer.join(10000)
    val out = buf.toString("UTF-8")
    assert(done, "local-cluster check timed out\n" + out.takeRight(4000))
    assert(out.contains("CLUSTER THROTTLE OK"),
      "expected the slow partition's factor to drop via the accumulator " +
        "transport; output tail:\n" + out.takeRight(4000))
  }
}
