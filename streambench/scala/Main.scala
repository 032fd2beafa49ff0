package streambench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.functions.{TextFunctions, hashFunctions}
import graft.sources.{EventLogRegistry, EventLogSourceOffset, InMemoryEventLog}

/**
 * Open-loop generator: appends the steady-phase events to the log at a fixed
 * offered rate. Event i is due `i / rate` seconds after the start, is
 * stamped with that due time, and is appended as soon as it is due (a late
 * generator appends every overdue event at once and records how late).
 */
final class Generator(log: InMemoryEventLog, events: Array[Pending], rate: Double, tr: Tracer)
    extends Thread("streambench-generator") {
  val n: Int = events.length
  val seq = new Array[Long](n)
  val part = new Array[Int](n)
  val lateUs = new Array[Long](n)
  @volatile var startUs: Long = 0L
  @volatile var appended: Int = 0
  @volatile var stopRequested = false
  setDaemon(true)

  override def run(): Unit = {
    val t0 = System.nanoTime()
    startUs = tr.nowUs
    def dueNs(i: Int): Long = t0 + (i * 1e9 / rate).toLong
    var i = 0
    while (i < n && !stopRequested) {
      val wait = dueNs(i) - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      else {
        val burst = tr.nowUs
        val now = System.nanoTime()
        while (i < n && dueNs(i) <= now) {
          val e = events(i)
          val dueUs = startUs + (i * 1e6 / rate).toLong
          seq(i) = log.append(e.partition, e.event.copy(enqueuedTimeMicros = dueUs))
          part(i) = e.partition
          lateUs(i) = (System.nanoTime() - dueNs(i)) / 1000L
          i += 1
          appended = i
        }
        tr.add("generator.append", burst, tr.nowUs, 0, -1)
      }
    }
  }
}

/**
 * Streaming benchmark driver: one JVM, one workload, one seed.
 *
 * Set-up (timed): session, a warm-up run of the same query and catch-up
 * rounds over a separate instance, then `SetupReps` repetitions of input
 * generation + preparation (log backlog, index build). Measured: the catch-up phase
 * drains the backlog closed-loop in `catchup_rounds` slices; the steady
 * phase appends open-loop at the offered rate. The run record (epochs, generator schedule, outputs and the
 * generator's expected outputs, and in traced runs jobs/tasks/spans/probes)
 * goes to `--out` as JSON; `run.py` turns it into metrics.
 */
object Main {
  val SpanTagKey = "streambench.span"
  /** Preparation repetitions in set-up; `setup_s` takes their median. */
  val SetupReps = 3
  /** Documents the kernel probes run over. */
  val KernelRows = 4000

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _ => -1L
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private def log(msg: String): Unit =
    System.err.println(f"[streambench +${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toSeq
    val params = opts.filter(_._1 == "p").map { case (_, kv) =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val o = opts.filter(_._1 != "p").toMap
    val wl = Workloads(o("workload"), params)
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o.get("trace").contains("1")
    // only the catch-up phase: the untraced baseline of a traced run's
    // tracing overhead
    val catchupOnly = o.get("catchup-only").contains("1")
    val nRounds = wl.p("catchup_rounds").toInt
    val perRound = wl.p("round_events").toInt
    val backlogN = nRounds * perRound
    val rate = wl.p("offered_rate").toDouble
    val steadyN = math.max(1, (rate * wl.p("steady_share").toDouble * seconds).toInt)
    // catch-up rounds: consecutive slices of the backlog
    def slices(n: Int): Seq[Range] = (0 until n).map(r => (r * perRound) until ((r + 1) * perRound))
    val rounds = slices(nRounds)

    if (o.contains("digest-only")) {
      println(wl.generate(seed, backlogN, steadyN).digest)
      return
    }
    val work = new File(o("work")).getAbsoluteFile
    work.mkdirs()
    val deadlineNs = System.nanoTime() + (o("budget_s").toDouble * 1e9).toLong -
      (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val nproc = Runtime.getRuntime.availableProcessors()
    val slots = math.max(1, nproc - 1) // one core left for the generator
    val master = s"local[$slots]"

    val spark = SparkSession.builder().master(master).appName("streambench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalCheckpointFileManager")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = new Tracer(traced)
    val noHook = new WriteBatchHook { def apply[T](epoch: Long)(f: => T): T = f }
    val measured = new Instance("main", new File(work, "main"))

    def stopAll(): Unit = spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })

    /** Wait until the query has consumed everything now in the log. */
    def waitCovered(q: StreamingQuery, name: String, deadline: Long): Boolean = {
      val target = EventLogRegistry.get(name).bounds.map { case (p, (_, l)) => p -> l }
      def covered: Boolean = Option(q.lastProgress).exists { p =>
        val end = EventLogSourceOffset.parse(p.sources(0).endOffset).seqNos
        target.forall { case (pid, l) => end.getOrElse(pid, 0L) >= l }
      }
      while (!covered && q.exception.isEmpty && q.isActive && System.nanoTime() < deadline)
        Thread.sleep(2)
      covered
    }

    /** Wait until the query is idle: no trigger running and no data waiting,
      * on three polls in a row. */
    def waitIdle(q: StreamingQuery): Unit = {
      var quiet = 0
      while (quiet < 3 && q.isActive && System.nanoTime() < deadlineNs) {
        val st = q.status
        quiet = if (!st.isTriggerActive && !st.isDataAvailable) quiet + 1 else 0
        Thread.sleep(20)
      }
    }

    /** Closed-loop catch-up in rounds on one query: round 0's slice is in the
      * log when the query starts; each later slice is appended in one burst
      * when the query is idle again. Per round: events, arrival wall ms,
      * per-partition end offsets to cover. Returns when the query is idle
      * after the last round. */
    def catchUp(q: StreamingQuery, inst: Instance, in: Inputs, startMs: Long,
        rounds: Seq[Range]): Seq[Map[String, Any]] = {
      val log = EventLogRegistry.get(inst.logName)
      val out = rounds.indices.map { r =>
        val t = if (r == 0) startMs else {
          waitIdle(q)
          val t = System.currentTimeMillis()
          // the log's offset queries lock the log too, so the query sees the
          // whole slice or none of it and every round has the same epochs
          log.synchronized {
            rounds(r).foreach { i => val e = in.backlog(i); log.append(e.partition, e.event) }
          }
          t
        }
        val ends = Array.tabulate(wl.partitions)(p => log.bounds(p)._2)
        if (!waitCovered(q, inst.logName, deadlineNs))
          throw new IllegalStateException(s"catch-up round $r not drained before the deadline")
        Map[String, Any]("events" -> rounds(r).size, "arrival_ms" -> t, "cover" -> ends)
      }
      waitIdle(q)
      out
    }

    // ---- set-up: boot, warm-up, the median of the repeated preparation ----
    // warm-up: the same query and catch-up rounds over a separate instance
    val warmT0 = System.nanoTime()
    val warm = new Instance("warm", new File(work, "warm"))
    val warmRounds = slices(wl.p("warmup_rounds").toInt)
    val warmIn = wl.generate(seed * 31 + 1, warmRounds.size * perRound, 0)
    wl.prepare(spark, warmIn, warm, warmRounds.head)
    val wq = wl.start(spark, warm, noHook)
    try catchUp(wq, warm, warmIn, System.currentTimeMillis(), warmRounds)
    catch { case e: IllegalStateException =>
      throw new IllegalStateException(s"warm-up query did not drain: ${wq.exception}", e)
    } finally {
      wq.stop()
      EventLogRegistry.drop(warm.logName)
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    var inputs: Inputs = null
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]
    val repS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      inputs = wl.generate(seed, backlogN, steadyN)
      digests += inputs.digest
      org.apache.commons.io.FileUtils.deleteQuietly(measured.dir)
      wl.prepare(spark, inputs, measured, rounds.head)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = bootS + repS.sorted.apply(repS.size / 2) + warmS
    log(f"setup boot=$bootS%.2fs reps=${repS.map(s => f"$s%.2f").mkString(",")} warm-up=$warmS%.2fs digest=${inputs.digest}")

    val progressRec = new ProgressRecorder
    val jobRec = new JobRecorder
    if (traced) {
      spark.streams.addListener(progressRec)
      spark.sparkContext.addSparkListener(jobRec)
    }
    val writeBatchSpans = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    val hook = if (!traced) noHook else new WriteBatchHook {
      def apply[T](epoch: Long)(f: => T): T = {
        val sc = spark.sparkContext
        sc.setLocalProperty(SpanTagKey, s"writeBatch:$epoch")
        val s = tracer.nowUs
        try f finally {
          sc.setLocalProperty(SpanTagKey, null)
          writeBatchSpans.put(epoch, tracer.add("writeBatch", s, tracer.nowUs, 0, epoch))
        }
      }
    }

    // ---- measured run ----
    val log0 = EventLogRegistry.get(measured.logName)
    val startMs = System.currentTimeMillis()
    val cpu0 = cpuNs()
    var error: String = null
    var q: StreamingQuery = null
    var catchup: Seq[Map[String, Any]] = Nil
    var catchupCpuNs = -1L
    val gen = new Generator(log0, inputs.steady, rate, tracer)
    try {
      q = wl.start(spark, measured, hook)
      catchup = catchUp(q, measured, inputs, startMs, rounds)
      catchupCpuNs = cpuNs() - cpu0
      log(f"catch-up drained ${inputs.backlog.length} events in ${(System.currentTimeMillis() - startMs) / 1e3}%.2fs")
      if (!catchupOnly) {
        gen.start()
        gen.join(math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L))
        if (gen.isAlive) { gen.stopRequested = true; gen.join(); throw new IllegalStateException("steady phase overran the deadline") }
        if (!waitCovered(q, measured.logName, deadlineNs))
          throw new IllegalStateException("steady-phase events not consumed before the deadline")
      }
    } catch {
      case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    if (q != null && error == null) q.exception.foreach(e => error = e.toString)
    val catchupRec = Map("start_ms" -> startMs, "events" -> inputs.backlog.length,
      "rounds" -> catchup, "cpu_ns" -> catchupCpuNs)
    def writeRecord(record: Map[String, Any]): Unit = {
      val out = new File(o("out"))
      java.nio.file.Files.write(out.toPath, Json.render(record).getBytes(UTF_8))
      log(s"record written: ${out.getPath}")
      spark.stop()
      System.exit(0)
    }
    if (catchupOnly) {
      stopAll()
      writeRecord(Map("workload" -> wl.name, "seed" -> seed, "error" -> error, "catchup" -> catchupRec))
    }
    val recent: Seq[StreamingQueryProgress] = if (q == null) Nil else q.recentProgress.toSeq
    stopAll()
    val heapMb = if (!traced) Double.NaN else {
      System.gc()
      val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      m.getUsed / 1048576.0
    }

    log("measured phases done")
    // ---- outputs and post-run measurements ----
    val observed = try wl.observe(spark, measured, tracer) catch {
      case e: Throwable => if (error == null) error = s"observe: $e"; Map.empty[String, Any]
    }
    log("outputs observed")
    val extra = try wl.after(spark, measured, tracer) catch {
      case e: Throwable => if (error == null) error = s"after: $e"; Map.empty[String, Any]
    }

    val epochs: Seq[StreamingQueryProgress] = if (!traced || q == null) recent else {
      val until = System.currentTimeMillis() + 3000
      while (progressRec.of(q.id).size < recent.size && System.currentTimeMillis() < until) Thread.sleep(20)
      progressRec.of(q.id)
    }
    val P = wl.partitions
    def offsets(json: String): Array[Long] = {
      val m = if (json == null) Map.empty[Int, Long] else EventLogSourceOffset.parse(json).seqNos
      Array.tabulate(P)(p => m.getOrElse(p, 0L))
    }
    val epochRecs = epochs.filter(_.sources.nonEmpty).map { p =>
      val s = p.sources(0)
      Map[String, Any](
        "batch" -> p.batchId,
        "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "d" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() },
        "rows" -> p.numInputRows,
        "start" -> offsets(s.startOffset), "end" -> offsets(s.endOffset),
        "behind_max" -> Option(s.metrics.get("maxEventsBehindLatest")).map(_.toLong).getOrElse(-1L))
    }

    val traceRec: Map[String, Any] = if (!traced) Map.empty else {
      jobRec.settle(3000)
      val probes = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      // receive probe: re-read the run's committed ranges from the log
      val ranges = epochRecs.flatMap { e =>
        val s = e("start").asInstanceOf[Array[Long]]; val t = e("end").asInstanceOf[Array[Long]]
        (0 until P).filter(p => t(p) > s(p)).map(p => (p, s(p), t(p) - s(p)))
      }
      val rangeEvents = ranges.map(_._3).sum
      val recvMs = tracer.median(3) {
        tracer.span("probe.receive", -1) {
          ranges.foreach { case (p, from, n) =>
            EventLogRegistry.receive(measured.logName, p, from, n).foreach(_ => ())
          }
        }
      }
      probes("receive_ns_per_event") = if (rangeEvents == 0) Double.NaN else recvMs * 1e6 / rangeEvents
      probes ++= kernelProbes(spark, seed, KernelRows, tracer)
      spark.streams.removeListener(progressRec)
      spark.sparkContext.removeSparkListener(jobRec)
      val (ckFiles, _) = Workloads.filesUnder(measured.path("ckpt"))
      if (q != null) Spans.build(tracer, epochs, q.id.toString, jobRec, writeBatchSpans.asScala.toMap)
      val qid = if (q == null) "" else q.id.toString
      Map(
        "jobs" -> jobRec.jobs.values().asScala.toSeq.filter(_.query == qid).sortBy(_.id).map(j =>
          Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "batch" -> j.batch,
            "tag" -> j.tag, "stages" -> j.stages)),
        "stages" -> jobRec.stages.asScala.map { case (k, v) => k.toString -> v },
        "tasks" -> jobRec.tasks.asScala.toSeq,
        "spans" -> tracer.all,
        "probes" -> probes,
        "heap_live_mb" -> heapMb,
        "checkpoint_files" -> ckFiles,
        "write_batch" -> writeBatchSpans.asScala.toSeq.map { case (e, id) => Seq(e, id) })
    }

    val record = Map[String, Any](
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "stamp" -> Map("nproc" -> nproc, "slots" -> slots, "master" -> master,
        "jvm" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
        "partitions" -> P, "max_events_per_trigger" -> wl.maxPerTrigger,
        "offered_rate" -> rate, "backlog_events" -> inputs.backlog.length,
        "steady_events" -> inputs.steady.length),
      "digest" -> inputs.digest, "digest_stable" -> (digests.distinct.size == 1),
      "setup" -> Map("setup_s" -> setupS, "boot_s" -> bootS, "reps_s" -> repS, "warmup_s" -> warmS),
      "error" -> error,
      "catchup" -> catchupRec,
      "steady" -> Map("start_us" -> gen.startUs, "rate" -> rate, "planned" -> gen.n,
        "appended" -> gen.appended, "part" -> gen.part, "seq" -> gen.seq, "late_us" -> gen.lateUs),
      "epochs" -> epochRecs,
      "expected" -> inputs.expected,
      "observed" -> observed,
      "extra" -> extra,
      "trace" -> traceRec)
    writeRecord(record)
  }

  /** ns/row of the graft column kernels over a fixed document set, with
    * whole-stage codegen and with interpreted evaluation. The set is one
    * cached partition (one task, so wall time is one core's time) and each
    * kernel query's time is net of the same query over a trivial
    * expression. */
  def kernelProbes(spark: SparkSession, seed: Long, rows: Int, tr: Tracer): Map[String, Double] = {
    import spark.implicits._
    val g = new TextGen(seed * 7 + 3)
    val docs = Seq.fill(rows)(g.english()).toDF("text")
      .select(col("text"), split(col("text"), " ").as("w"),
        array_distinct(TextFunctions.wordShingles(col("text"), 3)).as("sh"))
      .coalesce(1).cache()
    docs.count()
    val kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
      "baseline" -> (_.agg(max(length(col("text"))))),
      "minhash_signature" -> (_.agg(max(element_at(hashFunctions.minhash_signature(col("sh")), 1)))),
      "word_shingles" -> (_.agg(max(size(hashFunctions.word_shingles(col("text"), 3))))),
      "simhash64" -> (_.agg(max(hashFunctions.simhash64(col("w"))))),
      "nfc_normalize" -> (_.agg(max(length(hashFunctions.nfc_normalize(col("text")))))),
      "token_count" -> (_.agg(max(TextFunctions.tokenCount(col("text"))))))
    val modes = Seq(
      "codegen" -> Seq("spark.sql.codegen.factoryMode" -> "FALLBACK", "spark.sql.codegen.wholeStage" -> "true"),
      "interpreted" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false"))
    val out = modes.flatMap { case (mode, confs) =>
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      val ms = kernels.map { case (k, f) =>
        f(docs).collect() // compile + warm
        k -> tr.median(3)(tr.span(s"probe.kernel.$k.$mode", -1)(f(docs).collect()))
      }.toMap
      kernels.tail.map { case (k, _) => s"$k.$mode" -> math.max(0.0, ms(k) - ms("baseline")) * 1e6 / rows }
    }
    Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage").foreach(spark.conf.unset)
    docs.unpersist()
    out.toMap
  }
}
