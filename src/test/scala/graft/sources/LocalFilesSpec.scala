package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.{Dedup, EpochIndex}

/** The local files graft writes itself ([[ParquetIO.fs]]): no forked
  * processes, Hadoop's file modes, exclusive creates, and a bounded footer
  * cache over them. */
class LocalFilesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Every `jdk.ProcessStart` while `body` runs, as the command and the
    * classes on its stack. A sentinel process started after `body` marks
    * the end: JFR delivers events in time order, so once the sentinel's
    * event arrived every earlier one has too. */
  private def processStarts(body: => Unit): Seq[(String, Seq[String])] = {
    val seen = new ConcurrentLinkedQueue[(String, Seq[String])]()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      // copied out inside the action: the stream reuses its event objects
      rs.onEvent("jdk.ProcessStart", e => {
        val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
        seen.add(e.getString("command") -> frames.map(_.getMethod.getType.getName)); ()
      })
      rs.startAsync() // the recording itself starts before this returns
      body
      new ProcessBuilder("true", "graft-jfr-sentinel").start().waitFor()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      def sentinel = seen.asScala.exists(_._1.contains("graft-jfr-sentinel"))
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(100)
      assert(sentinel, "JFR never delivered the sentinel's process start")
    } finally rs.close()
    seen.asScala.toSeq.filterNot(_._1.contains("graft-jfr-sentinel"))
  }

  /** Spark's own file writer (DataFrameWriter output) keeps the session's
    * FileSystem, forks included: out of graft's hands. */
  private def sparkWriter(stack: Seq[String]): Boolean = stack.exists(c =>
    Seq("org.apache.spark.sql.execution.datasources.", "org.apache.spark.internal.io.",
      "org.apache.hadoop.mapreduce.lib.output.").exists(c.startsWith))

  /** Files 0644 and directories 0755 under `root`: Hadoop's defaults under
    * the default umask. */
  private def assertHadoopModes(root: String): Unit = {
    val walk = Files.walk(Paths.get(root))
    val entries = try walk.iterator.asScala.toList finally walk.close()
    assert(entries.exists(Files.isRegularFile(_)), s"nothing written under $root")
    entries.foreach { p =>
      val want = if (Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--"
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(p)) == want, p)
    }
  }

  test("a durable sink epoch and a hash-index stream epoch fork nothing; modes are Hadoop's") {
    assert(FsPermission.getUMask(ParquetIO.conf) == new FsPermission("022"))
    val base = Files.createTempDirectory("graft-nofork").toString

    // one streaming epoch into the durable log (after a first, unrecorded
    // epoch that creates the log and starts the query)
    EventLogRegistry.drop("nofork-src")
    val src = EventLogRegistry.create("nofork-src", 2)
    def offer(from: Int, until: Int): Unit =
      (from until until).foreach(i => src.append(i % 2, Event(s"e$i".getBytes, i.toLong)))
    val root = s"$base/log"
    offer(0, 20)
    val relay = spark.readStream.format("graft-eventlog").option("name", "nofork-src").load()
      .select($"body", $"partition")
      .writeStream.format("graft-eventlog")
      .option("durablePath", root).option("partitions", "2")
      .option("checkpointLocation", s"$base/relay-ckpt").start()
    val durableForks = try {
      relay.processAllAvailable()
      processStarts { offer(20, 60); relay.processAllAvailable() }
    } finally relay.stop()
    assert(durableForks.isEmpty, s"the durable sink epoch started processes: $durableForks")
    DurableEventLog.invalidate(root)
    assert(spark.read.format("graft-eventlog").option("durablePath", root)
      .option("partitions", "2").load().count() == 60)
    assertHadoopModes(root)

    // one stream epoch admitted into a hash index (again after a first one)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = s"$base/idx"
    Dedup.saveHashIndex(Seq("seed text").toDF("text"), Seq($"text"), idx)
    val input = MemoryStream[String]
    val kept = new ConcurrentLinkedQueue[String]()
    val dedup = Dedup.dedupStreamAgainstHashIndex(input.toDF().toDF("text"), Seq($"text"), idx) {
      (fresh: DataFrame, _: Long) => fresh.as[String].collect().foreach(kept.add); ()
    }.option("checkpointLocation", s"$base/dedup-ckpt").start()
    val indexForks = try {
      input.addData("one", "two")
      dedup.processAllAvailable()
      processStarts { input.addData("two", "three", "seed text"); dedup.processAllAvailable() }
    } finally dedup.stop()
    assert(kept.asScala.toSeq.sorted == Seq("one", "three", "two"))
    val graftForks = indexForks.filterNot(f => sparkWriter(f._2))
    assert(graftForks.isEmpty, s"the hash-index epoch started processes outside Spark's " +
      s"writer: ${graftForks.map { case (c, s) => s"$c at ${s.take(12).mkString(" < ")}" }}")
    assertHadoopModes(idx)
    FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("racing index writers: one lease holder at a time, every loser refused") {
    val path = Files.createTempDirectory("graft-lease-race").toString + "/idx"
    val fs = ParquetIO.fs(path)
    val writers = 4
    val rounds = 200
    val pool = Executors.newFixedThreadPool(writers)
    val barrier = new CyclicBarrier(writers)
    val inBody = new AtomicInteger(0)
    val overlaps = new AtomicInteger(0)
    val bodies = new AtomicInteger(0)
    val refused = new AtomicInteger(0)
    val other = new ConcurrentLinkedQueue[Throwable]()
    try {
      val done = (0 until writers).map { w =>
        pool.submit(new Runnable {
          override def run(): Unit = (0 until rounds).foreach { _ =>
            barrier.await(60, TimeUnit.SECONDS)
            try EpochIndex.withIndexLease(fs, path, s"writer$w") {
              if (inBody.incrementAndGet() > 1) overlaps.incrementAndGet()
              bodies.incrementAndGet()
              Thread.sleep(1)
              inBody.decrementAndGet()
            } catch {
              case e: IllegalStateException if e.getMessage.contains(
                "being written by another job") => refused.incrementAndGet()
              case e: Throwable => other.add(e)
            }
            barrier.await(60, TimeUnit.SECONDS)
          }
        })
      }
      done.foreach(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(other.isEmpty, s"a loser failed otherwise: ${other.asScala.take(3)}")
    assert(overlaps.get == 0, s"${overlaps.get} bodies ran while another held the lease")
    assert(bodies.get >= rounds && bodies.get + refused.get == writers * rounds)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/__lease")))
    FileUtils.deleteQuietly(new java.io.File(path).getParentFile)
  }

  test("the footer cache stays at its cap past it; seeks and read-back stay exact") {
    val root = Files.createTempDirectory("graft-footers").toString + "/log"
    val partitions = 64
    val epochs = DurableEventLog.FooterCacheCap / partitions + 2
    DurableEventLog.create(root, partitions)
    // epoch e publishes one single-event segment per partition, ts = e
    (0 until epochs).foreach { e =>
      val dir = DurableEventLog.stageTask(root, "q", e.toLong, 0, e.toLong,
        (0 until partitions).map(p => p -> Seq(Event(s"$e-$p".getBytes, e.toLong))).toMap)
      assert(DurableEventLog.publishStaged(root, "q", e.toLong, Seq(dir)) == partitions)
    }
    assert(partitions * epochs > DurableEventLog.FooterCacheCap)
    assert(DurableEventLog.footerCacheSize == DurableEventLog.FooterCacheCap)
    val name = DurableEventLog.logName(root, partitions)
    assert(DurableEventLog.boundedSeqNos(name).values.toSet == Set((0L, epochs.toLong)))
    assert(DurableEventLog.footerCacheSize == DurableEventLog.FooterCacheCap)
    for (p <- Seq(0, 17, partitions - 1)) {
      assert(DurableEventLog.seekEnqueuedTime(name, p, 5L) == 5L)
      assert(DurableEventLog.seekEnqueuedTime(name, p, epochs.toLong) == epochs.toLong)
      val back = DurableEventLog.receive(name, p, 3L, 4L).toSeq
      assert(back.map(_._1) == Seq(3L, 4L, 5L, 6L))
      assert(back.map(e => new String(e._2.body)) == (3 until 7).map(e => s"$e-$p"))
    }
    assert(DurableEventLog.footerCacheSize == DurableEventLog.FooterCacheCap)
    DurableEventLog.invalidate(root)
    FileUtils.deleteQuietly(new java.io.File(root).getParentFile)
  }
}
