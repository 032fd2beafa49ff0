package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * The executor-side file-backed read path (ParquetEventLog): no driver-held
 * copy of the data, footer-arithmetic bounds, range reads, sequential
 * cursors, and the read-only contract.
 */
class ParquetLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val path = s"$dir/events.parquet"
  private def logName(partitions: Int) = EventLogConf.parquetLogName(path, partitions)

  /** Ground truth from a plain Spark read of the same file (ts shape-agnostic). */
  private def truth(partitions: Int) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.normalizeTs(spark.read.parquet(path))
      .select(
        pmod($"event_id", lit(partitions)).cast("int").as("pid"),
        $"event_id", unix_micros($"ts").as("ts_us"), $"props", $"event_type")
  }

  test("connector read with NO driver-held log (registry stays empty)") {
    val name = logName(4)
    EventLogRegistry.drop(name)
    val df = graft.GraftEventLog.readParquetLog(spark, path, 4)
    assert(df.count() == 1000)
    assert(!EventLogRegistry.exists(name),
      "parquet-backed reads must not materialize a registry log")
  }

  test("bounds are pure footer arithmetic and match the data") {
    for (p <- Seq(3, 4, 7)) {
      val expected = truth(p).groupBy("pid").count().as[(Int, Long)].collect().toMap
      val bounds = ParquetEventLog.boundedSeqNos(logName(p))
      assert(bounds.keySet == (0 until p).toSet)
      bounds.foreach { case (pid, (earliest, latest)) =>
        assert(earliest == 0L)
        assert(latest == expected.getOrElse(pid, 0L), s"pid $pid at partitions=$p")
      }
    }
  }

  test("receive returns the exact seqNo range with the right payloads") {
    val name = logName(4)
    val expected = truth(4).filter($"pid" === 1)
      .orderBy("event_id")
      .select($"props", $"event_type", $"ts_us")
      .as[(String, String, Long)].collect()
    val got = ParquetEventLog.receive(name, 1, 10, 5).toVector
    assert(got.map(_._1) == (10L to 14L).toVector)
    got.zipWithIndex.foreach { case ((seq, e), i) =>
      val (props, etype, ts) = expected(10 + i)
      assert(new String(e.body, "UTF-8") == props, s"seq $seq")
      assert(e.properties("event_type") == etype)
      assert(e.enqueuedTimeMicros == ts)
    }
    // out-of-range and clamped reads
    assert(ParquetEventLog.receive(name, 1, 10000, 5).isEmpty)
    val latest = ParquetEventLog.boundedSeqNos(name)(1)._2
    assert(ParquetEventLog.receive(name, 1, latest - 2, 100).size == 2)
  }

  test("sequential receives equal one big receive (cursor path)") {
    val name = logName(4)
    ParquetEventLog.invalidate(path)
    val whole = ParquetEventLog.receive(name, 2, 0, 250).toVector
    ParquetEventLog.invalidate(path)
    // chunked tail: the second call should install and then reuse a cursor
    val chunks = Seq((0L, 50L), (50L, 50L), (100L, 100L), (200L, 50L))
      .flatMap { case (from, n) => ParquetEventLog.receive(name, 2, from, n).toVector }
    assert(chunks.map(_._1) == whole.map(_._1))
    assert(chunks.map(_._2.enqueuedTimeMicros) == whole.map(_._2.enqueuedTimeMicros))
    assert(chunks.map(c => new String(c._2.body, "UTF-8")) ==
      whole.map(c => new String(c._2.body, "UTF-8")))
    // a jump back repositions correctly
    val again = ParquetEventLog.receive(name, 2, 10, 5).toVector
    assert(again.map(_._1) == (10L to 14L).toVector)
  }

  test("seekEnqueuedTime = min seqNo with ts >= t, latest when past the end") {
    val name = logName(4)
    val cutoff = truth(4).agg(expr("percentile_approx(ts_us, 0.5)")).as[Long].head()
    val expected = truth(4).filter($"ts_us" >= cutoff)
      .groupBy("pid").agg(min(expr("event_id div 4")).as("s"))
      .as[(Int, Long)].collect().toMap
    for (p <- 0 until 4)
      assert(ParquetEventLog.seekEnqueuedTime(name, p, cutoff) == expected(p), s"pid $p")
    val bounds = ParquetEventLog.boundedSeqNos(name)
    for (p <- 0 until 4)
      assert(ParquetEventLog.seekEnqueuedTime(name, p, Long.MaxValue / 2) == bounds(p)._2)
  }

  test("parquet-backed logs are read-only") {
    intercept[UnsupportedOperationException] {
      ParquetEventLog.send(logName(4), Event("x".getBytes, 0L), None, None)
    }
    val e = intercept[Exception] {
      Seq(("x")).toDF("body").write.format("graft-eventlog")
        .option("path", path).mode("append").save()
    }
    assert(e.getMessage.contains("read-only") ||
      Option(e.getCause).exists(_.getMessage.contains("read-only")))
  }

  test("multi-file directory logs: footer bounds, range reads, cross-file order") {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val dir = java.nio.file.Files.createTempDirectory("pq-multi").toString
    spark.range(0, 300)
      .select(col("id").as("event_id"),
        timestamp_micros(col("id") * 1000000L).as("ts"),
        concat(lit("p"), col("id")).as("props"), lit("t").as("event_type"))
      .repartitionByRange(3, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(dir)
    val df = graft.GraftEventLog.readParquetLog(spark, dir, 4)
    assert(df.count() == 300)
    val viaLog = df.select($"partition".cast("int").as("pid"),
      col("body").cast("string").as("props"), $"sequenceNumber")
    val expected = spark.range(0, 300).select(
      pmod($"id", lit(4)).cast("int").as("pid"),
      concat(lit("p"), $"id").as("props"),
      ($"id" / 4).cast("long").as("sequenceNumber"))
    assert(viaLog.except(expected).isEmpty && expected.except(viaLog).isEmpty)
    // a mid-stream range read that spans file boundaries (file of 100 rows
    // covers 25 seqNos per partition)
    val name = EventLogConf.parquetLogName(dir, 4)
    val got = ParquetEventLog.receive(name, 1, 20, 10).toVector
    assert(got.map(_._1) == (20L to 29L).toVector)
    assert(got.map(c => new String(c._2.body, "UTF-8")) ==
      (20L to 29L).map(s => s"p${1 + s * 4}").toVector)
    // MICROS timestamp unit decoded correctly (Spark wrote micros, not nanos)
    assert(got.head._2.enqueuedTimeMicros == (1 + 20 * 4) * 1000000L)
  }

  test("non-dense event_ids fall back to a full index with identical layout semantics") {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val dir = java.nio.file.Files.createTempDirectory("pq-gaps").toString
    // only even ids: mod-4 partitions 1 and 3 are empty, ranks still dense
    spark.range(0, 100)
      .select(($"id" * 2).as("event_id"),
        timestamp_micros(($"id" * 2) * 1000000L).as("ts"),
        concat(lit("g"), $"id" * 2).as("props"), lit("t").as("event_type"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val name = EventLogConf.parquetLogName(dir, 4)
    val bounds = ParquetEventLog.boundedSeqNos(name)
    assert(bounds(0) == ((0L, 50L)) && bounds(2) == ((0L, 50L)))
    assert(bounds(1) == ((0L, 0L)) && bounds(3) == ((0L, 0L)))
    val got = ParquetEventLog.receive(name, 2, 10, 3).toVector
    // partition 2 holds ids 2,6,10,...; seq 10 -> id 42
    assert(got.map(_._1) == Vector(10L, 11L, 12L))
    assert(got.map(c => new String(c._2.body, "UTF-8")) == Vector("g42", "g46", "g50"))
    // seek semantics on the indexed path
    assert(ParquetEventLog.seekEnqueuedTime(name, 2, 42L * 1000000L) == 10L)
    assert(ParquetEventLog.seekEnqueuedTime(name, 2, Long.MaxValue / 2) == 50L)
    // end-to-end through the connector
    assert(graft.GraftEventLog.readParquetLog(spark, dir, 4).count() == 100)
  }

  test("non-dense logs above the full-index cap fail loudly, not OOM") {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val dir = java.nio.file.Files.createTempDirectory("pq-gaps-big").toString
    spark.range(0, 100)
      .select(($"id" * 2).as("event_id"),
        timestamp_micros(($"id" * 2) * 1000000L).as("ts"),
        concat(lit("g"), $"id" * 2).as("props"), lit("t").as("event_type"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val name = EventLogConf.parquetLogName(dir, 4)
    val prev = ParquetEventLog.maxFullIndexRows
    ParquetEventLog.maxFullIndexRows = 50
    try {
      val e = intercept[IllegalStateException] {
        ParquetEventLog.receive(name, 0, 0, 1).toVector
      }
      assert(e.getMessage.contains("not dense"))
      assert(e.getMessage.contains("Rewrite the log with dense event_ids"))
    } finally ParquetEventLog.maxFullIndexRows = prev
    // with the cap restored the same log reads fine
    assert(ParquetEventLog.receive(name, 0, 0, 1).nonEmpty)
  }

  test("dense-id arithmetic invariants hold for arbitrary id ranges (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      minId <- Gen.choose(-100000L, 100000L)
      rows <- Gen.choose(0L, 50000L)
      p <- Gen.choose(1, 64)
    } yield (minId, rows, p)
    (0 until 500).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { case (minId, rows, p) =>
        val meta = ParquetEventLog.LogMeta(
          "x", Nil, minId, minId + rows - 1, rows, dense = true, "", null)
        val counts = (0 until p).map(pid => ParquetEventLog.countFor(meta, pid, p))
        // partition counts tile the id range exactly
        assert(counts.sum == rows, s"minId=$minId rows=$rows p=$p counts=$counts")
        assert(counts.max - counts.min <= 1, "counts must be balanced within 1")
        (0 until p).foreach { pid =>
          val f = ParquetEventLog.firstId(meta, pid, p)
          assert(math.floorMod(f, p.toLong) == pid.toLong, s"firstId residue pid=$pid")
          if (rows > 0) assert(f >= minId && f < minId + p,
            s"firstId $f outside first stride for pid=$pid minId=$minId p=$p")
        }
      }
    }
  }

  test("metadata-only count works for parquet log names") {
    assert(graft.GraftEventLog.count(logName(4)) == 1000L)
  }

  test("rows not in event_id order: cursor bails out, results stay correct") {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val dir = java.nio.file.Files.createTempDirectory("pq-unsorted").toString
    // one file, rows deliberately NOT ordered by event_id
    spark.range(0, 200)
      .select($"id".as("event_id"), timestamp_micros($"id" * 1000000L).as("ts"),
        concat(lit("u"), $"id").as("props"), lit("t").as("event_type"))
      .orderBy(md5($"event_id".cast("string")))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val name = EventLogConf.parquetLogName(dir, 4)
    // chunked tail: second call installs a cursor, third hits it and must
    // detect the disorder and fall back rather than mis-map seqNos. Each
    // chunk must deliver exactly its requested range (order follows file
    // layout; every row carries its true sequenceNumber)
    Seq((0L, 20L), (20L, 10L), (30L, 20L)).foreach { case (f, n) =>
      val chunk = ParquetEventLog.receive(name, 1, f, n).toVector
      assert(chunk.map(_._1).toSet == (f until f + n).toSet, s"chunk [$f,${f + n})")
      chunk.foreach { case (seq, e) =>
        assert(new String(e.body, "UTF-8") == s"u${1 + seq * 4}", s"seq $seq payload")
      }
    }
  }

  test("duplicate ids that fake density fail loudly instead of serving wrong rows") {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val dir = java.nio.file.Files.createTempDirectory("pq-dup").toString
    Seq(0L, 1L, 1L, 3L).toDF("event_id")
      .select($"event_id", timestamp_micros($"event_id" * 1000000L).as("ts"),
        lit("d").as("props"), lit("t").as("event_type"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val name = EventLogConf.parquetLogName(dir, 4)
    // footer stats say dense (rows=4, span 0..3); the data is not
    val e = intercept[IllegalStateException] {
      ParquetEventLog.receive(name, 2, 0, 10).toVector // id 2 is the hidden gap
    }
    assert(e.getMessage.contains("densely unique"), e.getMessage)
  }

  test("interleaved readers at different positions never corrupt each other") {
    val name = logName(4)
    ParquetEventLog.invalidate(path)
    val expected = ParquetEventLog.receive(name, 3, 0, 250).toVector.toMap
    ParquetEventLog.invalidate(path)
    // two logical readers tailing the same partition from different offsets,
    // interleaved — cursor repositioning/fallback must keep both correct
    val a = Seq((0L, 30L), (30L, 30L), (60L, 30L))
    val b = Seq((100L, 40L), (140L, 40L), (180L, 40L))
    val interleaved = a.zip(b).flatMap { case (ra, rb) => Seq(ra, rb) }
    interleaved.foreach { case (from, n) =>
      val got = ParquetEventLog.receive(name, 3, from, n).toVector
      assert(got.map(_._1) == (from until from + n).toVector, s"range [$from,${from + n})")
      got.foreach { case (seq, e) =>
        assert(java.util.Arrays.equals(e.body, expected(seq).body), s"payload at $seq")
      }
    }
    // and truly concurrent: 8 threads x alternating ranges
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        try {
          (0 until 5).foreach { i =>
            val from = (t * 13 + i * 37) % 200
            val got = ParquetEventLog.receive(name, 3, from.toLong, 17L).toVector
            assert(got.map(_._1) == (from.toLong until math.min(250L, from + 17L)).toVector)
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"concurrent reads failed: ${errs.peek()}")
  }

  test("striped cursor: serving all partitions costs ~ONE decode pass, not P") {
    val name = logName(4)
    ParquetEventLog.invalidate(path)
    ParquetEventLog.decodedRecords.reset()
    // micro-batch lockstep: every partition tails its range in chunks, the
    // pattern the streaming source produces (4 partitions x 250 seqNos)
    val chunk = 50L
    var served = 0L
    (0L until 250L by chunk).foreach { from =>
      (0 until 4).foreach { pid =>
        served += ParquetEventLog.receive(name, pid, from, chunk).size
      }
    }
    assert(served == 1000L)
    val decoded = ParquetEventLog.decodedRecords.sum()
    // pre-striping this was ~4000 (each partition decoded every row); the
    // shared pass should decode each row once (small slack for alignment)
    assert(decoded <= 1200L, s"decoded $decoded records for 1000 served — striping lost")
  }

  test("shuffled-ts log: time seek is footer-metadata + at most ~one row group") {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val dir = java.nio.file.Files.createTempDirectory("pq-shuffled-ts").toString
    val n = 40000L
    // ts = permutation of [0, n) seconds (7919 coprime with n): every row
    // group's ts range straddles any mid cutoff — the worst case for
    // file/group classification, where the old file-level seek degenerated
    // to a driver-side scan of the whole log
    spark.range(0, n)
      .select($"id".as("event_id"),
        timestamp_micros(($"id" * 7919 % n) * 1000000L).as("ts"),
        concat(lit("s"), $"id").as("props"), lit("t").as("event_type"))
      .orderBy("event_id")
      .coalesce(1)
      .write.option("parquet.block.size", 64 * 1024)
      .mode("overwrite").parquet(dir)
    ParquetEventLog.invalidate(dir)
    val meta = ParquetEventLog.metaFor(dir)
    val groups = meta.files.flatMap(_.groups)
    assert(groups.size >= 4, s"need several row groups to prove pruning, got ${groups.size}")
    assert(groups.forall(g => g.tsStatsOk && g.idStatsOk))
    val name = EventLogConf.parquetLogName(dir, 4)
    val cutoff = (n / 2) * 1000000L
    // ground truth from a plain Spark read
    val expected = spark.read.parquet(dir)
      .select(pmod($"event_id", lit(4)).cast("int").as("pid"),
        expr("event_id div 4").as("seq"), (unix_micros($"ts")).as("ts_us"))
      .filter($"ts_us" >= cutoff)
      .groupBy("pid").agg(min($"seq")).as[(Int, Long)].collect().toMap
    ParquetEventLog.seekDecodedRecords.reset()
    for (p <- 0 until 4)
      assert(ParquetEventLog.seekEnqueuedTime(name, p, cutoff) == expected(p), s"pid $p")
    val decoded = ParquetEventLog.seekDecodedRecords.sum()
    val maxGroupRows = groups.map(_.rows).max
    // shuffled ts => the FIRST group already answers every partition; the
    // id-ascending walk must stop there instead of scanning all ~n rows
    assert(decoded <= maxGroupRows,
      s"seek decoded $decoded records (> one row group of $maxGroupRows) — " +
        "driver-side seek is scanning the log")
  }

  test("concurrent seek and event reads leave the shared Hadoop conf untouched") {
    val name = logName(4)
    val cutoff = truth(4).agg(expr("percentile_approx(ts_us, 0.5)")).as[Long].head()
    // distinct seek targets miss the seek cache, so every seek reads the file
    val targets = (0 until 8).map(i => cutoff - i)
    val expectedSeeks = targets.map { t =>
      truth(4).filter($"ts_us" >= t).groupBy("pid").agg(min(expr("event_id div 4")))
        .as[(Int, Long)].collect().toMap
    }
    val expectedEvents = truth(4).filter($"pid" === 1).orderBy("event_id")
      .select($"props", $"ts_us").as[(String, Long)].collect().toSeq
    ParquetEventLog.invalidate(path)
    val seekDecoded0 = ParquetEventLog.seekDecodedRecords.sum()
    val start = new java.util.concurrent.CountDownLatch(1)
    def inThread(body: => Unit) = {
      val t = new Thread(() => { start.await(); body })
      t.start(); t
    }
    val seekResults = new java.util.concurrent.ConcurrentLinkedQueue[Map[Int, Long]]()
    val eventResults = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Long)]]()
    val threads = Seq(
      inThread(targets.foreach { t => // the (event_id, ts) seek projection
        seekResults.add((0 until 4).map(p => p -> ParquetEventLog.seekEnqueuedTime(name, p, t)).toMap)
      }),
      inThread((0 until 8).foreach { _ => // the full event projection
        ParquetEventLog.dropCursor(path, 4)
        eventResults.add(ParquetEventLog.receive(name, 1, 0, Long.MaxValue / 2).toVector
          .map { case (_, e) => (new String(e.body, "UTF-8"), e.enqueuedTimeMicros) })
      }))
    start.countDown()
    threads.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    assert(seekResults.asScala.toSeq == expectedSeeks)
    assert(ParquetEventLog.seekDecodedRecords.sum() > seekDecoded0, "the seeks read records")
    assert(eventResults.size == 8)
    eventResults.asScala.foreach(got => assert(got == expectedEvents))
    assert(ParquetIO.conf.get(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA) == null,
      "a reader set its projection on the shared conf")
  }

  test("missing path fails planning loudly") {
    val err = intercept[Exception] {
      graft.GraftEventLog.readParquetLog(spark, "/no/such/file.parquet", 4).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("not found")))
  }
}
