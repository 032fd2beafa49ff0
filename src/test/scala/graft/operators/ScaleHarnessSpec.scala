package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * Hostile-distribution evidence: the 100 TB design claims ("a skewed group
 * never funnels through one reducer", "hot-key guards drop with counted
 * semantics") exercised against GENERATED pathological data at test scale,
 * with a task-level listener asserting the hot stage actually ran with
 * parallelism > 1. Red-on-revert: undoing the bucketed prefix sum or the
 * dropHotKeys guard fails these assertions, not just a soak test on a
 * cluster nobody runs in CI.
 */
class ScaleHarnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Runs `action` with a task-end listener attached; returns the maximum
    * shuffle-read record count any single task saw. The single-reducer
    * anti-pattern shows up here as one task reading ~the whole input.
    * AQE partition COALESCING is disabled for the measurement: at test
    * scale every shuffle is below the advisory size and AQE legitimately
    * merges it into one partition — which is exactly the noise that would
    * mask a bare-group window (whose skew AQE can NOT split). */
  private def maxTaskShuffleRead(action: => Unit): Long = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try maxTaskShuffleRead0(action)
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def maxTaskShuffleRead0(action: => Unit): Long = {
    val perTask = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          perTask.add(t.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      // drain the async listener bus: task-end events may still be in flight
      var waited = 0
      while (waited < 10000 && {
        Thread.sleep(100); waited += 100
        val before = perTask.size; Thread.sleep(100); waited += 100
        perTask.size != before
      }) ()
    } finally spark.sparkContext.removeSparkListener(listener)
    perTask.asScala.foldLeft(0L)(math.max)
  }

  /** One group holding `skewShare` of `n` rows, distinct ids, tiny payloads. */
  private def skewedDocs(n: Int, skewShare: Double): DataFrame =
    spark.range(n.toLong).select(
      when(col("id") < (n * skewShare).toLong, lit("giant"))
        .otherwise(concat(lit("tail"), pmod(col("id"), lit(7)))).as("source"),
      format_string("doc_%06d", col("id")).as("doc_id"),
      concat(lit("text of document number "), col("id")).as("text"),
      (pmod(col("id"), lit(50)) + 1).cast("int").as("n_tok"))

  test("token-budget cumsum on a 95%-skewed group runs multi-task, not one reducer") {
    val n = 60000
    val docs = skewedDocs(n, 0.95).cache()
    docs.count()
    try {
      var out: Array[(String, Long)] = null
      val maxRead = maxTaskShuffleRead {
        out = Sampling.capPerGroupTokens(docs, Seq($"source"), $"text", $"doc_id",
            $"n_tok", budget = Long.MaxValue / 4)
          .groupBy($"source").agg(sum($"n_tok").cast("long").as("t"))
          .as[(String, Long)].collect()
      }
      // correctness: an unlimited budget keeps every row, whatever the order
      val expected = docs.groupBy($"source").agg(sum($"n_tok").cast("long").as("t"))
        .as[(String, Long)].collect().toMap
      assert(out.toMap == expected)
      // the giant group is ~95% of rows; the old bare-group window put all
      // of them through ONE task. Bucketed, no task may see even half.
      assert(maxRead < n / 2,
        s"one task shuffle-read $maxRead of $n rows — single-reducer window is back")
    } finally { docs.unpersist(); () }
  }

  test("asofFit on a hot-key dimension: per-bucket arrays bounded, probes equal the join") {
    // 95% of the dimension is ONE key (every SPY quote): the fitted probe
    // state must spread that history across the time buckets — a per-key
    // array holding the whole history would be the one-reducer pattern in
    // disguise (one row the size of the corpus)
    val n = 40000
    val quotes = spark.range(n.toLong).select(
      when(pmod(col("id"), lit(20)) =!= 0, lit("SPY"))
        .otherwise(concat(lit("t"), pmod(col("id"), lit(7)))).as("sym"),
      (col("id") * 1000L).as("ts"),
      (col("id") + 1).cast("long").as("px"))
    val fitted = Relational.asofFit(quotes, "sym", "ts", Map("px" -> "px"))
    val maxArr = fitted.byBucket
      .select(max(size(col("__arr_px")))).head().getInt(0)
    assert(maxArr < n / 50,
      s"one (key, bucket) holds $maxArr of $n quotes — the hot key's " +
        "history is not spreading across the time buckets")
    // probe correctness under the skew, incl. between-quote times
    val trades = spark.range(0L, n.toLong, 37L).select(col("id").as("tid"),
      lit("SPY").as("sym"), (col("id") * 1000L + 500L).as("ts"))
    val got = Relational.asofJoinWith(trades, fitted, "sym", "ts")
      .select(col("tid"), col("px")).as[(Long, Option[Long])].collect().toMap
    val exp = Relational.asofJoin(trades, quotes, "sym", "ts", Map("px" -> "px"))
      .select(col("tid"), col("px")).as[(Long, Option[Long])].collect().toMap
    assert(got == exp, "fitted probe diverged from the composed as-of under skew")
    assert(got.nonEmpty)
  }

  test("asofFit with an outlier-stretched time axis still spreads the bulk") {
    // one quote a YEAR away from the rest: an equi-width bucket over
    // [min, max] would put ALL other 40k quotes in one bucket — the
    // robust-percentile width must keep the bulk spread, with only the
    // clamped tails absorbing outliers
    val n = 40000
    val yearUs = 365L * 86400 * 1000000
    val quotes = spark.range(n.toLong).select(
      lit("SPY").as("sym"),
      when(col("id") === 0, lit(yearUs)).otherwise(col("id") * 1000L).as("ts"),
      (col("id") + 1).cast("long").as("px"))
    val fitted = Relational.asofFit(quotes, "sym", "ts", Map("px" -> "px"))
    val maxArr = fitted.byBucket
      .select(max(size(col("__arr_px")))).head().getInt(0)
    assert(maxArr < n / 20,
      s"one bucket holds $maxArr of $n quotes — the outlier collapsed the " +
        "bucket width (robust-percentile core is not being used)")
    // probes across the whole axis (incl. beyond the outlier) stay correct
    val trades = spark.range(0L, n.toLong, 97L).select(col("id").as("tid"),
      lit("SPY").as("sym"), (col("id") * 1000L + 500L).as("ts"))
      .unionByName(Seq((999999L, "SPY", 2 * yearUs)).toDF("tid", "sym", "ts"))
    val got = Relational.asofJoinWith(trades, fitted, "sym", "ts")
      .select(col("tid"), col("px")).as[(Long, Option[Long])].collect().toMap
    val exp = Relational.asofJoin(trades, quotes, "sym", "ts", Map("px" -> "px"))
      .select(col("tid"), col("px")).as[(Long, Option[Long])].collect().toMap
    assert(got == exp, "fitted probe diverged under the outlier axis")
  }

  test("asofFit on a sparse high-cardinality dimension: state stays data-sized, not keys x 256") {
    // 1M users x 3 updates each, times spread over the whole axis: the old
    // dense fit exploded every key from its first data bucket to the top
    // (~256 rows/key for early keys -> up to 256M state rows from a 3M-row
    // dimension). Sparse state must stay <= data rows + one summary row
    // per key, and probes (gap buckets, past-last buckets) stay correct.
    val keys = 1000000L
    val dim = spark.range(3L * keys).select(
      pmod(col("id"), lit(keys)).as("uid"),
      (col("id") * 7919L % 100000000L).as("ts"),
      (col("id") + 1).as("score"))
    val fitted = Relational.asofFit(dim, "uid", "ts", Map("score" -> "score"))
    val bucketRows = fitted.byBucket.count()
    val keyRows = fitted.byKey.count()
    assert(bucketRows <= 3L * keys,
      s"$bucketRows (key, bucket) state rows from a ${3 * keys}-row dimension " +
        "— the dense keys x 256 explosion is back")
    assert(keyRows == keys, s"expected one summary row per key, got $keyRows")
    // probe a sample across gap buckets, before-first and past-last times
    val probes = spark.range(0L, keys, 9973L).select(
      col("id").as("pid"), col("id").as("uid"),
      (col("id") % 4L * 60000000L - 10000000L).as("ts"))
    val got = Relational.asofJoinWith(probes, fitted, "uid", "ts")
      .select(col("pid"), col("score")).as[(Long, Option[Long])].collect().toMap
    val exp = Relational.asofJoin(probes, dim, "uid", "ts", Map("score" -> "score"))
      .select(col("pid"), col("score")).as[(Long, Option[Long])].collect().toMap
    assert(got == exp, "sparse fitted probe diverged from the composed as-of")
    assert(got.nonEmpty)
    fitted.byBucket.unpersist()
    fitted.byKey.unpersist()
    ()
  }

  test("bm25SearchMany stop-word query: WindowGroupLimit keeps the rank shuffle bounded") {
    // one query term ('the') matches EVERY document — the naive per-query
    // top-k plan lands all n candidates of that query in ONE rank task.
    // WindowGroupLimit (row_number + rank filter) must cap each map task
    // at k rows per query, so no task ever shuffle-reads the corpus.
    val n = 60000
    val docs = spark.range(n.toLong).select(
      format_string("d_%06d", col("id")).as("doc_id"),
      concat(lit("the w"), pmod(col("id"), lit(100))).as("text")).cache()
    docs.count()
    try {
      val queries = Seq((1L, "the"), (2L, "w42")).toDF("query_id", "query_text")
      var out: Array[org.apache.spark.sql.Row] = null
      val maxRead = maxTaskShuffleRead {
        out = CorpusOps.bm25SearchMany(docs, "doc_id", "text", queries,
          "query_id", "query_text", k = 5).collect()
      }
      assert(maxRead < n / 2,
        s"one task shuffle-read $maxRead of $n candidates — the per-query " +
          "rank limit is not being pushed below the shuffle")
      // correctness under the hostile distribution: per-query equality
      // with the single-query scorer, ranks dense 1..k
      val g = out.groupBy(_.getLong(0))
      for ((qid, terms) <- Seq(1L -> Seq("the"), 2L -> Seq("w42"))) {
        val single = CorpusOps.bm25Search(docs, "doc_id", "text", terms, k = 5)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        val got = g(qid).sortBy(_.getLong(4))
          .map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
        assert(got.toSeq == single.toSeq, s"query $qid diverged under skew")
      }
    } finally { docs.unpersist(); () }
  }

  test("packSequences on a 95%-skewed group: multi-task and value-correct under skew") {
    val n = 40000
    val docs = skewedDocs(n, 0.95).cache()
    docs.count()
    try {
      var rows: Array[(String, String, Long, Long)] = null
      val maxRead = maxTaskShuffleRead {
        rows = Sampling.packSequences(docs, Seq($"source"), $"doc_id", $"n_tok",
            maxSeqLen = 512)
          .select($"source", $"doc_id", $"token_start", $"n_tokens")
          .as[(String, String, Long, Long)].collect()
      }
      assert(maxRead < n / 2,
        s"one task shuffle-read $maxRead of $n rows — single-reducer window is back")
      // brute-force oracle: per group, token_start = running sum in doc_id order
      rows.groupBy(_._1).foreach { case (_, grp) =>
        var cum = 0L
        grp.sortBy(_._2).foreach { case (_, id, start, nt) =>
          assert(start == cum, s"$id: token_start $start, expected $cum")
          cum += nt
        }
      }
    } finally { docs.unpersist(); () }
  }

  test("packSequenceRows on a 95%-skewed group: multi-task, sequences tile gaplessly") {
    val n = 40000
    val docs = skewedDocs(n, 0.95).cache()
    docs.count()
    try {
      var rows: Array[(String, Long, Long, Seq[(Long, String, Long, Long)])] = null
      val maxRead = maxTaskShuffleRead {
        rows = Sampling.packSequenceRows(docs, Seq($"source"), $"doc_id",
            $"doc_id", $"n_tok", maxSeqLen = 512)
          .select($"source", $"seq_id", $"seq_tokens", $"slices")
          .as[(String, Long, Long, Seq[(Long, String, Long, Long)])].collect()
      }
      // the giant group holds 95% of docs, but its sequences spread over
      // the (group, seq_id) shuffle — no reducer may see half the corpus
      assert(maxRead < n / 2,
        s"one task shuffle-read $maxRead of $n rows — single-reducer assembly")
      // loader invariants: within every sequence the sorted slices tile
      // [0, seq_tokens) gaplessly, and every sequence except each group's
      // last is exactly maxSeqLen tokens
      rows.foreach { case (src, seqId, seqTok, slices) =>
        var pos = 0L
        slices.foreach { case (p, _, _, len) =>
          assert(p == pos, s"$src/$seqId: slice at $p, expected $pos")
          pos += len
        }
        assert(pos == seqTok, s"$src/$seqId: tiles $pos of $seqTok tokens")
      }
      val lastSeq = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      rows.foreach { case (src, seqId, seqTok, _) =>
        if (seqId != lastSeq(src))
          assert(seqTok == 512L, s"$src/$seqId: non-final sequence has $seqTok tokens")
      }
      // totals: every token of every doc lands in exactly one slice
      val totalSliced = rows.map(_._3).sum
      val totalTokens = docs.agg(sum($"n_tok")).as[Long].head()
      assert(totalSliced == totalTokens, s"$totalSliced sliced vs $totalTokens input")
    } finally { docs.unpersist(); () }
  }

  test("packSequencesBestFit on a 95%-skewed group: multi-task FFD, exact per-bucket replay") {
    val n = 40000
    val docs = skewedDocs(n, 0.95).cache()
    docs.count()
    try {
      var rows: Array[(String, String, Long, Long, Long)] = null
      val maxRead = maxTaskShuffleRead {
        rows = Sampling.packSequencesBestFit(docs, Seq($"source"), $"doc_id",
            $"n_tok", maxSeqLen = 512)
          .select($"source", $"id", $"n_tokens", $"seq_id", $"seq_offset")
          .as[(String, String, Long, Long, Long)].collect()
      }
      // the giant group's docs spread over the default md5 buckets — no
      // task packs (or shuffles) the whole group
      assert(maxRead < n / 2,
        s"one task shuffle-read $maxRead of $n rows — bucketing broke")
      // no doc spans sequences, by construction
      assert(rows.forall(r => r._5 + r._3 <= 512))
      // sequences never overfill and slices never overlap
      rows.groupBy(r => (r._1, r._4)).foreach { case ((_, seq), docsIn) =>
        assert(docsIn.map(_._3).sum <= 512, s"seq $seq overfilled")
        val spans = docsIn.map(d => (d._5, d._5 + d._3)).sortBy(_._1)
        spans.sliding(2).foreach {
          case Array((_, e1), (s2, _)) => assert(e1 <= s2, s"seq $seq overlaps")
          case _ =>
        }
      }
      // exact local FFD replay per (group, bucket) — bucket rides in the
      // seq_id's high bits, so the replay needs no re-hashing
      rows.groupBy(r => (r._1, r._4 >> 32)).foreach { case ((g, bkt), docsIn) =>
        val used = scala.collection.mutable.ArrayBuffer.empty[Long]
        val expect = scala.collection.mutable.Map.empty[String, (Long, Long)]
        docsIn.sortBy(d => (-d._3, d._2)).foreach { case (_, id, nt, _, _) =>
          var i = 0
          while (i < used.length && used(i) + nt > 512) i += 1
          if (i == used.length) used += 0L
          expect(id) = ((bkt << 32) | i.toLong, used(i))
          used(i) += nt
        }
        docsIn.foreach { case (_, id, _, seq, off) =>
          assert(expect(id) == ((seq, off)), s"($g, $bkt) doc $id diverged")
        }
      }
    } finally { docs.unpersist(); () }
  }

  test("persisted bm25 stats: multi-epoch merge exact under a universal stop term, probe multi-task") {
    // hostile shape: a term in EVERY document (df = n_docs — the worst
    // case for both the df merge and the probe's matching-pair volume),
    // stats built across 1 base + 4 appended epochs with overlapping
    // vocabularies. The merged index must reproduce the one-shot search
    // EXACTLY, and the probe's scoring shuffle must spread by doc, never
    // funnel the stop term's matches through one reducer.
    val n = 30000
    val docs = spark.range(n.toLong).select(
      col("id").as("doc_id"),
      concat(lit("the tail"), pmod(col("id"), lit(97)),
        lit(" the filler word number "), col("id")).as("text")).cache()
    docs.count()
    val base = java.nio.file.Files.createTempDirectory("bm25-scale").toString
    val path = s"$base/stats"
    try {
      CorpusOps.saveBm25Stats(docs.filter($"doc_id" % 5 === 0), "doc_id", "text", path)
      for (e <- 1 to 4)
        CorpusOps.appendToBm25Stats(
          docs.filter($"doc_id" % 5 === e), "doc_id", "text", path, epoch = e.toLong)
      val q = Seq("the", "tail7")
      var got: Seq[(Long, Long, Double)] = null
      val maxRead = maxTaskShuffleRead {
        got = CorpusOps.bm25SearchWithStats(docs, "doc_id", "text", q, path, k = 25)
          .as[(Long, Long, Double)].collect().toSeq
      }
      val direct = CorpusOps.bm25Search(docs, "doc_id", "text", q, k = 25)
        .as[(Long, Long, Double)].collect().toSeq
      assert(got == direct, s"multi-epoch index diverged from one-shot:\n$got\nvs\n$direct")
      assert(maxRead < n / 2,
        s"one task shuffle-read $maxRead of ~$n stop-term matches — probe funneled")
      // compaction under the same shape stays value-stable
      assert(CorpusOps.compactBm25Stats(spark, path) == 5)
      assert(CorpusOps.bm25SearchWithStats(docs, "doc_id", "text", q, path, k = 25)
        .as[(Long, Long, Double)].collect().toSeq == direct)
    } finally {
      docs.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base)); ()
    }
  }

  test("checkUnique on a 95%-duplicated key: map-side combine, never one reducer") {
    // one key duplicated across ~95% of rows: the per-key count must
    // arrive at its reducer as combined partials (an aggregation), never
    // as the raw row stream (the window/collect shape) — and the counted
    // profile must still be exact
    val n = 50000
    val docs = skewedDocs(n, 0.95).cache()
    docs.count()
    try {
      var r: (Long, Long, Long, Long, Option[String], Boolean) = null
      val maxRead = maxTaskShuffleRead {
        r = Validation.checkUnique(docs, Seq($"source"))
          .as[(Long, Long, Long, Long, Option[String], Boolean)].head()
      }
      assert(r._1 == n && r._2 == 8 && r._3 == 8 && r._4 == n &&
        r._5 == Some("giant") && !r._6, r.toString)
      assert(maxRead < n / 2,
        s"one task shuffle-read $maxRead of $n rows — the giant key's rows " +
          "reached the reducer raw instead of as combined partials")
    } finally { docs.unpersist(); () }
  }

  test("exact row dedup of a 50k-copy duplicate group is an aggregation, not a window") {
    // one text duplicated 50k times (84% of rows) + a distinct tail: the
    // survivor must be the min doc_id, and no task may absorb the whole
    // duplicate group (min-agg partials combine map-side)
    val docs = spark.range(60000).select(
      format_string("doc_%06d", col("id")).as("doc_id"),
      when(col("id") < 50000, lit("the same exact document text"))
        .otherwise(concat(lit("unique "), col("id"))).as("text")).cache()
    docs.count()
    try {
      var kept: Array[String] = null
      val maxRead = maxTaskShuffleRead {
        kept = Dedup.exactRows(docs, Seq($"text"), $"doc_id")
          .select($"doc_id").as[String].collect()
      }
      assert(kept.length == 10001)
      assert(kept.contains("doc_000000") && !kept.contains("doc_000001"))
      assert(maxRead < 30000,
        s"one task shuffle-read $maxRead of 60000 — duplicate group hit one reducer")
    } finally { docs.unpersist(); () }
  }

  test("fuzzyPairs with a 2k-copy duplicate key: blocking runs on distinct keys, expansion is output-sized") {
    // real corpora carry vast exact-duplicate key groups; feeding them to
    // the segment blocking would flood one bucket quadratically (a 2k-copy
    // key alone = 4M candidate rows through one shuffle key). The operator
    // must block on DISTINCT keys and expand verified key pairs back to id
    // pairs through output-sized equi-joins.
    def ed(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val cur = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(a.length)
    }
    val n = 60000
    val df = spark.range(n.toLong).select(col("id"),
      when(col("id") < 2000, lit("hot-duplicated-key"))
        .otherwise(substring(md5(pmod(col("id"), lit(200)).cast("string")
          .cast("binary")), 1, 12)).as("key")).cache()
    df.count()
    try {
      // ground truth from the DISTINCT keys (driver-side DP over ~201 keys)
      val groups = df.groupBy($"key").count().as[(String, Long)].collect()
      val within = groups.map { case (_, c) => c * (c - 1) / 2 }.sum
      val cross = (for {
        (ka, ca) <- groups; (kb, cb) <- groups
        if ka < kb && ed(ka, kb) <= 2
      } yield ca * cb).sum
      var got = 0L
      val maxRead = maxTaskShuffleRead {
        got = Fuzzy.fuzzyPairs(df, "id", "key", 2).count()
      }
      assert(got == within + cross, s"got $got want ${within + cross}")
      assert(within > 1999000L) // the hot group's pairs are present
      // the duplicate group must never flood a candidate bucket: no task
      // may shuffle-read even a fraction of the old 4M-row hot bucket
      assert(maxRead < n / 2,
        s"one task shuffle-read $maxRead — duplicate keys reached the segment join raw")
    } finally { df.unpersist(); () }
  }

  test("as-of join with one key holding 95% of rows runs multi-task and carries correctly") {
    // hot-instrument shape: 95% of trades and quotes on one key. The carry
    // must spread the key across time buckets, and every trade must still
    // pick up the newest quote at-or-before its time — including trades in
    // buckets with no quote at all (the cross-bucket carry-in path).
    val n = 30000
    val quotes = spark.range(n.toLong).select(
      when(col("id") < (n * 0.95).toLong, lit("HOT"))
        .otherwise(concat(lit("c"), pmod(col("id"), lit(5)))).as("sym"),
      (col("id") * 7L).as("ts"),
      (col("id") + 100000L).as("px"))
    val trades = spark.range(n.toLong).select(
      when(col("id") < (n * 0.95).toLong, lit("HOT"))
        .otherwise(concat(lit("c"), pmod(col("id"), lit(5)))).as("sym"),
      (col("id") * 7L + 3L).as("ts"),
      col("id").as("trade_id"))
    var out: Array[(String, Long, Long)] = null
    val maxRead = maxTaskShuffleRead {
      out = Relational.asofJoin(trades, quotes, "sym", "ts", Map("px" -> "px"))
        .select($"sym", $"ts", $"px").as[(String, Long, Long)].collect()
    }
    assert(out.length == n)
    // quote times are id*7, trade at id*7+3: the as-of quote is the SAME id
    // within a key's id-sequence, so px == floor(ts/7) + 100000 whenever a
    // quote at-or-before exists for the key (always, by construction)
    out.foreach { case (sym, ts, px) =>
      assert(px == ts / 7 + 100000L, s"$sym trade at $ts carried px $px")
    }
    assert(maxRead < n,
      s"one task shuffle-read $maxRead of ${2 * n} union rows — bare-key carry is back")
  }

  test("session counts with one user holding 95% of events run multi-task and match brute force") {
    // bot-user shape: 95% of events on one key, clustered into sessions
    // with 2000s gaps every 100 events. Counting must spread the hot user
    // across time buckets, and cross-bucket boundary starts must be
    // counted exactly once.
    val n = 40000
    val ev = spark.range(n.toLong).select(
      when(col("id") < (n * 0.95).toLong, lit(7L))
        .otherwise(pmod(col("id"), lit(9))).as("user_id"),
      // 1s spacing; every 100th event jumps 2000s => a new session
      timestamp_micros((col("id") * 1000000L) +
        (floor(col("id") / 100) * 2000000000L)).as("ts")).cache()
    ev.count()
    try {
      var got: Map[Long, (Long, Long)] = null
      val maxRead = maxTaskShuffleRead {
        got = Relational.sessionCounts(ev, "user_id", "ts", 1800L * 1000000L)
          .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      }
      // brute force on the driver
      val rows = ev.as[(Long, java.sql.Timestamp)].collect()
      val expected = rows.groupBy(_._1).map { case (u, g) =>
        val ts = g.map(_._2.getTime * 1000L).sorted
        val starts = 1 + ts.toSeq.sliding(2).count {
          case Seq(a, b) => b - a > 1800L * 1000000L; case _ => false }
        u -> (starts.toLong, ts.length.toLong)
      }
      assert(got == expected,
        s"diff: ${(got.toSet -- expected.toSet).take(5)} vs ${(expected.toSet -- got.toSet).take(5)}")
      assert(maxRead < n / 2,
        s"one task shuffle-read $maxRead of $n events — bare-key lag window is back")
    } finally { ev.unpersist(); () }
  }

  test("minhash LSH on 5k identical docs: hot band buckets drop loudly, no quadratic join") {
    // the most hostile near-dup distribution: every doc identical, so every
    // band bucket holds the whole corpus. Without the maxBucketSize guard
    // the banded self-join would build ~bands * n^2/2 candidate pairs; with
    // it, the buckets are excluded with counted drops and the planted
    // distinct near-pair (sharing no hot bucket content) still surfaces
    // nothing — the operator completes fast and LOUDLY instead of exploding
    val n = 5000
    val docs = spark.range(n.toLong).select(
      col("id").as("doc_id"),
      lit("the exact same document body repeated across the whole corpus many times over")
        .as("text"))
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.5)
    assert(pairs.count() == 0, "over-cap buckets must be excluded, not joined")
    val drops = Dedup.lastDropStats("minHashLshPairs").get
    assert(drops.buckets >= 16 && drops.rows >= 16L * n,
      s"expected every band bucket dropped with counted rows, got $drops")
  }

  test("a stop-phrase shingle at 50% df is dropped with counted semantics and the join stays bounded") {
    // 2k docs; half share one stop phrase, each also has a unique tail.
    // Without the maxShingleDf guard the hot shingle alone would generate
    // ~500k candidate pairs; with it, the drop counter reports exactly one
    // dropped bucket and its row count, and surviving pairs are only the
    // planted near-dup pair.
    val docs = spark.range(2000).select(
      format_string("doc_%04d", col("id")).as("doc_id"),
      concat(
        when(col("id") % 2 === 0, lit("all rights reserved click here ")).otherwise(lit("")),
        lit("unique body "), col("id"), lit(" filler words "),
        when(col("id") < 2, lit("twin payload shared by the first two documents exactly"))
          .otherwise(concat(lit("tail "), col("id") * 17))).as("text"))
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3,
      threshold = 0.3, maxShingleDf = 100)
    val got = pairs.select($"doc_a", $"doc_b").as[(String, String)].collect()
    val drops = Dedup.lastDropStats("ngramJaccardPairs").get
    assert(drops.buckets >= 1, s"hot-shingle guard never fired: $drops")
    assert(drops.rows >= 900, s"dropped rows should cover the 1000-df shingles: $drops")
    assert(got.toSet == Set("doc_0000" -> "doc_0001"),
      s"expected only the planted twin pair, got ${got.toSeq}")
  }

  test("best-fit packing: 200k pieces in ONE bucket-run complete in bounded time") {
    // the adversarial shape for a linear open-bin scan: every piece fails
    // to fit every open bin (full pieces and 9-of-16 docs) or fits only
    // after probing a deep prefix (the 7s). A linear first-fit scan is
    // quadratic here (~10^10 steps — minutes to hours); the segment-tree
    // placement is O(n log n) and must finish in seconds.
    val maxSeqLen = 16
    val docs = spark.range(0, 100001).select(
      $"id".cast("long").as("doc_id"),
      when($"id" === 0L, lit(100000L * maxSeqLen)) // 100k full pieces
        .when($"id" % 2 === 1, lit(9L))            // 50k: never fit (residual 7)
        .otherwise(lit(7L)).as("n_tok"),           // 50k: fill the 9-bins
      lit("g").as("g"))
    val t0 = System.nanoTime()
    val packed = Sampling.packSequencesBestFitChunked(docs, Seq($"g"),
      $"doc_id", $"n_tok", maxSeqLen, bucketCol = Some(lit(0)))
    val (rows, bins, toks) = packed.agg(count(lit(1)),
        countDistinct(when($"seq_id" >= 0, $"seq_id")), sum($"n_tokens"))
      .as[(Long, Long, Long)].head()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(rows == 200000L, s"rows $rows")   // 100k full pieces + 100k docs
    // 100k full bins + 50k bins opened by the 9s (the 7s fill them 9+7=16)
    assert(bins == 150000L, s"bins $bins")
    assert(toks == 100000L * maxSeqLen + 50000L * 9 + 50000L * 7)
    assert(secs < 60.0, f"200k-piece single-run pack took $secs%.1f s " +
      "— placement has regressed to a linear bin scan")
  }
}
