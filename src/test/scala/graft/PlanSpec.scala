package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan shape assertions: the properties that matter at 100 TB
 * (pushdown reaching the scan, broadcast joins chosen, column pruning) are
 * pinned here so a regression shows up as a test failure, not a silent
 * slowdown.
 */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = SparkTestSession.sf0001

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scan: filters are pushed and columns pruned") {
    val df = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 30.0)
      .select(col("l_orderkey"), col("l_quantity"))
    df.count()
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("broadcast join is chosen for the dimension side") {
    val q = SparkEntry.queries("q_join_broadcast")(spark, dir)
    assert(plan(q).contains("BroadcastHashJoin"), plan(q))
  }

  test("multi-join query broadcasts the small dims (nation, region)") {
    val q = SparkEntry.queries("q_join_multi")(spark, dir)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("decontaminate broadcasts the benchmark index — the exploded corpus never shuffles to join") {
    val q = SparkEntry.queries("q_corpus_decontaminate")(spark, dir)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("contamination report keeps the decontaminate join shape — bench side broadcast") {
    val q = SparkEntry.queries("q_corpus_contamination")(spark, dir)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("skew-guard anti-join broadcasts the hot-key table, never shuffles the index") {
    // the hot-key alarm's object boundary hides size stats from Catalyst;
    // without the explicit broadcast hint this anti-join silently became a
    // full sort-merge shuffle of the candidate index (3x on q_dedup_embedding)
    val q = SparkEntry.queries("q_dedup_embedding")(spark, dir)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin LeftAnti"), p)
  }

  test("capPerGroup gets rank-limit pushdown (WindowGroupLimit below the shuffle)") {
    val q = SparkEntry.queries("q_corpus_cap")(spark, dir)
    val p = plan(q)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("minhash-index probe broadcasts the batch at both joins — the index never shuffles") {
    val q = SparkEntry.queries("q_dedup_incremental_neardup")(spark, dir)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("diversity sample keeps capPerGroup's rank-limit pushdown over the cell window") {
    val q = SparkEntry.queries("q_embed_diversity")(spark, dir)
    val p = plan(q)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("top-share selection windows only the bounded (group, score) histogram") {
    // the raw corpus must reach the cut join through a hash AGGREGATE, never
    // through a per-group sort/window of the rows themselves: exactly one
    // Window in the plan, fed by an Aggregate (the histogram), and no
    // global sort anywhere
    val q = SparkEntry.queries("q_corpus_select_quantile")(spark, dir)
    val p = plan(q)
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"expected exactly one Window (over the histogram):\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("token-budget/packing cumsum: no Window is partitioned by the bare group") {
    // a per-group window RUNNING SUM has no WindowGroupLimit analogue: its
    // shuffle lands a group's entire row set in ONE task. The bucketed
    // two-phase prefix sum must leave every Window partitioned by
    // (group, order-key bucket), never the group alone — the difference
    // between one reducer per source and 256 tasks per source at 100 TB.
    val windowParts = """Window \[[^\]]*\], \[([^\]]*)\]""".r
    for (g <- Seq("q_corpus_pack", "q_corpus_cap_tokens", "q_corpus_mix_budget")) {
      val p = plan(SparkEntry.queries(g)(spark, dir))
      val parts = windowParts.findAllMatchIn(p).map(_.group(1)).toList
      assert(parts.nonEmpty, s"$g: expected a (group, bucket) Window:\n$p")
      parts.foreach { spec =>
        assert(spec.contains("__bkt") && spec.split(",").length >= 2,
          s"$g: Window partitioned by [$spec] — missing the order-key bucket:\n$p")
      }
    }
  }

  test("as-of join: no Window is partitioned by the bare key") {
    // the carry must run within (key, time-bucket); a bare-key carry window
    // puts a hot key's entire history through one reducer
    val windowParts = """Window \[[^\]]*\], \[([^\]]*)\]""".r
    val p = plan(SparkEntry.queries("q_asof_join")(spark, dir))
    val parts = windowParts.findAllMatchIn(p).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected a (key, bucket) carry Window:\n$p")
    parts.foreach { spec =>
      assert(spec.contains("__bkt") && spec.split(",").length >= 2,
        s"as-of carry Window partitioned by [$spec] — missing the time bucket:\n$p")
    }
  }

  test("session counts: no Window is partitioned by the bare key") {
    val windowParts = """Window \[[^\]]*\], \[([^\]]*)\]""".r
    val p = plan(SparkEntry.queries("q_events_sessions")(spark, dir))
    val parts = windowParts.findAllMatchIn(p).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected a (key, bucket) lag Window:\n$p")
    parts.foreach { spec =>
      assert(spec.contains("__bkt") && spec.split(",").length >= 2,
        s"session lag Window partitioned by [$spec] — missing the time bucket:\n$p")
    }
  }

  test("bm25: df and stats broadcast, top-k is a distributed TakeOrdered") {
    // the corpus-scan side must never shuffle to meet the tiny df/stats
    // tables, and the top-k must not plan as a single-partition global sort
    val q = SparkEntry.queries("q_text_bm25")(spark, dir)
    val p = plan(q)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("persisted bm25 probe: the query-term filter reaches the stats parquet scan") {
    // a vocabulary-scale stats index must never be read whole per query —
    // the term predicate has to push below the epoch-sum aggregate into
    // the scan (StartsWith/EqualTo/In on the term column), and the probe's
    // joins stay broadcast with a distributed top-k like plain bm25
    val base = java.nio.file.Files.createTempDirectory("bm25-pin").toString
    val path = s"$base/stats"
    val docs = Tables.documents(spark, dir)
    operators.CorpusOps.saveBm25Stats(docs, "doc_id", "text", path)
    try {
      val q = operators.CorpusOps.bm25SearchWithStats(
        docs, "doc_id", "text", Seq("data", "key"), path, k = 5)
      val p = plan(q)
      assert(p.contains("In(term, [data,key])") ||
        p.contains("In(term, [key,data])"), p)
      assert(p.contains("TakeOrderedAndProject"), p)
      assert(!p.contains("SortMergeJoin"), p)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base)); ()
    }
  }

  test("as-of probe plan (asofJoinWith): no union and no window anywhere") {
    // the fit-once form's whole point: a probe batch must not pay the
    // composed asofJoin's per-batch union + within-bucket carry window —
    // two joins and array lookups only. (The fit aggregations live behind
    // lazyShare and are window-free by construction.)
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val fitted = operators.Relational.asofFit(views, "user_id", "ts",
      Map("value" -> "view_value"))
    val p = plan(operators.Relational.asofJoinWith(clicks, fitted, "user_id", "ts"))
    assert(!p.contains("Window"), p)
    assert(!p.contains("Union"), p)
  }

  test("bm25 multi-query: per-query top-k gets the WindowGroupLimit pushdown") {
    // row_number + rank filter must plan as WindowGroupLimit (partial below
    // the shuffle), so each map task ships <= k rows per query — never every
    // candidate of a stop-word query; fan-out joins stay broadcast
    val q = SparkEntry.queries("q_text_bm25_multi")(spark, dir)
    val p = plan(q)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("encoding profile is a pure scan — no exchange at all") {
    val q = operators.CorpusOps.encodingProfile(
      Tables.documents(spark, dir), "doc_id", "text")
    val p = plan(q)
    assert(!p.contains("Exchange"), p)
  }

  test("connector scan: narrowed range appears in scan description; whole-stage codegen above") {
    val df = GraftEventLog.readParquetLog(spark, s"$dir/events.parquet", 4,
        Map("startingPosition" -> """{"seqNo":10}"""))
      .filter(col("sequenceNumber") < 20)
      .select(col("partition"), col("sequenceNumber"))
    df.count()
    val p = plan(df)
    assert(p.contains("maxSeqEx=20"), p)
    assert(p.contains("start={\"seqNo\":10}"), p)
    // "*(1)" prefixes mark operators inside a WholeStageCodegen stage
    assert(p.contains("*(1) Filter"), p)
  }

  test("connector scan reports statistics for the optimizer") {
    val df = GraftEventLog.readParquetLog(spark, s"$dir/events.parquet", 4)
    val stats = df.queryExecution.optimizedPlan.stats
    // 1000 events * 96 bytes estimate
    assert(stats.sizeInBytes == BigInt(96000), s"stats: $stats")
    assert(stats.rowCount.isEmpty || stats.rowCount.contains(BigInt(1000)))
  }

  test("window-rank query keeps a single shuffle for partitionBy") {
    val q = SparkEntry.queries("q_window_rank")(spark, dir)
    val p = plan(q)
    // one exchange for the window partitioning (+ possibly one for the final
    // orderBy); no repeated shuffling of the same keys
    assert(p.contains("Window"), p)
  }

  test("exact dedup shuffles 16-byte content-hash keys, never the document text") {
    // both exact forms group/partition on (__h0, __h1) = two xxhash64 words;
    // the text column must appear in the exchange only inside the hash
    // computation, never as a partitioning attribute itself
    val docs = Tables.documents(spark, dir)
    val exchanges = Seq(
      SparkEntry.queries("q_dedup_exact")(spark, dir),
      SparkEntry.queries("q_dedup_exact_rows")(spark, dir))
      .map(plan)
      .flatMap(_.linesIterator.filter(_.contains("Exchange hashpartitioning")))
    assert(exchanges.nonEmpty, "expected hash exchanges in the dedup plans")
    exchanges.foreach { l =>
      // the partition keys must be LONG attributes (the hash words — shown
      // as __h0/_groupingexpression aliases or the inline xxhash64 call)...
      assert(l.matches(
        """.*hashpartitioning\((?:__h0|_groupingexpression|xxhash64\()#?\w*\d+L?.*"""), l)
      // ...and never the string text column itself
      assert(!l.matches(""".*hashpartitioning\(text#\d+.*"""), l)
    }
    // and the operator output still carries the original key column names
    assert(operators.Dedup.exact(docs, Seq(col("text")), col("doc_id"))
      .columns.toSeq == Seq("text", "keeper", "n_dups"))
  }

  test("paragraph-dedup first-occurrence shuffle carries hashes, never paragraph text") {
    val q = SparkEntry.queries("q_dedup_paragraphs")(spark, dir)
    val exchanges = plan(q).linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "expected hash exchanges in the paragraph plan")
    // the window (first-occurrence choice) partitions on the two hash words;
    // no exchange may partition on the exploded paragraph string itself
    exchanges.foreach { l =>
      assert(!l.matches(""".*hashpartitioning\(__p#\d+.*"""), l)
    }
    assert(exchanges.exists(_.matches(""".*hashpartitioning\(__h0#\d+L?, __h1#\d+L?.*""")),
      exchanges.mkString("\n"))
  }

  test("gopher rule matrix is a pure scan — no exchange at all") {
    val q = operators.CorpusOps.gopherRules(
      Tables.documents(spark, dir), "doc_id", "text")
    val p = plan(q)
    assert(!p.contains("Exchange"), p)
    assert(q.count() > 0)
  }

  test("quality feature extraction is a pure scan — no exchange at all") {
    val q = operators.CorpusOps.qualityFeatures(
      Tables.documents(spark, dir), "doc_id", "text")
    val p = plan(q)
    assert(!p.contains("Exchange"), p)
    assert(q.count() > 0)
  }

  test("near-dup decontamination broadcasts the benchmark side of both joins") {
    val q = SparkEntry.queries("q_corpus_decontaminate_neardup")(spark, dir)
    val p = plan(q)
    // candidate join (bench banded table) and verification join (bench
    // shingle arrays) are both hinted broadcasts: the corpus side must
    // never shuffle its banded rows or text to meet the benchmark
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2, p)
  }

  test("dataset-card report shuffles content hashes for the distinct count, never text") {
    val q = SparkEntry.queries("q_corpus_report")(spark, dir)
    val exchanges = plan(q).linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "expected hash exchanges in the report plan")
    exchanges.foreach { l =>
      assert(!l.matches(""".*hashpartitioning\([^)]*text#\d+.*"""), l)
    }
  }

  test("exact-substring scrub shuffles span hashes, never span text") {
    val q = SparkEntry.queries("q_dedup_scrub")(spark, dir)
    val exchanges = plan(q).linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "expected hash exchanges in the scrub plan")
    exchanges.foreach { l =>
      assert(!l.matches(""".*hashpartitioning\(__s#\d+.*"""), l)
    }
  }

  test("exact-substring scrub plans NO window over span hashes (un-splittable skew)") {
    // a Window partitioned by raw span hashes sends every occurrence of one
    // hot k-gram through a single reducer AQE cannot split; the scrub must
    // plan its first-occurrence choice as aggregation + equi-join instead
    val q = SparkEntry.queries("q_dedup_scrub")(spark, dir)
    val p = plan(q)
    assert(!p.contains("Window"), "scrub must not use a window operator:\n" + p)
    assert(p.contains("HashAggregate"), p)
  }

  test("paragraph dedup plans NO window over paragraph hashes") {
    // same un-splittable-skew rationale as the scrub: the first-occurrence
    // choice must be min(struct(id,pos)) aggregation, not row_number
    val q = SparkEntry.queries("q_dedup_paragraphs")(spark, dir)
    val p = plan(q)
    assert(!p.contains("Window"), "paragraph dedup must not use a window:\n" + p)
  }

  test("exact-rows dedup pre-shrinks with a min-keepBy agg+join before its tie window") {
    val q = SparkEntry.queries("q_dedup_exact_rows")(spark, dir)
    val p = plan(q)
    // the survivor choice is agg + join; the residual window only orders
    // min-keepBy ties (1 row per group for unique keepBy)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Join") || p.contains("join"), p)
  }

  test("duplicate-span plan shuffles 8-byte span hashes, never span text") {
    val q = SparkEntry.queries("q_corpus_dup_spans")(spark, dir)
    val exchanges = plan(q).linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "expected hash exchanges in the span plan")
    exchanges.foreach { l =>
      assert(!l.matches(""".*hashpartitioning\(s#\d+.*"""), l)
    }
  }

  test("capped-vocab LM plan has no single-partition global sort-limit") {
    // vocabCap targets web-scale vocabularies — exactly where a global
    // orderBy().limit(cap) (one reducer holding the whole vocab) breaks.
    // The threshold-selection plan must contain no global limit at all.
    val docs = Tables.documents(spark, dir)
    val q = operators.CorpusOps.lmQualityScore(docs, "doc_id", "text", vocabCap = 50)
    val p = plan(q)
    assert(!p.contains("GlobalLimit"), p)
    assert(!p.contains("TakeOrderedAndProject"), p)
    assert(q.count() > 0)
  }

  test("bigram LM never force-broadcasts the vocabulary (web-scale unigram table)") {
    // with the size-based threshold disabled, any BroadcastHashJoin left in
    // the plan can only come from a forced broadcast() hint — the unigram
    // scoring join, the prev-count join and the bigram join must all plan
    // as shuffle joins (only the 1-row total/vocab scalars stay broadcast,
    // as BroadcastNestedLoopJoin cross joins)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // drop caches first: an earlier suite may have EXECUTED a lazily-shared
      // vocab table under the default threshold, and its InMemoryRelation
      // stores that run's final plan — where AQE legitimately converted the
      // shuffle join to a broadcast. That cached artifact would be spliced
      // into this test's plans and read as a false "forced broadcast".
      spark.catalog.clearCache()
      val docs = Tables.documents(spark, dir)
      Seq(
        operators.CorpusOps.bigramLmScore(docs, "doc_id", "text"),
        operators.CorpusOps.lmQualityScore(docs, "doc_id", "text"),
        operators.CorpusOps.tfIdfTopTerms(docs, "doc_id", "text")
      ).foreach { q =>
        val p = plan(q)
        assert(!p.contains("BroadcastHashJoin"),
          "vocabulary tables must not carry a broadcast hint:\n" + p)
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stream-knn per-batch join broadcasts the batch side; the corpus never shuffles to join") {
    // q_stream_knn's foreachBatch runs knnJoin(batch, corpus): each
    // micro-batch is dimension-table-sized by contract, so the join must be
    // a broadcast of the BATCH (query) side — the corpus scan feeds the join
    // without an exchange. The window top-k after it may shuffle its k-row-
    // per-(query, partition) survivors; the join itself must not.
    val e = Tables.embeddings(spark, dir)
    val batch = e.filter(col("vec_id") < 8) // stands in for one micro-batch
    val q = operators.Similarity.knnJoin(batch, "vec_id", "embedding",
      e, "vec_id", "embedding", k = 3)
    val p = plan(q)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // no exchange may sit between the corpus parquet scan and the join:
    // everything below the join must be scan/filter/project only
    val lines = p.linesIterator.toSeq
    val joinIdx = lines.indexWhere(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("BroadcastHashJoin"))
    val belowJoin = lines.drop(joinIdx + 1).filterNot(_.contains("BroadcastExchange"))
    assert(!belowJoin.exists(_.contains("Exchange hashpartitioning")),
      "corpus side must reach the join unshuffled:\n" + p)
  }

  test("fuzzy pairs: candidate generation is pure equi-joins — no cartesian, no inequality join") {
    val q = SparkEntry.queries("q_fuzzy_pairs")(spark, dir)
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the banded levenshtein verify sits above an equi-join, with the
    // segment join keyed on (length, slot, content)
    assert(p.contains("levenshtein"), p)
  }

  test("perceptual-hash dedup: banded equi-join candidates, no cartesian, no all-pairs") {
    val q = SparkEntry.queries("q_multimodal_dedup")(spark, dir)
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the exact popcount verify sits above the (band, chunk) equi-join
    assert(p.contains("bit_count"), p)
  }

  test("best-fit packing: one shuffle on (group, bucket), no window, no global sort") {
    val q = SparkEntry.queries("q_corpus_pack_bestfit")(spark, dir)
    val p = plan(q)
    // FFD runs inside partition tasks over a hash repartition; the only
    // Sort is sortWithinPartitions (local) and the gate's final orderBy —
    // never a Window (single-reducer group) or a global sort-limit
    assert(!p.contains("Window"), p)
    assert(!p.contains("GlobalLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("categorical drift: top-K cut is a distributed TakeOrdered over category counts") {
    val q = SparkEntry.queries("q_categorical_drift")(spark, dir)
    val p = plan(q)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("driver smoke: entry() works on a fresh plain session config") {
    // the driver calls entry() without our nanosAsLong session conf; the
    // seeded-log loader must set it on the fly
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try {
      val df = SparkEntry.entry(spark)
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }
}
