package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.hashFunctions._

/**
 * Deduplication operators for large text corpora. All operators are pure
 * DataFrame transformations: candidate generation always goes through a
 * shuffle key (hash of content / LSH band / simhash band / vector bucket),
 * never an all-pairs cross join, so each one scales to 100 TB by adding
 * shuffle partitions. Verification of candidates is exact and happens only
 * within buckets.
 *
 * No silent caps: every skew guard (hot LSH buckets, hot shingles) counts
 * what it dropped, records it under the operator's tag (`lastDropStats`),
 * and warns in the log — a recall collapse at a hostile distribution is
 * visible instead of looking like success.
 */
object Dedup extends Logging {

  /** What a skew guard removed on the most recent build of an operator's
    * candidate pipeline: `buckets` = distinct hot keys, `rows` = index rows. */
  final case class DropStats(buckets: Long, rows: Long)

  /** One dropHotKeys invocation's counts, computed (and warn-logged) on first
    * request against that invocation's OWN hot-key table. Laziness keeps
    * operator construction free of Spark jobs; the per-invocation handle
    * means concurrent queries sharing an operator tag cannot clobber each
    * other's counts — `lastDropStats` reports whichever invocation was
    * registered last, with numbers that belong to it. */
  private final class DropHandle(tag: String, cap: Int,
      sc: org.apache.spark.SparkContext, counts: () => (Long, Long)) {
    /** The invocation's session is gone — stats can never be computed. */
    def dead: Boolean = sc.isStopped

    lazy val stats: DropStats = {
      val (nHot, rowsHot) = counts()
      if (nHot > 0) logWarning(
        s"[$tag] dropped $nHot hot buckets ($rowsHot index rows) over cap=$cap — " +
          "pairs within those buckets are NOT reported; raise the cap or widen " +
          "bands if recall there matters")
      val s = DropStats(nHot, rowsHot)
      published.put(tag, s)
      dropListeners.forEach(_.onDrops(tag, s))
      s
    }

    def tryStats: Option[DropStats] =
      if (dead) None else scala.util.Try(stats).toOption
  }

  private val dropStats = new ConcurrentHashMap[String, DropHandle]()

  /** Every tag whose drop counts HAVE been computed in this JVM, with the
    * most recent numbers. Unlike [[lastDropStats]] this never runs a job —
    * it is the read side the streaming source's `metrics()` polls each
    * progress event, so recall-loss counters ride along in
    * `StreamingQueryProgress.sources[].metrics` (see
    * EventLogMicroBatchStream) without the metrics path ever blocking on an
    * aggregation. */
  private val published = new ConcurrentHashMap[String, DropStats]()
  def publishedDropStats: Map[String, DropStats] = {
    import scala.jdk.CollectionConverters._
    published.asScala.toMap
  }

  /** Scope label prefixed onto drop-stat keys (`<scope>/<tag>`). The
    * registry is process-wide, so without scoping every pipeline in the
    * JVM publishes under the same operator tags and a source's SQL-UI
    * metrics can attribute ANOTHER query's recall loss to itself. Wrap
    * operator CONSTRUCTION in [[withDropScope]] (inheritable by child
    * threads — foreachBatch bodies included) and set the source option
    * `dropMetricsScope` to the same label: that source then reports only
    * its own pipeline's counters. Empty scope = the pre-existing
    * unscoped keying, fully backward-compatible. */
  private val dropScope = new InheritableThreadLocal[String] {
    override def initialValue(): String = ""
  }
  def withDropScope[T](scope: String)(f: => T): T = {
    require(scope.nonEmpty && !scope.contains("/"),
      s"drop scope must be non-empty and '/'-free, got '$scope'")
    val prev = dropScope.get()
    dropScope.set(scope)
    try f finally dropScope.set(prev)
  }
  private def scopedTag(tag: String): String = {
    val s = dropScope.get()
    if (s == null || s.isEmpty) tag else s"$s/$tag"
  }

  /** The published counters belonging to ONE scope, keys stripped back to
    * their bare operator tags — the read side for a source whose
    * `dropMetricsScope` is set. */
  def scopedDropStats(scope: String): Map[String, DropStats] = {
    val p = scope + "/"
    publishedDropStats.collect {
      case (k, s) if k.startsWith(p) => k.substring(p.length) -> s
    }
  }

  /** Executor-side alarm baked into the hot-key plan itself: fires when the
    * caller's OWN action materializes the table, so a pipeline that drops
    * recall warns in its logs even if nobody ever polls `lastDropStats`.
    * (Serializable holder — executors log through their own logger.) */
  private object HotKeyAlarm extends Serializable {
    @transient private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Dedup")
    private val WarnRowsPerPartition = 3
    def wrap(tag: String, cap: Int, rows: Iterator[org.apache.spark.sql.Row])
        : Iterator[org.apache.spark.sql.Row] = new Iterator[org.apache.spark.sql.Row] {
      private var warned = 0
      override def hasNext: Boolean = rows.hasNext
      override def next(): org.apache.spark.sql.Row = {
        val r = rows.next()
        if (warned < WarnRowsPerPartition) {
          warned += 1
          log.warn(s"[$tag] dropping hot key ${r.toSeq.dropRight(1).mkString("/")} " +
            s"(df=${r.getLong(r.length - 1)} > cap=$cap) — pairs within it are NOT " +
            "reported" + (if (warned == WarnRowsPerPartition) " (further drops in " +
            "this partition unlogged; totals via Dedup.lastDropStats)" else ""))
        }
        r
      }
    }
  }

  /** Push-based metrics SPI: fires whenever an invocation's drop counts are
    * computed (via [[lastDropStats]] or [[publishDropStats]]) — the batch
    * analog of the connector's MetricPlugin listener, so a pipeline harness
    * can collect recall-loss counters without polling each operator tag.
    * (An in-plan `observe()` cannot carry these: every candidate pipeline
    * self-joins its index, which would duplicate the observation node.) */
  trait DropStatsListener { def onDrops(tag: String, stats: DropStats): Unit }
  private val dropListeners =
    new java.util.concurrent.CopyOnWriteArrayList[DropStatsListener]()
  def addDropStatsListener(l: DropStatsListener): Unit = { dropListeners.add(l); () }
  def removeDropStatsListener(l: DropStatsListener): Unit = { dropListeners.remove(l); () }

  /** Drop counts recorded by the last invocation of the tagged operator in
    * this JVM (None = operator not yet built). Computed on demand: a
    * KB-scale aggregation over the hot-key table's plan (re-run per poll —
    * the hot table is deliberately un-materialized so operator construction
    * stays job-free). */
  def lastDropStats(tag: String): Option[DropStats] =
    Option(dropStats.get(tag)).flatMap(_.tryStats)

  /** Compute-and-publish every registered invocation's drop counts (end-of-
    * job hook for pipelines that want all recall-loss counters at once).
    * Handles whose session has stopped are skipped and evicted — one stale
    * pipeline must not fail every other pipeline's counters. */
  def publishDropStats(): Map[String, DropStats] = {
    import scala.jdk.CollectionConverters._
    dropStats.asScala.flatMap { case (tag, h) =>
      val s = h.tryStats
      if (s.isEmpty && h.dead) dropStats.remove(tag)
      s.map(tag -> _)
    }.toMap
  }

  /**
   * The shared skew guard: drop index rows whose key (shingle, fingerprint,
   * LSH bucket) occurs in more than `cap` rows, recording what was dropped
   * under `tag`. The hot-key table is one narrow row per distinct key —
   * metadata-scale — and lazily checkpointed so the caller's plan and the
   * stats handle share one materialization; nothing executes until the
   * caller's own action (operators stay lazy DataFrame transformations).
   */
  private[operators] def dropHotKeys(
      index: DataFrame, keyCols: Seq[String], cap: Int, tag0: String): DataFrame = {
    val tag = scopedTag(tag0) // registry key: "<scope>/<tag>" when scoped
    val hot0 = index.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > cap)
    // route the (metadata-scale) hot-key table through the executor-side
    // alarm so the drop is loud when the CALLER's action runs it — not only
    // when someone polls the stats afterwards. NO checkpoint here: a lazy
    // localCheckpoint still force-plans its AQE stages at CONSTRUCTION time
    // (jobs during EXPLAIN — breaks the one-lazy-plan contract for every
    // operator built on this guard); the cost is that a stats poll re-runs
    // this KB-scale aggregation instead of reading a materialized table.
    val hot = hot0.mapPartitions(rows => HotKeyAlarm.wrap(tag, cap, rows))(
        org.apache.spark.sql.Encoders.row(hot0.schema))
    dropStats.put(tag, new DropHandle(tag, cap, hot.sparkSession.sparkContext, () => {
      val Seq(nHot, rowsHot) = hot
        .agg(count(lit(1)), coalesce(sum(col("__df")), lit(0L)))
        .collect().head.toSeq.map(v => v.asInstanceOf[Long])
      (nHot, rowsHot)
    }))
    // explicit broadcast: the alarm's object boundary hides the hot table's
    // size from Catalyst (default estimate = huge), which would silently
    // flip this anti-join to a full shuffle of the INDEX. The hot set is
    // metadata-scale by construction (distinct keys with df > cap — the
    // stop-phrase tail), so broadcasting it is the designed plan shape.
    index.join(broadcast(hot.select(keyCols.map(col): _*)), keyCols, "left_anti")
  }

  /** [[dropHotKeys]]'s record for a guard that ran on the driver: the
    * hot-key counts `keyCounts` over `cap` become the invocation's
    * [[DropStats]] under `tag0` (scoped like every other drop). */
  private def recordDrops(sc: org.apache.spark.SparkContext, tag0: String, cap: Int,
      keyCounts: Iterable[Long]): Unit = {
    val tag = scopedTag(tag0)
    val hot = keyCounts.filter(_ > cap)
    if (hot.nonEmpty) logWarning(s"[$tag] dropping ${hot.size} hot keys over cap=$cap " +
      "— pairs within them are NOT reported")
    dropStats.put(tag, new DropHandle(tag, cap, sc, () => (hot.size.toLong, hot.sum)))
    ()
  }

  /**
   * Exact dedup: keep one deterministic representative (min of `keepBy`)
   * per distinct value of `keyCols`. A single hash-partitioned aggregation —
   * the minimal-shuffle shape (vs dropDuplicates, whose survivor is
   * partitioning-dependent and thus not reproducible) — whose SHUFFLE KEY is
   * a 128-bit content hash (two independent xxhash64 words) rather than the
   * key values themselves: at corpus scale the key is the full document
   * text, and hashing keeps exchange keys at 16 bytes instead of moving the
   * corpus through the shuffle as key bytes. The key columns are still in
   * the output, carried as per-group representatives (min) — equal to the
   * original values up to a 128-bit collision, odds far below hardware
   * error rates at any achievable corpus size.
   */
  def exact(df: DataFrame, keyCols: Seq[Column], keepBy: Column): DataFrame = {
    val aggs = keyCols.map(c => min(c).as(nameOf(c))) ++
      Seq(min(keepBy).as("keeper"), count(lit(1)).as("n_dups"))
    df.groupBy(contentHash(keyCols, 0).as("__h0"), contentHash(keyCols, 1).as("__h1"))
      .agg(aggs.head, aggs.tail: _*)
      .drop("__h0", "__h1")
  }

  /** Exact dedup returning the surviving rows themselves (min-`keepBy` row
    * per distinct content hash of `keyCols`; same 16-byte shuffle-key
    * rationale as [[exact]]).
    *
    * Skew shape: the survivor choice is an AGGREGATION (min keepBy per
    * hash, map-side combinable) plus an equi-join back against the rows —
    * NOT a row_number window over raw content hashes, which would funnel a
    * million-copy duplicate group through one reducer AQE cannot split
    * (same rationale as [[removeDuplicateSpans]]). The residual window
    * below it orders only min-keepBy TIES — one row per group when
    * `keepBy` is unique (the operator's contract for reproducibility), so
    * it never concentrates load; with tied keepBy it picks one survivor
    * arbitrarily-but-stably, exactly as the old full window did. */
  def exactRows(df: DataFrame, keyCols: Seq[Column], keepBy: Column): DataFrame = {
    val withH = df
      .withColumn("__h0", contentHash(keyCols, 0))
      .withColumn("__h1", contentHash(keyCols, 1))
    val firsts = withH.groupBy(col("__h0"), col("__h1"))
      .agg(min(keepBy).as("__mk"))
    val w = Window.partitionBy(col("__h0"), col("__h1")).orderBy(keepBy.asc)
    withH.join(firsts, Seq("__h0", "__h1"))
      .filter(keepBy === col("__mk"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__h0", "__h1", "__mk", "__rn")
  }

  /**
   * Paragraph-level exact dedup with document reassembly (the CCNet / Dolma
   * hygiene pass, one granularity below [[exactRows]]): each distinct
   * paragraph survives only at its FIRST occurrence in (id, position) order
   * across the whole corpus; every later occurrence — inside the same
   * document or any other — is cut out, and each document's survivors are
   * re-joined with `joinWith` in their original order. A document that
   * loses every paragraph drops entirely.
   *
   * `paragraphs` is the segmentation, an `array<string>` column evaluated
   * against `docs` (default: newline split of `textCol`; corpora without
   * newlines pass their own segmentation, e.g. fixed-token windows).
   *
   * Scale shape: the global first-occurrence choice shuffles only
   * (hash₀, hash₁, id, pos) — two 64-bit content hashes (same
   * double-hash collision guard as [[exactRows]]), never paragraph text —
   * and is an AGGREGATION (`min(struct(id, pos))` per paragraph hash,
   * map-side combinable), not a window: one boilerplate paragraph repeated
   * across millions of documents must not funnel through a single reducer
   * AQE cannot split (same rationale as [[removeDuplicateSpans]]). Kept
   * positions are aggregated to one per-document array (never the driver),
   * and the only full-text movement is the single equi-join of the
   * original documents against that narrow kept-set table; reassembly is a
   * per-row array filter after the join.
   *
   * Output: (idCol, textCol rewritten, n_paras, n_kept).
   */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
      paragraphs: Column = null, joinWith: String = "\n"): DataFrame = {
    val paras = Option(paragraphs).getOrElse(split(col(textCol), "\n"))
    val ex = docs.select(col(idCol).as("__id"), posexplode(paras).as(Seq("__pos", "__p")))
    val kept = ex
      .select(col("__id"), col("__pos"),
        contentHash(Seq(col("__p")), 0).as("__h0"),
        contentHash(Seq(col("__p")), 1).as("__h1"))
      .groupBy(col("__h0"), col("__h1"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__f"))
      .groupBy(col("__f.__id").as("__id"))
      .agg(sort_array(collect_list(col("__f.__pos"))).as("__keep"),
        count(lit(1)).cast("int").as("n_kept"))
    docs.join(kept, col(idCol) === kept("__id"))
      .withColumn("__paras", paras)
      .select(col(idCol),
        array_join(filter(col("__paras"),
          (p, i) => array_contains(col("__keep"), i)), joinWith).as(textCol),
        size(col("__paras")).as("n_paras"),
        col("n_kept"))
  }

  /**
   * WITHIN-document repeated-paragraph removal (the Dolma/CCNet "repeated
   * line" cleanup, scoped to each document alone — [[dedupParagraphs]] is
   * the corpus-wide form): each document keeps only the FIRST occurrence of
   * every distinct paragraph it contains. A pure per-row expression — the
   * keep test is `first index of this paragraph == my index` over the
   * document's own paragraph array — so cleaning a 100 TB corpus is a
   * ZERO-SHUFFLE scan stage (per-doc work is O(paragraphs²) string
   * compares, trivial at real paragraph counts). Returns
   * (idCol, textCol rewritten, n_paras, n_kept).
   */
  def dedupParagraphsWithinDoc(docs: DataFrame, idCol: String, textCol: String,
      delim: String = "\n", joinWith: String = "\n"): DataFrame = {
    val paras = split(col(textCol), java.util.regex.Pattern.quote(delim))
    val kept = filter(paras, (p, i) => array_position(paras, p) === i + 1)
    // the filtered array is materialized ONCE in its own projection: two
    // references to a lambda-bearing expression inside one Project evaluate
    // inconsistently under subexpression elimination (seen live: size()
    // read 1 while array_join() of the "same" column carried 2 elements),
    // and CollapseProject keeps the stage split because the non-cheap HOF
    // is consumed twice downstream. All OTHER columns pass through, so the
    // stage composes inside a pipeline without re-joining metadata.
    docs.withColumn("__kept", kept).withColumn("n_paras", size(paras))
      .withColumn(textCol, array_join(col("__kept"), joinWith))
      .withColumn("n_kept", size(col("__kept")))
      .drop("__kept")
  }

  /** DuckDB twin of [[dedupParagraphsWithinDoc]] over a `d(doc_id, text)`
    * CTE the caller supplies (so gates can plant repeats identically).
    * DuckDB's lambda index is 1-based where Spark's is 0-based — the two
    * `list_position == i` forms below are the same predicate. */
  def sqlDedupParagraphsWithinDoc(sourceCte: String): String = {
    s"""WITH d AS ($sourceCte),
       | p AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM d),
       | k AS (SELECT doc_id, ps,
       |        list_filter(ps, (x, i) -> list_position(ps, x) = i) AS keep
       |       FROM p)
       |SELECT doc_id, array_to_string(keep, chr(10)) AS text,
       | CAST(len(ps) AS INT) AS n_paras, CAST(len(keep) AS INT) AS n_kept
       |FROM k ORDER BY doc_id""".stripMargin
  }

  /**
   * Exact-substring duplicate REMOVAL (the scrub half of Lee et al. 2022's
   * ExactSubstr dedup; [[graft.operators.CorpusOps.duplicateSpanProfile]]
   * is the detection half): a word position is cut from its document iff
   * some word `k`-gram span covering it occurs elsewhere in the corpus
   * EARLIER in (id, position) order — every duplicated span keeps exactly
   * its first occurrence's text, later occurrences (across documents or
   * within one) are spliced out, and each document is re-joined from its
   * surviving words. Documents shorter than `k` words carry no spans and
   * pass through untouched; a fully-scrubbed document stays, with empty
   * text (callers drop by `n_removed == n_words` if desired).
   *
   * Scale shape: span occurrences shuffle as (two 64-bit content hashes,
   * id, pos) — never span text. The first-occurrence choice is an
   * AGGREGATION (`min(struct(id, pos))` + count per span hash), NOT a
   * window: a window partitioned by raw span hashes funnels every
   * occurrence of one pathological high-frequency k-gram (licence headers,
   * boilerplate separators) through a single reducer that AQE cannot
   * split, while the aggregation gets map-side partial combine (each task
   * emits one partial row per distinct span) and the join of occurrences
   * back against the per-span firsts is a plain equi-join that AQE
   * skew-splits. Hot spans therefore slow nothing down and are still
   * scrubbed exactly — no capped-recall tradeoff needed. Covered positions
   * are (id, int) rows aggregated per document; the only full-text
   * movement is the final reassembly equi-join. The same no-all-pairs
   * discipline as every other dedup operator.
   *
   * Output: (idCol, textCol rewritten, n_words, n_removed).
   */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, joinWith: String = " "): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val occ = docs.select(col(idCol).as("__id"),
        posexplode(TextFunctions.wordShingles(col(textCol), k)).as(Seq("__pos", "__s")))
      .select(col("__id"), col("__pos"),
        contentHash(Seq(col("__s")), 0).as("__h0"),
        contentHash(Seq(col("__s")), 1).as("__h1"))
    // one row per duplicated span: its global first occurrence in (id, pos)
    // order (struct min compares id, then pos — same order the old
    // row_number ranking used)
    val firsts = occ
      .groupBy(col("__h0"), col("__h1"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= 2)
      .select(col("__h0"), col("__h1"),
        col("__first.__id").as("__fid"), col("__first.__pos").as("__fpos"))
    val covered = occ.join(firsts, Seq("__h0", "__h1"))
      .filter(!(col("__id") === col("__fid") && col("__pos") === col("__fpos")))
      .select(col("__id"),
        explode(sequence(col("__pos"), col("__pos") + lit(k - 1))).as("__cp"))
      .groupBy(col("__id"))
      .agg(sort_array(collect_set(col("__cp"))).as("__cut"))
    val wrds = TextFunctions.words(col(textCol))
    docs.join(covered, col(idCol) === covered("__id"), "left")
      .withColumn("__w", wrds)
      .select(col(idCol),
        array_join(filter(col("__w"), (x, i) =>
          when(col("__cut").isNull, lit(true))
            .otherwise(!array_contains(col("__cut"), i))), joinWith).as(textCol),
        size(col("__w")).as("n_words"),
        coalesce(size(col("__cut")), lit(0)).as("n_removed"))
  }

  /** Two independent 64-bit content hashes: word 1 prepends a salt literal,
    * which reseeds the xxhash64 stream, so a simultaneous collision in both
    * words is required to merge distinct keys. */
  private def contentHash(keyCols: Seq[Column], word: Int): Column =
    if (word == 0) xxhash64(keyCols: _*)
    else xxhash64((lit(word.toLong) +: keyCols): _*)

  /** Output name a column would get as a grouping key (so hashed group-bys
    * can keep the ungrouped output schema). */
  private def nameOf(c: Column): String =
    org.apache.spark.sql.graft.ColumnBridge.expression(c) match {
      case ne: org.apache.spark.sql.catalyst.expressions.NamedExpression => ne.name
      case _ => c.toString
    }

  /**
   * Exact n-gram Jaccard near-duplicate pairs via an inverted shingle index:
   * explode distinct shingles, self-join on shingle (a shuffle-key equijoin,
   * NOT a cross join), count shared shingles per pair, then
   * J = shared / (|A| + |B| - shared) >= threshold.
   *
   * The self-join is quadratic in per-shingle document frequency, so shingles
   * hotter than `maxShingleDf` are dropped from the index (mirroring
   * `fingerprintPairs`' guard): one stop-phrase shingle at corpus scale would
   * otherwise melt a single reducer. Dropped-shingle counts are recorded
   * under tag "ngramJaccardPairs" and logged — when the counter is zero the
   * result is exact ground truth (the property `minHashLsh` is verified
   * against); a non-zero counter means scores for pairs sharing only hot
   * shingles are lowered or missing.
   */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5, maxShingleDf: Int = 1000): DataFrame = {
    // share the exploded index lazily: both sides of the self-join read it,
    // and without sharing the shingle computation runs twice
    val sh = Exec.lazyShare(docs.select(
      col(idCol).as("doc_id"),
      array_distinct(TextFunctions.wordShingles(col(textCol), k)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s")))
    val sized = dropHotKeys(sh, Seq("s"), maxShingleDf, "ngramJaccardPairs")
    val a = sized.as("a"); val b = sized.as("b")
    a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /**
   * MinHash + LSH banding near-dup candidates, verified by exact Jaccard:
   * shingle -> 64-perm MinHash signature -> `bands` bands of `rows` perms ->
   * band-hash bucket join -> exact shingle-Jaccard on the (small) candidate
   * set. Candidate generation cost is O(docs x bands) shuffle rows; only
   * same-bucket pairs are compared, which is the property that survives a
   * 1000x scale-up.
   */
  def minHashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val rows = numHashes / bands
    val base = docs.select(
      col(idCol).as("doc_id"),
      array_distinct(TextFunctions.wordShingles(col(textCol), k)).as("sh"))
      .filter(size(col("sh")) > 0)
    // Candidate generation over NARROW rows (doc_id, band, bucket) only —
    // the shingle arrays never enter the band shuffle; they are re-joined by
    // doc_id for the (small) surviving candidate set. At 100 TB the band
    // shuffle is the dominant data movement, so its rows must stay a few
    // dozen bytes.
    val sigs = base.select(col("doc_id"),
      minhash_signature(col("sh"), numHashes, seed).as("sig"))
    val bandBuckets = (0 until bands).map(b => hash(slice(col("sig"), b * rows + 1, rows)))
    val banded = sigs.select(col("doc_id"), posexplode(array(bandBuckets: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val candidates = bucketedPairs(banded, "bucket", maxBucketSize, "minHashLshPairs")
    val payload = base.select(col("doc_id"), col("sh"))
    candidates
      .join(payload.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(payload.as("pb"), col("doc_b") === col("pb.doc_id"))
      .withColumn("jaccard",
        size(array_intersect(col("pa.sh"), col("pb.sh"))).cast("double") /
          size(array_union(col("pa.sh"), col("pb.sh"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /**
   * DuckDB twin of [[minHashLshPairs]] — the full-oracle rendering of the
   * pipeline (shingle → FNV-1a → 64 affine permutations → band slices →
   * bucket-join → exact Jaccard). Two deliberate equivalences:
   *
   *  - the seed-derived permutation constants (`HashUtil.permParams`) are
   *    computed HERE, from the same single source of truth the executor
   *    kernel uses, and inlined as unsigned literals — mod-2^64 affine
   *    arithmetic renders as HUGEINT with a 32-bit split so `a*x` never
   *    leaves int128;
   *  - the Spark side buckets on `hash(slice(sig,…))` (Murmur3) purely as a
   *    shuffle-key compressor; bucket equality ⟺ slice equality up to a
   *    32-bit hash collision, so the oracle joins on the SLICES themselves —
   *    any collision-created extra candidate on the Spark side must still
   *    pass the exact-Jaccard filter to reach the output, where the pair
   *    would differ only if its true Jaccard ≥ threshold yet NO band slice
   *    matched — vanishing odds, and a hash-mismatch here would surface it.
   *
   * The `maxBucketSize` skew guard is NOT rendered: at oracle scale no
   * bucket can exceed it (the gate's data has ≤ 5k docs), and a fired guard
   * would rightly show up as a mismatch.
   */
  /** DuckDB select-list rendering of the `numHashes` seed-derived affine
    * MinHash signature columns (`s0..sN`) over an `hs` column (list of
    * HUGEINT FNV shingle hashes) — the permutation constants come from the
    * SAME `HashUtil.permParams` the executor kernel draws from, inlined as
    * unsigned literals with a 32-bit split so `a*x` never leaves int128.
    * Shared by the self-join and cross-corpus oracle twins. */
  private[operators] def sqlMinHashSigCols(numHashes: Int, seed: Long): String = {
    val (pa, pb) = graft.functions.HashUtil.permParams(numHashes, seed)
    val m64 = "18446744073709551616::HUGEINT"
    def affine(i: Int): String = {
      val b = java.lang.Long.toUnsignedString(pb(i))
      val a1 = java.lang.Long.toUnsignedString(pa(i) >>> 32)
      val a0 = java.lang.Long.toUnsignedString(pa(i) & 0xFFFFFFFFL)
      s"list_min(list_transform(hs, x -> (($a0::HUGEINT * (x % 4294967296::HUGEINT)" +
        s" + (($a0::HUGEINT * (x // 4294967296::HUGEINT)" +
        s" + $a1::HUGEINT * (x % 4294967296::HUGEINT)) % 4294967296::HUGEINT)" +
        s" * 4294967296::HUGEINT + $b::HUGEINT) % $m64)))"
    }
    (0 until numHashes).map(i => s"${affine(i)} AS s$i").mkString(", ")
  }

  /** DuckDB band-explosion rendering: one UNION ALL branch per band, each
    * slicing its `rows` signature columns into a `chunk` list (the oracle
    * joins on the slices themselves — see [[sqlMinHashLshPairs]]). */
  private[operators] def sqlMinHashBandRows(
      bands: Int, rows: Int, sigTable: String, idCol: String): String =
    (0 until bands).map { b =>
      val slice = (0 until rows).map(r => s"s${b * rows + r}").mkString(", ")
      s"SELECT $idCol, $b AS band, [$slice] AS chunk FROM $sigTable"
    }.mkString(" UNION ALL ")

  def sqlMinHashLshPairs(
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, seed: Long = 42L): String = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val sigCols = sqlMinHashSigCols(numHashes, seed)
    val bandRows = sqlMinHashBandRows(bands, rows, "sig", "doc_id")
    val sh = graft.functions.TextFunctions.sqlWordShingles("text", k)
      .replace("string_split(text, ' ')", "w")
    val fnv = graft.functions.TextFunctions.sqlFnv1a64("t")
    val guard = graft.functions.TextFunctions.sqlAsciiGuard("doc_id", "text")
    s"""WITH d AS (
       |  SELECT doc_id, list_distinct($sh) AS sh
       |  FROM (SELECT ($guard) AS doc_id, string_split(text, ' ') AS w
       |        FROM documents)
       |), nz AS (
       |  SELECT doc_id, sh, list_transform(sh, t -> $fnv) AS hs
       |  FROM d WHERE len(sh) > 0
       |), sig AS (
       |  SELECT doc_id, $sigCols FROM nz
       |), banded AS (
       |  $bandRows
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b,
       |  round(len(list_intersect(x.sh, y.sh)) * 1.0
       |        / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
       |FROM cand JOIN nz x ON doc_a = x.doc_id JOIN nz y ON doc_b = y.doc_id
       |WHERE len(list_intersect(x.sh, y.sh)) * 1.0
       |      / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= $threshold
       |ORDER BY 1, 2""".stripMargin
  }

  /** DuckDB twin of [[simHashPairs]] (default banding): per-bit majority
    * votes over the (non-distinct) shingle FNV hashes rendered as 64 bit
    * counts, the simhash kept UNSIGNED (HUGEINT in [0,2^64)) since only
    * chunk equality and xor-popcount reach the output, both invariant under
    * the signed↔unsigned bijection. */
  def sqlSimHashPairs(k: Int = 3, maxHamming: Int = 3): String = {
    require(64 % (maxHamming + 1) == 0,
      "sql twin renders only the even-chunk default banding")
    val nChunks = maxHamming + 1
    val width = 64 / nChunks
    // width == 64 (maxHamming = 0): `1L << 64` wraps to 1 in Scala and `% 1`
    // would collapse every doc into one bucket (an all-pairs join); the
    // single chunk IS the simhash
    val chunkMod = if (width == 64) BigInt(1) << 64 else BigInt(1L << width)
    val cnts = (0 until 64).map(j =>
      s"sum(((h // ${java.lang.Long.toUnsignedString(1L << j)}::HUGEINT) % 2)::BIGINT) AS c$j")
      .mkString(", ")
    val simExpr = (0 until 64).map(j =>
      s"(CASE WHEN 2 * c$j > n THEN ${java.lang.Long.toUnsignedString(1L << j)}::HUGEINT" +
        " ELSE 0::HUGEINT END)").mkString(" + ")
    val bandRows = (0 until nChunks).map { b =>
      s"SELECT doc_id, $b AS band, (simhash // ${java.lang.Long.toUnsignedString(1L << (b * width))}::HUGEINT) % $chunkMod AS chunk, simhash FROM sim"
    }.mkString(" UNION ALL ")
    val sh = graft.functions.TextFunctions.sqlWordShingles("text", k)
      .replace("string_split(text, ' ')", "w")
    val fnv = graft.functions.TextFunctions.sqlFnv1a64("t")
    val guard = graft.functions.TextFunctions.sqlAsciiGuard("doc_id", "text")
    s"""WITH d AS (
       |  SELECT doc_id, $sh AS sh
       |  FROM (SELECT ($guard) AS doc_id, string_split(text, ' ') AS w
       |        FROM documents)
       |), h AS (
       |  SELECT doc_id, len(sh) AS n, unnest(list_transform(sh, t -> $fnv)) AS h
       |  FROM d WHERE len(sh) > 0
       |), votes AS (
       |  SELECT doc_id, any_value(n) AS n, $cnts FROM h GROUP BY doc_id
       |), sim AS (
       |  SELECT doc_id, ($simExpr) AS simhash FROM votes
       |), banded AS ($bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b, bit_count(xor(sa::UBIGINT, sb::UBIGINT))::INT AS hamming
       |FROM cand WHERE bit_count(xor(sa::UBIGINT, sb::UBIGINT)) <= $maxHamming
       |ORDER BY 1, 2""".stripMargin
  }

  /** DuckDB twin of [[fingerprintPairs]]: the rolling polynomial hash of
    * every ngram-byte window rendered DIRECTLY as Σ byte·Base^(ngram-1-j)
    * mod 2^64 (the closed form of the kernel's wraparound recurrence — Java
    * long overflow IS mod-2^64 arithmetic), then the rightmost-minimum
    * winnowing selection as a per-span argmin with (h ASC, j DESC) order,
    * whose selected-index set equals the kernel's consecutive-dedup emission
    * because rightmost-min indices are non-decreasing in the span start. */
  def sqlFingerprintPairs(
      ngram: Int = 24, window: Int = 8, minShared: Int = 5): String = {
    val base = 1000003L
    // Base^(ngram-1-j) mod 2^64, j = 0..ngram-1, computed with the same
    // wraparound multiply as the kernel
    val pows = Array.iterate(1L, ngram)(_ * base).reverse
    val hterms = (0 until ngram).map(j =>
      s"cs[i+$j]::HUGEINT * ${java.lang.Long.toUnsignedString(pows(j))}::HUGEINT")
      .mkString(" + ")
    val guard = graft.functions.TextFunctions.sqlAsciiGuard("doc_id", "text")
    // the length filter must be BYTE-based like the kernel's (a sub-ngram
    // character count can still be >= ngram bytes in UTF-8): byte-short docs
    // are dropped in both engines, and every surviving row evaluates the
    // ASCII guard, so a non-ASCII doc errors loudly instead of silently
    // fingerprinting different byte streams
    s"""WITH raw AS (
       |  SELECT ($guard) AS doc_id,
       |    list_transform(range(1, length(text) + 1), i -> unicode(text[i])) AS cs,
       |    length(text) - $ngram + 1 AS n
       |  FROM documents WHERE octet_length(encode(text)) >= $ngram
       |), hs AS (
       |  SELECT doc_id, n,
       |    list_transform(generate_series(1, n),
       |      i -> ($hterms) % 18446744073709551616::HUGEINT) AS hs
       |  FROM raw
       |), pos AS (
       |  SELECT doc_id, w, w + dj AS j, hs[w + dj] AS h
       |  FROM hs, unnest(generate_series(1, greatest(1, n - $window + 1))) AS t1(w),
       |       unnest(generate_series(0, $window - 1)) AS t2(dj)
       |  WHERE w + dj <= n
       |), sel AS (
       |  SELECT doc_id, w, first(j ORDER BY h ASC, j DESC) AS min_idx
       |  FROM pos GROUP BY doc_id, w
       |), fp AS (
       |  SELECT DISTINCT s.doc_id, h1.hs[s.min_idx] AS f
       |  FROM (SELECT DISTINCT doc_id, min_idx FROM sel) s
       |  JOIN hs h1 ON s.doc_id = h1.doc_id
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fingerprints
       |FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared
       |ORDER BY 1, 2""".stripMargin
  }

  /**
   * Same-bucket candidate pairs from a (doc_id, band, <bucketCol>) table,
   * with ultra-hot buckets dropped: a bucket shared by thousands of
   * documents carries ~zero discriminative signal but quadratic join cost —
   * capping it is the standard LSH skew guard (the recall loss is confined
   * to buckets whose collision probability was near-uniform anyway). What
   * was dropped is counted per `tag` (see `lastDropStats`) and logged, never
   * silent: at a hostile distribution (e.g. millions of near-identical
   * docs) the cap can otherwise swallow ALL pairs while the operator
   * appears to succeed.
   */
  private def bucketedPairs(
      banded0: DataFrame, bucketCol: String, maxBucketSize: Int, tag: String)
      : DataFrame = {
    val banded = Exec.lazyShare(banded0)
    val sized = dropHotKeys(banded, Seq("band", bucketCol), maxBucketSize, tag)
    val a = sized.as("a"); val b = sized.as("b")
    a.join(b, col(s"a.band") === col(s"b.band") &&
        col(s"a.$bucketCol") === col(s"b.$bucketCol") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /**
   * SimHash near-dup pairs: 64-bit simhash over word shingles, banded into
   * `maxHamming + 1` chunks covering all 64 bits — by pigeonhole, any pair
   * within Hamming distance <= maxHamming leaves at least one chunk
   * untouched, so the chunk equi-join is a COMPLETE candidate generator for
   * the advertised distance (then the exact popcount filter applies).
   *
   * Chunk width is 64/(maxHamming+1) bits, and width IS the selectivity: the
   * default maxHamming=3 gives 4 chunks of 16 bits (65536 bucket values per
   * band), which stays discriminative at corpus scale. High maxHamming
   * values (e.g. 8 -> 9 chunks of ~7 bits = 128 buckets/band) collapse into
   * few giant buckets on any large corpus, where the `maxBucketSize` guard
   * then drops them — visibly, via the "simHashPairs" drop counter — so the
   * effective recall target is no longer met. Prefer widening to
   * `minHashLshPairs` over raising maxHamming past ~5.
   */
  def simHashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val withSim = docs.select(
      col(idCol).as("doc_id"),
      TextFunctions.wordShingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("simhash", simhash64(col("sh")))
      .select(col("doc_id"), col("simhash"))
    hammingBandedPairs(withSim, maxHamming, maxBucketSize, "simHashPairs")
  }

  /** All unordered pairs (doc_a, doc_b, hamming) within `maxHamming` over
    * a `(doc_id, simhash)` frame of 64-bit hashes — the chunk-banded
    * candidate generator + exact popcount verify shared by [[simHashPairs]]
    * and the multimodal perceptual-hash dedup
    * ([[Multimodal.perceptualDedupPairs]]): the 64 bits partition into
    * `maxHamming + 1` chunks (first `rem` one bit wider), so by pigeonhole
    * any pair within the distance agrees on at least one whole chunk and
    * the chunk equi-join is COMPLETE for the advertised distance. */
  /** The `maxHamming + 1` chunk values of a 64-bit hash column (first
    * `rem` chunks one bit wider) — the pigeonhole banding shared by
    * [[hammingBandedPairs]] and the persisted perceptual-hash index
    * ([[Multimodal.phashIndexMatches]]). */
  private[operators] def hammingChunks(hashCol: Column,
      maxHamming: Int): Seq[Column] = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming $maxHamming out of range")
    val nChunks = maxHamming + 1
    val base = 64 / nChunks
    val rem = 64 % nChunks
    val offsets = (0 until nChunks).scanLeft(0)((acc, i) =>
      acc + base + (if (i < rem) 1 else 0))
    (0 until nChunks).map { b =>
      val width = base + (if (b < rem) 1 else 0)
      val mask = if (width == 64) -1L else (1L << width) - 1
      shiftright(hashCol, offsets(b)).bitwiseAND(lit(mask))
    }
  }

  private[operators] def hammingBandedPairs(withSim: DataFrame,
      maxHamming: Int, maxBucketSize: Int, tag: String): DataFrame = {
    val chunks = hammingChunks(col("simhash"), maxHamming)
    val banded = withSim.select(col("doc_id"), posexplode(array(chunks: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    bucketedPairs(banded, "chunk", maxBucketSize, tag)
      .join(withSim.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(withSim.as("pb"), col("doc_b") === col("pb.doc_id"))
      .withColumn("hamming",
        bit_count(col("pa.simhash").bitwiseXOR(col("pb.simhash"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /**
   * Connected components over near-dup pairs: every document in a duplicate
   * cluster is labeled with the minimum doc_id reachable from it, so
   * "keep one per cluster" = keep rows where doc_id == cluster.
   *
   * Iterative label propagation (large-star/small-star style): each round
   * joins current labels across edges and takes the min; converges in
   * O(cluster diameter) rounds — each round is two hash joins + an
   * aggregation, all shuffle-key operations. Near-dup clusters in corpus
   * dedup are shallow (dups of dups), so rounds stay single-digit at any
   * corpus size; `maxIterations` bounds the worst case.
   */
  /** Cost note (sf0.1): the upstream pair pipeline is ~90% of
    * q_dedup_clusters' wall time; with the neighbor-min init below, label
    * propagation converges in 1 round on the near-dup components.
    * `SPARK_GRAFT_SF_DIR=<sf0.1> Diag q_dedup_clusters 1` lists the jobs:
    * those at the edge-list `localCheckpoint` below carry the pair
    * pipeline, the propagation round's jobs follow. */
  def clusters(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIterations: Int = 20): DataFrame = {
    // materialize the edge list once — every propagation round joins against
    // it, and without the checkpoint each round would recompute the upstream
    // pair pipeline (e.g. the whole shingle index join) from scratch
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .localCheckpoint(eager = true)
    // fold the first propagation round into initialization: every node
    // starts at min(itself, its neighbors) rather than itself
    var labels = edges.groupBy(col("u").as("doc_id"))
      .agg(least(min(col("v")), col("u")).as("cluster"))
      .localCheckpoint(eager = true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIterations) {
      // each node adopts the min label among itself, its neighbors' labels,
      // and (from round 2) its label's label — pointer doubling halves the
      // rounds needed on chain-shaped components, O(log diameter) instead of
      // O(diameter). Round 1 skips the doubling self-join: after the
      // neighbor-min init every label is the node itself or one of its
      // neighbors, so its label's label is already among the candidates
      // viaNeighbors contributes — round-1 doubling provably cannot change
      // any label and was pure overhead (the one bench regression of round
      // 5). From round 2 labels escape the 1-hop neighborhood and doubling
      // starts paying.
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "v2"), col("v") === col("v2"))
        .select(col("u").as("doc_id"), col("cluster"))
      val sources = labels.select(col("doc_id"), col("cluster")) +: (
        if (iter == 0) Seq(viaNeighbors)
        else {
          val viaLabel = labels.as("l1")
            .join(labels.as("l2"), col("l1.cluster") === col("l2.doc_id"))
            .select(col("l1.doc_id").as("doc_id"), col("l2.cluster").as("cluster"))
          Seq(viaNeighbors, viaLabel)
        })
      // one checkpointed plan carries both the new label and the old one, so
      // the per-round convergence check is a count on the checkpointed
      // result instead of a second join job
      val next = sources.reduce(_ union _)
        .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster"))
        .join(labels.withColumnRenamed("cluster", "prev"), "doc_id")
        .localCheckpoint(eager = true) // cut lineage each round
      changed = next.filter(col("cluster") =!= col("prev")).count()
      labels = next.select(col("doc_id"), col("cluster"))
      iter += 1
    }
    labels
  }

  /** End-to-end corpus dedup: exact ngram-Jaccard pairs -> connected
    * components -> surviving doc per cluster. */
  def dedupByNearDup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, k, threshold)
    val cl = clusters(pairs)
    docs.join(cl, docs(idCol) === cl("doc_id"), "left")
      .withColumn("__cluster", coalesce(cl("cluster"), docs(idCol)))
      .filter(docs(idCol) === col("__cluster"))
      .drop(cl("doc_id")).drop(cl("cluster")).drop(col("__cluster"))
  }

  /** Keep ONE row per FUZZY key cluster: connected components over
    * [[Fuzzy.fuzzyPairs]] edges (keys within Levenshtein `maxDist`),
    * smallest id survives — the edit-distance twin of [[dedupByNearDup]]
    * (typo'd titles/urls/names collapse with their clean originals even
    * when token-level Jaccard misses the single-character difference). */
  def dedupByFuzzy(docs: DataFrame, idCol: String, keyCol: String,
      maxDist: Int = 2): DataFrame = {
    val pairs = Fuzzy.fuzzyPairs(docs, idCol, keyCol, maxDist)
    val cl = clusters(pairs, "id_a", "id_b")
    docs.join(cl, docs(idCol) === cl("doc_id"), "left")
      .withColumn("__cluster", coalesce(cl("cluster"), docs(idCol)))
      .filter(docs(idCol) === col("__cluster"))
      .drop(cl("doc_id")).drop(cl("cluster")).drop(col("__cluster"))
  }

  /**
   * Winnowing-fingerprint near-copy pairs: rolling-hash fingerprints
   * (Schleimer et al.) as the inverted-index key; pairs sharing at least
   * `minShared` fingerprints are reported with their overlap count. The
   * substring-copy detector (catches plagiarized spans that word-level
   * Jaccard dilutes), same shuffle-key join shape as the other operators.
   */
  def fingerprintPairs(
      docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 24, window: Int = 8, minShared: Int = 5,
      maxFingerprintDf: Int = 1000): DataFrame = {
    val fp = Exec.lazyShare(Exec.spreadCpuScan(docs, idCol)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(rolling_fingerprints(col(textCol), ngram, window))).as("f")))
    // df-cap: a fingerprint present in thousands of docs is a stop-phrase
    val sized = dropHotKeys(fp, Seq("f"), maxFingerprintDf, "fingerprintPairs")
    val a = sized.as("a"); val b = sized.as("b")
    a.join(b, col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  /**
   * Embedding near-duplicate pairs: banded hyperplane LSH + exact cosine
   * verification. A
   * `bands * bitsPerBand`-bit sign signature is split into bands; vectors
   * sharing any band's chunk become candidates (collide-in-one-band
   * probability 1-(1-p^r)^B, p = 1 - angle/pi), then exact cosine filters.
   * Band chunk is the shuffle key — no all-pairs join; recall/bucket-size
   * trades via (bands, bitsPerBand), independent of corpus size.
   */
  def embeddingCosinePairs(
      embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bands: Int = 8, bitsPerBand: Int = 8,
      seed: Long = 42L, maxBucketSize: Int = 1000): DataFrame = {
    require(bands * bitsPerBand <= 63, "bands*bitsPerBand must fit in a long")
    val sigBits = bands * bitsPerBand
    val mask = (1L << bitsPerBand) - 1
    val base = embs.select(col(idCol).as("doc_id"), col(vecCol).as("v"))
    val withSig = base.select(col("doc_id"),
      hyperplane_lsh_bucket(col("v"), sigBits, seed).as("sig"))
    val chunks = (0 until bands).map(b =>
      shiftright(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask)))
    val banded = withSig.select(col("doc_id"), posexplode(array(chunks: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    bucketedPairs(banded, "chunk", maxBucketSize, "embeddingCosinePairs")
      .join(base.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(base.as("pb"), col("doc_b") === col("pb.doc_id"))
      .withColumn("cosine", cosine_similarity(col("pa.v"), col("pb.v")))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        TextFunctions.stableRound(col("cosine"), 4).as("cosine"))
  }

  /** DuckDB twin of [[embeddingCosinePairs]]: hyperplane sign signature from
    * the seed-derived plane literals (bit-exact — see the op-order note on
    * `Similarity.sqlPlanesLit`), band chunks by bit arithmetic, exact cosine
    * on candidates with the threshold applied to the UNROUNDED value, as the
    * operator does. */
  def sqlEmbeddingCosinePairs(
      dim: Int, threshold: Double, bands: Int, bitsPerBand: Int,
      seed: Long = 42L): String = {
    val sigBits = bands * bitsPerBand
    val mask = (1L << bitsPerBand) - 1
    val bandRows = (0 until bands).map(b =>
      s"SELECT vec_id, $b AS band, (sig >> ${b * bitsPerBand}) & $mask AS chunk FROM sig")
      .mkString(" UNION ALL ")
    val cos = Similarity.sqlCosineOf("x.v", "y.v", dim)
    s"""WITH pl_t AS (SELECT ${Similarity.sqlPlanesLit(sigBits, dim, seed)} AS pl),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS (SELECT vec_id, ${Similarity.sqlLshBucketOf("v", sigBits, dim)} AS sig
       |        FROM e, pl_t),
       |banded AS ($bandRows),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.vec_id < b.vec_id
       |), sc AS (
       |  SELECT id_a, id_b, $cos AS cosine
       |  FROM cand JOIN e x ON id_a = x.vec_id JOIN e y ON id_b = y.vec_id
       |)
       |SELECT id_a, id_b,
       |  ${graft.functions.TextFunctions.sqlStableRound("cosine", 4)} AS cosine
       |FROM sc WHERE cosine >= $threshold ORDER BY 1, 2""".stripMargin
  }

  // ---- persisted content-hash index: cross-batch incremental dedup ----

  private def hashesOf(df: DataFrame, keyCols: Seq[Column]): DataFrame =
    df.select(contentHash(keyCols, 0).as("h0"), contentHash(keyCols, 1).as("h1"))

  /** One slice's `hashes` rows, refused when the index was keyed on
    * other columns. */
  private[graft] def hashFrames(df: DataFrame, keyCols: Seq[Column], path: String)(
      m: EpochIndex.Manifest): EpochIndex.Frames = {
    requireKeyColsMatch(m, path, keyCols)
    Seq("hashes" -> hashesOf(df, keyCols).distinct())
  }

  /** The content-hash index family: one `hashes` table, params `key_cols`. */
  private[graft] val HashIndex = EpochIndex.Family("graft-hash-index-v1",
    "content-hash", "saveHashIndex", Seq("hashes"))

  /**
   * Persist the 128-bit content-hash set of a corpus — two longs a row, no
   * content, so the stored index is ~16 bytes per corpus document — letting
   * every FUTURE batch dedup against the corpus without rescanning it
   * ([[dedupAgainstHashIndex]]). This is the cross-run corner exact dedup
   * alone can't cover: a pipeline ingesting daily crawls must drop documents
   * already admitted LAST month without holding last month's corpus in the
   * job. Stored through [[EpochIndex]]: `hashes/epoch=<id>/` parquet plus a
   * manifest naming the committed epochs and the key columns (drift
   * detection). Within an epoch the files are flat (unlike the ANN indexes
   * there is nothing to prune by: the anti-join always probes the whole
   * hash set, and random 64-bit hash buckets would never be selective; AQE
   * sizes the file count to the data). Same 128-bit collision odds as
   * [[exact]].
   */
  def saveHashIndex(df: DataFrame, keyCols: Seq[Column], path: String): Unit =
    EpochIndex.save(df.sparkSession, path, HashIndex,
      Map("key_cols" -> keyCols.map(nameOf).mkString(",")))(hashFrames(df, keyCols, path))

  /** Load a persisted hash index: `(h0, h1, epoch)` over the committed
    * epochs (`epoch` < 0 for batch-written generations). */
  def loadHashIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    EpochIndex.scan(spark, path, HashIndex,
      EpochIndex.committed(spark, path, HashIndex), "hashes")

  private def requireKeyColsMatch(m: EpochIndex.Manifest, path: String,
      keyCols: Seq[Column]): Unit = {
    val stored = m.param("key_cols")
    val asked = keyCols.map(nameOf).mkString(",")
    if (stored != asked) throw new IllegalStateException(
      s"hash index at $path was built over key columns [$stored] but this " +
        s"call hashes [$asked] — matching is impossible, every row would " +
        "look new. Rebuild with saveHashIndex or pass the original keys.")
  }

  /** Index size (plan-stats bytes) below which [[dedupAgainstHashIndex]]
    * skips its bloom prune: a small index joins trivially, and the two
    * bloom-build jobs are pure overhead — paid per MICRO-BATCH by streams.
    * Force the bloom by passing `bloomIndexBytesMin = 0` (e.g. lying stats). */
  val BloomIndexBytesMin: Long = 64L << 20

  /**
   * Rows of `df` whose content hash is NOT in the persisted index — the
   * incremental-dedup admission filter. The plan never shuffles the
   * corpus-scale index: a bloom filter over the BATCH's hashes (the small
   * side, built with the decontamination machinery) prunes the index to
   * `seen` ≈ |batch ∩ index| + fpp·|index| during its scan, and the exact
   * anti-join against that pruned set removes bloom false positives. A
   * batch too large for a broadcast-sized bloom (> 2^24 distinct hashes)
   * falls back to the plain shuffled anti-join — still only 16-byte keys
   * on the index side. Batch-INTERNAL duplicates both survive (the index
   * only knows past batches): compose with [[exactRows]] for within-batch
   * dedup, then [[appendToHashIndex]] the admitted rows.
   *
   * NOTE: like [[CorpusOps.decontaminate]], CALLING this runs eager Spark
   * jobs (the batch-hash count and bloom build) before the returned plan
   * executes — even an EXPLAIN of the result triggers them.
   *
   * `excludeEpoch` skips one committed epoch —
   * [[dedupStreamAgainstHashIndex]] passes the CURRENT epoch so a replayed
   * micro-batch never anti-joins against its own earlier admission and
   * recomputes the identical survivor set.
   */
  def dedupAgainstHashIndex(df: DataFrame, keyCols: Seq[Column], path: String,
      fpp: Double = 0.001,
      bloomIndexBytesMin: Long = BloomIndexBytesMin,
      excludeEpoch: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    val m = EpochIndex.committed(spark, path, HashIndex)
    requireKeyColsMatch(m, path, keyCols)
    val hashed = df.withColumn("__h0", contentHash(keyCols, 0))
      .withColumn("__h1", contentHash(keyCols, 1))
    val idx = EpochIndex.scan(spark, path, HashIndex, m, "hashes", excludeEpoch)
    // the bloom's job is to keep a CORPUS-scale index out of the anti-join
    // shuffle; when the index is small enough to broadcast/exchange
    // trivially (plan stats), skip the build (force it by passing
    // bloomIndexBytesMin = 0, e.g. when stats lie)
    val bloom =
      if (idx.queryExecution.optimizedPlan.stats.sizeInBytes <= bloomIndexBytesMin) None
      else CorpusOps.bloomOfHashes(
        hashed.select(xxhash64(col("__h0")).as("h")).distinct(), fpp)
    val seen = bloom.fold(idx)(b => idx.filter(
      graft.functions.hashFunctions.bloom_might_contain_bc(spark, b, col("h0"))))
    hashed.join(seen,
        hashed("__h0") === seen("h0") && hashed("__h1") === seen("h1"),
        "left_anti")
      .drop("__h0", "__h1")
  }

  /** Admit a batch into the index: its distinct content hashes become a
    * new committed generation. Intended flow: `dedupAgainstHashIndex` →
    * admit survivors downstream → append THOSE rows here. Appending
    * un-deduped rows is harmless for correctness (the anti-join doesn't
    * care about duplicate index rows) but stores dead weight. */
  def appendToHashIndex(df: DataFrame, keyCols: Seq[Column], path: String): Unit =
    EpochIndex.append(df.sparkSession, path, HashIndex, "appendToHashIndex")(
      hashFrames(df, keyCols, path))

  /**
   * Continuous-ingestion form of [[dedupAgainstHashIndex]]: every
   * micro-batch anti-joins the persisted index, survivors go to
   * `writeBatch`, and (when `admit`) their hashes are staged as the
   * index's `epoch=<id>` and committed once both the write and the staging
   * succeeded — so a text admitted in epoch N drops in epoch N+1, and an
   * epoch whose write failed is never visible. The cross-batch memory is
   * the on-disk index itself, not a Spark state store: it survives
   * restarts, is shared with batch jobs, and its size is 16 bytes per
   * admitted document regardless of stream lifetime.
   *
   * Replay safety (foreachBatch is at-least-once): the probe EXCLUDES the
   * current epoch, so a retry probes exactly the pre-epoch index state,
   * recomputes the identical survivor set and re-delivers it to
   * `writeBatch`; an already-committed epoch is uncommitted before it is
   * staged again ([[EpochIndex.runEpoch]]). `writeBatch` must still be
   * idempotent on the epoch id (e.g. overwrite an epoch-keyed directory)
   * because it may see the same survivors twice. Survivors are pinned with
   * `persist` so `writeBatch` and the admission hash the SAME rows.
   *
   * One live stream per index: epoch ids restart per checkpoint, so two
   * streams sharing a path would claim each other's epochs. A long-lived
   * stream accretes one directory per admitting epoch; [[compactHashIndex]]
   * (while no stream runs) merges them into one generation.
   * Returns the configured writer; the caller picks trigger/checkpoint and
   * starts it.
   */
  def dedupStreamAgainstHashIndex(
      stream: DataFrame, keyCols: Seq[Column], path: String,
      admit: Boolean = true)(
      writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    EpochIndex.foreachEpoch(stream, path, HashIndex, admit)((batch, epochId) =>
      dedupAgainstHashIndex(batch, keyCols, path, excludeEpoch = Some(epochId)))(
      (fresh, m) => hashFrames(fresh, keyCols, path)(m))(writeBatch)

  /** [[dedupStreamAgainstHashIndex]]'s admission of ONE epoch outside a
    * stream: stage `df`'s hashes as epoch `epochId` and commit it. */
  private[graft] def admitEpoch(df: DataFrame, keyCols: Seq[Column],
      path: String, epochId: Long): Unit =
    EpochIndex.admitEpoch(df.sparkSession, path, HashIndex, epochId)(
      hashFrames(df, keyCols, path))

  /**
   * Merge a hash index's committed epochs into one generation (dedup'ing
   * hashes across epochs) without rescanning any corpus text. Only run
   * while no stream owns the index. Returns the number of epochs merged,
   * 0 if already compact.
   */
  def compactHashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    EpochIndex.compact(spark, path, HashIndex, "compactHashIndex")

  // -------------------------------------------------------------------
  // Persisted MinHash index — the NEAR-DUP half of the incremental-dedup
  // story ([[saveHashIndex]] covers exact): a daily-crawl pipeline must
  // also drop documents that are paraphrase-level copies of anything
  // admitted in past runs, without holding the past corpus in the job.
  // -------------------------------------------------------------------

  private final case class MinHashIndexParams(
      k: Int, numHashes: Int, bands: Int, seed: Long)

  private def minHashParams(m: EpochIndex.Manifest): MinHashIndexParams =
    MinHashIndexParams(m.param("k").toInt, m.param("num_hashes").toInt,
      m.param("bands").toInt, m.param("seed").toLong)

  /** The MinHash index family: `bands` and `shingles`; compaction keeps
    * one shingle row per document — a doc admitted into more than one
    * epoch (double append, or a crashed stream re-admitted under a new
    * epoch id) must not keep duplicate rows that would inflate
    * [[minHashIndexMatches]] counts forever. */
  private[graft] val MinHashIndex = EpochIndex.Family("graft-minhash-index-v1",
    "MinHash", "saveMinHashIndex", Seq("bands", "shingles"),
    (table, df) => if (table == "shingles") df.dropDuplicates("doc_id") else df.distinct())

  private def shingleBase(df: DataFrame, idCol: String, textCol: String,
      k: Int, idAs: String): DataFrame =
    df.select(col(idCol).as(idAs),
        array_distinct(TextFunctions.wordShingles(col(textCol), k)).as("sh"))
      .filter(size(col("sh")) > 0)

  // The MinHash index's math, shared by the lazy probe, the frames and the
  // stream epoch: a document's signature over its distinct shingles, the
  // bucket of each band of it, the 64-bit hashes of its shingles, and the
  // Jaccard similarity of two hash sets.

  private def signature(sh: Column, p: MinHashIndexParams): Column =
    minhash_signature(sh, p.numHashes, p.seed)

  /** One `array<int>` of the band buckets of a signature column: band `b`
    * hashes signature rows `b * rows + 1 ..` (`rows = numHashes / bands`). */
  private def bandBuckets(sig: Column, p: MinHashIndexParams): Column = {
    val rows = p.numHashes / p.bands
    array((0 until p.bands).map(b => hash(slice(sig, b * rows + 1, rows))): _*)
  }

  private def shingleHashes(sh: Column): Column = transform(sh, s => fnv1a64(s))

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** (`idAs`, band, bucket) rows of a band-bucket array column. */
  private def bandTable(df: DataFrame, idAs: String, buckets: Column): DataFrame =
    df.select(col(idAs), posexplode(buckets))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  private def bandRows(base: DataFrame, idAs: String, p: MinHashIndexParams): DataFrame =
    bandTable(base.select(col(idAs), signature(col("sh"), p).as("sig")),
      idAs, bandBuckets(col("sig"), p))

  private def hashedShingles(base: DataFrame, idAs: String): DataFrame =
    base.select(col(idAs), shingleHashes(col("sh")).as("hs"))

  /** One slice's `bands` and `shingles` rows, from one shared base, cut
    * with the manifest's params. */
  private[graft] def minHashFrames(docs: DataFrame, idCol: String, textCol: String)(
      m: EpochIndex.Manifest): EpochIndex.Frames = {
    val p = minHashParams(m)
    val base = Exec.lazyShare(shingleBase(docs, idCol, textCol, p.k, "doc_id"))
    Seq("bands" -> bandRows(base, "doc_id", p),
      "shingles" -> hashedShingles(base, "doc_id"))
  }

  /**
   * Persist a MinHash band index of a corpus for INCREMENTAL NEAR-DUP dedup
   * ([[dedupAgainstMinHashIndex]]). Two tables, both narrow, stored
   * through [[EpochIndex]] like [[saveHashIndex]]:
   *  - `bands/`: (doc_id, band, bucket) — the candidate-generation rows, a
   *    few dozen bytes × `bands` per document;
   *  - `shingles/`: (doc_id, hs: array<long>) — 64-bit FNV hashes of each
   *    document's distinct word shingles, ~8 bytes per shingle, for the
   *    exact-Jaccard verification (Jaccard over the hash sets equals
   *    Jaccard over the shingle sets up to vanishing 64-bit collisions;
   *    storing hashes instead of text keeps the index content-free).
   * The manifest records (k, numHashes, bands, seed); every probe and
   * append cuts with the stored values.
   */
  def saveMinHashIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L): Unit = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    EpochIndex.save(docs.sparkSession, path, MinHashIndex,
      Map("k" -> k.toString, "num_hashes" -> numHashes.toString,
        "bands" -> bands.toString, "seed" -> seed.toString))(
      minHashFrames(docs, idCol, textCol))
  }

  /**
   * Per-batch-document matches against the persisted MinHash index:
   * (doc_id, n_index_matched, top_jaccard) for every batch document with at
   * least one indexed near-dup at `threshold`. The scale contract mirrors
   * [[CorpusOps.decontaminateNearDup]] with the roles fixed by the
   * broadcast-sized-batch assumption:
   *  - the BATCH bands (capped by `maxBatchBucket` with counted drops, tag
   *    `"minHashIndex"`) broadcast against the index's band scan — the
   *    corpus-scale band table feeds the candidate join without an
   *    exchange, and the probe never lists `excludeEpoch`'s files;
   *  - the candidate set joined with the batch's own shingle hashes
   *    broadcasts against the index's shingle scan — the corpus-scale
   *    verification payload never shuffles either.
   * Batch-INTERNAL near-dups both survive (the index only knows past
   * batches); compose with [[dedupByNearDup]] for within-batch dedup.
   */
  /** Session override for the batch-side broadcast guard (bytes; "0"
    * disables — mirrors [[Similarity.BroadcastGuardConfKey]]'s contract). */
  val MinHashBatchGuardConfKey = "graft.minhashIndex.broadcastGuardBytes"

  private def requireBroadcastSizedBatch(batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    val cap = spark.conf.getOption(MinHashBatchGuardConfKey)
      .map(v => BigInt(v.toLong))
      .getOrElse(BigInt(math.max(
        spark.sessionState.conf.autoBroadcastJoinThreshold, 10L << 20)) * 8)
    if (cap <= 0) return
    val est = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    // spark.sql.defaultSizeInBytes is Spark's "no statistics" estimate (a
    // MemoryStream micro-batch reports it): unknown, not corpus-sized
    require(est <= cap || est == BigInt(spark.sessionState.conf.defaultSizeInBytes),
      s"minHashIndexMatches broadcasts the BATCH side by contract (its bands " +
        s"probe the index scan, its candidate set probes the shingle scan), " +
        s"but the batch's plan-size estimate ($est bytes) exceeds the guard " +
        s"($cap bytes — default 8x autoBroadcastJoinThreshold): a corpus-sized " +
        "batch would OOM executors. Dedup corpus-sized inputs against each " +
        "other with minHashLshPairs/dedupByNearDup instead, ingest in smaller " +
        "batches, or — if the batch only LOOKS big because size-only stats " +
        "carry a filtered parent's estimate — persist() it first or raise/" +
        s"disable the guard via spark.conf.set(\"$MinHashBatchGuardConfKey\", ...).")
  }

  def minHashIndexMatches(batch: DataFrame, idCol: String, textCol: String,
      path: String, threshold: Double = 0.5, maxBatchBucket: Int = 1000,
      excludeEpoch: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    requireBroadcastSizedBatch(batch)
    val m = EpochIndex.committed(spark, path, MinHashIndex)
    val p = minHashParams(m)
    val base = Exec.lazyShare(shingleBase(batch, idCol, textCol, p.k, "doc_id"))
    val bBand = dropHotKeys(bandRows(base, "doc_id", p),
      Seq("band", "bucket"), maxBatchBucket, "minHashIndex")
    def epochScan(table: String): DataFrame =
      EpochIndex.scan(spark, path, MinHashIndex, m, table, excludeEpoch)
    val iBand = epochScan("bands").select(
      col("doc_id").as("idx_id"), col("band"), col("bucket"))
    val cand = iBand.join(broadcast(bBand), Seq("band", "bucket"))
      .select(col("doc_id"), col("idx_id")).distinct()
    val iSh = epochScan("shingles").select(
      col("doc_id").as("idx_id"), col("hs").as("idx_hs"))
    iSh.join(broadcast(cand.join(hashedShingles(base, "doc_id"), Seq("doc_id"))),
        Seq("idx_id"))
      .withColumn("jaccard", jaccard(col("hs"), col("idx_hs")))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_index_matched"),
        round(max(col("jaccard")), 4).as("top_jaccard"))
  }

  /** Rows of `batch` with NO near-dup in the persisted index — the
    * incremental near-dup admission filter ([[dedupAgainstHashIndex]]'s
    * paraphrase-robust sibling). */
  def dedupAgainstMinHashIndex(batch: DataFrame, idCol: String,
      textCol: String, path: String, threshold: Double = 0.5,
      maxBatchBucket: Int = 1000, excludeEpoch: Option[Long] = None): DataFrame = {
    val matches = minHashIndexMatches(batch, idCol, textCol, path, threshold,
      maxBatchBucket, excludeEpoch).select(col("doc_id").as("__dup_id"))
    // the aggregate hides its size from Catalyst, but matches ≤ batch rows
    // by construction (one row per flagged batch doc) — without the hint
    // this anti-join silently becomes a sort-merge shuffle of the batch
    batch.join(broadcast(matches), batch(idCol) === col("__dup_id"), "left_anti")
  }

  /** Admit a batch into the MinHash index: its band rows and shingle
    * hashes become a new committed generation, cut with the stored params.
    * Intended flow mirrors [[appendToHashIndex]]: dedup → admit survivors
    * downstream → append THOSE rows here. */
  def appendToMinHashIndex(batch: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    EpochIndex.append(batch.sparkSession, path, MinHashIndex, "appendToMinHashIndex")(
      minHashFrames(batch, idCol, textCol))

  /**
   * Continuous-ingestion form of [[dedupAgainstMinHashIndex]], with the
   * same replay contract as [[dedupStreamAgainstHashIndex]]: every
   * micro-batch probes the index EXCLUDING its own epoch, survivors go to
   * `writeBatch` (which must be idempotent on the epoch id) while their
   * bands and shingles are staged, and the epoch commits only after both
   * succeeded — so an at-least-once retry recomputes the identical
   * survivor set, and a failed epoch admits nothing. One live stream per
   * index path. Each epoch runs [[minHashEpoch]]: the same survivors and
   * index rows as the lazy probe, in six Spark jobs when `writeBatch` is
   * one write.
   */
  def dedupStreamAgainstMinHashIndex(
      stream: DataFrame, idCol: String, textCol: String, path: String,
      threshold: Double = 0.5, admit: Boolean = true)(
      writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    EpochIndex.foreachProbed(stream, path, MinHashIndex, admit)((batch, epochId) =>
      minHashEpoch(batch, idCol, textCol, path, threshold, maxBatchBucket = 1000, epochId))(
      writeBatch)

  // columns the stream epoch adds to its persisted batch
  private val EpochSh = "__graft_mh_sh"
  private val EpochSig = "__graft_mh_sig"
  private val EpochHs = "__graft_mh_hs"
  private val EpochBuckets = "__graft_mh_buckets"

  /**
   * [[dedupStreamAgainstMinHashIndex]]'s probe of one epoch: the survivors
   * of [[dedupAgainstMinHashIndex]]`(batch, excludeEpoch = Some(epochId))`,
   * the frames [[minHashFrames]] cuts from them, and the same scoped
   * `"minHashIndex"` drop stat, from one pass over the batch and a few
   * small jobs instead of one lazy plan:
   *  1. the batch is persisted once together with each document's distinct
   *     shingle hashes and band buckets, and only those come to the driver
   *     (the lazy probe broadcasts the same rows: the batch-sized contract
   *     of [[requireBroadcastSizedBatch]]). The `maxBatchBucket` cap
   *     applies here;
   *  2. one job reads the index's band rows under the batch's buckets;
   *  3. one job reads the candidates' shingle hashes (none without
   *     candidates), and the Jaccard check runs on the driver over a local
   *     relation, through the lazy probe's own expression;
   *  4. survivors are the persisted rows of no matched document, with the
   *     batch's own columns; the frames come from the same rows.
   * `release` unpersists the batch.
   */
  private[graft] def minHashEpoch(batch: DataFrame, idCol: String, textCol: String,
      path: String, threshold: Double, maxBatchBucket: Int,
      epochId: Long): EpochIndex.Probed[DataFrame] = {
    val spark = batch.sparkSession
    requireBroadcastSizedBatch(batch)
    val m = EpochIndex.committed(spark, path, MinHashIndex)
    val p = minHashParams(m)
    def epochScan(table: String): DataFrame =
      EpochIndex.scan(spark, path, MinHashIndex, m, table, Some(epochId))
    val iBand = epochScan("bands")
    val iSh = epochScan("shingles")
    val withSh = batch.select(col("*"),
      array_distinct(TextFunctions.wordShingles(col(textCol), p.k)).as(EpochSh))
    val withSig = withSh.select(col("*"), shingleHashes(col(EpochSh)).as(EpochHs),
      signature(col(EpochSh), p).as(EpochSig))
    val persisted = withSig.select(col("*"), bandBuckets(col(EpochSig), p).as(EpochBuckets))
      .drop(EpochSh, EpochSig)
    persisted.persist()
    try {
      val eligible = persisted.filter(size(col(EpochHs)) > 0)
      val docs = eligible.select(col(idCol), col(EpochHs), col(EpochBuckets)).collect().toSeq
      // (band, bucket) -> the batch documents in it; a null id counts
      // toward its bucket's size but never matches (as in the lazy joins)
      val byKey = docs.flatMap(r =>
        r.getSeq[Int](2).zipWithIndex.map { case (b, band) => (band, b) -> r.get(0) })
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      recordDrops(spark.sparkContext, "minHashIndex", maxBatchBucket,
        byKey.values.map(_.size.toLong))
      val live = byKey.filter(_._2.size <= maxBatchBucket)
      // batch id -> its candidate index ids
      val cand: Map[Any, Set[Any]] =
        if (live.isEmpty) Map.empty
        else iBand.filter(col("bucket").isin(live.keys.map(_._2).toSeq.distinct: _*))
          .select(col("doc_id"), col("band"), col("bucket")).collect().toSeq
          .filterNot(_.isNullAt(0))
          .flatMap(r => live.getOrElse((r.getInt(1), r.getInt(2)), Nil)
            .filter(_ != null).map(_ -> r.get(0)))
          .groupBy(_._1).map { case (d, v) => d -> v.map(_._2).toSet }
      val matched: Set[Any] =
        if (cand.isEmpty) Set.empty
        else {
          val idxHs = iSh.filter(col("doc_id").isin(cand.values.flatten.toSeq.distinct: _*))
            .select(col("doc_id"), col("hs")).collect().toSeq
            .groupBy(_.get(0)).map { case (i, rs) => i -> rs.map(_.getSeq[Long](1)) }
          val pairs = for {
            r <- docs; i <- cand.getOrElse(r.get(0), Set.empty).toSeq
            ihs <- idxHs.getOrElse(i, Nil)
          } yield (r.get(0), r.getSeq[Long](1), ihs)
          val verified = spark.createDataFrame(
              java.util.Arrays.asList(pairs.zipWithIndex.map { case ((_, hs, ihs), n) =>
                org.apache.spark.sql.Row(n, hs, ihs) }: _*),
              new org.apache.spark.sql.types.StructType().add("n", "int")
                .add("hs", "array<bigint>").add("idx_hs", "array<bigint>"))
            .filter(jaccard(col("hs"), col("idx_hs")) >= threshold)
            .select(col("n")).collect().map(_.getInt(0))
          verified.map(n => pairs(n)._1).toSet
        }
      val survivors =
        if (matched.isEmpty) persisted
        else persisted.filter(!coalesce(col(idCol).isin(matched.toSeq: _*), lit(false)))
      // one file per table: a batch-sized epoch gains nothing from more
      // writers, and every later probe opens each file of every epoch
      val indexed = survivors.filter(size(col(EpochHs)) > 0).coalesce(1)
      val frames: EpochIndex.Frames = Seq(
        "bands" -> bandTable(indexed.select(col(idCol).as("doc_id"), col(EpochBuckets)),
          "doc_id", col(EpochBuckets)),
        "shingles" -> indexed.select(col(idCol).as("doc_id"), col(EpochHs).as("hs")))
      val fresh = survivors.drop(EpochHs, EpochBuckets)
      EpochIndex.Probed(fresh,
        // params changed since the probe: cut from the survivors again
        m2 => if (minHashParams(m2) == p) frames else minHashFrames(fresh, idCol, textCol)(m2),
        () => { persisted.unpersist(); () })
    } catch { case e: Throwable => persisted.unpersist(); throw e }
  }

  /** [[dedupStreamAgainstMinHashIndex]]'s admission of ONE epoch outside a
    * stream: stage `df`'s bands and shingles as epoch `epochId`, commit. */
  private[graft] def admitMinHashEpoch(df: DataFrame, idCol: String,
      textCol: String, path: String, epochId: Long): Unit =
    EpochIndex.admitEpoch(df.sparkSession, path, MinHashIndex, epochId)(
      minHashFrames(df, idCol, textCol))

  /**
   * Fail loudly when the persisted MinHash index no longer matches the
   * corpus it claims to cover — a drifted index silently re-admits
   * near-dups. Compares row count and an order-independent id-hash
   * fingerprint of the index's shingle table against the corpus's
   * SHINGLE-ELIGIBLE documents (those with at least one k-shingle; shorter
   * docs never enter the index by design). One narrow scan per side.
   */
  def validateMinHashIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val m = EpochIndex.committed(spark, path, MinHashIndex)
    val p = minHashParams(m)
    def fp(df: DataFrame, c: String): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col(c))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (ic, ih) = fp(EpochIndex.scan(spark, path, MinHashIndex, m, "shingles"), "doc_id")
    val (cc, ch) = fp(shingleBase(docs, idCol, textCol, p.k, "doc_id"), "doc_id")
    if (ic != cc || ih != ch) throw new IllegalStateException(
      s"MinHash index at $path is stale: it covers $ic documents " +
        s"(id-fingerprint $ih) but the corpus has $cc shingle-eligible " +
        s"(fingerprint $ch). Rebuild with saveMinHashIndex or append the " +
        "delta with appendToMinHashIndex.")
  }

  /**
   * Merge a long-lived stream's committed epochs (and any appended
   * generations) into one generation — undoing admission erosion without
   * recomputing a single signature. Only run while no stream owns the
   * index. Returns the number of epochs merged, 0 if the index was
   * already compact.
   */
  def compactMinHashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    EpochIndex.compact(spark, path, MinHashIndex, "compactMinHashIndex")

  /**
   * DuckDB twin of [[dedupAgainstMinHashIndex]]'s survivor set over
   * caller-supplied CTE bodies: `indexCte` and `batchCte` must each yield
   * `(doc_id, w)` with `w` the split word list. Same slice-join equivalence
   * and permutation-literal rendering as [[sqlMinHashLshPairs]]; the
   * verification runs over the same FNV shingle-hash lists the Spark index
   * stores. Survivors = batch ids with no indexed match at `threshold`.
   */
  def sqlMinHashIndexSurvivors(indexCte: String, batchCte: String,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, seed: Long = 42L): String = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val sigCols = sqlMinHashSigCols(numHashes, seed)
    val sh = TextFunctions.sqlWordShingles("text", k)
      .replace("string_split(text, ' ')", "w")
    val fnv = TextFunctions.sqlFnv1a64("t")
    s"""WITH idx0 AS ($indexCte), bat0 AS ($batchCte),
       |i AS (SELECT doc_id AS idx_id, sh, list_transform(sh, t -> $fnv) AS hs
       |      FROM (SELECT doc_id, list_distinct($sh) AS sh FROM idx0)
       |      WHERE len(sh) > 0),
       |b AS (SELECT doc_id, sh, list_transform(sh, t -> $fnv) AS hs
       |      FROM (SELECT doc_id, list_distinct($sh) AS sh FROM bat0)
       |      WHERE len(sh) > 0),
       |isig AS (SELECT idx_id, $sigCols FROM i),
       |bsig AS (SELECT doc_id, $sigCols FROM b),
       |iband AS (${sqlMinHashBandRows(bands, rows, "isig", "idx_id")}),
       |bband AS (${sqlMinHashBandRows(bands, rows, "bsig", "doc_id")}),
       |cand AS (SELECT DISTINCT doc_id, idx_id
       |  FROM bband JOIN iband ON bband.band = iband.band
       |   AND bband.chunk = iband.chunk),
       |matched AS (SELECT DISTINCT cand.doc_id
       |  FROM cand JOIN b USING (doc_id) JOIN i USING (idx_id)
       |  WHERE len(list_intersect(b.hs, i.hs)) * 1.0
       |    / (len(b.hs) + len(i.hs) - len(list_intersect(b.hs, i.hs)))
       |    >= $threshold)
       |SELECT doc_id FROM bat0
       |WHERE doc_id NOT IN (SELECT doc_id FROM matched)
       |ORDER BY doc_id""".stripMargin
  }
}
