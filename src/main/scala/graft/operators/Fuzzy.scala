package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Exact edit-distance (Levenshtein) joins — fuzzy record linkage, the
 * training-data-cleaning companion to [[Dedup]]'s set-similarity family:
 * near-identical titles/urls/names that token-level Jaccard misses because
 * the difference is a typo inside a token, not a missing token.
 *
 * The reference connector has no string operators at all (SURVEY §2.6 —
 * its only expression-level code is the sink-side cast projection,
 * EventHubsWriteTask.scala:210-218); this family is part of the analytics
 * layer layered on top.
 *
 * EXACT and COMPLETE, never all-pairs. Two structural defenses:
 *
 * 1. All similarity work runs over DISTINCT keys. Real corpora carry vast
 *    exact-duplicate key groups (the very thing [[Dedup.exact]] exists
 *    for); feeding them to ANY blocking scheme floods every block
 *    quadratically. Here each distinct key is blocked/verified once, and
 *    verified key pairs expand back to id pairs through plain equi-joins
 *    whose fan-out equals the OUTPUT size — a million-copy key costs one
 *    candidate row, not 10^12.
 *
 * 2. Candidates for distinct key pairs come from the pigeonhole segment
 *    scheme (the PassJoin partitioning technique — public literature,
 *    Li/Deng/Feng VLDB'11). Split every indexed key into `k+1` contiguous
 *    segments; if `ed(a, b) <= k` then some segment of `a` survives the
 *    optimal alignment edit-free, so it occurs in `b` VERBATIM, at a
 *    position shifted by at most `k`. Candidate generation is therefore a
 *    pure EQUI-join:
 *    - index side: `k+1` rows per key — (own length, slot, segment text);
 *    - probe side: for each hypothesized index length within `±k` of its
 *      own, each slot, and each in-window start position, the probe's
 *      substring of the slot's exact length — at most `(2k+1)^2 (k+1)`
 *      bounded rows per key (75 at k=2), each a few bytes;
 *    - join on (length, slot, text) → distinct key pairs → one banded
 *      `levenshtein(a, b, k)` verify per candidate (codegen'd built-in,
 *      O(k·min(|a|,|b|)) via the threshold argument — never the full DP
 *      matrix on non-matches).
 *
 * 100 TB shape: every join is an equi-join on discriminative content
 * keys; no inequality join, no cartesian, no driver state. The residual
 * hot spot is TEMPLATED text — millions of DISTINCT keys sharing an
 * identical segment at the same slot (a boilerplate prefix) put their
 * candidates in one bucket. That is partly inherent (keys genuinely
 * within distance k of each other have quadratic OUTPUT), and where it is
 * not, the cure is upstream: key on the discriminative field, not the
 * boilerplate. The banded verify keeps each surviving candidate cheap,
 * and AQE's skew-join split keeps the shuffle itself balanced.
 *
 * Keys shorter than `k+1` cannot be cut into `k+1` non-empty segments;
 * those index rows (and their possible partners, all of length `< 2k+1`)
 * take a separate banded length-bucket equi-join — bounded work unless
 * the corpus is degenerate (millions of distinct sub-5-char keys at k=2,
 * where no edit-distance blocking can discriminate).
 *
 * Null ids or keys never match (dropped up front, SQL comparison
 * semantics). Distances are true Levenshtein distances (unit
 * insert/delete/substitute), matching DuckDB/Postgres `levenshtein`.
 */
object Fuzzy {

  /** All pairs (id_l, id_r, dist) with `levenshtein(leftKey, rightKey)
    * <= maxDist` between two tables — fuzzy record linkage. Output
    * columns: `id_l`, `id_r`, `dist`. */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
      leftId: String, leftKey: String,
      rightId: String, rightKey: String,
      maxDist: Int, maxSegmentDf: Int = Int.MaxValue): DataFrame =
    fuzzyJoinWith(fit(left, leftId, leftKey, maxDist, share = false,
      maxSegmentDf), right, rightId, rightKey)

  /** A fitted fuzzy-join LEFT side ([[fuzzyFit]]): the catalog's distinct
    * keys segmented and indexed once, lazily shared — probe state for
    * [[fuzzyJoinWith]], so a stream (or many batches) of dirty records
    * links against the catalog without re-segmenting it per trigger.
    * Call [[release]] when done with it. */
  final case class FuzzyFitted private[Fuzzy] (
      segIdx: DataFrame, shortIdx: DataFrame, ids: DataFrame, maxDist: Int) {
    /** Unpersist the shared probe frames. A long-lived driver that refits
      * per catalog refresh MUST release the superseded fit, or the cache
      * accumulates an index generation per refresh for the session's
      * lifetime. Blocking-free; in-flight batches still probing the old
      * frames recompute from lineage instead of failing. */
    def release(): Unit = {
      segIdx.unpersist(); shortIdx.unpersist(); ids.unpersist(); ()
    }

    /** Force the shared probe frames to materialize NOW (one count per
      * frame) instead of inside the first probe: fit cost belongs to fit
      * time, not first-batch latency — a stream's first trigger should
      * cost the same as its later ones. Returns this for chaining. */
    def materialize(): FuzzyFitted = {
      segIdx.count(); shortIdx.count(); ids.count(); this
    }
  }

  /** Fit the catalog side of a fuzzy join ONCE — the fit-once /
    * probe-many flow ([[Relational.asofFit]]'s pattern). The catalog's
    * distinct keys reduce to the segment index + short-key index +
    * id-expansion table, each lazily shared; every [[fuzzyJoinWith]]
    * batch then pays only its own probe explosion and the candidate
    * equi-joins. */
  def fuzzyFit(catalog: DataFrame, idCol: String, keyCol: String,
      maxDist: Int, maxSegmentDf: Int = Int.MaxValue): FuzzyFitted =
    fit(catalog, idCol, keyCol, maxDist, share = true, maxSegmentDf)

  private def fit(catalog: DataFrame, idCol: String, keyCol: String,
      maxDist: Int, share: Boolean,
      maxSegmentDf: Int = Int.MaxValue): FuzzyFitted = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val shared = if (share) Exec.lazyShare _ else identity[DataFrame] _
    val ids = catalog
      .select(col(idCol).as("__lid"), col(keyCol).as("__lkey"))
      .filter(col("__lid").isNotNull && col("__lkey").isNotNull)
    val keys = ids.select(col("__lkey")).distinct()
    val (segIdx, shortIdx) = indexFrames(keys, maxDist, maxSegmentDf)
    FuzzyFitted(shared(segIdx), shared(shortIdx), shared(ids), maxDist)
  }

  /** Probe a fitted catalog ([[fuzzyFit]]): all (id_l, id_r, dist) pairs
    * between the catalog and `probe` within the fitted `maxDist` — the
    * same output as [[fuzzyJoin]] on the original inputs. */
  def fuzzyJoinWith(fitted: FuzzyFitted, probe: DataFrame,
      probeId: String, probeKey: String): DataFrame = {
    val r = probe.select(col(probeId).as("__rid"), col(probeKey).as("__rkey"))
      .filter(col("__rid").isNotNull && col("__rkey").isNotNull)
    // distinct keys only; equal keys meet in the segment join and verify
    // at dist 0, so the two-table path needs no special casing
    val keyPairs = probeCandidates(fitted.segIdx, fitted.shortIdx,
        r.select(col("__rkey")).distinct(), fitted.maxDist)
      .withColumn("dist",
        levenshtein(col("__lkey"), col("__rkey"), fitted.maxDist))
      .filter(col("dist") >= 0 && col("dist") <= fitted.maxDist)
    keyPairs
      .join(fitted.ids, "__lkey")
      .join(r, "__rkey")
      .select(col("__lid").as("id_l"), col("__rid").as("id_r"), col("dist"))
  }

  /** All unordered pairs (id_a, id_b, dist) with
    * `levenshtein(key_a, key_b) <= maxDist` WITHIN one table — fuzzy
    * near-duplicate discovery (id_a < id_b, self-pairs excluded). Rows
    * sharing a key pair at distance 0 through the output-sized same-key
    * join; distinct-key pairs through the blocked verify. */
  def fuzzyPairs(df: DataFrame, idCol: String, keyCol: String,
      maxDist: Int, maxSegmentDf: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val d = df.select(col(idCol).as("__id"), col(keyCol).as("__key"))
      .filter(col("__id").isNotNull && col("__key").isNotNull)
    val keys = d.select(col("__key").as("__lkey")).distinct()
    // the pigeonhole guarantees the (index=a, probe=b) orientation finds
    // every true pair, so one self pass suffices; normalize the key order
    // and dedup BEFORE the banded DP so each unordered pair verifies once
    val keyPairs = candidates(
        keys, keys.select(col("__lkey").as("__rkey")), maxDist, maxSegmentDf)
      .filter(col("__lkey") =!= col("__rkey"))
      .select(least(col("__lkey"), col("__rkey")).as("__lkey"),
        greatest(col("__lkey"), col("__rkey")).as("__rkey"))
      .distinct()
      .withColumn("dist", levenshtein(col("__lkey"), col("__rkey"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
    // the id guard tolerates one id appearing under several keys (dirty
    // input): it must not pair with itself
    val cross = keyPairs
      .join(d.select(col("__id").as("__ida"), col("__key").as("__lkey")), "__lkey")
      .join(d.select(col("__id").as("__idb"), col("__key").as("__rkey")), "__rkey")
      .filter(col("__ida") =!= col("__idb"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("dist"))
    val same = d.as("x").join(d.as("y"),
        col("x.__key") === col("y.__key") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        lit(0).as("dist"))
    cross.unionAll(same)
  }

  /** Segment i of a length-`la` key under m = k+1 segments: the last
    * (la % m) segments are one longer, starts are cumulative. */
  private def segLen(m: Int)(la: Column, i: Column): Column =
    floor(la / lit(m)).cast("long") +
      when(i >= lit(m.toLong) - la % lit(m), 1L).otherwise(0L)
  private def segStart(m: Int)(la: Column, i: Column): Column =
    i * floor(la / lit(m)).cast("long") +
      greatest(i - (lit(m.toLong) - la % lit(m)), lit(0L))

  /** Distinct candidate key pairs (__lkey, __rkey) from the segment
    * equi-join plus the short-string band join. Complete for
    * `ed <= maxDist`; a superset otherwise (verification prunes). */
  private def candidates(l: DataFrame, r: DataFrame, k: Int,
      maxSegmentDf: Int = Int.MaxValue): DataFrame = {
    val (segIdx, shortIdx) = indexFrames(l, k, maxSegmentDf)
    probeCandidates(segIdx, shortIdx, r, k)
  }

  /** The indexed side's two lookup frames from its distinct keys:
    * (cand_len, seg_i, seg, __lkey) segment rows for keys of length
    * >= k+1, and (__bkt, __lkey) length-bucket rows for shorter keys. */
  private def indexFrames(l: DataFrame, k: Int,
      maxSegmentDf: Int = Int.MaxValue): (DataFrame, DataFrame) = {
    val m = k + 1 // segments per indexed key
    // --- segmented path: indexed keys of length >= m ---
    // segment i of a length-la key: the last (la % m) segments are one
    // longer, starts are cumulative
    val idx = l
      .withColumn("__la", length(col("__lkey")).cast("long"))
      .filter(col("__la") >= m)
      .select(col("__lkey"), explode(transform(sequence(lit(0L), lit(k.toLong)),
        i => struct(
          col("__la").as("cand_len"), i.as("seg_i"),
          col("__lkey").substr(
            (segStart(m)(col("__la"), i) + 1L).cast("int"),
            segLen(m)(col("__la"), i).cast("int")).as("seg")))).as("__s"))
      .select(col("__lkey"), col("__s.cand_len"), col("__s.seg_i"), col("__s.seg"))
    // optional templated-corpus guard (the [[Dedup.dropHotKeys]] counted-
    // drop convention): a boilerplate segment shared by more than
    // `maxSegmentDf` DISTINCT keys at the same slot is dropped from the
    // index with a loud counter (Dedup.lastDropStats("fuzzySegments")) —
    // pairs whose ONLY edit-free segment was the dropped one are missed,
    // so the operator is exact while the counter reads zero
    val guarded =
      if (maxSegmentDf == Int.MaxValue) idx
      else Dedup.dropHotKeys(idx, Seq("cand_len", "seg_i", "seg"),
        maxSegmentDf, "fuzzySegments")

    // --- short path: indexed keys of length < m can't be segmented;
    // their possible partners all have length <= (m-1)+k < 2k+1. Banded
    // length-bucket equi-join (rangeJoinMicros' binning), no cartesian.
    val shortIdx = l
      .withColumn("__la", length(col("__lkey")).cast("long"))
      .filter(col("__la") < m)
      .select(col("__lkey"), floor(col("__la") / lit(m)).as("__bkt"))
    (guarded, shortIdx)
  }

  /** Candidate key pairs for `r`'s distinct keys against a pre-built
    * index ([[indexFrames]]): the probe-side explosion + the two
    * candidate equi-joins. */
  private def probeCandidates(idx: DataFrame, shortIdx: DataFrame,
      r: DataFrame, k: Int): DataFrame = {
    val m = k + 1
    // probe: for each plausible index length la in [lb-k, lb+k] (>= m),
    // each slot i, each start within +-k of the slot's position, the
    // probe's substring of that slot's exact length
    val prb = r
      .withColumn("__lb", length(col("__rkey")).cast("long"))
      .select(col("__rkey"), explode(flatten(flatten(transform(
        filter(sequence(col("__lb") - k, col("__lb") + k), la => la >= m),
        la => transform(sequence(lit(0L), lit(k.toLong)), i => {
          val len = segLen(m)(la, i)
          val st = segStart(m)(la, i)
          transform(
            filter(sequence(st - k, st + k),
              p => p >= 0L && p <= col("__lb") - len),
            p => struct(la.as("cand_len"), i.as("seg_i"),
              col("__rkey").substr((p + 1L).cast("int"), len.cast("int"))
                .as("seg")))
        }))))).as("__s"))
      .select(col("__rkey"), col("__s.cand_len"), col("__s.seg_i"), col("__s.seg"))

    val segCand = idx.join(prb, Seq("cand_len", "seg_i", "seg"))
      .select(col("__lkey"), col("__rkey"))

    // short partners of un-segmentable indexed keys (see [[indexFrames]])
    val shortPrb = r
      .withColumn("__lb", length(col("__rkey")).cast("long"))
      .filter(col("__lb") < 2 * k + 1)
      .select(col("__rkey"), explode(array(Seq(-1, 0, 1).map(d =>
        floor(col("__lb") / lit(m)) + d): _*)).as("__bkt"))
    val shortCand = shortIdx.join(shortPrb, "__bkt")
      .select(col("__lkey"), col("__rkey"))

    segCand.unionAll(shortCand).distinct()
  }

  // -------------------------------------------------------------------
  // Persisted segment index — the restart-surviving form of [[fuzzyFit]]:
  // a streaming linkage job (or a fleet of batch jobs) probes a catalog
  // fitted ONCE and saved, instead of re-segmenting the catalog on every
  // driver start. Stored through [[EpochIndex]] like
  // [[Dedup.saveHashIndex]]: three epoch-partitioned tables, the manifest
  // records (maxDist, maxSegmentDf) for probe compatibility, every mutation
  // under the single-writer lease, manifest-flip compaction. Reference
  // precedent: checkpointed source recovery
  // (EventHubsSource.scala:118-175) — fitted state must outlive the driver.
  // -------------------------------------------------------------------

  /** The fuzzy segment index family: `segments` + `shorts` (the two
    * candidate lookup frames) and `ids` (the key -> id expansion). */
  private[graft] val FuzzyIndex = EpochIndex.Family("graft-fuzzy-index-v1",
    "fuzzy segment", "saveFuzzyIndex", Seq("segments", "shorts", "ids"))

  private def fuzzyParams(m: EpochIndex.Manifest): (Int, Int) =
    (m.param("max_dist").toInt, m.param("max_segment_df").toInt)

  /** One catalog slice's three index tables. The `maxSegmentDf`
    * hot-segment guard applies PER WRITE (each write sees only its own
    * slice's distinct keys): a boilerplate segment can exceed the cap only
    * across appends, where the candidate cost it guards against is already
    * split across epoch files. Ids are written distinct so a double-saved
    * row cannot duplicate output pairs. The distinct keys are shared by
    * the segment and short-key frames, whose writes run side by side (the
    * first reader materializes the share under block locking). */
  private[graft] def fuzzyFrames(catalog: DataFrame, idCol: String,
      keyCol: String)(m: EpochIndex.Manifest): EpochIndex.Frames = {
    val (maxDist, maxSegmentDf) = fuzzyParams(m)
    val ids = catalog
      .select(col(idCol).as("__lid"), col(keyCol).as("__lkey"))
      .filter(col("__lid").isNotNull && col("__lkey").isNotNull)
      .distinct()
    val keys = Exec.lazyShare(ids.select(col("__lkey")).distinct())
    val (segIdx, shortIdx) = indexFrames(keys, maxDist, maxSegmentDf)
    Seq("segments" -> segIdx, "shorts" -> shortIdx, "ids" -> ids)
  }

  /** Persist the catalog's fitted segment index — [[fuzzyFit]] that
    * survives the driver; the manifest records (maxDist, maxSegmentDf) so
    * a probe through a reloaded index always verifies at the distance the
    * index was cut for. */
  def saveFuzzyIndex(catalog: DataFrame, idCol: String, keyCol: String,
      maxDist: Int, path: String, maxSegmentDf: Int = Int.MaxValue): Unit = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    EpochIndex.save(catalog.sparkSession, path, FuzzyIndex,
      Map("max_dist" -> maxDist.toString, "max_segment_df" -> maxSegmentDf.toString))(
      fuzzyFrames(catalog, idCol, keyCol))
  }

  /** Load a persisted index into a [[FuzzyFitted]] — the same probe state
    * [[fuzzyFit]] builds, minus the fit cost: three parquet scans, no
    * segmentation, no distinct over the catalog. Call
    * [[FuzzyFitted.release]] when done (the frames are lazily shared). */
  def loadFuzzyIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): FuzzyFitted = {
    val m = EpochIndex.committed(spark, path, FuzzyIndex)
    def t(name: String) = EpochIndex.scan(spark, path, FuzzyIndex, m, name).drop("epoch")
    // ids dedup ACROSS writes (each write is distinct only within its own
    // slice): a key re-admitted by append/epoch-replay must not duplicate
    // output pairs. Segment/short duplicates are already harmless — the
    // candidate set dedups before the verify. One narrow 2-column
    // shuffle, paid once per load, shared across every probe.
    FuzzyFitted(Exec.lazyShare(t("segments")), Exec.lazyShare(t("shorts")),
      Exec.lazyShare(t("ids").distinct()), fuzzyParams(m)._1)
  }

  /** Admit a catalog delta: index ONLY the new slice's distinct keys (a
    * new committed generation) — never re-reads the existing index. A key
    * already indexed gets duplicate segment rows (harmless: candidates
    * dedup before the verify) and its ids union; [[compactFuzzyIndex]]
    * collapses the storage. Probing a loaded index after an append equals
    * probing a fresh [[saveFuzzyIndex]] of the whole catalog, up to the
    * per-write `maxSegmentDf` note on [[fuzzyFrames]]. */
  def appendToFuzzyIndex(catalog: DataFrame, idCol: String, keyCol: String,
      path: String): Unit =
    EpochIndex.append(catalog.sparkSession, path, FuzzyIndex, "appendToFuzzyIndex")(
      fuzzyFrames(catalog, idCol, keyCol))

  /** Admission of ONE catalog epoch: stage this slice's index rows as
    * epoch `epochId` and commit it; a replay of a committed epoch replaces
    * it instead of double-appending. */
  private[graft] def admitFuzzyEpoch(catalog: DataFrame, idCol: String,
      keyCol: String, path: String, epochId: Long): Unit =
    EpochIndex.admitEpoch(catalog.sparkSession, path, FuzzyIndex, epochId)(
      fuzzyFrames(catalog, idCol, keyCol))

  /** Merge the committed epochs into one generation per table — full-row
    * distinct, so double-admitted keys/ids collapse to one copy; only run
    * while no stream owns the index. Returns the number of epochs merged,
    * 0 if already compact. */
  def compactFuzzyIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    EpochIndex.compact(spark, path, FuzzyIndex, "compactFuzzyIndex")

  /** [[graft.streaming.StreamOps.fuzzyLinkStream]] through a PERSISTED
    * index: the fitted catalog state is loaded (not refit) — a driver
    * restart pays three parquet scans instead of re-segmenting the
    * catalog, the survive-restart story the in-memory fit lacks. Same
    * union-equals-batch contract; `writeBatch` must be idempotent on the
    * epoch id. Returns the configured writer. */
  def fuzzyLinkStreamPersisted(stream: DataFrame, indexPath: String,
      probeId: String, probeKey: String)(
      writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val fitted = loadFuzzyIndex(stream.sparkSession, indexPath).materialize()
    stream.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      writeBatch(fuzzyJoinWith(fitted, batch, probeId, probeKey), epochId)
    }
  }
}
