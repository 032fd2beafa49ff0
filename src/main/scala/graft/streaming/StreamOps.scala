package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, ForeachWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.sketch.CountMinSketch

import graft.sources.{Event, EventLogRegistry, InMemoryEventLog}

/**
 * Streaming operators over the event-log source. Watermarks, windows and
 * state management are Spark Structured Streaming's own (SURVEY §2.4 — the
 * connector's obligation is offset determinism + the event-time column);
 * these helpers add the shapes the reference demonstrates plus the custom
 * state the reference lacks.
 */
object StreamOps {

  /** The reference's demo query shape (EventHubsSourceSuite.scala:737-778):
    * watermark + tumbling-window count over the event-time column. */
  def windowedCounts(df: DataFrame, timeCol: String, watermark: String,
      windowLen: String): DataFrame =
    df.withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), windowLen))
      .agg(count(lit(1)).as("n"))

  /** Streaming exact dedup on a key with bounded state: watermark +
    * dropDuplicates keeps state only for the watermark horizon. */
  def streamingDedup(df: DataFrame, timeCol: String, watermark: String,
      keyCols: Seq[String]): DataFrame =
    df.withWatermark(timeCol, watermark).dropDuplicates(keyCols :+ timeCol)

  /**
   * Stream-static AS-OF enrichment: each micro-batch row takes the latest
   * at-or-before `rightCols` value per `keyCol` from a STATIC dimension —
   * the trades/quotes shape (price as of trade, last profile update as of
   * event) against a slowly-changing dimension snapshot. Enrichment is
   * per-row stateless with respect to the stream (the right side is
   * fixed), so the union over ANY trigger slicing equals the batch
   * [[graft.operators.Relational.asofJoin]] on the same inputs — which is
   * exactly how the gate oracles it.
   *
   * Fit-once shape ([[graft.operators.Relational.asofFit]]): the
   * dimension reduces ONCE to bucket-bounded probe state (sorted
   * per-bucket value arrays + per-key bucket summaries, lazily shared);
   * each micro-batch then pays two planner-chosen joins plus an array
   * lookup — no per-trigger union, window, or re-aggregation of the
   * dimension. `writeBatch` must be idempotent on the epoch id
   * (foreachBatch is at-least-once). Returns the configured writer; the
   * caller picks trigger/checkpoint and starts it.
   */
  def asofEnrichStream(stream: DataFrame, right: DataFrame, keyCol: String,
      timeCol: String, rightCols: Map[String, String])(
      writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    // materialize the fitted state BEFORE the stream starts: lazily-shared
    // probe frames would otherwise be paid inside the first timed trigger,
    // inflating first-batch latency (and, under host contention, the whole
    // stream's profile) with cost that belongs to fit time
    val fitted = graft.operators.Relational
      .asofFit(right, keyCol, timeCol, rightCols).materialize()
    stream.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      writeBatch(graft.operators.Relational.asofJoinWith(
        batch, fitted, keyCol, timeCol), epochId)
    }
  }

  /**
   * Stream-static fuzzy record linkage: each micro-batch of dirty records
   * links against a STATIC catalog within Levenshtein distance `maxDist`
   * (typo'd names/titles/urls matched back to their clean rows).
   *
   * Fit-once shape ([[graft.operators.Fuzzy.fuzzyFit]]): the catalog's
   * distinct keys segment and index ONCE (lazily shared); each
   * micro-batch pays only its own bounded probe explosion + the candidate
   * equi-joins + banded verifies. Per-row stateless w.r.t. the stream, so
   * the union over ANY trigger slicing equals the batch
   * [[graft.operators.Fuzzy.fuzzyJoin]] (catalog as the left side) —
   * which is exactly how the gate oracles it. `writeBatch` must be
   * idempotent on the epoch id (foreachBatch is at-least-once).
   */
  def fuzzyLinkStream(stream: DataFrame, catalog: DataFrame,
      catalogId: String, catalogKey: String,
      probeId: String, probeKey: String, maxDist: Int)(
      writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    // fit cost out of the first trigger ([[asofEnrichStream]]'s rationale)
    val fitted = graft.operators.Fuzzy.fuzzyFit(
      catalog, catalogId, catalogKey, maxDist).materialize()
    stream.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      writeBatch(graft.operators.Fuzzy.fuzzyJoinWith(
        fitted, batch, probeId, probeKey), epochId)
    }
  }

  /**
   * Cumulative data-quality profile of a STREAM — [[graft.operators
   * .Validation.checkConstraints]] per micro-batch, summed across epochs
   * into bounded driver state (one (count, violations, min offender) per
   * rule, whatever the stream's lifetime). Replay-safe and checkpointed
   * through [[EpochFolded]]; the checkpoint's identity is the rule names,
   * so a tracker with other rules (name, order or count) refuses it instead
   * of attributing counts to the wrong rules.
   */
  final class ConstraintTracker private[streaming] (ruleNames: Seq[String])
      extends EpochFolded(0x67435452) { // "gCTR"
    private val nRows = new Array[Long](ruleNames.size)
    private val nViolations = new Array[Long](ruleNames.size)
    private val firstViolation = new Array[String](ruleNames.size)

    private[streaming] def update(
        profile: Seq[(String, Long, Long, Option[String])],
        epochId: Long): Boolean =
      fold(epochId) { () =>
        profile.foreach { case (rule, n, v, off) =>
          val i = ruleNames.indexOf(rule)
          nRows(i) += n; nViolations(i) += v
          off.foreach { o =>
            if (firstViolation(i) == null || utf8Lt(o, firstViolation(i)))
              firstViolation(i) = o
          }
        }
      }

    /** UTF-8 BYTE order, matching Spark's string min exactly — Java's
      * `<` compares UTF-16 code units, which orders supplementary-plane
      * characters differently and would let the cumulative min offender
      * diverge from the batch profile's on non-ASCII ids. */
    private def utf8Lt(a: String, b: String): Boolean = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }

    /** Per-rule cumulative (rule, n_rows, n_violations, min offender). */
    def result: Seq[(String, Long, Long, Option[String])] = synchronized {
      ruleNames.indices.map(i => (ruleNames(i), nRows(i), nViolations(i),
        Option(firstViolation(i)))).toSeq
    }

    protected def writeConfig(out: DataOutputStream): Unit = {
      out.writeInt(ruleNames.size)
      ruleNames.foreach(out.writeUTF)
    }

    protected def writeState(out: DataOutputStream): Unit =
      ruleNames.indices.foreach { i =>
        out.writeLong(nRows(i)); out.writeLong(nViolations(i))
        out.writeBoolean(firstViolation(i) != null)
        if (firstViolation(i) != null) out.writeUTF(firstViolation(i))
      }

    protected def readState(in: DataInputStream): () => Unit = {
      val parsed = ruleNames.map { _ =>
        (in.readLong(), in.readLong(),
          if (in.readBoolean()) in.readUTF() else null)
      }
      () => parsed.zipWithIndex.foreach { case ((n, v, off), i) =>
        nRows(i) = n; nViolations(i) = v; firstViolation(i) = off
      }
    }

    protected def clearState(): Unit = {
      java.util.Arrays.fill(nRows, 0L)
      java.util.Arrays.fill(nViolations, 0L)
      java.util.Arrays.fill(firstViolation.asInstanceOf[Array[AnyRef]], null)
    }
  }

  /** foreachBatch sink monitoring a stream's constraint profile: each
    * micro-batch runs ONE [[graft.operators.Validation.checkConstraints]]
    * scan (a per-rule aggregate — no shuffle of data) and folds the
    * per-rule counts into the tracker. Returns (tracker, sink fn).
    *
    * `hardTolerance` turns the monitor into a HARD GATE ([[graft.operators
    * .Validation.requireConstraints]]'s mid-stream form): after an epoch
    * MERGES, any rule whose cumulative violation fraction exceeds its
    * tolerance (default 0.0 for rules not in the map; `Some(Map.empty)` =
    * zero tolerance everywhere) throws, failing the query at exactly the
    * epoch the threshold crossed. The gate reads the CUMULATIVE counts —
    * one bad row trips a zero-tolerance rule whatever the batch slicing —
    * and a replayed epoch is MERGE-skipped (counts never double), while
    * the gate itself still re-evaluates — the check reads only cumulative
    * state, so it is idempotent, and a restarted query whose TRIPPING
    * epoch was also its last (Trigger.AvailableNow crash-then-retry)
    * re-fails instead of completing with violations over the gate. */
  def constraintSink(idCol: org.apache.spark.sql.Column,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      hardTolerance: Option[Map[String, Double]] = None)
      : (ConstraintTracker, (DataFrame, Long) => Unit) = {
    hardTolerance.foreach(_.keys.foreach(k => require(rules.exists(_._1 == k),
      s"tolerance for unknown rule '$k'")))
    val tracker = new ConstraintTracker(rules.map(_._1))
    val fn = (batch: DataFrame, epochId: Long) => {
      val profile = graft.operators.Validation
        .checkConstraints(batch, idCol, rules)
        .select(col("rule"), col("n_rows"), col("n_violations"),
          col("first_violation"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          Option(r.getString(3))))
        .toSeq
      tracker.update(profile, epochId)
      // gate OUTSIDE the merged-branch: a replayed tripping epoch must
      // re-trip (cumulative state is unchanged by the skipped merge, so
      // the re-check is idempotent — no double-count, no missed trip)
      hardTolerance.foreach { tol =>
        val failing = tracker.result.filter { case (rule, n, v, _) =>
          v > 0 && (if (n == 0) 0.0 else v.toDouble / n) >
            tol.getOrElse(rule, 0.0)
        }
        if (failing.nonEmpty) throw new IllegalStateException(
          s"stream constraint gate tripped at epoch $epochId: " +
            failing.map { case (rule, n, v, off) =>
              s"$rule ($v/$n cumulative rows, first offender " +
                s"id=${off.orNull})"
            }.mkString("; "))
      }
    }
    (tracker, fn)
  }

  /**
   * Cumulative distribution-drift monitor of a STREAM against a FIXED
   * reference histogram — the streaming twin of [[graft.operators
   * .Validation.distributionDrift]], in the fit-once / probe-many shape:
   * the reference snapshot reduces ONCE to `buckets` counts
   * ([[driftFit]]), and each micro-batch adds one map-side-combined
   * histogram aggregate (<= B rows collected) to bounded driver state.
   * Counts are exact integers, so cumulative totals over ANY trigger
   * slicing equal the batch histogram — the PSI after the last epoch is
   * the batch PSI. Replay-safe and checkpointed through [[EpochFolded]];
   * the checkpoint's identity is (lo, hi, buckets, alpha) and the
   * reference histogram.
   */
  final class DriftTracker private[streaming] (
      val lo: Double, val hi: Double, val buckets: Int, val alpha: Double,
      private val refCounts: Array[Long])
      extends EpochFolded(0x67444654, "histogram") { // "gDFT"
    private val curCounts = new Array[Long](buckets)

    private[streaming] def update(batchCounts: Seq[(Int, Long)],
        epochId: Long): Boolean =
      fold(epochId) { () =>
        batchCounts.foreach { case (b, n) => curCounts(b) += n }
      }

    /** Per-bucket cumulative (bucket, n_ref, n_cur). */
    def counts: Seq[(Int, Long, Long)] = synchronized {
      (0 until buckets).map(b => (b, refCounts(b), curCounts(b)))
    }

    /** Total PSI of the stream so far vs the reference —
      * [[graft.operators.Validation.psiTotal]]'s formula on the
      * cumulative counts. */
    def psiTotal: Double = synchronized {
      val c = counts
      psiTerms(c.map(_._2), c.map(_._3), alpha).sum
    }

    protected def writeConfig(out: DataOutputStream): Unit = {
      out.writeDouble(lo); out.writeDouble(hi)
      out.writeInt(buckets); out.writeDouble(alpha)
    }

    override protected def writeReference(out: DataOutputStream): Unit =
      refCounts.foreach(out.writeLong)

    protected def writeState(out: DataOutputStream): Unit =
      curCounts.foreach(out.writeLong)

    protected def readState(in: DataInputStream): () => Unit = {
      val cur = Array.fill(buckets)(in.readLong())
      () => System.arraycopy(cur, 0, curCounts, 0, buckets)
    }

    protected def clearState(): Unit = java.util.Arrays.fill(curCounts, 0L)
  }

  /** Per-cell PSI terms of a reference and a current count vector, each
    * side smoothed by `alpha` per cell and normalized by its own smoothed
    * total. Summed in cell order they are the batch PSI of
    * [[graft.operators.Validation]]. */
  private def psiTerms(ref: Seq[Long], cur: Seq[Long],
      alpha: Double): Seq[Double] = {
    val tr = ref.sum + alpha * ref.size
    val tc = cur.sum + alpha * cur.size
    ref.zip(cur).map { case (nr, nc) =>
      val p = (nr + alpha) / tr
      val q = (nc + alpha) / tc
      (q - p) * math.log(q / p)
    }
  }

  /** The three cells with the largest PSI terms, for a hard gate's message;
    * `cells` is ONE snapshot of (cell, n_ref, n_cur), so every cell is
    * priced against the same totals. */
  private def worstCells(cells: Seq[(String, Long, Long)],
      alpha: Double): String =
    cells.zip(psiTerms(cells.map(_._2), cells.map(_._3), alpha))
      .sortBy(-_._2).take(3)
      .map { case ((cell, nr, nc), psi) =>
        f"$cell ref=$nr cur=$nc psi=$psi%.4f"
      }
      .mkString("; ")

  /** Fit the drift monitor's reference histogram ONCE from a reference
    * snapshot — one map-side-combined aggregate, <= `buckets` rows
    * collected. NULLs and NaNs excluded, out-of-range values clamped into
    * the edge cells (the exact [[graft.operators.Validation
    * .distributionDrift]] binning — bucket expression AND admission
    * predicate are shared). */
  def driftFit(ref: DataFrame, valueCol: String, lo: Double, hi: Double,
      buckets: Int, alpha: Double = 0.5): DriftTracker = {
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(alpha > 0, s"alpha must be positive (smoothing), got $alpha")
    val refCounts = new Array[Long](buckets)
    histogram(ref, valueCol, lo, hi, buckets)
      .foreach { case (b, n) => refCounts(b) = n }
    new DriftTracker(lo, hi, buckets, alpha, refCounts)
  }

  /** One snapshot's (bucket, n) histogram, <= B rows collected — shared
    * by [[driftFit]] and [[driftSink]] so the two sides can never bin
    * differently. */
  private def histogram(df: DataFrame, valueCol: String, lo: Double,
      hi: Double, buckets: Int): Seq[(Int, Long)] =
    df.filter(graft.operators.Validation.driftValueOk(col(valueCol)))
      .select(graft.operators.Validation
        .driftBucket(col(valueCol), lo, hi, buckets).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .toSeq

  /** foreachBatch sink folding each micro-batch's histogram (ONE
    * aggregate, <= B rows) into `tracker`'s cumulative stream side.
    *
    * A finite `maxPsi` turns the monitor into a HARD GATE ([[graft
    * .operators.Validation.requireDriftBelow]]'s mid-stream form): after
    * an epoch MERGES, if the cumulative PSI vs the fitted reference
    * exceeds `maxPsi` the sink throws — failing the query at exactly the
    * epoch the threshold crossed, with the worst buckets in the message.
    * A replayed epoch is MERGE-skipped (cumulative counts never double)
    * but the gate still re-evaluates — it reads only cumulative state, so
    * a restarted query whose tripping epoch was its last re-fails instead
    * of completing over the threshold. */
  def driftSink(tracker: DriftTracker, valueCol: String,
      maxPsi: Double = Double.PositiveInfinity)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, epochId: Long) => {
      tracker.update(histogram(batch, valueCol, tracker.lo, tracker.hi,
        tracker.buckets), epochId)
      val psi = tracker.psiTotal
      if (psi > maxPsi) {
        val w = (tracker.hi - tracker.lo) / tracker.buckets
        val worst = worstCells(tracker.counts.map { case (b, nr, nc) =>
          (f"[${tracker.lo + b * w}%.4g, ${tracker.lo + (b + 1) * w}%.4g)",
            nr, nc)
        }, tracker.alpha)
        throw new IllegalStateException(
          f"stream drift gate tripped at epoch $epochId: cumulative PSI " +
            f"$psi%.4f > $maxPsi on '$valueCol'; worst buckets: $worst")
      }
    }

  /**
   * Cumulative CATEGORICAL drift monitor of a stream against a fixed
   * reference category mix — the streaming twin of [[graft.operators
   * .Validation.categoricalDrift]], and the monitor a production corpus
   * pipeline alarms on FIRST (source-mix shift: a feed going dark, a new
   * domain flooding in). Fit-once / probe-many: the reference reduces
   * ONCE to its top-K category counts plus the folded tail
   * ([[catDriftFit]]); each micro-batch classifies its rows against the
   * broadcast-literal top set in ONE map-side-combined aggregate (<= K+1
   * rows collected) and folds the counts into bounded driver state —
   * however many distinct values the stream carries (urls, domains), the
   * state is K+1 longs. Counts are exact integers, so the cumulative mix
   * over ANY trigger slicing equals the batch histogram — the PSI after
   * the last epoch is the batch [[graft.operators.Validation
   * .categoricalDrift]] PSI on the same snapshots.
   *
   * The fold row is keyed by an IS-OTHER marker (classification emits
   * NULL for tail values after NULL categories are excluded), never by
   * the `__other__` display string, so a real category named `__other__`
   * in the top set neither merges with nor double-counts against the
   * fold row — [[graft.operators.Validation.categoricalDrift]]'s exact
   * contract. Replay-safe and checkpointed through [[EpochFolded]]; the
   * checkpoint's identity is (topK, alpha), the fitted top set and its
   * reference counts.
   */
  final class CatDriftTracker private[streaming] (
      val topK: Int, val alpha: Double,
      private val topCatsArr: Array[String],
      private val refCounts: Array[Long],
      private val refOther: Long)
      extends EpochFolded(0x67434454, "mix") { // "gCDT"
    private val curCounts = new Array[Long](topCatsArr.length)
    private var curOther: Long = 0L

    /** The fitted top categories, rank order (ref count desc, name asc). */
    def topCats: Seq[String] = topCatsArr.toSeq

    /** Merge one epoch's classified counts (None = the folded tail). A
      * category outside the fitted top set (sink and tracker disagree on
      * the fit) throws before anything merges. */
    private[streaming] def update(batch: Seq[(Option[String], Long)],
        epochId: Long): Boolean =
      fold(epochId) {
        val resolved = batch.map {
          case (Some(cat), n) =>
            val i = topCatsArr.indexOf(cat)
            require(i >= 0, s"classified category '$cat' is not in the " +
              "fitted top set — sink and tracker disagree on the fit")
            (i, n)
          case (None, n) => (-1, n)
        }
        () => resolved.foreach { case (i, n) =>
          if (i >= 0) curCounts(i) += n else curOther += n
        }
      }

    /** Cumulative rows in [[graft.operators.Validation
      * .categoricalDriftFromCounts]]'s frame shape
      * (category, __ord, n_ref, n_cur): top rows keyed by their reference
      * count (rank order), the fold row last at __ord -1. */
    def counts: Seq[(String, Long, Long, Long)] = synchronized {
      topCatsArr.indices.map(i =>
        (topCatsArr(i), refCounts(i), refCounts(i), curCounts(i))) :+
        (("__other__", -1L, refOther, curOther))
    }

    /** Total categorical PSI of the stream so far vs the reference —
      * [[graft.operators.Validation.categoricalDriftFromCounts]]'s
      * formula on the cumulative counts (smoothing denominator over the
      * emitted rows, top + fold). */
    def psiTotal: Double = synchronized {
      val c = counts
      psiTerms(c.map(_._3), c.map(_._4), alpha).sum
    }

    protected def writeConfig(out: DataOutputStream): Unit = {
      out.writeInt(topK); out.writeDouble(alpha)
    }

    override protected def writeReference(out: DataOutputStream): Unit = {
      out.writeInt(topCatsArr.length)
      topCatsArr.foreach(out.writeUTF)
      refCounts.foreach(out.writeLong)
      out.writeLong(refOther)
    }

    protected def writeState(out: DataOutputStream): Unit = {
      curCounts.foreach(out.writeLong)
      out.writeLong(curOther)
    }

    protected def readState(in: DataInputStream): () => Unit = {
      val cur = Array.fill(curCounts.length)(in.readLong())
      val other = in.readLong()
      () => {
        System.arraycopy(cur, 0, curCounts, 0, cur.length)
        curOther = other
      }
    }

    protected def clearState(): Unit = {
      java.util.Arrays.fill(curCounts, 0L)
      curOther = 0L
    }
  }

  /** Fit the categorical monitor's reference mix ONCE: category counts
    * reduce map-side, the top-K cut is a distributed TakeOrdered (count
    * desc, name asc — [[graft.operators.Validation.categoricalDrift]]'s
    * deterministic tie-break), the tail folds into one number. NULL
    * categories excluded. */
  def catDriftFit(ref: DataFrame, catCol: String, topK: Int = 50,
      alpha: Double = 0.5): CatDriftTracker = {
    require(topK > 0, s"topK must be positive, got $topK")
    require(alpha > 0, s"alpha must be positive (smoothing), got $alpha")
    val counts = ref.filter(col(catCol).isNotNull)
      .select(col(catCol).cast("string").as("__cat"))
      .groupBy(col("__cat")).agg(count(lit(1)).as("__n"))
    val top = counts.orderBy(col("__n").desc, col("__cat").asc).limit(topK)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val total = counts.agg(coalesce(sum(col("__n")), lit(0L)))
      .head().getLong(0)
    new CatDriftTracker(topK, alpha, top.map(_._1), top.map(_._2),
      total - top.map(_._2).sum)
  }

  /** foreachBatch sink folding each micro-batch's classified category
    * counts (ONE aggregate against the broadcast-literal top set, <= K+1
    * rows) into `tracker`'s cumulative stream side. Tail values classify
    * to NULL (the is-other key) AFTER null categories are excluded, so a
    * real `__other__` category never collides with the fold row.
    *
    * A finite `maxPsi` turns the monitor into a HARD GATE: after the
    * epoch's counts are in (merged, or merge-skipped on replay — the
    * check reads only cumulative state and is idempotent), a cumulative
    * PSI over `maxPsi` throws with the worst-moving categories in the
    * message, failing the query at exactly the crossing epoch — and a
    * restarted query whose tripping epoch was its last re-fails. */
  def catDriftSink(tracker: CatDriftTracker, catCol: String,
      maxPsi: Double = Double.PositiveInfinity)
      : (DataFrame, Long) => Unit = {
    val topSet = tracker.topCats
    (batch: DataFrame, epochId: Long) => {
      val c = col(catCol).cast("string")
      val isTop =
        if (topSet.isEmpty) lit(false)
        else c.isInCollection(topSet)
      val counts = batch.filter(c.isNotNull)
        // tail values -> NULL: the is-other key (null never collides with
        // a real category; nulls-as-categories were just excluded)
        .select(when(isTop, c).as("__cat"))
        .groupBy(col("__cat")).agg(count(lit(1)).as("__n"))
        .collect()
        .map(r => (Option(r.getString(0)), r.getLong(1)))
        .toSeq
      tracker.update(counts, epochId)
      val psi = tracker.psiTotal
      if (psi > maxPsi) {
        val worst = worstCells(tracker.counts.map { case (cat, _, nr, nc) =>
          (s"'$cat'", nr, nc)
        }, tracker.alpha)
        throw new IllegalStateException(
          f"stream categorical drift gate tripped at epoch $epochId: " +
            f"cumulative PSI $psi%.4f > $maxPsi on '$catCol'; worst " +
            s"categories: $worst")
      }
    }
  }

  /**
   * Cumulative PER-GROUP numeric drift monitor — the streaming twin of
   * [[graft.operators.Validation.distributionDriftByGroup]]: one
   * [[DriftTracker]]-style histogram per segment (source, language,
   * license), because a 30% shift in one minor feed disappears inside the
   * corpus-level PSI but screams in its own group's. Fit-once
   * ([[groupDriftFit]]): the reference reduces ONCE to <= groups x B
   * counts; each micro-batch adds one (group, bucket) aggregate
   * (<= groups x B rows collected) to bounded driver state. Groups
   * appearing only mid-stream are admitted on the fly (their reference
   * side is all-zero — exactly the "new feed showed up" alarm), capped by
   * `maxGroups` with a LOUD error, never silent truncation. Counts are
   * exact integers, so the cumulative monitor over ANY trigger slicing
   * equals the batch profile. Replay-safe and checkpointed through
   * [[EpochFolded]]; the checkpoint's identity is (lo, hi, buckets, alpha,
   * maxGroups) and the reference histograms.
   */
  final class GroupDriftTracker private[streaming] (
      val lo: Double, val hi: Double, val buckets: Int, val alpha: Double,
      val maxGroups: Int,
      private val refCounts: Map[String, Array[Long]])
      extends EpochFolded(0x67474454, "profile") { // "gGDT"
    private val curCounts =
      scala.collection.mutable.HashMap.empty[String, Array[Long]]

    /** Merge one epoch's (group, bucket, n) rows. A bucket of -1 is
      * ADMISSION-ONLY: the group's rows all carried NULL/NaN values this
      * epoch, so the group enters the monitor (the batch operator's
      * group-not-null admission) but no histogram cell moves. Throws
      * BEFORE mutating if the epoch's new groups would exceed
      * `maxGroups`. */
    private[streaming] def update(batch: Seq[(String, Int, Long)],
        epochId: Long): Boolean =
      fold(epochId) {
        requireAdmits(refCounts.keySet ++ curCounts.keySet, batch.map(_._1),
          maxGroups, "group", s"epoch $epochId")
        () => batch.foreach { case (g, b, n) =>
          val arr = curCounts.getOrElseUpdate(g, new Array[Long](buckets))
          if (b >= 0) arr(b) += n
        }
      }

    /** Cumulative dense rows (group, bucket, n_ref, n_cur) over the UNION
      * of reference and stream groups — [[graft.operators.Validation
      * .distributionDriftByGroupFromCounts]]'s frame shape. */
    def counts: Seq[(String, Int, Long, Long)] = synchronized {
      val groups = (refCounts.keySet ++ curCounts.keySet).toSeq.sorted
      groups.flatMap { g =>
        val r = refCounts.getOrElse(g, new Array[Long](buckets))
        val c = curCounts.getOrElse(g, new Array[Long](buckets))
        (0 until buckets).map(b => (g, b, r(b), c(b)))
      }
    }

    /** Per-group total PSI on the cumulative counts (per-GROUP smoothing
      * denominators — each group normalizes by its own totals, so groups
      * are comparable regardless of size). */
    def psiByGroup: Map[String, Double] = synchronized {
      counts.groupBy(_._1).map { case (g, rows) =>
        g -> psiTerms(rows.map(_._3), rows.map(_._4), alpha).sum
      }
    }

    protected def writeConfig(out: DataOutputStream): Unit = {
      out.writeDouble(lo); out.writeDouble(hi)
      out.writeInt(buckets); out.writeDouble(alpha); out.writeInt(maxGroups)
    }

    override protected def writeReference(out: DataOutputStream): Unit =
      writeMap(out, refCounts)(_.foreach(out.writeLong))

    protected def writeState(out: DataOutputStream): Unit =
      writeMap(out, curCounts)(_.foreach(out.writeLong))

    protected def readState(in: DataInputStream): () => Unit = {
      val cur = readMap(in)(Array.fill(buckets)(in.readLong()))
      () => { curCounts.clear(); curCounts ++= cur }
    }

    protected def clearState(): Unit = curCounts.clear()
  }

  /** Fit the per-group monitor's reference histograms ONCE — one
    * map-side-combined (group, bucket) aggregate, <= groups x B rows
    * collected. NULL groups excluded ([[graft.operators.Validation
    * .distributionDriftByGroup]]'s admission), NULL/NaN values excluded,
    * out-of-range values clamped into edge cells (the shared bucket
    * expression). */
  def groupDriftFit(ref: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, buckets: Int, alpha: Double = 0.5,
      maxGroups: Int = 10000): GroupDriftTracker = {
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(alpha > 0, s"alpha must be positive (smoothing), got $alpha")
    require(maxGroups > 0, s"maxGroups must be positive, got $maxGroups")
    val refMap = groupHistogram(ref, groupCol, valueCol, lo, hi, buckets)
      .groupBy(_._1).map { case (g, rs) =>
        val arr = new Array[Long](buckets)
        rs.foreach { case (_, b, n) => if (b >= 0) arr(b) = n }
        g -> arr
      }
    requireAdmits(Set.empty, refMap.keys.toSeq, maxGroups, "group",
      "the reference snapshot")
    new GroupDriftTracker(lo, hi, buckets, alpha, maxGroups, refMap)
  }

  /** foreachBatch sink folding each micro-batch's (group, bucket)
    * histogram (ONE aggregate, <= groups x B rows) into `tracker`.
    *
    * A finite `maxPsi` is a HARD GATE per group: after the epoch's counts
    * are in (merged, or merge-skipped on replay — the check is
    * idempotent), ANY group whose cumulative PSI exceeds `maxPsi` throws,
    * naming every failing group worst-first ([[graft.operators.Validation
    * .requireGroupDriftBelow]]'s report shape) at exactly the crossing
    * epoch; a restarted query whose tripping epoch was its last
    * re-fails. */
  def groupDriftSink(tracker: GroupDriftTracker, groupCol: String,
      valueCol: String, maxPsi: Double = Double.PositiveInfinity)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, epochId: Long) => {
      tracker.update(groupHistogram(batch, groupCol, valueCol, tracker.lo,
        tracker.hi, tracker.buckets), epochId)
      requireGroupsUnder(tracker.psiByGroup, maxPsi,
        s"drift gate tripped at epoch $epochId on '$valueCol'")
    }

  /** One snapshot's (group, bucket, n) rows, <= groups x (B+1) collected —
    * shared by [[groupDriftFit]] and [[groupDriftSink]]. Admission is the
    * batch operator's grps(): group-not-null rows only, so a group whose
    * rows ALL carry NULL/NaN values is still admitted (all-zero
    * histogram); those rows come back as bucket -1, admission without
    * counts, from the same single aggregate. */
  private def groupHistogram(df: DataFrame, groupCol: String,
      valueCol: String, lo: Double, hi: Double,
      buckets: Int): Seq[(String, Int, Long)] =
    df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        when(graft.operators.Validation.driftValueOk(col(valueCol)),
          graft.operators.Validation
            .driftBucket(col(valueCol), lo, hi, buckets)).as("b"))
      .groupBy(col("g"), col("b")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1),
        r.getLong(2)))
      .toSeq

  /** A per-group hard gate: throws naming every group whose PSI exceeds
    * `maxPsi`, worst first ([[graft.operators.Validation
    * .requireGroupDriftBelow]]'s report shape). */
  private def requireGroupsUnder(psiByGroup: Map[String, Double],
      maxPsi: Double, tripped: String): Unit = {
    val failing = psiByGroup.filter(_._2 > maxPsi).toSeq.sortBy(-_._2)
    if (failing.nonEmpty)
      throw new IllegalStateException(
        s"stream per-group $tripped (maxPsi $maxPsi): " +
          failing.map { case (g, p) => f"group '$g' PSI $p%.4f" }
            .mkString("; "))
  }

  /** Throws unless admitting `keys` keeps a monitor at or under `cap`
    * distinct keys: a key column drifting to id-like cardinality must fail
    * loudly, not accrete unbounded state. `what` names the key ("group",
    * "label"); `source` names what would admit them. */
  private def requireAdmits(known: Set[String], keys: Seq[String], cap: Int,
      what: String, source: String): Unit = {
    val after = known.size + keys.distinct.count(k => !known(k))
    val capName = s"max${what.capitalize}s"
    require(after <= cap,
      s"$source would grow the monitor to $after ${what}s (> $capName " +
        s"$cap) — the $what column has id-like cardinality; segment on a " +
        s"coarser column or raise $capName")
  }

  /**
   * Cumulative PER-GROUP CATEGORICAL drift monitor — the streaming twin
   * of [[graft.operators.Validation.categoricalDriftByGroup]], completing
   * the streaming drift matrix (numeric / categorical x corpus-level /
   * per-group): one top-K + `__other__` mix per segment, because one
   * source's language classifier breaking disappears inside the
   * corpus-level mix but screams in its own group's. Fit-once
   * ([[groupCatDriftFit]]): each reference group reduces to its top-K
   * category counts + folded tail; each micro-batch classifies against
   * the bounded broadcast top table in ONE aggregate (<= groups x (K+1)
   * rows collected) into groups x (K+1) longs of driver state. Groups
   * appearing only mid-stream are admitted on the fly with an EMPTY top
   * set (everything folds to `__other__`, n_ref = 0 — the batch
   * operator's cur-only-group semantics exactly), capped by `maxGroups`
   * with a LOUD pre-mutation error. Exact integer counts, so any trigger
   * slicing converges to the batch profile. Replay-safe and checkpointed
   * through [[EpochFolded]]; the checkpoint's identity is (topK, alpha,
   * maxGroups) and the fitted per-group top sets and tails.
   */
  final class GroupCatDriftTracker private[streaming] (
      val topK: Int, val alpha: Double, val maxGroups: Int,
      private val refTop: Map[String, Seq[(String, Long)]],
      private val refOther: Map[String, Long])
      extends EpochFolded(0x67474354, "mix") { // "gGCT"
    // group -> per-top-category cumulative counts (index-aligned with
    // refTop(group)) and the group's fold-row count
    private val curTop =
      scala.collection.mutable.HashMap.empty[String, Array[Long]]
    private val curOther = scala.collection.mutable.HashMap.empty[String, Long]

    /** The fitted (group -> rank-ordered top categories) table — the
      * sink's classification side. */
    def topSets: Map[String, Seq[String]] =
      refTop.map { case (g, ts) => g -> ts.map(_._1) }

    /** Merge one epoch's classified (group, Option(category), n) counts
      * (None = the folded tail). Throws BEFORE mutating if new groups
      * would exceed `maxGroups`, or if a category is outside its group's
      * fitted top set (sink and tracker disagree on the fit). */
    private[streaming] def update(batch: Seq[(String, Option[String], Long)],
        epochId: Long): Boolean =
      fold(epochId) {
        requireAdmits(refTop.keySet ++ refOther.keySet ++ curTop.keySet ++
          curOther.keySet, batch.map(_._1), maxGroups, "group",
          s"epoch $epochId")
        val resolved = batch.map {
          case (g, Some(cat), n) =>
            val tops = refTop.getOrElse(g, Seq.empty)
            val i = tops.indexWhere(_._1 == cat)
            require(i >= 0, s"classified category '$cat' is not in group " +
              s"'$g''s fitted top set — sink and tracker disagree on the fit")
            (g, i, tops.size, n)
          case (g, None, n) => (g, -1, 0, n)
        }
        () => resolved.foreach { case (g, i, nTops, n) =>
          if (i >= 0) curTop.getOrElseUpdate(g, new Array[Long](nTops))(i) += n
          else curOther.put(g, curOther.getOrElse(g, 0L) + n)
        }
      }

    /** Cumulative rows in [[graft.operators.Validation
      * .categoricalDriftByGroupFromCounts]]'s frame shape
      * (group, category, __ord, n_ref, n_cur) over the union of reference
      * and stream groups — top rows rank-keyed by their reference count,
      * each group's fold row at __ord -1. */
    def counts: Seq[(String, String, Long, Long, Long)] = synchronized {
      val groups = (refTop.keySet ++ refOther.keySet ++ curTop.keySet ++
        curOther.keySet).toSeq.sorted
      groups.flatMap { g =>
        val tops = refTop.getOrElse(g, Seq.empty)
        val cur = curTop.getOrElse(g, new Array[Long](tops.size))
        tops.zipWithIndex.map { case ((cat, nRef), i) =>
          (g, cat, nRef, nRef, cur(i))
        } :+ ((g, "__other__", -1L, refOther.getOrElse(g, 0L),
          curOther.getOrElse(g, 0L)))
      }
    }

    /** Per-group total PSI on the cumulative counts (per-group smoothing
      * over each group's own emitted rows). */
    def psiByGroup: Map[String, Double] = synchronized {
      counts.groupBy(_._1).map { case (g, rows) =>
        g -> psiTerms(rows.map(_._4), rows.map(_._5), alpha).sum
      }
    }

    protected def writeConfig(out: DataOutputStream): Unit = {
      out.writeInt(topK); out.writeDouble(alpha); out.writeInt(maxGroups)
    }

    override protected def writeReference(out: DataOutputStream): Unit = {
      writeMap(out, refTop) { ts =>
        out.writeInt(ts.size)
        ts.foreach { case (c, n) => out.writeUTF(c); out.writeLong(n) }
      }
      writeMap(out, refOther)(out.writeLong)
    }

    protected def writeState(out: DataOutputStream): Unit = {
      writeMap(out, curTop) { arr =>
        out.writeInt(arr.length); arr.foreach(out.writeLong)
      }
      writeMap(out, curOther)(out.writeLong)
    }

    protected def readState(in: DataInputStream): () => Unit = {
      val top = readMap(in)(Array.fill(in.readInt())(in.readLong()))
      val other = readMap(in)(in.readLong())
      () => {
        curTop.clear(); curTop ++= top
        curOther.clear(); curOther ++= other
      }
    }

    protected def clearState(): Unit = { curTop.clear(); curOther.clear() }
  }

  /** Fit the per-group categorical monitor ONCE: (group, category) counts
    * reduce map-side, each group's top-K cut comes off a rank window with
    * the group-limit pushdown (the batch operator's exact cut — count
    * desc, name asc within the group), tails fold per group. NULL groups
    * and categories excluded. */
  def groupCatDriftFit(ref: DataFrame, groupCol: String, catCol: String,
      topK: Int = 50, alpha: Double = 0.5,
      maxGroups: Int = 10000): GroupCatDriftTracker = {
    require(topK > 0, s"topK must be positive, got $topK")
    require(alpha > 0, s"alpha must be positive (smoothing), got $alpha")
    require(maxGroups > 0, s"maxGroups must be positive, got $maxGroups")
    val counts = ref
      .filter(col(groupCol).isNotNull && col(catCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(catCol).cast("string").as("c"))
      .groupBy(col("g"), col("c")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("n").desc, col("c").asc)
    val ranked = counts.withColumn("rk", row_number().over(w))
    val top = ranked.filter(col("rk") <= topK)
      .select(col("g"), col("c"), col("n"), col("rk")).collect()
      .groupBy(_.getString(0)).map { case (g, rows) =>
        g -> rows.sortBy(_.getInt(3)).map(r =>
          (r.getString(1), r.getLong(2))).toSeq
      }
    val tails = ranked.filter(col("rk") > topK)
      .groupBy(col("g")).agg(sum(col("n")).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // group admission matches the batch operator's grps(): group-not-null
    // rows only, so a group whose rows ALL carry NULL categories is still
    // admitted (empty top set, zero fold) — one extra map-side-combined
    // distinct, <= groups rows.
    val allGroups = ref.filter(col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g")).distinct()
      .collect().map(_.getString(0))
    requireAdmits(Set.empty, allGroups.toSeq, maxGroups, "group",
      "the reference snapshot")
    val topAll = allGroups.map(g => g -> top.getOrElse(g, Seq.empty)).toMap
    val refOther = allGroups.map(g => g -> tails.getOrElse(g, 0L)).toMap
    new GroupCatDriftTracker(topK, alpha, maxGroups, topAll, refOther)
  }

  /** foreachBatch sink classifying each micro-batch against the fitted
    * per-group top table (a bounded broadcast-literal frame — groups x K
    * rows) in ONE aggregate, folding <= groups x (K+1) rows into
    * `tracker`. A finite `maxPsi` is a HARD GATE per group ([[
    * groupDriftSink]]'s semantics): any group's cumulative PSI over the
    * threshold throws, naming the failing groups worst-first, and a
    * replayed tripping epoch re-fails idempotently. */
  def groupCatDriftSink(tracker: GroupCatDriftTracker, groupCol: String,
      catCol: String, maxPsi: Double = Double.PositiveInfinity)
      : (DataFrame, Long) => Unit = {
    val topPairs = tracker.topSets.toSeq
      .flatMap { case (g, cs) => cs.map(c => (g, c)) }
    (batch: DataFrame, epochId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      val g = col(groupCol).cast("string")
      val c = col(catCol).cast("string")
      // group-not-null admission (the batch operator's grps()): a NULL
      // category never counts (batch excludes it from every histogram)
      // but its group is still admitted — carried as a zero-count fold
      // row through the same single aggregate.
      val base = batch.filter(g.isNotNull)
        .select(g.as("group"), c.as("__cat"))
      val classified =
        if (topPairs.isEmpty)
          base.select(col("group"), lit(null).cast("string").as("__top"),
            col("__cat"))
        else base.join(
            broadcast(topPairs.toDF("__tg", "__top")),
            col("group") === col("__tg") && col("__cat") === col("__top"),
            "left")
          .select(col("group"), col("__top"), col("__cat"))
      val counts = classified
        .groupBy(col("group"), col("__top"),
          col("__cat").isNull.as("__nullcat"))
        .agg(count(lit(1)).as("__n"))
        .collect()
        .map { r =>
          if (r.getBoolean(2)) (r.getString(0), None: Option[String], 0L)
          else (r.getString(0), Option(r.getString(1)), r.getLong(3))
        }
        .toSeq
      tracker.update(counts, epochId)
      requireGroupsUnder(tracker.psiByGroup, maxPsi,
        s"categorical drift gate tripped at epoch $epochId on '$catCol'")
    }
  }

  /**
   * Cumulative EMBEDDING drift monitor — the streaming twin of
   * [[graft.operators.Similarity.embeddingDrift]], completing the drift
   * family's streaming coverage (numeric / categorical / per-group /
   * vector space): per label, the stream's cumulative count, mean L2
   * norm, and centroid cosine against fit-once reference centroids —
   * catching a re-embedded or re-scaled feed before it poisons ANN
   * indexes and semantic dedup. State is bounded (labels x (dim + 4)
   * doubles — labels are segments, not ids; capped by `maxLabels` with a
   * LOUD error); each micro-batch pays two map-side-combined aggregates
   * (per-label stats + per-(label, pos) centroid partials, <= labels x
   * dim rows collected). All cumulative quantities are SUMS, so any
   * trigger slicing yields the batch result up to floating-point
   * association (~1e-13 — report consumers round). The `dim_mismatch`
   * flag is preserved mid-stream: min/max dims accumulate per side, and
   * the cosine is NULL (never a truncated-position value) whenever any
   * side of a label mixes widths or the sides' widths differ. Labels are
   * tracked as STRINGS (cast once on both sides). Replay-safe and
   * checkpointed through [[EpochFolded]]; the checkpoint's identity is
   * maxLabels and the fitted reference stats and centroid sums.
   */
  final class EmbedDriftTracker private[streaming] (
      val maxLabels: Int,
      private val refStats: Map[String, (Long, Double, Int, Int)],
      private val refCent: Map[String, Array[Double]])
      extends EpochFolded(0x67454454) { // "gEDT"
    // label -> (n, sum of L2 norms, min dim, max dim)
    private val curStats = scala.collection.mutable
      .HashMap.empty[String, (Long, Double, Int, Int)]
    // label -> per-position sum of components (cos is scale-invariant, so
    // the SUM vector stands in for the mean centroid exactly)
    private val curCent = scala.collection.mutable
      .HashMap.empty[String, scala.collection.mutable.HashMap[Int, Double]]

    private[streaming] def update(
        stats: Seq[(String, Long, Double, Int, Int)],
        cents: Seq[(String, Int, Double)], epochId: Long): Boolean =
      fold(epochId) {
        requireAdmits(refStats.keySet ++ curStats.keySet, stats.map(_._1),
          maxLabels, "label", s"epoch $epochId")
        () => {
          stats.foreach { case (l, n, ns, dn, dx) =>
            val (n0, ns0, dn0, dx0) =
              curStats.getOrElse(l, (0L, 0.0, Int.MaxValue, Int.MinValue))
            curStats.put(l, (n0 + n, ns0 + ns, math.min(dn0, dn),
              math.max(dx0, dx)))
          }
          cents.foreach { case (l, pos, s) =>
            val m = curCent.getOrElseUpdate(l,
              scala.collection.mutable.HashMap.empty[Int, Double])
            m.put(pos, m.getOrElse(pos, 0.0) + s)
          }
        }
      }

    /** One row per label (union of reference and stream labels), the
      * batch [[graft.operators.Similarity.embeddingDrift]] columns:
      * (label, n_ref, n_cur, norm_ref, norm_cur, centroid_cos,
      * dim_mismatch) — norms/cos None when that side is absent or (cos)
      * when dims mismatch. */
    def result: Seq[(String, Long, Long, Option[Double], Option[Double],
        Option[Double], Boolean)] = synchronized {
      val labels = (refStats.keySet ++ curStats.keySet).toSeq.sorted
      labels.map { l =>
        val r = refStats.get(l)
        val c = curStats.get(l)
        val oneDim =
          r.forall { case (_, _, dn, dx) => dn == dx } &&
          c.forall { case (_, _, dn, dx) => dn == dx } &&
          (r.isEmpty || c.isEmpty || r.get._4 == c.get._4)
        val cos = for {
          rv <- refCent.get(l) if oneDim
          cm <- curCent.get(l)
          // dot over COMMON positions (all of them when widths agree —
          // the only case that reaches a non-null cosine)
          dot = rv.indices.map(i => rv(i) * cm.getOrElse(i, 0.0)).sum
          nr2 = rv.map(x => x * x).sum
          nc2 = cm.values.map(x => x * x).sum
          if nr2 > 0 && nc2 > 0
        } yield dot / math.sqrt(nr2 * nc2)
        (l,
          r.map(_._1).getOrElse(0L), c.map(_._1).getOrElse(0L),
          r.map { case (n, ns, _, _) => ns / n },
          c.map { case (n, ns, _, _) => ns / n },
          cos, !oneDim)
      }
    }

    protected def writeConfig(out: DataOutputStream): Unit =
      out.writeInt(maxLabels)

    override protected def writeReference(out: DataOutputStream): Unit = {
      writeStats(out, refStats)
      writeCent(out, refCent.map { case (l, a) =>
        l -> a.zipWithIndex.map(_.swap).toSeq
      })
    }

    protected def writeState(out: DataOutputStream): Unit = {
      writeStats(out, curStats)
      writeCent(out, curCent.map { case (l, m) => l -> m.toSeq })
    }

    private def writeStats(out: DataOutputStream,
        m: collection.Map[String, (Long, Double, Int, Int)]): Unit =
      writeMap(out, m) { case (n, ns, dn, dx) =>
        out.writeLong(n); out.writeDouble(ns)
        out.writeInt(dn); out.writeInt(dx)
      }

    /** Per label, its (position, component sum) pairs in position order. */
    private def writeCent(out: DataOutputStream,
        m: collection.Map[String, Seq[(Int, Double)]]): Unit =
      writeMap(out, m) { ps =>
        out.writeInt(ps.size)
        ps.sortBy(_._1).foreach { case (p, s) =>
          out.writeInt(p); out.writeDouble(s)
        }
      }

    protected def readState(in: DataInputStream): () => Unit = {
      val stats = readMap(in)((in.readLong(), in.readDouble(), in.readInt(),
        in.readInt()))
      val cents = readMap(in)(scala.collection.mutable.HashMap.from(
        Seq.fill(in.readInt())((in.readInt(), in.readDouble()))))
      () => {
        curStats.clear(); curStats ++= stats
        curCent.clear(); curCent ++= cents
      }
    }

    protected def clearState(): Unit = { curStats.clear(); curCent.clear() }
  }

  /** Fit the embedding monitor's reference side ONCE: per-label count /
    * norm-sum / dim bounds plus per-(label, pos) centroid sums — the
    * exact aggregate shape of [[graft.operators.Similarity
    * .embeddingDrift]]'s reference half (NULL/empty vectors excluded,
    * vectors cast to double). */
  def embedDriftFit(ref: DataFrame, labelCol: String, vecCol: String,
      maxLabels: Int = 10000): EmbedDriftTracker = {
    require(maxLabels > 0, s"maxLabels must be positive, got $maxLabels")
    val (stats, cents) = embedDriftPartials(ref, labelCol, vecCol)
    requireAdmits(Set.empty, stats.map(_._1), maxLabels, "label",
      "the reference snapshot")
    val refStats = stats.map { case (l, n, ns, dn, dx) =>
      l -> ((n, ns, dn, dx))
    }.toMap
    val refCent = cents.groupBy(_._1).map { case (l, rs) =>
      val dim = rs.map(_._2).max + 1
      val arr = new Array[Double](dim)
      rs.foreach { case (_, pos, s) => arr(pos) = s }
      l -> arr
    }
    new EmbedDriftTracker(maxLabels, refStats, refCent)
  }

  /** One snapshot's two bounded aggregates (shared by fit and sink so the
    * two sides can never reduce differently): per-label
    * (n, sum norm, min dim, max dim) and per-(label, pos) component sums.
    * The cleaned projection is persisted across the two jobs —
    * [[heavyHitterSink]]'s shared-materialization rationale. */
  private def embedDriftPartials(df: DataFrame, labelCol: String,
      vecCol: String): (Seq[(String, Long, Double, Int, Int)],
      Seq[(String, Int, Double)]) = {
    val cleaned = df
      .filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(labelCol).cast("string").as("label"),
        col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = cleaned.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
            .as("ns"),
          min(size(col("v"))).as("dn"), max(size(col("v"))).as("dx"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getInt(3), r.getInt(4)))
        .toSeq
      val cents = cleaned
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos")).agg(sum(col("x")).as("s"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
        .toSeq
      (stats, cents)
    } finally { cleaned.unpersist(); () }
  }

  /** foreachBatch sink folding each micro-batch's embedding partials into
    * `tracker`. A finite `minCos` is a HARD GATE: after the epoch's
    * partials are in (merged, or merge-skipped on replay — idempotent),
    * any label whose cumulative centroid cosine falls BELOW `minCos` — or
    * whose `dim_mismatch` flag is set (a width change is definitionally a
    * different space) — throws, naming every failing label at exactly the
    * crossing epoch. */
  def embedDriftSink(tracker: EmbedDriftTracker, labelCol: String,
      vecCol: String, minCos: Double = Double.NegativeInfinity)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, epochId: Long) => {
      val (stats, cents) = embedDriftPartials(batch, labelCol, vecCol)
      tracker.update(stats, cents, epochId)
      if (minCos > Double.NegativeInfinity) {
        val failing = tracker.result.filter { case (_, nr, nc, _, _, cos,
            mismatch) =>
          // only labels PRESENT on both sides can fail the cosine gate (a
          // one-sided label has no comparison); a dim mismatch with both
          // sides present always fails
          nr > 0 && nc > 0 && (mismatch || cos.exists(_ < minCos))
        }
        if (failing.nonEmpty)
          throw new IllegalStateException(
            s"stream embedding drift gate tripped at epoch $epochId on " +
              s"'$vecCol' (minCos $minCos): " +
              failing.map { case (l, _, _, _, _, cos, mismatch) =>
                if (mismatch) s"label '$l' DIM MISMATCH"
                else f"label '$l' centroid cos ${cos.get}%.4f"
              }.mkString("; "))
      }
    }

  final case class SessionUpdate(key: String, nEvents: Long, startMs: Long, endMs: Long)

  /**
   * Session windows via flatMapGroupsWithState with EVENT-TIME timeouts: a
   * session closes when a later event of the same key arrives more than
   * `gapMs` after it, or when the watermark passes sessionEnd + gapMs (the
   * timeout flushes the open session — without a timeout, the last session
   * of a quiesced key would sit in state forever and never be emitted).
   * Event-time (not processing-time) timeouts keep the operator
   * deterministic and replay-safe, and `processAllAvailable` terminates
   * (processing-time timeouts schedule wall-clock batches that starve it).
   * State per key is O(1).
   */
  def sessionize(
      ds: Dataset[(String, Timestamp)], gapMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[SessionUpdate] = {
    import ds.sparkSession.implicits._
    ds.toDF("key", "ts").withWatermark("ts", watermarkDelay)
      .as[(String, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // watermark passed sessionEnd + gap: close and emit
            val out = state.getOption.map { case (n, start, end) =>
              SessionUpdate(key, n, start, end)
            }
            state.remove()
            out.iterator
          } else {
            var (n, start, end) = state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
            rows.map(_._2.getTime).toSeq.sorted.foreach { t =>
              if (n > 0 && t - end > gapMs) {
                closed += SessionUpdate(key, n, start, end)
                n = 0; start = Long.MaxValue; end = Long.MinValue
              }
              n += 1; start = math.min(start, t); end = math.max(end, t)
            }
            if (n > 0) {
              state.update((n, start, end))
              state.setTimeoutTimestamp(end + gapMs)
            } else state.remove()
            closed.iterator
          }
      }
  }

  /**
   * Bounded-state streaming heavy hitters: the 100 TB replacement for a
   * complete-mode `groupBy(token).count()`, whose state store holds one row
   * per DISTINCT token — a 10⁸+-row state per shuffle partition on a web
   * corpus, materialized in full every trigger. Here the cross-batch state
   * is a KB-sized Count-Min sketch plus at most `k` candidate terms,
   * independent of vocabulary size:
   *
   *  - each micro-batch aggregates its tokens into a CMS
   *    (`count_min_sketch`, mergeable partials, map-side combined) and a
   *    distributed top-`candidatesPerBatch` term list (TakeOrdered — never
   *    a global sort, never the batch vocabulary on the driver);
   *  - the tracker merges the batch CMS into the running sketch (same
   *    eps/confidence/seed, so merged counts ADD exactly) and re-ranks
   *    (previous candidates ∪ batch candidates) by their merged-CMS
   *    estimates, keeping `k`.
   *
   * Guarantees, matching the classic sketch-heavy-hitter recipe: every
   * reported count is within the CMS one-sided bound
   * (exact <= est <= exact + eps * totalTokens w.p. `confidence`); a true
   * heavy hitter is reported as long as it surfaces in some batch's
   * top-`candidatesPerBatch` (admission-controlled batches make that the
   * overwhelmingly common case; a term spread perfectly thin below every
   * batch head can be missed — the standard tradeoff for bounded state).
   *
   * Replay-safe and checkpointed through [[EpochFolded]], like the connector
   * sink's idempotent epoch commit: a replayed epoch is skipped, not
   * double-merged, so a tracker serves ONE query (reset() before reuse).
   * The checkpoint's identity is (k, eps, confidence, seed): a sketch built
   * with any other parameters has a different width, depth or hash seed,
   * and merging it would silently corrupt every count.
   */
  final class HeavyHitterTracker private[streaming] (
      k: Int, eps: Double, confidence: Double, seed: Int)
      extends EpochFolded(0x67484854) { // "gHHT"
    @transient private var cms: CountMinSketch = _
    private var candidates: List[String] = Nil

    private[streaming] def update(
        batchCms: Option[Array[Byte]], batchTerms: Seq[String],
        epochId: Long): Boolean =
      fold(epochId) {
        val batch = batchCms.map(b =>
          CountMinSketch.readFrom(new ByteArrayInputStream(b)))
        () => {
          batch.foreach { b =>
            if (cms == null) cms = b else { cms.mergeInPlace(b); () }
          }
          if (cms != null) {
            candidates = (candidates ++ batchTerms).distinct
              .map(t => t -> cms.estimateCount(t))
              .sortBy { case (t, n) => (-n, t) }
              .take(k).map(_._1)
          }
        }
      }

    /** Current top-k (term, estimated count), best-ranked first. */
    def result: Seq[(String, Long)] = synchronized {
      if (cms == null) Nil
      else candidates.map(t => t -> cms.estimateCount(t))
    }

    /** Point estimate for any term from the merged sketch (CMS one-sided
      * bound applies whether or not the term is a kept candidate). */
    def estimate(term: String): Long = synchronized {
      if (cms == null) 0L else cms.estimateCount(term)
    }

    protected def writeConfig(out: DataOutputStream): Unit = {
      out.writeInt(k); out.writeDouble(eps)
      out.writeDouble(confidence); out.writeInt(seed)
    }

    protected def writeState(out: DataOutputStream): Unit = {
      out.writeInt(candidates.length)
      candidates.foreach(out.writeUTF)
      if (cms == null) out.writeInt(0)
      else {
        val sk = new ByteArrayOutputStream()
        cms.writeTo(sk)
        out.writeInt(sk.size)
        sk.writeTo(out)
      }
    }

    protected def readState(in: DataInputStream): () => Unit = {
      val cands = List.fill(in.readInt())(in.readUTF())
      val sk = new Array[Byte](in.readInt())
      in.readFully(sk)
      val sketch =
        if (sk.isEmpty) null
        else CountMinSketch.readFrom(new ByteArrayInputStream(sk))
      () => { candidates = cands; cms = sketch }
    }

    protected def clearState(): Unit = { cms = null; candidates = Nil }
  }

  /** Build the tracker plus the `foreachBatch` function that feeds it.
    * Usage: `val (t, fn) = StreamOps.heavyHitterSink("body", 20)` then
    * `stream.writeStream.foreachBatch(fn)...`; read `t.result` after. */
  def heavyHitterSink(textCol: String, k: Int, candidatesPerBatch: Int = 0,
      eps: Double = graft.operators.Sketches.DefaultCmsEps,
      confidence: Double = 0.99, seed: Int = 42)
      : (HeavyHitterTracker, (DataFrame, Long) => Unit) = {
    require(k > 0, s"k must be positive, got $k")
    require(candidatesPerBatch >= 0,
      s"candidatesPerBatch must be >= 0 (0 = default 4k), got $candidatesPerBatch")
    val perBatch = if (candidatesPerBatch > 0) candidatesPerBatch else 4 * k
    val tracker = new HeavyHitterTracker(k, eps, confidence, seed)
    val fn: (DataFrame, Long) => Unit = (batch, epochId) => {
      // the CMS aggregate and the top-M candidate job share one
      // materialization of the exploded token stream — without the persist
      // each trigger would scan/split/explode the batch twice
      val words = batch
        .select(explode(split(col(textCol).cast("string"), " ")).as("term"))
        .filter(col("term") =!= "")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cmsBytes = Option(
          words.agg(count_min_sketch(col("term"), lit(eps), lit(confidence),
            lit(seed)).as("cms")).head().getAs[Array[Byte]]("cms"))
        val terms = words.groupBy(col("term")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term").asc).limit(perBatch)
          .select(col("term")).collect().map(_.getString(0)).toSeq
        tracker.update(cmsBytes, terms, epochId)
      } finally { words.unpersist(); () }
    }
    (tracker, fn)
  }

  /**
   * Simplest possible sink: a ForeachWriter that round-robins string rows
   * into a named in-memory log (ref S11: EventHubsForeachWriter.scala:41-99).
   */
  def foreachWriter(logName: String): ForeachWriter[String] =
    new ForeachWriter[String] {
      // resolved once per partition-epoch in open(), not per row
      @transient private var log: InMemoryEventLog = _
      override def open(partitionId: Long, epochId: Long): Boolean = {
        log = EventLogRegistry.get(logName); true
      }
      override def process(value: String): Unit = {
        val e = Event(value.getBytes("UTF-8"), System.currentTimeMillis() * 1000L)
        log.append(log.route(e, None, None), e)
      }
      override def close(errorOrNull: Throwable): Unit = ()
    }

  /** Row-typed variant honoring the sink schema columns (body / partition). */
  def foreachRowWriter(logName: String): ForeachWriter[Row] =
    new ForeachWriter[Row] {
      @transient private var log: InMemoryEventLog = _
      override def open(partitionId: Long, epochId: Long): Boolean = {
        log = EventLogRegistry.get(logName); true
      }
      override def process(r: Row): Unit = {
        val body = r.schema.fieldNames.indexOf("body") match {
          case -1 => throw new IllegalArgumentException("row needs a 'body' column")
          case i => r.get(i) match {
            case s: String => s.getBytes("UTF-8")
            case b: Array[Byte] => b
            case other => throw new IllegalArgumentException(s"bad body type $other")
          }
        }
        val pid = r.schema.fieldNames.indexOf("partition") match {
          case -1 => None
          case i => Option(r.getString(i)).map { s =>
            val p = try s.toInt catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(s"invalid partition id '$s'")
            }
            if (p < 0 || p >= log.numPartitions)
              throw new IllegalArgumentException(
                s"partition id $p out of range [0, ${log.numPartitions})")
            p
          }
        }
        val e = Event(body, System.currentTimeMillis() * 1000L)
        log.append(log.route(e, pid, None), e)
      }
      override def close(errorOrNull: Throwable): Unit = ()
    }
}
