package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational operators Spark lacks natively, built by composition (the
 * guide's preference order: compose built-ins before custom plans).
 */
object Relational {

  /**
   * As-of join: for every left row, attach the single right row with the
   * greatest `timeCol` <= the left row's time, per key — the
   * point-in-time-correct join for event streams (price as of trade,
   * last view as of click).
   *
   * Implementation is the union-and-carry-forward trick, NOT a per-key
   * cross/inequality join: tag both sides, union, and carry the latest
   * right value forward — the same cost envelope as a window function,
   * regardless of how many right rows precede each left row.
   *
   * Skew shape: a bare per-key carry window would land a hot key's ENTIRE
   * history (every SPY quote) in one reducer, like the per-group running
   * sum [[Sampling]] replaced. The carry therefore runs the same bucketed
   * two-phase form: the time axis is cut into order-consistent buckets
   * (sampled boundaries — balance depends on the sample, values never do);
   * each (key, bucket) aggregates its LAST right value per carried column
   * (a map-side-combinable struct max over right rows only); each bucket's
   * CARRY-IN — the newest right value from any earlier bucket — resolves
   * with an array aggregate over the per-key bucket summaries (no window);
   * and the carry window runs only WITHIN (key, bucket), so a hot key
   * spreads across the buckets instead of one task. Like
   * [[Sampling.packSequences]], the boundary sample is a bounded pre-pass
   * at plan-construction time — persist expensive upstreams first.
   *
   * `rightCols` are the right-side columns to carry (renamed as given).
   * Right rows are first reduced to one per (key, time) via `max` so the
   * match is deterministic under ties. Each carried column takes its most
   * recent NON-NULL value independently (`last(ignoreNulls)` semantics).
   * Right rows with a NULL `timeCol` are dropped up front: a row whose
   * time is unknown is never "at or before" any probe (SQL comparison
   * semantics — the same rows a correlated `WHERE t <= probe` subquery
   * excludes), and [[asofFit]] applies the identical filter so the two
   * engines cannot diverge on null-time dimensions. A null LEFT time
   * likewise matches nothing and yields null carried values.
   */
  /** The boundary-sample half of [[asofJoin]]'s bucket pre-pass, exposed
    * for fit-once callers (e.g. the streaming enrichment scores many
    * micro-batches against ONE static right side — sample its time axis
    * once, not per trigger). Boundaries shape only bucket balance, never
    * values, so any time-column sample is a valid argument. */
  def asofBoundaries(df: DataFrame, timeCol: String): Seq[Any] =
    Sampling.sampledBoundaries(df.select(col(timeCol).as("__t")), col("__t"))

  def asofJoin(
      left: DataFrame, right: DataFrame,
      keyCol: String, timeCol: String,
      rightCols: Map[String, String],
      boundaries: Option[Seq[Any]] = None): DataFrame = {
    require(rightCols.nonEmpty, "asofJoin needs at least one right column to carry")
    val ds = rightCols.values.toSeq
    val aggs = rightCols.map { case (src, dst) => max(col(src)).as(s"__r_$dst") }.toSeq
    val right0 = right.filter(col(timeCol).isNotNull)
    val rightDedup = right0.groupBy(col(keyCol), col(timeCol))
      .agg(aggs.head, aggs.tail: _*)
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("__tag", lit(1))
      .select((leftCols.map(col) :+ col("__tag")) ++
        ds.map(d => lit(null).cast(rightDedup.schema(s"__r_$d").dataType)
          .as(s"__r_$d")): _*)
    val rTagged = rightDedup
      .withColumn("__tag", lit(0))
      .select((leftCols.map(c =>
        if (c == keyCol || c == timeCol) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) :+ col("__tag")) ++
        ds.map(d => col(s"__r_$d")): _*)
    val unioned = lTagged.union(rTagged)
    // boundary sample from the RAW time columns of both inputs — same
    // distribution the union carries, without paying the right side's
    // dedup shuffle in the sampling pre-pass (or the caller's precomputed
    // boundaries: a fit-once streaming caller skips the pre-pass entirely)
    val bounds = boundaries.getOrElse(Sampling.sampledBoundaries(
      left.select(col(timeCol).as("__t"))
        .unionAll(right.select(col(timeCol).as("__t"))), col("__t")))
    val d0 = unioned
      .withColumn("__bkt", Sampling.bucketOf(col(timeCol), bounds))
      .withColumn("__key", col(keyCol))
    // phase 1: per (key, bucket), the latest right value of each carried
    // column — struct max over right rows with a non-null value, so the
    // (time, value) pair always comes from one row and nulls are skipped
    // exactly as last(ignoreNulls) would
    val lastAggs = ds.map { d =>
      max(when(col("__tag") === 0 && col(s"__r_$d").isNotNull,
        struct(col(timeCol).as("t"), col(s"__r_$d").as("v")))).as(s"__last_$d")
    }
    val sub = d0.groupBy(col("__key"), col("__bkt")).agg(lastAggs.head, lastAggs.tail: _*)
    // phase 2: carry-in per bucket — the newest right value among EARLIER
    // buckets, via an array aggregate over the per-key bucket summaries
    // (bounded rows per key; no Window partitioned by the bare key anywhere)
    val offsets = sub.groupBy(col("__key"))
      .agg(collect_list(struct(
        (col("__bkt") +: ds.map(d => col(s"__last_$d"))): _*)).as("__arr"))
      .select(col("__key").as("__okey"), col("__arr"),
        explode(col("__arr")).as("__e"))
      .select((col("__okey") +: col("__e.__bkt").as("__obkt") +:
        ds.map { d =>
          array_max(filter(col("__arr"), x =>
            x.getField("__bkt") < col("__e.__bkt") &&
              x.getField(s"__last_$d").isNotNull))
            .getField(s"__last_$d").getField("v").as(s"__in_$d")
        }): _*)
    val joined = d0.join(offsets,
      d0("__key") <=> offsets("__okey") && d0("__bkt") === offsets("__obkt"))
    // right rows (__tag=0) sort before left rows at equal time => "<=" semantics
    val w = Window.partitionBy(col("__key"), col("__bkt"))
      .orderBy(col(timeCol).asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = ds.foldLeft(joined) { (df, d) =>
      df.withColumn(s"__c_$d",
        coalesce(last(col(s"__r_$d"), ignoreNulls = true).over(w), col(s"__in_$d")))
    }
    carried.filter(col("__tag") === 1)
      .select(leftCols.map(col) ++ ds.map(d => col(s"__c_$d").as(d)): _*)
  }

  /** A fitted as-of RIGHT side ([[asofFit]]): probe-ready state for
    * [[asofJoinWith]], SPARSE in the data — state never inflates past the
    * dimension's own row count, whatever the key cardinality:
    *
    *  - `byBucket` has one row per (key, time-bucket) the key's data
    *    actually TOUCHES, carrying that bucket's time-sorted (t, value)
    *    array per carried column (null values removed). Total rows <= the
    *    deduped dimension's rows; array sizes are bucket-bounded, so a
    *    hot key's history spreads across buckets, never into one row.
    *  - `byKey` has ONE row per key: the sorted `__summary` array of
    *    (bucket, last non-null value per column) over the key's <=
    *    [[Sampling.CumSumBuckets]] data buckets — the probe resolves any
    *    bucket's carry-in from it with one bounded array scan, so gap
    *    buckets and probes past the key's last data need no densified
    *    rows (a 10^9-key dimension with 3 updates each stays ~keys +
    *    data-bucket rows, not keys x 256).
    */
  final case class AsofFitted(
      byBucket: DataFrame, byKey: DataFrame,
      bucket: Column => Column, maxBucket: Int,
      rightCols: Map[String, String]) {
    /** Unpersist the shared probe frames ([[graft.operators.Fuzzy
      * .FuzzyFitted.release]]'s contract): a long-lived driver that refits
      * per dimension refresh must release the superseded fit or the cache
      * grows a generation per refresh. Blocking-free; in-flight probes
      * recompute from lineage. */
    def release(): Unit = { byBucket.unpersist(); byKey.unpersist(); () }

    /** Force the shared probe frames to materialize NOW ([[graft.operators
      * .Fuzzy.FuzzyFitted.materialize]]'s contract): fit cost belongs to
      * fit time, not the first probe batch's latency. */
    def materialize(): AsofFitted = { byBucket.count(); byKey.count(); this }
  }

  /**
   * Fit the right side of an as-of join ONCE — the fit-once / probe-many
   * flow ([[graft.operators.CorpusOps.bm25Fit]]'s pattern): a STREAM (or
   * many batches) enriched against a slowly-changing dimension should not
   * re-aggregate the dimension per micro-batch the way composing
   * [[asofJoin]] per batch does. The fitted state reduces every probe
   * batch to ONE planner-chosen join plus an array lookup:
   *
   *  - probe rows bucket with the SAME stored boundaries (order-consistent
   *    cuts — [[asofJoin]]'s bucketing, so values are identical);
   *  - the (key, bucket) join attaches the bucket's sorted (t, v) array
   *    and its precomputed carry-in; the latest element with
   *    `t <= probe time` answers in-bucket, the carry-in answers both
   *    "bucket's data is all after my time" and "bucket has no data at
   *    all" (the dense rows exist from each key's first data bucket up);
   *  - a probe below the key's first data bucket — or for an unknown key —
   *    misses the join and correctly yields null.
   *
   * VALUE-identical to [[asofJoin]] on the same inputs (same dedup, same
   * `<=`-with-max-tie semantics, per-column last-non-null independence).
   */
  /** Order-consistent bucket expression for the PROBE path: timestamps
    * and numerics get an equi-width bucket over the right side's observed
    * [min, max] — ONE small arithmetic expression, so probe plans stay
    * codegen-friendly and cheap to re-plan per trigger (the quantile
    * boundary chain used by [[asofJoin]] is a 255-term CASE tree that
    * breaks codegen and taxes every micro-batch's planning). Balance
    * under time clustering is weaker than quantile cuts, but bucketing
    * shapes only task balance, never values. Non-numeric orderable time
    * types fall back to the sampled-boundary chain. */
  private def probeBucket(right: DataFrame, timeCol: String)
      : (Column => Column, Int) = {
    val nB = Sampling.CumSumBuckets
    def numeric(c: Column): Option[Column] =
      right.schema(right.schema.fieldIndex(timeCol)).dataType match {
        case org.apache.spark.sql.types.TimestampType => Some(c.cast("double"))
        case org.apache.spark.sql.types.DateType =>
          Some(c.cast("timestamp").cast("double"))
        case _: org.apache.spark.sql.types.NumericType => Some(c.cast("double"))
        case _ => None
      }
    numeric(col(timeCol)) match {
      case Some(_) =>
        // width over the ROBUST [p1, p99] core, not [min, max]: one
        // outlier timestamp a year away from the data would otherwise
        // stretch the width until the whole dimension collapses into one
        // bucket (the hot-row pattern the fit exists to prevent). The 2%
        // tails clamp into the edge buckets — bounded extra load there,
        // and bucketing shapes only balance, never values.
        val r = right.agg(percentile_approx(numeric(col(timeCol)).get,
          array(lit(0.01), lit(0.99)), lit(10000)).as("p")).head()
        val p = if (r.isNullAt(0)) Seq.empty[Double]
          else r.getSeq[Double](0)
        if (p.isEmpty || p(0) == p(1)) ((_: Column) => lit(0), 0)
        else {
          val (lo, hi) = (p(0), p(1))
          val width = (hi - lo) / nB
          ((c: Column) => least(greatest(
            floor((numeric(c).get - lit(lo)) / lit(width)), lit(0)),
            lit(nB - 1)).cast("int"), nB - 1)
        }
      case None =>
        val bounds = Sampling.sampledBoundaries(
          right.select(col(timeCol).as("__t")), col("__t"))
        ((c: Column) => Sampling.bucketOf(c, bounds), bounds.size)
    }
  }

  def asofFit(right: DataFrame, keyCol: String, timeCol: String,
      rightCols: Map[String, String]): AsofFitted = {
    require(rightCols.nonEmpty, "asofFit needs at least one right column to carry")
    val ds = rightCols.values.toSeq
    val aggs = rightCols.map { case (src, dst) => max(col(src)).as(s"__r_$dst") }.toSeq
    val right0 = right.filter(col(timeCol).isNotNull) // [[asofJoin]]'s filter
    val (bucket, maxBkt) = probeBucket(right0, timeCol)
    val dedup = right0.groupBy(col(keyCol), col(timeCol))
      .agg(aggs.head, aggs.tail: _*)
      .select((col(keyCol).as("__key") +: col(timeCol).as("__t") +:
        bucket(col(timeCol)).as("__bkt") +:
        ds.map(d => col(s"__r_$d"))): _*)
    // per (key, bucket): each carried column's time-sorted (t, v) pairs
    // with null values dropped (collect_list skips null ENTRIES, and the
    // `when` nulls the whole struct for a null value) — so the in-bucket
    // lookup and the bucket's own "last" are last-NON-NULL by construction.
    // SPARSE: only buckets the key's data touches get a row — no densify
    // (a sparse high-cardinality dimension must not inflate to keys x 256)
    val arrAggs = ds.map { d =>
      sort_array(collect_list(when(col(s"__r_$d").isNotNull,
        struct(col("__t").as("t"), col(s"__r_$d").as("v"))))).as(s"__arr_$d")
    }
    val perBucket = Exec.lazyShare(dedup.groupBy(col("__key"), col("__bkt"))
      .agg(arrAggs.head, arrAggs.tail: _*))
    // per key: the <=CumSumBuckets bucket summaries (bucket, last value per
    // column), sorted by bucket — the probe computes any bucket's carry-in
    // (newest non-null value of a STRICTLY earlier bucket) from this one
    // bounded array, covering gap buckets and probes past the last data
    val byKey = perBucket.groupBy(col("__key"))
      .agg(sort_array(collect_list(struct(
        col("__bkt") +: ds.map(d =>
          try_element_at(col(s"__arr_$d"), lit(-1)).getField("v").as(s"last_$d")): _*)))
        .as("__summary"))
      .select(col("__key").as("__skey"), col("__summary"))
    AsofFitted(perBucket, Exec.lazyShare(byKey), bucket, maxBkt, rightCols)
  }

  /** Probe a fitted as-of right side ([[asofFit]]): attach each left row's
    * latest at-or-before value per carried column. TWO planner-chosen left
    * equi-joins (per-key summary + per-(key, bucket) arrays — each side no
    * larger than the dimension itself, both broadcastable) + bounded array
    * lookups — no unions, windows, or right-side aggregation in the probe
    * plan, so a micro-batch pays only its own size. Output schema matches
    * [[asofJoin]]. */
  def asofJoinWith(left: DataFrame, fitted: AsofFitted,
      keyCol: String, timeCol: String): DataFrame = {
    val ds = fitted.rightCols.values.toSeq
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__lkey", col(keyCol))
      .withColumn("__lbkt", fitted.bucket(col(timeCol)))
    val j = l
      .join(fitted.byKey, l("__lkey") <=> fitted.byKey("__skey"), "left")
      .join(fitted.byBucket,
        l("__lkey") <=> fitted.byBucket("__key") &&
          l("__lbkt") === fitted.byBucket("__bkt"), "left")
    val out = ds.foldLeft(j) { (df, d) =>
      // latest in-bucket element at-or-before my time; else the bucket's
      // carry-in, resolved from the key's summary (newest non-null value
      // of a strictly earlier DATA bucket) — also the answer when my
      // bucket has no data row at all (gap bucket or past the key's last
      // data: the (key, bucket) join missed, __arr is null, and the
      // filter passes null through). An unknown key — or a probe before
      // the key's first data, or a null probe time (null bucket) — leaves
      // both legs null: exactly asofJoin's no-match answer.
      df.withColumn(s"__c_$d",
        coalesce(
          try_element_at(filter(col(s"__arr_$d"),
            x => x.getField("t") <= col(timeCol)), lit(-1)).getField("v"),
          try_element_at(filter(col("__summary"), e =>
            e.getField("__bkt") < l("__lbkt") &&
              e.getField(s"last_$d").isNotNull), lit(-1))
            .getField(s"last_$d")))
    }
    out.select(leftCols.map(col) ++
      ds.map(d => col(s"__c_$d").as(d)): _*)
  }

  /**
   * Per-key session COUNTS from a gap rule: a session starts at a row with
   * no predecessor, or one more than `gapMicros` after its predecessor —
   * the batch summary twin of [[graft.streaming.StreamOps.sessionize]]
   * (n_sessions + n_events per key, not per-session rows).
   *
   * Skew shape: the naive form is `lag(ts) over (partition by key order by
   * ts)` — a hot key's whole history in one reducer. Here the time axis is
   * cut into order-consistent sampled buckets ([[asofJoin]]'s technique):
   * within (key, bucket), a lag window counts INTERNAL session starts and
   * aggregates (n, first_ts, last_ts); per key, the ≤[[Sampling.CumSumBuckets]]
   * bucket summaries merge with a sorted-array aggregate that walks
   * adjacent buckets and counts BOUNDARY starts (first event overall, and
   * cross-bucket gaps over `gapMicros`). No window is partitioned by the
   * bare key; values are identical to the naive form for any bucketing.
   *
   * `timeCol` must be a timestamp column. Returns (key, n_sessions,
   * n_events) with `key` named after `keyCol`. Like [[asofJoin]], the
   * boundary sample is a bounded pre-pass AT CALL TIME (a scan of the
   * time column) — persist an expensive unpersisted upstream first.
   */
  def sessionCounts(df: DataFrame, keyCol: String, timeCol: String,
      gapMicros: Long): DataFrame = {
    require(gapMicros > 0, s"gapMicros must be positive, got $gapMicros")
    val bounds = Sampling.sampledBoundaries(
      df.select(col(timeCol).as("__t")), col("__t"))
    val d = df.select(col(keyCol).as("__key"),
      unix_micros(col(timeCol)).as("__us"),
      Sampling.bucketOf(col(timeCol), bounds).as("__bkt"))
    val w = Window.partitionBy(col("__key"), col("__bkt")).orderBy(col("__us").asc)
    val sub = d.withColumn("__prev", lag(col("__us"), 1).over(w))
      .groupBy(col("__key"), col("__bkt"))
      .agg(count(lit(1)).as("__n"),
        min(col("__us")).as("__first"), max(col("__us")).as("__last"),
        sum(when(col("__prev").isNotNull && col("__us") - col("__prev") > gapMicros,
          1L).otherwise(0L)).as("__inner"))
    sub.groupBy(col("__key"))
      .agg(sum(col("__n")).as("n_events"),
        sum(col("__inner")).as("__inner_total"),
        sort_array(collect_list(
          struct(col("__bkt"), col("__first"), col("__last")))).as("__arr"))
      .withColumn("__boundary", aggregate(
        col("__arr"),
        struct(lit(0L).as("cnt"), lit(null).cast("long").as("prevLast")),
        (acc, x) => struct(
          (acc.getField("cnt") +
            when(acc.getField("prevLast").isNull ||
              x.getField("__first") - acc.getField("prevLast") > gapMicros,
              1L).otherwise(0L)).as("cnt"),
          x.getField("__last").as("prevLast")),
        acc => acc.getField("cnt")))
      .select(col("__key").as(keyCol),
        (col("__inner_total") + col("__boundary")).as("n_sessions"),
        col("n_events"))
  }

  /**
   * Banded range join: pairs (l, r) with |l.time - r.time| <= tolerance,
   * without a quadratic inequality join. Each side is bucketed by
   * floor(time / tolerance); matching pairs can only live in the same or
   * adjacent buckets, so the join is an equi-join on (bucket + offset) —
   * a pure shuffle-key join with a cheap exact refine, 3x the rows instead
   * of n^2 comparisons (the standard interval-binning technique).
   *
   * `timeCol` values are in microseconds (longs); output keeps all left and
   * right columns prefixed `l_` / `r_`.
   */
  def rangeJoinMicros(
      left: DataFrame, right: DataFrame,
      leftTimeUs: String, rightTimeUs: String,
      toleranceUs: Long): DataFrame = {
    require(toleranceUs > 0)
    val l = left.columns.foldLeft(left)((df, c) => df.withColumnRenamed(c, s"l_$c"))
    val r = right.columns.foldLeft(right)((df, c) => df.withColumnRenamed(c, s"r_$c"))
    val lb = l.withColumn("__bucket", floor(col(s"l_$leftTimeUs") / toleranceUs))
    // explode each right row into its bucket and the two adjacent buckets
    val rb = r.withColumn("__bucket",
        explode(array(Seq(-1, 0, 1).map(d =>
          floor(col(s"r_$rightTimeUs") / toleranceUs) + d): _*)))
    lb.join(rb, "__bucket")
      .filter(abs(col(s"l_$leftTimeUs") - col(s"r_$rightTimeUs")) <= toleranceUs)
      .drop("__bucket")
  }

  /**
   * Skew-resistant equi-join: the (large, possibly skewed) left side salts
   * its shuffle key with a deterministic hash of `saltBy`, and the right
   * side replicates each row across all `salts` sub-keys — so one hot join
   * key spreads over `salts` reducers instead of melting one. Results are
   * exactly those of `left.join(right, leftKey === rightKey)`.
   * (AQE's skew-join split handles sort-merge cases adaptively; this is the
   * explicit operator form that also works under bucketed/pre-shuffled
   * layouts where AQE cannot re-plan.)
   */
  def saltedJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, saltBy: Column, salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    val l = left.withColumn("__salt", pmod(hash(saltBy), lit(salts)))
    val r = right.withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    l.join(r, l(leftKey) === r(rightKey) && l("__salt") === r("__salt"))
      .drop("__salt")
  }
}
