package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.hashFunctions._

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 * - `bruteForceTopK`: exact cosine top-k for one query vector — a single
 *   narrow map + top-k sort; the baseline and the verifier for the
 *   approximate paths. Scales linearly (one pass over the corpus, no
 *   shuffle beyond the global top-k, which Spark executes as per-partition
 *   top-k + driver merge via `orderBy.limit`).
 * - `lshTopK`: hyperplane-LSH bucketed search — only the query's bucket
 *   (plus optional multi-probe neighbors) is scanned, the 100 TB path.
 * - `ivfTopK`: inverted-file variant — centroids picked as a deterministic
 *   sample, each vector assigned to its nearest centroid at index-build
 *   time; queries scan `nProbe` nearest cells only.
 */
object Similarity {

  /** Executor-side guard: fail the job with a pointed error when a stored
    * vector's dimension differs from the query's — `cosine_similarity`
    * yields null on mismatch, which would otherwise SILENTLY rank the
    * mismatched rows last and return a plausible-looking (wrong) top-k.
    * `assert_true` throws on the first bad row and evaluates to null
    * otherwise, so the filter keeps every valid row and costs one codegen'd
    * comparison. A NULL vector is NOT a mismatch: it scores a null cosine
    * and ranks last, exactly as before the guard — aborting a corpus scan
    * over one null row would be the louder wrong behavior. */
  private def requireDim(df: DataFrame, vecCol: Column, dim: Int): DataFrame =
    df.filter(assert_true(size(vecCol).isNull || size(vecCol) === dim,
      concat(lit("embedding dimension "),
        coalesce(size(vecCol).cast("string"), lit("?")),
        lit(s" != query dimension $dim — wrong index/corpus for this query?"))).isNull)

  /**
   * Broadcast-contract guard for the k-NN join family: those operators ship
   * the whole query side to every executor (and the persisted-index forms
   * additionally collect its distinct probe buckets on the driver), which is
   * THE design for dimension-table-sized query sets — and a driver OOM for
   * corpus-sized ones. Checked from Catalyst plan-size statistics (pure
   * metadata, no job — the [[CorpusOps.bloomWorthwhile]] pattern) against a
   * deliberately generous 8× autoBroadcastJoinThreshold so only genuinely
   * corpus-shaped inputs trip it; the error names the shuffle-join
   * alternative instead of letting the collect run out of memory. Stats are
   * ESTIMATES: a tiny query set filtered out of a huge corpus can carry its
   * parent's size — persist()/localCheckpoint() it so the planner sees the
   * real size, or use the named alternative.
   */
  /** Session override for the guard cap (bytes; "0" disables the guard —
    * for callers whose narrow query filter over a huge table defeats
    * size-only stats estimation and who accept the broadcast). */
  val BroadcastGuardConfKey = "graft.knn.broadcastGuardBytes"

  private def requireBroadcastSizedQueries(queries: DataFrame, op: String): Unit = {
    val sqlConf = queries.sparkSession.sessionState.conf
    val cap = queries.sparkSession.conf.getOption(BroadcastGuardConfKey)
      .map(v => BigInt(v.toLong))
      .getOrElse(BigInt(math.max(sqlConf.autoBroadcastJoinThreshold, 10L << 20)) * 8)
    if (cap <= 0) return
    val est = queries.queryExecution.optimizedPlan.stats.sizeInBytes
    require(est <= cap,
      s"$op broadcasts the query side by contract, but its plan-size estimate " +
        s"($est bytes) exceeds the broadcast guard ($cap bytes — default 8x " +
        "autoBroadcastJoinThreshold): a corpus-sized query set would OOM the " +
        "driver. Use knnJoinLshShuffled (same per-query top-k semantics " +
        "through a shuffle equi-join, at any query-set size); if the query " +
        "set only LOOKS big because size-only stats carry a filtered " +
        "parent's estimate, persist()/localCheckpoint() it first or raise/" +
        s"disable the guard via spark.conf.set(\"$BroadcastGuardConfKey\", ...).")
  }

  /** Exact cosine top-k neighbors of `queryVec` (excluding `excludeId`). */
  def bruteForceTopK(
      embs: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Double], k: Int = 10, excludeId: Option[Long] = None): DataFrame =
    topK(embs, idCol, vecCol, queryVec, k, excludeId)

  /** The tail every single-query search shares over its candidates: ids as
    * `vec_id`, scored by the stable-rounded cosine with `queryVec` (a
    * dimension mismatch fails, [[requireDim]]), top `k` by (cosine desc,
    * vec_id asc), `excludeId` left out. */
  private def topK(candidates: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Double], k: Int, excludeId: Option[Long]): DataFrame = {
    val qLit = array(queryVec.toIndexedSeq.map(lit): _*)
    val scored = requireDim(candidates, col(vecCol), queryVec.length)
      .select(col(idCol).as("vec_id"),
        graft.functions.TextFunctions.stableRound(
          cosine_similarity(col(vecCol), qLit), 6).as("cosine"))
    excludeId.fold(scored)(id => scored.filter(col("vec_id") =!= id))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /**
   * Exact k-NN JOIN: every query vector's top-k corpus neighbors in one
   * plan — the batch shape of similarity search (a stream of queries, not
   * one). The QUERY side is broadcast (it is the small side by contract:
   * this is exact search, |q|·|corpus| similarity computations are
   * inherent), so the corpus never shuffles for scoring; the per-query
   * top-k window then ships at most k rows per (query, input partition) —
   * Spark's WindowGroupLimit prunes rank > k BEFORE the exchange. Ranks
   * order by the stable-rounded cosine (cross-engine identical) with a
   * vec_id tiebreak, so the result is engine-deterministic.
   *
   * Returns (query_id, vec_id, cosine, rk), rk = 1..k per query.
   */
  def knnJoin(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int = 10, excludeSelf: Boolean = true): DataFrame = {
    requireBroadcastSizedQueries(queries, "knnJoin")
    val q = broadcast(queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).cast("array<double>").as("qv")))
    rankPairs(corpus.select(col(cIdCol).as("vec_id"), col(cVecCol).as("v")).crossJoin(q),
      k, excludeSelf, "query/corpus")
  }

  /** The tail every k-NN join shares over its (query, vector) candidate
    * pairs `(query_id, qv, vec_id, v)`: fail on a pair whose dimensions
    * differ (`sides` names them in the message), score by the
    * stable-rounded cosine, keep each query's top `k` by (cosine desc,
    * vec_id asc). */
  private def rankPairs(pairs: DataFrame, k: Int, excludeSelf: Boolean,
      sides: String): DataFrame = {
    val scored = pairs
      .filter(assert_true(
        size(col("v")).isNull || size(col("qv")).isNull ||
          size(col("v")) === size(col("qv")),
        lit(s"$sides embedding dimensions differ")).isNull)
      .select(col("query_id"), col("vec_id"),
        graft.functions.TextFunctions.stableRound(
          cosine_similarity(col("v"), col("qv")), 6).as("cosine"))
    val base = if (excludeSelf) scored.filter(col("query_id") =!= col("vec_id")) else scored
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    base.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /**
   * LSH-bucketed k-NN join: each query probes its own hyperplane bucket
   * plus EVERY Hamming-distance-1 flip (numBits+1 probe rows per query —
   * margin-ranked probe selection needs a per-query driver pass, which a
   * join must not do), equi-joined against the bucketed corpus. The probe
   * side stays broadcast-sized, so the join is a broadcast hash join on
   * `bucket`: the corpus is scored only where buckets collide and never
   * shuffles. Candidates then rank exactly like [[knnJoin]]; per-query
   * results may have fewer than k rows when the probed buckets are thin
   * (the approximate contract). For a query set too large to broadcast use
   * [[knnJoinLshShuffled]] — same semantics through a shuffle equi-join.
   */
  def knnJoinLsh(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int = 10, numBits: Int = 8, seed: Long = 42L,
      excludeSelf: Boolean = true): DataFrame =
    knnJoinLshImpl(queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol,
      k, numBits, seed, excludeSelf, broadcastProbes = true)

  /**
   * Corpus-scale variant of [[knnJoinLsh]] for query sets too large to
   * broadcast (e.g. "nearest benchmark doc for EVERY training doc", where
   * the query side IS a corpus): identical semantics — every query's top-k
   * among its Hamming-≤1 probe buckets — but the probe rows join as a plain
   * shuffle equi-join on `bucket`. Both sides exchange on the bucket key
   * (numBits+1 narrow probe rows per query, one row per corpus vector), so
   * the plan is a standard partitioned hash/sort-merge join at any |queries|;
   * AQE's skew-join handling splits hot buckets at runtime. Use the
   * broadcast form when the query set is dimension-table-sized — it keeps
   * the corpus un-shuffled, which this form cannot.
   */
  def knnJoinLshShuffled(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int = 10, numBits: Int = 8, seed: Long = 42L,
      excludeSelf: Boolean = true): DataFrame =
    knnJoinLshImpl(queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol,
      k, numBits, seed, excludeSelf, broadcastProbes = false)

  /**
   * Batch k-NN join THROUGH a persisted LSH index (from [[loadLshIndex]]):
   * the query set's Hamming-≤1 probe rows join against the saved bucket
   * table instead of re-bucketing the corpus live. The query side is
   * broadcast-sized by the same contract as [[knnJoinLsh]], so its distinct
   * probe-bucket set is collected once on the driver and pushed as a STATIC
   * partition filter — only the probed buckets' files are listed and read
   * (the "index once, probe many" shape, now for query batches; relying on
   * dynamic partition pruning instead would prune only at runtime and only
   * when the planner picks a broadcast join). Results are identical to
   * [[knnJoinLsh]] over the indexed corpus with the same params.
   */
  def knnJoinLshWith(
      index: DataFrame, numBits: Int, seed: Long,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int = 10, excludeSelf: Boolean = true): DataFrame =
    knnJoinLshOn(index, queries, qIdCol, qVecCol, k, numBits, seed,
      excludeSelf, broadcastProbes = true, pruneBuckets = true)

  private def knnJoinLshImpl(
      queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String,
      k: Int, numBits: Int, seed: Long,
      excludeSelf: Boolean, broadcastProbes: Boolean): DataFrame =
    knnJoinLshOn(
      corpus.select(col(cIdCol).as("vec_id"), col(cVecCol).as("v"))
        .withColumn("bucket", hyperplane_lsh_bucket(col("v"), numBits, seed)),
      queries, qIdCol, qVecCol, k, numBits, seed, excludeSelf,
      broadcastProbes, pruneBuckets = false)

  /** Shared body of every LSH k-NN join form over an already-bucketed
    * corpus `(vec_id, v, bucket)` — live paths bucket inline, the persisted
    * path passes the loaded index. `pruneBuckets` additionally collects the
    * (broadcast-sized) probe set's distinct buckets and pushes them as a
    * static isin filter, which on a bucket-partitioned table prunes at the
    * file-listing level. */
  private def knnJoinLshOn(
      bucketed: DataFrame,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, numBits: Int, seed: Long,
      excludeSelf: Boolean, broadcastProbes: Boolean,
      pruneBuckets: Boolean): DataFrame = {
    if (broadcastProbes) requireBroadcastSizedQueries(queries,
      if (pruneBuckets) "knnJoinLshWith" else "knnJoinLsh")
    val bucketDt = bucketed.schema("bucket").dataType
    val qBase = queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).cast("array<double>").as("qv"))
      .withColumn("__b0", hyperplane_lsh_bucket(col("qv"), numBits, seed))
    val flips = array((0 until numBits).map(i => lit(1L << i)) :+ lit(0L): _*)
    // distinct flips give distinct probe buckets and a corpus vector lives
    // in exactly one bucket, so no (query, vec) pair can join twice — no
    // dedup (and no dedup shuffle) needed. A null/empty query vector has a
    // null bucket: it matches nothing (the knnJoinLsh contract — such a
    // query is dropped, not an abort) and must not reach the driver-side
    // bucket collect below.
    val probes0 = qBase
      .select(col("query_id"), col("qv"), col("__b0"), explode(flips).as("__flip"))
      .select(col("query_id"), col("qv"),
        col("__b0").bitwiseXOR(col("__flip")).cast(bucketDt).as("bucket"))
      .filter(col("bucket").isNotNull)
    val pruned =
      if (!pruneBuckets) (bucketed, probes0)
      else {
        // checkpoint so the driver collect and the join share one probe build
        val probes = probes0.localCheckpoint(eager = false)
        val vals: Seq[Any] = probes.select(col("bucket")).distinct()
          .collect().map(_.get(0)).toSeq
        (bucketed.filter(col("bucket").isin(vals: _*)), probes)
      }
    val (corpusSide, probes) = pruned
    rankPairs(corpusSide.join(if (broadcastProbes) broadcast(probes) else probes, "bucket"),
      k, excludeSelf, "query/corpus")
  }

  /** The hyperplane-bucketed vector table `(vec_id, v, bucket)` — the live
    * form of the LSH index, and what [[saveLshIndex]] persists. */
  def lshIndex(
      embs: DataFrame, idCol: String, vecCol: String,
      numBits: Int = 8, seed: Long = 42L): DataFrame =
    embs.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("bucket", hyperplane_lsh_bucket(col("v"), numBits, seed))

  /** LSH-bucketed approximate top-k: scan only vectors sharing the query's
    * hyperplane bucket plus the `multiProbe` most-likely alternative buckets
    * — the Hamming-distance-1 flips of the bits whose hyperplane margin
    * |dot(q, plane_j)| is smallest (standard multi-probe LSH: a near-zero
    * margin means near-neighbors plausibly landed on the other side of that
    * hyperplane). `multiProbe = numBits` probes every distance-1 bucket.
    *
    * This form re-buckets the corpus per query; for repeated queries persist
    * the index once with [[saveLshIndex]] and probe it with [[lshTopKWith]],
    * which prunes unread buckets at the file-listing level. */
  def lshTopK(
      embs: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Double], k: Int = 10, numBits: Int = 8, seed: Long = 42L,
      multiProbe: Int = 0, excludeId: Option[Long] = None): DataFrame =
    lshTopKWith(lshIndex(embs, idCol, vecCol, numBits, seed), numBits, seed,
      queryVec, k, multiProbe, excludeId)

  /** The query's probe set: its own bucket first, then the `multiProbe`
    * distance-1 flips of the smallest-|margin| hyperplanes. Driver-side with
    * the same seed-deterministic planes as HyperplaneLshBucket (no Spark
    * job), so index-side and query-side bucketing agree bit-for-bit. */
  private[graft] def probeBuckets(
      queryVec: Array[Double], numBits: Int, seed: Long, multiProbe: Int): Seq[Long] = {
    val planes = graft.functions.HashUtil.hyperplanes(numBits, queryVec.length, seed)
    val margins = planes.map { p =>
      var dot = 0.0; var i = 0
      while (i < queryVec.length) { dot += queryVec(i) * p(i); i += 1 }
      dot
    }
    val qBucket = margins.zipWithIndex.foldLeft(0L) {
      case (b, (dot, j)) => if (dot >= 0) b | (1L << j) else b
    }
    val flipBits = margins.zipWithIndex.sortBy { case (dot, _) => math.abs(dot) }
      .take(math.min(math.max(multiProbe, 0), numBits)).map(_._2)
    qBucket +: flipBits.toSeq.map(b => qBucket ^ (1L << b))
  }

  /** Top-k against an existing LSH index (built here or loaded from a
    * persisted one). The probe filter compares in the index's own `long`
    * bucket type, so on a [[loadLshIndex]] table (bucket = a partition
    * directory column) it stays a pure partition-pruning predicate: only the
    * probed buckets' FILES are listed and read — the "index once, seek many"
    * shape of the reference's offset-indexed scan unit
    * (OffsetRange.scala:53-83). */
  def lshTopKWith(
      index: DataFrame, numBits: Int, seed: Long,
      queryVec: Array[Double], k: Int = 10, multiProbe: Int = 0,
      excludeId: Option[Long] = None): DataFrame =
    topK(index.filter(col("bucket").isin(probeBuckets(queryVec, numBits, seed, multiProbe): _*)),
      "vec_id", "v", queryVec, k, excludeId)

  /** The LSH index family: one `buckets` table, `(vec_id, v, bucket)` or
    * in int8 form `(vec_id, q, scale, bucket)`, partitioned by `bucket`
    * so a probe reads only its buckets' files in every committed epoch.
    * The manifest holds `num_bits`, `seed` and `int8`. */
  private[graft] val LshIndex = EpochIndex.Family("graft-lsh-index-v1", "LSH",
    "saveLshIndex", Seq("buckets"), partitionCols = Map("buckets" -> "bucket"))

  /**
   * Persist an LSH index so repeated queries stop paying a full corpus scan:
   * the bucketed vector table, partitioned BY BUCKET — a query then reads
   * only its probe buckets' files — stored through [[EpochIndex]], whose
   * manifest records the (numBits, seed, int8) triple so load-side probing
   * uses the identical planes and appends keep the storage form. A failed
   * save leaves the previous index serving.
   *
   * `int8 = true` stores [[quantizeInt8]] codes + per-vector scale instead
   * of the raw doubles — at 100 TB the index bytes ARE the probe-time scan
   * cost, and int8 cuts them ~8× against float64 for a bounded score
   * perturbation (≤ scale/2 per element before the cosine). [[loadLshIndex]]
   * reconstructs a `v` column transparently, so probes and validation are
   * storage-form agnostic; ranks can differ from the float index only where
   * true cosines are within quantization error of each other.
   */
  def saveLshIndex(index: DataFrame, numBits: Int, seed: Long, path: String,
      int8: Boolean = false): Unit =
    EpochIndex.save(index.sparkSession, path, LshIndex, Map("num_bits" -> numBits.toString,
      "seed" -> seed.toString, "int8" -> int8.toString))(_ =>
      Seq("buckets" -> storageForm(index, int8, "bucket")))

  /** A vector table as stored: as given, or with `v` as int8 codes + scale. */
  private def storageForm(index: DataFrame, int8: Boolean, part: String): DataFrame =
    if (!int8) index
    else index.select(col("vec_id"), quantizeInt8(col("v")).as("q"),
      int8Scale(col("v")).as("scale"), col(part))

  /** The committed rows of a family's vector table, `(vec_id, v, <part>)`:
    * an int8 index gets its `v` back from codes + scale. */
  private def storedVectors(spark: SparkSession, path: String,
      family: EpochIndex.Family, m: EpochIndex.Manifest, table: String): DataFrame = {
    val v = if (m.param("int8").toBoolean) dequantizeInt8(col("q"), col("scale")) else col("v")
    EpochIndex.scan(spark, path, family, m, table)
      .select(col("vec_id"), v.as("v"), col(family.partitionCols(table)))
  }

  /** Load a persisted LSH index: (buckets, numBits, seed). An int8-stored
    * index comes back with its `v` column reconstructed from codes+scale,
    * so every probe/validation path works unchanged. */
  def loadLshIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, Int, Long) = {
    val m = EpochIndex.committed(spark, path, LshIndex)
    (storedVectors(spark, path, LshIndex, m, "buckets"),
      m.param("num_bits").toInt, m.param("seed").toLong)
  }

  /**
   * Fail loudly when a persisted LSH index no longer matches the corpus it
   * claims to index — a drifted index silently returns stale neighbors,
   * the worst kind of ANN bug. Compares row count and an order-independent
   * id-hash fingerprint (one narrow scan of each side, no join).
   */
  def validateLshIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, idCol: String): Unit = {
    val (idx, _, _) = loadLshIndex(spark, path)
    val (ic, ih) = EpochIndex.idFingerprint(idx, "vec_id")
    val (cc, ch) = EpochIndex.idFingerprint(corpus, idCol)
    if (ic != cc || ih != ch) throw new IllegalStateException(
      s"LSH index at $path is stale: it covers $ic vectors " +
        s"(id-fingerprint $ih) but the corpus has $cc (fingerprint $ch). " +
        "Rebuild with saveLshIndex, or append the delta with appendToLshIndex.")
  }

  /**
   * Incremental index maintenance: bucket `newVecs` with the PERSISTED
   * params (identical hyperplanes, so old and new vectors land in
   * compatible buckets; read under the index lease, so a concurrent rebuild
   * cannot hand this append the planes of the index it replaced) and
   * commit them as one more generation in the index's storage form — no
   * rewrite of the existing buckets. Probes see old + new vectors
   * transparently; at 100 TB this turns daily corpus growth into a
   * delta-sized write instead of a full re-index. [[compactLshIndex]]
   * merges the accumulated generations back into one.
   */
  def appendToLshIndex(
      newVecs: DataFrame, idCol: String, vecCol: String, path: String): Unit =
    EpochIndex.append(newVecs.sparkSession, path, LshIndex, "appendToLshIndex")(m =>
      Seq("buckets" -> storageForm(lshIndex(newVecs, idCol, vecCol,
        m.param("num_bits").toInt, m.param("seed").toLong), m.param("int8").toBoolean, "bucket")))

  /**
   * IVF-style index: assign every vector to its nearest of `nCells`
   * deterministic sample centroids; a query scans the `nProbe` nearest
   * cells. Returns (indexDf, searcher). The assignment is a broadcast join
   * against the (tiny) centroid table — no shuffle of the corpus.
   */
  def ivfIndex(
      embs: DataFrame, idCol: String, vecCol: String, nCells: Int = 16,
      maxFitPerCell: Int = DefaultMaxFitPerCell): DataFrame =
    ivfIndexWith(embs, idCol, vecCol,
      centroids(embs, idCol, vecCol, nCells, maxFitPerCell))

  /** Assignment against externally supplied centroids — the persisted-index
    * and incremental-append path (cells must match the saved geometry). */
  def ivfIndexWith(
      embs: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Double])]): DataFrame =
    embs.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("cell", best_centroid(col("v"), cents.map(_._2)))

  def ivfTopK(
      index: DataFrame, embs: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Double], k: Int = 10, nCells: Int = 16, nProbe: Int = 4,
      excludeId: Option[Long] = None,
      maxFitPerCell: Int = DefaultMaxFitPerCell): DataFrame =
    ivfTopKWith(index, centroids(embs, idCol, vecCol, nCells, maxFitPerCell),
      queryVec, k, nProbe, excludeId)

  /** Query an IVF index against explicit centroids (built here or loaded
    * from a persisted index). */
  def ivfTopKWith(
      index: DataFrame, cents: Array[(Int, Array[Double])],
      queryVec: Array[Double], k: Int = 10, nProbe: Int = 4,
      excludeId: Option[Long] = None): DataFrame = {
    val qCells = cents.map { case (cid, c) => (cid, cosineOf(queryVec, c)) }
      .sortBy(-_._2).take(nProbe).map(_._1)
    topK(index.filter(col("cell").isin(qCells.toIndexedSeq: _*)), "vec_id", "v",
      queryVec, k, excludeId)
  }

  /** The IVF index family: `assignments`, the per-vector cell table in
    * [[LshIndex]]'s storage forms, partitioned by `cell`; and `centroids`
    * `(cell, centroid)`, staged in every generation, so a merge keeps one
    * row per cell. The manifest holds `int8`. */
  private[graft] val IvfIndex = EpochIndex.Family("graft-ivf-index-v1", "IVF",
    "saveIvfIndex", Seq("assignments", "centroids"),
    (table, df) => if (table == "centroids") df.dropDuplicates("cell") else df.distinct(),
    Map("assignments" -> "cell"))

  /**
   * Persist an IVF index so the (k-means + assignment) build cost is paid
   * once: `assignments` holds the per-vector cell table partitioned BY CELL
   * — a query then prunes to its nProbe cells at the file-listing level —
   * and `centroids` the tiny centroid table, both stored through
   * [[EpochIndex]]. `int8` stores quantized codes + scale like
   * [[saveLshIndex]]; probes are storage-form agnostic.
   */
  def saveIvfIndex(
      index: DataFrame, cents: Array[(Int, Array[Double])], path: String,
      int8: Boolean = false): Unit =
    EpochIndex.save(index.sparkSession, path, IvfIndex, Map("int8" -> int8.toString))(_ =>
      ivfFrames(index, cents, int8))

  /** One IVF generation: the assignments in storage form, the centroids. */
  private def ivfFrames(index: DataFrame, cents: Array[(Int, Array[Double])],
      int8: Boolean): EpochIndex.Frames =
    Seq("assignments" -> storageForm(index, int8, "cell"),
      "centroids" -> centroidTable(index.sparkSession, cents))

  private def centroidTable(spark: SparkSession,
      cents: Array[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.map { case (cid, c) => (cid, c.toSeq) }.toDF("cell", "centroid")
  }

  private def committedCentroids(spark: SparkSession, path: String,
      m: EpochIndex.Manifest): Array[(Int, Array[Double])] =
    EpochIndex.scan(spark, path, IvfIndex, m, "centroids")
      .dropDuplicates("cell").select(col("cell"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Load a persisted IVF index: (assignments, centroids). An int8-stored
    * index comes back with `v` reconstructed. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, Array[(Int, Array[Double])]) = {
    val m = EpochIndex.committed(spark, path, IvfIndex)
    (storedVectors(spark, path, IvfIndex, m, "assignments"), committedCentroids(spark, path, m))
  }

  /**
   * Batch k-NN join through an IVF index (the IVF twin of
   * [[knnJoinLshWith]]): every query vector scores only its `nProbe`
   * highest-cosine cells' vectors and takes exact top-k among them. Cell
   * selection is a rank over the (tiny, broadcast) centroid table — no
   * per-query driver pass — and the union of probed cells pushes down as a
   * static filter, so a cell-partitioned persisted index reads only probed
   * cells' files. Queries with null/empty vectors select no cells and are
   * dropped (the same contract as the LSH joins). Per-query results match
   * [[ivfTopKWith]] with the same index, centroids, and nProbe.
   */
  def ivfKnnJoinWith(
      index: DataFrame, cents: Array[(Int, Array[Double])],
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int = 10, nProbe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    requireBroadcastSizedQueries(queries, "ivfKnnJoinWith")
    val centDf = broadcast(centroidTable(index.sparkSession, cents))
    val q = queries.select(col(qIdCol).as("query_id"),
        col(qVecCol).cast("array<double>").as("qv"))
      .filter(col("qv").isNotNull && size(col("qv")) > 0)
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(cosine_similarity(col("centroid"), col("qv")).desc, col("cell").asc)
    val probes = q.crossJoin(centDf)
      .withColumn("__cr", row_number().over(cw))
      .filter(col("__cr") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
      .localCheckpoint(eager = false) // driver cell-collect + join share it
    val cellVals: Seq[Any] = probes.select(col("cell")).distinct()
      .collect().map(_.get(0)).toSeq
    rankPairs(index.filter(col("cell").isin(cellVals: _*)).join(broadcast(probes), "cell"),
      k, excludeSelf, "query/index")
  }

  /** IVF twin of [[validateLshIndex]]: count + order-independent id-hash
    * fingerprint; a drifted index fails loudly, never silently stale. */
  def validateIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, idCol: String): Unit = {
    val (idx, _) = loadIvfIndex(spark, path)
    val (ic, ih) = EpochIndex.idFingerprint(idx, "vec_id")
    val (cc, ch) = EpochIndex.idFingerprint(corpus, idCol)
    if (ic != cc || ih != ch) throw new IllegalStateException(
      s"IVF index at $path is stale: it covers $ic vectors " +
        s"(id-fingerprint $ih) but the corpus has $cc (fingerprint $ch). " +
        "Rebuild with saveIvfIndex, or append the delta with appendToIvfIndex.")
  }

  /** IVF twin of [[appendToLshIndex]]: assign `newVecs` to the PERSISTED
    * centroids (read under the lease; cells stay stable — centroids are
    * never refit on append, so probes remain consistent) and commit them
    * as one more generation; [[compactIvfIndex]] merges the generations.
    * Refit with a fresh saveIvfIndex when the corpus distribution drifts
    * enough that fixed centroids hurt recall. */
  def appendToIvfIndex(
      newVecs: DataFrame, idCol: String, vecCol: String, path: String): Unit =
    EpochIndex.append(newVecs.sparkSession, path, IvfIndex, "appendToIvfIndex") { m =>
      val cents = committedCentroids(newVecs.sparkSession, path, m)
      ivfFrames(ivfIndexWith(newVecs, idCol, vecCol, cents), cents, m.param("int8").toBoolean)
    }

  /**
   * Compact an appended LSH index: each [[appendToLshIndex]] commits one
   * more generation, so after N appends a probe opens up to N files per
   * bucket and the file-pruning win erodes linearly. Compaction merges the
   * committed generations into one ([[EpochIndex.compact]]) — one file per
   * bucket again, probes answer identically, and a crash before its
   * manifest flip leaves the previous index serving. Returns the number of
   * generations merged, 0 if the index was already compact.
   */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    EpochIndex.compact(spark, path, LshIndex, "compactLshIndex")

  /** IVF twin of [[compactLshIndex]]: one file per cell again, and one
    * centroid row per cell. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    EpochIndex.compact(spark, path, IvfIndex, "compactIvfIndex")

  /** Seeded k-means centroids (Spark MLlib; deterministic for a fixed seed
    * and input). Cached per (plan-agnostic) table identity via a small keyed
    * memo so index build and query use identical centroids. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Array[Double])]]()

  /** Default cap on k-means fit input: nCells × this many vectors. Rough
    * centroids are all IVF needs (recall comes from nProbe), so fitting on
    * more than ~10k sampled vectors per cell buys nothing while the full
    * corpus at the 100 TB target would make the index build 4 extra
    * complete passes. */
  val DefaultMaxFitPerCell = 10000

  /** The (memoized) centroids a given index build used — what you pass to
    * `saveIvfIndex` so the persisted index is self-consistent. */
  def centroidsOf(embs: DataFrame, idCol: String, vecCol: String, nCells: Int,
      maxFitPerCell: Int = DefaultMaxFitPerCell): Array[(Int, Array[Double])] =
    centroids(embs, idCol, vecCol, nCells, maxFitPerCell)

  private def centroids(embs: DataFrame, idCol: String, vecCol: String, nCells: Int,
      maxFitPerCell: Int): Array[(Int, Array[Double])] = {
    val key = s"${embs.schema.map(_.name).mkString(",")}|$idCol|$vecCol|$nCells|" +
      s"$maxFitPerCell|" + embs.queryExecution.analyzed.semanticHash()
    centroidCache.computeIfAbsent(key, _ => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      // cap the fit input with a deterministic, partitioning-independent
      // hash sample: keep ids whose 63-bit hash falls under the sample
      // fraction. The count is a column-pruned metadata pass; the k-means
      // rounds then touch only the bounded sample instead of the corpus.
      val budget = nCells.toLong * maxFitPerCell
      val total = embs.count()
      val fitSrc =
        if (total <= budget) embs
        else {
          val bound = (budget.toDouble / total * Long.MaxValue).toLong
          embs.where(shiftrightunsigned(xxhash64(col(idCol)), 1) < lit(bound))
        }
      val feats = fitSrc.select(
        array_to_vector(col(vecCol).cast("array<double>")).as("features"))
      // random init + few Lloyd rounds: IVF cell quality only needs rough
      // centroids (recall comes from nProbe, and full-probe == brute force
      // regardless of centroid placement); k-means|| init alone costs more
      // passes over the sample than these 4 iterations
      val model = new KMeans().setK(nCells).setSeed(42L).setMaxIter(4)
        .setInitMode("random")
        .fit(feats)
      model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }
    })
  }

  private def cosineOf(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /**
   * SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
   * partition the embedding space with k-means cells, then within each cell
   * drop every vector that has a smaller-id neighbor with cosine ≥ `tau`.
   * Returns the SURVIVING rows of `embs`, original columns intact.
   *
   * Design choices, each load-bearing at corpus scale:
   *  - The pair join is keyed on the cell id — a plain shuffle equijoin
   *    whose per-cell work is |cell|², never an all-pairs product. Cell
   *    count is the CONTRACT, not a constant: `nCells` MUST scale with the
   *    corpus (size it ≈ n / a-few-thousand, so mean cell size stays in the
   *    low thousands at any n — 10⁹ vectors wants ~10⁵–10⁶ cells). A
   *    degenerate fit (one fat cell) is caught by `maxCellSize` — over-cap
   *    cells are excluded from pairing (their members all survive) with the
   *    drop counted loudly under tag `"semanticDedup"` (see
   *    [[Dedup.lastDropStats]]). The default cap of 10,000 bounds a cell's
   *    pair work at ~5×10⁷ cosines — one reducer-minute, not the ~5×10⁹ the
   *    previous 100k default allowed; raise it only knowingly.
   *  - Keep policy is smallest-id-wins, evaluated greedily against ALL
   *    same-cell neighbors (not only surviving ones): deterministic,
   *    partitioning-invariant, and exactly expressible in the DuckDB twin
   *    ([[sqlSemanticDedup]]) — unlike connected-component keep-one, whose
   *    representative depends on traversal order. SemDeDup's
   *    keep-farthest-from-centroid policy differs only in which member of a
   *    duplicate group survives.
   *  - The cosine is compared through `stableRound(·, 6)` so the keep/drop
   *    decision never sits on an engine-dependent ulp boundary.
   */
  def semanticDedupWith(
      embs: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Double])], tau: Double,
      maxCellSize: Int = 10000): DataFrame = {
    val dim = cents.head._2.length
    val idx = requireDim(ivfIndexWith(embs, idCol, vecCol, cents), col("v"), dim)
    // widen the vector to array<double> ONCE PER ROW, map-side of the pair
    // exchange: cosine_similarity declares double-array inputs, so leaving
    // the float storage type here made the analyzer wrap BOTH condition
    // sides in implicit casts — a fresh 64-element array allocation per
    // CANDIDATE PAIR per side inside the join's fused loop (the dominant
    // per-task cost of the gate). Same cast, same values, evaluated |rows|
    // instead of |pairs|×2 times (guide §1.2 per-task work).
    // lazily shared: the sized index feeds BOTH pair-join sides and the
    // hot-key guard — unshared, the analyzer/optimizer re-derived the whole
    // assignment subtree (scan + union + best_centroid + guard) once per
    // use (52 scan nodes in the r15 plan dump), and every AQE listener
    // update re-stringified all of them; the share collapses the plan to
    // one subtree + InMemoryRelation reads (persist is lazy — EXPLAIN
    // still runs zero jobs)
    val sized = Exec.lazyShare(
      Dedup.dropHotKeys(idx, Seq("cell"), maxCellSize, "semanticDedup")
        .withColumn("v", col("v").cast("array<double>")))
    // the pair join is pinned to the documented scale shape — SHUFFLE
    // equijoin on the cell key — rather than left to size-based planning:
    // at gate scale the planner picked a broadcast hash join, whose pair
    // condition re-evaluates each side's VECTOR EXPRESSION per candidate
    // pair (jstack: interpreted ArrayTransform from a caller's planted
    // `transform(embedding, ·)` burned ~1.9 s of a 2.4 s gate); a shuffle
    // join materializes `v` into the exchange once per ROW, and the two
    // identical sides share one exchange (ReusedExchange). Guide §3.1
    // (pick the strategy deliberately), §1.2 (per-task work).
    val a = sized.as("a"); val b = sized.as("b")
    val drops = a.hint("merge").join(b.hint("merge"),
        col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
      .filter(graft.functions.TextFunctions.stableRound(
        cosine_similarity(col("a.v"), col("b.v")), 6) >= tau)
      .select(col("a.vec_id").as("__dup_id")).distinct()
    embs.join(drops, embs(idCol) === drops("__dup_id"), "left_anti")
  }

  /** [[semanticDedupWith]] over a fresh (memoized) k-means fit. */
  def semanticDedup(
      embs: DataFrame, idCol: String, vecCol: String, nCells: Int = 16,
      tau: Double = 0.95, maxFitPerCell: Int = DefaultMaxFitPerCell,
      maxCellSize: Int = 10000): DataFrame =
    semanticDedupWith(embs, idCol, vecCol,
      centroids(embs, idCol, vecCol, nCells, maxFitPerCell), tau, maxCellSize)

  /**
   * Cluster-balanced diversity sampling (the density-flattening step of
   * SemDeDup-style curation, arXiv:2303.09540 §5 / DataComp clustering
   * baselines): assign every vector to its nearest k-means cell, then keep
   * at most `perCell` vectors per cell, chosen deterministically by content
   * hash of the id with an id tiebreak — so a few dominant embedding-space
   * modes can't monopolize a training mix, and the selection is
   * reproducible on any partitioning. Returns surviving rows with the
   * `cell` column kept for downstream stratification.
   *
   * Scale shape: cell assignment is the per-row codegen'd [[best_centroid]]
   * arg-max (zero shuffle); selection is [[Sampling.capPerGroup]]'s ONE
   * window shuffle on the cell key, rank-limit pushed down
   * (WindowGroupLimit) so each map task forwards at most `perCell` rows per
   * cell. Cell population is the window-partition size, governed by the
   * same `nCells ∝ corpus size` contract as [[semanticDedup]]; the k-means
   * fit itself is sample-capped ([[centroidsOf]]).
   */
  def diversitySampleWith(
      embs: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Double])], perCell: Int): DataFrame = {
    require(perCell > 0, s"perCell must be positive, got $perCell")
    val dim = cents.head._2.length
    val withCell = requireDim(embs, col(vecCol), dim)
      .withColumn("cell", best_centroid(col(vecCol), cents.map(_._2)))
    Sampling.capPerGroup(withCell, Seq(col("cell")),
      col(idCol).cast("string"), col(idCol), perCell)
  }

  /** [[diversitySampleWith]] over a fresh (memoized) k-means fit. */
  def diversitySample(
      embs: DataFrame, idCol: String, vecCol: String, nCells: Int,
      perCell: Int, maxFitPerCell: Int = DefaultMaxFitPerCell): DataFrame =
    diversitySampleWith(embs, idCol, vecCol,
      centroids(embs, idCol, vecCol, nCells, maxFitPerCell), perCell)

  /** DuckDB twin of [[diversitySampleWith]] over `embeddings`: the same
    * centroid literals and arg-max assignment as [[sqlSemanticDedup]], the
    * same hash-ordered per-cell rank as q_corpus_cap's oracle. */
  def sqlDiversitySample(cents: Array[(Int, Array[Double])], dim: Int,
      perCell: Int): String = {
    s"""WITH ce AS (SELECT * FROM (VALUES
       |  ${sqlCentroidRows(cents)}) AS t(cell, c, cnorm)),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${sqlAssignCtes(dim)},
       |ranked AS (SELECT vec_id, cell,
       |  row_number() OVER (PARTITION BY cell
       |                     ORDER BY substr(md5(vec_id::VARCHAR), 1, 13), vec_id) AS rn
       |  FROM assign)
       |SELECT vec_id, cell FROM ranked WHERE rn <= $perCell
       |ORDER BY vec_id""".stripMargin
  }

  /**
   * Symmetric per-vector int8 quantization of an embedding column — the
   * storage form for 100 TB vector corpora: 8× smaller than float64 (4× vs
   * float32), with cosine ranking degraded only by the bounded per-element
   * reconstruction error (≤ scale/2). scale = maxabs/127 per vector;
   * q_i = floor(v_i/scale + 0.5) ∈ [-127, 127] — half-up via floor(x+0.5),
   * an explicit formula engines evaluate identically, unlike native round().
   * A zero vector quantizes to all zeros with scale 0. Pure per-row
   * expressions: quantizing a corpus is a zero-shuffle scan stage, and the
   * codes column stores/ships as `array<tinyint>`.
   */
  def quantizeInt8(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val scale = int8Scale(vec)
    transform(v, x =>
      when(scale === 0.0, lit(0)).otherwise(floor(x / scale + lit(0.5))).cast("tinyint"))
  }

  /** The per-vector quantization scale (maxabs / 127) — persist it next to
    * the codes; [[dequantizeInt8]] needs it to reconstruct. */
  def int8Scale(vec: Column): Column =
    aggregate(vec.cast("array<double>"), lit(0.0),
      (acc, x) => greatest(acc, abs(x))) / lit(127.0)

  /** Reconstruct an approximate double vector from int8 codes + scale. */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    transform(codes, x => x.cast("double") * scale)

  /** Fetch one vector by id as a double array (driver-side, for query use). */
  def vectorOf(embs: DataFrame, idCol: String, vecCol: String, id: Long): Array[Double] =
    embs.filter(col(idCol) === id).select(col(vecCol).cast("array<double>"))
      .head().getSeq[Double](0).toArray

  /**
   * Recall@k of an approximate k-NN result against exact ground truth — THE
   * acceptance metric for every index/probe/quantization tradeoff in this
   * file (numBits, multiProbe, nProbe, int8): measure it on a query sample
   * before trusting a cheaper configuration at corpus scale. Both inputs are
   * k-NN join results `(query_id, vec_id, …, rk)` (any of [[knnJoin]],
   * [[knnJoinLsh]], [[knnJoinLshWith]], [[ivfKnnJoinWith]]…). Returns one
   * row per ground-truth query: `(query_id, n_exact, n_hit, recall)` with
   * recall = |exact∩approx| / |exact| at rk ≤ k, stable-rounded; a query the
   * approximate side missed entirely scores 0, never drops out. Two
   * aggregations and one join, all keyed on query_id — co-partitioned after
   * the first exchange, so evaluation scales with the QUERY sample, not the
   * corpus.
   */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def ids(df: DataFrame, as: String) = df.filter(col("rk") <= k)
      .groupBy(col("query_id")).agg(collect_set(col("vec_id")).as(as))
    ids(exact, "exact_ids")
      .join(ids(approx, "approx_ids"), Seq("query_id"), "left")
      .select(col("query_id"),
        size(col("exact_ids")).as("n_exact"),
        size(array_intersect(col("exact_ids"),
          coalesce(col("approx_ids"), array()))).as("n_hit"),
        graft.functions.TextFunctions.stableRound(
          size(array_intersect(col("exact_ids"),
            coalesce(col("approx_ids"), array()))).cast("double") /
            size(col("exact_ids")).cast("double"), 4).as("recall"))
  }

  // ---------------------------------------------------------------------
  // DuckDB SQL twins — full-oracle renderings of the LSH/IVF search paths.
  //
  // Everything FP-bearing is rendered so both engines execute the IDENTICAL
  // sequence of IEEE double operations: dot products as an ordered
  // left-to-right fold over per-element products (the kernels accumulate
  // ascending — CosineSimilarity/HyperplaneLshBucket/BestCentroid all loop
  // i = 0..n), hyperplane coefficients inlined via Double.toString (shortest
  // round-trip decimal, parsed back to the same bits), and ranking on the
  // stable-rounded cosine. Bit-equal inputs + identical op order = bit-equal
  // buckets, margins, and scores — no tolerance needed.
  // ---------------------------------------------------------------------

  private def dLit(x: Double): String = java.lang.Double.toString(x)

  /** The seed-derived hyperplane matrix as a DuckDB DOUBLE[][] literal —
    * same single source of truth ([[graft.functions.HashUtil.hyperplanes]])
    * as the executor kernel. */
  private[operators] def sqlPlanesLit(numBits: Int, dim: Int, seed: Long): String = {
    val ps = graft.functions.HashUtil.hyperplanes(numBits, dim, seed)
    ps.map(p => p.map(dLit).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]") + "::DOUBLE[][]"
  }

  /** Ordered left-to-right sum of `prod` (an expression over index `i`) for
    * i = 1..dim — the SQL rendering of the kernels' ascending accumulation. */
  private[operators] def sqlFold(prod: String, dim: Int): String =
    s"list_reduce(list_transform(range(1, ${dim + 1}), i -> $prod), (a, b) -> a + b)"

  /** Exact cosine between two vector expressions, same op order as
    * [[graft.functions.CosineSimilarity]]. */
  private[operators] def sqlCosineOf(a: String, b: String, dim: Int): String =
    s"(${sqlFold(s"$a[i] * $b[i]", dim)} / " +
      s"(sqrt(${sqlFold(s"$a[i] * $a[i]", dim)}) * sqrt(${sqlFold(s"$b[i] * $b[i]", dim)})))"

  /** The `numBits`-bit hyperplane sign signature of vector expression `v`
    * against planes bound as `pl` — twin of HyperplaneLshBucket. */
  private[operators] def sqlLshBucketOf(v: String, numBits: Int, dim: Int): String =
    "list_reduce(list_transform(range(1, " + (numBits + 1) + "), j -> " +
      s"CASE WHEN ${sqlFold(s"$v[i] * pl[j][i]", dim)} >= 0 " +
      "THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END), (a, b) -> a + b)"

  /** DuckDB twin of [[lshTopKWith]] over the live/persisted 6-bit index the
    * gate builds: query bucket + the `multiProbe` smallest-|margin| flips
    * (the Scala `sortBy(abs(dot))` is a stable sort, rendered as
    * ORDER BY abs(dot), j), then exact stable-rounded cosine top-k over the
    * probed buckets. */
  def sqlLshTopK(dim: Int, numBits: Int, seed: Long, queryId: Long,
      k: Int, multiProbe: Int): String = {
    val cos = sqlCosineOf("v", "qv", dim)
    s"""WITH pl_t AS (SELECT ${sqlPlanesLit(numBits, dim, seed)} AS pl),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = $queryId),
       |m AS (SELECT j, ${sqlFold("qv[i] * pl[j][i]", dim)} AS dot
       |      FROM q, pl_t, unnest(generate_series(1, $numBits)) AS t(j)),
       |qb AS (SELECT sum(CASE WHEN dot >= 0 THEN (1::BIGINT << (j - 1))
       |                  ELSE 0::BIGINT END)::BIGINT AS b0 FROM m),
       |fl AS (SELECT j FROM m ORDER BY abs(dot) ASC, j ASC LIMIT $multiProbe),
       |probes AS (SELECT b0 AS bucket FROM qb
       |           UNION ALL
       |           SELECT xor(b0::UBIGINT, (1::UBIGINT << (j - 1)))::BIGINT
       |           FROM qb, fl),
       |sig AS (SELECT vec_id, v, ${sqlLshBucketOf("v", numBits, dim)} AS bucket
       |        FROM e, pl_t),
       |sc AS (SELECT vec_id,
       |         ${graft.functions.TextFunctions.sqlStableRound(cos, 6)} AS cosine
       |       FROM sig, q
       |       WHERE bucket IN (SELECT bucket FROM probes) AND vec_id <> $queryId)
       |SELECT vec_id, cosine FROM sc
       |ORDER BY cosine DESC, vec_id ASC LIMIT $k""".stripMargin
  }

  /** DuckDB twin of [[knnJoinLsh]]: per-query probe rows = own bucket plus
    * every Hamming-1 flip, equi-joined on bucket, exact stable-rounded
    * cosine rank per query. */
  def sqlKnnJoinLsh(dim: Int, numBits: Int, seed: Long, queryPred: String,
      k: Int): String = {
    val flips = ((0 until numBits).map(1L << _) :+ 0L).mkString("[", ", ", "]")
    val cos = sqlCosineOf("cv", "qv", dim)
    s"""WITH pl_t AS (SELECT ${sqlPlanesLit(numBits, dim, seed)} AS pl),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS (SELECT vec_id, v, ${sqlLshBucketOf("v", numBits, dim)} AS bucket
       |        FROM e, pl_t),
       |probes AS (SELECT s.vec_id AS query_id, s.v AS qv,
       |             xor(s.bucket::UBIGINT, f::UBIGINT)::BIGINT AS bucket
       |           FROM sig s, unnest($flips) AS t(f) WHERE $queryPred),
       |sc AS (SELECT query_id, c.vec_id, c.v AS cv, qv FROM probes
       |       JOIN sig c USING (bucket) WHERE c.vec_id <> query_id),
       |r AS (SELECT query_id, vec_id,
       |        ${graft.functions.TextFunctions.sqlStableRound(cos, 6)} AS cosine
       |      FROM sc),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |         ORDER BY cosine DESC, vec_id ASC) AS rk FROM r)
       |SELECT query_id, vec_id, cosine, rk FROM rk WHERE rk <= $k
       |ORDER BY query_id, rk""".stripMargin
  }

  /** DuckDB twin of [[ivfTopKWith]] GIVEN the centroids the gate's index
    * build actually produced (rendered as literals by the caller — the
    * k-means fit itself is iterative FP and stays unoracled; scoring,
    * cell assignment (BestCentroid: strict-> argmax, first index wins), probe
    * selection, and ranking are all exact). */
  /** `cents` as a DuckDB VALUES list `(cell, c DOUBLE[], cnorm)` — cNorm
    * precomputed with the kernel's own loop (ascending sum of squares, then
    * sqrt), bit-identical to BestCentroid's cNorms. */
  private def sqlCentroidRows(cents: Array[(Int, Array[Double])]): String =
    cents.map { case (cid, c) =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s"($cid, ${c.map(dLit).mkString("[", ", ", "]")}::DOUBLE[], ${dLit(math.sqrt(s))})"
    }.mkString(",\n  ")

  /** The BestCentroid twin as a CTE pair over a bound `e(vec_id, v)`:
    * per-(vector, cell) score, then strict arg-max with first-index-wins
    * tie-break — `assign(vec_id, cell)`. */
  private def sqlAssignCtes(dim: Int): String = {
    val assignScore = s"(${sqlFold("v[i] * c[i]", dim)} / " +
      s"(sqrt(${sqlFold("v[i] * v[i]", dim)}) * cnorm))"
    s"""sc0 AS (SELECT vec_id, ce.cell, $assignScore AS s FROM e, ce),
       |assign AS (SELECT vec_id, first(cell ORDER BY s DESC, cell ASC) AS cell
       |           FROM sc0 GROUP BY vec_id)""".stripMargin
  }

  def sqlIvfTopK(cents: Array[(Int, Array[Double])], dim: Int, queryId: Long,
      k: Int, nProbe: Int): String = {
    val qcCos = sqlCosineOf("qv", "c", dim)
    val cos = sqlCosineOf("v", "qv", dim)
    s"""WITH ce AS (SELECT * FROM (VALUES
       |  ${sqlCentroidRows(cents)}) AS t(cell, c, cnorm)),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = $queryId),
       |qc AS (SELECT cell, $qcCos AS s FROM ce, q),
       |pc AS (SELECT cell FROM qc ORDER BY s DESC, cell ASC LIMIT $nProbe),
       |${sqlAssignCtes(dim)},
       |hits AS (SELECT e.vec_id, e.v FROM e JOIN assign USING (vec_id)
       |         WHERE assign.cell IN (SELECT cell FROM pc)
       |           AND e.vec_id <> $queryId)
       |SELECT vec_id,
       |  ${graft.functions.TextFunctions.sqlStableRound(cos, 6)} AS cosine
       |FROM hits, q
       |ORDER BY cosine DESC, vec_id ASC LIMIT $k""".stripMargin
  }

  /**
   * Embedding drift between two snapshots, per label — the vector-space
   * twin of [[graft.operators.Validation.distributionDrift]]: catches a
   * re-embedded or re-scaled feed (encoder version bump, normalization
   * change, a label's sources shifting) before it poisons ANN indexes and
   * semantic dedup, which both assume one embedding space.
   *
   * Per label: row counts, mean L2 norms, the COSINE between the two
   * snapshots' centroids (1 = same direction, null when a side is missing
   * or a centroid is zero), and a `dim_mismatch` flag. Labels present in
   * only one snapshot appear with the other side's count 0.
   *
   * `dim_mismatch` is TRUE when the label's vectors do not all share one
   * dimensionality — across the two snapshots (the advertised encoder
   * version bump re-embeds one side at a different width) or within
   * either one (a mixed feed). A truncated cosine over only the
   * overlapping positions would return a plausible value for a
   * comparison that is meaningless across spaces, so `centroid_cos` is
   * NULL whenever the flag is set.
   *
   * Scale shape: everything reduces map-side. Per-(label, dim-position)
   * centroid means and per-label norm/count aggregates shuffle only
   * O(labels × dim) combined partials — never vectors; the centroid dot
   * product and norms then reduce the (label, pos) frame again. No
   * collect, no windows, no vector ever crosses the wire whole.
   */
  def embeddingDrift(ref: DataFrame, cur: DataFrame, labelCol: String,
      vecCol: String): DataFrame = {
    def clean(df: DataFrame) = df
      .filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(labelCol).as("label"), col(vecCol).cast("array<double>").as("v"))
    def stats(df: DataFrame, side: String) = clean(df)
      .groupBy(col("label"))
      .agg(count(lit(1)).as(s"n_$side"),
        avg(sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
          .as(s"norm_$side"),
        min(size(col("v"))).as(s"__dn_$side"),
        max(size(col("v"))).as(s"__dx_$side"))
    def cent(df: DataFrame, m: String) = clean(df)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos")).agg(avg(col("x")).as(m))
    val cos = cent(ref, "mr").join(cent(cur, "mc"), Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(sum(col("mr") * col("mc")).as("__dot"),
        sum(col("mr") * col("mr")).as("__nr2"),
        sum(col("mc") * col("mc")).as("__nc2"))
      .select(col("label"),
        when(col("__nr2") > 0 && col("__nc2") > 0,
          col("__dot") / sqrt(col("__nr2") * col("__nc2"))).as("__cos"))
    // one dimensionality per label: uniform within each present side AND
    // equal across sides; an absent side (null stats after the full outer
    // join) can't mismatch anything — its cos is already null via the
    // inner centroid join
    val oneDim =
      (col("__dn_ref").isNull || col("__dn_ref") === col("__dx_ref")) &&
      (col("__dn_cur").isNull || col("__dn_cur") === col("__dx_cur")) &&
      (col("__dx_ref").isNull || col("__dx_cur").isNull ||
        col("__dx_ref") === col("__dx_cur"))
    stats(ref, "ref")
      .join(stats(cur, "cur"), Seq("label"), "full_outer")
      .join(cos, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        col("norm_ref"), col("norm_cur"),
        when(oneDim, col("__cos")).as("centroid_cos"),
        (!oneDim).as("dim_mismatch"))
  }

  /** DuckDB twin of [[semanticDedupWith]] GIVEN the gate's centroids
    * (rendered as literals by the caller — the k-means fit itself stays
    * unoracled; assignment, over-cap cell exclusion, pair scoring and the
    * greedy smallest-id-wins policy are all exact). `sourceSql` binds
    * `e(vec_id, v DOUBLE[])` so the caller can plant deterministic
    * near-dups the same way on both sides; the final SELECT returns the
    * surviving `vec_id`s. */
  def sqlSemanticDedup(cents: Array[(Int, Array[Double])], dim: Int,
      tau: Double, maxCellSize: Int,
      sourceSql: String =
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"): String = {
    val cos = sqlCosineOf("ea.v", "eb.v", dim)
    s"""WITH ce AS (SELECT * FROM (VALUES
       |  ${sqlCentroidRows(cents)}) AS t(cell, c, cnorm)),
       |e AS ($sourceSql),
       |${sqlAssignCtes(dim)},
       |sized AS (SELECT vec_id, cell FROM assign
       |          QUALIFY count(*) OVER (PARTITION BY cell) <= $maxCellSize),
       |drops AS (SELECT DISTINCT a.vec_id
       |  FROM sized a JOIN sized b ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
       |  WHERE ${graft.functions.TextFunctions.sqlStableRound(cos, 6)} >= ${dLit(tau)})
       |SELECT vec_id FROM e
       |WHERE vec_id NOT IN (SELECT vec_id FROM drops)
       |ORDER BY vec_id""".stripMargin
  }
}
