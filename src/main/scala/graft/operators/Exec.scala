package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/**
 * Execution helpers shared by the operators and the gate entry points:
 * plan-level sharing of an intermediate ([[lazyShare]]), independent
 * actions run side by side ([[concurrently]]) and map parallelism for a
 * physically tiny input ([[spreadCpuScan]]).
 */
private[graft] object Exec {
  /**
   * Share one materialization of a deterministic intermediate that the
   * surrounding plan reads more than once (both sides of a self-join, a
   * band table plus its verification join), WITHOUT executing anything at
   * construction: `persist` only registers the plan with the CacheManager
   * (which also dedups repeated builds by canonicalized plan), whereas a
   * lazy `localCheckpoint` force-plans its AQE stages eagerly — running
   * real Spark jobs while the operator is merely being CONSTRUCTED, i.e.
   * during `EXPLAIN` of any SQL TVF built on it.
   */
  private[graft] def lazyShare(df: DataFrame): DataFrame = {
    // canonicalized-plan key: a re-share of an EQUIVALENT plan (same gate
    // re-constructed, retry, second pass) touches the existing entry
    // instead of adding a duplicate whose eviction would unpersist the
    // newer share's one CacheManager entry out from under it
    val key = df.queryExecution.analyzed.canonicalized
    shareRegistry.synchronized {
      shareRegistry.put(key, df)
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      while (shareRegistry.size() > LazyShareCap) {
        val it = shareRegistry.entrySet().iterator()
        val eldest = it.next(); it.remove()
        // non-blocking: an in-flight reader of an evicted share recomputes
        // from lineage (AsofFitted.release's contract); a stopped session
        // just no-ops/throws harmlessly
        try eldest.getValue.unpersist(false) catch { case _: Throwable => () }
      }
    }
    df
  }

  /** Upper bound on live [[lazyShare]] cache entries. Shares are scoped to
    * one operator construction (both sides of a self-join, a band table
    * plus its verify join) but a plain `persist` has no release point — a
    * long-lived driver constructing gates forever would accrete one
    * corpus-scale cached relation per DISTINCT input (CacheManager dedups
    * equivalent plans). The LRU registry below unpersists the eldest share
    * past this cap: by then its gate's action has long finished, and a
    * straggler reader only recomputes from lineage. */
  private val LazyShareCap = 64

  /** Insertion+access-ordered so the eldest entry is the least recently
    * (re-)shared plan; bounded at [[LazyShareCap]] entries, so the registry
    * itself cannot leak plan objects either. */
  private val shareRegistry =
    new java.util.LinkedHashMap[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      16, 0.75f, true)

  /** Live share count (tests). */
  private[graft] def lazyShareLive: Int =
    shareRegistry.synchronized(shareRegistry.size())

  /**
   * Run independent Spark actions concurrently (guide §2.6: actions are
   * only sequential because driver code calls them sequentially). Used
   * where one epoch/fit produces several independent outputs — the
   * survivor write and the index admission of a streaming dedup epoch,
   * the band/shingle/segment tables of one index build — whose small jobs
   * otherwise serialize their scheduling tails. Inputs shared through
   * [[lazyShare]]/`persist` stay safe: cache blocks are computed under
   * block-level locking, so concurrent first readers do not corrupt, at
   * worst duplicate, the materialization. The first work item runs on the
   * calling thread (fresh threads inherit the caller's job group /
   * description via Spark's inheritable thread locals); every item is
   * awaited, the first failure is rethrown with the others suppressed.
   */
  private[graft] def concurrently(works: Seq[() => Unit]): Unit = {
    if (works.lengthCompare(1) <= 0) { works.foreach(_()); return }
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val threads = works.tail.map { w =>
      val t = new Thread(() => {
        try w() catch { case e: Throwable => errs.add(e); () }
      }, "graft-concurrent-action")
      t.setDaemon(true)
      t.start()
      t
    }
    try works.head() catch { case e: Throwable => errs.add(0, e) }
    threads.foreach(_.join())
    if (!errs.isEmpty) {
      val first = errs.get(0)
      (1 until errs.size()).foreach(i => first.addSuppressed(errs.get(i)))
      throw first
    }
  }

  /** Two-action sugar for [[concurrently]]. */
  private[graft] def concurrently(a: => Unit, b: => Unit): Unit =
    concurrently(Seq(() => a, () => b))

  /**
   * Spread a physically tiny input before CPU-heavy per-row map work
   * (tokenize / shingle / rolling-fingerprint kernels). A source whose
   * plan-stats size is below ONE scan split planned as ~one scan
   * partition — and a single-row-group parquet file cannot be split at
   * all — so the whole fused per-row pipeline above it runs on one core
   * while the rest of the machine idles (profiled: sequential 150-270 ms
   * single-task stages). One metadata-scale hash exchange on the row key
   * buys the map parallelism. Capped at 8 ways: the r16 A/B measured
   * 8-way beating 32-way on sub-MB inputs (per-task constants dominate
   * past ~8). Guard: an input of at least one split is left alone — a
   * cluster-scale table is already parallel there, and the exchange
   * would be a full corpus shuffle (guide §2: derive partitioning from
   * input size, not a constant).
   */
  private[graft] def spreadCpuScan(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    if (cores <= 1) return df
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est > 0 && est < split) df.repartition(math.min(cores, 8), col(key))
    else df
  }
}
