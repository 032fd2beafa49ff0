package graft

import org.apache.spark.sql.SparkSession

/**
 * The one place this project builds a SparkSession. Every entry point
 * (Bench, Verify, the test suites, the tools) gets the same shared config
 * and adds only what differs for it through `overrides`.
 */
object GraftSession {
  /** Cores for `local[n]`: `SPARK_GRAFT_CPUS` when set, else every
    * processor this JVM can use. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /**
   * Get or create the session on `master` (default `local[cpus]`), with
   * `cpus` shuffle partitions and `overrides` applied over the shared
   * config. The shared config:
   *  - UTC session time zone, so timestamps match the DuckDB oracle;
   *  - `nanosAsLong`: the testdata's `events.parquet` is TIMESTAMP(NANOS);
   *  - AQE on;
   *  - [[graft.streaming.LocalCheckpointFileManager]]: checkpoints here are
   *    local paths, and the NIO manager avoids the Hadoop local-FS
   *    fork-per-stat path (a DFS deployment keeps Spark's default manager);
   *  - UI off.
   */
  def apply(cpus: Int = defaultCpus, overrides: Map[String, String] = Map.empty,
      master: String = ""): SparkSession = {
    val shared = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "graft.streaming.LocalCheckpointFileManager",
      "spark.ui.enabled" -> "false")
    val builder = SparkSession.builder()
      .master(if (master.isEmpty) s"local[$cpus]" else master)
    val spark = (shared ++ overrides)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
