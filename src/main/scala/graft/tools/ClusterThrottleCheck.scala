package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/**
 * Multi-JVM proof that slow-partition throttling (ref R3) works WITHOUT the
 * shared-JVM registry: `local-cluster[2,1,1024]` launches executors as
 * SEPARATE processes, so reader-side `PartitionThrottler.record` calls land
 * in executor JVMs the driver never sees — only the ReceiveSample
 * accumulator transport (the stand-in for the reference's
 * PartitionPerformanceReceiver RpcEndpoint,
 * PartitionPerformanceReceiver.scala:27-71) can move the driver's factors.
 *
 * One partition is made slow with a per-row sleep DOWNSTREAM of the scan —
 * the reader's elapsed covers its task's whole pull loop, so consumer-side
 * latency inflates that partition's measured receive time exactly as a slow
 * broker link would. Prints `CLUSTER THROTTLE OK factors=...` when the slow
 * partition's factor dropped below 1 while every healthy partition stayed
 * at 1 (ThrottlerSpec asserts on that line from a subprocess).
 */
object ClusterThrottleCheck {
  /** The `--add-opens=…` flags this JVM was started with (build.sbt's list,
    * which Spark needs outside spark-submit). The JVM reports each in that
    * single-argument form, which both `java` and
    * `spark.executor.extraJavaOptions` accept, so a child JVM or executor
    * gets exactly the opens its parent has. */
  def jvmAddOpens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq.filter(_.startsWith("--add-opens="))
  }

  def main(args: Array[String]): Unit = {
    // the worker's executor launcher resolves the Spark distribution from
    // SPARK_HOME / spark.test.home; point it at the image's install
    if (System.getenv("SPARK_HOME") == null)
      System.setProperty("spark.test.home", "/opt/spark")
    // spark.* system properties are rejected in executor extraJavaOptions
    val spark = GraftSession(cpus = 4, master = "local-cluster[2,1,1024]", overrides = Map(
      "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
      "spark.executor.extraJavaOptions" -> jvmAddOpens.mkString(" ")))
    try {
      import spark.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft-cluster-thr").toString
      val root = s"$base/log"
      // seed a durable log (file-backed — the only backend a multi-JVM
      // executor can read; the in-memory registry is per-process)
      spark.range(4L * 3000L).select(
          concat(lit("e"), col("id")).as("body"),
          (col("id") % 4).cast("string").as("partition"))
        .write.mode("append").format("graft-eventlog")
        .option("durablePath", root).option("partitions", "4").save()

      val slowPerRow = udf { (p: String) =>
        if (p == "0") Thread.sleep(3L)
        1
      }
      val conf = graft.sources.EventLogConf(Map(
        "durablepath" -> root, "partitions" -> "4"))
      graft.sources.PartitionThrottler.drop(conf.throttlerKey) // fresh tracker
      val q = spark.readStream.format("graft-eventlog")
        .option("durablePath", root).option("partitions", "4")
        .option("slowPartitionAdjustment", "true")
        .option("maxAcceptableBatchReceiveTime", "1")
        .option("maxEventsPerTrigger", "400")
        .load()
        .select(slowPerRow(col("partition")).as("x"))
        .writeStream.format("noop")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(240000)
      q.stop()

      val f = graft.sources.PartitionThrottler
        .forLog(conf.throttlerKey, conf.maxAcceptableBatchReceiveTimeMs).factors
      val factors = (0 until 4).map(p => p -> f(p)).toMap
      val ok = factors(0) < 0.9 && (1 until 4).forall(p => factors(p) == 1.0)
      // scalastyle:off println
      if (ok) println(s"CLUSTER THROTTLE OK factors=$factors")
      else println(s"CLUSTER THROTTLE FAILED factors=$factors")
      // scalastyle:on println
      if (!ok) sys.exit(1)
    } finally spark.stop()
  }
}
