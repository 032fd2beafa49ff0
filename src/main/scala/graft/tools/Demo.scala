package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{GraftEventLog, GraftSession}
import graft.sources.{Event, EventLogRegistry}

/**
 * End-to-end usage demo of the graft event-log connector — the flows a user
 * of the library would run. `sbt "runMain graft.tools.Demo"`.
 */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(cpus = 4)
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    // 1. create a hub, append events, batch-read through the public format
    GraftEventLog.create("demo", 4)
    val log = EventLogRegistry.get("demo")
    for (p <- 0 until 4; i <- 0 until 100)
      log.append(p, Event(s"""{"p":$p,"i":$i}""".getBytes, i * 1000000L,
        properties = Map("i" -> i.toString)))
    val df = spark.read.format("graft-eventlog").option("name", "demo").load()
    println(s"[1] batch read count = ${df.count()} (expect 400)")
    df.select($"partition", $"sequenceNumber", col("body").cast("string")).show(3, false)

    // 2. position + predicate narrowed scan
    val narrowed = spark.read.format("graft-eventlog").option("name", "demo")
      .option("startingPosition", """{"seqNo":90}""").load()
      .filter($"sequenceNumber" < 95)
    println(s"[2] narrowed scan count = ${narrowed.count()} (expect 20)")
    narrowed.explain("formatted")

    // 3. metadata-only count (no scan)
    println(s"[3] O(1) count = ${GraftEventLog.count("demo")} (expect 400)")

    // 4. rate-limited streaming with checkpoint recovery
    val tmp = java.nio.file.Files.createTempDirectory("demo").toString
    def stream(): Unit = {
      val q = spark.readStream.format("graft-eventlog").option("name", "demo")
        .option("maxEventsPerTrigger", "100").load()
        .groupBy($"partition").agg(count("*").as("n"), max("sequenceNumber").as("maxSeq"))
        .writeStream.outputMode("complete").format("console")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    println("[4] streaming pass 1 (4 partitions x 100):")
    stream()
    for (p <- 0 until 4; i <- 100 until 110)
      log.append(p, Event(s"late-$p-$i".getBytes, i * 1000000L))
    println("[4] streaming pass 2 after appending 40 more (recovers from checkpoint):")
    stream()

    // 5. sink: write a DataFrame into a new hub, read it back
    GraftEventLog.create("demo-out", 2)
    (0 until 10).map(i => (s"msg-$i", (i % 2).toString)).toDF("body", "partition")
      .write.mode("append").format("graft-eventlog").option("name", "demo-out").save()
    val back = spark.read.format("graft-eventlog").option("name", "demo-out").load()
    println(s"[5] sink roundtrip count = ${back.count()} (expect 10)")

    // 6. parquet-seeded event log from driver testdata
    val seeded = GraftEventLog.readParquetLog(spark, "/root/testdata/sf0.001/events.parquet", 4)
    println(s"[6] parquet-seeded log count = ${seeded.count()}")
    seeded.groupBy($"partition").count().orderBy($"partition").show()

    // 7. typed application properties: erased to strings in the row schema
    graft.sources.EventLogRegistry.drop("demo-typed")
    val typedLog = EventLogRegistry.create("demo-typed", 1)
    typedLog.append(0, graft.sources.PropertyErasure.event(
      "payload".getBytes, 0L,
      Map("count" -> 42, "score" -> 3.5, "tags" -> Seq("a", "b"),
        "nested" -> Map("k" -> true), "note" -> "plain")))
    val typedRow = spark.read.format("graft-eventlog").option("name", "demo-typed")
      .load().select($"properties").collect().head.getAs[Map[String, String]](0)
    println(s"[7] typed properties erased: ${typedRow.toSeq.sortBy(_._1).mkString(", ")}")

    // probes: bad write schema + unknown hub + aged-out data
    def expectError(label: String)(f: => Unit): Unit =
      try { f; println(s"[probe] $label: NO ERROR (unexpected)") }
      catch { case e: Throwable =>
        println(s"[probe] $label: ${e.getMessage.linesIterator.next()}") }
    expectError("missing body column") {
      Seq(1, 2).toDF("x").write.mode("append")
        .format("graft-eventlog").option("name", "demo-out").save()
    }
    expectError("unknown hub") {
      spark.read.format("graft-eventlog").option("name", "nope").load().count()
    }
    expectError("aged-out start with failOnDataLoss=true") {
      log.ageOut(0, 50)
      spark.read.format("graft-eventlog").option("name", "demo")
        .option("failOnDataLoss", "true")
        .option("startingPosition", """{"seqNo":0}""").load().count()
    }
    spark.stop()
    println("DEMO OK")
  }
}
