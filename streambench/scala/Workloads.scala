package streambench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftEventLog
import graft.functions.TextFunctions
import graft.operators.{CorpusOps, Dedup}
import graft.sources.{DurableEventLog, Event, EventLogRegistry}

/** One generated input event: the source partition it is appended to and
  * the event itself (steady-phase events get their due time stamped into
  * `enqueuedTimeMicros` when the generator appends them). */
final case class Pending(partition: Int, event: Event)

/** Everything a workload run feeds the program, generated from the seed
  * alone. `expected` is the generator's record the output check compares
  * against; `digest` fingerprints the inputs. */
final class Inputs(val backlog: Array[Pending], val steady: Array[Pending],
    val corpus: Seq[(String, String)], val expected: Map[String, Any], val digest: String)

/** Paths and names of one instance of a workload (the measured one or the
  * warm-up one). */
final class Instance(val tag: String, val dir: File) {
  val logName: String = s"streambench_$tag"
  def path(rel: String): String = new File(dir, rel).getAbsolutePath
}

/** Seeded text generator shared by the workloads. */
final class TextGen(seed: Long) {
  val rng = new java.util.Random(seed)
  private val en = Array("the", "a", "is", "of", "and")
  private val fr = Array("le", "la", "les", "et", "une")
  // vocabulary words are 4-9 letters: never one of the (<= 3-letter)
  // language-marker words, so only the markers decide a document's language
  val vocab: Array[String] = Array.fill(20000) {
    val n = 4 + rng.nextInt(6)
    new String(Array.fill(n)(('a' + rng.nextInt(26)).toChar))
  }
  def word(): String = vocab(rng.nextInt(vocab.length))

  def letters(n: Int): String = {
    val c = new Array[Char](n)
    var i = 0
    while (i < n) {
      c(i) = if (i > 0 && rng.nextInt(7) == 0) ' ' else ('a' + rng.nextInt(26)).toChar
      i += 1
    }
    if (c(n - 1) == ' ') c(n - 1) = 'x'
    new String(c)
  }

  private def prose(nWords: Int, markers: Array[String]): String = {
    val w = Array.tabulate(nWords) { i =>
      val t = if (rng.nextInt(8) == 0) markers(rng.nextInt(markers.length)) else word()
      if (i % 13 == 12) t + "." else t
    }
    w.mkString(" ")
  }
  def docWords(): Int = 170 + rng.nextInt(120)
  def english(): String = prose(docWords(), en)
  def french(): String = prose(docWords(), fr)
  /** English, well-formed, but four distinct words cycled: the quality
    * filter's duplicate-word rule rejects it. */
  def repetitive(): String = {
    val ws = Array("the", word(), "of", word())
    Array.tabulate(docWords())(i => ws(i % 4)).mkString(" ")
  }
  /** Replace ~1% of the words (at least one): Jaccard of the 3-shingle sets
    * stays above 0.9, far over the 0.5 dedup threshold. */
  def lightEdit(doc: String): String = {
    val w = doc.split(" ")
    val n = math.max(1, w.length / 100)
    (0 until n).foreach(_ => w(rng.nextInt(w.length)) = word())
    w.mkString(" ")
  }
}

object Digest {
  def of(events: Iterator[Pending], extra: Iterator[String] = Iterator.empty): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    events.foreach { p =>
      md.update(p.partition.toString.getBytes(UTF_8))
      md.update(p.event.body)
      Option(p.event.partitionKey).foreach(k => md.update(k.getBytes(UTF_8)))
      p.event.properties.toSeq.sorted.foreach { case (k, v) =>
        md.update(k.getBytes(UTF_8)); md.update(v.getBytes(UTF_8))
      }
    }
    extra.foreach(s => md.update(s.getBytes(UTF_8)))
    md.digest().take(16).map(b => f"${b & 0xff}%02x").mkString
  }
  def crc(b: Array[Byte]): Long = { val c = new CRC32; c.update(b); c.getValue }
}

/** A streaming workload: input generation, preparation, the query, and the
  * output check. */
abstract class Workload(val params: Map[String, String]) {
  def name: String
  def p(k: String): String = params.getOrElse(k, sys.error(s"$name: missing parameter $k"))
  def partitions: Int = Workloads.Partitions
  def maxPerTrigger: Long = p("max_events_per_trigger").toLong

  def generate(seed: Long, backlog: Int, steady: Int): Inputs
  /** Create the instance's log, append the backlog events `initial`; build
    * any index. */
  def prepare(spark: SparkSession, in: Inputs, inst: Instance,
      initial: Range = Range(0, Int.MaxValue)): Unit = {
    EventLogRegistry.drop(inst.logName)
    val log = EventLogRegistry.create(inst.logName, partitions)
    initial.iterator.takeWhile(_ < in.backlog.length)
      .foreach { i => val e = in.backlog(i); log.append(e.partition, e.event) }
  }
  def source(spark: SparkSession, inst: Instance): DataFrame =
    spark.readStream.format(GraftEventLog.Format)
      .option("name", inst.logName)
      .option("maxEventsPerTrigger", maxPerTrigger.toString)
      .option("dropMetricsScope", s"sb_${inst.tag}")
      .load()
  def start(spark: SparkSession, inst: Instance, onWriteBatch: WriteBatchHook): StreamingQuery
  /** Observed output, in the shape the analysis compares with `expected`. */
  def observe(spark: SparkSession, inst: Instance, trace: Tracer): Map[String, Any]
  /** Workload-specific numbers measured after the run (read-back, index size). */
  def after(spark: SparkSession, inst: Instance, trace: Tracer): Map[String, Any] = Map.empty
}

/** Timing hook around the `writeBatch` callback (spans in traced runs). */
trait WriteBatchHook {
  def apply[T](epoch: Long)(f: => T): T
}

object Workloads {
  /** Source partitions of every workload's log. */
  val Partitions = 4

  def apply(name: String, params: Map[String, String]): Workload = name match {
    case "neardup_stream" => new NeardupStream(params)
    case "durable_relay"  => new DurableRelay(params)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def filesUnder(path: String): (Long, Long) = {
    val root = new File(path)
    if (!root.exists()) (0L, 0L)
    else {
      val fs = org.apache.commons.io.FileUtils.listFiles(root, null, true)
      import scala.jdk.CollectionConverters._
      val xs = fs.asScala.toSeq
      (xs.size.toLong, xs.map(_.length()).sum)
    }
  }
}

/** Near-duplicate filtering of a document stream against a persisted MinHash
  * index of a corpus, behind the quality filter. */
final class NeardupStream(params: Map[String, String]) extends Workload(params) {
  val name = "neardup_stream"

  /** Documents in the indexed corpus. */
  val CorpusDocs = 500

  def generate(seed: Long, backlog: Int, steady: Int): Inputs = {
    val g = new TextGen(seed)
    val rng = g.rng
    val corpus = Array.tabulate(CorpusDocs)(i => (s"c$i", g.english()))
    val shares = Seq("copy", "edit", "reject", "fresh").map(k => p(s"share_$k").toDouble)
    val survivors = mutable.ArrayBuffer.empty[Seq[Any]]
    val all = Array.tabulate(backlog + steady) { i =>
      val id = s"d$i"
      val u = rng.nextDouble()
      val text =
        if (u < shares(0)) corpus(rng.nextInt(corpus.length))._2
        else if (u < shares(0) + shares(1)) g.lightEdit(corpus(rng.nextInt(corpus.length))._2)
        else if (u < shares(0) + shares(1) + shares(2)) {
          if (rng.nextBoolean()) g.french() else g.repetitive()
        } else {
          val t = g.english()
          survivors += Seq(id, t.split(" ", -1).length.toLong)
          t
        }
      Pending(rng.nextInt(partitions), Event(text.getBytes(UTF_8), 0L,
        properties = Map("doc_id" -> id)))
    }
    val expected = Map[String, Any]("kind" -> "doc_ids", "survivors" -> survivors.toSeq)
    new Inputs(all.take(backlog), all.drop(backlog), corpus.toSeq, expected,
      Digest.of(all.iterator, corpus.iterator.map(_._2)))
  }

  override def prepare(spark: SparkSession, in: Inputs, inst: Instance, initial: Range): Unit = {
    super.prepare(spark, in, inst, initial)
    import spark.implicits._
    Dedup.saveMinHashIndex(in.corpus.toDF("doc_id", "text"), "doc_id", "text", inst.path("index"))
  }

  private val quality =
    CorpusOps.qualityReason(col("text"), 10, 100000, "en", 0.3, 0.9) === "keep"

  def start(spark: SparkSession, inst: Instance, hook: WriteBatchHook): StreamingQuery = {
    val out = inst.path("out")
    val docs = source(spark, inst)
      .select(col("properties").getItem("doc_id").as("doc_id"), col("body").cast("string").as("text"))
      .filter(quality)
    // drop counters of the operators built here are scoped to this query
    Dedup.withDropScope(s"sb_${inst.tag}") {
      Dedup.dedupStreamAgainstMinHashIndex(docs, "doc_id", "text", inst.path("index")) {
        (fresh: DataFrame, epoch: Long) =>
          hook(epoch) {
            fresh.select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast("long").as("tokens"))
              .write.mode("overwrite").parquet(s"$out/epoch=$epoch")
          }
      }.option("checkpointLocation", inst.path("ckpt")).start()
    }
  }

  def observe(spark: SparkSession, inst: Instance, trace: Tracer): Map[String, Any] = {
    val out = inst.path("out")
    val rows =
      if (!new File(out).exists()) Array.empty[org.apache.spark.sql.Row]
      else spark.read.parquet(out).select(col("doc_id"), col("tokens")).collect()
    Map("survivors" -> rows.map(r => Seq(r.getString(0), r.getLong(1))).toSeq)
  }

  override def after(spark: SparkSession, inst: Instance, trace: Tracer): Map[String, Any] = {
    if (!trace.enabled) return Map.empty
    import spark.implicits._
    // the quality layer's own verdict over every offered document (batch
    // read of the same log), the denominator of the survivor ratio
    val docs = GraftEventLog.read(spark, inst.logName)
      .select(col("properties").getItem("doc_id").as("doc_id"), col("body").cast("string").as("text"))
    val total = docs.count()
    val kept = docs.filter(quality).count()
    val (files, bytes) = Workloads.filesUnder(inst.path("index"))
    val drops = Dedup.scopedDropStats(s"sb_${inst.tag}").values.map(_.rows).sum
    // one fixed batch probed against the index built in setup plus
    // everything the run admitted
    val batch = docs.limit(500).localCheckpoint()
    val n = batch.count()
    val probeMs = trace.median(3) {
      trace.span("probe.dedup_batch", -1) {
        Dedup.dedupAgainstMinHashIndex(batch, "doc_id", "text", inst.path("index")).count()
      }
    }
    Map("offered_docs" -> total, "quality_kept" -> kept, "index_files" -> files,
      "index_bytes" -> bytes, "drop_rows" -> drops,
      "batch_probe_ms" -> probeMs, "batch_probe_docs" -> n)
  }
}

/** ~1 KB keyed events relayed from the in-memory log into the durable
  * file-backed log through the graft sink, then read back. */
final class DurableRelay(params: Map[String, String]) extends Workload(params) {
  val name = "durable_relay"
  /** Partition keys of the relayed events. */
  val Keys = 64

  def generate(seed: Long, backlog: Int, steady: Int): Inputs = {
    val g = new TextGen(seed)
    val rng = g.rng
    // the same number of keys routes to every partition, so no seed skews
    // the sink's output partitions
    val perPartition = Keys / partitions
    val byPartition = Array.fill(partitions)(mutable.ArrayBuffer.empty[String])
    var k = 0
    while (byPartition.exists(_.size < perPartition)) {
      val key = s"key-$k-${g.word()}"
      val b = byPartition(Math.floorMod(key.hashCode, partitions))
      if (b.size < perPartition) b += key
      k += 1
    }
    val keys = byPartition.flatten
    val bodyBytes = p("body_bytes").toInt
    val byId = new Array[Seq[Long]](backlog + steady)
    val all = Array.tabulate(backlog + steady) { i =>
      val key = keys(rng.nextInt(keys.length))
      val body = g.letters(bodyBytes).getBytes(UTF_8)
      // the sink routes a keyed row to floorMod(key.hashCode, partitions)
      byId(i) = Seq(Math.floorMod(key.hashCode, partitions).toLong, Digest.crc(body))
      Pending(rng.nextInt(partitions), Event(body, 0L,
        properties = Map("pk" -> key, "id" -> i.toString)))
    }
    val expected = Map[String, Any]("kind" -> "relay", "events" -> byId.toSeq)
    new Inputs(all.take(backlog), all.drop(backlog), Nil, expected, Digest.of(all.iterator))
  }

  override def prepare(spark: SparkSession, in: Inputs, inst: Instance, initial: Range): Unit = {
    super.prepare(spark, in, inst, initial)
    DurableEventLog.create(inst.path("durable"), partitions)
  }

  def start(spark: SparkSession, inst: Instance, hook: WriteBatchHook): StreamingQuery =
    source(spark, inst)
      .select(col("body"), col("properties").getItem("pk").as("partitionKey"), col("properties"))
      .writeStream.format(GraftEventLog.Format)
      .option("durablePath", inst.path("durable"))
      .option("partitions", partitions.toString)
      .option("checkpointLocation", inst.path("ckpt"))
      .start()

  private def readBack(spark: SparkSession, inst: Instance): DataFrame =
    spark.read.format(GraftEventLog.Format)
      .option("durablePath", inst.path("durable"))
      .option("partitions", partitions.toString).load()

  /** Timed read-back of the whole durable log after dropping every cached
    * footer: partition, id and body checksum of every event. */
  def observe(spark: SparkSession, inst: Instance, trace: Tracer): Map[String, Any] = {
    DurableEventLog.invalidate(inst.path("durable"))
    val t0 = System.nanoTime()
    val rows = trace.span("readback", -1) {
      readBack(spark, inst)
        .select(col("partition").cast("long"), col("properties").getItem("id").cast("long"),
          crc32(col("body")))
        .collect()
    }
    Map("events" -> rows.map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
      "readback_s" -> (System.nanoTime() - t0) / 1e9)
  }

  override def after(spark: SparkSession, inst: Instance, trace: Tracer): Map[String, Any] = {
    if (!trace.enabled) return Map.empty
    val (files, bytes) = Workloads.filesUnder(inst.path("durable") + "/segments")
    Map("segments" -> files, "segment_bytes" -> bytes)
  }
}
