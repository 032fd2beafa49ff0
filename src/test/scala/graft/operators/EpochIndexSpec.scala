package graft.operators

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The epoch-commit protocol of the persisted indexes ([[EpochIndex]])
  * under injected crashes, for all five families, plus its bounded-growth
  * and refusal contracts. */
class EpochIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val vocab = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
    "kilo lima mike november oscar papa quebec romeo sierra tango uniform victor " +
    "whiskey xray yankee zulu amber basil cedar dune ember fjord grove heath " +
    "inlet jade knoll loch").split(" ").toSeq
  /** A 14-word text drawn from a seeded generator: distinct seeds give
    * texts far apart under every family's similarity. */
  private def text(seed: Int): String = {
    val r = new java.util.Random(1000L + seed)
    Seq.fill(14)(vocab(r.nextInt(vocab.size))).mkString(" ")
  }
  private val corpus = (0 until 5).map(i => i.toLong -> text(i))
  // three stream epochs: each batch re-sends a text the previous epoch (or
  // the saved corpus) admitted, which a dedup family must drop
  private val batches = Seq(
    Seq(10L -> text(10), 11L -> text(11), 12L -> text(0)),
    Seq(20L -> text(20), 21L -> text(21), 22L -> text(10)),
    Seq(30L -> text(20), 31L -> text(31)))
  private val textOf = (corpus ++ batches.flatten).toMap
  private def df(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
  private def media(d: DataFrame) = d.select($"doc_id".as("media_id"),
      $"text".cast("binary").as("content"), lit("image").as("format"), lit("s").as("source"))
    .as[Multimodal.MediaRow]

  /** One family as the protocol sees it: how to build it, its probe (the
    * survivors of a batch, `(doc_id, text)`), its epoch frames, and which
    * stream-admitted texts (or, for BM25, how many documents) it shows. */
  private case class Fam(family: EpochIndex.Family,
      save: String => Unit,
      probe: (DataFrame, String, Option[Long]) => DataFrame,
      frames: (DataFrame, String) => EpochIndex.Manifest => EpochIndex.Frames,
      dedups: Boolean = true,
      epoch: Option[(DataFrame, String, Long) => EpochIndex.Probed[DataFrame]] = None)

  /** Rows of the committed stream epochs (>= 0) of one table. */
  private def streamRows(f: EpochIndex.Family, path: String, table: String): Option[DataFrame] = {
    val m = EpochIndex.committed(spark, path, f)
    val live = m.copy(epochs = m.epochs.filter(_ >= 0))
    if (live.epochs.isEmpty) None else Some(EpochIndex.scan(spark, path, f, live, table))
  }

  /** The batch texts the index shows as admitted by stream epochs. */
  private def indexedTexts(f: Fam, path: String): Set[String] = {
    def ids(table: String, c: String) = streamRows(f.family, path, table)
      .map(_.select(col(c).cast("long")).as[Long].collect().map(textOf).toSet)
      .getOrElse(Set.empty)
    f.family.tag match {
      case "graft-hash-index-v1" =>
        streamRows(f.family, path, "hashes").map { h =>
          df(batches.flatten).select($"text", xxhash64($"text").as("h0"),
              xxhash64(lit(1L), $"text").as("h1"))
            .join(h, Seq("h0", "h1")).select($"text").as[String].collect().toSet
        }.getOrElse(Set.empty)
      case "graft-phash-index-v1" => ids("hashes", "media_id")
      case "graft-minhash-index-v1" => ids("shingles", "doc_id")
      case "graft-fuzzy-index-v1" => streamRows(f.family, path, "ids")
        .map(_.select($"__lkey").as[String].collect().toSet).getOrElse(Set.empty)
    }
  }

  /** Documents counted by the BM25 stats of the stream epochs. */
  private def bm25StreamDocs(path: String): Long =
    streamRows(CorpusOps.Bm25Stats, path, "meta")
      .map(_.agg(sum($"n_docs")).head().getLong(0)).getOrElse(0L)

  private val fams: Seq[(String, Fam)] = Seq(
    "content-hash" -> Fam(Dedup.HashIndex,
      p => Dedup.saveHashIndex(df(corpus), Seq($"text"), p),
      (b, p, ex) => Dedup.dedupAgainstHashIndex(b, Seq($"text"), p, excludeEpoch = ex),
      (d, p) => Dedup.hashFrames(d, Seq($"text"), p)),
    "MinHash" -> Fam(Dedup.MinHashIndex,
      p => Dedup.saveMinHashIndex(df(corpus), "doc_id", "text", p),
      (b, p, ex) => Dedup.dedupAgainstMinHashIndex(b, "doc_id", "text", p, excludeEpoch = ex),
      (d, _) => Dedup.minHashFrames(d, "doc_id", "text")),
    // the stream form's eager epoch body, which brings its own frames
    "MinHash stream epoch" -> Fam(Dedup.MinHashIndex,
      p => Dedup.saveMinHashIndex(df(corpus), "doc_id", "text", p),
      (b, p, ex) => Dedup.dedupAgainstMinHashIndex(b, "doc_id", "text", p, excludeEpoch = ex),
      (d, _) => Dedup.minHashFrames(d, "doc_id", "text"),
      epoch = Some((b, p, id) => Dedup.minHashEpoch(b, "doc_id", "text", p, 0.5, 1000, id))),
    "phash" -> Fam(Multimodal.PhashIndex,
      p => Multimodal.savePhashIndex(media(df(corpus)), p),
      (b, p, ex) => Multimodal.dedupAgainstPhashIndex(media(b), p, excludeEpoch = ex)
        .select($"media_id".as("doc_id"), $"content".cast("string").as("text")),
      (d, _) => Multimodal.phashFrames(media(d), Multimodal.StubCodec)),
    // the fuzzy family's probe: exact-key admission against the committed
    // `ids` table, read through the layer's scan
    "fuzzy" -> Fam(Fuzzy.FuzzyIndex,
      p => Fuzzy.saveFuzzyIndex(df(corpus), "doc_id", "text", maxDist = 1, p),
      (b, p, ex) => b.join(EpochIndex.scan(spark, p, Fuzzy.FuzzyIndex,
          EpochIndex.committed(spark, p, Fuzzy.FuzzyIndex), "ids", ex).select($"__lkey"),
        $"text" === $"__lkey", "left_anti"),
      (d, _) => Fuzzy.fuzzyFrames(d, "doc_id", "text")),
    // BM25 stats admit every document: no probe suppresses anything
    "BM25" -> Fam(CorpusOps.Bm25Stats,
      p => CorpusOps.saveBm25Stats(df(corpus), "doc_id", "text", p),
      (b, _, _) => b,
      (d, _) => CorpusOps.bm25StatsOf(d, "text"), dedups = false))

  private final class Injected(point: String) extends RuntimeException(s"injected at $point")

  /** Points an epoch can fail at: before `writeBatch`, in it before or
    * after its write, in the staging of the index tables (the last table
    * fails mid-job), and after the manifest commit but before Spark's. */
  private val points = Seq("probe", "write-before", "write-after", "stage", "commit")

  /** Runs the three epochs through [[EpochIndex.runEpoch]] with `fault`
    * injected into epoch 1, then replays epoch 1 from the same checkpoint
    * or abandons it. Returns the output ids and the index path. */
  private def scenario(f: Fam, saved: String, fault: Option[String],
      replay: Boolean): Set[Long] = {
    val base = java.nio.file.Files.createTempDirectory("epoch-crash").toString
    val path = s"$base/idx"
    val out = s"$base/out"
    FileUtils.copyDirectory(new java.io.File(saved), new java.io.File(path))
    def attempt(e: Int, at: Option[String]): Unit = {
      def injectProbe(): Unit = if (at.contains("probe")) throw new Injected("probe")
      def injectStage(fr: EpochIndex.Frames): EpochIndex.Frames =
        if (!at.contains("stage")) fr
        else fr.init :+ (fr.last._1 ->
          fr.last._2.filter(assert_true(lit(false), lit("injected at stage")).isNull))
      def write(fresh: DataFrame, id: Long): Unit = {
        if (at.contains("write-before")) throw new Injected("write-before")
        fresh.write.mode("overwrite").parquet(s"$out/epoch=$id")
        if (at.contains("write-after")) throw new Injected("write-after")
      }
      f.epoch match {
        case None =>
          EpochIndex.runEpoch(df(batches(e)), e.toLong, path, f.family, admit = true)(
            (b, id) => {
              injectProbe()
              f.probe(b, path, Some(id)).select($"doc_id", $"text")
            })(
            (fresh, m) => injectStage(f.frames(fresh, path)(m)))(write)
        case Some(body) =>
          EpochIndex.runProbed(df(batches(e)), e.toLong, path, f.family, admit = true)(
            (b, id) => {
              injectProbe()
              val p = body(b, path, id)
              p.copy(frames = m => injectStage(p.frames(m)))
            })(write)
      }
    }
    val lastEpoch = if (fault.isEmpty || replay) 2 else 1
    for (e <- 0 to lastEpoch) fault.filter(_ => e == 1) match {
      case None => attempt(e, None)
      case Some("commit") =>
        attempt(e, None) // epoch committed; Spark's commit log never written
        if (replay) attempt(e, None)
      case Some(p) =>
        intercept[Exception](attempt(e, Some(p)))
        if (p == "write-before")
          // the ADVICE case: staging finished while the write failed, and
          // the staged epoch is on disk but not committed
          assert(f.family.tables.forall(t => new java.io.File(s"$path/$t/epoch=1").isDirectory),
            s"${f.family.name}: staging did not finish beside the failed write")
        if (replay) attempt(e, None)
    }
    val output = if (!new java.io.File(out).exists()) Seq.empty[(Long, String)]
      else spark.read.parquet(out).select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val outTexts = output.map(_._2).toSet
    // probe-visible index ⊆ committed output
    if (f.dedups) {
      val shown = indexedTexts(f, path)
      assert(shown.subsetOf(outTexts),
        s"${f.family.name} $fault replay=$replay: indexed but never output: ${shown -- outTexts}")
    } else {
      val n = bm25StreamDocs(path)
      assert(if (replay || fault.isEmpty) n == output.size else n <= output.size,
        s"BM25 $fault replay=$replay: stats count $n docs, output holds ${output.size}")
    }
    // a fresh probe of the faulted epoch's batch suppresses only texts the
    // output or the corpus holds
    val kept = f.probe(df(batches(1)), path, None).select($"doc_id").as[Long].collect().toSet
    val suppressed = batches(1).filterNot(r => kept(r._1)).map(_._2).toSet
    assert(suppressed.subsetOf(outTexts ++ corpus.map(_._2)),
      s"${f.family.name} $fault replay=$replay: a fresh probe suppresses " +
        s"${suppressed -- outTexts -- corpus.map(_._2)}, which never reached the output")
    FileUtils.deleteQuietly(new java.io.File(base))
    output.map(_._1).toSet
  }

  for ((name, f) <- fams) test(s"$name index: a crash between any two epoch actions keeps index ⊆ output; replay == single run") {
    val saved = java.nio.file.Files.createTempDirectory("epoch-saved").toString + "/idx"
    f.save(saved)
    val single = scenario(f, saved, None, replay = false)
    assert(single == (if (f.dedups) Set(10L, 11L, 20L, 21L, 31L) else batches.flatten.map(_._1).toSet))
    for (p <- points; replay <- Seq(true, false)) {
      val got = scenario(f, saved, Some(p), replay)
      if (replay) assert(got == single, s"$name fault at $p: replay gave $got, single run $single")
    }
    FileUtils.deleteQuietly(new java.io.File(saved).getParentFile)
  }

  test("a failed survivor write suppresses nothing once its checkpoint is abandoned (stream API)") {
    // writeBatch throws in the second epoch after the index tables were
    // staged; the stream is given up. Documents that never reached the
    // output must not be suppressed by any later probe of the index.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("epoch-abandon").toString
    val hashPath = s"$base/hash"
    val mhPath = s"$base/mh"
    Dedup.saveHashIndex(df(corpus), Seq($"text"), hashPath)
    Dedup.saveMinHashIndex(df(corpus), "doc_id", "text", mhPath)
    def failing(epochToFail: Long)(fresh: DataFrame, epochId: Long): Unit = {
      fresh.count()
      if (epochId == epochToFail) throw new Injected("writeBatch")
    }
    Seq[(String, DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])](
      "hash" -> (s => Dedup.dedupStreamAgainstHashIndex(s, Seq($"text"), hashPath)(failing(1L))),
      "minhash" -> (s => Dedup.dedupStreamAgainstMinHashIndex(s, "doc_id", "text", mhPath)(failing(1L)))
    ).foreach { case (name, start) =>
      val input = MemoryStream[(Long, String)]
      val q = start(input.toDF().toDF("doc_id", "text")).start()
      try {
        input.addData(batches(0): _*)
        q.processAllAvailable()
        input.addData(batches(1): _*)
        intercept[Exception](q.processAllAvailable())
      } finally q.stop()
      val failed = df(batches(1).take(2)) // 20, 21: new texts, never output
      val kept = (name match {
        case "hash" => Dedup.dedupAgainstHashIndex(failed, Seq($"text"), hashPath)
        case _ => Dedup.dedupAgainstMinHashIndex(failed, "doc_id", "text", mhPath)
      }).select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(20L, 21L), s"$name: the abandoned epoch's documents are suppressed: $kept")
    }
    FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("a crash after the manifest commit but before Spark's commit replays the same survivors") {
    val base = java.nio.file.Files.createTempDirectory("epoch-replay").toString
    val path = s"$base/idx"
    Dedup.saveMinHashIndex(df(corpus), "doc_id", "text", path)
    def feed(rows: Seq[(Long, String)]): Unit =
      df(rows).coalesce(1).write.mode("append").parquet(s"$base/src")
    def run(): Unit = {
      val q = Dedup.dedupStreamAgainstMinHashIndex(
          spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", "1").parquet(s"$base/src"),
          "doc_id", "text", path) { (fresh, epochId) =>
        fresh.write.mode("overwrite").parquet(s"$base/out/epoch=$epochId")
      }.option("checkpointLocation", s"$base/cp").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish")
    }
    batches.take(2).foreach(feed); run()
    // epoch 1 committed its index admission; drop Spark's commit of it
    val lastCommit = new java.io.File(s"$base/cp/commits/1")
    assert(lastCommit.delete())
    new java.io.File(s"$base/cp/commits/.1.crc").delete()
    assert(EpochIndex.committed(spark, path, Dedup.MinHashIndex).epochs.contains(1L))
    feed(batches(2)); run() // replays epoch 1, then runs epoch 2
    val got = spark.read.parquet(s"$base/out").select($"doc_id").as[Long].collect().toSet
    assert(got == Set(10L, 11L, 20L, 21L, 31L), s"survivors after replay: $got")
    FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("30 stream epochs then a compaction leave 2 manifests, one directory per table, no orphans") {
    val base = java.nio.file.Files.createTempDirectory("epoch-growth").toString
    val path = s"$base/idx"
    Dedup.saveHashIndex(df(corpus), Seq($"text"), path)
    val fs = EpochIndex.indexFs(spark, path)
    def manifests() = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .count(_.getPath.getName.startsWith("manifest-"))
    for (e <- 0 until 30) {
      val batch = df(Seq((100L + e) -> text(100 + e)))
      def attempt(fail: Boolean): Unit =
        EpochIndex.runEpoch(batch, e.toLong, path, Dedup.HashIndex, admit = true)(
          (b, id) => Dedup.dedupAgainstHashIndex(b, Seq($"text"), path, excludeEpoch = Some(id)))(
          (fresh, m) => Dedup.hashFrames(fresh, Seq($"text"), path)(m))(
          (fresh, id) => { fresh.count(); if (fail) throw new Injected("writeBatch") })
      // every fifth epoch fails once and replays, every seventh is abandoned
      if (e % 5 == 0) { intercept[Injected](attempt(fail = true)); attempt(fail = false) }
      else if (e % 7 == 0) intercept[Injected](attempt(fail = true))
      else attempt(fail = false)
      assert(manifests() <= 2)
    }
    val committed = EpochIndex.committed(spark, path, Dedup.HashIndex).epochs
    assert(committed.size == 1 + 30 - Seq(7, 14, 21, 28).size)
    assert(Dedup.compactHashIndex(spark, path) == committed.size)
    assert(manifests() <= 2)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/hashes"))
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(dirs.length == 1 && dirs.head.startsWith("epoch=-"), dirs.mkString(","))
    val top = fs.listStatus(new org.apache.hadoop.fs.Path(path)).map(_.getPath.getName)
      .filterNot(_.startsWith("."))
    assert(top.filterNot(_.startsWith("manifest-")).toSet == Set("hashes"), top.mkString(","))
    // the compacted index answers like the uncompacted one: every admitted
    // text drops, the abandoned epochs' texts survive
    val kept = Dedup.dedupAgainstHashIndex(
        df((0 until 30).map(e => (200L + e) -> text(100 + e))), Seq($"text"), path)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(7, 14, 21, 28).map(200L + _))
    FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("an index directory without a manifest is refused, naming the family's save function") {
    val base = java.nio.file.Files.createTempDirectory("epoch-nomanifest").toString
    // the layout an index had before manifests: data and params, no manifest
    df(corpus).write.parquet(s"$base/old/hashes/epoch=-1")
    Seq("text").toDF("key_cols").write.parquet(s"$base/old/params")
    val old = s"$base/old"
    val batch = df(batches(0))
    def refused(saveFn: String)(probe: => Any): Unit = {
      val e = intercept[IllegalStateException](probe)
      assert(e.getMessage.contains(saveFn) && e.getMessage.contains(old), e.getMessage)
    }
    refused("saveHashIndex")(Dedup.dedupAgainstHashIndex(batch, Seq($"text"), old))
    refused("saveMinHashIndex")(Dedup.dedupAgainstMinHashIndex(batch, "doc_id", "text", old))
    refused("savePhashIndex")(Multimodal.dedupAgainstPhashIndex(media(batch), old))
    refused("saveFuzzyIndex")(Fuzzy.loadFuzzyIndex(spark, old))
    refused("saveBm25Stats")(CorpusOps.loadBm25Stats(spark, old))
    refused("saveHashIndex")(Dedup.appendToHashIndex(batch, Seq($"text"), old))
    // another family's index is refused the same way
    val mh = s"$base/mh"
    Dedup.saveMinHashIndex(df(corpus), "doc_id", "text", mh)
    val e = intercept[IllegalStateException](
      Dedup.dedupAgainstHashIndex(batch, Seq($"text"), mh))
    assert(e.getMessage.contains("saveHashIndex") &&
      e.getMessage.contains("graft-minhash-index-v1"), e.getMessage)
    FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("appendToMinHashIndex cuts bands with the params stored at append time") {
    val base = java.nio.file.Files.createTempDirectory("epoch-params").toString
    val path = s"$base/idx"
    val other = s"$base/k5"
    Dedup.saveMinHashIndex(df(corpus), "doc_id", "text", path, k = 3)
    // a probe reads the k=3 params
    assert(Dedup.dedupAgainstMinHashIndex(df(batches(0)), "doc_id", "text", path)
      .count() == 2)
    // another writer rewrites the path as a k=5 index
    Dedup.saveMinHashIndex(df(corpus), "doc_id", "text", other, k = 5)
    FileUtils.deleteDirectory(new java.io.File(path))
    FileUtils.copyDirectory(new java.io.File(other), new java.io.File(path))
    val doc = df(Seq(77L -> text(77)))
    Dedup.appendToMinHashIndex(doc, "doc_id", "text", path)
    // the bands of doc 77 equal those of a k=5 index of it alone
    val ref = s"$base/ref"
    Dedup.saveMinHashIndex(doc, "doc_id", "text", ref, k = 5)
    def bands(p: String) = spark.read.parquet(s"$p/bands").filter($"doc_id" === 77L)
      .select($"band", $"bucket").as[(Int, Int)].collect().toSet
    assert(bands(path).nonEmpty && bands(path) == bands(ref),
      "the append cut its bands with stale params")
    FileUtils.deleteQuietly(new java.io.File(base))
  }
}
