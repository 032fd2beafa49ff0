package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("capPerGroup keeps exactly cap rows per group, deterministically") {
    val df = (0 until 30).map(i => (i.toLong, s"group${i % 3}", s"text body $i"))
      .toDF("id", "grp", "text")
    val capped = Sampling.capPerGroup(df, Seq($"grp"), $"text", $"id", cap = 4)
    val byGroup = capped.groupBy($"grp").count().as[(String, Long)].collect().toMap
    assert(byGroup == Map("group0" -> 4L, "group1" -> 4L, "group2" -> 4L))
    // deterministic: same selection on re-run and after reshuffling the input
    val again = Sampling.capPerGroup(df.repartition(7), Seq($"grp"), $"text", $"id", cap = 4)
    assert(capped.select($"id").as[Long].collect().toSet ==
      again.select($"id").as[Long].collect().toSet)
    // a group smaller than the cap survives whole
    val small = Sampling.capPerGroup(df.filter($"id" < 2), Seq($"grp"), $"text", $"id", 4)
    assert(small.count() == 2)
  }

  test("decontaminate flags docs overlapping the benchmark, counts matches") {
    val bench = Seq(
      (100L, "the capital of france is paris and always has been"),
      (101L, "two plus two equals four in base ten arithmetic")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "everyone knows the capital of france is paris indeed"), // leaks 100
      (1L, "two plus two equals four in base ten arithmetic obviously"), // leaks 101
      (2L, "completely unrelated text about gardening and tomatoes plants"),
      (3L, "the capital of france is paris and two plus two equals four")) // leaks both
      .toDF("doc_id", "text")
    val got = CorpusOps.decontaminate(corpus, bench, "doc_id", "text", k = 3, minShared = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 3L), got.mkString(","))
    val byDoc = got.map(r => r._1 -> r._2).toMap
    assert(byDoc(0L) == 1L && byDoc(1L) == 1L && byDoc(3L) == 2L)
    // doc 3 shares 5 shingles with bench 100 ("the capital of", "capital of
    // france", "of france is", "france is paris", "is paris and")
    assert(got.find(_._1 == 3L).get._3 == 5L)
    // hot-shingle guard: a benchmark where every doc shares one phrase
    val hotBench = (10L until 14L).map(i => (i, s"common shared phrase here x$i"))
      .toDF("doc_id", "text")
    CorpusOps.decontaminate(corpus, hotBench, "doc_id", "text",
      k = 3, minShared = 1, maxShingleDf = 3).count()
    assert(Dedup.lastDropStats("decontaminate").get.buckets > 0)
  }

  test("contaminationReport is the bench-side view of the same pairs") {
    val bench = Seq(
      (100L, "the capital of france is paris and always has been"),
      (101L, "two plus two equals four in base ten arithmetic")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "everyone knows the capital of france is paris indeed"),
      (1L, "two plus two equals four in base ten arithmetic obviously"),
      (2L, "completely unrelated text about gardening and tomatoes plants"),
      (3L, "the capital of france is paris and two plus two equals four"))
      .toDF("doc_id", "text")
    val rep = CorpusOps.contaminationReport(corpus, bench, "doc_id", "text",
        k = 3, minShared = 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // bench 100 leaked by docs 0 and 3; bench 101 by docs 1 and 3
    assert(rep.map(_._1).toSeq == Seq(100L, 101L), rep.mkString(","))
    assert(rep.forall(_._2 == 2L), rep.mkString(","))
    assert(rep.find(_._1 == 100L).get._3 == 5L) // doc 3's 5 shared shingles
    // conservation vs the doc-side view: both aggregate the same pair set
    val doc = CorpusOps.decontaminate(corpus, bench, "doc_id", "text",
        k = 3, minShared = 2)
      .as[(Long, Long, Long)].collect()
    assert(rep.map(_._2).sum == doc.map(_._2).sum)
    assert(rep.map(_._3).max == doc.map(_._3).max)
  }

  test("decontaminateStream over micro-batches equals the batch operator") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sf0001)
    val corpus = docs.filter($"source" =!= "src0")
    val bench = docs.filter($"source" === "src0")
    val expected = CorpusOps.decontaminate(corpus, bench, "doc_id", "text",
      k = 3, minShared = 2).as[(Long, Long, Long)].collect().toSet

    // stream the corpus through a log in small admission-controlled batches
    val name = "decon_stream_test"
    graft.sources.EventLogRegistry.drop(name)
    corpus.select($"text".cast("binary").as("body"),
        map(lit("doc_id"), $"doc_id".cast("string")).as("properties"))
      .write.format("graft-eventlog")
      .option("name", name).option("partitions", "2").mode("append").save()
    val stream = spark.readStream.format("graft-eventlog")
      .option("name", name).option("maxEventsPerTrigger", "64").load()
      .select($"properties"("doc_id").cast("long").as("doc_id"),
        $"body".cast("string").as("text"))
    val outDir = java.nio.file.Files.createTempDirectory("decon-stream").toString
    val q = CorpusOps.decontaminateStream(stream, bench, "doc_id", "text",
        k = 3, minShared = 2) { (report, _) =>
      report.write.mode("append").parquet(outDir)
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // genuinely multi-batch, and batch slicing is invisible in the union
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length >= 2, s"expected several micro-batches, got ${progress.length}")
    val got = spark.read.parquet(outDir)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
    graft.sources.EventLogRegistry.drop(name)
  }

  test("packSequences lays out the token stream and chunks it deterministically") {
    val docs = Seq(
      (0L, "a", ("w " * 300).trim),  // 300 tokens -> [0, 300)
      (1L, "a", ("w " * 300).trim),  // 300 tokens -> [300, 600): crosses seq 0/1
      (2L, "a", ("w " * 100).trim),  // 100 tokens -> [600, 700)
      (3L, "b", ("w " * 10).trim))   // separate group restarts at 0
      .toDF("doc_id", "source", "text")
    val packed = Sampling.packSequences(docs, Seq($"source"), $"doc_id",
        graft.functions.TextFunctions.tokenCount($"text"), maxSeqLen = 512)
      .select($"doc_id", $"n_tokens", $"token_start", $"seq_first", $"seq_last", $"seq_offset")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(packed(0) == ((0L, 300L, 0L, 0L, 0L, 0L)))
    assert(packed(1) == ((1L, 300L, 300L, 0L, 1L, 300L)), packed(1).toString)
    assert(packed(2) == ((2L, 100L, 600L, 1L, 1L, 88L)))
    assert(packed(3) == ((3L, 10L, 0L, 0L, 0L, 0L)))
    // reshuffled input packs identically (window order is the contract)
    val again = Sampling.packSequences(docs.repartition(5), Seq($"source"), $"doc_id",
        graft.functions.TextFunctions.tokenCount($"text"), maxSeqLen = 512)
      .select($"doc_id", $"token_start").as[(Long, Long)].collect().toSet
    assert(again == packed.map(p => (p._1, p._3)).toSet)
  }

  test("packSequencesBestFit: no doc spans sequences, FFD known answer, partitioning-invariant") {
    // one bucket (bucketCol = 0) so FFD order is pure (len desc, id asc):
    // lens 300, 300, 200, 200, 100, 12 at maxSeqLen 512 ->
    // FFD: bin0 = [300(d0), 200(d2), 12(d5)]; bin1 = [300(d1), 200(d3)];
    // 100(d4) fits bin1? 500+100>512 no; bin0? 512+... 512 used -> bin2
    val docs = Seq(
      (0L, "a", 300), (1L, "a", 300), (2L, "a", 200),
      (3L, "a", 200), (4L, "a", 100), (5L, "a", 12),
      (6L, "b", 512), (7L, "b", 0)) // exact-fit and zero-token edges
      .toDF("doc_id", "source", "n_tok")
    def pack(d: org.apache.spark.sql.DataFrame) =
      Sampling.packSequencesBestFit(d, Seq($"source"), $"doc_id",
          $"n_tok", maxSeqLen = 512, bucketCol = Some(lit(0)))
        .select($"id", $"n_tokens", $"seq_id", $"seq_offset")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val got = pack(docs)
    assert(got(0) == ((0L, 300L, 0L, 0L)))
    assert(got(1) == ((1L, 300L, 1L, 0L)))
    assert(got(2) == ((2L, 200L, 0L, 300L)))
    assert(got(3) == ((3L, 200L, 1L, 300L)))
    assert(got(4) == ((4L, 100L, 2L, 0L)), got(4).toString)
    assert(got(5) == ((5L, 12L, 0L, 500L)))
    assert(got(6) == ((6L, 512L, 0L, 0L))) // exact fit fills one bin
    assert(got(7) == ((7L, 0L, -1L, 0L)))  // zero-token: occupies nothing
    // no doc spans sequences BY CONSTRUCTION: offset + len <= maxSeqLen
    assert(got.filter(_._3 >= 0).forall(r => r._4 + r._2 <= 512))
    // partitioning-invariant (the sort inside each task is the contract)
    assert(pack(docs.repartition(7)).toSeq == got.toSeq)
    // an oversized doc fails LOUDLY
    val over = Seq((9L, "a", 600)).toDF("doc_id", "source", "n_tok")
    val e = intercept[org.apache.spark.SparkException] {
      Sampling.packSequencesBestFit(over, Seq($"source"), $"doc_id",
        $"n_tok", 512, Some(lit(0))).count()
    }
    assert(e.getMessage.contains("no-split packing"), e.getMessage)
  }

  test("packSequencesBestFitChunked: minimal piece sets, pieces pack as units, unsplit == plain") {
    val docs = Seq(
      (0L, "a", 300), // fits whole: piece 0 only
      (1L, "a", 512), // exact multiple: ONE full piece, no empty remainder
      (2L, "a", 1100), // 512 + 512 + 76
      (3L, "a", 0),    // zero tokens: one occupy-nothing piece
      (4L, "a", 200))
      .toDF("doc_id", "source", "n_tok")
    val got = Sampling.packSequencesBestFitChunked(docs, Seq($"source"),
        $"doc_id", $"n_tok", maxSeqLen = 512, bucketCol = Some(lit(0)))
      .select($"id", $"piece", $"n_tokens", $"seq_id", $"seq_offset")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // piece sets are MINIMAL: ceil(n/max) pieces (>= 1), full then remainder
    assert(got.filter(_._1 == 2L).map(r => (r._2, r._3)).toSeq ==
      Seq((0L, 512L), (1L, 512L), (2L, 76L)))
    assert(got.filter(_._1 == 1L).map(r => (r._2, r._3)).toSeq ==
      Seq((0L, 512L)))
    assert(got.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 0L, -1L, 0L)))
    // full pieces each fill a sequence alone; remainders FFD with the rest
    val full = got.filter(_._3 == 512L)
    assert(full.map(_._4).distinct.length == full.length &&
      full.forall(_._5 == 0L), "a full piece must own its sequence")
    // piece-wise no-span invariant
    assert(got.filter(_._4 >= 0).forall(r => r._5 + r._3 <= 512))
    // docs that never split pack EXACTLY like the plain packer run on the
    // same already-fitting corpus (same FFD over the same units)
    val small = docs.filter($"n_tok" <= 512)
    val viaChunked = Sampling.packSequencesBestFitChunked(small,
        Seq($"source"), $"doc_id", $"n_tok", 512, Some(lit(0)))
      .select($"id", $"n_tokens", $"seq_id", $"seq_offset")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val viaPlain = Sampling.packSequencesBestFit(small, Seq($"source"),
        $"doc_id", $"n_tok", 512, Some(lit(0)))
      .select($"id", $"n_tokens", $"seq_id", $"seq_offset")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(viaChunked.toSeq == viaPlain.toSeq)
  }

  test("packSequencesBestFit fill ratio beats in-order no-split packing on mixed lengths") {
    // mixed-length docs, deterministic: FFD's sorted placement must waste
    // no more space than the naive next-fit-in-arrival-order packing a
    // no-split pipeline would otherwise use
    val rnd = new scala.util.Random(7)
    val lens = (0 until 400).map(_ => 1 + rnd.nextInt(511))
    val docs = lens.zipWithIndex
      .map { case (n, i) => (i.toLong, "g", ("w " * n).trim) }
      .toDF("doc_id", "source", "text")
    val packed = Sampling.packSequencesBestFit(docs, Seq($"source"),
        $"doc_id", graft.functions.TextFunctions.tokenCount($"text"),
        maxSeqLen = 512, bucketCol = Some(lit(0)))
      .select($"seq_id").as[Long].collect()
    val ffdBins = packed.distinct.length
    // naive no-split baseline: next-fit in doc_id order
    var naive = 0; var room = 0
    lens.foreach { n => if (n > room) { naive += 1; room = 512 }; room -= n }
    assert(ffdBins <= naive,
      s"FFD used $ffdBins sequences vs next-fit's $naive")
    // fill ratio: total tokens / (bins * maxSeqLen)
    val fill = lens.sum.toDouble / (ffdBins * 512)
    assert(fill > 0.9, s"FFD fill ratio $fill unexpectedly poor")
  }

  test("packSequenceRows materializes the loader view: ordered slices tile each sequence") {
    val docs = Seq(
      (0L, "a", ("w " * 300).trim),  // [0, 300)
      (1L, "a", ("w " * 300).trim),  // [300, 600): crosses seq 0/1
      (2L, "a", ("w " * 100).trim),  // [600, 700)
      (3L, "b", ("w " * 10).trim))   // separate group
      .toDF("doc_id", "source", "text")
    val rows = Sampling.packSequenceRows(docs, Seq($"source"), $"doc_id",
        $"doc_id", graft.functions.TextFunctions.tokenCount($"text"),
        maxSeqLen = 512)
      .select($"source", $"seq_id", $"n_docs", $"seq_tokens", $"slices")
      .as[(String, Long, Long, Long, Seq[(Long, Long, Long, Long)])]
      .collect().sortBy(r => (r._1, r._2))
    // slice = (pos, id, start, len): doc id's tokens [start, start+len)
    // sit at sequence positions [pos, pos+len)
    assert(rows.toSeq == Seq(
      ("a", 0L, 2L, 512L, Seq((0L, 0L, 0L, 300L), (300L, 1L, 0L, 212L))),
      ("a", 1L, 2L, 188L, Seq((0L, 1L, 212L, 88L), (88L, 2L, 0L, 100L))),
      ("b", 0L, 1L, 10L, Seq((0L, 3L, 0L, 10L)))), rows.mkString("\n"))
    // a zero-token doc occupies no sequence (packSequences' contract)
    val withEmpty = docs.unionByName(
      Seq((9L, "b", "ignored")).toDF("doc_id", "source", "text"))
    val b0 = Sampling.packSequenceRows(withEmpty, Seq($"source"), $"doc_id",
        $"doc_id", when($"doc_id" === 9L, 0L)
          .otherwise(graft.functions.TextFunctions.tokenCount($"text")), 512)
      .filter($"source" === "b").select($"slices")
      .as[Seq[(Long, Long, Long, Long)]].collect()
    assert(b0.toSeq == Seq(Seq((0L, 3L, 0L, 10L))), b0.mkString)
  }

  test("packedSequenceText round-trips the corpus: group's sequences concatenate to its docs") {
    // the end-to-end layout proof: resolving every slice to token text and
    // concatenating a group's sequences in seq_id order must reproduce the
    // group's documents in layout order TOKEN-FOR-TOKEN — any off-by-one in
    // the slice arithmetic (start, len, pos ordering) breaks this equality
    val docs = graft.Tables.documents(spark, SparkTestSession.sf0001)
    val packed = Sampling.packSequenceRows(docs, Seq($"source"), $"doc_id",
      $"doc_id", graft.functions.TextFunctions.tokenCount($"text"), 128)
    val seqs = Sampling.packedSequenceText(packed, docs,
        Seq($"source"), $"doc_id", $"text")
      .select($"source", $"seq_id", $"seq_text")
      .as[(String, Long, String)].collect()
    val fromSeqs = seqs.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(_._3).mkString(" ")).toMap
    val fromDocs = docs.select($"source", $"doc_id", $"text")
      .as[(String, Long, String)].collect()
      .groupBy(_._1).view.mapValues(
        _.sortBy(_._2).map(_._3).mkString(" ")).toMap
    assert(fromSeqs.keySet == fromDocs.keySet)
    fromSeqs.foreach { case (g, text) =>
      assert(text == fromDocs(g), s"group $g did not round-trip")
    }
    // sequence lengths: every non-final sequence is exactly 128 tokens
    val lens = seqs.map { case (g, sid, t) => (g, sid, t.split(" ", -1).length) }
    val lastSeq = lens.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    lens.foreach { case (g, sid, n) =>
      if (sid != lastSeq(g)) assert(n == 128, s"$g/$sid: $n tokens")
    }
  }

  test("packSequences hexOrdered and boundarySource layouts equal the sampled default") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
      .withColumn("hk", md5($"text".cast("binary")))
    val tok = graft.functions.TextFunctions.tokenCount($"text")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"token_start", $"seq_first", $"seq_last", $"seq_offset")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // layout order = the library's own md5 hex: the zero-pre-pass bucket
    // must produce byte-identical packing to the sampled-boundary default
    val sampled = key(Sampling.packSequences(docs, Seq($"source"), $"hk", tok, 256))
    val hexed = key(Sampling.packSequences(docs, Seq($"source"), $"hk", tok, 256,
      hexOrdered = true))
    assert(hexed == sampled)
    // boundaries sampled from a DIFFERENT (superset) frame: same values
    val half = docs.filter($"doc_id" % 2 === 0)
    val direct = key(Sampling.packSequences(half, Seq($"source"), $"hk", tok, 256))
    val viaSource = key(Sampling.packSequences(half, Seq($"source"), $"hk", tok, 256,
      boundarySource = Some(docs)))
    assert(viaSource == direct)
    // facade: shuffle(seed).packShuffled lays out in shuffle_key order
    val c = Corpus(docs.drop("hk")).shuffle("epoch0")
    val viaFacade = key(c.packShuffled(256))
    val explicit = key(Sampling.packSequences(c.df, Seq($"source"), $"shuffle_key",
      graft.functions.TextFunctions.tokenCount($"text"), 256))
    assert(viaFacade == explicit)
    assert(viaFacade.nonEmpty)
    // materialized facade twins: packRows / packRowsShuffled delegate to
    // packSequenceRows with the doc id carried in the slices
    def rkey(df: org.apache.spark.sql.DataFrame) = df
      .select($"seq_id", $"n_docs", $"seq_tokens", $"slices")
      .as[(Long, Long, Long, Seq[(Long, Long, Long, Long)])].collect().toSet
    assert(rkey(c.packRowsShuffled(256)) ==
      rkey(Sampling.packSequenceRows(c.df, Seq($"source"), $"shuffle_key",
        $"doc_id", graft.functions.TextFunctions.tokenCount($"text"), 256,
        hexOrdered = true)))
    assert(rkey(Corpus(docs.drop("hk")).packRows(256)) ==
      rkey(Sampling.packSequenceRows(docs.drop("hk"), Seq($"source"), $"doc_id",
        $"doc_id", graft.functions.TextFunctions.tokenCount($"text"), 256)))
  }

  test("qualityFilter labels each doc with the first failing rule") {
    val docs = Seq(
      (0L, "tiny doc"),                                        // too_short
      (1L, ("the of and is a " * 8).trim),                     // en, repetitive (5 distinct / 40)
      (2L, "le la les et une " + (1 to 20).map(i => s"mot$i").mkString(" ")), // wrong_lang (fr)
      (3L, "the quick brown fox jumps over a lazy dog and " +
        (1 to 15).map(i => s"word$i").mkString(" ")))           // keep
      .toDF("doc_id", "text")
    val got = CorpusOps.qualityFilter(docs, "doc_id", "text",
        minTokens = 10, maxTokens = 100, lang = "en", minQuality = 0.2,
        maxDupWordFrac = 0.5)
      .select($"doc_id", $"reason", $"keep").as[(Long, String, Boolean)]
      .collect().sortBy(_._1)
    assert(got(0) == ((0L, "too_short", false)))
    assert(got(1) == ((1L, "repetitive", false)), got(1).toString)
    assert(got(2) == ((2L, "wrong_lang", false)))
    assert(got(3) == ((3L, "keep", true)), got(3).toString)
  }

  test("repetitionProfile computes dup-word and top-bigram fractions") {
    val docs = Seq(
      (0L, "spam spam spam spam"),              // 4 words, 1 distinct, bg "spam spam" x3
      (1L, "all words here are unique tokens"), // no repetition
      (2L, "a b a b a b")).toDF("doc_id", "text")
    val got = CorpusOps.repetitionProfile(docs, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    val m = got.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m(0L) == ((4L, 0.75, 1.0)))          // 1 - 1/4; 3/3 bigrams identical
    assert(m(1L) == ((6L, 0.0, 0.2)))           // all distinct; top bigram 1/5
    assert(m(2L) == ((6L, 0.6667, 0.6)))        // 1 - 2/6 rounded; "a b" 3 of 5
  }

  test("tfIdfTopTerms ranks tf x (N/df) with a term tiebreak") {
    // N=4 docs; "rare" df=1, "dup" df=2, "common" df=4
    val docs = Seq(
      (0L, "common rare rare"),          // rare: 2*4=8  > common: 1*1=1
      (1L, "common dup"),                // dup: 2, common: 1
      (2L, "common dup dup dup"),        // dup: 3*2=6, common: 1
      (3L, "common common common"))      // only common
      .toDF("doc_id", "text")
    val got = CorpusOps.tfIdfTopTerms(docs, "doc_id", "text", k = 1)
      .as[(Long, String, Long, Long, Double)].collect().sortBy(_._1)
    assert(got(0) == ((0L, "rare", 2L, 1L, 8.0)))
    assert(got(1) == ((1L, "dup", 1L, 2L, 2.0)))
    assert(got(2) == ((2L, "dup", 3L, 2L, 6.0)))
    assert(got(3) == ((3L, "common", 3L, 4L, 3.0)))
    // k=2 returns both terms of doc 0, and exact score ties break term-asc
    val two = CorpusOps.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .filter($"doc_id" === 0L).as[(Long, String, Long, Long, Double)].collect()
    assert(two.map(_._2).toSet == Set("rare", "common"))
    // the forced-broadcast path (known-small vocab) answers identically to
    // the planner-chosen default
    assert(CorpusOps.tfIdfTopTerms(docs, "doc_id", "text", k = 1, broadcastDf = true)
      .as[(Long, String, Long, Long, Double)].collect().sortBy(_._1).toSeq == got.toSeq)
  }

  test("lmQualityScore: exact add-one NLL, OOV under a capped vocab") {
    // corpus tokens: a a a b  => T=4; vocab {a:3, b:1} => V=2
    val docs = Seq((0L, "a a a"), (1L, "b")).toDF("doc_id", "text")
    def nll(c: Long, t: Long, v: Long): Double =
      BigDecimal(-math.log((c + 1).toDouble / (t + v).toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = CorpusOps.lmQualityScore(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val pA = nll(3, 4, 2) // -ln(4/6)
    val pB = nll(1, 4, 2) // -ln(2/6)
    assert(got(0) == ((0L, 3L, BigDecimal(pA * 3 / 3).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got(1) == ((1L, 1L, BigDecimal(pB).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // the forced-broadcast path (known-small vocab) answers identically to
    // the planner-chosen default
    val bc = CorpusOps.lmQualityScore(docs, "doc_id", "text", broadcastLm = true)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(bc.toSeq == got.toSeq)
    // cap the vocab to 1 term: b falls out and scores as OOV 1/(T+V)
    val capped = CorpusOps.lmQualityScore(docs, "doc_id", "text", vocabCap = 1)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val pOov = nll(0, 4, 1) // -ln(1/5)
    assert(capped(1)._3 == BigDecimal(pOov).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(capped(1)._3 > got(1)._3, "OOV must score worse than in-vocab")
  }

  test("bigramLmScore: capped vocab scores OOV via the unseen add-one bound") {
    // corpus: doc0 "a a b", doc1 "a c" => uni {a:3, b:1, c:1}, T=5
    val docs = Seq((0L, "a a b"), (1L, "a c")).toDF("doc_id", "text")
    def r6(x: Double): BigDecimal =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP) / 1e6
    def score(ps: Seq[Double]): Double =
      (BigDecimal(ps.map(p => r6(-math.log(p))).sum.toDouble) / ps.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lam = 0.7
    // capped to 1 term: only 'a' stays; b and c are OOV => pUni = 1/(T+V) = 1/6
    val pA = 4.0 / 6; val pOov = 1.0 / 6
    val expected = Map(
      0L -> score(Seq(pA, lam * (1.0 / 3) + (1 - lam) * pA, lam * (1.0 / 3) + (1 - lam) * pOov)),
      1L -> score(Seq(pA, lam * (1.0 / 3) + (1 - lam) * pOov)))
    val capped = CorpusOps.bigramLmScore(docs, "doc_id", "text", vocabCap = 1)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(capped.map(r => r._1 -> r._3).toMap == expected)
    // (capping is NOT monotone overall — V shrinks, raising in-vocab
    // probabilities — so correctness is pinned by the exact values above)
    val full = CorpusOps.bigramLmScore(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // a cap above the vocabulary is a no-op, and the forced-broadcast path
    // answers identically to the planner-chosen default
    assert(CorpusOps.bigramLmScore(docs, "doc_id", "text", vocabCap = 100)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq == full.toSeq)
    assert(CorpusOps.bigramLmScore(docs, "doc_id", "text", broadcastVocab = true)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq == full.toSeq)
  }

  test("duplicateSpanProfile finds cross-doc spans, not intra-doc repeats") {
    val docs = Seq(
      (0L, "shared span here plus own words"),   // "shared span here" also in doc 1
      (1L, "prefix shared span here suffix"),
      (2L, "totally different text entirely ok"),
      (3L, "loop loop loop loop"),               // intra-doc repeat only: NOT cross-doc
      (4L, "a b")                                // < k words: no spans, absent
    ).toDF("doc_id", "text")
    val got = CorpusOps.duplicateSpanProfile(docs, "doc_id", "text", k = 3, minDf = 2)
      .as[(Long, Long, Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L))
    val byId = got.map(r => r._1 -> r).toMap
    // doc 0: 4 spans, 1 duplicated ("shared span here", df=2)
    assert(byId(0L) == ((0L, 4L, 1L, 0.25, 2L)))
    assert(byId(1L) == ((1L, 3L, 1L, BigDecimal(1.0 / 3).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble, 2L)))
    assert(byId(2L) == ((2L, 3L, 0L, 0.0, 0L)))
    // doc 3 repeats "loop loop loop" twice WITHIN itself: df counts docs, so 1
    assert(byId(3L) == ((3L, 2L, 0L, 0.0, 0L)))
  }

  test("duplicateSpanProfile matches a plain-Scala reference on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val doc = Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpusGen = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, doc))
    (0 until 6).foreach { i =>
      val texts = corpusGen(Gen.Parameters.default, Seed(7 + i.toLong)).get
      val docs = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
      val k = 3
      def spansOf(t: String): Seq[String] =
        t.split(" ").sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq
      val docSets = texts.zipWithIndex.map { case (t, j) => j.toLong -> spansOf(t) }
      val dfBySpan = docSets.flatMap { case (id, sp) => sp.distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
      val expected = docSets.filter(_._2.nonEmpty).map { case (id, sp) =>
        val dup = sp.filter(s => dfBySpan(s) >= 2)
        (id, sp.size.toLong, dup.size.toLong,
          BigDecimal(dup.size.toDouble / sp.size.toDouble)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          if (dup.isEmpty) 0L else dup.map(dfBySpan).max)
      }.sortBy(_._1)
      val got = CorpusOps.duplicateSpanProfile(docs, "doc_id", "text", k = k)
        .as[(Long, Long, Long, Double, Long)].collect().sortBy(_._1).toSeq
      assert(got == expected, s"seed=$i corpus=$texts")
    }
  }

  test("cappedVocab: threshold selection equals the global top-cap ranking") {
    def countsOf(text: String) =
      Seq((0L, text)).toDF("doc_id", "text")
        .select(explode(split($"text", " ")).as("term"))
        .groupBy($"term").agg(count(lit(1)).as("cnt"))
    // vocab a:3 b:2 c:2 d:2 e:1; cap=3 lands MID-TIE at cnt=2 → term-asc trim
    val counts = countsOf("a a a b b c c d d e")
    def capAt(n: Int) = CorpusOps.cappedVocab(counts, n)
      .as[(String, Long)].collect().toSet
    assert(capAt(3) == Set(("a", 3L), ("b", 2L), ("c", 2L)))
    // cap at an exact histogram boundary: no trim branch
    assert(capAt(4) == Set(("a", 3L), ("b", 2L), ("c", 2L), ("d", 2L)))
    // cap >= vocab: identity
    assert(capAt(99) == Set(("a", 3L), ("b", 2L), ("c", 2L), ("d", 2L), ("e", 1L)))
    // randomized cross-check against the naive global sort-limit
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val text = Gen.choose(5, 40).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    (0 until 6).foreach { i =>
      val t = text(Gen.Parameters.default, Seed(100 + i.toLong)).get
      val c = countsOf(t)
      val cap = 1 + i
      val naive = c.orderBy($"cnt".desc, $"term".asc).limit(cap)
        .as[(String, Long)].collect().toSet
      assert(CorpusOps.cappedVocab(c, cap).as[(String, Long)].collect().toSet == naive,
        s"seed=$i cap=$cap text=$t")
    }
    // hostile histogram: EVERY count distinct (histogram rows == vocabulary
    // size — the shape where collecting the histogram would be
    // driver-unbounded); the crossing-row plan still resolves the exact
    // threshold, only one row ever reaches the driver by construction
    val distinctCounts = (1 to 200).map(i => (f"t$i%03d", i.toLong))
      .toDF("term", "cnt")
    val top5 = CorpusOps.cappedVocab(distinctCounts, 5)
      .as[(String, Long)].collect().toSet
    assert(top5 == (196 to 200).map(i => (f"t$i%03d", i.toLong)).toSet)
    // crossing-row uniqueness on the same hostile shape: the filter that
    // feeds the driver collect is pinned to <= 1 row for ANY cap
    (1 to 200 by 37).foreach { cap =>
      val hist = distinctCounts.groupBy($"cnt").agg(count(lit(1)).as("__nt"))
        .withColumn("__cum", sum($"__nt").over(
          org.apache.spark.sql.expressions.Window.orderBy($"cnt".desc)))
        .filter($"__cum" >= cap && $"__cum" - $"__nt" < cap.toLong)
      assert(hist.count() == 1L, s"cap=$cap must collect exactly one row")
    }
  }

  test("bloom gate: builds only when the corpus dwarfs the benchmark") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf001}/documents.parquet")
    // comparable plan sizes (filters of one table): not worth the build
    assert(!CorpusOps.bloomWorthwhile(
      docs.filter($"source" =!= "src0"), docs.filter($"source" === "src0")))
    // corpus many times the benchmark's bytes: gate opens
    assert(CorpusOps.bloomWorthwhile(docs, docs.limit(2)))
  }

  test("contaminationCoverage: exact covered-position fractions") {
    // bench holds "a b c" and "x y z"; k=3 spans cover their positions
    val corpus = Seq(
      (0L, "a b c d e"),        // span "a b c" at pos 0 -> positions 0..2 covered
      (1L, "p q r s"),          // nothing shared
      (2L, "a b c x y z"),      // "a b c"@0 and "x y z"@3 -> all 6 covered
      (3L, "q a b c a b c r"),  // spans @1 and @4 -> positions 1..6 covered
      (4L, "a b")               // shorter than k: no spans
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c"), (101L, "x y z w")).toDF("doc_id", "text")
    val got = CorpusOps.contaminationCoverage(corpus, bench, "doc_id", "text", k = 3)
      .as[(Long, Int, Int, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 5, 3, 0.6),
      (1L, 4, 0, 0.0),
      (2L, 6, 6, 1.0),
      (3L, 8, 6, 0.75),
      (4L, 2, 0, 0.0)))
  }

  test("lazy bloom subquery: same results as prebuilt bytes and as no pruning") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf001}/documents.parquet")
    val corpus = docs.filter($"source" =!= "src0")
    val bench = docs.filter($"source" === "src0")
    val idx = CorpusOps.benchIndex(bench, "doc_id", "text", k = 3)
    // the probe builds (gate-independent here — construct it directly)
    val probe = CorpusOps.lazyBloomProbe(idx)
    assert(probe.nonEmpty)
    // construction must be lazy: no jobs ran yet to build any filter —
    // assert by running the probe against a tiny literal frame and checking
    // it agrees with the byte-built filter on every shingle
    val bloomBytes = CorpusOps.benchBloom(idx)
    val shingles = corpus.select(
      explode(array_distinct(graft.functions.TextFunctions.wordShingles($"text", 3))).as("s"))
    val viaSubquery = shingles.filter(probe.get($"s")).count()
    val viaBytes = shingles.filter(
      graft.functions.hashFunctions.bloom_might_contain_bc(spark, bloomBytes.get, $"s")).count()
    // both are ~1% fpp filters over the same hash stream but sized
    // differently (stats estimate vs exact count), so prune comparably
    // rather than identically; correctness comes from the exact join
    assert(viaSubquery < shingles.count() / 2, s"subquery probe kept $viaSubquery")
    assert(viaBytes < shingles.count() / 2)
    // end-to-end with the gate OPEN (corpus >> bench => subquery path):
    // the full operator matches the never-pruned plain join exactly
    val bigBench = docs.limit(2)
    assert(CorpusOps.bloomWorthwhile(docs, bigBench), "gate must be open for this case")
    val lazyPath = CorpusOps.decontaminate(docs, bigBench, "doc_id", "text")
      .orderBy($"doc_id").collect().toSeq
    val plain = CorpusOps.decontaminateAgainstIndex(
        docs, CorpusOps.benchIndex(bigBench, "doc_id", "text", k = 3, materialize = false),
        "doc_id", "text", k = 3, minShared = 2, bloom = None)
      .orderBy($"doc_id").collect().toSeq
    assert(lazyPath == plain, "bloom subquery is a pre-filter, never a result change")
  }

  test("bloom pre-filter: identical decontamination results, real pruning") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf001}/documents.parquet")
    val corpus = docs.filter($"source" =!= "src0")
    val bench = docs.filter($"source" === "src0")
    val idx = CorpusOps.benchIndex(bench, "doc_id", "text", k = 3)
    val bloom = CorpusOps.benchBloom(idx)
    assert(bloom.nonEmpty)
    val withBloom = CorpusOps.decontaminateAgainstIndex(
        corpus, idx, "doc_id", "text", k = 3, minShared = 2, bloom = bloom)
      .orderBy($"doc_id").collect().toSeq
    val without = CorpusOps.decontaminateAgainstIndex(
        corpus, idx, "doc_id", "text", k = 3, minShared = 2, bloom = None)
      .orderBy($"doc_id").collect().toSeq
    assert(withBloom == without, "bloom is a pre-filter, never a result change")
    // the filter genuinely prunes: most corpus shingles are not in the bench
    val shingles = corpus.select(
      explode(array_distinct(graft.functions.TextFunctions.wordShingles($"text", 3))).as("s"))
    val total = shingles.count()
    val surviving = shingles.filter(
      graft.functions.hashFunctions.bloom_might_contain(bloom.get, $"s")).count()
    assert(surviving < total / 2,
      s"expected the bloom to prune most shingles, kept $surviving of $total")
    // the broadcast-shipped probe (what decontaminateAgainstIndex plans —
    // no 20 MB plan literal) answers bit-for-bit like the literal form
    val survivingBc = shingles.filter(
      graft.functions.hashFunctions.bloom_might_contain_bc(
        spark, bloom.get, $"s")).count()
    assert(survivingBc == surviving)
    // empty index -> no bloom, caller falls back to the plain join
    assert(CorpusOps.benchBloom(idx.limit(0)).isEmpty)
  }

  test("tfIdf/lmScore invariants on randomized corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val doc = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpusGen = Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, doc))
    (0 until 8).foreach { i =>
      val texts = corpusGen(Gen.Parameters.default, Seed(i.toLong)).get
      val docs = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
      val n = texts.length.toLong
      val top = CorpusOps.tfIdfTopTerms(docs, "doc_id", "text", 2)
        .as[(Long, String, Long, Long, Double)].collect()
      assert(top.groupBy(_._1).forall(_._2.length <= 2), "at most k terms per doc")
      top.foreach { case (id, term, tf, df, score) =>
        assert(texts(id.toInt).split(" ").contains(term), "term must come from its doc")
        assert(tf >= 1 && df >= 1 && df <= n)
        assert(math.abs(score - BigDecimal(tf.toDouble * (n.toDouble / df.toDouble))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      }
      val lm = CorpusOps.lmQualityScore(docs, "doc_id", "text")
        .as[(Long, Long, Double)].collect()
      assert(lm.length == texts.length)
      lm.foreach { case (id, nTok, nll) =>
        assert(nTok == texts(id.toInt).split(" ").length)
        assert(nll > 0.0, "add-one NLL of a finite corpus is strictly positive")
      }
      // partitioning-invariant (DECIMAL-summed NLL, hash-keyed tfidf)
      val lm2 = CorpusOps.lmQualityScore(docs.repartition(5), "doc_id", "text")
        .as[(Long, Long, Double)].collect()
      assert(lm.sortBy(_._1).toSeq == lm2.sortBy(_._1).toSeq)
    }
  }

  test("Corpus.dropContaminatedSpans keeps exactly the low-coverage docs") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val corpus = docs.filter($"source" =!= "src0")
    val bench = docs.filter($"source" === "src0")
    val thr = 0.3
    val flagged = CorpusOps.contaminationCoverage(corpus, bench, "doc_id", "text")
      .filter($"coverage" > thr).select($"doc_id").as[Long].collect().toSet
    val kept = Corpus(corpus).dropContaminatedSpans(bench, maxCoverage = thr).df
      .select($"doc_id").as[Long].collect().toSet
    val all = corpus.select($"doc_id").as[Long].collect().toSet
    assert(kept == all -- flagged)
    assert(flagged.nonEmpty, "expected some high-coverage docs in the fixture")
  }

  test("Corpus facade composes to exactly the gated pipeline plan's rows") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf001}/documents.parquet")
    val corpus = docs.filter($"source" =!= "src0")
    val bench = docs.filter($"source" === "src0")
    val rates = Map("src0" -> 0.25, "src1" -> 0.75)
    val viaFacade = Corpus(corpus)
      .qualityFilter(minTokens = 20, maxTokens = 80, lang = "en",
        minQuality = 0.5, maxDupWordFrac = 0.75)
      .dedupExact()
      .decontaminate(bench, k = 3, minShared = 2)
      .sample(rates, defaultRate = 0.5)
      .pack(maxSeqLen = 512)
      .select($"source", $"doc_id", $"n_tokens", $"token_start",
        $"seq_first", $"seq_last", $"seq_offset")
      .orderBy($"source", $"doc_id")
    val viaGate = graft.SparkEntry.queries("q_pipeline_e2e")(spark, SparkTestSession.sf001)
    assert(viaFacade.collect().toSeq == viaGate.collect().toSeq)
    assert(viaFacade.count() > 0)
  }

  test("Corpus facade reports and shuffle delegate to the gated operators") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val c = Corpus(docs)
    assert(c.tfIdfTopTerms(2).collect().toSet ==
      CorpusOps.tfIdfTopTerms(docs, "doc_id", "text", 2).collect().toSet)
    assert(c.lmQualityScore().collect().toSet ==
      CorpusOps.lmQualityScore(docs, "doc_id", "text").collect().toSet)
    val shuffled = c.shuffle("e1").df.select($"doc_id").as[Long].collect().toSeq
    assert(shuffled == Sampling.deterministicShuffle(docs, $"doc_id", "e1")
      .select($"doc_id").as[Long].collect().toSeq)
    val capped = c.capPerGroup(3).df.groupBy($"source").count()
      .as[(String, Long)].collect()
    assert(capped.forall(_._2 <= 3))
    assert(c.dupSpanProfile().collect().toSet ==
      CorpusOps.duplicateSpanProfile(docs, "doc_id", "text").collect().toSet)
    // dropBoilerplate keeps exactly the docs at or below the threshold
    // (plus spanless short docs)
    val thr = 0.99
    val flagged = CorpusOps.duplicateSpanProfile(docs, "doc_id", "text")
      .filter($"dup_span_frac" > thr).select($"doc_id").as[Long].collect().toSet
    val kept = c.dropBoilerplate(maxDupSpanFrac = thr).df
      .select($"doc_id").as[Long].collect().toSet
    val all = docs.select($"doc_id").as[Long].collect().toSet
    assert(kept == (all diff flagged))
    assert(flagged.nonEmpty, "word-soup corpus should have some all-dup docs at 0.99")
    // the fuzzy and drift terminals delegate exactly too
    val keyed = docs.withColumn("k", substring($"text", 1, 20))
    assert(c.copy(df = keyed).fuzzyPairs("k", 1).collect().toSet ==
      Fuzzy.fuzzyPairs(keyed, "doc_id", "k", 1).collect().toSet)
    val older = Corpus(docs.filter($"doc_id" % 2 === 0))
    assert(Corpus(docs.filter($"doc_id" % 2 === 1))
        .distributionDrift(older, "n_chars", 0.0, 600.0, 6).collect().toSeq ==
      Validation.distributionDrift(docs.filter($"doc_id" % 2 === 0),
        docs.filter($"doc_id" % 2 === 1), "n_chars", 0.0, 600.0, 6)
        .collect().toSeq)
  }

  test("deterministicShuffle: reproducible order, epoch reshuffles") {
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val e0a = Sampling.deterministicShuffle(docs, $"doc_id", "epoch0")
      .select($"doc_id").as[Long].collect().toSeq
    val e0b = Sampling.deterministicShuffle(docs.repartition(7), $"doc_id", "epoch0")
      .select($"doc_id").as[Long].collect().toSeq
    assert(e0a == e0b, "same seed must give the same order on any partitioning")
    assert(e0a.sorted != e0a, "shuffle must not be id order")
    val e1 = Sampling.deterministicShuffle(docs, $"doc_id", "epoch1")
      .select($"doc_id").as[Long].collect().toSeq
    assert(e1 != e0a, "a new epoch seed must reshuffle")
    assert(e1.toSet == e0a.toSet, "shuffle is a permutation")
  }

  test("decontaminateNearDup catches paraphrase-shaped leakage") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "unrelated totally different words nothing shared here at all"))
      .toDF("doc_id", "text")
    val bench = Seq(
      // doc 1 with the first word dropped — a light paraphrase
      (100L, "beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "completely disjoint benchmark item with its own vocabulary"))
      .toDF("doc_id", "text")
    val got = CorpusOps.decontaminateNearDup(corpus, bench, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L), s"got=$got")
    val (_, nMatched, topJ) = got.head
    assert(nMatched == 1L)
    // 10 words -> 8 trigram shingles; bench copy has 7, all shared: J = 7/8
    assert(topJ == 0.875, s"topJ=$topJ")
  }

  test("corpusDiff labels added/removed/changed/unchanged") {
    val old0 = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text")
    val new0 = Seq((2L, "two"), (3L, "trois"), (4L, "four")).toDF("doc_id", "text")
    val got = CorpusOps.corpusDiff(old0, new0, "doc_id", "text")
      .select($"doc_id", $"status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("gopherRules: each rule fires on its crafted document") {
    val longText = Seq.fill(60)("steady").mkString(" ") + " the of and"
    val docs = Seq(
      (0L, longText), // passes everything
      (1L, "too short the of"), // fails r_words only
      (2L, longText + " " + Seq.fill(20)("#####").mkString(" ")), // symbols
      (3L, Seq.fill(60)("ab").mkString(" ") + " the of"), // mean word len < 3
      (4L, (Seq.fill(12)("- bullet line " + longText) :+ "tail").mkString("\n")), // bullets
      (5L, Seq.fill(60)("12345").mkString(" ") + " the of and"), // alpha frac
      (6L, Seq.fill(60)("steady").mkString(" "))) // no stopwords
      .toDF("doc_id", "text")
    val got = CorpusOps.gopherRules(docs, "doc_id", "text")
      .select($"doc_id", $"r_words", $"r_word_len", $"r_symbol", $"r_bullet",
        $"r_alpha", $"r_stops", $"pass")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1).toSeq
    def row(id: Long) = got.find(_._1 == id).get
    assert(row(0L) == ((0L, true, true, true, true, true, true, true)))
    assert(!row(1L)._2 && !row(1L)._8 && row(1L)._4) // short, but symbols fine
    assert(!row(2L)._4, "symbol ratio must fail")
    assert(!row(3L)._3, "mean word length must fail")
    assert(!row(4L)._5, "bullet line fraction must fail")
    assert(!row(5L)._6, "alphabetic word fraction must fail")
    assert(!row(6L)._7 && row(6L)._2, "stopword rule must fail alone")
  }

  test("chunkDocuments: overlapping fixed-token windows, exact boundaries") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),  // 10 tokens
      (2L, "a b c d e f g h i j k"), // 11 tokens -> 4th short chunk
      (3L, "x"),                     // shorter than one chunk
      (4L, ""))                      // split("") = [""] -> one empty chunk
      .toDF("doc_id", "text")
    val got = CorpusOps.chunkDocuments(docs, "doc_id", "text",
        chunkTokens = 4, overlap = 1)
      .orderBy($"doc_id", $"chunk_id")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(got == Seq(
      (1L, 0, 4, "a b c d"), (1L, 1, 4, "d e f g"), (1L, 2, 4, "g h i j"),
      (2L, 0, 4, "a b c d"), (2L, 1, 4, "d e f g"), (2L, 2, 4, "g h i j"),
      (2L, 3, 2, "j k"),
      (3L, 0, 1, "x"),
      (4L, 0, 1, "")))
    // every consecutive chunk pair shares exactly the overlap tokens
    got.filter(_._1 == 1L).sliding(2).foreach { case Seq(a, b) =>
      assert(a._4.split(" ").last == b._4.split(" ").head)
    }
  }

  test("bigramLmScore: exact interpolated NLL; lambda=0 equals the unigram LM") {
    val docs = Seq((1L, "a a b")).toDF("doc_id", "text")
    val got = CorpusOps.bigramLmScore(docs, "doc_id", "text", lambda = 0.7)
      .as[(Long, Long, Double)].head()
    // N=3 V=2: p1(a)=3/5, p1(b)=2/5; c(a)=2, P(a|a)=P(b|a)=1/2
    def r(x: Double, d: Int) = { val s = math.pow(10, d); math.round(x * s) / s }
    val expect = r((r(-math.log(0.6), 6) + r(-math.log(0.7 * 0.5 + 0.3 * 0.6), 6) +
      r(-math.log(0.7 * 0.5 + 0.3 * 0.4), 6)) / 3, 4)
    assert(got == ((1L, 3L, expect)), s"got=$got expect=$expect")

    val corpus = graft.Tables.documents(spark, graft.SparkTestSession.sf001)
    val bi0 = CorpusOps.bigramLmScore(corpus, "doc_id", "text", lambda = 0.0)
      .orderBy($"doc_id").collect().toSeq
    val uni = CorpusOps.lmQualityScore(corpus, "doc_id", "text")
      .orderBy($"doc_id").collect().toSeq
    assert(bi0 == uni, "lambda=0 must reduce to the unigram score")
  }

  test("upsampleByFactor: integer copies, fractional coin, downsample parity") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sf001)
      .select($"doc_id", $"text", $"source")
    val up = Sampling.upsampleByFactor(docs, $"source", $"text",
      Map("src0" -> 3.0, "src1" -> 0.4), defaultFactor = 1.0)
    val bySrc = up.groupBy($"source")
      .agg(count(lit(1)), countDistinct($"doc_id"), max($"epoch"))
      .as[(String, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    val n0 = docs.filter($"source" === "src0").count()
    // integer factor: exactly 3 copies of every doc, epochs 0..2
    assert(bySrc("src0")._2 == 3 * n0 && bySrc("src0")._4 == 2)
    // fractional 0.4: downsampled once each, same rows stratifiedSample keeps
    val strat = Sampling.stratifiedSample(docs.filter($"source" === "src1"),
        $"source", Map("src1" -> 0.4), $"text")
      .select($"doc_id").as[Long].collect().toSet
    val upIds = up.filter($"source" === "src1").select($"doc_id")
      .as[Long].collect()
    assert(upIds.toSet == strat && upIds.length == strat.size)
    assert(bySrc("src1")._4 == 0)
    // default 1.0: untouched groups emit exactly once
    val n2 = docs.filter($"source" === "src2").count()
    assert(bySrc("src2")._2 == n2 && bySrc("src2")._4 == 0)
    // deterministic
    assert(up.count() == Sampling.upsampleByFactor(docs, $"source", $"text",
      Map("src0" -> 3.0, "src1" -> 0.4), 1.0).count())
  }

  test("corpusReport: counts, dup rate, and dominant language are exact") {
    val docs = Seq(
      (1L, "the cat is on the mat", "a"),
      (2L, "the cat is on the mat", "a"), // exact dup of 1
      (3L, "el gato y los perros y las aves", "a"),
      (4L, "le chat et le chien et les oiseaux", "b"))
      .toDF("doc_id", "text", "source")
    val got = CorpusOps.corpusReport(docs, "doc_id", "text")
      .orderBy($"source").collect()
    val a = got(0)
    assert(a.getAs[String]("source") == "a")
    assert(a.getAs[Long]("n_docs") == 3L)
    assert(a.getAs[Long]("total_tokens") == 20L) // 6 + 6 + 8
    assert(a.getAs[Long]("n_exact_dup") == 1L)
    assert(a.getAs[String]("top_lang") == "en") // 2 en docs vs 1 es
    val b = got(1)
    assert(b.getAs[Long]("n_docs") == 1L && b.getAs[String]("top_lang") == "fr")
  }

  test("mixByTokenBudget: per-group budgets honored, default for the rest") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sf001)
    val nt = graft.functions.TextFunctions.tokenCount($"text")
    val budgets = Map("src0" -> 300L, "src1" -> 800L)
    val totals = Sampling.mixByTokenBudget(docs, $"source", $"text", $"doc_id",
        nt, budgets, defaultBudget = 1200L)
      .groupBy($"source").agg(sum(nt.cast("long"))).as[(String, Long)]
      .collect().toMap
    assert(totals("src0") <= 300L && totals("src1") <= 800L, totals.toString)
    totals.removedAll(Seq("src0", "src1")).foreach { case (s, t) =>
      assert(t <= 1200L, s"$s=$t")
    }
    // the listed groups track their own budgets, not the default
    val single = Sampling.capPerGroupTokens(docs.filter($"source" === "src1"),
        Seq($"source"), $"text", $"doc_id", nt, 800L)
      .agg(sum(nt.cast("long"))).as[Long].head()
    assert(totals("src1") == single, "map budget == scalar cap for that group")
  }

  test("capPerGroupTokens: budget respected, monotone, deterministic") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sf001)
    val nt = graft.functions.TextFunctions.tokenCount($"text")
    def kept(budget: Long) = Sampling.capPerGroupTokens(docs, Seq($"source"),
      $"text", $"doc_id", nt, budget).select($"doc_id").as[Long].collect().toSet
    val k500 = kept(500L); val k2000 = kept(2000L)
    assert(kept(500L) == k500, "deterministic")
    assert(k500.subsetOf(k2000), "raising the budget only adds documents")
    // the kept total per group never exceeds the budget
    val totals = Sampling.capPerGroupTokens(docs, Seq($"source"), $"text",
        $"doc_id", nt, 500L)
      .groupBy($"source").agg(sum(nt.cast("long"))).as[(String, Long)].collect()
    assert(totals.forall(_._2 <= 500L), totals.mkString(","))
    // a budget above any group's total keeps the whole corpus
    assert(kept(100000000L).size == docs.count())
  }

  test("importanceWeights: target-like docs score above corpus-like docs") {
    // corpus: half cooking-themed, half legal-themed; target = cooking only.
    // cooking docs share n-grams with the target -> positive log-weight;
    // legal docs anti-correlate -> negative
    val cooking = (0 until 10).map(i =>
      (i.toLong, s"stir the sauce and season the fresh pasta slowly $i"))
    val legal = (10 until 20).map(i =>
      (i.toLong, s"the party hereby agrees to indemnify the undersigned counsel $i"))
    val corpus = (cooking ++ legal).toDF("doc_id", "text")
    val target = cooking.toDF("doc_id", "text")
    val w = CorpusOps.importanceWeights(corpus, target, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(w.length == 20)
    val (cookW, legalW) = w.partition(_._1 < 10)
    assert(cookW.map(_._3).min > legalW.map(_._3).max,
      s"cooking ${cookW.map(_._3).mkString(",")} vs legal ${legalW.map(_._3).mkString(",")}")
    // deterministic on any partitioning
    val again = CorpusOps.importanceWeights(
        corpus.repartition(7), target.repartition(3), "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(w.toSeq == again.toSeq)
  }

  test("importanceWeights: bucket count must be a power of two") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      CorpusOps.importanceWeights(df, df, "doc_id", "text", buckets = 1000)
    }
    assert(e.getMessage.contains("power of two"))
  }

  test("importanceSample: Gumbel top-k is deterministic and weight-biased") {
    val cooking = (0 until 25).map(i =>
      (i.toLong, s"stir the sauce and season the fresh pasta slowly $i"))
    val legal = (25 until 50).map(i =>
      (i.toLong, s"the party hereby agrees to indemnify the undersigned counsel $i"))
    val corpus = (cooking ++ legal).toDF("doc_id", "text")
    val target = cooking.toDF("doc_id", "text")
    val picked = CorpusOps.importanceSample(corpus, target, "doc_id", "text", n = 20)
      .select($"doc_id").as[Long].collect().toSet
    assert(picked.size == 20)
    // strong weights dominate the bounded Gumbel noise: mostly cooking docs
    assert(picked.count(_ < 25) > 15, s"picked $picked")
    val again = CorpusOps.importanceSample(
        corpus.repartition(9), target, "doc_id", "text", n = 20)
      .select($"doc_id").as[Long].collect().toSet
    assert(picked == again)
    // a different seed reshuffles the noise, not the weights
    val otherSeed = CorpusOps.importanceSample(
        corpus, target, "doc_id", "text", n = 20, seed = "epoch1")
      .select($"doc_id").as[Long].collect().toSet
    assert(otherSeed.size == 20)
  }

  test("perplexityBuckets: equal-mass tiers cut at exact rank thresholds") {
    // 9 docs with clearly separated fluency: repeated common words score low
    // NLL, distinct rare words score high — 3 tiers of 3
    val docs = (0 until 9).map { i =>
      val text =
        if (i < 3) "the the the the the the"                       // head: one hot term
        else if (i < 6) s"the the the common word$i word$i"        // middle
        else s"rare$i unique$i single$i only$i once$i alone$i"     // tail: all hapax
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val got = CorpusOps.perplexityBuckets(docs, "doc_id", "text")
      .select($"doc_id", $"bucket", $"avg_nll")
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    val byBucket = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBucket(1) == Set(0L, 1L, 2L), got.mkString(","))
    assert(byBucket(2) == Set(3L, 4L, 5L), got.mkString(","))
    assert(byBucket(3) == Set(6L, 7L, 8L), got.mkString(","))
    // bucket is monotone in avg_nll
    val sorted = got.sortBy(_._3)
    assert(sorted.map(_._2).toSeq == sorted.map(_._2).sorted.toSeq)
  }

  test("perplexityBuckets: ties sit on one side; deterministic under repartition") {
    // 6 identical docs + 2 distinct: the tie group must land whole in one
    // bucket even though an interpolated tercile would split it
    val docs = ((0 until 6).map(i => (i.toLong, "same text here every time")) ++
      Seq((6L, "zz yy xx ww vv uu"), (7L, "qq rr ss tt uu vv"))).toDF("doc_id", "text")
    val got = CorpusOps.perplexityBuckets(docs, "doc_id", "text")
      .select($"doc_id", $"bucket").as[(Long, Int)].collect().toMap
    val tieBuckets = (0L until 6L).map(got).toSet
    assert(tieBuckets.size == 1, s"tie group split across buckets: $got")
    val again = CorpusOps.perplexityBuckets(docs.repartition(5), "doc_id", "text")
      .select($"doc_id", $"bucket").as[(Long, Int)].collect().toMap
    assert(got == again)
  }

  test("perplexityBuckets: nBuckets=4 covers all tiers, masses within one of equal") {
    val docs = (0 until 20).map(i => (i.toLong, s"term$i " * (i + 1) + "shared"))
      .toDF("doc_id", "text")
    val got = CorpusOps.perplexityBuckets(docs, "doc_id", "text", nBuckets = 4)
      .select($"bucket").as[Int].collect()
    val masses = got.groupBy(identity).view.mapValues(_.length).toMap
    assert(masses.keySet.subsetOf(Set(1, 2, 3, 4)), masses.toString)
    // with no ties across boundaries each tier holds exactly n/4
    assert(masses.values.sum == 20)
  }

  test("corpusOverlap: exact inclusion-exclusion; HLL sketch path agrees") {
    val a = (0 until 100).map(i => (i.toLong, s"document number $i body"))
      .toDF("doc_id", "text")
    val b = (50 until 150).map(i => (i.toLong, s"document number $i body"))
      .toDF("doc_id", "text")
    val got = CorpusOps.corpusOverlap(a, b, "text")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(got == ((100L, 100L, 150L, 50L, 0.333333, 0.5)), got.toString)
    // the 100 TB repeated-triage path, now a first-class operator:
    // per-snapshot HLL sketches merged pairwise — estimates must land
    // within the sketch's tolerance of the exact counts
    val est = CorpusOps.corpusOverlapSketch(a, b, "text")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(math.abs(est._1 - 100) <= 5 && math.abs(est._2 - 100) <= 5 &&
      math.abs(est._3 - 150) <= 8 && math.abs(est._4 - 50) <= 10,
      s"sketch path drifted: $est")
    // null text must not shift either engine's counts (ADVICE r10)
    val withNull = a.unionByName(Seq((9999L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val gotNull = CorpusOps.corpusOverlap(withNull, b, "text")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(gotNull == got, s"null text shifted overlap: $gotNull vs $got")
  }

  test("persisted overlap sketches: matrix over N snapshots, config drift fails loudly") {
    val a = (0 until 100).map(i => (i.toLong, s"document number $i body"))
      .toDF("doc_id", "text")
    val b = (50 until 150).map(i => (i.toLong, s"document number $i body"))
      .toDF("doc_id", "text")
    val c = (100 until 160).map(i => (i.toLong, s"document number $i body"))
      .toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("ovm-test").toString
    CorpusOps.saveOverlapSketch(a, "text", s"$base/a")
    CorpusOps.saveOverlapSketch(b, "text", s"$base/b")
    CorpusOps.saveOverlapSketch(c, "text", s"$base/c")
    val m = CorpusOps.corpusOverlapMatrix(spark,
        Seq("a" -> s"$base/a", "b" -> s"$base/b", "c" -> s"$base/c"))
      .orderBy($"snap_a", $"snap_b")
      .select($"snap_a", $"snap_b", $"n_intersect").as[(String, String, Long)]
      .collect().toSeq
    assert(m.map(r => (r._1, r._2)) == Seq(("a", "b"), ("a", "c"), ("b", "c")))
    val inter = m.map(r => (r._1, r._2) -> r._3).toMap
    // true intersections: a∩b=50, a∩c=0, b∩c=50 — estimates within sketch
    // tolerance at these cardinalities
    assert(math.abs(inter(("a", "b")) - 50) <= 10, m.toString)
    assert(math.abs(inter(("a", "c")) - 0) <= 8, m.toString)
    assert(math.abs(inter(("b", "c")) - 50) <= 10, m.toString)
    // incremental lifecycle: appending a delta equals sketching the full
    // snapshot (HLL union IS set union), so a growing crawl keeps one
    // sketch current without rescanning history
    val aFirst = a.filter($"doc_id" < 50)
    val aRest = a.filter($"doc_id" >= 50)
    CorpusOps.saveOverlapSketch(aFirst, "text", s"$base/a_inc")
    CorpusOps.appendToOverlapSketch(aRest, "text", s"$base/a_inc")
    val incr = CorpusOps.corpusOverlapMatrix(spark,
        Seq("a_inc" -> s"$base/a_inc", "b" -> s"$base/b"))
      .select($"n_a", $"n_intersect").as[(Long, Long)].head()
    val full = CorpusOps.corpusOverlapMatrix(spark,
        Seq("a" -> s"$base/a", "b" -> s"$base/b"))
      .select($"n_a", $"n_intersect").as[(Long, Long)].head()
    assert(incr == full, s"append path diverged: $incr vs $full")
    // a sketch built with a different lgConfigK must refuse to merge
    CorpusOps.saveOverlapSketch(c, "text", s"$base/c9", lgConfigK = 9)
    val e = intercept[IllegalArgumentException](CorpusOps.corpusOverlapMatrix(
      spark, Seq("a" -> s"$base/a", "c9" -> s"$base/c9")))
    assert(e.getMessage.contains("lgConfigK"), e.getMessage)
    intercept[IllegalArgumentException](
      CorpusOps.corpusOverlapMatrix(spark, Seq("a" -> s"$base/a")))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("overlap sketch writers hold the index lease: concurrent append fails loudly") {
    // the sketch is one KB row, so a concurrent append can't corrupt it —
    // but last-write-wins silently LOSES a batch. The save/append
    // lifecycle takes the same single-writer lease as every other
    // persisted index family (in a sibling <path>__writer dir, since the
    // sketch path itself is rewritten wholesale).
    val a = (0 until 50).map(i => (i.toLong, s"lease doc $i")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("ovs-lease").toString
    val path = s"$base/sk"
    CorpusOps.saveOverlapSketch(a, "text", path)
    val before = CorpusOps.corpusOverlapMatrix(spark,
        Seq("x" -> path, "y" -> path)).select($"n_a").as[Long].head()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"${path}__writer/__lease")
    fs.mkdirs(lease.getParent)
    val out = fs.create(lease, false)
    out.write("appendToOverlapSketch@other".getBytes("UTF-8")); out.close()
    val delta = Seq((999L, "a brand new lease doc")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException](
      CorpusOps.appendToOverlapSketch(delta, "text", path))
    assert(e.getMessage.contains("lease") &&
      e.getMessage.contains("appendToOverlapSketch@other"), e.getMessage)
    intercept[IllegalStateException](CorpusOps.saveOverlapSketch(a, "text", path))
    val after = CorpusOps.corpusOverlapMatrix(spark,
        Seq("x" -> path, "y" -> path)).select($"n_a").as[Long].head()
    assert(after == before, "failed appender must not have touched the sketch")
    // holder releases: the append proceeds and is estimate-visible
    fs.delete(lease, false)
    CorpusOps.appendToOverlapSketch(delta, "text", path)
    val grown = CorpusOps.corpusOverlapMatrix(spark,
        Seq("x" -> path, "y" -> path)).select($"n_a").as[Long].head()
    assert(grown > before, s"append not visible: $grown vs $before")
    assert(!fs.exists(lease), "winner must release the lease")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    ()
  }

  test("persisted BM25 stats: incremental save+append reproduces the one-shot search exactly") {
    val docs = (0 until 60).map { i =>
      (i.toLong, s"term$i cat ${if (i % 3 == 0) "dog" else "fish"} shared words " +
        ("pad " * (i % 7)).trim)
    }.toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("bm25-stats").toString
    val path = s"$base/idx"
    // lifecycle: base snapshot = doc_id % 2 == 0; two appends cover the rest
    CorpusOps.saveBm25Stats(docs.filter($"doc_id" % 2 === 0), "doc_id", "text", path)
    CorpusOps.appendToBm25Stats(
      docs.filter($"doc_id" % 2 =!= 0 && $"doc_id" < 30), "doc_id", "text", path, epoch = 0)
    CorpusOps.appendToBm25Stats(
      docs.filter($"doc_id" % 2 =!= 0 && $"doc_id" >= 30), "doc_id", "text", path, epoch = 1)
    val q = Seq("cat", "dog", "missingterm")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSeq
    val direct = key(CorpusOps.bm25Search(docs, "doc_id", "text", q, k = 15))
    val persisted = key(CorpusOps.bm25SearchWithStats(docs, "doc_id", "text", q, path, k = 15))
    assert(persisted == direct, s"persisted diverged:\n$persisted\nvs\n$direct")
    // epoch replay is idempotent: re-appending epoch 1 replaces, not doubles
    CorpusOps.appendToBm25Stats(
      docs.filter($"doc_id" % 2 =!= 0 && $"doc_id" >= 30), "doc_id", "text", path, epoch = 1)
    assert(key(CorpusOps.bm25SearchWithStats(docs, "doc_id", "text", q, path, k = 15)) == direct)
    // compaction merges 3 epochs into one, values unchanged
    assert(CorpusOps.compactBm25Stats(spark, path) == 3)
    assert(key(CorpusOps.bm25SearchWithStats(docs, "doc_id", "text", q, path, k = 15)) == direct)
    assert(CorpusOps.compactBm25Stats(spark, path) == 0, "already compact")
    // a non-stats path fails loudly, not with a schema error downstream
    val e = intercept[IllegalStateException](
      CorpusOps.loadBm25Stats(spark, s"$base/nothere"))
    assert(e.getMessage.contains("not a BM25 stats index"), e.getMessage)
    // concurrent mutation: a held lease blocks append AND save
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$path/__lease")
    val out = fs.create(lease, false)
    out.write("saveBm25Stats@other".getBytes("UTF-8")); out.close()
    val c = intercept[IllegalStateException](
      CorpusOps.appendToBm25Stats(docs.limit(1), "doc_id", "text", path, epoch = 2))
    assert(c.getMessage.contains("saveBm25Stats@other"), c.getMessage)
    fs.delete(lease, false)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    ()
  }

  test("bm25 stats hardening: re-save clears epochs, torn append invisible, null-text avgdl parity") {
    val docs = (0 until 40).map(i => (i.toLong, s"alpha beta doc$i word"))
      .toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("bm25-hard").toString
    val path = s"$base/idx"
    val q = Seq("alpha", "doc3")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSeq
    // 1) a WHOLESALE re-save must delete previously appended epochs — a
    //    stale epoch summing on top of the new base double-counts silently
    CorpusOps.saveBm25Stats(docs.filter($"doc_id" < 20), "doc_id", "text", path)
    CorpusOps.appendToBm25Stats(docs.filter($"doc_id" >= 20), "doc_id", "text", path, 0)
    CorpusOps.saveBm25Stats(docs, "doc_id", "text", path) // rebuild over the FULL corpus
    assert(CorpusOps.loadBm25Stats(spark, path)._2 == 40L,
      "re-save left a stale epoch double-counting docs")
    assert(key(CorpusOps.bm25SearchWithStats(docs, "doc_id", "text", q, path, k = 10)) ==
      key(CorpusOps.bm25Search(docs, "doc_id", "text", q, k = 10)))
    // 2) an UNCOMMITTED append (data dirs written, crash before the
    //    manifest flip — simulated by deleting the newest manifest so the
    //    reader falls back to the previous version) must be invisible to
    //    load and compaction, never skew IDF
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = key(CorpusOps.bm25SearchWithStats(docs, "doc_id", "text", q, path, k = 10))
    CorpusOps.appendToBm25Stats(docs.limit(5), "doc_id", "text", path, 7)
    val newestManifest = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath).filter(_.getName.startsWith("manifest-"))
      .maxBy(_.getName.stripPrefix("manifest-").toInt)
    fs.delete(newestManifest, false)
    assert(CorpusOps.loadBm25Stats(spark, path)._2 == 40L,
      "uncommitted epoch leaked into the load")
    assert(key(CorpusOps.bm25SearchWithStats(docs, "doc_id", "text", q, path, k = 10)) == before)
    assert(CorpusOps.compactBm25Stats(spark, path) == 0,
      "compaction must not count an uncommitted epoch")
    // ...and compaction's prune removed the orphaned dirs
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/terms/epoch=7")),
      "uncommitted epoch dirs survive until a prune, then go")
    // the idempotent replay lands the epoch for real
    CorpusOps.appendToBm25Stats(docs.limit(5), "doc_id", "text", path, 7)
    assert(CorpusOps.loadBm25Stats(spark, path)._2 == 45L)
    // out-of-band DAMAGE (a committed epoch's table deleted) fails loudly
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/meta/epoch=7"), true)
    val dmg = intercept[IllegalArgumentException](CorpusOps.loadBm25Stats(spark, path))
    assert(dmg.getMessage.contains("damaged"), dmg.getMessage)
    CorpusOps.appendToBm25Stats(docs.limit(5), "doc_id", "text", path, 7) // repair
    // 3) null-text docs: bm25Search's avg(dl) SKIPS them — the persisted
    //    avgdl must divide by the same non-null population
    val withNulls = docs.unionByName(
      Seq((100L, null: String), (101L, null: String)).toDF("doc_id", "text"))
    val path2 = s"$base/idx2"
    CorpusOps.saveBm25Stats(withNulls.filter($"doc_id" % 2 === 0), "doc_id", "text", path2)
    CorpusOps.appendToBm25Stats(withNulls.filter($"doc_id" % 2 =!= 0), "doc_id", "text", path2, 0)
    assert(key(CorpusOps.bm25SearchWithStats(withNulls, "doc_id", "text", q, path2, k = 10)) ==
      key(CorpusOps.bm25Search(withNulls, "doc_id", "text", q, k = 10)),
      "null-text docs broke the exact-reproduction contract")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    ()
  }

  test("bm25Search: exact hand-computed scores, rank order, top-k cut") {
    // 3 docs, query = {cat, dog}: N=3, avgdl = (4+2+3)/3 = 3.0
    // df(cat)=2, df(dog)=1
    val docs = Seq(
      (1L, "cat dog cat mouse"),  // dl=4, tf(cat)=2, tf(dog)=1
      (2L, "cat fish"),           // dl=2, tf(cat)=1
      (3L, "bird mouse fish"))    // dl=3, no query terms
      .toDF("doc_id", "text")
    val got = CorpusOps.bm25Search(docs, "doc_id", "text", Seq("cat", "dog"), k = 10)
      .as[(Long, Long, Double)].collect()
    def r(x: Double, d: Int) = BigDecimal(x * math.pow(10, d))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / math.pow(10, d)
    val (k1, b) = (1.2, 0.75)
    def w(tf: Int, df: Int, dl: Int): Double = {
      val idf = math.log((3.0 - df + 0.5) / (df + 0.5) + 1.0)
      r(idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / 3.0)), 6)
    }
    val exp1 = r(w(2, 2, 4) + w(1, 1, 4), 4) // doc 1: both terms
    val exp2 = r(w(1, 2, 2), 4)              // doc 2: cat only
    assert(got.toSeq == Seq((1L, 2L, exp1), (2L, 1L, exp2)),
      s"got ${got.toSeq}, expected ${Seq((1L, 2L, exp1), (2L, 1L, exp2))}")
    // doc 3 (no query term) absent; k cuts the tail deterministically
    val top1 = CorpusOps.bm25Search(docs, "doc_id", "text", Seq("cat", "dog"), k = 1)
      .as[(Long, Long, Double)].collect()
    assert(top1.toSeq == Seq((1L, 2L, exp1)))
  }

  test("bm25SearchMany == per-query bm25Search; misses absent; in-query dups count once") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sf0001)
    val queries = Seq(
      (1L, "data value"), (2L, "spark table key"),
      (3L, "data data spark"),          // duplicate term dedups like .distinct
      (4L, "zzzznomatch"))              // no matching docs -> no rows
      .toDF("query_id", "query_text")
    val many = CorpusOps.bm25SearchMany(docs, "doc_id", "text",
        queries, "query_id", "query_text", k = 7)
      .collect().groupBy(_.getLong(0))
    assert(!many.contains(4L))
    for ((qid, terms) <- Seq(1L -> Seq("data", "value"),
        2L -> Seq("spark", "table", "key"), 3L -> Seq("data", "data", "spark"))) {
      val single = CorpusOps.bm25Search(docs, "doc_id", "text", terms, k = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val got = many(qid).sortBy(_.getLong(4))
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == single.toSeq, s"query $qid diverged from bm25Search")
      // rnk is 1..n in score order
      assert(many(qid).map(_.getLong(4)).sorted.toSeq == (1L to got.length).toSeq)
    }
  }

  test("bm25Fit + bm25ScoreWith == bm25Search rows (fit-once/score-many parity)") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sf0001)
    val q = Seq("data", "key", "value")
    val (dft, n, avgdl) = CorpusOps.bm25Fit(docs, "doc_id", "text", q)
    val applied = CorpusOps.bm25ScoreWith(docs, "doc_id", "text", dft, n, avgdl)
      .orderBy($"doc_id").collect()
    val composed = CorpusOps.bm25Search(docs, "doc_id", "text", q, k = 1000000)
      .orderBy($"doc_id").collect()
    assert(applied.toSeq == composed.toSeq)
    // slicing invariance: scoring two halves separately unions to the whole
    val (h1, h2) = (docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1))
    val sliced = CorpusOps.bm25ScoreWith(h1, "doc_id", "text", dft, n, avgdl)
      .unionByName(CorpusOps.bm25ScoreWith(h2, "doc_id", "text", dft, n, avgdl))
      .orderBy($"doc_id").collect()
    assert(sliced.toSeq == applied.toSeq)
  }

  test("bm25FitMany + bm25ScoreManyWith == bm25SearchMany scores; slicing invariant") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sf0001)
    val queries = Seq((1L, "data value"), (2L, "spark table key"))
      .toDF("query_id", "query_text")
    val (qt, dft, n, avgdl) = CorpusOps.bm25FitMany(
      docs, "doc_id", "text", queries, "query_id", "query_text")
    val applied = CorpusOps.bm25ScoreManyWith(docs, "doc_id", "text", qt, dft, n, avgdl)
      .orderBy($"query_id", $"doc_id").collect()
    val composed = CorpusOps.bm25SearchMany(docs, "doc_id", "text", queries,
        "query_id", "query_text", k = 1000000)
      .drop("rnk").orderBy($"query_id", $"doc_id").collect()
    assert(applied.toSeq == composed.toSeq)
    // slicing invariance: two halves scored separately union to the whole
    val (h1, h2) = (docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1))
    val sliced = CorpusOps.bm25ScoreManyWith(h1, "doc_id", "text", qt, dft, n, avgdl)
      .unionByName(CorpusOps.bm25ScoreManyWith(h2, "doc_id", "text", qt, dft, n, avgdl))
      .orderBy($"query_id", $"doc_id").collect()
    assert(sliced.toSeq == applied.toSeq)
  }

  test("naiveBayesScore: exact hand-computed log-odds; positives above negatives") {
    val docs = Seq(
      (1L, true, "a a b"),
      (2L, false, "b c")).toDF("doc_id", "pos", "text")
    val got = CorpusOps.naiveBayesScore(docs, "doc_id", "text", $"pos")
      .orderBy($"doc_id").as[(Long, Long, Double)].collect()
    // cpos: a=2 b=1 c=0; cneg: b=1 c=1; Tpos=3 Tneg=2 V=3; bias=ln(2/2)=0
    // w(a)=r6(ln(3/6)-ln(1/5))=0.916291, w(b)=r6(ln(2/6)-ln(2/5))=-0.182322,
    // w(c)=r6(ln(1/6)-ln(2/5))=-0.875469
    assert(got(0) == ((1L, 3L, 1.6503)), got(0).toString)   // 2*w(a)+w(b)
    assert(got(1) == ((2L, 2L, -1.0578)), got(1).toString)  // w(b)+w(c)
  }

  test("naiveBayes: NULL labels train NEITHER class (DuckDB FILTER semantics)") {
    // a nullable predicate column (reachable via the graft_classify TVF)
    // must not count its NULL rows as negatives: the DuckDB twin's
    // count FILTER (WHERE pos) / (WHERE NOT pos) excludes them from both
    // classes, so the fitted model must equal one trained with the
    // null-labeled doc carrying no label weight at all — while the doc
    // itself still gets SCORED
    val withNull = Seq(
      (1L, Some(true), "a a b"),
      (2L, Some(false), "b c"),
      (3L, None, "a b c d")).toDF("doc_id", "pos", "text")
    val got = CorpusOps.naiveBayesScore(withNull, "doc_id", "text", $"pos")
      .orderBy($"doc_id").as[(Long, Long, Double)].collect()
    assert(got.length == 3, "null-labeled doc must still be scored")
    // class counts must match the 2-doc model EXCEPT V (doc 3 contributes
    // the unseen term d to the joint vocabulary in both engines), so pin
    // against hand-computed values: cpos a=2 b=1; cneg b=1 c=1; V=4
    // (a,b,c,d); Tpos=3 Tneg=2; bias=ln(2/2)=0
    def r6(x: Double) = BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    def r4(x: Double) = BigDecimal(x * 1e4)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e4
    val (wa, wb, wc, wd) = (
      r6(math.log(3.0 / 7) - math.log(1.0 / 6)),
      r6(math.log(2.0 / 7) - math.log(2.0 / 6)),
      r6(math.log(1.0 / 7) - math.log(2.0 / 6)),
      r6(math.log(1.0 / 7) - math.log(1.0 / 6)))
    assert(got(0)._3 == r4(2 * wa + wb), got(0).toString)
    assert(got(1)._3 == r4(wb + wc), got(1).toString)
    assert(got(2)._3 == r4(wa + wb + wc + wd), got(2).toString)
    // fit-side rule matches score-side
    val (_, bias, _) = CorpusOps.naiveBayesFit(withNull, "doc_id", "text", $"pos")
    assert(bias == 0.0, s"null label leaked into the document counts: bias=$bias")
  }

  test("leakageSafeSplit: near-dup clusters land in one split, loners split by own id") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (2L, "completely different content about spark query engines and shuffles"),
      (3L, "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "another unrelated piece of text mentioning vectors and embeddings"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
    val w = Seq("train" -> 0.5, "test" -> 0.5)
    val got = Sampling.leakageSafeSplit(docs, "doc_id", pairs, w)
      .select($"doc_id", $"split_rep", $"split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // 0/1/3 are one near-dup component -> same representative, same split
    assert(got.filter(r => Set(0L, 1L, 3L)(r._1)).map(_._2).distinct.length == 1)
    assert(got.filter(r => Set(0L, 1L, 3L)(r._1)).map(_._3).distinct.length == 1)
    // loners represent themselves and match the plain hash split
    val plain = Sampling.hashSplit(
        docs.filter($"doc_id".isin(2L, 4L)), $"doc_id".cast("string"), w)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    got.filter(r => Set(2L, 4L)(r._1)).foreach { r =>
      assert(r._2 == r._1 && r._3 == plain(r._1), r.toString)
    }
  }

  test("ngramDiversity: exact distinct/total ratios per group") {
    val docs = Seq(
      (0L, "a", "x y z x y z"),   // shingles: xyz yzx zxy xyz -> 3 distinct / 4
      (1L, "b", "p q r s"))       // pqr qrs -> 2 distinct / 2
      .toDF("doc_id", "source", "text")
    val got = CorpusOps.ngramDiversity(docs, "text", "source", n = 3)
      .orderBy($"source").as[(String, Long, Long, Double)].collect()
    assert(got(0) == (("a", 3L, 4L, 0.75)), got(0).toString)
    assert(got(1) == (("b", 2L, 2L, 1.0)), got(1).toString)
  }

  test("Corpus.classify delegates to naiveBayesScore") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sf0001).limit(50)
    assert(Corpus(docs).classify($"lang" === "en").orderBy($"doc_id").collect().toSeq ==
      CorpusOps.naiveBayesScore(docs, "doc_id", "text", $"lang" === "en")
        .orderBy($"doc_id").collect().toSeq)
  }

  test("naiveBayesFit + linearClassifierScore == composed naiveBayesScore") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sf0001)
    val (w, bias, oov) = CorpusOps.naiveBayesFit(docs, "doc_id", "text",
      $"lang" === "en")
    val applied = CorpusOps.linearClassifierScore(docs, "doc_id", "text", w, bias, oov)
      .orderBy($"doc_id").collect()
    val composed = CorpusOps.naiveBayesScore(docs, "doc_id", "text", $"lang" === "en")
      .orderBy($"doc_id").collect()
    assert(applied.toSeq == composed.toSeq)
    // OOV genuinely fires when scoring UNSEEN text with the fitted model
    val fresh = Seq((9999L, "zzzqx vvkwq pplmd")).toDF("doc_id", "text")
    val got = CorpusOps.linearClassifierScore(fresh, "doc_id", "text", w, bias, oov)
      .as[(Long, Long, Double)].head()
    val expected = BigDecimal((bias + 3 * oov) * 1e4)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e4
    assert(got._3 == expected, s"got ${got._3}, expected $expected")
  }

  test("linearClassifierScore: user weights, OOV fallback, bias") {
    val docs = Seq((1L, "good good bad"), (2L, "novel words only")).toDF("doc_id", "text")
    val weights = Seq(("good", 1.0), ("bad", -2.0)).toDF("term", "weight")
    val got = CorpusOps.linearClassifierScore(docs, "doc_id", "text", weights,
        bias = 0.5, oovWeight = 0.1)
      .orderBy($"doc_id").as[(Long, Long, Double)].collect()
    assert(got(0) == ((1L, 3L, 0.5)), got(0).toString)  // 0.5 + 1 + 1 - 2
    assert(got(1) == ((2L, 3L, 0.8)), got(1).toString)  // 0.5 + 3 * 0.1
  }

  test("encodingProfile: replacement chars, control chars, non-ASCII ratio, suspect flag") {
    val df = Seq(
      (0L, "clean ascii text"),
      (1L, "bad\uFFFDdecode\uFFFD"),          // two replacement chars
      (2L, "ctlheretoo"),          // two C0 controls (not tab/LF/CR)
      (3L, "tabs\tand\nnewlines\rok"),         // whitelisted controls stay clean
      (4L, "\u00e9\u00e9\u00e9\u00e9")         // 100% non-ASCII
    ).toDF("doc_id", "text")
    val got = CorpusOps.encodingProfile(df, "doc_id", "text")
      .orderBy($"doc_id")
      .select($"repl_chars", $"ctl_chars", $"nonascii_ratio", $"suspect")
      .as[(Long, Long, Double, Boolean)].collect()
    assert(got(0) == (0L, 0L, 0.0, false))
    assert(got(1)._1 == 2L && got(1)._4)
    assert(got(2)._2 == 2L && got(2)._4)
    assert(got(3) == (0L, 0L, 0.0, false), got(3).toString)
    assert(got(4)._3 == 1.0 && got(4)._4)
  }

  test("vocabularyDrift: exact count ratios, new terms included, top-k by |delta|") {
    val oldSnap = Seq((1L, "a a b")).toDF("doc_id", "text")
    val newSnap = Seq((1L, "a b b b c")).toDF("doc_id", "text")
    val got = CorpusOps.vocabularyDrift(oldSnap, newSnap, "doc_id", "text", topK = 3)
      .as[(String, Long, Long, Double, Double, Double)].collect()
    // a: 2/3 -> 1/5 (biggest mover), b: 1/3 -> 3/5, c: 0 -> 1/5 (new term)
    assert(got.map(_._1).toSeq == Seq("a", "b", "c"), got.mkString(","))
    val a = got(0); val c = got(2)
    assert(a._2 == 2L && a._3 == 1L)
    assert(math.abs(a._6 - (-0.46666667)) < 1e-9, a.toString)
    assert(c._2 == 0L && c._3 == 1L && math.abs(c._6 - 0.2) < 1e-9)
    // top-1 keeps only the biggest mover
    assert(CorpusOps.vocabularyDrift(oldSnap, newSnap, "doc_id", "text", topK = 1)
      .as[(String, Long, Long, Double, Double, Double)].collect().map(_._1).toSeq == Seq("a"))
  }

  test("selectTopShareByGroup: exact per-group cut, ties at the threshold all kept") {
    val df = Seq(
      // group a: distinct scores — top 25% of 4 = rank 1 → only 0.9 survives
      (0L, "a", 0.9), (1L, "a", 0.8), (2L, "a", 0.7), (3L, "a", 0.6),
      // group b: threshold ties — rank 1 of 4 lands on 0.5, all three ties kept
      (4L, "b", 0.5), (5L, "b", 0.5), (6L, "b", 0.5), (7L, "b", 0.2),
      // group c: smaller than any rank granularity — rank ceil(.25*1)=1 keeps it
      (8L, "c", 0.1)
    ).toDF("id", "grp", "score")
    val kept = CorpusOps.selectTopShareByGroup(df, "grp", "score", topPermille = 250)
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(0L, 4L, 5L, 6L, 8L), kept.toString)
    // the rule is (group, score)-pure: same survivors on any partitioning
    val again = CorpusOps.selectTopShareByGroup(
        df.repartition(7), "grp", "score", topPermille = 250)
      .select($"id").as[Long].collect().toSet
    assert(again == kept)
    // 1000 permille keeps everything; bounds are validated
    assert(CorpusOps.selectTopShareByGroup(df, "grp", "score", 1000).count() == 9)
    // a hostile CONTINUOUS score is discretized by the operator itself, so
    // the histogram (and its window partition) stays bounded — and the cut
    // law still holds at the rounded granularity
    val cont = (0 until 100).map(i => (i.toLong, "g", i * math.Pi % 1.0))
      .toDF("id", "grp", "score")
    val kc = CorpusOps.selectTopShareByGroup(cont, "grp", "score", 250, scoreDigits = 2)
      .select($"id").as[Long].collect()
    assert(kc.length >= 25 && kc.length <= 35, s"kept ${kc.length}")
    intercept[IllegalArgumentException] {
      CorpusOps.selectTopShareByGroup(df, "grp", "score", 0)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.selectTopShareByGroup(df, "grp", "score", 1001)
    }
  }

  test("Corpus facade: selectTopShare and dropEncodingSuspects delegate exactly") {
    val docs = Seq(
      (0L, "s1", "good clean text body here"),
      (1L, "s1", "bad\uFFFDtext"),
      (2L, "s2", "another fine document text")).toDF("doc_id", "source", "text")
    val dropped = Corpus(docs).dropEncodingSuspects().df
      .select($"doc_id").as[Long].collect().toSet
    assert(dropped == Set(0L, 2L))
    val scored = docs.withColumn("score",
      graft.functions.TextFunctions.stableRound(
        graft.functions.TextFunctions.qualityScore($"text"), 4))
    val viaFacade = Corpus(scored).selectTopShare("score", 500).df
      .select($"doc_id").as[Long].collect().toSet
    val direct = CorpusOps.selectTopShareByGroup(scored, "source", "score", 500)
      .select($"doc_id").as[Long].collect().toSet
    assert(viaFacade == direct)
  }

  test("selectTopShareByGroup: cut law holds on random data (ceiling rank, ties, purity)") {
    val rnd = new scala.util.Random(42)
    Seq(100, 250, 500, 900).foreach { p =>
      val rows = (0 until 200).map { i =>
        (i.toLong, s"g${rnd.nextInt(5)}", rnd.nextInt(21) / 20.0)
      }
      val df = rows.toDF("id", "grp", "score")
      val kept = CorpusOps.selectTopShareByGroup(df, "grp", "score", p)
        .select($"id", $"grp", $"score").as[(Long, String, Double)].collect()
      rows.groupBy(_._2).foreach { case (g, rs) =>
        val r = (p * rs.length + 999) / 1000
        val keptG = kept.filter(_._2 == g)
        assert(keptG.length >= r, s"p=$p $g: kept ${keptG.length} < rank $r")
        // kept = exactly the rows at or above the threshold score
        val t = keptG.map(_._3).min
        assert(rs.count(_._3 >= t) == keptG.length, s"p=$p $g: ties not inclusive")
        val keptIds = keptG.map(_._1).toSet
        val dropped = rs.filterNot(x => keptIds(x._1))
        if (dropped.nonEmpty)
          assert(t > dropped.map(_._3).max, s"p=$p $g: dropped row above the cut")
      }
    }
  }

  test("selectTopShareByGroup: kept count per group is the ceiling rank plus ties") {
    // 10 rows per group with distinct scores: top 300‰ → ceil(3.0)=3 rows
    val df = (0 until 30).map(i => (i.toLong, s"g${i % 3}", (i / 3) / 10.0))
      .toDF("id", "grp", "score")
    val byGroup = CorpusOps.selectTopShareByGroup(df, "grp", "score", 300)
      .groupBy($"grp").count().as[(String, Long)].collect().toMap
    assert(byGroup == Map("g0" -> 3L, "g1" -> 3L, "g2" -> 3L), byGroup.toString)
  }
}
