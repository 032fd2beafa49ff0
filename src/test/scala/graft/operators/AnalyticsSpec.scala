package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.TextFunctions
import graft.functions.hashFunctions._

class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("tokenCount / shingles / punct on edge cases") {
    val df = Seq("a b c d", "one", "", "x y z").toDF("t")
    val got = df.select(
      TextFunctions.tokenCount($"t").as("n"),
      TextFunctions.wordShingles($"t", 3).as("sh"),
      TextFunctions.punctCount(lit("a, b! c?")).as("p")).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(4, 1, 1, 3))
    assert(got(0).getSeq[String](1) == Seq("a b c", "b c d"))
    assert(got(1).getSeq[String](1) == Seq.empty)
    assert(got(3).getSeq[String](1) == Seq("x y z"))
    assert(got(0).getInt(2) == 3)
  }

  test("redactPii masks emails, phones, IPs and counts each match") {
    val df = Seq(
      (1L, "mail jo.doe+x@sub.mail.co or call 555-123-4567 from 10.0.0.1 ok"),
      (2L, "short form 555-0199 works too"),
      (3L, "no pii here at all")).toDF("id", "t")
    val got = df.orderBy($"id")
      .select(TextFunctions.redactPii($"t"), TextFunctions.piiCount($"t"))
      .as[(String, Int)].collect().toSeq
    assert(got == Seq(
      ("mail <EMAIL> or call <PHONE> from <IP> ok", 3),
      ("short form <PHONE> works too", 1),
      ("no pii here at all", 0)))
    // the facade's scrub stage delegates to the same expression
    val viaFacade = Corpus(df, idCol = "id", textCol = "t").redactPii()
      .df.orderBy($"id").select($"t").as[String].collect().toSeq
    assert(viaFacade == got.map(_._1))
  }

  test("langIdGuess picks marker-dominant language, und for none") {
    val df = Seq(
      "the cat is on the mat", "le chat et la souris", "der hund und die katze",
      "el perro y los gatos", "zzz qqq").toDF("t")
    val got = df.select(TextFunctions.langIdGuess($"t")).as[String].collect().toSeq
    assert(got == Seq("en", "fr", "de", "es", "und"))
  }

  test("langIdGuess tie-break follows declared language order and null is und") {
    // 'und' marks both de and en... 'the' (en) vs 'und'+'die' (de): de wins;
    // an exact tie resolves to the earlier language in langMarkers order
    val df = Seq(
      ("t1", "the und die"),          // en=1, de=2 -> de
      ("t2", "the le"),               // en=1, fr=1 tie -> en (declared first)
      ("t3", null.asInstanceOf[String])).toDF("id", "t")
    val got = df.orderBy($"id")
      .select(TextFunctions.langIdGuess($"t")).as[String].collect().toSeq
    assert(got == Seq("de", "en", "und"))
  }

  test("qualityScore in [0,1] and monotone in stopword presence") {
    val df = Seq("the a is of and the a is of and", "zz qq ww").toDF("t")
    val got = df.select(TextFunctions.qualityScore($"t")).as[Double].collect()
    assert(got.forall(q => q >= 0.0 && q <= 1.0))
    assert(got(0) > got(1))
  }

  test("fingerprint is normalization-invariant md5") {
    val df = Seq(("  Hello World ", "hello world")).toDF("a", "b")
    val r = df.select(TextFunctions.fingerprint($"a"), TextFunctions.fingerprint($"b"))
      .as[(String, String)].head()
    assert(r._1 == r._2)
    assert(r._1.length == 32)
  }

  test("bpeTokenCount splits letter runs, digit runs, symbols") {
    val got = Seq("Hello world42 x!y").toDF("t")
      .select(TextFunctions.bpeTokenCount($"t")).as[Int].head()
    // hello, world, 42, x, !, y
    assert(got == 6)
  }

  test("winnowing fingerprints: shared long substrings share fingerprints") {
    import graft.functions.hashFunctions.rolling_fingerprints
    val common = "the quick brown fox jumps over the lazy dog repeatedly"
    val df = Seq(
      (1L, s"PREFIX AAA $common SUFFIX BBB"),
      (2L, s"zz $common qq"),
      (3L, "completely unrelated content with no shared spans at all here"))
      .toDF("id", "t")
    val fps = df.select($"id", rolling_fingerprints($"t", 8, 4).as("f"))
      .as[(Long, Seq[Long])].collect().toMap
    val shared12 = fps(1L).toSet.intersect(fps(2L).toSet)
    val shared13 = fps(1L).toSet.intersect(fps(3L).toSet)
    assert(shared12.size >= 5, s"copied span must share fingerprints: ${shared12.size}")
    assert(shared13.size <= 1, s"unrelated docs share too much: ${shared13.size}")
    // guarantee property: substring of len >= ngram+window-1 -> >=1 shared
    assert(shared12.nonEmpty)
  }

  test("fingerprintPairs flags the near-copy pair only") {
    val common = "the quick brown fox jumps over the lazy dog repeatedly and often"
    val df = Seq(
      (1L, s"PREFIX AAA $common SUFFIX BBB"),
      (2L, s"zz $common qq"),
      (3L, "completely unrelated content with no shared spans at all here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.fingerprintPairs(df, "doc_id", "text", minShared = 5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("charJaccard matches known value") {
    // chars{hello}={h,e,l,o}, chars{help}={h,e,l,p}: |∩|=3, |∪|=5 -> 0.6
    val r = Seq(1).toDF("x")
      .select(TextFunctions.charJaccard(lit("hello"), lit("help"))).as[Double].head()
    assert(math.abs(r - 0.6) < 1e-12)
  }

  test("normalizeText canonicalizes case, punctuation and whitespace") {
    val df = Seq(
      (1L, "  Hello,   WORLD!! "),
      (2L, "hello world"),
      (3L, "HELLO\t\nworld..."),
      (4L, "!!!"),                      // punct-only -> empty
      (5L, ""),
      (6L, null.asInstanceOf[String]))
      .toDF("id", "t")
    val got = df.orderBy($"id")
      .select(TextFunctions.normalizeText($"t")).as[String].collect().toSeq
    assert(got == Seq("hello world", "hello world", "hello world", "", "", null))
  }
}

class HashExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("minhash: identical sets match, signature is order/dup-insensitive") {
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("c", "b", "a", "a")),
      (3L, Seq("x", "y", "z"))).toDF("id", "sh")
    val sigs = df.select($"id", minhash_signature($"sh", 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).size == 32)
  }

  test("minhash: signature agreement estimates jaccard") {
    val a = (0 until 100).map(i => s"sh$i")
    val b = (50 until 150).map(i => s"sh$i") // true J = 50/150 = 1/3
    val df = Seq((1L, a), (2L, b)).toDF("id", "sh")
    val sigs = df.select($"id", minhash_signature($"sh", 256).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val agree = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y } / 256.0
    assert(math.abs(agree - 1.0 / 3.0) < 0.1, s"estimate $agree far from 1/3")
  }

  test("non-nullable RefEvalCodegen expressions compile under CODEGEN_ONLY") {
    // regression: the trait wrote `ev.isNull = true` even when the
    // expression was non-nullable, where nullSafeCodeGen never declares
    // the isNull variable — Janino rejected the code ("isNull_0 is not an
    // rvalue") and every containing span fell back to interpreted.
    // CODEGEN_ONLY turns that silent fallback into a test failure.
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // bloom probe over xxhash64: child is non-nullable => expr non-nullable.
      // Build over xxhash64(k) (seed 42) -- the probe hashes `value` the
      // same way internally, so build and probe must agree.
      val keys = Seq(1L, 2L, 3L).toDF("k")
        .withColumn("h", org.apache.spark.sql.functions.xxhash64($"k"))
      val bloom = keys.stat.bloomFilter("h", 100L, 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      val hit = keys.filter(graft.functions.hashFunctions.bloom_might_contain_bc(
        spark, bos.toByteArray,
        org.apache.spark.sql.functions.col("k"))).count()
      assert(hit == 3L)
      // nfc_normalize over a non-nullable literal column
      val n = Seq("café").toDF("s")
        .select(graft.functions.hashFunctions.nfc_normalize(
          org.apache.spark.sql.functions.col("s")).as("n"))
        .as[String].head()
      assert(n == "café")
    } finally {
      prev.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        v => spark.conf.set("spark.sql.codegen.factoryMode", v))
    }
  }

  test("simhash: near-identical token sets have small hamming distance") {
    val base = (0 until 60).map(i => s"t$i")
    val near = base.updated(3, "CHANGED").updated(40, "ALSO")
    val far = (0 until 60).map(i => s"u$i")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "sh")
    val h = df.select($"id", simhash64($"sh")).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) < 12, s"near docs hamming ${ham(h(1L), h(2L))}")
    assert(ham(h(1L), h(3L)) > 16, s"far docs hamming ${ham(h(1L), h(3L))}")
  }

  test("cosine_similarity matches manual computation; null on mismatch") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(3.0f, 2.0f, 1.0f))).toDF("a", "b")
    val got = df.select(cosine_similarity($"a", $"b")).as[Double].head()
    val expected = 10.0 / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(math.abs(got - expected) < 1e-12)
    val bad = Seq((Seq(1.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    assert(bad.select(cosine_similarity($"a", $"b")).head().isNullAt(0))
  }

  test("hyperplane LSH: identical vectors same bucket; deterministic across runs") {
    val df = Seq((1L, Seq(1.0f, 0.5f)), (2L, Seq(1.0f, 0.5f)), (3L, Seq(-1.0f, -0.5f)))
      .toDF("id", "v")
    val b = df.select($"id", hyperplane_lsh_bucket($"v", 16)).as[(Long, Long)]
      .collect().toMap
    assert(b(1L) == b(2L))
    assert(b(1L) != b(3L)) // antipodal vector flips every sign bit
    val again = df.select($"id", hyperplane_lsh_bucket($"v", 16)).as[(Long, Long)]
      .collect().toMap
    assert(b == again)
  }
}

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near-dup of 0
    (2L, "completely different content about spark query engines and shuffles"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
    (4L, "another unrelated piece of text mentioning vectors and embeddings"))
    .toDF("doc_id", "text")

  test("exact dedup keeps min id per distinct text") {
    val got = Dedup.exact(docs, Seq($"text"), $"doc_id")
      .select($"keeper", $"n_dups").as[(Long, Long)].collect().toMap
    assert(got(0L) == 2L) // docs 0 and 3 collapse to keeper 0
    assert(got.values.sum == 5L)
    val rows = Dedup.exactRows(docs, Seq($"text"), $"doc_id")
    assert(rows.count() == 4)
    assert(rows.filter($"doc_id" === 3L).isEmpty)
  }

  test("dedupParagraphs: corpus-wide first occurrence wins, docs reassemble in order") {
    val pdocs = Seq(
      (10L, "alpha beta\nshared one\ngamma delta"),
      (11L, "shared one\nepsilon zeta\nshared two"),
      (12L, "shared two\nshared one"), // loses everything
      (13L, "eta theta\neta theta\niota")) // intra-doc dup also cut
      .toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(pdocs, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, String, Int, Int)].collect().toSeq
    assert(got == Seq(
      (10L, "alpha beta\nshared one\ngamma delta", 3, 3),
      (11L, "epsilon zeta\nshared two", 3, 2),
      (13L, "eta theta\niota", 3, 2)),
      s"got=$got") // doc 12 dropped: both paragraphs seen earlier
  }

  test("dedupParagraphs: custom segmentation and join delimiter") {
    val pdocs = Seq(
      (0L, "a b c d"),
      (1L, "c d a b"))
      .toDF("doc_id", "text")
    // two-token windows: doc0 = [a b, c d], doc1 = [c d, a b] — doc1's
    // windows are both repeats of doc0's, so doc1 drops
    val w2 = split($"text", " ")
    val paras = transform(sequence(lit(0), lit(1)),
      i => array_join(slice(w2, i * 2 + 1, lit(2)), " "))
    val got = Dedup.dedupParagraphs(pdocs, "doc_id", "text", paras, joinWith = " ")
      .as[(Long, String, Int, Int)].collect().toSeq
    assert(got == Seq((0L, "a b c d", 2, 2)))
  }

  test("removeDuplicateSpans splices out later occurrences, keeps the first") {
    val sdocs = Seq(
      (1L, "a b c d e x y z"),        // holds the first "a b c" span
      (2L, "p q a b c r s t"),        // repeats it -> a b c cut
      (3L, "short one"),              // < k words: untouched
      (4L, "a b c a b c d e"))        // intra-doc repeat: second cut
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(sdocs, "doc_id", "text", k = 3)
      .orderBy($"doc_id").as[(Long, String, Int, Int)].collect().toSeq
    assert(got(0) == ((1L, "a b c d e x y z", 8, 0)))
    assert(got(1) == ((2L, "p q r s t", 8, 3)), s"got=${got(1)}")
    assert(got(2) == ((3L, "short one", 2, 0)))
    // doc 4: doc1 holds the first occurrence of "a b c", "b c d", AND
    // "c d e", so every doc4 span is a later occurrence — the overlapping
    // covers splice out all 8 positions, leaving the empty document
    assert(got(3) == ((4L, "", 8, 8)), s"got=${got(3)}")
  }

  test("dedupParagraphs invariants on a seeded random corpus") {
    val rnd = new scala.util.Random(42)
    val vocabP = Vector("aa bb", "cc dd", "ee ff", "gg hh", "ii jj", "kk ll")
    val rdocs = (0L until 40L).map { id =>
      val n = 1 + rnd.nextInt(5)
      (id, Seq.fill(n)(vocabP(rnd.nextInt(vocabP.size))).mkString("\n"))
    }.toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(rdocs, "doc_id", "text")
      .as[(Long, String, Int, Int)].collect().toSeq
    // the surviving paragraphs across the corpus are exactly the distinct
    // paragraph set — each distinct paragraph appears exactly once
    val survivors = out.flatMap(_._2.split("\n").filter(_.nonEmpty))
    assert(survivors.sorted == survivors.distinct.sorted, "one survivor per paragraph")
    val allParas = rdocs.as[(Long, String)].collect()
      .flatMap(_._2.split("\n")).toSet
    assert(survivors.toSet == allParas, "no paragraph lost entirely")
    // counts are consistent
    out.foreach { case (_, txt, nParas, nKept) =>
      assert(nKept == txt.split("\n").count(_.nonEmpty) && nKept <= nParas)
    }
  }

  test("removeDuplicateSpans on identical copies keeps exactly the first intact") {
    val text = "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10" // no internal repeats
    val copies = (1L to 4L).map(id => (id, text)).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(copies, "doc_id", "text", k = 4)
      .orderBy($"doc_id").as[(Long, String, Int, Int)].collect().toSeq
    assert(got.head == ((1L, text, 10, 0)), s"first copy intact: ${got.head}")
    got.tail.foreach { case (id, txt, n, removed) =>
      assert(txt == "" && removed == n, s"copy $id fully scrubbed, got '$txt'")
    }
  }

  test("removeDuplicateSpans under a hostile hot-span distribution stays exact") {
    // one boilerplate span ("the same footer line") in EVERY document — the
    // distribution that used to funnel the whole corpus's occurrences into
    // a single un-splittable window partition. The agg+join shape must keep
    // the results exact: the footer survives only in the lowest (id, pos)
    // occurrence, every other document loses exactly those k positions.
    val footer = "f1 f2 f3 f4 f5"
    val hostile = (0L until 300L).map { id =>
      (id, s"u${id}a u${id}b u${id}c $footer")
    }.toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(hostile, "doc_id", "text", k = 5)
      .orderBy($"doc_id").as[(Long, String, Int, Int)].collect().toSeq
    assert(got.size == 300)
    // doc 0 holds the first occurrence of every footer-overlapping span
    assert(got.head == ((0L, "u0a u0b u0c f1 f2 f3 f4 f5", 8, 0)), got.head)
    got.tail.foreach { case (id, txt, n, removed) =>
      // later docs: spans covering the footer are dups; the pure-unique
      // prefix "u{id}a u{id}b u{id}c" starts the only non-duplicated span
      // window, so positions 0..2 survive and the 5 footer positions go
      assert(n == 8 && removed == 5 && txt == s"u${id}a u${id}b u${id}c",
        s"doc $id: '$txt' removed=$removed")
    }
  }

  test("removeDuplicateSpans matches a plain-Scala reference on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val doc = Gen.choose(2, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpusGen = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, doc))
    val k = 3
    (0 until 6).foreach { i =>
      val texts = corpusGen(Gen.Parameters.default, Seed(31 + i.toLong)).get
      val docs = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }
        .toDF("doc_id", "text")
      // reference: global first occurrence of each k-gram in (id, pos)
      // order; every later occurrence covers its k positions
      val spans = texts.zipWithIndex.flatMap { case (t, id) =>
        val w = t.split(" ")
        (0 to w.length - k).map(p => (w.slice(p, p + k).mkString(" "), id.toLong, p))
      }
      val firstOf = spans.groupBy(_._1).map { case (s, os) =>
        (s, os.map(o => (o._2, o._3)).min)
      }
      val expected = texts.zipWithIndex.map { case (t, id) =>
        val w = t.split(" ")
        val cut = (0 to w.length - k)
          .filter { p =>
            val s = w.slice(p, p + k).mkString(" ")
            spans.count(_._1 == s) >= 2 && firstOf(s) != ((id.toLong, p))
          }
          .flatMap(p => p until p + k).toSet
        val kept = w.zipWithIndex.collect { case (x, j) if !cut.contains(j) => x }
        (id.toLong, kept.mkString(" "), w.length, cut.size)
      }
      val got = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = k)
        .as[(Long, String, Int, Int)].collect().sortBy(_._1).toSeq
      assert(got == expected, s"seed=$i texts=$texts")
    }
  }

  test("ngram jaccard pairs find exact and near duplicates with correct scores") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((0L, 1L), (0L, 3L), (1L, 3L)))
    val exactPair = pairs.find(p => p._1 == 0L && p._2 == 3L).get
    assert(exactPair._3 == 1.0)
  }

  test("minhash LSH recovers the same pairs as exact jaccard on this corpus") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact, s"lsh=$lsh exact=$exact")
  }

  test("simhash pairs catch near-dups only") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", 3, maxHamming = 8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // identical => hamming 0
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._2 == 2L || p._1 == 2L))
  }

  test("simhash default banding (hamming<=3) still separates dups from noise") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", 3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // identical => hamming 0
    assert(!pairs.exists(p => p._2 == 2L || p._1 == 2L))
  }

  test("hostile distribution: hot-bucket drops are counted, never silent") {
    // hundreds of near-identical docs: every simhash chunk collides into one
    // giant bucket per band, which the cap drops — the operator must make
    // that visible through the drop counter instead of returning ~nothing
    // with a clean face
    val nearDups = (0L until 200L)
      .map(i => (i, s"the quick brown fox jumps over the lazy dog number $i"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(nearDups, "doc_id", "text", 3, maxBucketSize = 50)
    val n = pairs.count()
    val drops = Dedup.lastDropStats("simHashPairs").get
    assert(drops.buckets > 0, "hot buckets were dropped but not counted")
    assert(drops.rows > 150L, s"drop row count implausibly low: $drops")
    // with the guard doing its job almost all true pairs are gone — that is
    // the documented tradeoff; the counter is what makes it honest
    assert(n < 200L * 199L / 2)
    // healthy distribution: counter records zero
    Dedup.simHashPairs(docs, "doc_id", "text", 3).count()
    assert(Dedup.lastDropStats("simHashPairs").get == Dedup.DropStats(0L, 0L))
  }

  test("drop counters surface through the listener SPI, not just the pull API") {
    val heard = scala.collection.mutable.Map.empty[String, Dedup.DropStats]
    val l = new Dedup.DropStatsListener {
      override def onDrops(tag: String, stats: Dedup.DropStats): Unit =
        heard.synchronized { heard(tag) = stats }
    }
    Dedup.addDropStatsListener(l)
    try {
      val nearDups = (0L until 120L)
        .map(i => (i, s"one single repeated sentence shared by all docs $i"))
        .toDF("doc_id", "text")
      Dedup.simHashPairs(nearDups, "doc_id", "text", 3, maxBucketSize = 40).count()
      val published = Dedup.publishDropStats()
      assert(published.contains("simHashPairs"))
      assert(heard.synchronized(heard.get("simHashPairs")) == published.get("simHashPairs"))
      assert(published("simHashPairs").buckets > 0)
    } finally Dedup.removeDropStatsListener(l)
  }

  test("ngram df cap drops stop-phrase shingles with a counter, exact when cold") {
    val common = "alpha beta gamma delta"
    val corpus = (0L until 6L)
      .map(i => (i, s"$common unique$i tail$i words$i here$i"))
      .toDF("doc_id", "text")
    // cap below the corpus-wide shingle: the two purely-common shingles are
    // dropped; remaining shared shingles ("gamma delta uniqueN" etc.) are
    // per-doc unique, so no pair survives the threshold
    Dedup.ngramJaccardPairs(corpus, "doc_id", "text", k = 3, threshold = 0.5,
      maxShingleDf = 5).count()
    val drops = Dedup.lastDropStats("ngramJaccardPairs").get
    assert(drops.buckets == 2L && drops.rows == 12L, drops.toString)
    // default cap: nothing dropped on the small corpus -> exact ground truth
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5).count()
    assert(Dedup.lastDropStats("ngramJaccardPairs").get == Dedup.DropStats(0L, 0L))
  }

  test("clusters: connected components label every member with the min id") {
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 9L -> 7L), got.toString)
    // chain needing multiple propagation rounds
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got2 = Dedup.clusters(chain).as[(Long, Long)].collect().toMap
    assert(got2.values.toSet == Set(1L), got2.toString)
  }

  test("dedupByNearDup keeps one representative per near-dup cluster") {
    val out = Dedup.dedupByNearDup(docs, "doc_id", "text", k = 3, threshold = 0.5)
    // docs 0,1,3 form one cluster (keep 0); 2 and 4 are singletons
    assert(out.select($"doc_id").as[Long].collect().toSet == Set(0L, 2L, 4L))
  }

  test("embedding cosine pairs: banded LSH finds high-cosine pairs") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.1f)),
      (1L, Seq(0.99f, 0.01f, 0.0f, 0.1f)), // near-dup of 0
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding",
        threshold = 0.95, bands = 8, bitsPerBand = 4)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
    assert(pairs.head._3 > 0.99)
  }

  test("hash index: cross-batch incremental dedup lifecycle") {
    val path = java.nio.file.Files.createTempDirectory("hash-idx").toString
    Dedup.saveHashIndex(docs, Seq($"text"), path)
    val batch = Seq(
      // already admitted (same text as doc 0) -> drops
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "a brand new document that the corpus has never seen"),
      // batch-internal duplicate of 11: BOTH survive (the index only knows
      // past batches; within-batch dedup is exactRows' job)
      (12L, "a brand new document that the corpus has never seen"))
      .toDF("doc_id", "text")
    val s1 = Dedup.dedupAgainstHashIndex(batch, Seq($"text"), path)
    assert(s1.select($"doc_id").as[Long].collect().toSet == Set(11L, 12L))
    // a trivially-small index skips the bloom (its build jobs would cost
    // more than the join); forcing the corpus-scale path (threshold 0)
    // plants the bloom prune in the plan and returns identical rows
    assert(!s1.queryExecution.executedPlan.toString.toLowerCase
      .contains("might_contain"))
    val forced = Dedup.dedupAgainstHashIndex(batch, Seq($"text"), path,
      bloomIndexBytesMin = 0L)
    assert(forced.queryExecution.executedPlan.toString.toLowerCase
      .contains("might_contain"))
    assert(forced.select($"doc_id").as[Long].collect().toSet == Set(11L, 12L))
    // admit the survivors; the same text next batch now drops
    Dedup.appendToHashIndex(s1, Seq($"text"), path)
    val batch2 = Seq(
      (20L, "a brand new document that the corpus has never seen"),
      (21L, "yet another fresh one")).toDF("doc_id", "text")
    val s2 = Dedup.dedupAgainstHashIndex(batch2, Seq($"text"), path)
    assert(s2.select($"doc_id").as[Long].collect().toSet == Set(21L))
    // key-column drift fails loudly, not as silently-all-new
    val e = intercept[IllegalStateException](
      Dedup.dedupAgainstHashIndex(batch2, Seq($"doc_id"), path))
    assert(e.getMessage.contains("key columns"))
  }

  test("streaming incremental dedup admits across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val path = java.nio.file.Files.createTempDirectory("hash-idx-stream").toString
    Dedup.saveHashIndex(docs, Seq($"text"), path)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Dedup.dedupStreamAgainstHashIndex(
        input.toDF().toDF("doc_id", "text"), Seq($"text"), path) { (df, _) =>
      survivors.synchronized { survivors ++= df.select($"doc_id").as[Long].collect() }
    }.start()
    try {
      // epoch 1: one already-in-corpus text (drops) + one new (admitted)
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog again and again today"),
        (11L, "an entirely new document for the streaming test"))
      q.processAllAvailable()
      assert(survivors.toSet == Set(11L))
      // epoch 2: the text admitted in epoch 1 must now DROP (the append
      // happened between batches), while a fresh text is admitted
      input.addData(
        (20L, "an entirely new document for the streaming test"),
        (21L, "a second wave document never seen before"))
      q.processAllAvailable()
      assert(survivors.toSet == Set(11L, 21L))
    } finally q.stop()
  }

  test("streaming incremental dedup: an epoch replay recomputes identical survivors") {
    // foreachBatch is at-least-once: after a crash between admission and
    // offset commit, the epoch replays with its own hashes already in the
    // index. The probe excludes the epoch's own delta partition, so the
    // replay sees the pre-epoch index state and recomputes the same set —
    // without the exclusion the replay would return nothing and the
    // idempotent epoch-keyed overwrite would wipe the correct output
    val path = java.nio.file.Files.createTempDirectory("hash-idx-replay").toString
    Dedup.saveHashIndex(docs, Seq($"text"), path)
    val batch = Seq(
      (30L, "a replayed but genuinely new document"),
      (31L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    def probe(exclude: Option[Long]) =
      Dedup.dedupAgainstHashIndex(batch, Seq($"text"), path,
        excludeEpoch = exclude).select($"doc_id").as[Long].collect().toSet
    val attempt1 = probe(exclude = Some(7L))
    assert(attempt1 == Set(30L))
    // the crashed attempt admitted its survivors, then the epoch replays
    Dedup.admitEpoch(batch.filter($"doc_id" === 30L), Seq($"text"), path, 7L)
    assert(probe(exclude = Some(7L)) == attempt1, "replay must be deterministic")
    // un-excluded probe shows what the exclusion prevents (self-collision)
    assert(probe(exclude = None).isEmpty)
    // the NEXT epoch correctly sees epoch 7's admission
    assert(probe(exclude = Some(8L)).isEmpty)
  }

  test("minhash index: cross-batch incremental NEAR-dup dedup lifecycle") {
    val path = java.nio.file.Files.createTempDirectory("mh-idx").toString
    Dedup.saveMinHashIndex(docs, "doc_id", "text", path)
    val batch = Seq(
      // paraphrase of doc 0 (one word swapped) -> near-dup, drops
      (10L, "the quick brown fox jumps over the lazy dog again and again yesterday"),
      // genuinely new -> survives
      (11L, "a wholly original essay on distributed joins and partitioning"),
      // too short to shingle -> can never match, survives
      (12L, "hi"))
      .toDF("doc_id", "text")
    val matches = Dedup.minHashIndexMatches(batch, "doc_id", "text", path)
      .as[(Long, Long, Double)].collect()
    assert(matches.map(_._1).toSet == Set(10L), matches.mkString(","))
    assert(matches.head._3 > 0.5 && matches.head._3 < 1.0)
    val s1 = Dedup.dedupAgainstMinHashIndex(batch, "doc_id", "text", path)
    assert(s1.select($"doc_id").as[Long].collect().toSet == Set(11L, 12L))
    // admit the survivors; a paraphrase of 11 now drops in the next batch
    Dedup.appendToMinHashIndex(s1, "doc_id", "text", path)
    val batch2 = Seq(
      (20L, "a wholly original essay on distributed joins and sharding"),
      (21L, "fresh unrelated commentary about watermarks and state stores"))
      .toDF("doc_id", "text")
    val s2 = Dedup.dedupAgainstMinHashIndex(batch2, "doc_id", "text", path)
    assert(s2.select($"doc_id").as[Long].collect().toSet == Set(21L))
  }

  test("minhash index: streaming admission with replay-safe epoch exclusion") {
    val path = java.nio.file.Files.createTempDirectory("mh-idx-replay").toString
    Dedup.saveMinHashIndex(docs, "doc_id", "text", path)
    val batch = Seq(
      (30L, "a replayed but genuinely new treatise about broadcast joins"),
      (31L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    def probe(exclude: Option[Long]) =
      Dedup.dedupAgainstMinHashIndex(batch, "doc_id", "text", path,
        excludeEpoch = exclude).select($"doc_id").as[Long].collect().toSet
    val attempt1 = probe(exclude = Some(7L))
    assert(attempt1 == Set(30L))
    // crashed attempt admitted its survivors into epoch 7, then replays:
    // the self-exclusion makes the retry recompute the identical set
    Dedup.admitMinHashEpoch(batch.filter($"doc_id" === 30L), "doc_id", "text", path, 7L)
    assert(probe(exclude = Some(7L)) == attempt1, "replay must be deterministic")
    // un-excluded probe self-collides; the next epoch sees the admission
    assert(probe(exclude = None).isEmpty)
    assert(probe(exclude = Some(8L)).isEmpty)
  }

  test("re-saving an index path drops stale epoch deltas (hash + minhash families)") {
    val path = java.nio.file.Files.createTempDirectory("hash-idx-resave").toString
    Dedup.saveHashIndex(docs, Seq($"text"), path)
    val stale = Seq((50L, "a stale streaming-run document")).toDF("doc_id", "text")
    Dedup.admitEpoch(stale, Seq($"text"), path, 7L)
    // a FRESH save must not silently union the dead stream's delta
    Dedup.saveHashIndex(docs, Seq($"text"), path)
    val probe = Seq((60L, "a stale streaming-run document")).toDF("doc_id", "text")
    assert(Dedup.dedupAgainstHashIndex(probe, Seq($"text"), path)
        .select($"doc_id").as[Long].collect().toSet == Set(60L),
      "stale epoch delta survived a fresh saveHashIndex")
    // one committed generation after a re-save
    val gens = Dedup.loadHashIndex(spark, path)
      .select($"epoch").distinct().as[Long].collect().toSeq
    assert(gens.length == 1 && gens.head < 0, s"committed epochs after re-save: $gens")
    // minhash family: same contract, and nothing else left on disk
    val p2 = java.nio.file.Files.createTempDirectory("mh-idx-resave").toString
    Dedup.saveMinHashIndex(docs, "doc_id", "text", p2)
    Dedup.admitMinHashEpoch(stale, "doc_id", "text", p2, 3L)
    Dedup.saveMinHashIndex(docs, "doc_id", "text", p2)
    val fs = new org.apache.hadoop.fs.Path(p2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val kidsOf = Seq("bands", "shingles").map { t =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$p2/$t"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
        .filter(_.startsWith("epoch="))
    }
    assert(kidsOf.forall(_.size == 1) && kidsOf.distinct.size == 1,
      s"re-save kept stale deltas: $kidsOf")
  }

  test("hash index: epoch compaction merges deltas without changing probes") {
    val path = java.nio.file.Files.createTempDirectory("hash-idx-compact").toString
    Dedup.saveHashIndex(docs, Seq($"text"), path)
    val extra = Seq((50L, "an epoch-admitted document for compaction")).toDF("doc_id", "text")
    Dedup.admitEpoch(extra, Seq($"text"), path, 5L)
    Dedup.admitEpoch(extra, Seq($"text"), path, 6L) // duplicate across epochs
    val probe = Seq(
      (60L, "an epoch-admitted document for compaction"),  // must drop
      (61L, "never seen anywhere")).toDF("doc_id", "text") // must survive
    def survivors() = Dedup.dedupAgainstHashIndex(probe, Seq($"text"), path)
      .select($"doc_id").as[Long].collect().toSet
    assert(survivors() == Set(61L))
    assert(Dedup.compactHashIndex(spark, path) == 3)
    assert(survivors() == Set(61L), "compaction must not change probe results")
    assert(Dedup.compactHashIndex(spark, path) == 0)
    // cross-epoch duplicate hashes collapsed to one row
    val rows = Dedup.loadHashIndex(spark, path)
    assert(rows.count() == rows.dropDuplicates("h0", "h1").count())
  }

  test("index writer lease: a second concurrent writer fails loudly; stale lease is broken") {
    val path = java.nio.file.Files.createTempDirectory("hash-idx-lease").toString
    Dedup.saveHashIndex(docs, Seq($"text"), path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$path/__lease")
    // writer A holds the lease (mid-append/compaction): every other
    // mutation must fail LOUDLY and leave the index untouched
    val out = fs.create(lease, false)
    out.write("compactHashIndex@test".getBytes("UTF-8")); out.close()
    val extra = Seq((70L, "lease contention document")).toDF("doc_id", "text")
    val e1 = intercept[IllegalStateException](
      Dedup.appendToHashIndex(extra, Seq($"text"), path))
    assert(e1.getMessage.contains("lease") &&
      e1.getMessage.contains("compactHashIndex@test"), e1.getMessage)
    intercept[IllegalStateException](Dedup.compactHashIndex(spark, path))
    intercept[IllegalStateException](Dedup.saveHashIndex(docs, Seq($"text"), path))
    def survivors() = Dedup.dedupAgainstHashIndex(
        Seq((71L, "lease contention document")).toDF("doc_id", "text"),
        Seq($"text"), path)
      .select($"doc_id").as[Long].collect().toSet
    assert(survivors() == Set(71L), "failed writer must not have mutated the index")
    // A releases: B wins, appends, and the index validates
    fs.delete(lease, false)
    Dedup.appendToHashIndex(extra, Seq($"text"), path)
    assert(survivors().isEmpty, "post-lease append must be probe-visible")
    assert(!fs.exists(lease), "winner must release the lease")
    // a dead writer's leftover lease (older than the staleness window) is
    // broken automatically instead of bricking the index
    val out2 = fs.create(lease, false)
    out2.write("deadWriter@crash".getBytes("UTF-8")); out2.close()
    val old = System.currentTimeMillis() - EpochIndex.IndexLeaseStaleMs - 60000
    fs.setTimes(lease, old, old)
    assert(Dedup.compactHashIndex(spark, path) >= 0) // acquires by breaking
    assert(!fs.exists(lease))
  }

  test("index lease heartbeat: a body outliving the stale window keeps its lease") {
    // a corpus-scale compaction can easily run past the staleness window;
    // without the heartbeat its lease would look dead and a concurrent
    // writer would break it MID-SWAP — re-enabling the interleaved-rename
    // corruption the lease exists to prevent. The heartbeat re-touches
    // mtime every staleMs/3, so the live holder's lease never ages out.
    val path = java.nio.file.Files.createTempDirectory("hash-idx-beat").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a 2 s stale window (not 500 ms): the guarantee under test is the
    // heartbeat's MARGIN (beats every staleMs/5), and on a fully-loaded
    // test host the beat thread can be scheduler-starved for hundreds of
    // ms — the window must dwarf plausible starvation or the test flakes
    // on exactly the contention it is supposed to survive
    EpochIndex.withIndexLease(fs, path, "slowCompaction", staleMs = 2000L) {
      Thread.sleep(6000L) // 3x the stale window
      val e = intercept[IllegalStateException](
        EpochIndex.withIndexLease(fs, path, "thief", staleMs = 2000L) {
          fail("a live heartbeating lease was stolen")
        })
      assert(e.getMessage.contains("slowCompaction"), e.getMessage)
    }
    // released: the next writer acquires immediately
    EpochIndex.withIndexLease(fs, path, "next") { () }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/__lease")))
  }

  test("minhash index probe refuses a corpus-shaped batch loudly") {
    val path = java.nio.file.Files.createTempDirectory("mh-idx-guard").toString
    Dedup.saveMinHashIndex(docs, "doc_id", "text", path)
    spark.conf.set(Dedup.MinHashBatchGuardConfKey, "1")
    try {
      val e = intercept[IllegalArgumentException](
        Dedup.minHashIndexMatches(docs, "doc_id", "text", path))
      assert(e.getMessage.contains("broadcasts the BATCH side"), e.getMessage)
    } finally spark.conf.unset(Dedup.MinHashBatchGuardConfKey)
    // guard off -> same call plans fine
    spark.conf.set(Dedup.MinHashBatchGuardConfKey, "0")
    try assert(Dedup.minHashIndexMatches(docs, "doc_id", "text", path).columns.length == 3)
    finally spark.conf.unset(Dedup.MinHashBatchGuardConfKey)
  }

  test("minhash index probe agrees with decontaminateNearDup on the same params") {
    // two independent paths to one contract: probing a PERSISTED index of
    // the corpus must flag exactly the batch docs the live cross-corpus
    // operator flags (same k / hashes / bands / threshold / seed)
    val corpus = graft.Tables.documents(spark, graft.SparkTestSession.sf0001)
      .select($"doc_id", $"text")
    val batch = corpus.limit(40).select(($"doc_id" + 7000L).as("doc_id"),
      concat_ws(" ", slice(split($"text", " "), lit(2), size(split($"text", " ")) - 1))
        .as("text")) // paraphrases: first word dropped
    val path = java.nio.file.Files.createTempDirectory("mh-idx-xcheck").toString
    Dedup.saveMinHashIndex(corpus, "doc_id", "text", path)
    val viaIndex = Dedup.minHashIndexMatches(batch, "doc_id", "text", path,
      threshold = 0.5).select($"doc_id").as[Long].collect().toSet
    val viaLive = CorpusOps.decontaminateNearDup(batch, corpus, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(viaIndex == viaLive,
      s"index-only=${viaIndex -- viaLive} live-only=${viaLive -- viaIndex}")
    assert(viaIndex.nonEmpty, "paraphrases must be caught at all")
  }

  test("minhash index: drift detection and epoch compaction") {
    val path = java.nio.file.Files.createTempDirectory("mh-idx-life").toString
    Dedup.saveMinHashIndex(docs, "doc_id", "text", path)
    Dedup.validateMinHashIndex(docs, "doc_id", "text", path) // fresh: passes
    // a grown corpus no longer matches -> loud failure, not stale re-admission
    val grown = docs.unionByName(Seq(
      (99L, "a very new document beyond what the index has ever covered"))
      .toDF("doc_id", "text"))
    val e = intercept[IllegalStateException](
      Dedup.validateMinHashIndex(grown, "doc_id", "text", path))
    assert(e.getMessage.contains("stale"))
    // streaming epochs accrete partitions; compaction merges them into -1
    // without changing a single probe result
    Dedup.admitMinHashEpoch(grown.filter($"doc_id" === 99L), "doc_id", "text", path, 3L)
    val probe = Seq((200L, "a very new document beyond what the index has ever covered"))
      .toDF("doc_id", "text")
    def survivors() = Dedup.dedupAgainstMinHashIndex(probe, "doc_id", "text", path)
      .select($"doc_id").as[Long].collect().toSet
    assert(survivors().isEmpty) // 200 is a near-dup of admitted 99
    assert(Dedup.compactMinHashIndex(spark, path) == 2)
    assert(survivors().isEmpty, "compaction must not change probe results")
    assert(Dedup.compactMinHashIndex(spark, path) == 0, "already compact")
    Dedup.validateMinHashIndex(grown, "doc_id", "text", path) // now current
  }

  test("minhash compaction dedups double-admitted docs and survives a crashed swap") {
    val path = java.nio.file.Files.createTempDirectory("mh-idx-crash").toString
    Dedup.saveMinHashIndex(docs, "doc_id", "text", path)
    // the same doc admitted under TWO epochs (double append / crashed
    // stream re-admitted): compaction must keep ONE row per doc, not
    // inflate match counts forever
    val again = docs.filter($"doc_id" === 1L)
    Dedup.admitMinHashEpoch(again, "doc_id", "text", path, 7L)
    Dedup.admitMinHashEpoch(again, "doc_id", "text", path, 8L)
    assert(Dedup.compactMinHashIndex(spark, path) == 3)
    def shingleRows(id: Long) = spark.read.parquet(s"$path/shingles")
      .filter($"doc_id" === id).count()
    val nDocRows = shingleRows(1L)
    assert(nDocRows == 1, s"double-admitted doc kept $nDocRows shingle rows")
    // crashed swap: the merged generation is fully written but the process
    // dies before the manifest flip. Built from the files of a real run:
    // the pre-compaction index plus the generation a compaction wrote.
    import org.apache.commons.io.FileUtils
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def epochDirs(t: String) = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/$t"))
      .map(_.getPath.getName).filter(_.startsWith("epoch=")).toSet
    Dedup.admitMinHashEpoch(again, "doc_id", "text", path, 9L)
    val probe = Seq((300L, docs.filter($"doc_id" === 1L).select($"text").as[String].head()))
      .toDF("doc_id", "text")
    def survivors() = Dedup.dedupAgainstMinHashIndex(probe, "doc_id", "text", path)
      .select($"doc_id").as[Long].collect().toSet
    assert(survivors().isEmpty)
    val committedBefore = EpochIndex.committed(spark, path, Dedup.MinHashIndex).epochs
    val bak = java.nio.file.Files.createTempDirectory("mh-idx-crash-bak").toFile
    FileUtils.copyDirectory(new java.io.File(path), bak)
    assert(Dedup.compactMinHashIndex(spark, path) == 2)
    val merged = epochDirs("shingles").head
    Seq("bands", "shingles").foreach(t => FileUtils.copyDirectory(
      new java.io.File(s"$path/$t/$merged"), new java.io.File(bak, s"$t/$merged")))
    FileUtils.deleteDirectory(new java.io.File(path))
    FileUtils.moveDirectory(bak, new java.io.File(path))
    // the previous index keeps serving; the merged generation is an orphan
    assert(EpochIndex.committed(spark, path, Dedup.MinHashIndex).epochs == committedBefore)
    assert(epochDirs("shingles").contains(merged))
    assert(survivors().isEmpty, "the previous index must keep serving after a crashed flip")
    // the next compaction merges the committed epochs and prunes the orphan
    assert(Dedup.compactMinHashIndex(spark, path) == 2)
    assert(survivors().isEmpty)
    assert(shingleRows(1L) == 1, "recovery lost or duplicated the shingles table")
    Seq("bands", "shingles").foreach(t =>
      assert(epochDirs(t).size == 1 && !epochDirs(t).contains(merged),
        s"$t kept the orphan generation: ${epochDirs(t)}"))
  }

  test("dedupParagraphsWithinDoc keeps first occurrences, zero shuffle") {
    val df = Seq(
      (0L, "a\na\ntail zero"),                         // repeat of para 0
      (1L, "x words here\nx words here\ntail one"),    // longer repeat
      (2L, "unique one\nunique two"),                  // nothing repeated
      (3L, "solo"))                                    // single paragraph
      .toDF("doc_id", "text")
    val got = Dedup.dedupParagraphsWithinDoc(df, "doc_id", "text")
    val r = got.orderBy($"doc_id").as[(Long, String, Int, Int)].collect()
    assert(r(0) == ((0L, "a\ntail zero", 3, 2)), r(0).toString)
    assert(r(1) == ((1L, "x words here\ntail one", 3, 2)))
    assert(r(2) == ((2L, "unique one\nunique two", 2, 2)))
    assert(r(3) == ((3L, "solo", 1, 1)))
    // pure scan: no exchange in the plan
    assert(!got.queryExecution.executedPlan.toString.contains("Exchange"))
    // regression guard for the two-references-in-one-Project wrong result:
    // size and array_join must agree on every row
    val both = Dedup.dedupParagraphsWithinDoc(df, "doc_id", "text")
      .select($"n_kept", size(split($"text", "\n")).as("n_join"))
      .as[(Int, Int)].collect()
    assert(both.forall(p => p._1 == p._2), both.mkString(","))
  }

  test("nfc_normalize composes decomposed sequences; idempotent on clean text") {
    import graft.functions.hashFunctions.nfc_normalize
    val df = Seq((0L, "plain ascii"), (1L, "café"), (2L, "café"))
      .toDF("id", "text")
    val got = df.select($"id", nfc_normalize($"text").as("n"))
      .orderBy($"id").as[(Long, String)].collect()
    assert(got(0)._2 == "plain ascii")
    assert(got(1)._2 == "caf\u00e9", "decomposed must compose")
    assert(got(2)._2 == "caf\u00e9", "precomposed unchanged")
    // after NFC the two spellings hash identically
    val h = df.filter($"id" > 0)
      .select(md5(nfc_normalize($"text").cast("binary"))).distinct().count()
    assert(h == 1L)
  }

  test("dedupNormalized collapses reformatted copies to the min-id original") {
    val df = Seq(
      (0L, "The quick brown fox."),
      (1L, "  the QUICK   brown fox!!"),   // reformat of 0 -> drops
      (2L, "a different document"),
      (3L, "THE QUICK BROWN FOX"),          // reformat of 0 -> drops
      (4L, "a  different,, document"))      // reformat of 2 -> drops
      .toDF("doc_id", "text")
    val kept = Corpus(df, "doc_id", "text").dedupNormalized()
      .df.select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L))
    // byte-exact dedup keeps all five: the normalization is what collapses
    assert(Dedup.exactRows(df, Seq($"text"), $"doc_id").count() == 5)
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val embs = graft.Tables.embeddings(spark, SparkTestSession.sf001)

  test("bruteForceTopK returns k ordered neighbors") {
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val top = Similarity.bruteForceTopK(embs, "vec_id", "embedding", qv, 10, Some(0L))
      .as[(Long, Double)].collect()
    assert(top.length == 10)
    assert(top.map(_._2).sliding(2).forall(w => w(0) >= w(1)), "not sorted desc")
    // self-query sanity: vector 5 queried against the corpus returns itself first
    val qv5 = Similarity.vectorOf(embs, "vec_id", "embedding", 5L)
    val self = Similarity.bruteForceTopK(embs, "vec_id", "embedding", qv5, 1, None)
      .as[(Long, Double)].head()
    assert(self._1 == 5L && math.abs(self._2 - 1.0) < 1e-9)
  }

  test("embeddingDrift: identical/scaled/rotated snapshots, one-sided labels, empty vectors") {
    def df(rows: Seq[(Int, Seq[Double])]) = rows.toDF("label", "v")
    val ref = Seq(
      0 -> Seq(1.0, 0.0), 0 -> Seq(3.0, 0.0),  // label 0 centroid (2, 0)
      1 -> Seq(0.0, 2.0),                       // label 1 centroid (0, 2)
      2 -> Seq(1.0, 1.0))                       // label 2: ref-only
    // label 0: pure 2x scale (same direction); label 1: rotated to x-axis;
    // label 3: cur-only; plus a null and an empty vector (both excluded)
    val cur = Seq(
      0 -> Seq(2.0, 0.0), 0 -> Seq(6.0, 0.0),
      1 -> Seq(2.0, 0.0),
      3 -> Seq(5.0, 0.0),
      4 -> Seq.empty[Double])
    val out = Similarity.embeddingDrift(
        df(ref), df(cur).unionByName(
          Seq((5, null: Seq[Double])).toDF("label", "v")), "label", "v")
      .orderBy(col("label"))
      .as[(Int, Long, Long, Option[Double], Option[Double], Option[Double], Boolean)]
      .collect()
    val byL = out.map(r => r._1 -> r).toMap
    assert(out.map(_._1).toSeq == Seq(0, 1, 2, 3)) // empties/nulls dropped
    // label 0: counts, mean norms (ref (1+3)/2=2, cur (2+6)/2=4), cos 1
    assert(byL(0)._2 == 2L && byL(0)._3 == 2L)
    assert(math.abs(byL(0)._4.get - 2.0) < 1e-12 &&
      math.abs(byL(0)._5.get - 4.0) < 1e-12)
    assert(math.abs(byL(0)._6.get - 1.0) < 1e-12)
    // label 1: orthogonal drift -> cos 0
    assert(math.abs(byL(1)._6.get - 0.0) < 1e-12)
    // one-sided labels: other count 0, cos null
    assert(byL(2)._3 == 0L && byL(2)._6.isEmpty && byL(2)._5.isEmpty)
    assert(byL(3)._2 == 0L && byL(3)._6.isEmpty)
    // uniform 2-d space everywhere above: no mismatch flags
    assert(out.forall(!_._7))
  }

  test("embeddingDrift: dimensionality mismatch flags instead of truncated cosine") {
    def df(rows: Seq[(Int, Seq[Double])]) = rows.toDF("label", "v")
    // label 0: encoder bump — ref 2-d, cur 3-d (identical direction on the
    // overlap, so a truncated cosine would read a misleading 1.0)
    // label 1: clean 2-d on both sides
    // label 2: mixed dims WITHIN the cur side
    val ref = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 2.0),
      2 -> Seq(1.0, 1.0))
    val cur = Seq(0 -> Seq(1.0, 0.0, 0.0), 1 -> Seq(0.0, 4.0),
      2 -> Seq(1.0, 1.0), 2 -> Seq(1.0, 1.0, 1.0, 1.0))
    val out = Similarity.embeddingDrift(df(ref), df(cur), "label", "v")
      .orderBy(col("label"))
      .as[(Int, Long, Long, Option[Double], Option[Double], Option[Double], Boolean)]
      .collect()
    val byL = out.map(r => r._1 -> r).toMap
    assert(byL(0)._7 && byL(0)._6.isEmpty) // cross-side bump: flagged, cos null
    assert(!byL(1)._7 && math.abs(byL(1)._6.get - 1.0) < 1e-12) // clean
    assert(byL(2)._7 && byL(2)._6.isEmpty) // within-side mix: flagged
    // counts and norms still report (they are dimension-agnostic)
    assert(byL(0)._2 == 1L && byL(0)._3 == 1L && byL(0)._4.nonEmpty)
  }

  test("lshTopK returns results from the query bucket (approximate, bounded scan)") {
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val top = Similarity.lshTopK(embs, "vec_id", "embedding", qv, 10,
      numBits = 8, multiProbe = 1, excludeId = Some(0L)).as[(Long, Double)].collect()
    assert(top.nonEmpty && top.length <= 10)
    assert(top.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("lshTopK with a 1-bit signature and multi-probe degenerates to exact brute force") {
    // 1 sign bit + probing its flip covers every bucket => full scan => the
    // approximate path must reproduce the exact top-k bit-for-bit
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", qv, 10, Some(0L))
      .as[(Long, Double)].collect().toSeq
    val full = Similarity.lshTopK(embs, "vec_id", "embedding", qv, 10,
      numBits = 1, multiProbe = 1, excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    assert(full == exact)
  }

  test("lshTopK multiProbe count widens the candidate set monotonically") {
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    def ids(probe: Int) = Similarity.lshTopK(embs, "vec_id", "embedding", qv,
      k = 1000, numBits = 6, multiProbe = probe, excludeId = Some(0L))
      .as[(Long, Double)].collect().map(_._1).toSet
    val p0 = ids(0); val p2 = ids(2); val all = ids(6)
    assert(p0.subsetOf(p2) && p2.subsetOf(all),
      "each extra probe must only add candidates")
    assert(p0.size < all.size, "probing all distance-1 buckets must widen the scan")
  }

  test("numericProfileExact matches hand-computed profile") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("b", 10.0))
      .toDF("g", "v")
    val got = Sketches.numericProfileExact(df, Seq(col("g")), col("v"))
      .orderBy($"g").collect()
    // group a: n=4, avg=2.5, sd=sqrt(5/3)=1.291, p25=1.75, p50=2.5, p75=3.25
    val a = got(0)
    assert(a.getString(0) == "a" && a.getLong(1) == 4L && a.getDouble(2) == 2.5)
    assert(a.getDouble(3) == 1.291 && a.getDouble(4) == 1.75 &&
      a.getDouble(5) == 2.5 && a.getDouble(6) == 3.25 &&
      a.getDouble(7) == 1.0 && a.getDouble(8) == 4.0)
    // singleton group: percentiles collapse to the value, sd is null (n=1)
    val b = got(1)
    assert(b.getLong(1) == 1L && b.isNullAt(3) &&
      b.getDouble(4) == 10.0 && b.getDouble(5) == 10.0 && b.getDouble(6) == 10.0)
  }

  test("ivfTopK probing every cell degenerates to exact brute force") {
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val idx = Similarity.ivfIndex(embs, "vec_id", "embedding", nCells = 8)
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", qv, 10, Some(0L))
      .as[(Long, Double)].collect().toSeq
    val full = Similarity.ivfTopK(idx, embs, "vec_id", "embedding", qv, 10,
      nCells = 8, nProbe = 8, excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    assert(full == exact)
  }

  test("ivfTopK probes nearest cells and ranks by exact cosine") {
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val idx = Similarity.ivfIndex(embs, "vec_id", "embedding", nCells = 16)
    assert(idx.select($"cell").distinct().count() <= 16)
    val top = Similarity.ivfTopK(idx, embs, "vec_id", "embedding", qv, 10,
      nCells = 16, nProbe = 4, excludeId = Some(0L)).as[(Long, Double)].collect()
    assert(top.nonEmpty && top.length <= 10)
  }

  test("count-min term sketch: one-sided error within the eps bound") {
    val docs = graft.Tables.documents(spark, graft.SparkTestSession.sf0001)
    val cms = Sketches.termFrequencySketch(docs, "text", eps = 0.001)
      .head().getAs[Array[Byte]]("cms")
    val exact = docs.select(explode(split($"text", " ")).as("t"))
      .filter($"t" =!= "").groupBy($"t").count()
      .as[(String, Long)].collect().toMap
    val totalTerms = exact.values.sum
    val probe = Seq("data", "key", "spark", "value", "zzz_absent_zzz")
    val est = Sketches.estimateTermCounts(cms, probe)
    probe.foreach { t =>
      val truth = exact.getOrElse(t, 0L)
      assert(est(t) >= truth, s"CMS must never undercount ($t)")
      assert(est(t) <= truth + (0.001 * totalTerms * 3).toLong + 1,
        s"overshoot for $t: est ${est(t)} vs $truth")
    }
  }

  test("zero vectors land in a probeable IVF cell, never -1") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)), (2L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cells = Similarity.ivfIndex(vecs, "vec_id", "embedding", nCells = 2)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    assert(cells(2L) >= 0, s"zero vector assigned unprobeable cell ${cells(2L)}")
  }

  test("best_centroid matches the interpreted HOF arg-max on every vector") {
    val cents = Similarity.centroidsOf(embs, "vec_id", "embedding", 8)
    val centArr = typedLit(cents.map(_._2.toSeq))
    // the pre-codegen formulation: score every centroid, fold for the max
    val hofCell = {
      val scored = transform(centArr, (c, i) => struct(
        coalesce(cosine_similarity($"embedding", c), lit(-1.0e300)).as("s"), i.as("i")))
      aggregate(scored,
        struct(lit(Double.MinValue).as("s"), lit(-1).as("i")),
        (acc, x) => when(x("s") > acc("s"), x).otherwise(acc))("i")
    }
    val diff = embs.select(
        best_centroid($"embedding", cents.map(_._2)).as("fast"), hofCell.as("slow"))
      .filter($"fast" =!= $"slow").count()
    assert(diff == 0L)
  }

  test("IVF assignment plan carries no interpreted HOF fold") {
    val idx = Similarity.ivfIndex(embs, "vec_id", "embedding", nCells = 8)
    val plan = idx.queryExecution.optimizedPlan.toString
    assert(plan.contains("best_centroid"), plan.take(500))
    assert(!plan.contains("aggregate(") && !plan.contains("transform("),
      s"interpreted HOF survived in IVF plan:\n${plan.take(500)}")
  }

  test("centroids fit on a capped deterministic sample keep full-probe exact") {
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 3L)
    // budget 8*20=160 << corpus size, so the sample path is exercised
    val idx = Similarity.ivfIndex(embs, "vec_id", "embedding", nCells = 8,
      maxFitPerCell = 20)
    assert(idx.select($"cell").distinct().count() <= 8)
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", qv, 10, Some(3L))
      .as[(Long, Double)].collect().toSeq
    val full = Similarity.ivfTopK(idx, embs, "vec_id", "embedding", qv, 10,
      nCells = 8, nProbe = 8, excludeId = Some(3L), maxFitPerCell = 20)
      .as[(Long, Double)].collect().toSeq
    assert(full == exact)
    // determinism: a rebuild sees the memoized centroids -> identical cells
    val again = Similarity.ivfIndex(embs, "vec_id", "embedding", nCells = 8,
      maxFitPerCell = 20)
    assert(idx.except(again).count() == 0 && again.except(idx).count() == 0)
  }

  test("persisted IVF index answers identically after reload (cell-pruned files)") {
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val idx = Similarity.ivfIndex(embs, "vec_id", "embedding", nCells = 8)
    val live = Similarity.ivfTopK(idx, embs, "vec_id", "embedding", qv, 10,
      nCells = 8, nProbe = 3, excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    val path = java.nio.file.Files.createTempDirectory("ivf-idx").toString
    // persist with the same centroids the live query used
    val centsArr = Similarity.centroidsOf(embs, "vec_id", "embedding", 8)
    Similarity.saveIvfIndex(idx, centsArr, path)
    val (loadedIdx, loadedCents) = Similarity.loadIvfIndex(spark, path)
    assert(loadedCents.map(_._1).toSeq == (0 until 8))
    val reloaded = Similarity.ivfTopKWith(loadedIdx, loadedCents, qv, 10,
      nProbe = 3, excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    assert(reloaded == live)
    // assignments are partitioned by cell -> probe prunes at file level
    assert(new java.io.File(s"$path/assignments").listFiles()
      .exists(_.getName.startsWith("cell=")))
  }

  test("knnJoin: exact per-query top-k equals per-query bruteForceTopK") {
    val queries = embs.filter($"vec_id" < 4)
    val joined = Similarity.knnJoin(queries, "vec_id", "embedding",
        embs, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    for (qid <- 0L until 4L) {
      val qv = Similarity.vectorOf(embs, "vec_id", "embedding", qid)
      val solo = Similarity.bruteForceTopK(embs, "vec_id", "embedding", qv,
        k = 5, excludeId = Some(qid)).as[(Long, Double)].collect().toSeq
      assert(joined(qid) == solo, s"query $qid: join != per-query top-k")
    }
  }

  test("knnJoinLsh: bucketed candidates rank like the exact join where probed") {
    val queries = embs.filter($"vec_id" < 4)
    val lsh = Similarity.knnJoinLsh(queries, "vec_id", "embedding",
        embs, "vec_id", "embedding", k = 5, numBits = 6)
      .as[(Long, Long, Double, Int)].collect()
    assert(lsh.nonEmpty)
    assert(lsh.groupBy(_._1).forall(_._2.length <= 5))
    // every reported cosine matches the exact score for that pair
    val exact = Similarity.knnJoin(queries, "vec_id", "embedding",
        embs, "vec_id", "embedding", k = Int.MaxValue)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(lsh.forall(r => exact((r._1, r._2)) == r._3))
    // recall against the true top-5 is deterministic (fixed data + seed);
    // print it at several widths and assert the 3-bit sweep (probing 4 of 8
    // buckets ~ half the corpus) recovers most of it
    val trueTop = exact.toSeq.groupBy(_._1._1).view.mapValues(
      _.sortBy(p => (-p._2, p._1._2)).take(5).map(_._1._2).toSet).toMap
    for (bits <- Seq(3, 4, 6)) {
      val got = Similarity.knnJoinLsh(queries, "vec_id", "embedding",
          embs, "vec_id", "embedding", k = 5, numBits = bits)
        .as[(Long, Long, Double, Int)].collect()
      val hit = got.count(r => trueTop(r._1).contains(r._2))
      info(s"numBits=$bits: recall $hit/20")
      if (bits == 3) assert(hit >= 10,
        s"3-bit all-probe sweep must recover half the true top-5, got $hit/20")
    }
  }

  test("dimension mismatch fails loudly, never ranks null similarities") {
    // cosine_similarity is null on mismatched lengths; without the guard a
    // 32-dim query against the 64-dim corpus would return a plausible-
    // looking (wrong) result instead of an error
    val shortQ = Array.fill(32)(0.1)
    def failsPointedly(f: => Unit): Unit = {
      val e = intercept[Exception](f)
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("dimension")), e.getMessage)
    }
    failsPointedly(Similarity.bruteForceTopK(
      embs, "vec_id", "embedding", shortQ, k = 5).collect())
    failsPointedly(Similarity.lshTopK(
      embs, "vec_id", "embedding", shortQ, k = 5, numBits = 4).collect())
    val queries = embs.limit(2).select($"vec_id",
      expr("slice(cast(embedding as array<double>), 1, 32)").as("embedding"))
    failsPointedly(Similarity.knnJoin(
      queries, "vec_id", "embedding", embs, "vec_id", "embedding", k = 3).collect())
    failsPointedly(Similarity.knnJoinLsh(
      queries, "vec_id", "embedding", embs, "vec_id", "embedding",
      k = 3, numBits = 4).collect())
    // a NULL embedding row is NOT a mismatch: it must not abort the scan —
    // it scores a null cosine and is excluded, the pre-guard behavior
    val withNull = embs.select($"vec_id",
      when($"vec_id" === 1L, lit(null).cast("array<float>"))
        .otherwise($"embedding").as("embedding"))
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val res = Similarity.bruteForceTopK(withNull, "vec_id", "embedding", qv,
      k = 5, excludeId = Some(0L)).as[(Long, Double)].collect()
    assert(res.length == 5 && !res.map(_._1).contains(1L))
  }

  test("int8 quantization: bounded error, ranking preserved, zero-vector safe") {
    val rows = embs.select($"vec_id",
        $"embedding".cast("array<double>").as("v"),
        Similarity.quantizeInt8($"embedding").as("q"),
        Similarity.int8Scale($"embedding").as("scale"))
      .select($"vec_id", $"v", $"q", $"scale",
        Similarity.dequantizeInt8($"q", $"scale").as("deq"))
      .as[(Long, Seq[Double], Seq[Byte], Double, Seq[Double])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, v, q, scale, deq) =>
      assert(q.forall(c => c >= -127 && c <= 127), s"vec $id code out of range")
      // reconstruction error is bounded by half a quantization step
      v.zip(deq).foreach { case (x, d) =>
        assert(math.abs(x - d) <= scale / 2 + 1e-12, s"vec $id err ${math.abs(x - d)}")
      }
    }
    // zero vector: all-zero codes, zero scale, reconstructs to zeros
    val z = Seq((99L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding")
      .select(Similarity.quantizeInt8($"embedding").as("q"),
        Similarity.int8Scale($"embedding").as("scale"))
      .as[(Seq[Byte], Double)].head()
    assert(z == ((Seq[Byte](0, 0, 0, 0), 0.0)))
    // cosine top-10 on DEQUANTIZED vectors recovers the exact top-10 almost
    // entirely (64-dim, int8): ranking is what quantized storage must keep
    val deqTable = embs.select($"vec_id",
      Similarity.dequantizeInt8(
        Similarity.quantizeInt8($"embedding"),
        Similarity.int8Scale($"embedding")).as("embedding"))
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", qv,
      k = 10, excludeId = Some(0L)).as[(Long, Double)].collect().map(_._1).toSet
    val approx = Similarity.bruteForceTopK(deqTable, "vec_id", "embedding", qv,
      k = 10, excludeId = Some(0L)).as[(Long, Double)].collect().map(_._1).toSet
    assert((exact intersect approx).size >= 8,
      s"int8 roundtrip lost ranking: ${(exact intersect approx).size}/10")
  }

  test("knnJoinLshShuffled: identical rows to the broadcast form, through a shuffle join") {
    val queries = embs.filter($"vec_id" < 4)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val bc = sorted(Similarity.knnJoinLsh(queries, "vec_id", "embedding",
      embs, "vec_id", "embedding", k = 5, numBits = 6))
    // parity under the default planner
    assert(sorted(Similarity.knnJoinLshShuffled(queries, "vec_id", "embedding",
      embs, "vec_id", "embedding", k = 5, numBits = 6)) == bc)
    // corpus-sized query sets cannot broadcast: with auto-broadcast disabled
    // the plan must be a partitioned join, and the answers must not change
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val forced = Similarity.knnJoinLshShuffled(queries, "vec_id", "embedding",
        embs, "vec_id", "embedding", k = 5, numBits = 6)
      assert(sorted(forced) == bc)
      val p = forced.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("recallAtK: exact-vs-exact is 1.0; approximate recall bounded and monotone in probes") {
    val q = embs.filter($"vec_id" < 6)
    val exact = Similarity.knnJoin(q, "vec_id", "embedding",
      embs, "vec_id", "embedding", k = 5)
    // self-recall is exactly 1.0 for every query
    val self = Similarity.recallAtK(exact, exact, 5)
      .as[(Long, Int, Int, Double)].collect()
    assert(self.length == 6 && self.forall { case (_, ne, nh, r) =>
      ne == 5 && nh == 5 && r == 1.0 })
    // LSH recall is in [0,1] per query, and never loses the query row
    val approx = Similarity.knnJoinLsh(q, "vec_id", "embedding",
      embs, "vec_id", "embedding", k = 5, numBits = 6)
    val rec = Similarity.recallAtK(exact, approx, 5)
      .as[(Long, Int, Int, Double)].collect()
    assert(rec.length == 6)
    assert(rec.forall { case (_, ne, nh, r) => ne == 5 && nh <= 5 && r >= 0.0 && r <= 1.0 })
    // an empty approximate side scores 0 everywhere instead of dropping rows
    val zero = Similarity.recallAtK(exact, approx.limit(0), 5)
      .as[(Long, Int, Int, Double)].collect()
    assert(zero.length == 6 && zero.forall(_._4 == 0.0))
  }

  test("broadcast-contract k-NN joins reject corpus-sized query sets loudly") {
    // a query set whose plan-size estimate is ~16 GB — plan-only, no data is
    // ever materialized: the guard must trip BEFORE any job or collect runs
    val huge = spark.range(2000000000L)
      .select($"id".as("vec_id"),
        org.apache.spark.sql.functions.array_repeat($"id".cast("double"), 64)
          .as("embedding"))
    def trips(f: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("knnJoinLshShuffled"), e.getMessage)
    }
    trips(Similarity.knnJoin(huge, "vec_id", "embedding",
      embs, "vec_id", "embedding", k = 5))
    trips(Similarity.knnJoinLsh(huge, "vec_id", "embedding",
      embs, "vec_id", "embedding", k = 5, numBits = 6))
    val cents = Similarity.centroidsOf(embs, "vec_id", "embedding", 4)
    val idx = Similarity.ivfIndexWith(embs, "vec_id", "embedding", cents)
    trips(Similarity.ivfKnnJoinWith(idx, cents, huge, "vec_id", "embedding", k = 5))
    // the shuffle form is the documented escape hatch and must NOT guard
    Similarity.knnJoinLshShuffled(huge.limit(0), "vec_id", "embedding",
      embs, "vec_id", "embedding", k = 5, numBits = 6) // plan-construction only
    // the conf knob is the stats-lied escape hatch: 0 disables the guard
    // (plan construction must succeed; nothing is executed)
    spark.conf.set(Similarity.BroadcastGuardConfKey, "0")
    try Similarity.knnJoin(huge, "vec_id", "embedding",
      embs, "vec_id", "embedding", k = 5)
    finally spark.conf.unset(Similarity.BroadcastGuardConfKey)
  }

  test("IVF lifecycle: incremental append equals full build, drift fails loudly") {
    val half1 = embs.filter($"vec_id" % 2 === 0)
    val half2 = embs.filter($"vec_id" % 2 =!= 0)
    val path = java.nio.file.Files.createTempDirectory("ivf-inc").toString
    // centroids fit on the FULL corpus so both paths share cell geometry
    val cents = Similarity.centroidsOf(embs, "vec_id", "embedding", 8)
    Similarity.saveIvfIndex(
      Similarity.ivfIndexWith(half1, "vec_id", "embedding", cents), cents, path)
    Similarity.appendToIvfIndex(half2, "vec_id", "embedding", path)
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val (idx, loadedCents) = Similarity.loadIvfIndex(spark, path)
    val incremental = Similarity.ivfTopKWith(idx, loadedCents, qv, 10,
      nProbe = 3, excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    val full = Similarity.ivfTopKWith(
      Similarity.ivfIndexWith(embs, "vec_id", "embedding", cents), cents, qv, 10,
      nProbe = 3, excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    assert(incremental == full,
      "append with persisted centroids must answer exactly like a full build")
    Similarity.validateIvfIndex(spark, path, embs, "vec_id")
    val shrunk = embs.filter($"vec_id" =!= 5L)
    val e = intercept[IllegalStateException] {
      Similarity.validateIvfIndex(spark, path, shrunk, "vec_id")
    }
    assert(e.getMessage.contains("stale") && e.getMessage.contains("appendToIvfIndex"))
  }

  test("LSH/IVF index writers honor the single-writer lease") {
    // the same contention contract DedupSpec pins for the hash index: a
    // held lease makes every ANN-index mutation fail loudly and leave the
    // index untouched; probes (reads) are unaffected
    val path = java.nio.file.Files.createTempDirectory("lsh-idx-lease").toString
    Similarity.saveLshIndex(
      Similarity.lshIndex(embs, "vec_id", "embedding", numBits = 4, seed = 42L),
      numBits = 4, seed = 42L, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$path/__lease")
    val out = fs.create(lease, false)
    out.write("saveLshIndex@other".getBytes("UTF-8")); out.close()
    val delta = embs.limit(5).select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val e = intercept[IllegalStateException](
      Similarity.appendToLshIndex(delta, "vec_id", "embedding", path))
    assert(e.getMessage.contains("lease") && e.getMessage.contains("saveLshIndex@other"),
      e.getMessage)
    intercept[IllegalStateException](Similarity.compactLshIndex(spark, path))
    // probes still work while a writer holds the lease
    val (idx, bits, seedv) = Similarity.loadLshIndex(spark, path)
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    assert(Similarity.lshTopKWith(idx, bits, seedv, qv, 5,
      multiProbe = 2, excludeId = Some(0L)).count() == 5)
    fs.delete(lease, false)
    Similarity.appendToLshIndex(delta, "vec_id", "embedding", path)
    assert(!fs.exists(lease), "winner must release the lease")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }

  test("persisted LSH index: reload answers identically, reads ONLY probe buckets' files") {
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val live = Similarity.lshTopK(embs, "vec_id", "embedding", qv, 10,
      numBits = 6, multiProbe = 2, excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    val path = java.nio.file.Files.createTempDirectory("lsh-idx").toString
    Similarity.saveLshIndex(
      Similarity.lshIndex(embs, "vec_id", "embedding", numBits = 6, seed = 42L),
      numBits = 6, seed = 42L, path)
    val (idx, bits, seedv) = Similarity.loadLshIndex(spark, path)
    assert(bits == 6 && seedv == 42L)
    val q = Similarity.lshTopKWith(idx, bits, seedv, qv, 10,
      multiProbe = 2, excludeId = Some(0L))
    assert(q.as[(Long, Double)].collect().toSeq == live)
    // file-count assertion: the scan's selected partitions are exactly the
    // probe buckets that exist on disk — everything else is pruned at the
    // file-listing level, never read
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scansOf)
    }
    val scans = scansOf(q.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a parquet file scan in the probe plan")
    val readBuckets = scans.flatMap { s =>
      val dt = s.relation.partitionSchema.fields(0).dataType
      s.selectedPartitions.filePartitionIterator
        .map(_.values.get(0, dt).toString.toLong).toSeq
    }.toSet
    val probes = Similarity.probeBuckets(qv, 6, 42L, 2).toSet
    val onDisk = new java.io.File(s"$path/buckets").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName.stripPrefix("bucket=").toLong).toSet
    assert(readBuckets == (probes intersect onDisk),
      s"scan read buckets $readBuckets, probes were $probes (on disk: ${onDisk.size})")
    assert(readBuckets.size < onDisk.size, "pruning must skip non-probe buckets")
  }

  test("appendToLshIndex: incremental delta equals a full rebuild for probes") {
    val half1 = embs.filter($"vec_id" % 2 === 0)
    val half2 = embs.filter($"vec_id" % 2 =!= 0)
    val path = java.nio.file.Files.createTempDirectory("lsh-inc").toString
    Similarity.saveLshIndex(
      Similarity.lshIndex(half1, "vec_id", "embedding", numBits = 6, seed = 42L),
      numBits = 6, seed = 42L, path)
    Similarity.appendToLshIndex(half2, "vec_id", "embedding", path)
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val (idx, bits, seedv) = Similarity.loadLshIndex(spark, path)
    val incremental = Similarity.lshTopKWith(idx, bits, seedv, qv, 10,
      multiProbe = 2, excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    val full = Similarity.lshTopK(embs, "vec_id", "embedding", qv, 10,
      numBits = 6, multiProbe = 2, excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    assert(incremental == full,
      "append with persisted params must answer exactly like a full rebuild")
    // the appended index also passes staleness validation against the corpus
    Similarity.validateLshIndex(spark, path, embs, "vec_id")
  }

  test("int8 LSH index: much smaller on disk, probes keep recall, appends stay int8") {
    def dirBytes(d: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(d))
    }
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    val idx = Similarity.lshIndex(embs, "vec_id", "embedding", numBits = 4, seed = 42L)
    val pFloat = java.nio.file.Files.createTempDirectory("lsh-f64").toString
    val pInt8 = java.nio.file.Files.createTempDirectory("lsh-i8").toString
    Similarity.saveLshIndex(idx, 4, 42L, pFloat)
    Similarity.saveLshIndex(idx, 4, 42L, pInt8, int8 = true)
    assert(dirBytes(s"$pInt8/buckets") < (dirBytes(s"$pFloat/buckets") * 0.6).toLong,
      s"int8 index should be far smaller: ${dirBytes(s"$pInt8/buckets")} vs " +
        s"${dirBytes(s"$pFloat/buckets")}")
    // probing through the reconstructed vectors keeps ranking quality
    val (qi, bits, seedv) = Similarity.loadLshIndex(spark, pInt8)
    val approx = Similarity.lshTopKWith(qi, bits, seedv, qv, 10,
      multiProbe = 2, excludeId = Some(0L)).as[(Long, Double)].collect().map(_._1).toSet
    val exact = Similarity.lshTopK(embs, "vec_id", "embedding", qv, 10,
      numBits = 4, seed = 42L, multiProbe = 2, excludeId = Some(0L))
      .as[(Long, Double)].collect().map(_._1).toSet
    assert((approx intersect exact).size >= 8,
      s"int8 probe lost recall: ${(approx intersect exact).size}/10")
    // validation sees the reconstructed index; appends keep the int8 form
    Similarity.validateLshIndex(spark, pInt8, embs, "vec_id")
    val extra = embs.limit(1).withColumn("vec_id", $"vec_id" + 5000L)
    Similarity.appendToLshIndex(extra, "vec_id", "embedding", pInt8)
    val (qi2, _, _) = Similarity.loadLshIndex(spark, pInt8)
    assert(qi2.count() == embs.count() + 1)
    assert(qi2.filter($"v".isNull).count() == 0,
      "append must have written int8 codes the loader reconstructs")
    // --- IVF twin: int8 assignments, schema-detected appends ---
    val cents = Similarity.centroidsOf(embs, "vec_id", "embedding", 8)
    val ivfP = java.nio.file.Files.createTempDirectory("ivf-i8").toString
    Similarity.saveIvfIndex(
      Similarity.ivfIndexWith(embs, "vec_id", "embedding", cents), cents, ivfP, int8 = true)
    val (iv, loadedCents) = Similarity.loadIvfIndex(spark, ivfP)
    val iApprox = Similarity.ivfTopKWith(iv, loadedCents, qv, 10, nProbe = 8,
      excludeId = Some(0L)).as[(Long, Double)].collect().map(_._1).toSet
    val iExact = Similarity.ivfTopKWith(
      Similarity.ivfIndexWith(embs, "vec_id", "embedding", cents), cents, qv, 10,
      nProbe = 8, excludeId = Some(0L)).as[(Long, Double)].collect().map(_._1).toSet
    assert((iApprox intersect iExact).size >= 8,
      s"int8 IVF probe lost recall: ${(iApprox intersect iExact).size}/10")
    Similarity.appendToIvfIndex(extra, "vec_id", "embedding", ivfP)
    val (iv2, _) = Similarity.loadIvfIndex(spark, ivfP)
    assert(iv2.count() == embs.count() + 1)
    assert(iv2.filter($"v".isNull).count() == 0)
  }

  test("knnJoinLshWith: batch join through the persisted index, only probe buckets read") {
    val path = java.nio.file.Files.createTempDirectory("lsh-knn-idx").toString
    Similarity.saveLshIndex(
      Similarity.lshIndex(embs, "vec_id", "embedding", numBits = 5, seed = 42L),
      numBits = 5, seed = 42L, path)
    val (idx, bits, seedv) = Similarity.loadLshIndex(spark, path)
    val queries = embs.filter($"vec_id" < 4)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val viaIndex = Similarity.knnJoinLshWith(idx, bits, seedv,
      queries, "vec_id", "embedding", k = 5)
    val live = Similarity.knnJoinLsh(queries, "vec_id", "embedding",
      embs, "vec_id", "embedding", k = 5, numBits = 5, seed = 42L)
    assert(sorted(viaIndex) == sorted(live),
      "persisted-index batch join must answer exactly like the live form")
    // static pruning: the scan touches only the queries' probe buckets
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scansOf)
    }
    val scans = scansOf(viaIndex.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fields.nonEmpty)
    assert(scans.nonEmpty, "expected a bucket-partitioned parquet scan")
    val readBuckets = scans.flatMap { s =>
      val dt = s.relation.partitionSchema.fields(0).dataType
      s.selectedPartitions.filePartitionIterator
        .map(_.values.get(0, dt).toString.toLong).toSeq
    }.toSet
    val probeBuckets = queries.select(
        graft.functions.hashFunctions.hyperplane_lsh_bucket(
          $"embedding".cast("array<double>"), 5, 42L).as("b"))
      .collect().map(_.getLong(0)).toSet
      .flatMap((b: Long) => (0 until 5).map(i => b ^ (1L << i)).toSet + b)
    assert(readBuckets.subsetOf(probeBuckets),
      s"scan read $readBuckets beyond the probe set $probeBuckets")
    val allOnDisk = new java.io.File(s"$path/buckets").listFiles()
      .count(_.getName.startsWith("bucket="))
    assert(readBuckets.size < allOnDisk, "pruning must skip non-probe buckets")
    // a null query vector has a null bucket: dropped silently (the
    // knnJoinLsh contract), never an NPE in the driver-side bucket collect
    val nullQ = embs.limit(1).select(lit(999L).as("vec_id"),
      lit(null).cast("array<float>").as("embedding"), $"label")
    val withNull = Similarity.knnJoinLshWith(idx, bits, seedv,
      queries.unionByName(nullQ), "vec_id", "embedding", k = 5)
    assert(sorted(withNull) == sorted(viaIndex))
  }

  test("IVF recall sweep: mean recall@k is monotone in nProbe for every k") {
    // the acceptance sweep a 100 TB user runs before trusting an index
    // build: for each k, probing more cells may only ADD candidates, and
    // the exact top-k over a candidate superset can only gain true
    // neighbors — so mean recall@k must be non-decreasing in nProbe, and
    // full probe (nProbe = nCells) must recover recall 1.0 exactly
    val nCells = 16
    val cents = Similarity.centroidsOf(embs, "vec_id", "embedding", nCells)
    val idx = Similarity.ivfIndexWith(embs, "vec_id", "embedding", cents)
    val queries = embs.filter($"vec_id" < 24)
    for (k <- Seq(1, 10, 100)) {
      val exact = Similarity.knnJoin(queries, "vec_id", "embedding",
        embs, "vec_id", "embedding", k = k)
      val meanRecall = (Seq(1, 2, 4) :+ nCells).map { nProbe =>
        val approx = Similarity.ivfKnnJoinWith(idx, cents, queries,
          "vec_id", "embedding", k = k, nProbe = nProbe)
        val r = Similarity.recallAtK(exact, approx, k)
          .agg(avg($"recall")).head().getDouble(0)
        nProbe -> r
      }
      meanRecall.sliding(2).foreach { case Seq((p1, r1), (p2, r2)) =>
        assert(r2 >= r1 - 1e-9,
          s"k=$k: recall fell from $r1 (nProbe=$p1) to $r2 (nProbe=$p2)")
      }
      assert(meanRecall.last._2 == 1.0,
        s"k=$k: full probe must equal brute force, got ${meanRecall.last._2}")
      info(s"k=$k: " + meanRecall.map { case (p, r) => f"p$p=$r%.3f" }.mkString(" "))
    }
  }

  test("ivfKnnJoinWith: batch IVF join matches per-query probes on the persisted index") {
    val cents = Similarity.centroidsOf(embs, "vec_id", "embedding", 8)
    val path = java.nio.file.Files.createTempDirectory("ivf-knn").toString
    Similarity.saveIvfIndex(
      Similarity.ivfIndexWith(embs, "vec_id", "embedding", cents), cents, path)
    val (idx, loaded) = Similarity.loadIvfIndex(spark, path)
    val queries = embs.filter($"vec_id" < 4)
    val batch = Similarity.ivfKnnJoinWith(idx, loaded, queries, "vec_id", "embedding",
        k = 5, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect().groupBy(_._1)
      .view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    for (qid <- 0L until 4L) {
      val qv = Similarity.vectorOf(embs, "vec_id", "embedding", qid)
      val solo = Similarity.ivfTopKWith(idx, loaded, qv, 5, nProbe = 3,
        excludeId = Some(qid)).as[(Long, Double)].collect().toSeq
      assert(batch(qid).map(_._1) == solo.map(_._1), s"query $qid neighbor ids")
      batch(qid).map(_._2).zip(solo.map(_._2)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9)
      }
    }
    // static pruning, same pin as the LSH twin: the cell-partitioned scan
    // lists only the union of the queries' probed cells' files
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scansOf)
    }
    val joined = Similarity.ivfKnnJoinWith(idx, loaded, queries, "vec_id",
      "embedding", k = 5, nProbe = 3)
    val scans = scansOf(joined.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fields.nonEmpty)
    assert(scans.nonEmpty, "expected a cell-partitioned parquet scan")
    val readCells = scans.flatMap { s =>
      val dt = s.relation.partitionSchema.fields(0).dataType
      s.selectedPartitions.filePartitionIterator
        .map(_.values.get(0, dt).toString.toInt).toSeq
    }.toSet
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probedCells = (0L until 4L).flatMap { qid =>
      val qv = Similarity.vectorOf(embs, "vec_id", "embedding", qid)
      loaded.map { case (cid, c) => (cid, cosine(qv, c)) }
        .sortBy(-_._2).take(3).map(_._1)
    }.toSet
    assert(readCells.subsetOf(probedCells),
      s"scan read cells $readCells beyond the probed set $probedCells")
    assert(readCells.size < loaded.length, "pruning must skip unprobed cells")
    // a null query vector selects no cells: dropped, never an abort
    val nullQ = embs.limit(1).select(lit(999L).as("vec_id"),
      lit(null).cast("array<float>").as("embedding"), $"label")
    assert(Similarity.ivfKnnJoinWith(idx, loaded, queries.unionByName(nullQ),
        "vec_id", "embedding", k = 5, nProbe = 3)
      .filter($"query_id" === 999L).count() == 0)
  }

  test("compaction: appended multi-file buckets collapse to one file, probes unchanged") {
    def bucketFiles(dir: String, prefix: String): Map[String, Int] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith(prefix))
        .map(d => d.getName -> d.listFiles().count(f =>
          f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))).toMap
    // --- LSH: three slices = up to 3 files per bucket ---
    val path = java.nio.file.Files.createTempDirectory("lsh-compact").toString
    Similarity.saveLshIndex(
      Similarity.lshIndex(embs.filter($"vec_id" % 3 === 0), "vec_id", "embedding",
        numBits = 4, seed = 42L), numBits = 4, seed = 42L, path)
    Similarity.appendToLshIndex(embs.filter($"vec_id" % 3 === 1), "vec_id", "embedding", path)
    Similarity.appendToLshIndex(embs.filter($"vec_id" % 3 === 2), "vec_id", "embedding", path)
    assert(bucketFiles(s"$path/buckets", "bucket=").values.max > 1,
      "appends must have produced multi-file buckets for this test to bite")
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    def probe() = {
      val (idx, bits, seedv) = Similarity.loadLshIndex(spark, path)
      Similarity.lshTopKWith(idx, bits, seedv, qv, 10, multiProbe = 2,
        excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    }
    val before = probe()
    assert(Similarity.compactLshIndex(spark, path) > 0)
    assert(bucketFiles(s"$path/buckets", "bucket=").values.forall(_ == 1),
      "every bucket must hold exactly one data file after compaction")
    assert(probe() == before, "compaction must not change probe answers")
    Similarity.validateLshIndex(spark, path, embs, "vec_id")
    assert(Similarity.compactLshIndex(spark, path) == 0, "second compact is a no-op")
    // --- IVF twin ---
    val ipath = java.nio.file.Files.createTempDirectory("ivf-compact").toString
    val cents = Similarity.centroidsOf(embs, "vec_id", "embedding", 8)
    Similarity.saveIvfIndex(Similarity.ivfIndexWith(
      embs.filter($"vec_id" % 2 === 0), "vec_id", "embedding", cents), cents, ipath)
    Similarity.appendToIvfIndex(embs.filter($"vec_id" % 2 =!= 0), "vec_id", "embedding", ipath)
    def iprobe() = {
      val (idx, c) = Similarity.loadIvfIndex(spark, ipath)
      Similarity.ivfTopKWith(idx, c, qv, 10, nProbe = 3, excludeId = Some(0L))
        .as[(Long, Double)].collect().toSeq
    }
    val ibefore = iprobe()
    assert(Similarity.compactIvfIndex(spark, ipath) > 0)
    assert(bucketFiles(s"$ipath/assignments", "cell=").values.forall(_ == 1))
    assert(iprobe() == ibefore)
    Similarity.validateIvfIndex(spark, ipath, embs, "vec_id")
  }

  test("compaction skips the null-vector (Hive default) partition instead of aborting") {
    // null embeddings get a null bucket and land under the Hive
    // default-partition dir; repeated appends give it multiple files, which
    // must not abort compaction of the legitimate buckets
    val path = java.nio.file.Files.createTempDirectory("lsh-nullpart").toString
    def withNull(part: Int) = embs.filter($"vec_id" % 3 === part)
      .unionByName(embs.limit(1)
        .select((lit(7000L) + lit(part)).as("vec_id"),
          lit(null).cast("array<float>").as("embedding"), $"label"))
    Similarity.saveLshIndex(
      Similarity.lshIndex(withNull(0), "vec_id", "embedding", numBits = 4, seed = 42L),
      numBits = 4, seed = 42L, path)
    Similarity.appendToLshIndex(withNull(1), "vec_id", "embedding", path)
    Similarity.appendToLshIndex(withNull(2), "vec_id", "embedding", path)
    val nullDir = new java.io.File(s"$path/buckets/bucket=__HIVE_DEFAULT_PARTITION__")
    assert(nullDir.isDirectory && nullDir.listFiles().count(f =>
      f.isFile && !f.getName.startsWith("_")) > 1,
      "null-vector rows must have produced a multi-file default partition")
    // pre-fix this threw NumberFormatException on '__HIVE_DEFAULT_PARTITION__'
    assert(Similarity.compactLshIndex(spark, path) > 0)
    // real buckets compacted; the null partition is untouched, and probes
    // (which never select a null bucket) still answer
    val (idx, bits, seedv) = Similarity.loadLshIndex(spark, path)
    val qv = Similarity.vectorOf(embs, "vec_id", "embedding", 0L)
    assert(Similarity.lshTopKWith(idx, bits, seedv, qv, 5, multiProbe = 2,
      excludeId = Some(0L)).count() == 5)
  }

  test("validateLshIndex: a drifted corpus fails loudly, not silently stale") {
    val path = java.nio.file.Files.createTempDirectory("lsh-stale").toString
    Similarity.saveLshIndex(
      Similarity.lshIndex(embs, "vec_id", "embedding", numBits = 6, seed = 42L),
      numBits = 6, seed = 42L, path)
    Similarity.validateLshIndex(spark, path, embs, "vec_id") // fresh: passes
    val grown = embs.unionByName(embs.limit(1)
      .withColumn("vec_id", $"vec_id" + 1000000L))
    val e = intercept[IllegalStateException] {
      Similarity.validateLshIndex(spark, path, grown, "vec_id")
    }
    assert(e.getMessage.contains("stale"))
    assert(e.getMessage.contains("appendToLshIndex"))
    // same count but different ids is also drift (fingerprint catches it)
    val swapped = embs.withColumn("vec_id",
      when($"vec_id" === 1L, lit(999999L)).otherwise($"vec_id"))
    intercept[IllegalStateException] {
      Similarity.validateLshIndex(spark, path, swapped, "vec_id")
    }
  }

  /** The corpus with a planted near-dup per vector: the doubled copy at id
    * +10000 — cosine with its original is exactly 1 and cell assignment is
    * scale-invariant, so under any tau < 1 every copy must drop. */
  lazy val withPlantedDups = {
    val base = embs.select($"vec_id", $"embedding")
    base.unionByName(base.select(($"vec_id" + 10000L).as("vec_id"),
      transform($"embedding", x => x * lit(2.0f)).as("embedding")))
  }

  test("diversitySample caps each cell deterministically, keeps small cells whole") {
    val cents = Similarity.centroidsOf(embs, "vec_id", "embedding", 8)
    val got = Similarity.diversitySampleWith(embs, "vec_id", "embedding", cents, perCell = 5)
    val byCell = got.groupBy($"cell").count().as[(Int, Long)].collect().toMap
    val cellSizes = embs.withColumn("cell",
        graft.functions.hashFunctions.best_centroid($"embedding", cents.map(_._2)))
      .groupBy($"cell").count().as[(Int, Long)].collect().toMap
    cellSizes.foreach { case (cell, n) =>
      assert(byCell.getOrElse(cell, 0L) == math.min(n, 5L),
        s"cell $cell: kept ${byCell.getOrElse(cell, 0L)} of $n")
    }
    // selection is (cell, id-hash)-pure: identical survivors on any partitioning
    val again = Similarity.diversitySampleWith(
        embs.repartition(7), "vec_id", "embedding", cents, perCell = 5)
      .select($"vec_id").as[Long].collect().toSet
    assert(again == got.select($"vec_id").as[Long].collect().toSet)
    intercept[IllegalArgumentException] {
      Similarity.diversitySampleWith(embs, "vec_id", "embedding", cents, perCell = 0)
    }
  }

  test("semanticDedup drops planted scaled copies, keeps every original") {
    val e = withPlantedDups
    val cents = Similarity.centroidsOf(e, "vec_id", "embedding", 16)
    val kept = Similarity.semanticDedupWith(e, "vec_id", "embedding", cents,
        tau = 0.99).select($"vec_id").as[Long].collect().toSet
    val originals = embs.select($"vec_id").as[Long].collect().toSet
    assert(kept == originals, s"kept ${kept.size}, expected ${originals.size} originals")
  }

  test("semanticDedup matches a plain-Scala reference on the raw corpus") {
    // lower tau so REAL drops occur among the near-orthogonal vectors (the
    // planted-copy test covers the tau~1 regime); the reference replicates
    // BestCentroid (strict arg-max, first index wins), the kernel's
    // ascending-loop cosine, stableRound, and greedy smallest-id-wins
    val tau = 0.35
    val cents = Similarity.centroidsOf(embs, "vec_id", "embedding", 8)
    val kept = Similarity.semanticDedup(embs, "vec_id", "embedding",
        nCells = 8, tau = tau).select($"vec_id").as[Long].collect().toSet

    val vecs = embs.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).sortBy(_._1)
    val cNorms = cents.map { case (_, c) =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def cellOf(v: Array[Double]): Int = {
      var best = 0; var bestS = Double.NegativeInfinity
      var j = 0
      while (j < cents.length) {
        val c = cents(j)._2
        var dot = 0.0; var na = 0.0; var i = 0
        while (i < v.length) { dot += v(i) * c(i); na += v(i) * v(i); i += 1 }
        val s = dot / (math.sqrt(na) * cNorms(j))
        if (s > bestS) { bestS = s; best = cents(j)._1 }
        j += 1
      }
      best
    }
    def round6(x: Double): Double = Math.round(x * 1e6).toDouble / 1e6
    val byCell = vecs.groupBy { case (_, v) => cellOf(v) }
    val expectedDrops = byCell.values.flatMap { members =>
      members.flatMap { case (id, v) =>
        if (members.exists { case (oid, ov) =>
          oid < id && round6(cosine(v, ov)) >= tau }) Some(id) else None
      }
    }.toSet
    val expectedKept = vecs.map(_._1).toSet -- expectedDrops
    assert(expectedDrops.nonEmpty, "vacuous: tau found no same-cell near-dups")
    assert(kept == expectedKept,
      s"diff: extra=${kept -- expectedKept} missing=${expectedKept -- kept}")
  }

  test("semanticDedup excludes over-cap cells from pairing, loudly") {
    // maxCellSize = 1: every >=2-member cell is over cap, so no pairs form
    // and even the planted exact copies survive — with a recorded drop count
    val e = withPlantedDups
    val cents = Similarity.centroidsOf(e, "vec_id", "embedding", 16)
    val kept = Similarity.semanticDedupWith(e, "vec_id", "embedding", cents,
      tau = 0.99, maxCellSize = 1)
    assert(kept.count() == e.count())
    val stats = Dedup.lastDropStats("semanticDedup")
    assert(stats.exists(_.rows > 0), s"expected loud drops, got $stats")
  }

  test("semanticDedup DEFAULT cap trips on a 10k+ degenerate cell, members survive") {
    // one centroid => every vector lands in cell 0, which exceeds the
    // default maxCellSize (10,000): the cell is excluded from pairing (all
    // rows survive, including planted exact duplicates) and the exclusion
    // is counted — the designed fail-loud behavior for a degenerate fit at
    // the new default
    import spark.implicits._
    val n = 10050
    val fat = (0 until n).map(i => (i.toLong, Seq(1.0f, (i % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val oneCell = Array((0, Array(0.0, 0.0)))
    val kept = Similarity.semanticDedupWith(fat, "vec_id", "embedding", oneCell,
      tau = 0.5) // default maxCellSize
    assert(kept.count() == n, "over-cap cell members must all survive")
    val stats = Dedup.lastDropStats("semanticDedup")
    assert(stats.exists(s => s.rows >= n), s"expected ~$n counted drops, got $stats")
  }

  test("semanticDedup pair join is cell-keyed, never a cartesian product") {
    val cents = Similarity.centroidsOf(embs, "vec_id", "embedding", 8)
    val plan = Similarity.semanticDedupWith(embs, "vec_id", "embedding", cents,
      tau = 0.9).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("decode pipeline: deterministic metadata + normalized features") {
    val media = Multimodal.mediaFromDocuments(spark,
      s"${SparkTestSession.sf0001}/documents.parquet")
    val decoded = Multimodal.decode(media)
    val rows = decoded.collect()
    assert(rows.length == media.count())
    assert(rows.forall(d => d.width >= 16 && d.height >= 16))
    assert(rows.forall(d => math.abs(d.features.sum - 1.0) < 1e-9 || d.byte_len == 0))
    // deterministic: decoding twice gives identical results
    val again = Multimodal.decode(media).collect()
    assert(rows.map(_.width).toSeq == again.map(_.width).toSeq)
  }

  test("frame sampling yields stride-spaced frames for video rows only") {
    val media = Multimodal.mediaFromDocuments(spark,
      s"${SparkTestSession.sf0001}/documents.parquet")
    val frames = Multimodal.sampleFrames(media, stride = 10).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_no % 10 == 0))
    val ids = frames.map(_.media_id).toSet
    val videoIds = media.filter(_.format == "video").collect().map(_.media_id).toSet
    assert(ids.subsetOf(videoIds))
  }

  test("codec seam: per-partition open/close lifecycle, once per task") {
    FaultyCodec.reset()
    val media = Multimodal.mediaFromDocuments(spark,
      s"${SparkTestSession.sf0001}/documents.parquet").repartition(4)
    Multimodal.decodeSafe(media, new FaultyCodec(rejectMod = -1)).count()
    assert(FaultyCodec.opens.get() == 4,
      s"open() must run once per partition-task, saw ${FaultyCodec.opens.get()}")
    assert(FaultyCodec.closes.get() == 4,
      s"close() must run once per partition-task, saw ${FaultyCodec.closes.get()}")
  }

  test("codec seam: malformed payloads become error rows, not task failures") {
    val media = Multimodal.mediaFromDocuments(spark,
      s"${SparkTestSession.sf0001}/documents.parquet")
    val attempts = Multimodal.decodeSafe(media, new FaultyCodec(rejectMod = 5)).collect()
    assert(attempts.length == media.count(), "every input row must yield an attempt row")
    val (bad, good) = attempts.partition(_.error != null)
    assert(bad.nonEmpty && good.nonEmpty)
    assert(bad.forall(_.media_id % 5 == 0))
    assert(bad.forall(a => a.error.contains("malformed payload") && a.width == 0))
    // surviving rows decode exactly as the stub would
    val expect = Multimodal.decode(media).collect().map(d => d.media_id -> d.width).toMap
    assert(good.forall(a => expect(a.media_id) == a.width))
  }

  test("codec seam: close() still fires when a strict decode fails the task") {
    FaultyCodec.reset()
    val media = Multimodal.mediaFromDocuments(spark,
      s"${SparkTestSession.sf0001}/documents.parquet").repartition(2)
    intercept[org.apache.spark.SparkException] {
      Multimodal.decode(media, new FaultyCodec(rejectMod = 5)).count()
    }
    assert(FaultyCodec.closes.get() >= 1,
      "task-completion listener must close the codec even on failure")
  }

  test("frame sampling skips payloads the codec rejects") {
    val media = Multimodal.mediaFromDocuments(spark,
      s"${SparkTestSession.sf0001}/documents.parquet")
    val frames = Multimodal.sampleFrames(media, stride = 10, new FaultyCodec(rejectMod = 5))
    assert(frames.collect().forall(_.media_id % 5 != 0))
  }

  test("perceptualHash: deterministic, and a byte-identical copy hashes identically") {
    val media = Multimodal.mediaFromDocuments(spark,
      s"${SparkTestSession.sf0001}/documents.parquet")
    val h1 = Multimodal.perceptualHash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1.size == media.count())
    val h2 = Multimodal.perceptualHash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == h2)
    // hashes discriminate: the corpus is not hash-degenerate
    assert(h1.values.toSet.size > h1.size / 2)
  }

  test("perceptualDedupPairs recovers planted re-encodes; dedupByPerceptual keeps originals") {
    import spark.implicits._
    val media = Multimodal.mediaFromDocuments(spark,
      s"${SparkTestSession.sf0001}/documents.parquet")
      .filter(_.media_id < 200)
    // "re-encode": same perceptual content, different bytes (case change in
    // a bounded region) — a content hash sees a brand-new payload
    val reenc = media.map { r =>
      val s = new String(r.content, "UTF-8")
      r.copy(media_id = r.media_id + 100000,
        content = (s.take(40).toUpperCase + s.drop(40)).getBytes("UTF-8"))
    }
    val all = media.unionByName(reenc)
    val pairs = Multimodal.perceptualDedupPairs(all, maxHamming = 4)
      .as[(Long, Long, Int)].collect()
    val planted = pairs.filter(p => p._2 == p._1 + 100000).map(_._1).toSet
    val nMedia = media.count()
    assert(planted.size == nMedia,
      s"expected all $nMedia plants recovered, got ${planted.size}")
    assert(pairs.forall(_._3 <= 4))
    // a corrupt payload yields no hash row, never a task failure
    val withBad = all.map(r =>
      if (r.media_id == 7L) r.copy(content = null) else r)
    val hashed = Multimodal.perceptualHash(withBad).collect()
    assert(!hashed.map(_.getLong(0)).contains(7L) ||
      hashed.length == all.count()) // null-content rows hash as empty or drop
    // keep-one dedup: every re-encode drops, every unpaired original stays
    val kept = Multimodal.dedupByPerceptual(all, maxHamming = 4)
      .collect().map(_.media_id).toSet
    assert(kept.forall(_ < 100000 + nMedia),
      "no plant may survive when its original is present")
    assert(planted.forall(id => kept.contains(id) || pairs.exists(p =>
      p._2 == id && p._1 < id)), "each component keeps exactly its min")
    val comps = Dedup.clusters(
      Multimodal.perceptualDedupPairs(all, maxHamming = 4), "media_a", "media_b")
      .select($"cluster").distinct().count()
    val isolated = all.count() - Multimodal.perceptualDedupPairs(all, maxHamming = 4)
      .select(explode(array($"media_a", $"media_b"))).distinct().count()
    assert(kept.size == comps + isolated, "keep-one = one per component + isolated rows")
  }

  test("perceptualHash: codec rejections are COUNTED; a contract violation fails the task") {
    val media = Multimodal.mediaFromDocuments(spark,
      s"${SparkTestSession.sf0001}/documents.parquet")
    val total = media.count()
    val hashed = Multimodal.perceptualHash(media, new FaultyCodec(rejectMod = 5))
      .count()
    val rejected = Multimodal.lastPerceptualRejected
    assert(rejected > 0 && hashed + rejected == total,
      s"every input row must be hashed or counted rejected: " +
        s"$hashed + $rejected != $total")
    // a wrong-sized raster is a codec CONTRACT violation — the job fails
    // loudly instead of yielding zero hash rows and zero dedup pairs
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.perceptualHash(media, new BrokenRasterCodec).count()
    }
    assert(e.getMessage.contains("rasterize contract violation") ||
      Option(e.getCause).exists(_.getMessage.contains("rasterize contract violation")),
      e.getMessage)
  }

  test("phash index: cross-batch incremental media dedup lifecycle") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ph-idx").toString
    val path = s"$base/idx"
    val media = Multimodal.mediaFromDocuments(spark,
      s"${SparkTestSession.sf0001}/documents.parquet")
      .filter(_.media_id < 200).cache()
    def reencOf(ds: org.apache.spark.sql.Dataset[Multimodal.MediaRow]) =
      ds.map { r =>
        val s = new String(r.content, "UTF-8")
        r.copy(media_id = r.media_id + 100000,
          content = (s.take(40).toUpperCase + s.drop(40)).getBytes("UTF-8"))
      }
    // lifecycle: save half, append the rest — probes equal a full save
    Multimodal.savePhashIndex(media.filter(_.media_id % 2 == 0), path)
    Multimodal.appendToPhashIndex(media.filter(_.media_id % 2 == 1), path)
    val batch = reencOf(media.filter(_.media_id % 3 == 0))
      .unionByName(media.map(r => r.copy(media_id = r.media_id + 500000)))
    // every re-encode of an indexed original drops; the +500000 copies are
    // byte-identical (hamming 0) so they drop too — nothing survives
    assert(Multimodal.dedupAgainstPhashIndex(batch, path).count() == 0)
    // a batch of genuinely-new media (distinct text) survives
    val fresh = Seq(Multimodal.MediaRow(999999L,
      ("totally new payload " * 20).getBytes("UTF-8"), "image", "srcX")).toDS()
    assert(Multimodal.dedupAgainstPhashIndex(fresh, path).count() == 1)
    // epoch admission replay: overwrite semantics — probe after 1 == after 2
    Multimodal.admitPhashEpoch(fresh, path, 7L)
    assert(Multimodal.dedupAgainstPhashIndex(fresh, path).count() == 0)
    Multimodal.admitPhashEpoch(fresh, path, 7L)
    val m = Multimodal.phashIndexMatches(fresh, path).collect()
    assert(m.length == 1 && m(0).getLong(1) == 1L,
      s"replayed admission duplicated index rows: ${m.toSeq}")
    // excluding its own epoch, the replaying batch sees the pre-epoch index
    assert(Multimodal.dedupAgainstPhashIndex(fresh, path,
      excludeEpoch = Some(7L)).count() == 1)
    // compaction merges epochs (saved + appended generations and epoch 7),
    // probes unchanged
    assert(Multimodal.compactPhashIndex(spark, path) == 3)
    assert(Multimodal.dedupAgainstPhashIndex(fresh, path).count() == 0)
    assert(Multimodal.compactPhashIndex(spark, path) == 0)
    // writer lease: a held lease refuses mutation
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$path/__lease")
    val out = fs.create(lease, false)
    out.write("other@job".getBytes("UTF-8")); out.close()
    intercept[IllegalStateException](Multimodal.appendToPhashIndex(fresh, path))
    fs.delete(lease, false)
    media.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("re-saving a phash index path drops stale epoch deltas") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ph-resave").toString
    val path = s"$base/idx"
    def row(id: Long, body: String) = Multimodal.MediaRow(id,
      body.getBytes("UTF-8"), "image", "s")
    val seed = Seq(row(1L, "seed payload content here " * 10)).toDS()
    Multimodal.savePhashIndex(seed, path)
    Multimodal.admitPhashEpoch(
      Seq(row(2L, "stale streamed payload " * 12)).toDS(), path, 7L)
    // fresh save: the dead stream's epoch=7 delta must NOT survive
    Multimodal.savePhashIndex(seed, path)
    val probe = Seq(row(10L, "stale streamed payload " * 12)).toDS()
    assert(Multimodal.phashIndexMatches(probe, path).collect().isEmpty,
      "stale epoch delta survived a fresh savePhashIndex")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("phash index: streaming admission with replay-safe epoch exclusion") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ph-stream").toString
    val path = s"$base/idx"
    val seed = Seq(Multimodal.MediaRow(1L,
      ("seed payload content here " * 10).getBytes("UTF-8"), "image", "s")).toDS()
    Multimodal.savePhashIndex(seed, path)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Multimodal.dedupStreamAgainstPhashIndex(
        input.toDS().toDF("media_id", "body")
          .select($"media_id", $"body".cast("binary").as("content"),
            lit("image").as("format"), lit("s").as("source")), path) {
      (fresh, _) => got ++= fresh.collect().map(_.media_id); ()
    }.option("checkpointLocation", s"$base/ckpt").start()
    // batch 1: a re-encode-identical copy of the seed (drops) + new media
    input.addData(2L -> ("seed payload content here " * 10),
      3L -> ("brand new doc one " * 15))
    q.processAllAvailable()
    // batch 2: a copy of batch 1's ADMITTED media must now drop; the
    // second payload is structurally different (not a near-variant — a
    // perceptually-similar text would drop by design)
    input.addData(4L -> ("brand new doc one " * 15),
      5L -> ("zz 0123 completely different shape! " * 11))
    q.processAllAvailable()
    q.stop()
    assert(got.toSet == Set(3L, 5L), s"got ${got.toSet}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }
}

/** Fault-injecting codec behind the [[Multimodal.MediaCodec]] seam: rejects
  * media_id % rejectMod == 0 payloads (rejectMod < 0 = accept all), counts
  * open/close in JVM-wide counters (local-mode test: executor == driver JVM). */
class FaultyCodec(rejectMod: Int) extends Multimodal.MediaCodec {
  override def open(): Unit = FaultyCodec.opens.incrementAndGet()
  override def close(): Unit = FaultyCodec.closes.incrementAndGet()
  def decode(mediaId: Long, content: Array[Byte], format: String): Multimodal.DecodedMedia = {
    if (rejectMod > 0 && mediaId % rejectMod == 0)
      throw new IllegalArgumentException(s"malformed payload for media $mediaId")
    Multimodal.StubCodec.decode(mediaId, content, format)
  }
  override def rasterize(mediaId: Long, content: Array[Byte], format: String,
      cols: Int, rows: Int): Array[Double] = {
    if (rejectMod > 0 && mediaId % rejectMod == 0)
      throw new IllegalArgumentException(s"malformed payload for media $mediaId")
    super.rasterize(mediaId, content, format, cols, rows)
  }
}

/** Codec that violates the rasterize CONTRACT (wrong cell count) — a
  * programming error, which must fail the task, never degrade silently. */
class BrokenRasterCodec extends Multimodal.MediaCodec {
  def decode(mediaId: Long, content: Array[Byte], format: String): Multimodal.DecodedMedia =
    Multimodal.StubCodec.decode(mediaId, content, format)
  override def rasterize(mediaId: Long, content: Array[Byte], format: String,
      cols: Int, rows: Int): Array[Double] = new Array[Double](7)
}

object FaultyCodec {
  val opens = new java.util.concurrent.atomic.AtomicInteger
  val closes = new java.util.concurrent.atomic.AtomicInteger
  def reset(): Unit = { opens.set(0); closes.set(0) }
}
