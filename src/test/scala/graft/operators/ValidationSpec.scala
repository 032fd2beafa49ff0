package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ValidationSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, Some("good doc"), Some(10)),
    (2L, Some(""), Some(0)),
    (3L, None: Option[String], None: Option[Int]),
    (4L, Some("fine"), Some(4)),
    (10L, Some("also fine"), Some(9))).toDF("id", "text", "score")

  test("checkConstraints: counts, fractions, min offender, null predicate = violation") {
    val out = Validation.checkConstraints(docs, $"id", Seq(
        "text_nonnull" -> $"text".isNotNull,
        "text_nonempty" -> (length($"text") > 0),
        "score_pos" -> ($"score" > 0),
        "all_good" -> $"id".isNotNull))
      .as[(String, Long, Long, Double, Option[String], Boolean)].collect()
    // rule order is the caller's order
    assert(out.map(_._1).toSeq ==
      Seq("text_nonnull", "text_nonempty", "score_pos", "all_good"))
    val byRule = out.map(r => r._1 -> r).toMap
    assert(byRule("text_nonnull") == (("text_nonnull", 5L, 1L, 0.2, Some("3"), false)))
    // null text: length(null) is null -> predicate null -> VIOLATION
    assert(byRule("text_nonempty") == (("text_nonempty", 5L, 2L, 0.4, Some("2"), false)))
    // null score is a violation; 0 is too
    assert(byRule("score_pos") == (("score_pos", 5L, 2L, 0.4, Some("2"), false)))
    assert(byRule("all_good") == (("all_good", 5L, 0L, 0.0, None, true)))
    // the min offender is LEXICOGRAPHIC on the stringified id (documented)
    val lex = Validation.checkConstraints(docs, $"id", Seq(
        "none_pass" -> lit(false)))
      .select($"first_violation").as[String].head()
    assert(lex == "1")
  }

  test("requireConstraints: throws with the full profile, tolerances admit bounded dirt") {
    val e = intercept[IllegalStateException](
      Validation.requireConstraints(docs, $"id", Seq(
        "text_nonnull" -> $"text".isNotNull,
        "score_pos" -> ($"score" > 0))))
    // ONE failure message carries every failing rule with count + offender
    assert(e.getMessage.contains("text_nonnull (1/5"), e.getMessage)
    assert(e.getMessage.contains("score_pos (2/5"), e.getMessage)
    assert(e.getMessage.contains("first offender id=2"), e.getMessage)
    // a tolerance admits bounded dirt; the profile comes back for logging
    val profile = Validation.requireConstraints(docs, $"id", Seq(
        "text_nonnull" -> $"text".isNotNull,
        "score_pos" -> ($"score" > 0)),
      tolerance = Map("text_nonnull" -> 0.25, "score_pos" -> 0.5))
    assert(profile.length == 2)
    // an unknown tolerance key is a caller bug, loudly
    intercept[IllegalArgumentException](
      Validation.requireConstraints(docs, $"id", Seq("a" -> lit(true)),
        tolerance = Map("nope" -> 0.1)))
    // empty frame: zero rows, zero violations, everything passes
    val empty = Validation.checkConstraints(docs.limit(0), $"id",
        Seq("r" -> ($"score" > 0)))
      .as[(String, Long, Long, Double, Option[String], Boolean)].head()
    assert(empty == (("r", 0L, 0L, 0.0, None, true)))
  }

  test("checkUnique: composite keys, null keys are values, duplicates counted + exampled") {
    val df = Seq(
      (Some(1L), "a"), (Some(1L), "a"), (Some(1L), "b"),
      (None: Option[Long], "a"), (None: Option[Long], "a"),
      (Some(2L), "a")).toDF("k1", "k2")
    val r = Validation.checkUnique(df, Seq($"k1", $"k2"))
      .as[(Long, Long, Long, Long, Option[String], Boolean)].head()
    // dup keys: (1,a) x2 and (null,a) x2 — a null key part is a VALUE,
    // two all-null-part keys collide (the id-collision a pipeline wants)
    assert(r == ((6L, 4L, 2L, 4L, Some("1|a"), false)), r.toString)
    val clean = Validation.checkUnique(df.limit(0), Seq($"k1"))
      .as[(Long, Long, Long, Long, Option[String], Boolean)].head()
    assert(clean == ((0L, 0L, 0L, 0L, None, true)))
  }

  test("checkReferential: orphans counted, null child keys separate, clean FK passes") {
    val child = Seq(Some(1L), Some(2L), Some(9L), Some(9L), None)
      .toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Validation.checkReferential(child, $"fk", parent, $"pk")
      .as[(Long, Long, Long, Double, Option[String], Boolean)].head()
    // 5 child rows, 1 null key, 2 orphan ROWS (both 9s count), frac over
    // the 4 non-null keys
    assert(r == ((5L, 1L, 2L, 0.5, Some("9"), false)), r.toString)
    val ok = Validation.checkReferential(
        child.filter($"fk" < 3L), $"fk", parent, $"pk")
      .as[(Long, Long, Long, Double, Option[String], Boolean)].head()
    assert(ok == ((2L, 0L, 0L, 0.0, None, true)))
  }

  test("zero-tolerance hard gate catches ONE violation in millions of rows") {
    // the display fraction rounds 1/3M to 0.000000 — the gate must judge
    // the COUNTS, or the hard gate silently passes exactly at the scale
    // it exists for
    val big = spark.range(3000000L).select($"id",
      ($"id" =!= 1234567L).as("ok"))
    val e = intercept[IllegalStateException](
      Validation.requireConstraints(big, $"id", Seq("all_ok" -> $"ok")))
    assert(e.getMessage.contains("all_ok (1/3000000"), e.getMessage)
    assert(e.getMessage.contains("id=1234567"), e.getMessage)
    // a tolerance admits it; the unrounded fraction is what is compared
    Validation.requireConstraints(big, $"id", Seq("all_ok" -> $"ok"),
      tolerance = Map("all_ok" -> 1e-6))
    ()
  }

  test("appending an empty batch to bm25 stats leaves values unchanged") {
    val docs = (0 until 30).map(i => (i.toLong, s"alpha doc$i")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("bm25-empty").toString
    val path = s"$base/idx"
    CorpusOps.saveBm25Stats(docs, "doc_id", "text", path)
    val before = CorpusOps.loadBm25Stats(spark, path)
    CorpusOps.appendToBm25Stats(docs.limit(0), "doc_id", "text", path, epoch = 0)
    val after = CorpusOps.loadBm25Stats(spark, path)
    assert(after._2 == before._2 && after._3 == before._3)
    assert(CorpusOps.bm25SearchWithStats(docs, "doc_id", "text",
        Seq("alpha"), path, k = 5).collect().toSeq ==
      CorpusOps.bm25Search(docs, "doc_id", "text", Seq("alpha"), k = 5)
        .collect().toSeq)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    ()
  }

  test("checkConstraints/checkUnique == driver brute force on random inputs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val rowGen = Gen.listOf(Gen.zip(
      Gen.option(Gen.choose(-5L, 15L)), Gen.option(Gen.oneOf("", "x", "yy"))))
    (0 until 25).foreach { s =>
      val rows = rowGen(Gen.Parameters.default, Seed(s.toLong)).getOrElse(Nil)
      if (rows.nonEmpty) {
        val df = rows.toDF("v", "t").repartition(4)
        val threshold = s % 10
        val got = Validation.checkConstraints(df, $"v", Seq(
            "v_gt" -> ($"v" > threshold.toLong),
            "t_nonempty" -> (length($"t") > 0)))
          .as[(String, Long, Long, Double, Option[String], Boolean)]
          .collect().map(r => r._1 -> r).toMap
        def brute(name: String, holds: ((Option[Long], Option[String])) => Boolean) = {
          val viol = rows.filterNot(holds)
          val off = viol.flatMap(_._1.map(_.toString)).minOption
          // rows with a null id among the violations keep off at the min
          // NON-null id string (min skips nulls) or None if all null
          (name, rows.size.toLong, viol.size.toLong,
            math.round(viol.size.toDouble / rows.size * 1e6) / 1e6,
            off, viol.isEmpty)
        }
        val expA = brute("v_gt", r => r._1.exists(_ > threshold))
        val expB = brute("t_nonempty", r => r._2.exists(_.nonEmpty))
        assert(got("v_gt") == expA, s"seed $s: ${got("v_gt")} vs $expA; rows=$rows")
        assert(got("t_nonempty") == expB, s"seed $s: ${got("t_nonempty")} vs $expB")
        // uniqueness on the (v, t) composite vs a literal groupBy
        val uq = Validation.checkUnique(df, Seq($"v", $"t"))
          .as[(Long, Long, Long, Long, Option[String], Boolean)].head()
        val groups = rows.groupBy(identity).values.map(_.size).toSeq
        val dupKeys = groups.count(_ > 1).toLong
        val expU = (rows.size.toLong, groups.size.toLong, dupKeys,
          groups.filter(_ > 1).map(_.toLong).sum,
          rows.groupBy(identity).filter(_._2.size > 1).keys
            .map { case (v, t) => v.map(_.toString).getOrElse("<null>") + "|" +
              t.getOrElse("<null>") }.minOption,
          dupKeys == 0L)
        assert(uq == expU, s"seed $s: $uq vs $expU; rows=$rows")
      }
    }
  }

  test("ratesForTargetMix hits requested proportions without upsampling; facade terminals") {
    // sizes: a=6000, b=3000, c=600, d=400; target 60/30/10 over {a,b,c}:
    // binding group is c (600 / 0.1 = 6000 = smallest total); expected
    // rates a=0.6, b=0.6, c=1.0, d excluded
    val docs = (Seq.fill(6000)("a") ++ Seq.fill(3000)("b") ++
      Seq.fill(600)("c") ++ Seq.fill(400)("d")).zipWithIndex
      .map { case (g, i) => (i.toLong, g, s"text $i") }
      .toDF("doc_id", "source", "text")
    val rates = Sampling.ratesForTargetMix(docs, $"source",
      Map("a" -> 60.0, "b" -> 30.0, "c" -> 10.0))
    assert(rates.keySet == Set("a", "b", "c"))
    assert(math.abs(rates("a") - 0.6) < 1e-12 &&
      math.abs(rates("b") - 0.6) < 1e-12 && rates("c") == 1.0, rates.toString)
    // realized proportions from the hash sampler track the targets and
    // the excluded group vanishes
    val mixed = Corpus(docs).sampleToMix(Map("a" -> 0.6, "b" -> 0.3, "c" -> 0.1))
      .df.groupBy($"source").count().as[(String, Long)].collect().toMap
    assert(!mixed.contains("d"), mixed.toString)
    val total = mixed.values.sum.toDouble
    assert(math.abs(mixed("a") / total - 0.6) < 0.05, mixed.toString)
    assert(math.abs(mixed("c") / total - 0.1) < 0.03, mixed.toString)
    // infeasible target (no rows) is loud
    val e = intercept[IllegalArgumentException](
      Sampling.ratesForTargetMix(docs, $"source", Map("a" -> 1.0, "zz" -> 1.0)))
    assert(e.getMessage.contains("zz"), e.getMessage)
    // facade check/requireValid delegate to Validation
    val prof = Corpus(docs).check(Seq("nonempty" -> (length($"text") > 0)))
      .as[(String, Long, Long, Double, Option[String], Boolean)].head()
    assert(prof._2 == 10000L && prof._6)
    Corpus(docs).requireValid(Seq("nonempty" -> (length($"text") > 0)))
    intercept[IllegalStateException](
      Corpus(docs).requireValid(Seq("is_a" -> ($"source" === "a"))))
    ()
  }

  test("distributionDrift: exact counts, edge clamping, null exclusion, smoothing") {
    val ref = Seq(1.0, 2.0, 5.0, 5.0, 9.0, -3.0, 100.0)
      .map(Option(_)).toDF("v") // -3 clamps into bucket 0, 100 into the top
    val cur = Seq(Some(1.0), Some(6.0), Some(6.5), None).toDF("v")
    val out = Validation.distributionDrift(ref, cur, "v",
        lo = 0.0, hi = 10.0, buckets = 5)
      .as[(Int, Double, Double, Long, Long, Double, Double, Double)]
      .collect()
    assert(out.map(_._1).toSeq == Seq(0, 1, 2, 3, 4)) // dense frame
    val byB = out.map(r => r._1 -> r).toMap
    // ref buckets: -3->0, 1->0, 2->1, 5->2, 5->2, 9->4, 100->4 (clamped)
    assert(byB(0)._4 == 2 && byB(1)._4 == 1 && byB(2)._4 == 2 &&
      byB(3)._4 == 0 && byB(4)._4 == 2)
    // cur buckets: 1->0, 6->3, 6.5->3; the NULL is excluded
    assert(byB(0)._5 == 1 && byB(3)._5 == 2 && byB(1)._5 == 0)
    // edges
    assert(byB(2)._2 == 4.0 && byB(2)._3 == 6.0)
    // smoothed probabilities: (n + 0.5) / (N + 2.5)
    assert(math.abs(byB(0)._6 - 2.5 / 9.5) < 1e-12)
    assert(math.abs(byB(0)._7 - 1.5 / 5.5) < 1e-12)
    // psi term matches the closed form
    val p = 2.5 / 9.5; val q = 1.5 / 5.5
    assert(math.abs(byB(0)._8 - (q - p) * math.log(q / p)) < 1e-12)
    // identical snapshots -> PSI exactly 0; shifted -> positive
    assert(Validation.psiTotal(ref, ref, "v", 0.0, 10.0, 5) == 0.0)
    assert(Validation.psiTotal(ref, cur, "v", 0.0, 10.0, 5) > 0.0)
    // parameter validation is loud
    intercept[IllegalArgumentException](
      Validation.distributionDrift(ref, cur, "v", 5.0, 5.0, 4))
    intercept[IllegalArgumentException](
      Validation.distributionDrift(ref, cur, "v", 0.0, 1.0, 0))
    // empty current snapshot: finite output, no division by zero
    val empty = Seq.empty[Option[Double]].toDF("v")
    val drained = Validation.distributionDrift(ref, empty, "v", 0.0, 10.0, 5)
      .as[(Int, Double, Double, Long, Long, Double, Double, Double)].collect()
    assert(drained.length == 5 && drained.forall(r => !r._8.isNaN && !r._8.isInfinite))
    // hard gate: identical snapshots pass (profile returned); a shifted
    // one throws with the total and the worst buckets named
    assert(Validation.requireDriftBelow(ref, ref, "v", 0.0, 10.0, 5,
      maxPsi = 0.01).length == 5)
    val e = intercept[IllegalStateException](
      Validation.requireDriftBelow(ref, cur, "v", 0.0, 10.0, 5, maxPsi = 0.01))
    assert(e.getMessage.contains("total PSI") &&
      e.getMessage.contains("worst buckets"), e.getMessage)
  }

  test("categoricalDrift: top-K cut with ties, other-fold, emptied category, ordering") {
    val ref = Seq("a", "a", "a", "b", "b", "c", "c", "d", "e")
      .map(Option(_)).toDF("cat") // counts: a=3, b=2, c=2, d=1, e=1
    val cur = Seq(Some("a"), Some("z"), Some("z"), Some("d"), None).toDF("cat")
    // topK=3 with a tie at the cut (b=2, c=2): count desc then NAME asc
    // keeps b and c; d/e fold to __other__; cur-only z folds too; the
    // emptied categories still appear with n_cur = 0
    val out = Validation.categoricalDrift(ref, cur, "cat", topK = 3)
      .as[(String, Long, Long, Double, Double, Double)].collect()
    assert(out.map(_._1).toSeq == Seq("a", "b", "c", "__other__")) // rank order, other last
    val m = out.map(r => r._1 -> r).toMap
    assert(m("a")._2 == 3 && m("a")._3 == 1)
    assert(m("b")._3 == 0 && m("c")._3 == 0) // went dark
    assert(m("__other__")._2 == 2 && m("__other__")._3 == 3) // d+e ref; z,z,d cur (null dropped)
    // smoothing: 4 rows -> p = (n + .5)/(N + 2); identical snapshots -> psi 0
    assert(math.abs(m("a")._4 - 3.5 / 11.0) < 1e-12)
    val same = Validation.categoricalDrift(ref, ref, "cat", topK = 3)
      .agg(sum(col("psi"))).as[Double].head()
    assert(same == 0.0)
    // loud params
    intercept[IllegalArgumentException](
      Validation.categoricalDrift(ref, cur, "cat", topK = 0))
  }

  test("categoricalDrift: a real category named '__other__' never merges with the fold row") {
    // '__other__' is the 2nd-biggest REAL category -> makes the top-2;
    // c and d fold. Totals must not double-count (the r12 ADVICE defect:
    // joining frame/hist on the display string merged the two rows).
    val ref = Seq("a", "a", "a", "__other__", "__other__", "c", "d")
      .toDF("cat")
    val cur = Seq("__other__", "c", "z").toDF("cat")
    val out = Validation.categoricalDrift(ref, cur, "cat", topK = 2)
      .as[(String, Long, Long, Double, Double, Double)].collect()
    // rank order: a (3), real __other__ (2), then the fold row (c+d / c+z)
    assert(out.map(_._1).toSeq == Seq("a", "__other__", "__other__"))
    assert(out.map(r => (r._2, r._3)).toSeq == Seq((3L, 0L), (2L, 1L), (2L, 2L)))
    // grand totals intact: smoothing denominators see tr=7, tc=3, 3 rows
    assert(math.abs(out.head._4 - 3.5 / 8.5) < 1e-12)
    // ...and when '__other__' does NOT make the cut it folds like any tail
    val folded = Validation.categoricalDrift(ref, cur, "cat", topK = 1)
      .as[(String, Long, Long, Double, Double, Double)].collect()
    assert(folded.map(_._1).toSeq == Seq("a", "__other__"))
    assert(folded.map(r => (r._2, r._3)).toSeq == Seq((3L, 0L), (4L, 3L)))
  }

  test("categoricalDriftByGroup == categoricalDrift run per group (incl. cur-only and dark groups)") {
    // g1: normal mix shift; g2: dark (ref-only); g3: new (cur-only);
    // a real '__other__' category inside g1 exercises the collision key
    val ref = Seq(("g1", "a"), ("g1", "a"), ("g1", "a"), ("g1", "b"),
      ("g1", "b"), ("g1", "__other__"), ("g1", "c"), ("g1", "d"),
      ("g2", "x"), ("g2", "y"), (null, "a"), ("g1", null))
      .toDF("g", "cat")
    val cur = Seq(("g1", "a"), ("g1", "z"), ("g1", "z"), ("g1", "d"),
      ("g3", "q"), ("g3", "r"), (null, "q"), ("g3", null))
      .toDF("g", "cat")
    def r9(d: Double) = math.rint(d * 1e9)
    val byGroup = Validation.categoricalDriftByGroup(ref, cur, "g", "cat",
        topK = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r9(r.getDouble(6))))
    // each group's slice must equal the single-group operator on the
    // group-filtered snapshots — per-group top-K, fold, and smoothing are
    // all group-local by construction
    Seq("g1", "g2", "g3").foreach { g =>
      val single = Validation.categoricalDrift(
          ref.filter(col("g") === g), cur.filter(col("g") === g),
          "cat", topK = 2)
        .collect()
        .map(r => (g, r.getString(0), r.getLong(1), r.getLong(2),
          r9(r.getDouble(5))))
      val slice = byGroup.filter(_._1 == g)
      assert(slice.toSeq == single.toSeq,
        s"group $g: ${slice.toSeq} != ${single.toSeq}")
    }
    // null groups excluded entirely; cur-only g3 is one all-fold row
    assert(!byGroup.exists(_._1 == null))
    val g3 = byGroup.filter(_._1 == "g3")
    assert(g3.length == 1 && g3(0)._2 == "__other__" &&
      g3(0)._3 == 0L && g3(0)._4 == 2L)
    // dark g2 keeps its top rows with n_cur = 0 and positive PSI
    assert(byGroup.filter(_._1 == "g2").forall(_._4 == 0L))
  }

  test("distributionDrift and driftFit/driftSink exclude NaN like NULL (no top-bucket leak)") {
    val ref = Seq(Some(1.0), Some(2.0), Some(Double.NaN), None).toDF("v")
    val cur = Seq(Some(3.0), Some(Double.NaN), Some(Double.NaN)).toDF("v")
    val out = Validation.distributionDrift(ref, cur, "v", 0.0, 10.0, 5)
      .as[(Int, Double, Double, Long, Long, Double, Double, Double)].collect()
    // NaN would clamp into bucket 4 via greatest/least; it must not appear
    assert(out.map(_._4).sum == 2L && out.map(_._5).sum == 1L)
    assert(out.find(_._1 == 4).get._4 == 0L)
    // streaming twin binned identically
    val t = graft.streaming.StreamOps.driftFit(ref, "v", 0.0, 10.0, 5)
    graft.streaming.StreamOps.driftSink(t, "v")(cur, 0L)
    assert(t.counts.map(_._2).sum == 2L && t.counts.map(_._3).sum == 1L)
  }

  test("randomized drift sweep: distributionDrift == plain-Scala reference, 40 cases") {
    val rnd = new scala.util.Random(2026)
    for (round <- 0 until 40) {
      val lo = rnd.nextInt(20) - 10.0
      val hi = lo + 1 + rnd.nextInt(30)
      val b = 1 + rnd.nextInt(8)
      val w = (hi - lo) / b
      def mk(n: Int) = (0 until n).map { _ =>
        if (rnd.nextInt(10) == 0) None
        else Some(lo - 10 + rnd.nextDouble() * (hi - lo + 20)) // tails included
      }
      val (refV, curV) = (mk(30 + rnd.nextInt(40)), mk(rnd.nextInt(50)))
      def refHist(vs: Seq[Option[Double]]) = {
        val h = new Array[Long](b)
        vs.flatten.foreach { v =>
          h(math.min(math.max(math.floor((v - lo) / w), 0.0), (b - 1).toDouble).toInt) += 1
        }
        h
      }
      val (hr, hc) = (refHist(refV), refHist(curV))
      val (tr, tc) = (hr.sum.toDouble, hc.sum.toDouble)
      val want = (0 until b).map { i =>
        val p = (hr(i) + 0.5) / (tr + 0.5 * b); val q = (hc(i) + 0.5) / (tc + 0.5 * b)
        (i, hr(i), hc(i), p, q, (q - p) * math.log(q / p))
      }
      val got = Validation.distributionDrift(
          refV.toDF("v"), curV.toDF("v"), "v", lo, hi, b)
        .select(col("bucket"), col("n_ref"), col("n_cur"),
          col("p_ref"), col("p_cur"), col("psi"))
        .as[(Int, Long, Long, Double, Double, Double)].collect().toSeq
      got.zip(want).foreach { case (g, w0) =>
        assert(g._1 == w0._1 && g._2 == w0._2 && g._3 == w0._3,
          s"round=$round counts $g != $w0")
        assert(math.abs(g._4 - w0._4) < 1e-12 && math.abs(g._5 - w0._5) < 1e-12 &&
          math.abs(g._6 - w0._6) < 1e-12, s"round=$round probs $g != $w0")
      }
    }
  }

  test("randomized per-group drift sweep: distributionDriftByGroup == plain-Scala reference, 25 cases") {
    val rnd = new scala.util.Random(31)
    for (round <- 0 until 25) {
      val lo = rnd.nextInt(20) - 10.0
      val hi = lo + 1 + rnd.nextInt(30)
      val b = 1 + rnd.nextInt(6)
      val w = (hi - lo) / b
      val nGroups = 1 + rnd.nextInt(4)
      def mk(n: Int): Seq[(Option[String], Option[Double])] =
        (0 until n).map { _ =>
          val g = if (rnd.nextInt(12) == 0) None else Some(s"g${rnd.nextInt(nGroups)}")
          val v = rnd.nextInt(12) match {
            case 0 => None
            case 1 => Some(Double.NaN) // must be excluded like NULL
            case _ => Some(lo - 10 + rnd.nextDouble() * (hi - lo + 20))
          }
          (g, v)
        }
      val (refV, curV) = (mk(30 + rnd.nextInt(50)), mk(rnd.nextInt(60)))
      def ok(r: (Option[String], Option[Double])) =
        r._1.nonEmpty && r._2.exists(v => !v.isNaN)
      def hist(vs: Seq[(Option[String], Option[Double])]) = vs.filter(ok)
        .groupBy(_._1.get).view.mapValues { rows =>
          val h = new Array[Long](b)
          rows.foreach { case (_, Some(v)) =>
            h(math.min(math.max(math.floor((v - lo) / w), 0.0), (b - 1).toDouble).toInt) += 1
          case _ => ()
          }
          h
        }.toMap
      val (hr, hc) = (hist(refV), hist(curV))
      val groups = (refV ++ curV).flatMap(_._1).distinct.sorted
      val zero = new Array[Long](b)
      val want = groups.flatMap { g =>
        val (r0, c0) = (hr.getOrElse(g, zero), hc.getOrElse(g, zero))
        val (tr, tc) = (r0.sum.toDouble, c0.sum.toDouble)
        (0 until b).map { i =>
          val p = (r0(i) + 0.5) / (tr + 0.5 * b)
          val q = (c0(i) + 0.5) / (tc + 0.5 * b)
          (g, i, r0(i), c0(i), p, q, (q - p) * math.log(q / p))
        }
      }
      val got = Validation.distributionDriftByGroup(
          refV.toDF("g", "v"), curV.toDF("g", "v"), "g", "v", lo, hi, b)
        .select(col("group"), col("bucket"), col("n_ref"), col("n_cur"),
          col("p_ref"), col("p_cur"), col("psi"))
        .as[(String, Int, Long, Long, Double, Double, Double)].collect().toSeq
      assert(got.map(x => (x._1, x._2, x._3, x._4)) ==
        want.map(x => (x._1, x._2, x._3, x._4)), s"round=$round counts")
      got.zip(want).foreach { case (g, w0) =>
        assert(math.abs(g._5 - w0._5) < 1e-12 && math.abs(g._6 - w0._6) < 1e-12 &&
          math.abs(g._7 - w0._7) < 1e-12, s"round=$round probs $g != $w0")
      }
    }
  }

  test("requireGroupDriftBelow: names the drifted group and worst bucket; passes when under") {
    val ref = (0 until 200).map(i => ("a", (i % 10).toDouble)) ++
      (0 until 200).map(i => ("b", (i % 10).toDouble))
    // group b shifts hard into the top bucket; group a unchanged
    val cur = (0 until 200).map(i => ("a", (i % 10).toDouble)) ++
      (0 until 200).map(_ => ("b", 9.9))
    val (refDf, curDf) = (ref.toDF("g", "v"), cur.toDF("g", "v"))
    val profile = Validation.requireGroupDriftBelow(
      refDf, curDf, "g", "v", 0.0, 10.0, 5, maxPsi = 100.0)
    assert(profile.length == 10) // 2 groups x 5 buckets, returned on pass
    val e = intercept[IllegalStateException](Validation.requireGroupDriftBelow(
      refDf, curDf, "g", "v", 0.0, 10.0, 5, maxPsi = 0.05))
    assert(e.getMessage.contains("group 'b'") &&
      e.getMessage.contains("worst bucket"), e.getMessage)
    assert(!e.getMessage.contains("group 'a'"), e.getMessage) // a is clean
  }

  test("randomized categorical sweep: categoricalDrift == plain-Scala reference, 30 cases") {
    val rnd = new scala.util.Random(7)
    for (round <- 0 until 30) {
      val cats = (0 until 2 + rnd.nextInt(10)).map(i => s"c$i")
      def mk(n: Int) = (0 until n).map { _ =>
        if (rnd.nextInt(12) == 0) None else Some(cats(rnd.nextInt(cats.size)))
      }
      val (refV, curV) = (mk(20 + rnd.nextInt(60)), mk(rnd.nextInt(60)))
      val k = 1 + rnd.nextInt(cats.size + 2)
      val refCounts = refV.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val top = refCounts.toSeq.sortBy { case (c, n) => (-n, c) }.take(k).map(_._1)
      def fold(vs: Seq[Option[String]]) = {
        val m = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        vs.flatten.foreach(c => m(if (top.contains(c)) c else "__other__") += 1)
        m
      }
      val (hr, hc) = (fold(refV), fold(curV))
      val frame = top :+ "__other__"
      val rows = frame.size
      val (tr, tc) = (hr.values.sum.toDouble, hc.values.sum.toDouble)
      val want = frame.map { c =>
        val p = (hr(c) + 0.5) / (tr + 0.5 * rows)
        val q = (hc(c) + 0.5) / (tc + 0.5 * rows)
        (c, hr(c), hc(c), p, q, (q - p) * math.log(q / p))
      }.sortBy(_._1)
      val got = Validation.categoricalDrift(
          refV.toDF("cat"), curV.toDF("cat"), "cat", topK = k)
        .select(col("category"), col("n_ref"), col("n_cur"),
          col("p_ref"), col("p_cur"), col("psi"))
        .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
        .sortBy(_._1)
      assert(got.map(g => (g._1, g._2, g._3)) == want.map(w0 => (w0._1, w0._2, w0._3)),
        s"round=$round counts\n$got\n$want")
      got.zip(want).foreach { case (g, w0) =>
        assert(math.abs(g._4 - w0._4) < 1e-12 && math.abs(g._6 - w0._6) < 1e-12,
          s"round=$round probs $g != $w0")
      }
    }
  }

  test("checkConstraints is ONE scan: single aggregate, no shuffle of data, no cartesian") {
    val plan = Validation.checkConstraints(docs, $"id", Seq(
        "a" -> ($"score" > 0), "b" -> $"text".isNotNull,
        "c" -> (length($"text") < 100)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // one aggregation over the input: rules add aggregate COLUMNS, not passes
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(plan).size <= 4, plan)
  }
}
