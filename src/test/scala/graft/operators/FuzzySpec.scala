package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class FuzzySpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  /** Reference DP — the plain quadratic Levenshtein, no banding. */
  private def ed(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = d(0); d(0) = j
      for (i <- 1 to a.length) {
        val cur = d(i)
        d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    d(a.length)
  }

  private def brutePairs(rows: Seq[(Long, String)], k: Int): Set[(Long, Long, Int)] =
    (for {
      (ia, ka) <- rows; (ib, kb) <- rows if ia < ib
      d = ed(ka, kb) if d <= k
    } yield (ia, ib, d)).toSet

  test("known answers: classic pairs, ordering, self exclusion") {
    val df = Seq(1L -> "kitten", 2L -> "sitting", 3L -> "kitten",
      4L -> "mitten", 5L -> "flour").toDF("id", "key")
    val got = Fuzzy.fuzzyPairs(df, "id", "key", maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    // ed(kitten,sitting)=3, ed(kitten,mitten)=1, flour matches nothing
    assert(got == brutePairs(Seq(1L -> "kitten", 2L -> "sitting", 3L -> "kitten",
      4L -> "mitten", 5L -> "flour"), 3))
    assert(got.contains((1L, 2L, 3)) && got.contains((1L, 4L, 1)) &&
      got.contains((1L, 3L, 0)) && !got.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("randomized brute-force sweep: pairs == DP all-pairs, k in 1..3") {
    val rnd = new Random(42)
    val alpha = "abcd"
    for (round <- 0 until 6) {
      val n = 60
      val rows = (0 until n).map { i =>
        val len = rnd.nextInt(12) // includes 0..4: empty + short-path strings
        (i.toLong, (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      }
      val k = 1 + round % 3
      val got = Fuzzy.fuzzyPairs(rows.toDF("id", "key"), "id", "key", k)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == brutePairs(rows, k),
        s"round=$round k=$k diff=${got.diff(brutePairs(rows, k))} missing=${brutePairs(rows, k).diff(got)}")
    }
  }

  test("two-table fuzzyJoin == brute force, including cross-length and shorts") {
    val rnd = new Random(7)
    val alpha = "xyz"
    def mk(n: Int, seed: Int) = (0 until n).map { i =>
      ((i + seed).toLong,
        (0 until rnd.nextInt(10)).map(_ => alpha(rnd.nextInt(3))).mkString)
    }
    val lrows = mk(40, 0); val rrows = mk(40, 1000)
    val k = 2
    val got = Fuzzy.fuzzyJoin(lrows.toDF("lid", "lkey"), rrows.toDF("rid", "rkey"),
        "lid", "lkey", "rid", "rkey", k)
      .as[(Long, Long, Int)].collect().toSet
    val want = (for {
      (il, kl) <- lrows; (ir, kr) <- rrows
      d = ed(kl, kr) if d <= k
    } yield (il, ir, d)).toSet
    assert(got == want)
  }

  test("null ids and keys never match; empty frame yields empty output") {
    val df = Seq((Some(1L), Some("abc")), (Some(2L), None),
      (None, Some("abd")), (Some(4L), Some("abd"))).toDF("id", "key")
    val got = Fuzzy.fuzzyPairs(df, "id", "key", 2).as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 4L, 1)))
    assert(Fuzzy.fuzzyPairs(Seq.empty[(Long, String)].toDF("id", "key"), "id", "key", 1)
      .count() == 0)
  }

  test("templated corpus (shared boilerplate prefix): verify prunes, result exact") {
    // hostile blocking shape: every key shares its first segment, so the
    // segment join floods candidates — verification must keep it exact
    val rows = (0L until 300L).map(i => (i, f"PREFIX-BOILERPLATE-$i%04d"))
    val got = Fuzzy.fuzzyPairs(rows.toDF("id", "key"), "id", "key", 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brutePairs(rows, 2))
    assert(got.nonEmpty) // 0001 vs 0002 etc. are within 1-2 edits
  }

  test("maxSegmentDf guard: boilerplate segments drop with counted semantics, subset result") {
    // every key's first two segments are corpus-wide boilerplate; a cap
    // below the corpus size drops those buckets LOUDLY, and only pairs
    // whose every edit-free segment was boilerplate can be missed
    val rows = (0L until 300L).map(i => (i, f"PREFIX-BOILERPLATE-$i%04d"))
    val exact = brutePairs(rows, 2)
    val capped = Fuzzy.fuzzyPairs(rows.toDF("id", "key"), "id", "key", 2,
        maxSegmentDf = 100)
      .as[(Long, Long, Int)].collect().toSet
    assert(capped.subsetOf(exact))
    val drops = Dedup.lastDropStats("fuzzySegments").get
    assert(drops.buckets > 0 && drops.rows > 0, drops.toString)
    // an uncapped run is exact and records zero drops under its guard tag
    val uncapped = Fuzzy.fuzzyPairs(rows.toDF("id", "key"), "id", "key", 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(uncapped == exact)
  }

  test("unicode keys: codepoint-level distances (accents, CJK), matching the DP") {
    // Spark's length/substr/levenshtein all count CODEPOINTS, so the
    // segment math and the verify agree on non-ASCII keys; the reference
    // DP below iterates Scala chars (UTF-16), safe here because all test
    // codepoints are BMP
    val rows = Seq(1L -> "café", 2L -> "cafe", 3L -> "café",
      4L -> "日本語", 5L -> "日本誤",
      6L -> "日本語で")
    val got = Fuzzy.fuzzyPairs(rows.toDF("id", "key"), "id", "key", 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brutePairs(rows, 2), got.toString)
    // café vs cafe = 1 substitution; composed é vs e+combining = 2 edits
    assert(got.contains((1L, 2L, 1)) && got.contains((4L, 5L, 1)) &&
      got.contains((4L, 6L, 1)))
  }

  test("dedupByFuzzy keeps the smallest id per fuzzy cluster, transitively") {
    // chain: aaaa ~ aaab ~ aabb (aaaa-aabb at dist 2 also edges); zzzz alone;
    // an exact duplicate (id 9) of aaaa collapses too
    val df = Seq(3L -> "aaab", 1L -> "aaaa", 2L -> "aabb", 7L -> "zzzz",
      9L -> "aaaa").toDF("id", "key")
    val kept = Dedup.dedupByFuzzy(df, "id", "key", maxDist = 1)
      .select(col("id")).as[Long].collect().toSet
    assert(kept == Set(1L, 7L), kept.toString) // chain connects via dist-1 edges
    // the keeper keeps its full row
    val rows = Dedup.dedupByFuzzy(df, "id", "key", maxDist = 1).columns.toSeq
    assert(rows == Seq("id", "key"))
  }

  test("all-identical keys: output is the full quadratic pair set at dist 0") {
    val rows = (0L until 40L).map(i => (i, "same-key-everywhere"))
    val got = Fuzzy.fuzzyPairs(rows.toDF("id", "key"), "id", "key", 1)
      .as[(Long, Long, Int)].collect()
    assert(got.length == 40 * 39 / 2 && got.forall(_._3 == 0))
  }

  test("fuzzyFit.release unpersists the shared probe frames; probes still answer") {
    import org.apache.spark.storage.StorageLevel
    val catalog = Seq(1L -> "kitten", 2L -> "flour").toDF("id", "key")
    val probe = Seq(10L -> "sitten").toDF("id", "key")
    val fitted = Fuzzy.fuzzyFit(catalog, "id", "key", maxDist = 1)
    val first = Fuzzy.fuzzyJoinWith(fitted, probe, "id", "key")
      .as[(Long, Long, Int)].collect().toSet
    assert(first == Set((1L, 10L, 1)))
    assert(fitted.segIdx.storageLevel != StorageLevel.NONE) // shared while live
    fitted.release()
    assert(fitted.segIdx.storageLevel == StorageLevel.NONE &&
      fitted.shortIdx.storageLevel == StorageLevel.NONE &&
      fitted.ids.storageLevel == StorageLevel.NONE)
    // release is not invalidation: a straggler batch recomputes from lineage
    assert(Fuzzy.fuzzyJoinWith(fitted, probe, "id", "key")
      .as[(Long, Long, Int)].collect().toSet == first)
  }

  // ---- persisted segment index lifecycle ----

  private def probeIdx(path: String, probe: Seq[(Long, String)])
      : Set[(Long, Long, Int)] = {
    val fitted = Fuzzy.loadFuzzyIndex(spark, path)
    try Fuzzy.fuzzyJoinWith(fitted, probe.toDF("id", "key"), "id", "key")
      .as[(Long, Long, Int)].collect().toSet
    finally fitted.release()
  }

  test("persisted fuzzy index: save+load probe == live fit probe; append == rebuild") {
    val base = java.nio.file.Files.createTempDirectory("fz-idx").toString
    val catA = Seq(1L -> "kitten", 2L -> "flour", 3L -> "sitting")
    val catB = Seq(4L -> "mitten", 5L -> "ab")
    val probe = Seq(10L -> "sitten", 11L -> "miitten", 12L -> "b",
      13L -> "zzzz")
    // live fit over the FULL catalog = ground truth
    val live = {
      val f = Fuzzy.fuzzyFit((catA ++ catB).toDF("id", "key"), "id", "key",
        maxDist = 1)
      try Fuzzy.fuzzyJoinWith(f, probe.toDF("id", "key"), "id", "key")
        .as[(Long, Long, Int)].collect().toSet
      finally f.release()
    }
    assert(live.nonEmpty && live.map(_._1).intersect(Set(1L, 4L, 5L)).size == 3)
    // lifecycle 1: save the whole catalog at once
    val p1 = s"$base/whole"
    Fuzzy.saveFuzzyIndex((catA ++ catB).toDF("id", "key"), "id", "key",
      maxDist = 1, p1)
    assert(probeIdx(p1, probe) == live)
    // lifecycle 2: save half, append the rest -> identical probes
    val p2 = s"$base/grown"
    Fuzzy.saveFuzzyIndex(catA.toDF("id", "key"), "id", "key", maxDist = 1, p2)
    assert(probeIdx(p2, probe) == live.filter(_._1 <= 3L),
      "pre-append index must know only the saved half")
    Fuzzy.appendToFuzzyIndex(catB.toDF("id", "key"), "id", "key", p2)
    assert(probeIdx(p2, probe) == live, "append == rebuild")
    // double-append of the same slice must not duplicate output pairs
    Fuzzy.appendToFuzzyIndex(catB.toDF("id", "key"), "id", "key", p2)
    val bag = {
      val fitted = Fuzzy.loadFuzzyIndex(spark, p2)
      try Fuzzy.fuzzyJoinWith(fitted, probe.toDF("id", "key"), "id", "key")
        .as[(Long, Long, Int)].collect().toSeq
      finally fitted.release()
    }
    assert(bag.size == bag.distinct.size && bag.toSet == live,
      s"double append duplicated pairs: $bag")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("re-saving a fuzzy index path drops stale epoch deltas") {
    val base = java.nio.file.Files.createTempDirectory("fz-resave").toString
    val path = s"$base/idx"
    Fuzzy.saveFuzzyIndex(Seq(1L -> "kitten").toDF("id", "key"), "id", "key",
      maxDist = 1, path)
    Fuzzy.admitFuzzyEpoch(Seq(2L -> "mitten").toDF("id", "key"), "id", "key",
      path, 7L)
    // fresh save: the dead stream's epoch=7 delta must NOT survive
    Fuzzy.saveFuzzyIndex(Seq(1L -> "kitten").toDF("id", "key"), "id", "key",
      maxDist = 1, path)
    val fitted = Fuzzy.loadFuzzyIndex(spark, path)
    val hits =
      try Fuzzy.fuzzyJoinWith(fitted, Seq(10L -> "miitten").toDF("id", "key"),
        "id", "key").as[(Long, Long, Int)].collect().toSet
      finally fitted.release()
    assert(hits.isEmpty, s"stale delta survived a fresh saveFuzzyIndex: $hits")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("persisted fuzzy index: epoch admission is replay-idempotent; compaction preserves probes") {
    val base = java.nio.file.Files.createTempDirectory("fz-epoch").toString
    val path = s"$base/idx"
    val probe = Seq(10L -> "sitten", 11L -> "miitten")
    Fuzzy.saveFuzzyIndex(Seq(1L -> "kitten").toDF("id", "key"), "id", "key",
      maxDist = 1, path)
    // epoch 7 admits a delta; a crashed attempt's replay OVERWRITES it —
    // probing after 1 admission == after 2 (no duplicate index rows)
    val delta = Seq(4L -> "mitten")
    Fuzzy.admitFuzzyEpoch(delta.toDF("id", "key"), "id", "key", path, 7L)
    val after1 = probeIdx(path, probe)
    assert(after1.map(_._1) == Set(1L, 4L))
    Fuzzy.admitFuzzyEpoch(delta.toDF("id", "key"), "id", "key", path, 7L)
    val fitted = Fuzzy.loadFuzzyIndex(spark, path)
    val bag =
      try Fuzzy.fuzzyJoinWith(fitted, probe.toDF("id", "key"), "id", "key")
        .as[(Long, Long, Int)].collect().toSeq
      finally fitted.release()
    assert(bag.size == bag.distinct.size && bag.toSet == after1,
      s"replayed admission duplicated rows: $bag")
    // compaction merges epoch=-1 + epoch=7 into one partition, probes
    // unchanged; second compaction is a no-op
    assert(Fuzzy.compactFuzzyIndex(spark, path) == 2)
    assert(probeIdx(path, probe) == after1)
    assert(Fuzzy.compactFuzzyIndex(spark, path) == 0)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("persisted fuzzy index: writer lease refuses a concurrent mutation, stale lease broken") {
    val base = java.nio.file.Files.createTempDirectory("fz-lease").toString
    val path = s"$base/idx"
    Fuzzy.saveFuzzyIndex(Seq(1L -> "kitten").toDF("id", "key"), "id", "key",
      maxDist = 1, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$path/__lease")
    val out = fs.create(lease, false)
    out.write("appendToFuzzyIndex@other".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException](Fuzzy.appendToFuzzyIndex(
      Seq(2L -> "mitten").toDF("id", "key"), "id", "key", path))
    assert(e.getMessage.contains("lease") &&
      e.getMessage.contains("appendToFuzzyIndex@other"), e.getMessage)
    intercept[IllegalStateException](Fuzzy.compactFuzzyIndex(spark, path))
    // the failed writer must not have mutated the index
    assert(probeIdx(path, Seq(10L -> "miitten")).isEmpty)
    // a dead writer's stale lease is broken automatically
    val old = System.currentTimeMillis() - EpochIndex.IndexLeaseStaleMs - 60000
    fs.setTimes(lease, old, old)
    Fuzzy.appendToFuzzyIndex(Seq(2L -> "mitten").toDF("id", "key"),
      "id", "key", path)
    assert(probeIdx(path, Seq(10L -> "miitten")) == Set((2L, 10L, 1)))
    assert(!fs.exists(lease), "winner must release the lease")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("fuzzyLinkStreamPersisted: driver-restart probes through the saved index == batch fuzzyJoin") {
    val base = java.nio.file.Files.createTempDirectory("fz-stream").toString
    val path = s"$base/idx"
    val catalog = Seq(1L -> "kitten", 2L -> "flour", 3L -> "mitten")
    Fuzzy.saveFuzzyIndex(catalog.toDF("id", "key"), "id", "key",
      maxDist = 1, path)
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val q = Fuzzy.fuzzyLinkStreamPersisted(
        input.toDS().toDF("id", "key"), path, "id", "key") { (res, _) =>
      got ++= res.as[(Long, Long, Int)].collect(); ()
    }.start()
    input.addData(10L -> "sitten", 11L -> "flour")
    q.processAllAvailable()
    // "restart": a fresh writer against the same index, no refit
    input.addData(12L -> "mittenn")
    q.processAllAvailable()
    q.stop()
    val batch = Fuzzy.fuzzyJoin(catalog.toDF("id", "key"),
        Seq(10L -> "sitten", 11L -> "flour", 12L -> "mittenn")
          .toDF("id", "key"),
        "id", "key", "id", "key", maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got.toSet == batch, s"stream ${got.toSet} != batch $batch")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }
}
