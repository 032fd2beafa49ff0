package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The eager epoch body of [[Dedup.dedupStreamAgainstMinHashIndex]]
  * ([[Dedup.minHashEpoch]]): its job count, its release of everything it
  * caches, its equivalence with the lazy probe and frames, and the schema
  * the index manifest records for its scans. */
class MinHashEpochSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val vocab = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
    "kilo lima mike november oscar papa quebec romeo sierra tango uniform victor " +
    "whiskey xray yankee zulu amber basil cedar dune ember fjord grove heath " +
    "inlet jade knoll loch").split(" ").toSeq
  /** `n` words drawn from a seeded generator: distinct seeds give texts far
    * apart, a light edit (one word replaced) stays a near-duplicate. */
  private def words(seed: Int, n: Int = 30): Seq[String] = {
    val r = new java.util.Random(5000L + seed)
    Seq.fill(n)(vocab(r.nextInt(vocab.size)))
  }
  private def text(seed: Int): String = words(seed).mkString(" ")
  private def edited(seed: Int): String = words(seed).updated(15, "zzz").mkString(" ")

  private val corpus = (0 until 30).map(i => i.toLong -> text(i))
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Jobs started while `f` runs on this thread, by the job group it sets. */
  private def jobsDuring[T](f: => T): (Int, T) = {
    val group = s"minhash-epoch-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_ == group).foreach(jobs.add)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "job count", false)
      val r = try f finally spark.sparkContext.clearJobGroup()
      (jobs.size, r)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("one MinHash stream epoch runs at most 8 Spark jobs") {
    val base = tmp("mh-epoch-jobs")
    val path = s"$base/idx"
    Dedup.saveMinHashIndex(corpus.map { case (i, t) => s"c$i" -> t }.toDF("doc_id", "text"),
      "doc_id", "text", path)
    // (query id, batch id) of every job start: a count, not a duration, so
    // it does not drift with the host
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).foreach { p =>
          val batch = p.getProperty("streaming.sql.batchId")
          if (batch != null) jobs.add((p.getProperty("sql.streaming.queryId"), batch))
        }
    }
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String)]
    spark.sparkContext.addSparkListener(l)
    val q = Dedup.dedupStreamAgainstMinHashIndex(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", path) { (fresh, epochId) =>
      fresh.write.mode("overwrite").parquet(s"$base/out/epoch=$epochId")
    }.start()
    try {
      // a copy and an edit of indexed documents, and fresh ones
      input.addData(("d0", text(3)), ("d1", edited(4)), ("d2", text(100)), ("d3", text(101)))
      q.processAllAvailable()
      input.addData(("d4", text(100)), ("d5", text(102)), ("d6", edited(7)))
      q.processAllAvailable()
    } finally q.stop()
    // job-start events reach the listener asynchronously: wait until the
    // count stops moving
    var last = -1
    val deadline = System.currentTimeMillis() + 10000
    while (jobs.size != last && System.currentTimeMillis() < deadline) {
      last = jobs.size
      Thread.sleep(300)
    }
    spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val perEpoch = jobs.asScala.toSeq.filter(_._1 == q.id.toString)
      .groupBy(_._2).map { case (b, js) => b.toLong -> js.size }
    assert(perEpoch.keySet == Set(0L, 1L), s"jobs by epoch: $perEpoch")
    assert(perEpoch.values.forall(_ <= 8), s"jobs by epoch: $perEpoch")
    info(s"jobs by epoch: $perEpoch")
    val out = spark.read.parquet(s"$base/out").select($"doc_id").as[String].collect().toSet
    assert(out == Set("d2", "d3", "d5"))
    FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("20 MinHash stream epochs leave no live share and no cached relation behind") {
    val base = tmp("mh-epoch-memory")
    val path = s"$base/idx"
    Dedup.saveMinHashIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", path)
    /** Whether the CacheManager holds a relation `df` reads (a fresh
      * projection, so the lookup is made now). */
    def cached(df: DataFrame): Boolean =
      df.select(col("*")).queryExecution.withCachedData.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
    def held = (Exec.lazyShareLive, spark.sparkContext.getPersistentRDDs.size)
    val before = held
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val epochs = new ConcurrentLinkedQueue[DataFrame]()
    val q = Dedup.dedupStreamAgainstMinHashIndex(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", path) { (fresh, epochId) =>
      assert(cached(fresh), "the epoch's survivors do not read its persisted batch")
      epochs.add(fresh)
      fresh.write.mode("overwrite").parquet(s"$base/out/epoch=$epochId")
    }.start()
    try {
      for (e <- 0 until 20) {
        input.addData((1000L + 2 * e) -> text(1000 + e), (1001L + 2 * e) -> edited(e % 30))
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(held == before, s"(live shares, persisted RDDs): $before -> $held")
    assert(epochs.size == 20)
    epochs.forEach(f => assert(!cached(f), "a finished epoch's batch is still cached"))
    val out = spark.read.parquet(s"$base/out").select($"doc_id").as[Long].collect().toSet
    assert(out == (0 until 20).map(e => 1000L + 2 * e).toSet)
    FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("an epoch's survivors, frames and drop stat equal the lazy probe's over random batches") {
    val base = tmp("mh-epoch-equiv")
    val path = s"$base/idx"
    Dedup.saveMinHashIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", path)
    // a committed stream epoch the probe sees, and the probed epoch's own
    // earlier admission, which it must not see
    Dedup.admitMinHashEpoch(Seq(500L -> text(500)).toDF("doc_id", "text"),
      "doc_id", "text", path, 5L)
    Dedup.admitMinHashEpoch(Seq(900L -> text(900)).toDF("doc_id", "text"),
      "doc_id", "text", path, 99L)
    val m = EpochIndex.committed(spark, path, Dedup.MinHashIndex)
    val quality =
      CorpusOps.qualityReason(col("text"), 10, 100000, "en", 0.3, 0.9) === "keep"
    def rows(d: DataFrame): Seq[String] =
      d.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted
    val rng = new java.util.Random(20260419L)
    var matchedCases, droppedCases = 0
    for (c <- 0 until 14) {
      var next = 1000L * (c + 1)
      def id(): Option[Long] = { next += 1; Some(next) }
      val docs = scala.collection.mutable.ArrayBuffer.empty[(Option[Long], String)]
      // fixed cases: one document that the quality filter rejects, an
      // in-batch near-duplicate pair, a bucket over the cap
      if (c == 0) docs += id() -> text(42)
      val pair = if (c == 1) Seq(id() -> text(700), id() -> edited(700)) else Nil
      docs ++= pair
      if (c == 2) docs ++= Seq.fill(3)(text(840)).map(id() -> _)
      (0 until rng.nextInt(10)).foreach { _ =>
        rng.nextInt(9) match {
          case 0 => docs += id() -> text(rng.nextInt(30))          // indexed copy
          case 1 => docs += id() -> edited(rng.nextInt(30))        // indexed edit
          case 2 => docs += id() -> text(500)                      // seen epoch
          case 3 => docs += id() -> edited(900)                    // excluded epoch
          case 4 => docs += id() -> words(600 + rng.nextInt(9), 2).mkString(" ") // < k
          case 5 => docs ++= Seq(id() -> text(800 + c), id() -> edited(800 + c))
          case 6 => docs += (None -> text(rng.nextInt(30)))        // null id
          case 7 => docs ++= Seq.fill(3)(text(850 + c)).map(id() -> _) // one hot bucket
          case _ => docs += id() -> text(2000 + rng.nextInt(1000)) // fresh
        }
      }
      val cap = if (c == 2 || rng.nextBoolean()) 2 else 1000
      val batch0 = docs.toSeq.toDF("doc_id", "text")
      // case 0: nothing passes the quality filter
      val batch = if (c == 0) batch0.filter(quality) else batch0
      val eager = Dedup.withDropScope(s"eager$c") {
        Dedup.minHashEpoch(batch, "doc_id", "text", path, 0.5, cap, 99L)
      }
      try {
        val lazyFresh = Dedup.withDropScope(s"lazy$c") {
          Dedup.dedupAgainstMinHashIndex(batch, "doc_id", "text", path,
            maxBatchBucket = cap, excludeEpoch = Some(99L))
        }
        val survivors = rows(eager.fresh)
        assert(survivors == rows(lazyFresh), s"case $c survivors")
        assert(eager.fresh.columns.toSeq == batch.columns.toSeq)
        val lazyFrames = Dedup.minHashFrames(lazyFresh, "doc_id", "text")(m).toMap
        eager.frames(m).foreach { case (t, d) =>
          assert(rows(d) == rows(lazyFrames(t)), s"case $c table $t")
        }
        if (c == 1) {
          // the index was re-saved with other params between probe and commit
          val resaved = m.copy(params = m.params + ("k" -> "5"))
          val again = Dedup.minHashFrames(lazyFresh, "doc_id", "text")(resaved).toMap
          eager.frames(resaved).foreach { case (t, d) => assert(rows(d) == rows(again(t))) }
        }
        val drops = Dedup.lastDropStats(s"eager$c/minHashIndex")
        assert(drops.isDefined && drops == Dedup.lastDropStats(s"lazy$c/minHashIndex"),
          s"case $c drop stat")
        if (drops.exists(_.rows > 0)) droppedCases += 1
        if (survivors.size < rows(batch).size) matchedCases += 1
        if (c == 0) assert(survivors.isEmpty && rows(batch0).nonEmpty)
        assert(pair.forall { case (i, _) =>
          eager.fresh.filter($"doc_id" === i.get).count() == 1 }, "an in-batch pair must both survive")
      } finally eager.release()
    }
    assert(matchedCases > 0 && droppedCases > 0, s"matched $matchedCases, dropped $droppedCases")
    FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("a probe over a new index starts no job before its action; a manifest without table schemas probes identically") {
    val base = tmp("mh-epoch-schema")
    val path = s"$base/idx"
    Dedup.saveMinHashIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", path)
    val batch = Seq(1L -> text(3), 2L -> edited(5), 3L -> text(300)).toDF("doc_id", "text")
    val (jobs, probe) = jobsDuring(
      Dedup.dedupAgainstMinHashIndex(batch, "doc_id", "text", path))
    assert(jobs == 0, s"$jobs jobs before the probe's action")
    val survivors = probe.select($"doc_id").as[Long].collect().toSet
    assert(survivors == Set(3L))
    def schemas() = {
      val m = EpochIndex.committed(spark, path, Dedup.MinHashIndex)
      Seq("bands", "shingles").map(EpochIndex.scan(spark, path, Dedup.MinHashIndex, m, _).schema)
    }
    val recorded = schemas()
    // the manifest as it was written before tables recorded their schema
    val fs = EpochIndex.indexFs(spark, path)
    val manifest = fs.listStatus(new org.apache.hadoop.fs.Path(path)).map(_.getPath)
      .filter(_.getName.startsWith("manifest-")).maxBy(_.getName.stripPrefix("manifest-").toInt)
    val in = fs.open(manifest)
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(body.contains("param.schema.bands="))
    fs.delete(manifest, false)
    val out = fs.create(manifest, false)
    try out.write(body.split("\n").filterNot(_.startsWith("param.schema."))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    assert(!EpochIndex.committed(spark, path, Dedup.MinHashIndex).params.keys
      .exists(_.startsWith("schema.")))
    assert(schemas() == recorded, "inferred and recorded scan schemas differ")
    assert(Dedup.dedupAgainstMinHashIndex(batch, "doc_id", "text", path)
      .select($"doc_id").as[Long].collect().toSet == survivors)
    // the next staged epoch records the schemas again
    Dedup.admitMinHashEpoch(batch.filter($"doc_id" === 3L), "doc_id", "text", path, 0L)
    assert(EpochIndex.committed(spark, path, Dedup.MinHashIndex).params.keySet
      .intersect(Set("schema.bands", "schema.shingles")).size == 2)
    assert(Dedup.dedupAgainstMinHashIndex(batch, "doc_id", "text", path)
      .select($"doc_id").as[Long].collect().isEmpty)
    FileUtils.deleteQuietly(new java.io.File(base))
  }
}
