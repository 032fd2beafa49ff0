package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class LazyShareSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("lazyShare bounds live cache entries and evicts oldest-first") {
    spark.catalog.clearCache()
    val dfs = (0 until 80).map { i =>
      // distinct plans (different literal) so each is its own cache entry
      Exec.lazyShare(Seq((i.toLong, s"text $i")).toDF("id", "t")
        .filter($"id" >= i - 1000))
    }
    assert(Exec.lazyShareLive <= 64, "registry must stay bounded")
    // the newest shares are still cached; the oldest were unpersisted
    assert(dfs.takeRight(8).forall(_.storageLevel != StorageLevel.NONE))
    assert(dfs.take(16).forall(_.storageLevel == StorageLevel.NONE),
      "evicted shares must be unpersisted")
    val live = dfs.count(_.storageLevel != StorageLevel.NONE)
    assert(live <= 64, s"at most the cap may stay persisted, got $live")
    // evicted shares still compute correctly from lineage
    assert(dfs.head.count() == 1)
    spark.catalog.clearCache()
  }

  test("re-sharing an equivalent plan touches one entry, not two") {
    spark.catalog.clearCache()
    val mk = () => Seq((1L, "a"), (2L, "b")).toDF("id", "t").filter($"id" > 0)
    val a = Exec.lazyShare(mk())
    val before = Exec.lazyShareLive
    val b = Exec.lazyShare(mk()) // equivalent plan, fresh DataFrame
    assert(Exec.lazyShareLive == before, "equivalent plan must not add an entry")
    assert(a.storageLevel != StorageLevel.NONE)
    assert(b.storageLevel != StorageLevel.NONE)
    assert(b.count() == 2)
    spark.catalog.clearCache()
  }

  test("a newSession() share of an equivalent plan reuses the one entry and cache") {
    // sessions of one SparkContext share one CacheManager, so the registry
    // is keyed by plan alone: a per-session key would hold two entries for
    // one cache entry, and evicting either would unpersist the other's share
    spark.catalog.clearCache()
    val other = spark.newSession()
    def mk(s: SparkSession) =
      s.createDataFrame(Seq((1L, "a"), (2L, "b"), (3L, "c"))).toDF("id", "t")
        .filter(col("id") > 1)
    val a = Exec.lazyShare(mk(spark))
    val before = Exec.lazyShareLive
    val b = Exec.lazyShare(mk(other))
    assert(Exec.lazyShareLive == before,
      "an equivalent plan from another session must not add an entry")
    assert(a.storageLevel != StorageLevel.NONE)
    assert(b.storageLevel != StorageLevel.NONE)
    Exec.lazyShare(mk(spark)) // re-share from the first session
    assert(Exec.lazyShareLive == before)
    assert(a.storageLevel != StorageLevel.NONE && b.storageLevel != StorageLevel.NONE)
    assert(a.count() == 2)
    assert(b.count() == 2)
    spark.catalog.clearCache()
  }
}
