package graft

import org.apache.spark.storage.StorageLevel

/** The Dataset memo contract of [[IndexCache.getOrPersist]]: the build
  * runs once per key, and a handle released since (what
  * `Bench.releaseCaches` does between bench sections) comes back
  * re-persisted with the same rows instead of rebuilt or left
  * uncached.
  */
class IndexCacheSpec extends SparkSpec {

  /** The release `Bench.releaseCaches` runs, minus the broadcast
    * eviction (no Dataset memo holds a broadcast).
    */
  private def releaseCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("a getOrPersist memo survives a cache release: built once, " +
      "re-persisted, same rows") {
    var builds = 0
    def memo = IndexCache.getOrPersist(spark, "batch-result:index-cache-spec") {
      builds += 1
      spark.range(0, 100).selectExpr("id", "id * id AS sq")
    }
    val first = memo
    assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val rows = first.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    releaseCaches()
    assert(first.storageLevel == StorageLevel.NONE)
    val again = memo
    assert(builds == 1)
    assert(again.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(again.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .sameElements(rows))
  }

  test("ExactKnn.split keeps its widened base cached across a cache " +
      "release") {
    def builds = IndexCache.auditLog.count(_._1 == s"split-base:$sf0001:0.95")
    def baseRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val (base, _, splitAt, n) = knn.ExactKnn.split(spark, sf0001)
    val built = builds
    assert(built >= 1)
    val rows = baseRows(base)
    releaseCaches()
    val (again, _, splitAgain, nAgain) = knn.ExactKnn.split(spark, sf0001)
    assert(builds == built, "the split base was rebuilt")
    assert(again.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert((splitAgain, nAgain) == ((splitAt, n)))
    assert(baseRows(again).sameElements(rows))
  }
}
