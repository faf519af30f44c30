package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Broadcasts, ClusteredAgg, LookupJoin, RuntimeFilters,
  SessionCache}
import graft.sources.Tables

/** The one session cache: a single reset() releases every kind, every
  * kind is bounded, and a layout verdict outlives the session that
  * measured it.
  */
class SessionCacheSpec extends SparkSpec {

  private val kinds = Seq(SessionCache.Gates, SessionCache.Lookups,
    SessionCache.Sketches, SessionCache.Verdicts, SessionCache.Relations)

  private lazy val sortedPath: String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft-sessioncache/sorted"
    spark.range(0, 20000)
      .select((col("id") / 5).as("k"), (col("id") % 3).as("v"))
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(p)
    p
  }

  test("one reset() releases every kind") {
    SessionCache.reset()
    val base = spark.sparkContext.getPersistentRDDs.size
    val side = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 7).as("p"))
    val fact = spark.range(0, 5000).select(col("id").as("fk"))
    val gated = Broadcasts.gatedStats(side).bare
    val table = LookupJoin.tableFor(side, "k", Seq("p"))
    RuntimeFilters.keyFilter(fact, "fk", side, "k", 1000L).count()
    ClusteredAgg.isKeyClustered(spark.read.parquet(sortedPath), "k")
    Tables.relation(spark, sortedPath)(spark.read.parquet(sortedPath))
    assert(kinds.map(SessionCache.count) === Seq(1, 1, 1, 1, 1))
    assert(gated.storageLevel != StorageLevel.NONE)

    SessionCache.reset()
    assert(kinds.map(SessionCache.count) === Seq(0, 0, 0, 0, 0))
    assert(gated.storageLevel === StorageLevel.NONE,
      "reset() left the gated side persisted")
    assert(spark.sparkContext.getPersistentRDDs.size <= base)
    intercept[SparkException](table.table.value) // destroyed, not unpersisted
  }

  test("the kinds that had no bound plateau at their bound") {
    SessionCache.reset()
    val verdicts = SessionCache.Verdicts
    (1 to verdicts.capacity + 20).foreach { i =>
      SessionCache.getOrBuild(verdicts,
        spark.range(i).queryExecution.analyzed.canonicalized)(
        java.lang.Boolean.TRUE)
    }
    assert(SessionCache.count(verdicts) === verdicts.capacity)
    val relations = SessionCache.Relations
    (1 to relations.capacity + 20).foreach { i =>
      Tables.relation(spark, s"/nonexistent/graft-relation-$i")(
        spark.range(1).toDF())
    }
    assert(SessionCache.count(relations) === relations.capacity)
    SessionCache.reset()
  }

  test("a layout verdict is served across spark.newSession()") {
    SessionCache.reset()
    assert(ClusteredAgg.isKeyClustered(spark.read.parquet(sortedPath), "k"))
    assert(SessionCache.count(SessionCache.Verdicts) === 1)
    val fresh = spark.newSession()
    assert(ClusteredAgg.isKeyClustered(fresh.read.parquet(sortedPath), "k"))
    assert(SessionCache.count(SessionCache.Verdicts) === 1,
      "a new session re-measured the same layout")
    SessionCache.reset()
  }
}
