package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{SessionCache, TopKJoin}

/** Adaptive-refill top-k pushdown: one probe when the catalog-clean
  * constraints hold, correct-by-escalation when they don't — duplicate
  * dim keys, orphaned fact keys, NULL fact keys, and a fact smaller
  * than the probe prefix must all match the plain join + top-k plan.
  */
class TopKJoinSpec extends SparkSpec {
  import spark.implicits._

  // fact: (fk, score); dim: (dk, payload)
  private def fact(rows: Seq[(java.lang.Long, Long)]): DataFrame =
    rows.toDF("fk", "score")
  private def dim(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("dk", "payload")

  private def oracle(f: DataFrame, d: DataFrame, k: Int): Seq[Seq[Any]] =
    d.join(f, d("dk") === f("fk"))
      .orderBy(desc_nulls_last("score"), asc_nulls_first("fk"))
      .limit(k)
      .select("dk", "payload", "fk", "score")
      .collect().toSeq.map(_.toSeq)

  private def pushed(f: DataFrame, d: DataFrame, k: Int): Seq[Seq[Any]] =
    TopKJoin.limitJoin(f, d, "fk", "dk",
        Seq(desc_nulls_last("score"), asc_nulls_first("fk")), k)
      .orderBy(desc_nulls_last("score"), asc_nulls_first("fk"))
      .select("dk", "payload", "fk", "score")
      .collect().toSeq.map(_.toSeq)

  private val cleanDim = (1L to 200L).map(i => (i, s"p$i"))
  private val cleanFact: Seq[(java.lang.Long, Long)] =
    (1L to 200L).map(i => (java.lang.Long.valueOf(i), i * 7 % 101))

  test("clean layout: one probe, and the limit sits below the join") {
    SessionCache.reset()
    val f = fact(cleanFact); val d = dim(cleanDim)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(pushed(f, d, 10) == oracle(f, d, 10))
    // the fast plan must contain no join wider than k rows on the built
    // side: the broadcast input is a limit, visible as a 10-row hint
    val plan = TopKJoin.limitJoin(f, d, "fk", "dk",
      Seq(desc_nulls_last("score"), asc_nulls_first("fk")), 10)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("GlobalLimit") || plan.contains("Limit") ||
      plan.contains("InMemoryRelation"),
      s"pushdown did not place the limit below the join:\n$plan")
  }

  test("duplicate dim key: extra multiplicity stays correct without demotion") {
    SessionCache.reset()
    val f = fact(cleanFact)
    val d = dim(cleanDim :+ ((5L, "dup"))) // key 5 twice
    assert(pushed(f, d, 10) == oracle(f, d, 10))
    // and when the duplicate IS in the top-k: k large enough to reach it
    assert(pushed(f, d, 200).length == oracle(f, d, 200).length)
  }

  test("orphaned fact key: refill escalates and matches the plain plan") {
    SessionCache.reset()
    // fact key 999 has no dim row and tops the sort; the first probe
    // returns k-1 rows, so the loop must escalate, not under-fill
    val f = fact(cleanFact :+ ((java.lang.Long.valueOf(999L), 1000L)))
    val d = dim(cleanDim)
    assert(pushed(f, d, 10) == oracle(f, d, 10))
  }

  test("NULL fact key: never equi-joins, refill covers the dropped row") {
    SessionCache.reset()
    val f = fact(cleanFact :+ ((null: java.lang.Long, 1000L)))
    val d = dim(cleanDim)
    assert(pushed(f, d, 10) == oracle(f, d, 10))
  }

  test("fact exhausted below k: returns every matching row, no infinite loop") {
    SessionCache.reset()
    // only 3 fact rows, one orphaned; k = 10 can never fill
    val f = fact(Seq((java.lang.Long.valueOf(1L), 30L),
      (java.lang.Long.valueOf(2L), 20L), (java.lang.Long.valueOf(999L), 10L)))
    val d = dim(cleanDim)
    assert(pushed(f, d, 10) == oracle(f, d, 10))
    assert(pushed(f, d, 10).length == 2)
  }

  test("orphan flood: many misses still converge to the oracle") {
    SessionCache.reset()
    // 400 orphans outscore every matched row: the k=5 probe must
    // escalate past them (5 -> 40 -> 320 -> 2560 covers all 600 rows)
    val orphans = (1L to 400L).map(i =>
      (java.lang.Long.valueOf(10000L + i), 100000L + i))
    val f = fact(cleanFact ++ orphans)
    val d = dim(cleanDim)
    assert(pushed(f, d, 5) == oracle(f, d, 5))
  }
}
