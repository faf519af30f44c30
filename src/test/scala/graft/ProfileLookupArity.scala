package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multi-attribute LookupJoin adoption measurement (round-16 directive):
  * does the arity-2 slot-major table pay against the BroadcastHashJoin
  * it replaces, at the scale where the BHJ's per-execution driver-side
  * relation rebuild dominates?
  *
  *   SPARK_DRIVER_MEM=48g sbt -batch "Test/runMain graft.ProfileLookupArity [sfDir]"
  *
  * Variants, all computing q3b_priority_detail's result (top-10 orders
  * with BOTH o_orderdate and o_custkey attached):
  *
  *   arity2_lookup — the production shape: one arity-2 table (semi
  *                   probe on the 600M-row path, 10-row re-probe for
  *                   both attributes)
  *   packed_x2     — the round-15 workaround this directive retires:
  *                   TWO arity-1 tables over the same side (one per
  *                   attribute), i.e. double build + double broadcast
  *   bhj           — the plain broadcast join shape (hash relation
  *                   rebuilt on the driver per execution)
  *
  * min-of-3 warm + the first (cold: caches reset) run per variant,
  * interleaved in one session; writes LOOKUP_ARITY_MEASURE.json.
  */
object ProfileLookupArity {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    sources.Tables.load(s, dir, name)
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast(LongType)

  private def ocSide(s: SparkSession, dir: String) = {
    val c = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1996-03-15"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("_od"),
        col("o_custkey"))
  }

  private def fact(s: SparkSession, dir: String) =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1996-03-15"))
      .select("l_orderkey", "l_extendedprice", "l_discount")

  private val revenue =
    sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))

  private def finish(top10: DataFrame): DataFrame =
    top10.select(col("o_orderkey"),
        timestamp_micros(col("_od")).cast("timestamp_ntz").as("o_orderdate"),
        col("o_custkey"), col("revenue_c"))
      .orderBy(desc_nulls_last("revenue_c"), asc_nulls_first("o_orderkey"))

  /** Production shape: one arity-2 table, semi + group-bare + attach. */
  def arity2(s: SparkSession, dir: String): DataFrame = {
    val oc = graft.operators.Broadcasts.gatedStats(ocSide(s, dir))
    val pay = Seq("_od", "o_custkey")
    val top = graft.operators.LookupJoin.semi(fact(s, dir),
        col("l_orderkey"), oc.bare, "o_orderkey", pay)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(revenue.as("revenue_c"))
      .orderBy(desc_nulls_last("revenue_c"), asc_nulls_first("o_orderkey"))
      .limit(10)
    finish(graft.operators.LookupJoin.inner(top, col("o_orderkey"),
      oc.bare, "o_orderkey", pay.map(p => p -> p)))
  }

  /** The packing workaround: two independent arity-1 tables. */
  def packedX2(s: SparkSession, dir: String): DataFrame = {
    val oc = graft.operators.Broadcasts.gatedStats(ocSide(s, dir))
    val top = graft.operators.LookupJoin.inner(fact(s, dir),
        col("l_orderkey"), oc.bare.select("o_orderkey", "_od"),
        "o_orderkey", "_od", "_od").drop("_od")
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(revenue.as("revenue_c"))
      .orderBy(desc_nulls_last("revenue_c"), asc_nulls_first("o_orderkey"))
      .limit(10)
    val withOd = graft.operators.LookupJoin.inner(top, col("o_orderkey"),
      oc.bare.select("o_orderkey", "_od"), "o_orderkey", "_od", "_od")
    finish(graft.operators.LookupJoin.inner(withOd, col("o_orderkey"),
      oc.bare.select("o_orderkey", "o_custkey"), "o_orderkey",
      "o_custkey", "o_custkey"))
  }

  /** The BroadcastHashJoin shape the lookup replaces. */
  def bhj(s: SparkSession, dir: String): DataFrame = {
    val oc = ocSide(s, dir)
    val l = fact(s, dir)
    finish(l.join(broadcast(oc), l("l_orderkey") === oc("o_orderkey"))
      .groupBy(col("o_orderkey"), col("_od"), col("o_custkey"))
      .agg(revenue.as("revenue_c"))
      .orderBy(desc_nulls_last("revenue_c"), asc_nulls_first("o_orderkey"))
      .limit(10))
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/bsx1000"
    val spark = Bench.session(dir)
    spark.sparkContext.setLogLevel("ERROR")
    val variants: Seq[(String, () => DataFrame)] = Seq(
      "arity2_lookup" -> (() => arity2(spark, dir)),
      "packed_x2" -> (() => packedX2(spark, dir)),
      "bhj" -> (() => bhj(spark, dir)))
    def resetCaches(): Unit = graft.operators.SessionCache.reset()
    // results must agree before any timing is worth recording
    val rows = variants.map { case (n, f) =>
      n -> f().collect().map(_.toSeq).toSeq
    }
    require(rows.map(_._2).distinct.size == 1,
      s"variants disagree: ${rows.map { case (n, r) => s"$n=$r" }}")
    val timed = variants.map { case (name, fn) =>
      resetCaches()
      def once(): Double = {
        val t0 = System.nanoTime()
        fn().count()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once() // caches just reset: builds/rebuilds included
      val warm = Seq.fill(3)(once())
      println(f"[lookuparity] $name%-14s cold=$cold%.2fs warm_min=${warm.min}%.2fs runs=${warm.map(x => f"$x%.2f").mkString(",")}")
      f""""$name":{"cold_sec":$cold%.3f,"warm_min_sec":${warm.min}%.3f,"warm_runs":${warm.map(x => f"$x%.3f").mkString("[", ",", "]")}}"""
    }
    val json =
      s"""{"metric":"lookup_arity_adoption","query":"q3b_priority_detail","replica":"$dir",""" +
      s""""protocol":"same result verified identical across variants, then per variant: caches reset, one cold run (table/relation build included), min-of-3 warm",""" +
      s""""variants":{${timed.mkString(",")}}}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/LOOKUP_ARITY_MEASURE.json"),
      json + "\n")
    spark.stop()
    sys.exit(0)
  }
}
