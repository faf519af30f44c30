package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** String-payload LookupJoin adoption measurement (round-17): does the
  * dictionary-encoded lookup table pay against the per-execution
  * BroadcastHashJoin it replaces in q10, at the scale where the BHJ's
  * driver-side relation rebuild dominates?
  *
  *   sbt -batch "Test/runMain graft.ProfileLookupString [sfDir]"
  *   (48g heap for the 1000x replica: SPARK_DRIVER_MEM=48g + pre-touch)
  *
  * Variants, all computing q10_returned_items' result (top-20 customers
  * with c_name / n_name attached):
  *
  *   lookup_string — the production shape: orders lookup attaches the
  *                   custkey in-scan; the customer⋈nation dim is ONE
  *                   dictionary-encoded arity-2 table (semi code-probe
  *                   on the hot path, 20-row string decode after)
  *   bhj           — the previous shape: l ⋈ o shuffle/AQE join, then
  *                   broadcast customer and nation joins with the
  *                   strings in the GROUP KEY (relation rebuilt on the
  *                   driver per execution)
  *
  * min-of-3 warm + the first (cold: caches reset) run per variant,
  * interleaved in one session; writes LOOKUP_STRING_MEASURE.json.
  */
object ProfileLookupString {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    sources.Tables.load(s, dir, name)
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast(LongType)
  private val revenue =
    sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
      .as("revenue_c")

  private def lret(s: SparkSession, dir: String) =
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
  private def odates(s: SparkSession, dir: String) =
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-10-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select("o_orderkey", "o_custkey")
  private def custDim(s: SparkSession, dir: String) = {
    val n = t(s, dir, "nation")
    t(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey")
      .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
      .select("c_custkey", "c_name", "n_name")
  }

  /** Production shape — the registered q10 body's broadcast path. */
  def lookupString(s: SparkSession, dir: String): DataFrame = {
    val custG = graft.operators.Broadcasts.gatedStats(custDim(s, dir))
    val oG = graft.operators.Broadcasts.gatedStats(odates(s, dir))
    val pay = Seq("c_name", "n_name")
    graft.operators.LookupJoin.inner(lret(s, dir), col("l_orderkey"),
        oG.bare, "o_orderkey", "o_custkey", "_ck")
      .transform(lo => graft.operators.LookupJoin.semi(lo, col("_ck"),
        custG.bare, "c_custkey", pay))
      .groupBy(col("_ck").as("c_custkey"))
      .agg(revenue)
      .orderBy(desc_nulls_last("revenue_c"), asc_nulls_first("c_custkey"))
      .limit(20)
      .transform(top => graft.operators.LookupJoin.inner(top,
        col("c_custkey"), custG.bare, "c_custkey", pay.map(p => p -> p)))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("revenue_c"))
      .orderBy(desc_nulls_last("revenue_c"), asc_nulls_first("c_custkey"))
  }

  /** The previous q10 shape: strings ride the group key through BHJs. */
  def bhj(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val o = odates(s, dir)
    val l = lret(s, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(revenue)
      .orderBy(desc_nulls_last("revenue_c"), asc_nulls_first("c_custkey"))
      .limit(20)
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/bsx100"
    val spark = Bench.session(dir)
    spark.sparkContext.setLogLevel("ERROR")
    val variants: Seq[(String, () => DataFrame)] = Seq(
      "lookup_string" -> (() => lookupString(spark, dir)),
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
      println(f"[lookupstring] $name%-14s cold=$cold%.2fs warm_min=${warm.min}%.2fs runs=${warm.map(x => f"$x%.2f").mkString(",")}")
      f""""$name":{"cold_sec":$cold%.3f,"warm_min_sec":${warm.min}%.3f,"warm_runs":${warm.map(x => f"$x%.3f").mkString("[", ",", "]")}}"""
    }
    val json =
      s"""{"metric":"lookup_string_adoption","query":"q10_returned_items","replica":"$dir",""" +
      s""""protocol":"same result verified identical across variants, then per variant: caches reset, one cold run (table/relation build included), min-of-3 warm",""" +
      s""""variants":{${timed.mkString(",")}}}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/LOOKUP_STRING_MEASURE.json"),
      json + "\n")
    spark.stop()
    sys.exit(0)
  }
}
