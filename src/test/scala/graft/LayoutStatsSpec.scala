package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.{ClusteredAgg, LayoutStats, SessionCache}

/** The footer-statistics clustering proof: proves sorted layouts with
  * ZERO Spark jobs, answers only proven/unknown (never "not clustered"),
  * and refuses every precondition violation — the scan check stays the
  * exact authority for everything the footers can't see.
  */
class LayoutStatsSpec extends SparkSpec {

  private def tmp(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-layoutstats/$name"

  /** Run `body` and count Spark jobs it launches. */
  private def countJobs(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(300) } // listener bus drains async; jobs would
    finally spark.sparkContext.removeSparkListener(l) // have STARTED sync
    counter.get()
  }

  private lazy val sortedPath: String = {
    val p = tmp("sorted")
    // strictly increasing key, several files: footers carry disjoint
    // [min,max] per row group — provable from metadata alone
    spark.range(0, 100000)
      .select(col("id").as("k"), (col("id") % 13).as("v"))
      .repartitionByRange(6, col("k"))
      .write.mode("overwrite").parquet(p)
    p
  }

  test("sorted layout: footer proof fires and launches zero Spark jobs") {
    val df = spark.read.parquet(sortedPath) // listing happens here, not below
    df.schema // force analysis/file index outside the counted region
    var proven = false
    val jobs = countJobs { proven = LayoutStats.footerProvenClustered(df, "k") }
    assert(proven, "sorted multi-file layout not proven from footers")
    assert(jobs == 0, s"footer proof ran $jobs Spark jobs; must be metadata-only")
  }

  test("footer proof survives filters and projections (narrow plan)") {
    val df = spark.read.parquet(sortedPath)
      .filter(col("v") > 3).select("k", "v")
    assert(LayoutStats.footerProvenClustered(df, "k"))
    // ...but refuses a widened plan (join breaks the scan partitioning)
    val joined = df.join(spark.range(5).select(col("id").as("v2")),
      df("v") === col("v2"))
    assert(!LayoutStats.footerProvenClustered(joined, "k"))
  }

  test("interleaved-range files: footer says unknown, scan check decides") {
    val p = tmp("interleaved")
    // two files with interleaving key ranges (evens / odds): every key
    // still lives in exactly one FILE, so the layout IS clustered when
    // whole files land in single scan partitions — but the footers'
    // [min,max] intervals overlap, so the proof must abstain rather
    // than conclude either way.
    spark.range(0, 5000).select((col("id") * 2).as("k"), lit(1).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(p + "/_a")
    spark.range(0, 5000).select((col("id") * 2 + 1).as("k"), lit(1).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(p + "/_b")
    val df = spark.read.parquet(p + "/_a", p + "/_b")
    assert(!LayoutStats.footerProvenClustered(df, "k"),
      "overlapping row-group ranges must not be proven from footers")
    // the exact tier still recognizes the clustering (files unsplit here)
    assert(ClusteredAgg.isKeyClustered(df, "k"))
  }

  test("random layout: footer abstains and the scan check rejects") {
    val p = tmp("random")
    spark.range(0, 100000)
      .select(pmod(hash(col("id")), lit(500)).cast("long").as("k"),
        (col("id") % 13).as("v"))
      .repartition(8)
      .write.mode("overwrite").parquet(p)
    val df = spark.read.parquet(p)
    assert(!LayoutStats.footerProvenClustered(df, "k"))
    assert(!ClusteredAgg.isKeyClustered(df, "k"))
  }

  test("NULL keys: footers carry the null count and the proof refuses") {
    val p = tmp("nulls")
    spark.range(0, 1000)
      .select(when(col("id") === 500, lit(null)).otherwise(col("id"))
        .cast("long").as("k"), lit(1).as("v"))
      .orderBy("k").coalesce(1).write.mode("overwrite").parquet(p)
    val df = spark.read.parquet(p)
    assert(!LayoutStats.footerProvenClustered(df, "k"))
    assert(!ClusteredAgg.isKeyClustered(df, "k"), "NULL keys must force fallback")
  }

  test("float keys refused: -0.0/0.0 are one group but two stored values") {
    val p = tmp("floats")
    spark.range(0, 1000).select(col("id").cast("double").as("k"), lit(1).as("v"))
      .orderBy("k").coalesce(1).write.mode("overwrite").parquet(p)
    val df = spark.read.parquet(p)
    assert(!LayoutStats.footerProvenClustered(df, "k"))
  }

  test("derived keys refused: an expression can merge distinct stored values") {
    val df = spark.read.parquet(sortedPath).select((col("k") % 10).as("k"), col("v"))
    assert(!LayoutStats.footerProvenClustered(df, "k"),
      "k % 10 is NOT clustered even though the underlying k is")
  }

  test("hive partition column keys refused: footers never see them") {
    val p = tmp("hivepart")
    spark.range(0, 1000)
      .select((col("id") % 4).as("pk"), col("id").as("v"))
      .write.partitionBy("pk").mode("overwrite").parquet(p)
    val df = spark.read.parquet(p)
    assert(!LayoutStats.footerProvenClustered(df, "pk"))
  }

  test("row-group straddling key: strict comparison refuses the boundary") {
    val p = tmp("straddle")
    // one file, many tiny row groups, ~200 rows per key: boundary keys
    // straddle row groups, so max(rg_i) == min(rg_i+1) somewhere and the
    // STRICT disjointness test must abstain (a split file could place
    // those row groups in different scan partitions)
    spark.range(0, 200000)
      .select((col("id") / 200).cast("long").as("k"), col("id").as("v"))
      .orderBy("k").coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(p)
    val df = spark.read.parquet(p)
    val file = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    // precondition: the writer actually produced multiple row groups
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        spark.sessionState.newHadoopConf()))
    val nGroups = try footer.getFooter.getBlocks.size finally footer.close()
    assume(nGroups > 1, s"writer produced $nGroups row group(s); straddle case moot")
    assert(!LayoutStats.footerProvenClustered(df, "k"),
      "a key straddling two row groups must void the footer proof")
  }

  test("groupByClustered over a footer-proven layout: exchange-free and exact") {
    SessionCache.reset()
    val df = spark.read.parquet(sortedPath)
    val fast = ClusteredAgg.groupByClustered(df, "k",
      Seq(sum("v").as("s"), count(lit(1)).as("c")))
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"proven layout still shuffles:\n$plan")
    val slow = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
    assert(fast.orderBy("k").collect().toSeq == slow.orderBy("k").collect().toSeq)
  }
}
