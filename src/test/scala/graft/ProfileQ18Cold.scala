package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.sources.Tables

/** Cold-path stage timing for q18's TopKJoin plan at a replica dir
  * (Test/runMain): aggregate materialization, top-k, and the k-row
  * probe — the refill design's whole cold path (the verified variant
  * additionally paid a 2.2 s PK scan + 2.7 s FK anti-join here).
  */
object ProfileQ18Cold {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/sfx100"
    val spark = Bench.session(dir)
    def t[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[q18cold] $name%-30s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    graft.operators.SessionCache.reset()

    val l = Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
    val bigRaw = graft.operators.ClusteredAgg.groupByClustered(l, "l_orderkey",
      Seq(sum(col("l_quantity").cast(LongType)).as("total_qty")))
      .filter(col("total_qty") > 150)
    // clustered verdict fires lazily inside groupByClustered's first action;
    // time it separately
    t("clustered_verdict") {
      graft.operators.ClusteredAgg.isKeyClustered(l, "l_orderkey")
    }
    val factM = t("agg_materialize(gated 0B)") {
      val f = graft.operators.Broadcasts.gated(bigRaw, maxBytes = 0L)
      f.count()
      f
    }
    val o = Tables.load(spark, dir, "orders")
    val top = t("topk(persisted fact)") {
      val tk = factM.orderBy(desc_nulls_last("total_qty"), asc_nulls_first("l_orderkey")).limit(100)
      tk.count()
      tk
    }
    t("probe(orders join 100 rows)") {
      o.join(broadcast(top), o("o_orderkey") === top("l_orderkey")).count()
    }
    t("cold_full_query") {
      graft.operators.SessionCache.reset()
      SparkEntry.queries("q18_big_orders")(spark, dir).count()
    }
    (1 to 3).foreach { i =>
      t(s"warm_full_query_$i") {
        SparkEntry.queries("q18_big_orders")(spark, dir).count()
      }
    }
    spark.stop()
  }
}
