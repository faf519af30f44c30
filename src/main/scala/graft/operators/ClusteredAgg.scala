package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

/** Shuffle-free grouped aggregation over key-clustered layouts.
  *
  * Production fact tables are rarely random: ingest writes them range-
  * partitioned or bucketed by their natural key (TPC-H lineitem arrives
  * in orderkey ranges; log shards arrive by time). A `GROUP BY k` over
  * such a layout shuffles data that is ALREADY co-located — every row of
  * a key sits in one scan partition.
  *
  * `groupByClustered` exploits that without trusting it:
  *
  *  1. one verification pass measures the EXACT property the plan needs:
  *     no key value appears in two scan partitions, and no key is NULL.
  *     The check is `max(countDistinct(partition_id) per key)` — its
  *     shuffle carries one row per distinct (key, partition) pair after
  *     map-side partial aggregation, i.e. roughly what the fallback
  *     aggregate's own shuffle would carry, paid once per layout (cached);
  *  2. if verified, the aggregate runs over [[graft.plans.AssumeClustered]]
  *     — a pass-through plan node whose `ClusteredOnlyPartitioning`
  *     reports the measured co-location, so Catalyst's own codegen'd
  *     HashAggregate executes WITHOUT its exchange (partial and final
  *     collapse into one stage) while downstream joins still shuffle
  *     this side (the partitioning refuses co-partitioning contracts);
  *  3. any key straddling two partitions, or NULL keys, or an ambiguous
  *     key name, and the standard shuffle plan runs unchanged — layout
  *     quality is a performance knob, never a correctness assumption.
  *
  * Unlike a per-partition [min,max]-disjointness test, the per-key check
  * is immune to `FileSourceScan` bin-packing: small files are packed into
  * scan partitions in SIZE order, so one partition may hold several
  * disjoint key ranges — which is still a valid clustering. Only a key
  * genuinely split across partitions (a file split mid-key, or a random
  * layout) fails the check.
  *
  * This is the storage-partitioned (KeyGroupedPartitioning) idea applied
  * to plain parquet directories, with the grouping property measured at
  * runtime instead of promised by a catalog. At 100 TB the check costs
  * one columnar scan of the key plus a distinct-key shuffle; the win is
  * the fact table's entire aggregation shuffle, every query thereafter.
  */
object ClusteredAgg {

  /** Is every key of `df(keyCol)` confined to a single scan partition,
    * with no NULLs? Exact, not a range heuristic. Cached in
    * [[SessionCache.Verdicts]] by the full canonicalized key plan —
    * structural equality, so two layouts never share a verdict, and no
    * session, so a fresh session over the same files reuses it. Safe to
    * call repeatedly.
    *
    * Two tiers: [[LayoutStats.footerProvenClustered]] first — a
    * metadata-only proof from parquet row-group min/max stats, zero
    * Spark jobs, which resolves the common sorted-ingest layout in
    * milliseconds (at the 60 M-row replica the scan check below was the
    * bulk of a cold `groupByClustered` query). Layouts the footers
    * can't prove (interleaved-but-bin-packed ranges, missing stats,
    * non-parquet sources, float keys) fall through to the exact scan
    * check — the footer tier returns only "proven" or "unknown",
    * never "not clustered".
    */
  def isKeyClustered(df: DataFrame, keyCol: String): Boolean = {
    val keyed = df.select(col(keyCol).as("k"))
    SessionCache.getOrBuild(SessionCache.Verdicts,
        PlanBridge.analyzed(keyed).canonicalized)(
      java.lang.Boolean.valueOf(
        LayoutStats.footerProvenClustered(df, keyCol) || scanVerdict(keyed)))
  }

  /** The exact fallback: one pass over the key column + distinct-key
    * shuffle, measuring `max(countDistinct(partition_id) per key)`.
    */
  private def scanVerdict(keyed: DataFrame): Boolean = {
    // worst = max over keys of #partitions holding that key, with NULL
    // keys forced to 2 (= fallback). Both aggregates are codegen'd with
    // map-side partials: the wire carries distinct (k, pid) pairs.
    val row = keyed
      .select(col("k"), spark_partition_id().as("pid"))
      .groupBy("k")
      .agg(countDistinct(col("pid")).as("np"))
      .agg(max(when(col("k").isNull, lit(2L)).otherwise(col("np"))).as("worst"))
      .head()
    row.isNullAt(0) || row.getLong(0) <= 1L
  }

  /** `SELECT k, <aggs> FROM df GROUP BY k`, exchange-free when the layout
    * is verifiably clustered by `keyCol`, the ordinary shuffle aggregate
    * otherwise. Aggregation semantics are exactly `groupBy(k).agg(...)`
    * in both branches — same Catalyst aggregate, same results.
    */
  def groupByClustered(df: DataFrame, keyCol: String,
      aggs: Seq[Column]): DataFrame = {
    val analyzed = PlanBridge.analyzed(df)
    val caseSensitive =
      df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    val keyAttr = analyzed.output.filter(a =>
      if (caseSensitive) a.name == keyCol else a.name.equalsIgnoreCase(keyCol))
    // exactly one resolved key attribute, or the claim would be vacuous
    // (HashAggregate over an empty/ambiguous clustering) — fall back
    val grouped =
      if (keyAttr.size == 1 && isKeyClustered(df, keyCol))
        PlanBridge.ofRows(df.sparkSession,
          graft.plans.AssumeClustered(keyAttr, analyzed))
      else df
    grouped.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }
}
