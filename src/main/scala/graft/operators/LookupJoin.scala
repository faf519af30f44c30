package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{LongLookupTable, LongMapLookup, StringPoolLookup}

/** Map-side LOOKUP JOIN for unique-long-key dimension sides carrying
  * one or more long payload attributes — the star-schema "attach k
  * attributes from a dim" join, done as a broadcast VARIABLE plus
  * codegen'd probe expressions instead of a BroadcastHashJoin. The
  * payloads live slot-major in ONE table (one broadcast, one build),
  * so a multi-attribute dimension no longer needs per-query packing
  * tricks to qualify.
  *
  * Why it exists (measured, 1000× replica, ProfileQ5Parts2): a
  * broadcast hash join REBUILDS its relation on the driver for every
  * execution — collect the side, build the UnsafeRow hash relation
  * single-threaded, re-broadcast — which for q5's 4.5 M-row reduced
  * (orders ⋈ customer) side is 2.12 s of q5's 5.08 s warm time, paid
  * per run while DuckDB rebuilds its table in parallel in a fraction of
  * that. This operator builds a compact open-addressing long→long table
  * ONCE per (session, side plan), broadcasts it once, and probes it
  * with [[LongMapLookup]] inside whole-stage codegen — warm executions
  * pay only the probes. That is also the standing-pipeline posture the
  * bench's warm/cold split already reports: the COLD pass resets this
  * cache (Bench does) and honestly re-pays the build.
  *
  * Semantics: exactly the inner equi-join `fact ⋈ side ON factKey =
  * sideKey` projecting `side.payload` — REQUIRING the side's keys
  * unique (a dimension; duplicates throw loudly rather than silently
  * picking one). NULL side keys cannot match and are skipped; NULL fact
  * keys produce NULL lookups and are dropped by the inner filter; NULL
  * payloads are rejected at build (a NULL-payload dimension row is
  * indistinguishable from a miss in the lookup encoding).
  *
  * Scale posture: the table is ~2.3× key bytes (load factor 0.7) — a
  * 4.5 M-key side is ~100 MB pinned once per executor, the same budget
  * class [[Broadcasts]] gates on; callers gate with
  * [[Broadcasts.gatedStats]] and fall back to the shuffle join (plus
  * [[RuntimeFilters.shuffleGuard]]) past the pin budget, so nothing
  * unboundedly-growing is ever collected to the driver.
  *
  * Tables are cached in [[SessionCache.Lookups]] (bound 8): eviction
  * unpersists a table's executor copies, reset destroys them — the
  * lifetime contract is [[SessionCache]]'s.
  */
object LookupJoin {

  /** Hard cap on collected side keys (~1.5 GB table) — above it the
    * caller's gate should have refused long before.
    */
  val MaxKeys: Long = 64L << 20

  /** A built lookup side: the key→payload table plus, per payload
    * field, the broadcast string pool that decodes it — null for
    * integral fields, which ride the table raw. String attributes are
    * dictionary-encoded at build (long code in the table, one shared
    * pool per field), so the hot probe stays scalar-long codegen and
    * the strings move once per executor, not per row.
    */
  final case class LookupSide(table: Broadcast[LongLookupTable],
      pools: Array[Broadcast[Array[UTF8String]]]) {
    private[operators] def destroy(): Unit = {
      table.destroy()
      pools.foreach(p => if (p != null) p.destroy())
    }
    private[operators] def unpersist(): Unit = {
      table.unpersist(/* blocking = */ false)
      pools.foreach(p => if (p != null) p.unpersist(/* blocking = */ false))
    }
  }

  /** `fact` inner-lookup-joined against `side`: the result is `fact`
    * plus `as` = the side payload for the matching unique `sideKey`,
    * rows without a match dropped — exactly
    * `fact.join(side, factKey === sideKey)` with the payload projected.
    * The key must be integral. Integral payloads come back as long
    * (re-cast downstream if needed); STRING payloads are
    * dictionary-encoded at build and come back as string (the table
    * carries the long code, a broadcast pool decodes on attach).
    */
  def inner(fact: DataFrame, factKey: Column, side: DataFrame,
      sideKey: String, payload: String, as: String): DataFrame =
    inner(fact, factKey, side, sideKey, Seq(payload -> as))

  /** Multi-attribute form: attach every `(payload → as)` column from
    * the matching unique `sideKey` row — ONE table (payloads slot-major
    * per key), one broadcast, k codegen'd probes per row. Payloads must
    * be integral or string, and non-NULL; the inner filter keys on the
    * first attached column (the probes agree — one find() result per
    * key).
    */
  def inner(fact: DataFrame, factKey: Column, side: DataFrame,
      sideKey: String, payloads: Seq[(String, String)]): DataFrame = {
    require(payloads.nonEmpty, "lookup join needs at least one payload")
    val bc = tableFor(side, sideKey, payloads.map(_._1))
    val keyExpr = PlanBridge.expression(factKey.cast(LongType))
    val attached = payloads.zipWithIndex.foldLeft(fact) {
      case (df, ((_, as), j)) =>
        val probe = LongMapLookup(keyExpr, bc.table, j)
        val e = if (bc.pools(j) != null) StringPoolLookup(probe, bc.pools(j))
          else probe
        df.withColumn(as, PlanBridge.column(e))
    }
    attached.filter(col(payloads.head._2).isNotNull)
  }

  /** Existence-only probe over the SAME cached multi-payload table:
    * keep the fact rows whose key is present (one field-0 probe per
    * row, no columns attached) — the left-semi twin a caller uses on
    * the hot path when the payloads are functionally dependent on the
    * key and attach AFTER a reducing aggregate/top-k, so the one table
    * serves both the 600M-row filter and the 10-row attachment. A
    * string field 0 probes by its dictionary code — no decode on the
    * hot path.
    */
  def semi(fact: DataFrame, factKey: Column, side: DataFrame,
      sideKey: String, payloads: Seq[String]): DataFrame = {
    require(payloads.nonEmpty, "lookup join needs at least one payload")
    val bc = tableFor(side, sideKey, payloads)
    fact.filter(PlanBridge.column(LongMapLookup(
      PlanBridge.expression(factKey.cast(LongType)), bc.table, 0)).isNotNull)
  }

  private[graft] def tableFor(side: DataFrame, sideKey: String,
      payloads: Seq[String]): LookupSide = {
    val key = (side.sparkSession, PlanBridge.analyzed(side).canonicalized,
      s"$sideKey->${payloads.mkString(",")}")
    // built outside the lock — one collect over the (typically already
    // materialized) side, once per session
    SessionCache.getOrBuild(SessionCache.Lookups, key)(
      build(side, sideKey, payloads))
  }

  private def build(side: DataFrame, sideKey: String,
      payloads: Seq[String]): LookupSide = {
    val arity = payloads.size
    // string payloads collect raw and dictionary-encode driver-side;
    // everything else keeps the cast-to-long contract
    val isStr = side.select(payloads.map(col): _*).schema.fields
      .map(_.dataType == StringType)
    val sel = col(sideKey).cast(LongType) +: payloads.zipWithIndex.map {
      case (p, j) => if (isStr(j)) col(p) else col(p).cast(LongType)
    }
    val rows = side.select(sel: _*).collect()
    require(rows.length <= MaxKeys,
      s"lookup side has ${rows.length} keys — past the $MaxKeys budget, " +
        "gate the side and take the shuffle join instead")
    val dicts = Array.tabulate(arity)(j =>
      if (isStr(j)) new java.util.HashMap[String, Long]() else null)
    val poolBufs = Array.tabulate(arity)(j =>
      if (isStr(j)) new scala.collection.mutable.ArrayBuffer[String]() else null)
    val pairs = rows.iterator.filter(!_.isNullAt(0)).map { r =>
      val vs = new Array[Long](arity)
      var j = 0
      while (j < arity) {
        if (r.isNullAt(j + 1)) throw new graft.GraftInvalidOperation(
          s"lookup join payload '${payloads(j)}' is NULL for key " +
            s"${r.getLong(0)} — a NULL payload is indistinguishable " +
            "from a miss; join instead")
        vs(j) = if (isStr(j)) {
          val s = r.getString(j + 1)
          var code = dicts(j).getOrDefault(s, -1L)
          if (code < 0) {
            code = poolBufs(j).length.toLong
            dicts(j).put(s, code)
            poolBufs(j) += s
          }
          code
        } else r.getLong(j + 1)
        j += 1
      }
      (r.getLong(0), vs)
    }
    val table = LongLookupTable.buildMulti(pairs, rows.length, arity)
    val sc = side.sparkSession.sparkContext
    val pools = Array.tabulate[Broadcast[Array[UTF8String]]](arity) { j =>
      if (isStr(j)) sc.broadcast(poolBufs(j).map(UTF8String.fromString).toArray)
      else null
    }
    LookupSide(sc.broadcast(table), pools)
  }
}
