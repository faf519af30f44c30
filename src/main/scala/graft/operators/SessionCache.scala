package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one process-wide cache for what the engine measures or builds once
  * per session and reuses on every later execution: gated-broadcast
  * decisions, lookup tables, Bloom sketches, layout verdicts and resolved
  * parquet relations. Each [[Kind]] has its own key, an access-ordered
  * bound and two release hooks; the policy is written once, here.
  *
  * Keys hold the SparkSession (a frame never outlives or crosses its
  * session) and the canonicalized analyzed plan (structural equality —
  * collision-proof, unlike a 32-bit hash). The exception is [[Verdicts]]:
  * a layout verdict is a property of the files, so it is shared across
  * sessions.
  *
  * The contract every kind follows (spec-gated: SessionCacheSpec,
  * BroadcastsSpec, LookupJoinSpec, RuntimeFiltersSpec):
  *
  *   - IMMUTABLE SIDES. A plan key names the side's plan, not its file
  *     contents. A side whose files are rewritten in-session keeps
  *     serving the OLD decision, table or sketch until [[reset]]. For a
  *     Bloom sketch this is a correctness hazard, not only a stale cost:
  *     keys added after the build would have their fact rows dropped.
  *     Batch-analytics sides are snapshot-immutable; a pipeline that
  *     regenerates files calls reset() after. ([[Relations]] keys on a
  *     content fingerprint and needs no reset for this.)
  *   - EVICTION UNPERSISTS, IT DOES NOT DESTROY. A full kind evicts its
  *     least recently used entry through `evict`. A query still running
  *     against the evicted value re-fetches it lazily — slower, never
  *     wrong — and Spark's ContextCleaner frees it once no plan refers to
  *     it.
  *   - RESET IS FOR QUIESCED SESSIONS. [[reset]] releases every kind
  *     through `drop`, which may destroy (lookup broadcasts): a query in
  *     flight on a destroyed value fails. It is the cold-bench hook and
  *     the invalidation hook after regenerating source files.
  *
  * Builds run outside the kind's lock; when two callers race on one key
  * the first writer wins and the loser's copy is released through `drop`
  * (it was never shared).
  */
object SessionCache {

  private val kinds =
    scala.collection.mutable.ArrayBuffer[Kind[_, _ <: AnyRef]]()

  /** One cache kind: at most `capacity` entries in access order. `evict`
    * releases an LRU victim that running plans may still reference;
    * `drop` releases an entry no plan may use again (reset, lost race).
    */
  final class Kind[K, V <: AnyRef] private[SessionCache] (val capacity: Int,
      evict: V => Unit = (_: V) => (),
      private[SessionCache] val drop: V => Unit = (_: V) => ()) {
    private[SessionCache] val entries =
      new java.util.LinkedHashMap[K, V](16, 0.75f, /* accessOrder = */ true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size > capacity && { evict(e.getValue); true }
      }
    kinds += this
  }

  /** Gated-broadcast decisions ([[Broadcasts.gatedStats]]), keyed by
    * (session, plan, gate bytes) so one plan gated at two budgets cannot
    * alias. Each entry pins a persisted side.
    */
  val Gates = new Kind[(SparkSession, LogicalPlan, Long), Broadcasts.Entry](
    64, evict = _.materialized.unpersist(false),
    drop = _.materialized.unpersist(false))

  /** Lookup tables ([[LookupJoin]]), keyed by (session, side plan,
    * `key->payloads`). Each entry pins a broadcast table and its pools.
    */
  val Lookups =
    new Kind[(SparkSession, LogicalPlan, String), LookupJoin.LookupSide](
      8, evict = _.unpersist(), drop = _.destroy())

  /** Serialized Bloom sketches ([[RuntimeFilters.keyFilter]]), keyed by
    * (session, side plan, `key@fpp`). A sketch is an embedded literal
    * with no cluster-side state, so releasing it just drops bytes.
    */
  val Sketches = new Kind[(SparkSession, LogicalPlan, String), Array[Byte]](8)

  /** Layout verdicts ([[ClusteredAgg.isKeyClustered]]), keyed by the
    * canonicalized key-column plan only: no session, so a fresh session
    * over the same files reuses the verdict.
    */
  val Verdicts = new Kind[LogicalPlan, java.lang.Boolean](128)

  /** Resolved parquet relations ([[graft.sources.Tables.relation]]),
    * keyed by (session, path, content fingerprint).
    */
  val Relations = new Kind[(SparkSession, String, Long), DataFrame](128)

  /** The cached value for `key`, built on a miss. */
  def getOrBuild[K, V <: AnyRef](kind: Kind[K, V], key: K)(build: => V): V = {
    val m = kind.entries
    val hit = m.synchronized(m.get(key))
    if (hit != null) return hit
    val fresh = build
    m.synchronized {
      val race = m.get(key)
      if (race != null) { kind.drop(fresh); race }
      else { m.put(key, fresh); fresh }
    }
  }

  /** Drop every entry of every kind (contract above: quiesced sessions
    * only). Call between benchmark iterations for cold timings.
    */
  def reset(): Unit = kinds.foreach(clear(_))

  private def clear[K, V <: AnyRef](k: Kind[K, V]): Unit =
    k.entries.synchronized {
      k.entries.values.forEach(v => k.drop(v))
      k.entries.clear()
    }

  /** Number of live entries of `kind`. */
  def count(kind: Kind[_, _ <: AnyRef]): Int =
    kind.entries.synchronized(kind.entries.size)
}
