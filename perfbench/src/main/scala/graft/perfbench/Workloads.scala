package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.IncrementalAgg.AggSpec
import graft.queries.Q
import graft.streaming.ViewMaintenance

/** What one operation hands back: its output rows and their column names
  * (for the oracle check), and the input rows it consumed.
  */
final case class Outcome(columns: Seq[String], rows: Array[Row], inputRows: Long)

/** One closed-loop operation; `name` keys its oracle result. `span` wraps
  * each engine call the op makes: a pass-through in the untraced run,
  * recorded in the traced one.
  */
final case class Op(name: String, run: Spans => Outcome)

trait Spans {
  def apply[T](name: String)(body: => T): T
  def traced: Boolean
}

object Spans {
  val off: Spans = new Spans {
    def apply[T](name: String)(body: => T): T = body
    def traced = false
  }
}

/** A workload: a JIT pass on a thrown-away session, then rounds of
  * operations on the measured one. The harness runs the first
  * `settleRounds` rounds unmeasured (they fill the measured session's
  * caches and let the JIT settle) and times the rounds after them.
  */
trait Workload {
  def jitPass(): Unit
  def settleRounds: Int = 1
  def nextRound(): Seq[Op]
  /** a per-op figure only the traced run records, after the op's span */
  def afterOp(record: (String, Double) => Unit): Unit = ()
}

object Workloads {
  private val tpch = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier", "q6_revenue_delta", "q7_volume_shipping",
    "q10_returned_items", "q18_big_orders", "q19_disjunctive")

  /** the query workloads and the registry queries each one runs */
  val queries: Map[String, Seq[String]] = Map(
    "tpch-warm" -> tpch,
    "tpch-cold" -> tpch,
    "llm-kernels" -> Seq("fp1_digest_stretch", "dd2_minhash_lsh",
      "ss1b_cosine_topk_indexed", "tx14_quality_classifier"))

  /** the tables each query scans — its input rows per operation */
  private val reads: Map[String, Seq[String]] = Map(
    "q1_pricing_summary" -> Seq("lineitem"),
    "q3_shipping_priority" -> Seq("customer", "orders", "lineitem"),
    "q5_local_supplier" -> Seq("region", "nation", "customer", "orders",
      "supplier", "lineitem"),
    "q6_revenue_delta" -> Seq("lineitem"),
    "q7_volume_shipping" -> Seq("supplier", "lineitem", "orders", "customer",
      "nation"),
    "q10_returned_items" -> Seq("customer", "orders", "lineitem", "nation"),
    "q18_big_orders" -> Seq("orders", "lineitem"),
    "q19_disjunctive" -> Seq("lineitem", "part"),
    "fp1_digest_stretch" -> Seq("lineitem"),
    "dd2_minhash_lsh" -> Seq("documents"),
    "ss1b_cosine_topk_indexed" -> Seq("embeddings"),
    "tx14_quality_classifier" -> Seq("documents"))

  /** Warm-up runs ops unchecked: a failing op fails again, and is
    * counted, in the measured loop. */
  def quietly(body: => Any): Unit =
    try body
    catch { case e: Exception => println(s"[perfbench] warm-up: $e") }

  def apply(workload: String, spark: SparkSession, dir: String,
      inputRows: Map[String, Long], seed: Long): Workload = {
    val registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val rng = new scala.util.Random(seed)
    def queryOp(q: Q, session: => SparkSession): Op = Op(q.name, span => {
      val df = span("queries.build")(q.run(session, dir))
      if (span.traced) {
        val qe = df.queryExecution
        span("catalyst.analysis")(qe.analyzed)
        span("rules.optimizer")(qe.optimizedPlan)
        span("plans.planning")(qe.executedPlan)
      }
      val rows = span("spark.execute")(df.collect())
      Outcome(df.columns.toSeq, rows, reads(q.name).map(inputRows).sum)
    })
    // the queries side by side, on a session thrown away after it: the pass
    // exists to load, generate and compile code, not to time
    def parallelPass(qs: Seq[Q]): Unit = {
      val s = spark.newSession()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        spark.sparkContext.defaultParallelism)
      try qs.map(q => pool.submit(new Runnable {
          def run(): Unit = Workloads.quietly(queryOp(q, s).run(Spans.off))
        })).foreach(_.get())
      finally pool.shutdown()
    }

    workload match {
      case "tpch-warm" | "llm-kernels" =>
        val qs = queries(workload).map(registry)
        new Workload {
          private lazy val session = spark.newSession()
          def jitPass(): Unit = parallelPass(qs)
          def nextRound(): Seq[Op] = rng.shuffle(qs).map(q => queryOp(q, session))
        }
      case "tpch-cold" =>
        val qs = queries(workload).map(registry)
        new Workload {
          def jitPass(): Unit = parallelPass(qs)
          // measured: after one settle round the next rounds still took
          // 4.6, 4.2, 3.8 and 3.6 s; after three they hold within noise
          override def settleRounds = 3
          def nextRound(): Seq[Op] = {
            lazy val fresh = spark.newSession()
            rng.shuffle(qs).map(q => queryOp(q, fresh))
          }
        }
      case "ivm-stream" => new Stream(spark, dir, inputRows)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

/** `ivm-stream`: the lineitem feed folded one micro-batch per trigger into
  * `sum/count/max(price) GROUP BY o_orderpriority` over orders, with a
  * dimension changelog before every fifth trigger; each trigger collects the
  * view. A round is five triggers, the last with a changelog; trigger 0
  * builds the view, and after the last batch the next trigger builds a new
  * one from batch 0.
  */
final class Stream(spark: SparkSession, dir: String,
    inputRows: Map[String, Long]) extends Workload {
  private def deltaFile(k: Int) = new java.io.File(s"$dir/stream/delta_$k.parquet")
  // the feed's length, and a round that ends on the first changelog
  private val batches = inputRows.keys.count(_.startsWith("batch_"))
  private val perRound = (0 until batches).find(deltaFile(_).exists).get + 1
  private var next = 0
  private var vm: ViewMaintenance = _
  private var session: SparkSession = _

  private def fresh(s: SparkSession): ViewMaintenance =
    new ViewMaintenance(s, s.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_orderpriority"),
      Seq("o_orderkey"), Seq("o_orderpriority"),
      Seq(AggSpec("price_c", "sum", "rev_c"), AggSpec("price_c", "count", "n"),
        AggSpec("price_c", "max", "max_c")))

  private def trigger(k: Int): Op = Op(s"trigger_$k",
    span => trigger(k, Some(deltaFile(k)).filter(_.exists), span))

  private def trigger(k: Int, delta: Option[java.io.File],
      span: Spans): Outcome = {
    span("streaming.merge") {
      if (k == 0) vm = fresh(session)
      delta.foreach(d => vm.applyDimDelta(session.read.parquet(d.getPath)))
      vm.merge(session.read.parquet(s"$dir/stream/batch_$k.parquet"))
    }
    val view: DataFrame = vm.view.get
    val rows = span("streaming.read")(view.collect())
    Outcome(view.columns.toSeq, rows, inputRows(s"batch_$k"))
  }

  def jitPass(): Unit = {
    // a view build, then a fold after a changelog
    session = spark.newSession()
    Seq(0 -> None, 1 -> Some(deltaFile(perRound - 1))).foreach { case (k, d) =>
      Workloads.quietly(trigger(k, d, Spans.off))
    }
    session = spark.newSession()
  }

  def nextRound(): Seq[Op] = (0 until perRound).map { _ =>
    val k = next
    next = (next + 1) % batches
    trigger(k)
  }

  override def afterOp(record: (String, Double) => Unit): Unit =
    record("streaming.state_rows",
      (vm.keyAgg.get.count() + vm.view.get.count()).toDouble)
}
