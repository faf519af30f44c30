package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Where the time of an operation goes, for the traced run.
  *
  * Spans: the workload wraps each engine call it makes (`Q.run`, the three
  * Catalyst phases, `collect()`, `ViewMaintenance.merge` / `.view`) in
  * [[span]]; every span keeps its op id, name, parent and start/end, in
  * memory until [[write]] dumps them. A root span per operation carries
  * the op's wall time; self time = duration minus the children's.
  *
  * Spark side: this is also a `SparkListener`. The client thread tags its
  * jobs with the current op and span (job local properties, inherited by
  * the broadcast and AQE threads); a job without a tag is placed by its
  * start time inside an op's root span. Stages and tasks follow their jobs.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private val notes = mutable.Map.empty[(Int, String), Double]

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  // per stage: executor run ms, shuffle bytes written, bytes spilled to disk
  private val taskSums = new ConcurrentHashMap[Int, Array[Long]]()

  def span[T](op: Int, name: String)(body: => T): T = {
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += null
    val outer = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(SpanKey, name)
    open = id :: open
    val gc0 = if (parent < 0) gcMillis() else 0L
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    try body
    finally {
      val ns1 = System.nanoTime()
      spans(id) = Span(id, op, name, parent, ns0, ns1, ms0,
        System.currentTimeMillis())
      if (parent < 0) note(op, "gc_s", (gcMillis() - gc0) / 1e3)
      open = open.tail
      sc.setLocalProperty(SpanKey, if (open.isEmpty) null else outer)
      if (open.isEmpty) sc.setLocalProperty(OpKey, null)
    }
  }

  /** A per-op figure measured by the workload itself (e.g. state rows). */
  def note(op: Int, key: String, value: Double): Unit = notes((op, key)) = value

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.add(Job(prop(OpKey).map(_.toInt).getOrElse(-1),
      prop(SpanKey).getOrElse(""), e.time, e.stageIds))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime)
      stages.add(Stage(i.stageId, a, b))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val acc = taskSums.computeIfAbsent(e.stageId, _ => new Array[Long](3))
      acc(0) += m.executorRunTime
      acc(1) += m.shuffleWriteMetrics.bytesWritten
      acc(2) += m.diskBytesSpilled
    }
  }

  private def roots: Seq[Span] = spans.toSeq.filter(_.parent < 0)

  /** Mean per traced op of each per-layer figure (call after the loop). */
  def perLayer(): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    val rootByOp = roots.map(r => r.op -> r).toMap
    def opOf(j: Job): Int =
      if (j.op >= 0) j.op
      else roots.find(r => j.time >= r.ms0 && j.time <= r.ms1).map(_.op)
        .getOrElse(-1)
    val jobList = jobs.asScala.toSeq.map(j => j.copy(op = opOf(j)))
      .filter(j => rootByOp.contains(j.op))
    val stageOp = mutable.Map.empty[Int, Int]
    jobList.foreach(j => j.stageIds.foreach(s => stageOp.getOrElseUpdate(s, j.op)))
    val stagesByOp = stages.asScala.toSeq.filter(s => stageOp.contains(s.id))
      .groupBy(s => stageOp(s.id))
    val childSum = spans.toSeq.filter(_.parent >= 0)
      .groupBy(s => (s.op, s.name)).view.mapValues(_.map(_.seconds).sum).toMap

    val perOp = rootByOp.values.toSeq.map { r =>
      val st = stagesByOp.getOrElse(r.op, Nil)
      val sums = st.map(s => taskSums.getOrDefault(s.id, new Array[Long](3)))
      def sumOf(i: Int) = sums.map(_(i)).sum.toDouble
      def span(n: String) = childSum.getOrElse((r.op, n), 0.0)
      val js = jobList.filter(_.op == r.op)
      val busyMs = union(st.map(s => (math.max(s.submit, r.ms0),
        math.min(s.complete, r.ms1))))
      val attributed = spans.toSeq.filter(_.parent == r.id).map(_.seconds).sum
      Map(
        "queries.build_s" -> span("queries.build"),
        "queries.build_jobs" -> js.count(_.span == "queries.build").toDouble,
        "catalyst.analysis_s" -> span("catalyst.analysis"),
        "rules.optimizer_s" -> span("rules.optimizer"),
        "plans.planning_s" -> span("plans.planning"),
        "spark.execute_s" -> span("spark.execute"),
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> st.size.toDouble,
        "spark.driver_gap_s" ->
          math.max(0.0, (r.ms1 - r.ms0 - busyMs) / 1e3),
        "spark.task_busy_s" -> sumOf(0) / 1e3,
        "spark.gc_s" -> notes.getOrElse((r.op, "gc_s"), 0.0),
        "spark.shuffle_write_mb" -> sumOf(1) / MB,
        "spark.spill_mb" -> sumOf(2) / MB,
        "streaming.merge_s" -> span("streaming.merge"),
        "streaming.merge_jobs" ->
          js.count(_.span == "streaming.merge").toDouble,
        "streaming.read_s" -> span("streaming.read"),
        "streaming.state_rows" ->
          notes.getOrElse((r.op, "streaming.state_rows"), 0.0),
        "trace.op_wall_s" -> r.seconds,
        "trace.unattributed_s" -> (r.seconds - attributed),
        "trace.attributed_share" -> attributed / r.seconds)
    }
    if (perOp.isEmpty) Map.empty
    else perOp.head.keys.map(k => k -> perOp.map(_(k)).sum / perOp.size).toMap
  }

  /** Every span, one JSON object a line, with its self time. */
  def write(path: String): Unit = {
    val children = spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)
    val lines = spans.toSeq.map { s =>
      val self = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
      f"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${s.ms0},"end_ms":${s.ms1},"dur_s":${s.seconds}%.6f,""" +
        f""""self_s":$self%.6f}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  private val OpKey = "perfbench.op"
  private val SpanKey = "perfbench.span"
  private val MB = 1024.0 * 1024.0

  final case class Span(id: Int, op: Int, name: String, parent: Int,
      ns0: Long, ns1: Long, ms0: Long, ms1: Long) {
    def seconds: Double = (ns1 - ns0) / 1e9
  }
  final case class Job(op: Int, span: String, time: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submit: Long, complete: Long)

  /** Total length of the union of [a, b) intervals (ms). */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
