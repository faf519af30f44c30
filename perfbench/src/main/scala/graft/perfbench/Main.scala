package graft.perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM, driven by `run.py`:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *        --data DIR --expected FILE --inputs FILE --work DIR [--trace-out FILE]
  *   Main --dump-oracle FILE
  *
  * Starts a `local[C]` session, warms the workload up, then runs its
  * operations in a closed loop with one client thread for about S seconds
  * (whole rounds only), checks every result against the DuckDB digests in
  * FILE and prints one `PERFBENCH_RESULT {json}` line. With `--trace 1`
  * the rounds alternate between untraced and traced; the traced ones give
  * the per-layer figures and the difference gives the tracing overhead.
  */
object Main {
  private val MB = 1024.0 * 1024.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("dump-oracle") match {
      case Some(out) => dumpOracle(out)
      case None => run(a)
    }
  }

  /** each query workload's oracle SQL, `{workload: {query: sql}}` */
  private def dumpOracle(out: String): Unit = {
    val registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    def str(s: String) = "\"" + jsonEscape(s) + "\""
    val body = Workloads.queries.map { case (w, names) =>
      str(w) + ":" + names.map { n =>
        str(n) + ":" + str(registry(n).oracle
          .getOrElse(sys.error(s"$n has no oracle SQL")))
      }.mkString("{", ",\n", "}")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      body.mkString("{", ",\n", "}\n").getBytes("UTF-8"))
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def json(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear interpolation between closest ranks (numpy's default) */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }

  /** one operation of the loop that returned the oracle's result */
  private final case class Sample(op: String, seconds: Double, round: Int,
      traced: Boolean, inputRows: Long)

  /** Storage memory the blocks still referenced hold: collect garbage and
    * give Spark's cleaner time to drop the rest, until the figure holds
    * still (a cleaned block can release the last reference to another).
    */
  private def heldStorageMb(sc: org.apache.spark.SparkContext): Double = {
    def used = {
      System.gc()
      Thread.sleep(300)
      sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    }
    var (before, held, polls) = (-1L, used, 0)
    while (held != before && polls < 10) {
      before = held
      held = used
      polls += 1
    }
    held / MB
  }

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traceOn = a.getOrElse("trace", "0") == "1"
    val cores = a("cores")
    val work = a("work")
    val spark = graft.GraftSession.tune(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.ui.enabled", "false"))
      // the engine's own bench posture (graft.Bench), with every file it
      // writes kept under the run's work directory
      .config("spark.locality.wait", "0ms")
      .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "67108864")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    // JVM launch to a ready session
    val startS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1e3

    val expected = Oracle.load(a("expected"))
    val inputRows = Oracle.loadCounts(a("inputs"))
    val wl = Workloads(workload, spark, a("data"), inputRows, a("seed").toLong)
    val w0 = System.nanoTime()
    wl.jitPass()
    (1 to wl.settleRounds).foreach(_ =>
      wl.nextRound().foreach(op => Workloads.quietly(op.run(Spans.off))))
    val warmS = (System.nanoTime() - w0) / 1e9
    val storageMb = heldStorageMb(sc)

    val trace = if (traceOn) Some(new Trace(sc)) else None
    val samples = mutable.ArrayBuffer.empty[Sample]
    val roundSeconds = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed, opId = 0
    // the traced run alternates untraced and traced rounds, U T T U U T ...
    val minRounds = if (traceOn) 2 else 1
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    while (roundSeconds.size < minRounds ||
        elapsed + roundSeconds.last <= seconds) {
      val round = roundSeconds.size
      val tr = trace.filter(_ => round % 4 == 1 || round % 4 == 2)
      tr.foreach(sc.addSparkListener)
      val r0 = System.nanoTime()
      wl.nextRound().foreach { op =>
        opId += 1
        val id = opId
        val spans = tr.map(t => new Spans {
          def apply[T](name: String)(body: => T): T = t.span(id, name)(body)
          def traced = true
        }).getOrElse(Spans.off)
        val t0 = System.nanoTime()
        val res = Try(tr.map(_.span(id, "op")(op.run(spans)))
          .getOrElse(op.run(spans)))
        val dt = (System.nanoTime() - t0) / 1e9
        attempted += 1
        res match {
          case Success(o) =>
            val got = Oracle.digest(o.columns, o.rows)
            expected.get(op.name) match {
              case Some(want) if want == got =>
                samples += Sample(op.name, dt, round, tr.isDefined, o.inputRows)
              case want =>
                failed += 1
                errors += s"${op.name}: OracleMismatch: got $got, expected " +
                  want.getOrElse("no oracle result")
            }
          case Failure(t) =>
            failed += 1
            errors += s"${op.name}: ${t.getClass.getName}: ${t.getMessage}"
        }
        tr.foreach(t => wl.afterOp((k, v) => t.note(id, k, v)))
      }
      roundSeconds += (System.nanoTime() - r0) / 1e9
      tr.foreach { t =>
        org.apache.spark.perfbench.ListenerDrain(sc)
        sc.removeSparkListener(t)
      }
    }
    val loopS = elapsed

    val cacheMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
    errors.take(20).foreach(e => println(s"[perfbench] failed: $e"))
    println("[perfbench] ops " + samples.map(s =>
      f"${s.op}:${s.seconds}%.4f${if (s.traced) "T" else ""}").mkString(" "))

    // latency over every untraced op; throughput and ingest from the
    // median round, so the rounds that pay a GC or a late JIT move neither
    val plain = samples.toSeq.filterNot(_.traced)
    val lat = plain.map(_.seconds)
    val rounds = plain.groupBy(_.round).toSeq.map { case (r, ss) =>
      (ss.size / roundSeconds(r), ss.map(_.inputRows).sum / roundSeconds(r))
    }
    val metrics: Seq[(String, Double)] = trace match {
      case None =>
        Seq(
          "latency_p50_s" -> (if (lat.isEmpty) 0.0 else quantile(lat, 0.5)),
          "latency_p90_s" -> (if (lat.isEmpty) 0.0 else quantile(lat, 0.9)),
          "throughput_ops_s" -> (if (rounds.isEmpty) 0.0 else median(rounds.map(_._1))),
          "ingest_rows_s" -> (if (rounds.isEmpty) 0.0 else median(rounds.map(_._2))),
          "storage_mb" -> storageMb)
      case Some(t) =>
        t.write(a("trace-out"))
        // rounds hold the same ops traced or not (U T T U ...)
        val traced = samples.toSeq.filter(_.traced).map(_.seconds)
        val overhead = if (traced.isEmpty || lat.isEmpty) 0.0
          else (traced.sum / traced.size / (lat.sum / lat.size) - 1) * 100
        (t.perLayer() ++ Map("cache.storage_mb" -> cacheMb,
          "trace.overhead_pct" -> overhead)).toSeq.sortBy(_._1)
    }
    val result =
      s"""{"attempted":$attempted,"failed":$failed,"rounds":${roundSeconds.size},""" +
      s""""loop_s":$loopS,"start_s":$startS,"warm_s":$warmS,""" +
      s""""metrics":${json(metrics)}}"""
    spark.stop()
    println("PERFBENCH_RESULT " + result)
  }
}
