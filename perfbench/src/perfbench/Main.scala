package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload run reports back to `run.py`.
  *  - `e2e`: the end-to-end metrics, one value each (the untraced run's);
  *  - `layers`: per-layer metrics (filled in the traced run);
  *  - `detail`: the workload's own named figures (replay_s, stream_… …);
  *  - `checks`: output checks made here, from the generator's closed form
  *    or the client's own tally (name, passed, note);
  *  - `outputs`: files `run.py` checks itself against DuckDB. */
final case class Result(
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    layers: Map[String, Double],
    detail: Map[String, Double],
    checks: Seq[(String, Boolean, String)],
    outputs: Map[String, String],
    notes: Map[String, String] = Map.empty)

/** A benchmark workload: `setup` is repeated (the median is `setup_s`),
  * `run` measures for `seconds` and checks what the program produced. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def run(ctx: Ctx): Result
}

/** Run context: arguments, the current session and the trace recorders. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: String, val sfDir: String, val cpus: Int) {
  val tracer = new Tracer(trace)
  val engine = new Engine
  private var session: SparkSession = _
  def spark: SparkSession = session

  /** Stop the current session (if any) and start a fresh one. */
  def newSession(): SparkSession = {
    if (session != null) {
      session.streams.active.foreach(_.stop())
      session.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val s = graft.GraftSession.builder(cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (trace) engine.attach(s)
    session = s
    s
  }

  def stop(): Unit = if (session != null) {
    session.streams.active.foreach(_.stop())
    session.stop()
  }
}

object Main {
  val perLayer: Seq[String] = Seq(
    "raql.parse_ms", "raql.compile_ms",
    "query.build_ms") ++ Replay.queryNames.map(n => s"query.${n}_s") ++ Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_ms",
    "spark.task_cpu_ms", "spark.gc_ms", "spark.uncovered_ms",
    "plan.exchanges", "plan.smj", "plan.bhj",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records",
    "spill.disk_bytes",
    "stream.trigger_ms", "stream.plan_ms", "stream.addbatch_ms",
    "stream.offset_ms", "stream.commit_ms", "stream.tasks_per_trigger",
    "stream.read_lag_ms",
    "state.rows", "state.memory_bytes", "state.commit_ms",
    "state.late_rows_dropped",
    "sources.parse_ns_per_line", "sources.lines_per_task",
    "sources.backlog_lines",
    "ledger.exact_step_ms", "ledger.minhash_step_ms",
    "ledger.late_over_early", "ledger.early_p50_ms", "ledger.late_p50_ms",
    "ledger.disk_bytes", "ledger.files", "ledger.write_bytes_per_trigger",
    "ledger.spark_jobs", "ledger.spark_uncovered_ms", "ledger.spark_task_run_ms",
    "jvm.gc_ms", "jvm.heap_peak_mb")

  /** Engine totals per timed operation, under the per-layer names. */
  def engineLayers(t: Engine.Totals, ops: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    Map(
      "spark.jobs" -> t.jobs / n, "spark.stages" -> t.stages / n,
      "spark.tasks" -> t.tasks / n, "spark.task_run_ms" -> t.taskRunMs / n,
      "spark.task_cpu_ms" -> t.taskCpuMs / n, "spark.gc_ms" -> t.gcMs / n,
      "spark.uncovered_ms" -> t.uncoveredMs / n,
      "plan.exchanges" -> t.exchanges / n, "plan.smj" -> t.smj / n,
      "plan.bhj" -> t.bhj / n,
      "shuffle.write_bytes" -> t.shWrite / n, "shuffle.read_bytes" -> t.shRead / n,
      "shuffle.records" -> t.shRecords / n, "spill.disk_bytes" -> t.spill / n)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, sfDir, cpusS) = args
    val ctx = new Ctx(workload, seedS.toLong, secondsS.toDouble, traceS == "1",
      work, sfDir, cpusS.toInt)
    val w: Workload = workload match {
      case "replay_sf01" => new Replay
      case "stream_comms" => new StreamComms
      case "listen_graphite" => new ListenGraphite
      case "oracle_sql" => Replay.dumpOracleSql(work); sys.exit(0)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val load0 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val gc0 = Jvm.gcMs
    // set-up, repeated: each repetition starts a fresh session and redoes
    // the workload's own preparation; the last one is kept for the run
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      ctx.tracer.span("setup", "workload" -> workload, "rep" -> i) {
        ctx.newSession()
        w.setup(ctx)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val r = ctx.tracer.span("run", "workload" -> workload)(w.run(ctx))
    val jvmGc = Jvm.gcMs - gc0
    val heapPeak = Jvm.heapPeakMb
    val e2e = r.e2e ++ Map("setup_s" -> Stats.median(setups))
    val layers = perLayer.map(n => n -> r.layers.getOrElse(n, 0.0)).toMap ++
      Map("jvm.gc_ms" -> jvmGc, "jvm.heap_peak_mb" -> heapPeak)
    val env = Map(
      "cpus" -> ctx.cpus.toString, "heap_max_mb" -> f"${Jvm.heapMaxMb}%.0f",
      "spark_version" -> ctx.spark.version, "load_avg_start" -> f"$load0%.2f",
      "setup_reps_s" -> setups.map(s => f"$s%.4f").mkString(","))
    def numObj(m: Map[String, Double]) =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    def strObj(m: Map[String, String]) =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })
    val checks = Json.arr(r.checks.map { case (n, ok, note) =>
      Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "note" -> Json.str(note)))
    })
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload), "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString, "e2e" -> numObj(e2e),
      "layers" -> numObj(layers), "detail" -> numObj(r.detail),
      "checks" -> checks, "outputs" -> strObj(r.outputs),
      "env" -> strObj(env ++ r.notes)))
    if (ctx.trace) {
      val f = java.nio.file.Paths.get(work, "trace.json")
      java.nio.file.Files.write(f, ctx.tracer.json(s""""layers":${numObj(layers)}""")
        .getBytes("UTF-8"))
    }
    try ctx.stop()
    finally {
      println("PERFBENCH_RESULT " + json)
      System.out.flush()
    }
    sys.exit(0)
  }
}
