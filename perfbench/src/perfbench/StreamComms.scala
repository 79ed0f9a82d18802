package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.raql.{RaqlCompiler, RaqlParser}

/** stream_comms: live monitoring shaped like comms.ramen. Three consumers
  * are compiled from RaQL text over a registered streaming table:
  *  - `tumble`: grouped 1-second tumbling aggregate (window + watermark);
  *  - `sorted`: the same behind `SORT LAST 100 BY s` (SortBuffer);
  *  - `counted`: grouped count-COMMIT (CommitHarness).
  * Phase 1 (closed loop) reads `rate-micro-batch` at a fixed number of rows
  * per trigger and measures the ceiling; phase 2 (open loop) reads `rate`
  * at a fixed offered rate and measures result latency.
  *
  * Input: value v → s = v + off, lane = v mod L, t = base + v div R (the
  * logical second; R rows per trigger in phase 1, per second in phase 2),
  * created = the source's creation timestamp. So window (lane, t) holds
  * exactly R/L rows, from s = off + (t-base)·R + lane to
  * off + (t-base+1)·R − L + lane: the closed form the outputs are checked
  * against. */
object StreamComms {
  val Lanes = 16
  val CeilingRows = 64000L // rows per trigger, phase 1
  val OfferedRate = 16000L // rows per second per consumer, phase 2
  val CommitEvery = 1000L // rows per lane between count-COMMITs

  def program(table: String): String = s"""
    DEFINE tumble AS
      FROM $table
      SELECT TRUNCATE(MIN t, 1) AS wstart, lane, SUM 1 AS n,
             MIN s AS min_s, MAX s AS max_s,
             MIN created AS first_created, MAX created AS last_created
      GROUP BY lane, t // 1
      COMMIT AFTER in.t > out.wstart + 1;
    DEFINE sorted AS
      FROM $table
      SELECT TRUNCATE(MIN t, 1) AS wstart, lane, SUM 1 AS n,
             MIN s AS min_s, MAX s AS max_s,
             MIN created AS first_created, MAX created AS last_created
      SORT LAST 100 BY s
      GROUP BY lane, t // 1
      COMMIT AFTER in.t > out.wstart + 1;
    DEFINE counted AS
      FROM $table
      SELECT lane, SUM 1 AS n, MIN s AS min_s, MAX s AS max_s,
             MAX created AS last_created
      GROUP BY lane
      COMMIT AFTER SUM 1 >= $CommitEvery;"""

  val consumers = Seq("tumble", "sorted", "counted")

  /** One emitted batch: consumer, batch id, rows, sink-return epoch ms. */
  final case class Emit(consumer: String, batch: Long, rows: Array[Row], doneMs: Long)
}

final class StreamComms extends Workload {
  import StreamComms._

  private var compiled: Map[String, Map[String, DataFrame]] = Map.empty
  private var parseMs = 0.0
  private var compileMs = 0.0
  private def off(ctx: Ctx) = (ctx.seed % 1000) * Lanes * 1000
  private def base(ctx: Ctx) = 1000 + ctx.seed % 100000

  private def table(ctx: Ctx, phase: String): DataFrame = {
    val spark = ctx.spark
    val (src, r) = phase match {
      case "ceiling" => (spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", CeilingRows)
        .option("numPartitions", ctx.cpus)
        .option("startTimestamp", 1700000000000L + ctx.seed * 1000L)
        .option("advanceMillisPerBatch", 1000).load(), CeilingRows)
      case _ => (spark.readStream.format("rate")
        .option("rowsPerSecond", OfferedRate)
        .option("numPartitions", ctx.cpus).load(), OfferedRate)
    }
    src.select(
      (col("value") + off(ctx)).as("s"),
      (col("value") % Lanes).as("lane"),
      (floor(col("value") / r) + base(ctx)).cast("double").as("t"),
      (unix_micros(col("timestamp")) / 1e6).as("created"))
  }

  def setup(ctx: Ctx): Unit = {
    val c = new RaqlCompiler(ctx.spark, ctx.work)
    var p = 0.0
    var k = 0.0
    compiled = Seq("ceiling", "fixed").map { phase =>
      c.registerTable(s"tables/$phase", table(ctx, phase))
      val t0 = System.nanoTime()
      val prog = ctx.tracer.span("raql.parse", "phase" -> phase)(
        RaqlParser.parseProgram(program(s"tables/$phase")))
        .fold(e => throw new IllegalArgumentException(s"RaQL parse: $e"), identity)
      p += (System.nanoTime() - t0) / 1e6
      c.register(phase, prog)
      phase -> consumers.map { f =>
        val t1 = System.nanoTime()
        val df = ctx.tracer.span("raql.compile", "phase" -> phase, "function" -> f)(
          c.compile(s"$phase/$f"))
        k += (System.nanoTime() - t1) / 1e6
        require(df.isStreaming, s"$phase/$f did not compile to a stream")
        f -> df
      }.toMap
    }.toMap
    parseMs = p
    compileMs = k
  }

  private def runPhase(ctx: Ctx, phase: String, secs: Double,
      emits: ConcurrentLinkedQueue[Emit]): Map[String, Seq[StreamingQueryProgress]] = {
    val qs: Seq[(String, StreamingQuery)] = consumers.map { f =>
      f -> compiled(phase)(f).writeStream
        .queryName(s"${phase}_$f")
        .option("checkpointLocation", s"${ctx.work}/ckpt/${phase}_$f")
        .foreachBatch { (b: DataFrame, id: Long) =>
          val rows = b.collect()
          emits.add(Emit(f, id, rows, System.currentTimeMillis()))
          ()
        }.start()
    }
    // warm-up: every consumer completes a trigger with input first
    val warm = System.nanoTime() + 60L * 1000000000L
    def busy(q: StreamingQuery) = q.recentProgress.count(_.numInputRows > 0)
    while (qs.exists(x => busy(x._2) < 1) && System.nanoTime() < warm) Thread.sleep(20)
    val skip = qs.map { case (f, q) => f -> q.recentProgress.map(_.batchId).maxOption.getOrElse(-1L) }.toMap
    ctx.tracer.span(s"stream.$phase")(Thread.sleep((secs * 1000).toLong))
    qs.foreach(_._2.stop())
    qs.map { case (f, q) =>
      f -> q.recentProgress.toSeq.filter(p => p.batchId > skip(f) && p.numInputRows > 0)
    }.toMap
  }

  def run(ctx: Ctx): Result = {
    val ceilingEmits = new ConcurrentLinkedQueue[Emit]()
    val fixedEmits = new ConcurrentLinkedQueue[Emit]()
    val half = ctx.seconds / 2
    val ceiling = runPhase(ctx, "ceiling", half, ceilingEmits)
    val fixed = runPhase(ctx, "fixed", half, fixedEmits)
    // closed-loop ceiling: per consumer, the median per-trigger rate after
    // the warm-up triggers; summed over the consumers
    val rates = consumers.map { f =>
      val ps = ceiling(f)
      require(ps.nonEmpty, s"ceiling phase: $f completed no trigger")
      f -> Stats.median(ps.map(p =>
        p.numInputRows / (p.durationMs.get("triggerExecution").toDouble / 1000)))
    }.toMap
    // open-loop latency: creation of a window's last event → return of the
    // sink call that emitted it, tumbling consumers
    val lat = fixedEmits.asScala.toSeq.filter(_.consumer != "counted").flatMap { e =>
      e.rows.map(r => e.doneMs - r.getAs[Double]("last_created") * 1000)
    }
    val checks = check(ctx, "ceiling", ceilingEmits.asScala.toSeq, CeilingRows) ++
      check(ctx, "fixed", fixedEmits.asScala.toSeq, OfferedRate) ++
      Seq(("stream.latency_samples", lat.size >= 20, s"${lat.size} samples"))
    val triggers = (ceiling.values ++ fixed.values).map(_.size).sum
    val tail = Stats.tail(lat)
    val detail = Map(
      "stream_tuples_per_s" -> rates.values.sum,
      "stream_latency_p50_ms" -> (if (lat.isEmpty) Double.NaN else Stats.median(lat)),
      "stream_latency_tail_ms" -> tail.map(_._2).getOrElse(Double.NaN),
      "stream_latency_samples" -> lat.size.toDouble,
      "stream_fixed_rows_per_s" -> OfferedRate.toDouble * consumers.size) ++
      rates.map { case (f, v) => s"stream_tuples_per_s.$f" -> v }
    Result(triggers, 0L,
      e2e = Map("items_per_s" -> rates.values.sum,
        "op_p50_ms" -> detail("stream_latency_p50_ms")),
      layers = if (ctx.trace) layers(ctx, ceiling, fixed, fixedEmits.asScala.toSeq) else Map.empty,
      detail = detail, checks = checks, outputs = Map.empty,
      notes = Map("stream_latency_tail" -> tail.map(_._1).getOrElse("none")))
  }

  /** Closed-form checks of one phase's emitted results. */
  private def check(ctx: Ctx, phase: String, emits: Seq[Emit], r: Long): Seq[(String, Boolean, String)] = {
    val perLane = r / Lanes
    def windowErrs(f: String): (Int, Seq[String]) = {
      val rows = emits.filter(_.consumer == f).flatMap(_.rows)
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      val keys = rows.map(x => (x.getAs[Long]("lane"), x.getAs[Long]("wstart")))
      if (keys.distinct.size != keys.size) errs += "a window was emitted twice"
      rows.foreach { x =>
        val lane = x.getAs[Long]("lane")
        val k = (x.getAs[Long]("wstart") - base(ctx)).toLong
        val lo = off(ctx) + k * r + lane
        val hi = off(ctx) + (k + 1) * r - Lanes + lane
        if (x.getAs[Long]("n") != perLane || x.getAs[Long]("min_s") != lo ||
            x.getAs[Long]("max_s") != hi)
          errs += s"window lane=$lane k=$k: n=${x.getAs[Long]("n")} " +
            s"min=${x.getAs[Long]("min_s")} max=${x.getAs[Long]("max_s")}, want $perLane $lo $hi"
      }
      // every lane closes the same windows, from the first one on
      val byLane = keys.groupBy(_._1).map { case (l, ks) => l -> ks.map(_._2).sorted }
      if (byLane.size != Lanes) errs += s"${byLane.size} of $Lanes lanes emitted"
      else if (byLane.values.map(_.toSet).toSet.size != 1) errs += "lanes closed different windows"
      else {
        val ws = byLane.values.head
        if (ws.head != base(ctx) || ws.zip(ws.tail).exists { case (a, b) => b != a + 1 })
          errs += s"windows not contiguous from the first: ${ws.take(5)}"
      }
      (rows.size, errs.toSeq)
    }
    val windows = Seq("tumble", "sorted").map { f =>
      val (n, errs) = windowErrs(f)
      (s"stream.$phase.$f", errs.isEmpty && n > 0, s"$n windows" +
        (if (errs.isEmpty) "" else s"; ${errs.take(3).mkString("; ")}"))
    }
    val counted = {
      val rows = emits.filter(_.consumer == "counted").flatMap(_.rows)
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      rows.foreach { x =>
        val lane = x.getAs[Long]("lane")
        val lo = x.getAs[Long]("min_s")
        val hi = x.getAs[Long]("max_s")
        if (x.getAs[Long]("n") != CommitEvery || Math.floorMod(lo - off(ctx), Lanes.toLong) != lane ||
            Math.floorMod(hi - off(ctx), Lanes.toLong) != lane || hi - lo < (CommitEvery - 1) * Lanes)
          errs += s"commit lane=$lane n=${x.getAs[Long]("n")} min=$lo max=$hi"
      }
      val keys = rows.map(x => (x.getAs[Long]("lane"), x.getAs[Long]("min_s")))
      if (keys.distinct.size != keys.size) errs += "a commit was emitted twice"
      // closed loop: batch b holds exactly r rows, so after batches 0..B
      // every lane has committed floor((B+1)·r/L / k) times
      if (phase == "ceiling" && rows.nonEmpty) {
        val last = emits.filter(_.consumer == "counted").map(_.batch).max
        val want = (last + 1) * perLane / CommitEvery
        val got = rows.groupBy(_.getAs[Long]("lane")).map(_._2.size)
        if (got.size != Lanes || got.exists(_ != want))
          errs += s"commits per lane $got, want $want each"
      }
      (s"stream.$phase.counted", errs.isEmpty && rows.nonEmpty,
        s"${rows.size} commits" + (if (errs.isEmpty) "" else s"; ${errs.take(3).mkString("; ")}"))
    }
    windows :+ counted
  }

  private def layers(ctx: Ctx, ceiling: Map[String, Seq[StreamingQueryProgress]],
      fixed: Map[String, Seq[StreamingQueryProgress]], fixedEmits: Seq[Emit]): Map[String, Double] = {
    ctx.engine.drain(ctx.spark)
    val cps = ceiling.values.flatten.toSeq
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def med(f: StreamingQueryProgress => Double, ps: Seq[StreamingQueryProgress] = cps) =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
    def state(p: StreamingQueryProgress, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      p.stateOperators.map(f).sum
    val all = (ceiling.values ++ fixed.values).flatten.toSeq
    val perTrigger = all.map(p => ctx.engine.trigger(p.id.toString, p.batchId))
    val engineTot = perTrigger.foldLeft(Engine.zero)(_ + _)
    // spans: each trigger and its phases, in Spark's execution order
    all.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val id = ctx.tracer.record("stream.trigger", start, start + dur(p, "triggerExecution"), 0,
        "query" -> p.name, "trigger" -> p.batchId)
      var t = start
      Seq("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets").foreach { k =>
        ctx.tracer.record(s"stream.$k", t, t + dur(p, k), id, "query" -> p.name, "trigger" -> p.batchId)
        t += dur(p, k)
      }
    }
    // read lag (fixed-rate phase): trigger start minus the creation time of
    // the newest row it reads; the rate source creates second E's rows
    // before T0 + E s, T0 = creation of value 0 (first window, lane 0)
    val t0 = fixedEmits.filter(_.consumer == "tumble").flatMap(_.rows)
      .find(r => r.getAs[Long]("lane") == 0 && r.getAs[Long]("wstart") == base(ctx))
      .map(_.getAs[Double]("first_created") * 1000)
    val lag = t0.toSeq.flatMap { t0 =>
      fixed.values.flatten.map { p =>
        val e = p.sources.head.endOffset.trim.toDouble
        java.time.Instant.parse(p.timestamp).toEpochMilli - (t0 + e * 1000)
      }
    }
    Main.engineLayers(engineTot, all.size) ++ Map(
      "raql.parse_ms" -> parseMs, "raql.compile_ms" -> compileMs,
      "stream.trigger_ms" -> med(dur(_, "triggerExecution")),
      "stream.plan_ms" -> med(dur(_, "queryPlanning")),
      "stream.addbatch_ms" -> med(dur(_, "addBatch")),
      "stream.offset_ms" -> med(dur(_, "latestOffset")),
      "stream.commit_ms" -> med(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
      "stream.tasks_per_trigger" -> (if (perTrigger.isEmpty) 0.0
        else Stats.median(perTrigger.map(_.tasks.toDouble))),
      "stream.read_lag_ms" -> (if (lag.isEmpty) 0.0 else Stats.median(lag)),
      "state.rows" -> med(state(_, _.numRowsTotal.toDouble)),
      "state.memory_bytes" -> med(state(_, _.memoryUsedBytes.toDouble)),
      "state.commit_ms" -> med(state(_, _.commitTimeMs.toDouble)),
      "state.late_rows_dropped" -> all.map(state(_, _.numRowsDroppedByWatermark.toDouble)).sum)
  }
}
