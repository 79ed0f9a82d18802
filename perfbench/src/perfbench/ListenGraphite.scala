package perfbench

import java.net.{InetAddress, ServerSocket, Socket}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.raql.{RaqlCompiler, RaqlParser}

/** listen_graphite: the feed path. A RaQL program reads
  * `LISTEN FOR GRAPHITE … PROTO TCP` and applies a light stateless
  * function. One client (this thread, one loopback connection) sends a
  * burst of B plaintext lines, waits until every line of the burst has
  * reached the function's output, then sends the next (closed loop).
  *
  * Lines: `<metric>[;tag=v] <value> <ts>`, metric one of 64 seeded names,
  * value a seeded integer 0…9999, ts = base + sequence number, so every
  * line is identifiable at the output. */
object ListenGraphite {
  val Burst = 50
  val Metrics = 64
  val WarmupS = 4.0
}

final class ListenGraphite extends Workload {
  import ListenGraphite._

  private var fn: DataFrame = _
  private var port = 0
  private var parseMs = 0.0
  private var compileMs = 0.0
  private var names: IndexedSeq[String] = IndexedSeq.empty
  private def tsBase(ctx: Ctx): Long = 1600000000L + (ctx.seed % 100000) * 1000000L

  private def freeLoopbackPort(): Int = {
    val s = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    try s.getLocalPort finally s.close()
  }

  def setup(ctx: Ctx): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    names = (0 until Metrics).map { i =>
      val m = s"dc${rnd.nextInt(4)}.host${rnd.nextInt(100)}.${Seq("cpu", "mem", "disk", "net")(i % 4)}.m$i"
      if (i % 3 == 0) s"$m;env=prod;rack=r${rnd.nextInt(9)}" else m
    }
    port = freeLoopbackPort()
    val src = s"""DEFINE graphite AS LISTEN FOR GRAPHITE ON PORT $port PROTO TCP;
      DEFINE f AS
        FROM graphite
        SELECT metric, start, value, value * 2 AS doubled
        WHERE value >= 0;"""
    val t0 = System.nanoTime()
    val prog = ctx.tracer.span("raql.parse")(RaqlParser.parseProgram(src))
      .fold(e => throw new IllegalArgumentException(s"RaQL parse: $e"), identity)
    parseMs = (System.nanoTime() - t0) / 1e6
    val c = new RaqlCompiler(ctx.spark, ctx.work)
    c.register("listen", prog)
    val t1 = System.nanoTime()
    fn = ctx.tracer.span("raql.compile")(c.compile("listen/f"))
    compileMs = (System.nanoTime() - t1) / 1e6
    require(fn.isStreaming, "listen/f did not compile to a stream")
  }

  def run(ctx: Ctx): Result = {
    val rnd = new scala.util.Random(ctx.seed * 31 + 7)
    val lock = new Object
    var seen = 0L
    var seenAtNs = 0L
    val count = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val sum = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val starts = mutable.Map.empty[Long, Int].withDefaultValue(0)
    val badRows = mutable.ArrayBuffer.empty[String]
    var sent = 0L
    val backlog = mutable.ArrayBuffer.empty[Double]
    val q = fn.writeStream.queryName("listen_f")
      .option("checkpointLocation", s"${ctx.work}/ckpt/listen")
      .foreachBatch { (b: DataFrame, id: Long) =>
        lock.synchronized(backlog += (sent - seen).toDouble)
        val rows = b.collect()
        lock.synchronized {
          rows.foreach { r =>
            val m = r.getAs[String]("metric")
            val v = r.getAs[Double]("value")
            if (r.getAs[Double]("doubled") != 2 * v) badRows += s"$m doubled"
            count(m) += 1
            sum(m) += v.toLong
            starts(r.getAs[Double]("start").toLong) += 1
          }
          seen += rows.length
          seenAtNs = System.nanoTime()
          lock.notifyAll()
        }
        ()
      }.start()
    val sock = new Socket(InetAddress.getLoopbackAddress, port)
    sock.setTcpNoDelay(true)
    val out = sock.getOutputStream
    val tally = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    val lines = mutable.ArrayBuffer.empty[String]
    val bursts = mutable.ArrayBuffer.empty[Double]
    var lost = 0L
    var seq = 0L
    var stalled = false
    // the bursts of the first WarmupS seconds warm the path up: checked,
    // not timed (the JIT is still speeding triggers up through them)
    val warmEnd = System.nanoTime() + (WarmupS * 1e9).toLong
    var start = 0L
    var warm = false
    while (!stalled && (bursts.isEmpty || (System.nanoTime() - start) / 1e9 < ctx.seconds)) {
      val sb = new StringBuilder
      (0 until Burst).foreach { _ =>
        val metric = names(rnd.nextInt(Metrics))
        val v = rnd.nextInt(10000).toLong
        val line = s"$metric $v ${tsBase(ctx) + seq}"
        seq += 1
        val key = metric.takeWhile(_ != ';')
        val (c, s) = tally(key)
        tally(key) = (c + 1, s + v)
        if (ctx.trace) lines += line
        sb.append(line).append('\n')
      }
      val bytes = sb.toString.getBytes("UTF-8")
      val t0 = System.nanoTime()
      lock.synchronized { sent += Burst }
      ctx.tracer.span("listen.burst", "burst" -> bursts.size) {
        out.write(bytes)
        out.flush()
        lock.synchronized {
          val deadline = System.nanoTime() + 30L * 1000000000L
          while (seen < sent && System.nanoTime() < deadline) lock.wait(50)
          if (seen < sent) { stalled = true; lost = sent - seen }
          else if (warm) bursts += (seenAtNs - t0) / 1e6
          else if (System.nanoTime() >= warmEnd) { warm = true; start = System.nanoTime() }
        }
      }
    }
    q.stop()
    sock.close()
    val checks = {
      val errs = mutable.ArrayBuffer.empty[String]
      val dup = starts.count(_._2 > 1)
      if (dup > 0) errs += s"$dup lines decoded more than once"
      if (starts.size != sent) errs += s"${starts.size} distinct lines decoded, ${sent} sent"
      val wrong = tally.keys.filter(k => count(k) != tally(k)._1 || sum(k) != tally(k)._2)
      if (wrong.nonEmpty || count.keySet != tally.keySet)
        errs += s"per-metric count/sum differ for ${wrong.take(3).mkString(",")}"
      if (badRows.nonEmpty) errs += s"${badRows.size} rows with a wrong function value"
      Seq(("listen.exactly_once", errs.isEmpty, s"$sent lines in ${bursts.size} bursts" +
        (if (errs.isEmpty) "" else "; " + errs.mkString("; "))))
    }
    val p50 = if (bursts.isEmpty) Double.NaN else Stats.median(bursts.toSeq)
    // lines/s over the interquartile mean burst time: a stall or a burst
    // split over two triggers moves it by its share, not by its length
    val mid = bursts.sorted.slice(bursts.size / 4, bursts.size - bursts.size / 4)
    val detail = Map(
      "listen_lines_per_s" -> (if (mid.isEmpty) Double.NaN else Burst * 1000 / (mid.sum / mid.size)),
      "listen_burst_p50_ms" -> p50,
      "listen_bursts" -> bursts.size.toDouble) ++
      Stats.tail(bursts.toSeq).map { case (n, v) => s"listen_burst_${n}_ms" -> v }
    Result(sent, lost,
      e2e = Map("items_per_s" -> detail("listen_lines_per_s"), "op_p50_ms" -> p50),
      layers = if (ctx.trace) layers(ctx, q, lines.toSeq, backlog.toSeq) else Map.empty,
      detail = detail, checks = checks, outputs = Map.empty,
      notes = Map("listen_port" -> port.toString, "listen_burst_lines" -> Burst.toString))
  }

  private def layers(ctx: Ctx, q: org.apache.spark.sql.streaming.StreamingQuery,
      lines: Seq[String], backlog: Seq[Double]): Map[String, Double] = {
    ctx.engine.drain(ctx.spark)
    // the decoder alone, timed directly over the lines this run sent
    val reps = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      lines.foreach(l => graft.sources.Listeners.parseGraphite(l, Some("127.0.0.1"), 0.0))
      (System.nanoTime() - t0).toDouble / math.max(lines.size, 1)
    }
    val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val srcTasks = ps.map(p => ctx.engine.tasksPerStage(p.id.toString, p.batchId)
      .values.maxOption.getOrElse(0))
    val perTrigger = ps.map(p => ctx.engine.trigger(p.id.toString, p.batchId))
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      ctx.tracer.record("stream.trigger", start, start + dur(p, "triggerExecution"), 0,
        "query" -> p.name, "trigger" -> p.batchId, "lines" -> p.numInputRows)
    }
    Main.engineLayers(perTrigger.foldLeft(Engine.zero)(_ + _), ps.size) ++ Map(
      "raql.parse_ms" -> parseMs, "raql.compile_ms" -> compileMs,
      "sources.parse_ns_per_line" -> Stats.median(reps),
      "sources.lines_per_task" -> ps.map(_.numInputRows).sum.toDouble / math.max(srcTasks.sum, 1),
      "sources.backlog_lines" -> (if (backlog.isEmpty) 0.0 else Stats.median(backlog)),
      "stream.trigger_ms" -> med(dur(_, "triggerExecution")),
      "stream.plan_ms" -> med(dur(_, "queryPlanning")),
      "stream.addbatch_ms" -> med(dur(_, "addBatch")),
      "stream.offset_ms" -> med(dur(_, "latestOffset")),
      "stream.commit_ms" -> med(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
      "stream.tasks_per_trigger" -> (if (perTrigger.isEmpty) 0.0
        else Stats.median(perTrigger.map(_.tasks.toDouble))))
  }
}
