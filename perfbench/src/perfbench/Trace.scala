package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer. Times are wall-clock epoch ms
  * (the clock Spark's listener events use), so engine events can be placed
  * inside the benchmark's own spans. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double, tags: Map[String, String])

/** In-memory span recorder. Disabled (the untraced run), `span` only runs
  * its body. The parent of a span is the innermost open span of the same
  * thread. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def span[T](name: String, tags: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0)
      open.set(id :: stack)
      val t0 = System.currentTimeMillis().toDouble
      try body
      finally {
        open.set(stack)
        spans.add(Span(id, parent, name, t0, System.currentTimeMillis().toDouble,
          tags.map { case (k, v) => k -> String.valueOf(v) }.toMap))
      }
    }

  /** Record a span whose interval was measured elsewhere (a trigger phase
    * read off StreamingQueryProgress, a Spark job from the listener). */
  def record(name: String, startMs: Double, endMs: Double, parent: Int,
      tags: (String, Any)*): Int =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, startMs, endMs,
        tags.map { case (k, v) => k -> String.valueOf(v) }.toMap))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))

  /** Self time per span name: a span's duration minus the part of its
    * interval its children cover, summed over the spans of that name. */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (n, xs) =>
      val total = xs.map(s => s.endMs - s.startMs).sum
      val self = xs.map { s =>
        val cov = Engine.unionLength(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        (s.endMs - s.startMs) - cov
      }.sum
      n -> (xs.size, total, self)
    }
  }

  def json(extra: String): String = {
    val sb = new StringBuilder("{\"spans\":[")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""")
      sb.append(s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},"tags":""")
      sb.append(Json.obj(s.tags.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
      sb.append('}')
    }
    sb.append("],\"self_ms\":")
    sb.append(Json.obj(selfTimes.toSeq.sortBy(_._1).map { case (n, (c, t, s)) =>
      n -> s"""{"count":$c,"total_ms":${Json.num(t)},"self_ms":${Json.num(s)}}"""
    }))
    sb.append(",").append(extra).append('}')
    sb.toString
  }
}

/** Engine-side observations from Spark's public listener interfaces:
  * SparkListener (jobs, stages, tasks), QueryExecutionListener (the final
  * adaptive plan of every action) and StreamingQueryListener (per-trigger
  * progress). Events are kept raw and attributed to a timed call afterwards
  * by their time window or by the streaming query/batch they carry. */
final class Engine extends SparkListener {
  final case class Task(stageId: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shWrite: Long, shRead: Long, shRecords: Long,
      spill: Long)
  final case class Job(jobId: Int, start: Long, var end: Long, query: String,
      batch: Long, stages: Seq[Int])
  final case class Plan(time: Long, exchanges: Int, smj: Int, bhj: Int)

  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val q = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).getOrElse("")
    val b = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L, q, b, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks.add(Task(e.stageId, i.launchTime, i.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.shuffleReadMetrics.remoteBytesRead +
        x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L)))
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.executedPlan
      plans.add(Plan(System.currentTimeMillis(),
        PlanCount.count(p) { case _: ShuffleExchangeLike => true },
        PlanCount.count(p) { case _: SortMergeJoinExec => true },
        PlanCount.count(p) { case _: BroadcastHashJoinExec => true }))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Engine totals for the wall window [t0, t1] (epoch ms). */
  def window(t0: Long, t1: Long): Engine.Totals = {
    val js = jobs.values().asScala.filter(j => j.start >= t0 && j.start <= t1).toSeq
    totals(js, t1 - t0, t0, t1,
      plans.asScala.filter(p => p.time >= t0 && p.time <= t1 + 50).toSeq)
  }

  /** Engine totals for the jobs a streaming query ran in one trigger. */
  def trigger(queryId: String, batchId: Long): Engine.Totals = {
    val js = jobs.values().asScala.filter(j => j.query == queryId && j.batch == batchId).toSeq
    totals(js, 0L, 0L, 0L, Nil)
  }

  private def totals(js: Seq[Job], wallMs: Long, t0: Long, t1: Long,
      ps: Seq[Plan]): Engine.Totals = {
    val stageIds = js.flatMap(_.stages).toSet
    val ts = tasks.asScala.filter(t => stageIds(t.stageId)).toSeq
    val ran = ts.map(_.stageId).toSet
    val covered = if (wallMs <= 0) 0.0 else Engine.unionLength(
      ts.map(t => (math.max(t.launch, t0).toDouble, math.min(t.finish, t1).toDouble)))
    Engine.Totals(js.size, ran.size, ts.size,
      ts.map(_.runMs).sum.toDouble, ts.map(_.cpuNs).sum / 1e6, ts.map(_.gcMs).sum.toDouble,
      if (wallMs <= 0) 0.0 else wallMs - covered,
      ps.map(_.exchanges).sum, ps.map(_.smj).sum, ps.map(_.bhj).sum,
      ts.map(_.shWrite).sum, ts.map(_.shRead).sum, ts.map(_.shRecords).sum,
      ts.map(_.spill).sum)
  }

  /** Stage id → number of tasks, for the stages of one trigger. */
  def tasksPerStage(queryId: String, batchId: Long): Map[Int, Int] = {
    val stageIds = jobs.values().asScala
      .filter(j => j.query == queryId && j.batch == batchId).flatMap(_.stages).toSet
    tasks.asScala.filter(t => stageIds(t.stageId)).groupBy(_.stageId)
      .map { case (s, xs) => s -> xs.size }
  }
}

object Engine {
  final case class Totals(jobs: Int, stages: Int, tasks: Int, taskRunMs: Double,
      taskCpuMs: Double, gcMs: Double, uncoveredMs: Double, exchanges: Int,
      smj: Int, bhj: Int, shWrite: Long, shRead: Long, shRecords: Long,
      spill: Long) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, taskRunMs + o.taskRunMs, taskCpuMs + o.taskCpuMs,
      gcMs + o.gcMs, uncoveredMs + o.uncoveredMs, exchanges + o.exchanges,
      smj + o.smj, bhj + o.bhj, shWrite + o.shWrite, shRead + o.shRead,
      shRecords + o.shRecords, spill + o.spill)
  }
  val zero: Totals = Totals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Length of the union of [a, b) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Node counts over a final adaptive plan, descending into query stages. */
object PlanCount extends AdaptiveSparkPlanHelper {
  def count(p: org.apache.spark.sql.execution.SparkPlan)(
      f: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Boolean]): Int =
    collectWithSubqueries(p) { case n if f.isDefinedAt(n) && f(n) => 1 }.size
}

/** JVM-wide figures from the management beans. */
object Jvm {
  import java.lang.management.ManagementFactory
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  /** Peak heap use since start, MB: the sum of the heap pools' peaks. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def heapMaxMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax / 1048576.0
}

/** Minimal JSON writing. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

/** Order statistics. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** The highest of p90/p95/p99/p99.9 with at least ten samples beyond
    * it, or None with fewer than forty samples. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(99.9 -> "p99.9", 99.0 -> "p99", 95.0 -> "p95", 90.0 -> "p90")
      .find { case (p, _) => xs.size * (1 - p / 100) >= 10 }
      .filter(_ => xs.size >= 40)
      .map { case (p, n) => n -> quantile(xs, p / 100) }
}
