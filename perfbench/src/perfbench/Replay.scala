package perfbench

import graft.{QueryDef, Queries}

/** replay_sf01: the archive replay. The oracle-carrying members of
  * graft.Bench's headline set run one at a time over the sf0.1 tables,
  * round-robin, each fully materialised through the noop sink. Left out
  * (see perfbench/README.md): p04, whose DuckDB expectation does not
  * finish in reasonable time; d04 (no oracle) and its oracled md5 sibling
  * d04b, which alone takes ~26 s a run here, twice the rest of the round.
  * The traced run adds the ledger growth phase (LedgerPhase) after the
  * timed rounds.
  *
  * The untimed check round writes every query's result as parquet for
  * run.py to compare with the stored DuckDB results; it runs first, so it
  * also warms the JIT and the codegen cache for the timed rounds. */
object Replay {
  val families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q01_agg", "q02_filter_project", "q04_subquery_join",
      "q05_split_words", "q17_timeseries", "q15_count_distinct", "w01_tumbling",
      "w03_lag", "w10_session", "s01_topk", "s02_sample", "n01_ip_functions",
      "r01_raql_agg"),
    "pairs" -> Seq("d01_exact_dedup", "d02_minhash_lsh", "d07_semantic_dedup", "t01_tokstats", "t06_repetition",
      "a01_ann_bruteforce", "a02_ann_lsh", "a08_pq_codes"),
    "pipeline" -> Seq("d14_ledger_stream_replay", "a11b_ivf_pq_trained"))

  /** In graft.Bench's headline order. */
  def queries: Seq[QueryDef] = {
    val byName = Queries.byName
    val head = Queries.all.filter(_.headline).map(_.name)
    val want = families.flatMap(_._2).toSet
    val sel = head.filter(want)
    require(sel.toSet == want, s"replay set drifted: missing ${want -- sel}")
    sel.map(byName)
  }

  def queryNames: Seq[String] = families.flatMap(_._2).sorted

  /** Write {name: oracle SQL} for make_expected.py. */
  def dumpOracleSql(path: String): Unit = {
    val js = Json.obj(queries.map(q => q.name -> Json.str(q.oracle.get)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), js.getBytes("UTF-8"))
  }
}

final class Replay extends Workload {
  private var qs: Seq[QueryDef] = Nil

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // session warm-up: one tiny job and the table footers
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Tables.names.foreach(t => graft.Tables.load(spark, ctx.sfDir, t).schema)
    val all = Replay.queries
    // the seed picks which query each round starts with
    val k = (ctx.seed % all.size).toInt
    qs = all.drop(k) ++ all.take(k)
  }

  /** Run one query through `sink`, releasing the blocks it persisted. */
  private def runOne(ctx: Ctx, q: QueryDef,
      sink: org.apache.spark.sql.DataFrame => Unit): (Double, Double) = {
    val spark = ctx.spark
    System.gc()
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val t0 = System.nanoTime()
      val df = ctx.tracer.span("query.build", "query" -> q.name)(q.run(spark, ctx.sfDir))
      val t1 = System.nanoTime()
      ctx.tracer.span("query.sink", "query" -> q.name)(sink(df))
      ((System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e6)
    } finally {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!pre(id)) rdd.unpersist(blocking = false)
      }
    }
  }

  def run(ctx: Ctx): Result = {
    val out = s"${ctx.work}/replay_out"
    var attempted = 0L
    var failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    // check round (untimed): results to parquet for run.py. It also warms
    // the JIT and the codegen cache; as nothing in it is timed, it runs
    // three queries at a time and releases their blocks at its end
    val c0 = System.nanoTime()
    ctx.tracer.span("replay.check_round") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        val fs = qs.map { q =>
          pool.submit(new java.util.concurrent.Callable[Option[String]] {
            def call(): Option[String] =
              try {
                q.run(ctx.spark, ctx.sfDir).write.mode("overwrite").parquet(s"$out/${q.name}")
                None
              } catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage}") }
          })
        }
        fs.foreach { f =>
          attempted += 1
          f.get().foreach { m => failed += 1; failures += m }
        }
      } finally pool.shutdown()
      ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    val checkRoundS = (System.nanoTime() - c0) / 1e9
    // timed rounds: whole rounds until the run's time is used
    val times = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val builds = scala.collection.mutable.ArrayBuffer.empty[Double]
    var engine = Engine.zero
    var rounds = 0
    val start = System.nanoTime()
    while (rounds == 0 || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      rounds += 1
      ctx.tracer.span("replay.round", "rep" -> rounds) {
        qs.foreach { q =>
          attempted += 1
          val w0 = System.currentTimeMillis()
          try {
            val (s, b) = ctx.tracer.span("query", "query" -> q.name, "rep" -> rounds)(
              runOne(ctx, q, _.write.format("noop").mode("overwrite").save()))
            times(q.name) = s :: times(q.name)
            builds += b
          } catch { case e: Throwable =>
            failed += 1; failures += s"${q.name}: ${e.getMessage}"
          }
          if (ctx.trace) {
            ctx.engine.drain(ctx.spark)
            engine = engine + ctx.engine.window(w0, System.currentTimeMillis())
          }
        }
      }
    }
    val med = qs.map(q => q.name -> (if (times(q.name).isEmpty) Double.NaN
      else Stats.median(times(q.name)))).toMap
    val fam = Replay.families.map { case (f, ns) => f -> ns.map(med).sum }.toMap
    val total = med.values.sum
    lazy val (parseMs, compileMs) = raqlR01(ctx)
    lazy val layers = Main.engineLayers(engine, rounds) ++
      med.map { case (n, v) => s"query.${n}_s" -> v } ++
      Map("query.build_ms" -> (if (builds.isEmpty) 0.0 else Stats.median(builds.toSeq)),
        "raql.parse_ms" -> parseMs, "raql.compile_ms" -> compileMs)
    val replay = Result(attempted, failed,
      e2e = Map("items_per_s" -> qs.size / total, "op_p50_ms" -> total * 1000),
      layers = if (ctx.trace) layers else Map.empty,
      detail = Map("replay_s" -> total, "replay_relational_s" -> fam("relational"),
        "replay_pairs_s" -> fam("pairs"), "replay_pipeline_s" -> fam("pipeline"),
        "replay_rounds" -> rounds.toDouble, "replay_check_round_s" -> checkRoundS),
      checks = Seq(("replay.no_failures", failed == 0, failures.mkString("; "))),
      outputs = Map("replay_out" -> out),
      notes = qs.map(q => s"sql_sha256.${q.name}" -> sha256(q.oracle.get)).toMap)
    // the traced run adds the ledger growth phase, after the timed rounds
    if (!ctx.trace) replay
    else {
      val l = ctx.tracer.span("ledger.phase")(LedgerPhase.run(ctx))
      Result(replay.attempted + l.attempted, replay.failed + l.failed, replay.e2e,
        replay.layers ++ l.layers, replay.detail ++ l.detail, replay.checks ++ l.checks,
        replay.outputs ++ l.outputs, replay.notes ++ l.notes)
    }
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** RaQL parse and compile times of r01's program, the replay set's RaQL
    * member (r01 itself compiles inside QueryDef.run). */
  private def raqlR01(ctx: Ctx): (Double, Double) = {
    val src = """DEFINE q AS
             FROM tables/events
             SELECT event_type,
                    COUNT 1 AS n,
                    sum u64(user_id) AS sum_uid,
                    min value AS min_value,
                    max value AS max_value
             GROUP BY event_type;"""
    val reps = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val p = graft.raql.RaqlParser.parseProgram(src)
        .fold(e => throw new IllegalArgumentException(s"RaQL parse: $e"), identity)
      val t1 = System.nanoTime()
      val c = new graft.raql.RaqlCompiler(ctx.spark, ctx.sfDir)
      c.registerTable("tables/events", graft.Tables.events(ctx.spark, ctx.sfDir))
      c.register("main", p)
      val t2 = System.nanoTime()
      c.compile("main/q")
      ((t1 - t0) / 1e6, (System.nanoTime() - t2) / 1e6)
    }
    (Stats.median(reps.map(_._1)), Stats.median(reps.map(_._2)))
  }
}
