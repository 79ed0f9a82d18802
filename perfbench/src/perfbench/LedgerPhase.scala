package perfbench

import graft.streaming.LedgerStream

/** The ledger growth phase: the always-on training-data dedup. The seed
  * generates T triggers of D documents; every trigger calls
  * LedgerStream.exactStep and LedgerStream.minhashStep against ledgers on
  * local disk that grow trigger by trigger.
  *
  * Among fresh documents (uniform draws from a seeded vocabulary) the
  * generator plants, per trigger: exact repeats of an earlier trigger's
  * fresh document (with case and spacing changed) and of an earlier
  * document of the same trigger; near-duplicates, one or two token
  * substitutions away from a fresh document of an earlier trigger or of
  * the same trigger (shingle Jaccard ≈ 0.9 at 80–140 tokens).
  *
  * One round of T triggers from empty ledgers, the first untimed (it warms
  * the code paths up). Runs in replay_sf01's traced run; it fills the
  * `ledger.*` per-layer metrics, and run.py checks its outputs. */
object LedgerPhase {
  val Triggers = 6
  val DocsPerTrigger = 400
  val RepArchive = 0.10
  val RepBatch = 0.05
  val NearArchive = 0.05
  val NearBatch = 0.05
  val Vocabulary = 4000
  val Threshold = 0.5

  final case class Doc(doc_id: Long, b: Long, text: String, plant: String, src_id: Long)

  def generate(seed: Long): Seq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da", "fu",
      "gi", "ha", "je", "ko", "lu", "ma", "ni", "or")
    val vocab = (0 until Vocabulary).map { i =>
      (0 to 1 + i % 3).map(j => syl((i * 7 + j * 13 + (i / 20) * j) % syl.size)).mkString + i
    }
    def fresh(): Vector[String] = Vector.fill(80 + rnd.nextInt(60))(vocab(rnd.nextInt(Vocabulary)))
    def restyle(toks: Vector[String]): String = toks.zipWithIndex.map { case (w, i) =>
      if (i % 7 == 3) w.toUpperCase else w
    }.mkString("  ")
    def near(toks: Vector[String]): Vector[String] = {
      var t = toks
      (0 until 1 + rnd.nextInt(2)).foreach { _ =>
        t = t.updated(rnd.nextInt(t.size), vocab(rnd.nextInt(Vocabulary)))
      }
      t
    }
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val freshToks = scala.collection.mutable.Map.empty[Long, Vector[String]]
    var id = 1000L + (seed % 1000) * 100000L
    (0 until Triggers).foreach { b =>
      val earlier = freshToks.keys.toIndexedSeq.sorted
      val mine = scala.collection.mutable.ArrayBuffer.empty[Long]
      (0 until DocsPerTrigger).foreach { _ =>
        id += 1
        val u = rnd.nextDouble()
        val doc =
          if (b > 0 && u < RepArchive) {
            val s = earlier(rnd.nextInt(earlier.size))
            Doc(id, b, restyle(freshToks(s)), "rep_archive", s)
          } else if (mine.nonEmpty && u < RepArchive + RepBatch) {
            val s = mine(rnd.nextInt(mine.size))
            Doc(id, b, restyle(freshToks(s)), "rep_batch", s)
          } else if (b > 0 && u < RepArchive + RepBatch + NearArchive) {
            val s = earlier(rnd.nextInt(earlier.size))
            Doc(id, b, near(freshToks(s)).mkString(" "), "near_archive", s)
          } else if (mine.nonEmpty && u < RepArchive + RepBatch + NearArchive + NearBatch) {
            val s = mine(rnd.nextInt(mine.size))
            Doc(id, b, near(freshToks(s)).mkString(" "), "near_batch", s)
          } else {
            val t = fresh()
            freshToks(id) = t
            mine += id
            Doc(id, b, t.mkString(" "), "fresh", -1L)
          }
        docs += doc
      }
    }
    docs.toSeq
  }

  private def rm(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  private def du(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      var bytes = 0L
      var files = 0L
      java.nio.file.Files.walk(p).filter(f => java.nio.file.Files.isRegularFile(f))
        .forEach { f => bytes += java.nio.file.Files.size(f); files += 1 }
      (bytes, files)
    }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val in = s"${ctx.work}/ledger_in"
    val b = s"${ctx.work}/ledger"
    val df = ctx.tracer.span("ledger.generate")(generate(ctx.seed)).toDF().coalesce(1)
    // the checker's copy (with the planted labels) and the triggers' input
    // files, which hold only what the program is given: id and text
    df.write.mode("overwrite").parquet(s"${ctx.work}/ledger_docs.parquet")
    df.select("doc_id", "text", "b").write.mode("overwrite").partitionBy("b").parquet(in)
    val exactMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val minhashMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stepMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val writes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var engine = Engine.zero
    var failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    ctx.tracer.span("ledger.round") {
      (0 until Triggers).foreach { t =>
        val batch = spark.read.parquet(s"$in/b=$t").select("doc_id", "text")
        val before = du(b)._1
        val w0 = System.currentTimeMillis()
        try ctx.tracer.span("ledger.trigger", "trigger" -> t) {
          val t0 = System.nanoTime()
          ctx.tracer.span("ledger.exact_step", "trigger" -> t)(
            LedgerStream.exactStep(spark, batch, t, s"$b/exact_ledger", s"$b/exact_out",
              "doc_id", "text"))
          val t1 = System.nanoTime()
          ctx.tracer.span("ledger.minhash_step", "trigger" -> t)(
            LedgerStream.minhashStep(spark, batch, t, s"$b/minhash_ledger",
              s"$b/minhash_archive", s"$b/minhash_out", "doc_id", "text",
              threshold = Threshold))
          val t2 = System.nanoTime()
          if (t > 0) {
            exactMs += (t1 - t0) / 1e6
            minhashMs += (t2 - t1) / 1e6
            stepMs += (t2 - t0) / 1e6
          }
        } catch { case e: Throwable =>
          failed += 1; failures += s"trigger $t: ${e.getMessage}"
        }
        if (t > 0) {
          ctx.engine.drain(spark)
          engine = engine + ctx.engine.window(w0, System.currentTimeMillis())
          writes += (du(b)._1 - before).toDouble
        }
      }
    }
    val ok = failed == 0 && stepMs.nonEmpty
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    val q = math.max(1, stepMs.size / 4)
    val early = med(stepMs.take(q).toSeq)
    val late = med(stepMs.takeRight(q).toSeq)
    val (ledgerBytes, ledgerFiles) = Seq("exact_ledger", "minhash_ledger", "minhash_archive")
      .map(d => du(s"$b/$d")).foldLeft((0L, 0L)) { case ((a, c), (x, y)) => (a + x, c + y) }
    val e = Main.engineLayers(engine, stepMs.size)
    Result(Triggers, failed,
      e2e = Map.empty,
      layers = Map(
        "ledger.exact_step_ms" -> med(exactMs.toSeq),
        "ledger.minhash_step_ms" -> med(minhashMs.toSeq),
        "ledger.early_p50_ms" -> early,
        "ledger.late_p50_ms" -> late,
        "ledger.late_over_early" -> late / early,
        "ledger.disk_bytes" -> ledgerBytes.toDouble,
        "ledger.files" -> ledgerFiles.toDouble,
        "ledger.write_bytes_per_trigger" -> (if (writes.isEmpty) 0.0 else writes.sum / writes.size),
        "ledger.spark_jobs" -> e("spark.jobs"),
        "ledger.spark_uncovered_ms" -> e("spark.uncovered_ms"),
        "ledger.spark_task_run_ms" -> e("spark.task_run_ms")),
      detail = Map("ledger_docs_per_s" -> stepMs.size * DocsPerTrigger / (stepMs.sum / 1000),
        "ledger_trigger_p50_ms" -> med(stepMs.toSeq)),
      checks = Seq(("ledger.no_failures", ok, failures.mkString("; "))),
      outputs = Map("ledger" -> b),
      notes = Map("minhash_threshold" -> Threshold.toString))
  }
}
