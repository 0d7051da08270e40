package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.GraftBenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.operators.{Classifier, Curation, Dedup, Resolution}

/** Workloads sql_inventory and corpus_pipeline: the batch surface, each
  * query built through SparkEntry.queries and forced through the noop sink. */
object BatchMix {
  val StateQuery = "st01_stateful_balance"

  /** The 43 relational queries and the batch run of the table app. */
  lazy val SqlInventory: Seq[String] =
    SparkEntry.queries.keys.filter(_.matches("q\\d\\d_.*")).toSeq.sorted :+ StateQuery

  /** Execution-bound and driver-eager corpus operators, where the native
    * kernels run. dd11 is left out: it re-pays dd03's chain. */
  val Corpus: Seq[String] = Seq(
    "dd01_exact_dedup", "dd03_minhash_lsh", "dd04_simhash", "dd07_repeated_spans",
    "dd12_streaming_neardup", "dd21_containment_sampled", "dd22_sketch_containment",
    "dd23_containment_funnel", "ta01_langid", "ta08_vocab_encode", "ta13_bpe_pairs",
    "ta20_rouge_overlap", "ir02_inverted_index", "ir03_tfidf_terms", "ir06_pmi_cooccur",
    "sim04_ivf_ann", "sim07_pq_ann", "mm04_image_neardup")

  def mix(workload: String): Seq[String] = workload match {
    case "sql_inventory" => SqlInventory
    case "corpus_pipeline" => Corpus
  }

  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  /** Drop every cache and operator memo, so each query pays its whole
    * chain, as a fresh session's first caller does. */
  def clearAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Dedup.clearPairCache(); Dedup.clearDecontamCache()
    Curation.clearVerdictCache(); Resolution.clearMatchCache()
    Classifier.clearModelCache()
  }

  def build(spark: SparkSession, name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Seeded order of the mix for one pass. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def expected(path: Path): Map[String, String] = {
    import org.json4s._
    val js = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(path), "UTF-8"))
    (js \ "queries") match {
      case JObject(fs) => fs.flatMap { case (n, q) => (q \ "digest") match {
        case JString(d) => Some(n -> d)
        case _ => None
      } }.toMap
      case _ => Map.empty
    }
  }

  /** The failures of one query's result against its expected digest. */
  private def check(spark: SparkSession, n: String, dir: String, want: Option[String]): Seq[String] =
    try {
      val df = build(spark, n, dir)
      val got = Digest.of(df.schema, df.collect().toSeq)
      want match {
        case None => Seq("no expected digest")
        case Some(d) if d != got => Seq(s"digest $got, expected $d")
        case _ => Nil
      }
    } catch { case e: Exception => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }

  /** One set-up: a session and a share of the warm-up at the workload's
    * input size. The warm-up collects each
    * result and checks its digest; it runs `cores` queries at a time to fit
    * the run's time budget. Memos are thread-safe and are kept while it
    * runs (a memo's result does not depend on which query built it). */
  private def setUp(conf: RunConf, share: Seq[String], want: Map[String, String])
      : (SparkSession, Seq[(String, Seq[String])]) = {
    val spark = Session.create(conf.cores, conf.workDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(conf.cores)
    val checks = try {
      share.map { n =>
        pool.submit(new java.util.concurrent.Callable[(String, Seq[String])] {
          def call(): (String, Seq[String]) = (n, check(spark, n, conf.dataDir, want.get(n)))
        })
      }.map(_.get())
    } finally pool.shutdown()
    clearAll(spark)
    (spark, checks)
  }

  def run(conf: RunConf): Outcome = {
    val names = mix(conf.workload)
    val tracer = new Tracer(conf.trace)
    val want = expected(conf.expectedDigests)
    // the set-ups split the mix between them by a fixed rule, so each one's
    // work is the same whatever the seed
    val shares = names.sorted.grouped((names.size + Setups - 1) / Setups).toSeq
    val setups = mutable.ArrayBuffer.empty[Double]
    val checks = mutable.ArrayBuffer.empty[(String, Seq[String])]
    var spark: SparkSession = null
    shares.foreach { share =>
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      val (s, c) = setUp(conf, share, want)
      setups += (System.nanoTime() - t0) / 1e9
      spark = s
      checks ++= c
    }

    val tasks = new TaskListener
    val phases = new PhaseListener
    if (conf.trace) {
      spark.sparkContext.addSparkListener(tasks)
      spark.listenerManager.register(phases)
    }
    def drain(): Unit = if (conf.trace) GraftBenchBridge.drainListeners(spark.sparkContext)
    def mark(op: String): Unit = if (conf.trace) {
      drain()
      phases.op = op
      spark.sparkContext.setLocalProperty(TaskListener.OpKey, op)
    }

    final case class Exec(name: String, op: String, buildMs: Double, writeMs: Double)
    val execs = mutable.ArrayBuffer.empty[Exec]
    var failedOps = 0L
    val passWall = mutable.ArrayBuffer.empty[Double]
    val foreign = new Machine.ForeignMeter
    val start = System.nanoTime()
    var pass = 1
    // whole passes while another one fits in the time, and at least one
    def fits = (System.nanoTime() - start) / 1e9 + Stats.mean(passWall.toSeq) <= conf.seconds
    while (passWall.isEmpty || fits) {
      val p0 = System.nanoTime()
      order(names, conf.seed, pass).foreach { n =>
        clearAll(spark)
        val op = s"$n#$pass"
        try {
          mark(s"$op/build")
          val b0 = System.nanoTime()
          val df = tracer.span(op, "operators.build")(build(spark, n, conf.dataDir))
          val b1 = System.nanoTime()
          mark(s"$op/write")
          val w0 = System.nanoTime()
          tracer.span(op, "exec.write")(noop(df))
          val w1 = System.nanoTime()
          execs += Exec(n, op, (b1 - b0) / 1e6, (w1 - w0) / 1e6)
        } catch { case e: Exception =>
          failedOps += 1
          System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
        }
      }
      passWall += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    mark("")
    val foreignCores = foreign.cores
    val stealCores = foreign.stealCores

    val writeMs = execs.map(_.writeMs).toSeq
    val queryMs = execs.map(e => e.buildMs + e.writeMs).toSeq
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "throughput_per_s" -> execs.size / passWall.sum,
      "op_ms_p50" -> Stats.median(writeMs),
      "latency_ms_p50" -> Stats.median(queryMs),
      "latency_ms_tail" -> Stats.tail(queryMs)._2)

    var layers = Map.empty[String, Double]
    if (conf.trace) {
      val n = execs.size.toDouble
      val buildOps = execs.map(e => s"${e.op}/build").toSet
      val writeOps = execs.map(e => s"${e.op}/write").toSet
      val allOps = buildOps ++ writeOps
      def phase(p: String): Double = {
        val total: Long = phases.phaseMs.collect { case ((op, q), ms) if q == p && allOps(op) => ms }.sum
        total / n
      }
      def count(m: mutable.Map[String, Int], ops: Set[String]): Double = {
        val total: Int = m.collect { case (op, c) if ops(op) => c }.sum
        total / n
      }
      val writeTaskMs = tasks.sum(writeOps)(_.runMs).toDouble
      val stateOps = execs.filter(_.name == StateQuery)
        .flatMap(e => Seq(s"${e.op}/build", s"${e.op}/write")).toSet
      layers = Map(
        "operators.build_ms" -> Stats.mean(execs.map(_.buildMs).toSeq),
        "operators.eager_actions" -> count(phases.actions, buildOps),
        "catalyst.analysis_ms" -> phase("analysis"),
        "catalyst.optimization_ms" -> phase("optimization"),
        "catalyst.planning_ms" -> phase("planning"),
        "exec.write_ms" -> Stats.mean(writeMs),
        "exec.jobs" -> count(tasks.jobs, allOps),
        "exec.stages" -> count(tasks.stages, allOps),
        "exec.tasks" -> tasks.sum(allOps)(_.tasks) / n,
        "exec.slot_idle_share" -> (1.0 - writeTaskMs / (writeMs.sum * conf.cores)),
        "exec.task_ms" -> tasks.sum(allOps)(_.runMs) / n,
        "exec.cpu_ms" -> tasks.sum(allOps)(_.cpuNs) / 1e6 / n,
        "exec.gc_ms" -> tasks.sum(allOps)(_.gcMs) / n,
        "exec.shuffle_write_bytes" -> tasks.sum(allOps)(_.shuffleWrite) / n,
        "exec.spill_bytes" -> tasks.sum(allOps)(_.spill) / n,
        "state.stage_task_ms" ->
          (if (stateOps.isEmpty) 0.0 else tasks.sum(stateOps)(_.runMs).toDouble / execs.count(_.name == StateQuery)))
    }
    Session.stop(spark)

    Outcome(e2e, layers, attempted = execs.size + failedOps, failedOps = failedOps,
      checks = checks.toSeq, tracer = tracer,
      info = Map(
        "mix_size" -> names.size, "passes" -> passWall.size, "executions" -> execs.size,
        "foreign_cores" -> foreignCores, "steal_cores" -> stealCores, "setups_s" -> setups.toSeq,
        "query_pass_s" -> Stats.mean(passWall.toSeq),
        "query_ms_p50" -> Stats.median(queryMs), "query_ms_p90" -> Stats.quantile(queryMs, 0.9),
        "latency_tail_quantile" -> Stats.tail(queryMs)._1,
        "per_query_ms" -> execs.groupBy(_.name).map { case (k, es) =>
          k -> Stats.median(es.map(e => e.buildMs + e.writeMs).toSeq) }))
  }
}
