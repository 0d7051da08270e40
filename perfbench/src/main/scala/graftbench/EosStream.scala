package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.avro.generic.GenericData
import org.apache.spark.GraftBenchBridge
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery, StreamingQueryProgress}
import graft.avro.{ConfluentAvro, InMemorySchemaRegistry, SchemaRegistryClient}
import graft.core.{Configs, Message}
import graft.functions.Murmur3
import graft.sinks.Transactions.SourceOffset
import graft.sinks.{Transactions, TxProducers}
import graft.sources.Kafka
import graft.state.{GraftTableApp, TableTransaction}
import graft.streaming.LagBatchPolicy

final case class KafkaHeader(key: String, value: Array[Byte])

/** A row shaped like the Kafka source's output (Kafka.SourceSchema). */
final case class KafkaRow(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp, timestampType: Int,
    headers: Seq[KafkaHeader])

/** Zipf(s) ranks 0 until n, by inverting a precomputed CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var k = 0
    while (k < n) { acc += math.pow(k + 1.0, -s); a(k) = acc; k += 1 }
    a
  }
  def sample(rng: SplittableRandom): Int = {
    val u = rng.nextDouble() * cdf(n - 1)
    var lo = 0; var hi = n - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    lo
  }
}

/** The seeded input generator: Confluent-framed Avro keys and values on
  * `partitions` source partitions, routed by the engine's murmur3
  * partitioner, keys Zipf-distributed so state keeps growing. */
final class Generator(seed: Long, zipf: Zipf) {
  import EosApp._
  private val rng = new SplittableRandom(seed)
  private val registry = new InMemorySchemaRegistry
  private val keySchema = SchemaRegistryClient.parse("\"string\"")
  private val valueSchema = SchemaRegistryClient.parse(ValueSchema)
  private val nextOffset = new Array[Long](Partitions)
  val generated = mutable.ArrayBuffer.empty[GenMsg]

  def next(n: Int): Seq[KafkaRow] = {
    val createdMs = System.currentTimeMillis()
    (0 until n).map { _ =>
      val key = s"acct-${zipf.sample(rng)}"
      val amount = rng.nextLong(-2500L, 501L)
      val p = Murmur3.partition(key, Partitions)
      val off = nextOffset(p)
      nextOffset(p) += 1
      generated += GenMsg(p, off, key, amount)
      val v = new GenericData.Record(valueSchema)
      v.put("account_id", key)
      v.put("amount", amount)
      v.put("created_ms", createdMs)
      KafkaRow(
        ConfluentAvro.serialize(key, keySchema, s"$InTopic-key", registry),
        ConfluentAvro.serialize(v, valueSchema, s"$InTopic-value", registry),
        InTopic, p, off, new Timestamp(createdMs), 0,
        Seq(KafkaHeader("source", "perfbench".getBytes("UTF-8"))))
    }
  }
}

/** The app under test: fluvii's running-balance table app over JSON state,
  * emitting one balance record per input message. */
object EosApp {
  val InTopic = "balance_changes"
  val OutTopic = "balances"
  val Group = "graft-balance-app"
  val Producer = "graftbench-broker"
  val Partitions = 8
  val ValueSchema: String =
    """{"type":"record","name":"AccountBalanceChangeRequest","fields":[""" +
      """{"name":"account_id","type":"string"},{"name":"amount","type":"long"},""" +
      """{"name":"created_ms","type":"long"}]}"""

  private val AmountRe = "\"amount\":(-?\\d+)".r.unanchored
  private val BalanceRe = "\\{\"balance\":(-?\\d+)\\}".r
  private val OutRe =
    "\\{\"account_id\":\"([^\"]*)\",\"balance\":(-?\\d+),\"src_partition\":(\\d+),\"src_offset\":(\\d+)\\}".r

  def appFn(txn: TableTransaction): Iterator[(Message, SourceOffset)] = {
    val m = txn.message
    val amount = m.value match {
      case AmountRe(a) => a.toLong
      case v => throw new IllegalStateException(s"undecodable value: $v")
    }
    val before = txn.readTableEntry() match {
      case None => 0L
      case Some(BalanceRe(b)) => b.toLong
      case Some(s) => throw new IllegalStateException(s"bad state document: $s")
    }
    val balance = before + amount
    txn.updateTableEntry(s"""{"balance":$balance}""")
    val out = Message(m.key,
      s"""{"account_id":"${m.key}","balance":$balance,"src_partition":${m.partition},"src_offset":${m.offset}}""",
      Map(Message.GuidHeader -> s"${m.partition}-${m.offset}"), OutTopic, m.partition, -1L,
      m.timestamp)
    Iterator.single((out, SourceOffset(m.topic, m.partition, m.offset)))
  }

  def parse(r: BenchBroker.Record): OutRec = r.value match {
    case OutRe(k, b, p, o) => OutRec(k, b.toLong, p.toInt, o.toLong)
    case v => throw new IllegalStateException(s"unparsable output record: $v")
  }
}

/** Workload eos_stream: MemoryStream -> Kafka.toEnvelope ->
  * GraftTableApp.transform -> foreachBatch(Transactions.writeBatchTransactional). */
object EosStream {
  import EosApp._

  /** Catch-up batch size: fluvii's batch mode, as LagBatchPolicy sets it for
    * a consumer that is behind. */
  val CatchUpBatch: Int = {
    val c = Configs.ConsumerConfig()
    val policy = new LagBatchPolicy(c.batchConsumeTriggerMessageAgeSeconds,
      c.batchConsumeMaxCount)
    policy.observeMessageAge(c.batchConsumeTriggerMessageAgeSeconds + 1.0)
    policy.offsetsPerTrigger.toInt
  }
  val LiveRatePerS = 250
  /** Warm-up batches per set-up. */
  val WarmupBatches = 4
  /** Further untimed batches on the measured query. Code that runs once per
    * micro-batch is compiled by the JIT only after many batches: with 10,
    * batch times still fell by a fifth across the timed phases, and runs
    * differed by how far it had got. */
  val PreTimingBatches = 60
  val Setups = 3

  private lazy val zipf = new Zipf(1000000, 1.1)

  /** A started loop: session, input, generator and running query. */
  final class Loop(val spark: SparkSession, val input: MemoryStream[KafkaRow],
      val gen: Generator, val query: StreamingQuery, val ckpt: java.nio.file.Path) {
    def step(rows: Seq[KafkaRow]): Unit = { input.addData(rows); query.processAllAvailable() }
    def close(): Unit = {
      query.stop()
      Session.stop(spark)
      Workdir.delete(ckpt)
    }
  }

  @volatile private var stepOp = ""
  @volatile private var stepSpan = 0L
  /** Closed-loop step each micro-batch ran in, by batch id. */
  private val batchStep = scala.collection.concurrent.TrieMap.empty[Long, String]
  private val batchesRun = new java.util.concurrent.atomic.AtomicLong

  def start(conf: RunConf, cores: Int, tracer: Tracer, tag: String): Loop = {
    val spark = Session.create(cores, conf.workDir)
    import spark.implicits._
    TxProducers.register(Producer, () => BenchBroker.client())
    BenchBroker.reset()
    val gen = new Generator(conf.seed, zipf)
    val input = MemoryStream[KafkaRow](spark, cores)(Encoders.product[KafkaRow])
    val out = GraftTableApp.transform(Kafka.toEnvelope(input.toDF(), ValueSchema))(appFn)
    val ckpt = conf.workDir.resolve(s"ckpt-$tag")
    val sink: (Dataset[(Message, SourceOffset)], Long) => Unit = { (ds, id) =>
      val op = if (stepOp.nonEmpty) stepOp else s"batch-$id"
      batchStep(id) = op
      batchesRun.incrementAndGet()
      spark.sparkContext.setLocalProperty(TaskListener.OpKey, op)
      tracer.span(op, "sinks.write_batch", stepSpan) {
        Transactions.writeBatchTransactional(ds, Producer, Group)
      }
    }
    val q = out.writeStream.queryName(s"eos_$tag")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch(sink)
      .start()
    val loop = new Loop(spark, input, gen, q, ckpt)
    (1 to WarmupBatches).foreach(_ => loop.step(gen.next(CatchUpBatch)))
    loop
  }

  /** Closed loop of catch-up batches for `seconds`; returns each batch's
    * wall time in ms (addData until every output is committed). */
  def catchUp(loop: Loop, seconds: Double, tracer: Tracer, steps: mutable.Map[String, Double]): Seq[Double] = {
    val times = mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end) {
      val rows = loop.gen.next(CatchUpBatch)
      val op = s"catchup-${times.size}"
      val t0 = System.nanoTime()
      tracer.span(op, "stream.batch") {
        stepOp = op
        stepSpan = tracer.currentId
        loop.step(rows)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      times += ms
      steps(op) = ms
    }
    stepOp = ""
    stepSpan = 0L
    times.toSeq
  }

  /** `commitGapsMs`: time between successive commit times. A micro-batch
    * commits a few transactions within milliseconds, so the long gaps are
    * the micro-batch period. */
  final case class Live(latMs: Seq[Double], lateMsMax: Double, backlogEnd: Int, sent: Int,
      commitGapsMs: Seq[Double])

  /** Open loop at a fixed rate: message i is due at start + i / rate, and
    * its latency runs from that due time to the return of the commit that
    * carried its output. */
  def live(loop: Loop, seconds: Double): Live = {
    val intervalNs = 1e9 / LiveRatePerS
    val total = (seconds * LiveRatePerS).toInt
    val due = mutable.Map.empty[(Int, Long), Long]
    val committedBefore = BenchBroker.committedCount
    val t0 = System.nanoTime()
    var sent = 0
    var lateMax = 0.0
    while (sent < total) {
      val now = System.nanoTime()
      val dueNow = math.min(total, ((now - t0) / intervalNs).toInt + 1)
      if (dueNow > sent) {
        val rows = loop.gen.next(dueNow - sent)
        loop.input.addData(rows)
        val added = System.nanoTime()
        rows.zipWithIndex.foreach { case (r, i) =>
          val d = t0 + ((sent + i) * intervalNs).toLong
          due((r.partition, r.offset)) = d
          lateMax = math.max(lateMax, (added - d) / 1e6)
        }
        sent = dueNow
      } else Thread.sleep(1)
    }
    val backlog = sent - (BenchBroker.committedCount - committedBefore)
    loop.query.processAllAvailable()
    val recs = BenchBroker.committed.drop(committedBefore)
    val lat = recs.map { r =>
      val o = parse(r)
      (r.commitNs - due((o.srcPartition, o.srcOffset))) / 1e6
    }
    val commitNs = recs.map(_.commitNs).distinct
    val gaps = commitNs.zip(commitNs.drop(1)).map { case (a, b) => (b - a) / 1e6 }
    Live(lat, lateMax, backlog, sent, gaps)
  }

  def checks(loop: Loop): Seq[(String, Seq[String])] = {
    loop.query.processAllAvailable()
    EosChecks.all(loop.gen.generated.toSeq, BenchBroker.committed.map(parse),
      BenchBroker.groupOffsets(Group, InTopic))
  }

  def run(conf: RunConf): Outcome = {
    val tracer = new Tracer(conf.trace)
    tracer.recording = false
    zipf // the generator's tables are input preparation, not the system's set-up
    val setups = mutable.ArrayBuffer.empty[Double]
    var loop: Loop = null
    (1 to Setups).foreach { i =>
      if (loop != null) loop.close()
      val t0 = System.nanoTime()
      loop = start(conf, conf.cores, tracer, s"setup$i")
      setups += (System.nanoTime() - t0) / 1e9
    }
    (1 to PreTimingBatches).foreach(_ => loop.step(loop.gen.next(CatchUpBatch)))
    val spark = loop.spark
    val tasks = new TaskListener
    val progress = new ProgressListener
    if (conf.trace) {
      spark.sparkContext.addSparkListener(tasks)
      spark.streams.addListener(progress)
    }
    val clientNs0 = BenchBroker.clientNs.sum()
    val commits0 = BenchBroker.commits.sum()
    val calls0 = BenchBroker.commitCalls.sum()
    val committed0 = BenchBroker.committedCount

    tracer.recording = conf.trace
    val batches0 = batchesRun.get()
    val foreign = new Machine.ForeignMeter
    // Live gets two thirds of the time: the messages of one micro-batch share
    // its commit, so its percentiles rest on the number of batches, and its
    // p95 on the slowest few. It runs first, so its state size depends on
    // the seed only, not on how many catch-up batches a run got through.
    val liveS = conf.seconds * 2.0 / 3.0
    val catchS = conf.seconds - liveS
    val steps = mutable.Map.empty[String, Double]
    val lv = live(loop, liveS)
    val batchMs = catchUp(loop, catchS, tracer, steps)
    val foreignCores = foreign.cores
    val stealCores = foreign.stealCores
    val failures = checks(loop)
    val microBatches = batchesRun.get() - batches0

    val catchMsgs = batchMs.size.toDouble * CatchUpBatch
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "throughput_per_s" -> catchMsgs / (batchMs.sum / 1e3),
      "op_ms_p50" -> Stats.median(batchMs),
      "latency_ms_p50" -> Stats.median(lv.latMs),
      "latency_ms_tail" -> Stats.tail(lv.latMs)._2)

    var layers = Map.empty[String, Double]
    if (conf.trace) {
      GraftBenchBridge.drainListeners(spark.sparkContext)
      val batches = progress.byBatch.values.toSeq
      val ops = tasks.synchronized(tasks.acc.keySet.map(_._1).toSet)
      val nBatches = math.max(1, batches.size).toDouble
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def state(f: StateOperatorProgress => Double): Seq[Double] =
        batches.flatMap(_.stateOperators.headOption).map(f)
      val last = batches.maxBy(_.batchId).stateOperators.headOption
      val commits = BenchBroker.commits.sum() - commits0
      val records = BenchBroker.committedCount - committed0
      val msgs = catchMsgs + lv.sent
      def stageMs(d: Int) = tasks.sum(ops, Some(d))(_.runMs) / nBatches
      val catchTrigger = batches.filter(b => batchStep.get(b.batchId).exists(steps.contains))
        .map(dur(_, "triggerExecution")).sum
      layers = Map(
        "streaming.trigger_ms" -> Stats.mean(batches.map(dur(_, "triggerExecution"))),
        "streaming.plan_ms" -> Stats.mean(batches.map(dur(_, "queryPlanning"))),
        "streaming.log_ms" -> Stats.mean(batches.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
        "streaming.idle_ms" -> (batchMs.sum - catchTrigger) / batchMs.size,
        "state.commit_ms" -> Stats.mean(state(_.commitTimeMs.toDouble)),
        "state.update_ms" -> Stats.mean(state(_.allUpdatesTimeMs.toDouble)),
        "state.rows_total" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "state.rows_updated" -> Stats.mean(state(_.numRowsUpdated.toDouble)),
        "state.memory_bytes" -> last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "state.stage_task_ms" -> stageMs(1),
        "sources.stage_task_ms" -> stageMs(0),
        "sinks.stage_task_ms" -> stageMs(2),
        "sinks.write_batch_ms" -> Stats.mean(tracer.all.filter(_.name == "sinks.write_batch").map(_.ms)),
        "sinks.client_ms" -> (BenchBroker.clientNs.sum() - clientNs0) / 1e6 / nBatches,
        "sinks.txns_per_batch" -> commits / nBatches,
        "sinks.records_per_txn" -> (if (commits == 0) 0.0 else records.toDouble / commits),
        "sinks.commit_retries" -> (BenchBroker.commitCalls.sum() - calls0 - commits).toDouble,
        "sinks.replay_skipped" -> (batches.map(_.numInputRows).sum - records).toDouble,
        "exec.shuffle_bytes_per_msg" -> tasks.sum(ops)(_.shuffleWrite) / msgs,
        "exec.tasks_per_batch" -> tasks.sum(ops)(_.tasks) / nBatches,
        "gen.late_ms_max" -> lv.lateMsMax,
        "gen.backlog_end_msgs" -> lv.backlogEnd.toDouble)
    }
    loop.close()

    var refChecks = Seq.empty[(String, Seq[String])]
    if (conf.trace) {
      // single-threaded reference: the same loop on local[1]
      val ref = start(conf, 1, new Tracer(false), "local1")
      val refMs = catchUp(ref, catchS, new Tracer(false), mutable.Map.empty)
      refChecks = checks(ref).map { case (n, f) => (s"local1.$n", f) }
      ref.close()
      layers ++= Map(
        "ref_local1.msgs_per_s" -> refMs.size * CatchUpBatch / (refMs.sum / 1e3),
        "ref_local1.batch_ms_p50" -> Stats.median(refMs))
    }

    // an operation is a micro-batch; one that fails stops the query and the run
    Outcome(e2e, layers, attempted = microBatches, failedOps = 0,
      checks = failures ++ refChecks, tracer = tracer,
      info = Map(
        "catchup_batches" -> batchMs.size, "catchup_batch_size" -> CatchUpBatch,
        "catchup_batch_ms" -> batchMs,
        "micro_batches" -> microBatches.toInt,
        "live_msgs" -> lv.sent, "live_rate_per_s" -> LiveRatePerS,
        "live_commit_gap_ms" -> lv.commitGapsMs,
        "live_late_ms_max" -> lv.lateMsMax, "live_backlog_end_msgs" -> lv.backlogEnd,
        "foreign_cores" -> foreignCores, "steal_cores" -> stealCores, "setups_s" -> setups.toSeq,
        "stream_msgs_per_s" -> e2e("throughput_per_s"),
        "stream_batch_ms_p50" -> e2e("op_ms_p50"),
        "stream_batch_ms_p90" -> Stats.quantile(batchMs, 0.9),
        "stream_e2e_ms_p50" -> e2e("latency_ms_p50"),
        "stream_e2e_ms_p95" -> Stats.quantile(lv.latMs, 0.95),
        "latency_tail_quantile" -> Stats.tail(lv.latMs)._1))
  }
}
