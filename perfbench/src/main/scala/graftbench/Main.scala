package graftbench

import java.nio.file.{Files, Path, Paths}

/** Entry point of the benchmark JVM (run.py launches it; see README.md).
  *
  *   run      --workload W --seed N --seconds S --trace 0|1 --cores C
  *            --data DIR --work DIR --expected FILE --artifact FILE --source-digest H
  *   selftest                       every check must fail on corrupted output
  *   oracle-sql OUT.json            SparkEntry.oracleSql of both batch mixes
  *   digest DIR OUT.json            canonical digest of each DIR/<query>.parquet
  *
  * The run mode prints a metric table, then one line `RESULT {json}`. */
object Main {
  val Workloads = Seq("eos_stream", "sql_inventory", "corpus_pipeline")

  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "throughput_per_s" -> "1/s",
    "op_ms_p50" -> "ms", "latency_ms_p50" -> "ms", "latency_ms_tail" -> "ms")

  val LayerUnits: Seq[(String, String)] = Seq(
    "streaming.trigger_ms" -> "ms", "streaming.plan_ms" -> "ms", "streaming.log_ms" -> "ms",
    "streaming.idle_ms" -> "ms",
    "state.commit_ms" -> "ms", "state.update_ms" -> "ms", "state.rows_total" -> "count",
    "state.rows_updated" -> "count", "state.memory_bytes" -> "bytes", "state.stage_task_ms" -> "ms",
    "sources.stage_task_ms" -> "ms",
    "sinks.stage_task_ms" -> "ms", "sinks.write_batch_ms" -> "ms", "sinks.client_ms" -> "ms",
    "sinks.txns_per_batch" -> "count", "sinks.records_per_txn" -> "count",
    "sinks.commit_retries" -> "count", "sinks.replay_skipped" -> "count",
    "exec.shuffle_bytes_per_msg" -> "bytes", "exec.tasks_per_batch" -> "count",
    "operators.build_ms" -> "ms", "operators.eager_actions" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "exec.write_ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.slot_idle_share" -> "ratio", "exec.task_ms" -> "ms", "exec.cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms", "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "gen.late_ms_max" -> "ms", "gen.backlog_end_msgs" -> "count",
    "ref_local1.msgs_per_s" -> "1/s", "ref_local1.batch_ms_p50" -> "ms")

  def main(args: Array[String]): Unit = {
    val code = args.headOption match {
      case Some("run") => run(opts(args.drop(1)))
      case Some("selftest") => SelfTest.run()
      case Some("oracle-sql") if args.length == 2 => oracleSql(Paths.get(args(1)))
      case Some("digest") if args.length == 3 => digest(Paths.get(args(1)), Paths.get(args(2)))
      case _ =>
        System.err.println("usage: graftbench.Main run|selftest|oracle-sql OUT|digest DIR OUT")
        2
    }
    System.exit(code)
  }

  private def opts(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"options come in pairs: ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"not an option: $k")
      k.drop(2) -> v
    }.toMap
  }

  private def run(o: Map[String, String]): Int = {
    val conf = RunConf(
      workload = o("workload"), seed = o("seed").toLong, seconds = o("seconds").toInt,
      trace = o("trace") match { case "0" => false; case "1" => true },
      cores = o("cores").toInt, dataDir = o("data"), workDir = Paths.get(o("work")),
      expectedDigests = Paths.get(o("expected")), sourceDigest = o("source-digest"))
    require(Workloads.contains(conf.workload), s"unknown workload ${conf.workload}")
    require(conf.seconds >= 1 && conf.cores >= 1)
    Files.createDirectories(conf.workDir)
    val started = java.time.Instant.now()
    val out =
      if (conf.workload == "eos_stream") EosStream.run(conf) else BatchMix.run(conf)
    val e2e = out.e2e + ("peak_rss_mb" -> Machine.peakRssMb)
    // a layer that does no work in this workload reads 0
    val layers = LayerUnits.map { case (n, _) => n -> out.layers.getOrElse(n, 0.0) }.toMap
    val correct = out.failedChecks.isEmpty && out.failedOps == 0

    println(f"[perfbench] workload=${conf.workload} seed=${conf.seed} seconds=${conf.seconds} " +
      f"trace=${if (conf.trace) 1 else 0} cores=${conf.cores} sf=0.01")
    E2eUnits.foreach { case (n, u) => println(f"  $n%-28s ${e2e(n)}%14.4f $u") }
    println(f"  ${"ops_failed_share"}%-28s ${out.failed.toDouble / math.max(1L, out.attempted)}%14.4f ratio" +
      s" (${out.failed} of ${out.attempted} operations)")
    out.info.toSeq.sortBy(_._1).foreach {
      case (k, d: Double) => println(f"  $k%-28s $d%14.4f")
      case (k, v: Int) => println(f"  $k%-28s $v%14d")
      case _ => ()
    }
    if (conf.trace) {
      LayerUnits.foreach { case (n, u) => println(f"  $n%-28s ${layers(n)}%14.4f $u") }
      out.tracer.selfTimes.toSeq.sortBy(_._1).foreach { case (n, (c, tot, self)) =>
        println(f"  span $n%-23s n=$c%-6d total_ms=$tot%.1f self_ms=$self%.1f")
      }
    }
    out.failedChecks.foreach { case (n, f) => println(s"  CHECK FAILED $n: ${f.mkString("; ")}") }
    println(s"  correctness: ${if (correct) "PASS" else "FAIL"} " +
      s"(${out.checks.size - out.failedChecks.size}/${out.checks.size} checks)")

    val stamp = Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "seconds" -> conf.seconds,
      "trace" -> (if (conf.trace) 1 else 0), "cpus" -> conf.cores, "sf" -> "0.01",
      "source_digest" -> conf.sourceDigest, "jvm" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION, "scala" -> scala.util.Properties.versionNumberString,
      "foreign_cores" -> out.info.getOrElse("foreign_cores", 0.0),
      "steal_cores" -> out.info.getOrElse("steal_cores", 0.0),
      "started_utc" -> started.toString)
    val artifact = Map(
      "stamp" -> stamp, "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "e2e" -> e2e, "layers" -> (if (conf.trace) layers else Map.empty),
      "checks" -> out.checks.map { case (n, f) => Map("name" -> n, "failures" -> f) },
      "info" -> out.info,
      "self_times" -> out.tracer.selfTimes.map { case (n, (c, t, s)) =>
        n -> Map("count" -> c, "total_ms" -> t, "self_ms" -> s) },
      "spans" -> out.tracer.all.map(s => Map("id" -> s.id, "op" -> s.op, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    o.get("artifact").foreach { a =>
      val p = Paths.get(a)
      Files.createDirectories(p.getParent)
      Files.write(p, Json.value(artifact).getBytes("UTF-8"))
    }

    val metrics =
      if (conf.trace) LayerUnits.map { case (n, u) => n -> Map("value" -> layers(n), "unit" -> u) }
      else E2eUnits.map { case (n, u) => n -> Map("value" -> e2e(n), "unit" -> u) }
    println("RESULT " + Json.value(Map("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    0
  }

  private def oracleSql(out: Path): Int = {
    val names = BatchMix.SqlInventory ++ BatchMix.Corpus
    val sql = graft.SparkEntry.oracleSql
    val missing = names.filterNot(sql.contains)
    if (missing.nonEmpty) { System.err.println(s"no oracle for ${missing.mkString(", ")}"); return 1 }
    Files.write(out, Json.value(scala.collection.immutable.ListMap(names.map(n => n -> sql(n)): _*))
      .getBytes("UTF-8"))
    0
  }

  private def digest(dir: Path, out: Path): Int = {
    val work = Files.createTempDirectory(dir, "spark")
    val spark = Session.create(2, work)
    val files = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".parquet")).sortBy(_.toString)
    val digests = files.map { f =>
      val df = spark.read.parquet(f.toString)
      val rows = df.collect().toSeq
      f.getFileName.toString.stripSuffix(".parquet") ->
        Map("digest" -> Digest.of(df.schema, rows), "rows" -> rows.size)
    }
    Session.stop(spark)
    Workdir.delete(work)
    Files.write(out, Json.value(scala.collection.immutable.ListMap(digests.toIndexedSeq: _*))
      .getBytes("UTF-8"))
    0
  }
}
