package perfbench

import graft.core.{Caches, KeySets}
import graft.ext.{Dedup, TextAnalysis}
import graft.sources.HttpIngest
import graft.spec.{Compiler, ProcConf, SpecLoader}
import java.nio.file.{Files, Paths}
import java.time.Instant
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.perfbench.Trace
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** Drives one workload through the program's public entry points and writes
  * raw timings to `<runDir>/result.json`; `perfbench/run.py` turns them into
  * metrics and checks the outputs.
  *
  * Usage: perfbench.Harness <curate|dedup|ingest> <dataDir> <runDir> <warmRuns> <trace 0|1>
  *
  * `dataDir` holds the generated inputs, `runDir` the specs the runner
  * wrote and every output. The ingest workload talks to the runner over
  * stdin/stdout: it prints `@@ <EVENT> <json>` lines and waits for the
  * `START <n>`, `TRICKLE`, `DONE <n>` and `RESTART <n>` commands, where n
  * counts the documents the receiver accepted in that phase. With trace 1
  * the engine counters of [[Trace]] are snapshotted around each phase and
  * the layer probes run after the measured phases, so they never overlap a
  * timed phase.
  */
object Harness {
  private val result = mutable.LinkedHashMap[String, Any]()
  private val layers = mutable.LinkedHashMap[String, Double]()
  private var spark: SparkSession = _
  private var traced = false

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, runDir, warmRunsArg, traceArg) = args
    traced = traceArg == "1"
    // the session Main builds: the benchmark adds only deployment settings
    // (master, memory, local dirs, listeners) through system properties
    spark = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS",
          (Runtime.getRuntime.availableProcessors min 32).toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    result("ready_ms") = System.currentTimeMillis()
    val cachePeak = if (traced) Some(new CachePoller) else None
    cachePeak.foreach(_.start())
    try workload match {
      case "curate" => curate(dataDir, runDir, warmRunsArg.toInt)
      case "dedup" => dedup(dataDir, runDir, warmRunsArg.toInt)
      case "ingest" => ingest(dataDir, runDir)
    } finally {
      cachePeak.foreach { p =>
        p.interrupt()
        p.join()
        layers("core.cache_peak_bytes") = p.peak
      }
      result("peak_rss_mb") = peakRssMb()
      result("layers") = layers.toMap
      Files.writeString(Paths.get(runDir, "result.json"), Json(result.toMap))
      spark.stop()
    }
  }

  // --- workloads -----------------------------------------------------------

  private def curate(dataDir: String, runDir: String, warmRuns: Int): Unit = {
    val spec0 = SpecLoader.loadFile(s"$runDir/curate.yml")
    def run(k: Int): Double = {
      val spec = spec0.copy(output = spec0.output.copy(path = Some(s"$runDir/out/run-$k")))
      timed {
        if (!traced) Compiler.runBatch(spark, spec)
        else {
          val df = layer("spec.build_s", k == 0)(
            Compiler.pipeline(spec)(Compiler.source(spark, spec.input)))
          Compiler.sink(df, spec.output)
        }
      }
    }
    batchPhases(warmRuns, run)
    if (traced) stageProbes(spark.read.parquet(s"$dataDir/docs"), spec0.pipeline)
  }

  private def dedup(dataDir: String, runDir: String, warmRuns: Int): Unit = {
    def plan(): DataFrame = {
      val docs = spark.read.parquet(s"$dataDir/docs")
      Dedup.dedupDecision(docs, Dedup.nearDupJaccard(docs, n = 16, minJaccard = 0.5))
    }
    def run(k: Int): Double = timed {
      val decision = layer("spec.build_s", k == 0)(plan())
      decision.write.parquet(s"$runDir/out/run-$k")
      Caches.unpersistAll()
    }
    batchPhases(warmRuns, run)
    if (traced) {
      // each public call timed with the jobs it runs while building its
      // plan, then materialized to the noop sink; the decision re-plans the
      // pairs
      val docs = spark.read.parquet(s"$dataDir/docs")
      val (pairs, pairsBuild) = timedValue(
        Dedup.nearDupJaccard(docs, n = 16, minJaccard = 0.5))
      layers("ext.dedup.pairs") = noopRows("ext.dedup.pairs_s", pairs)
      layers("ext.dedup.pairs_s") += pairsBuild
      val (kept, decisionBuild) = timedValue(Dedup.dedupDecision(docs, pairs).filter("keep"))
      layers("ext.dedup.clusters") = noopRows("ext.dedup.decision_s", kept)
      layers("ext.dedup.decision_s") += decisionBuild
      Caches.unpersistAll()
    }
  }

  /** First run in the fresh session, then `warmRuns` repeats. */
  private def batchPhases(warmRuns: Int, run: Int => Double): Unit = {
    result("first_job_s") = phase("cold")(run(0))
    val warm = mutable.ArrayBuffer[Double]()
    phase("warm")(for (k <- 1 to warmRuns) warm += run(k))
    result("warm_s") = warm.toSeq
  }

  private def ingest(dataDir: String, runDir: String): Unit = {
    val spec = SpecLoader.loadFile(s"$runDir/ingest.yml")
    def indexPath(gate: String) =
      spec.pipeline.find(_.typ == gate).get.config("index_path")
    val corpus = spark.read.parquet(s"$dataDir/corpus")
    val bench = spark.read.parquet(s"$dataDir/bench")
    val gateN = spec.pipeline.find(_.typ == "contamination_gate").get.config("n").toInt
    val bandN = spec.pipeline.find(_.typ == "near_dup_gate").get.config("n").toInt
    layers("ext.index_build_s.contamination") = timed(
      TextAnalysis.benchGramIndexSave(bench, indexPath("contamination_gate"), gateN))
    layers("ext.index_build_s.exact") = timed(
      Dedup.fpIndexSave(corpus, indexPath("exact_dup_gate")))
    layers("ext.index_build_s.band") = timed(
      Dedup.bandIndexSave(corpus, indexPath("near_dup_gate"), bandN))
    val receiver = HttpIngest.fromConf(spec.input).start()
    val batches = mutable.ArrayBuffer[Map[String, Any]]()
    try {
      emit("RECEIVER", Map("port" -> receiver.boundPort,
        "t_ms" -> System.currentTimeMillis()))
      // cold drain: the backlog spooled before the stream existed
      val backlog = expect("START").toLong
      val before = if (traced) Some(Trace.snapshot(spark.sparkContext)) else None
      val t0 = System.currentTimeMillis()
      val query = Compiler.runStream(spark, spec, s"$runDir/checkpoint")
      val started = System.currentTimeMillis()
      result("stream_start_s") = (started - t0) / 1000.0
      val seen = mutable.TreeMap[Long, Map[String, Any]]()
      try {
        val drainedAt = waitRows(query, backlog, seen, 120000L)
        result("drain_s") = (drainedAt - started) / 1000.0
        before.foreach(b => engineDelta("cold", b, (drainedAt - t0) / 1000.0, t0, drainedAt))
        emit("DRAINED", Map("t_ms" -> drainedAt))
        // trickle: the runner posts on its open-loop schedule
        expect("TRICKLE")
        val trickleStart = System.currentTimeMillis()
        val mark = if (traced) Some(Trace.snapshot(spark.sparkContext)) else None
        val endAt = waitRows(query, backlog + expect("DONE").toLong, seen, 60000L)
        mark.foreach(m =>
          engineDelta("warm", m, (endAt - trickleStart) / 1000.0, trickleStart, endAt))
      } finally {
        query.stop()
        batches ++= seen.values
      }
      // warm drain: a backlog spooled while the stream was down, drained by
      // a restart from the same checkpoint in the same session
      emit("STOPPED", Map("t_ms" -> System.currentTimeMillis()))
      val backlog2 = expect("RESTART").toLong
      val restart = Compiler.runStream(spark, spec, s"$runDir/checkpoint")
      val restarted = System.currentTimeMillis()
      val seen2 = mutable.TreeMap[Long, Map[String, Any]]()
      try result("warm_drain_s") =
        (waitRows(restart, backlog2, seen2, 60000L) - restarted) / 1000.0
      finally {
        restart.stop()
        batches ++= seen2.values
      }
    } finally {
      receiver.stop()
      result("batches") = batches.toSeq
    }
    if (traced) {
      layer("spec.build_s", true)(
        Compiler.pipeline(spec)(Compiler.streamSource(spark, spec.input)))
      val t0 = System.nanoTime()
      val keys = Seq(
        KeySets.loadCollected(spark, indexPath("contamination_gate"),
          TextAnalysis.ContaminationKind)._1.size,
        KeySets.loadCollected(spark, indexPath("exact_dup_gate"),
          Dedup.ExactDupKind)._1.size,
        Dedup.bandIndexLoad(spark, indexPath("near_dup_gate"))._1.collect().length)
      layers("core.index_load_s") = (System.nanoTime() - t0) / 1e9
      layers("core.index_keys") = keys.sum.toDouble
      stageProbes(spark.read.parquet(s"$dataDir/stream"), spec.pipeline)
    }
  }

  /** Poll the query until its committed input reaches `rows`; returns the
    * end time (epoch ms) of the micro-batch that reached it. */
  private def waitRows(q: StreamingQuery, rows: Long,
      batches: mutable.TreeMap[Long, Map[String, Any]], timeoutMs: Long): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def seen = batches.values.map(_("rows").asInstanceOf[Long]).sum
    while (seen < rows) {
      q.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > deadline)
        throw new RuntimeException(s"watchdog: $seen of $rows rows committed")
      for (p <- q.recentProgress if p.numInputRows > 0 && !batches.contains(p.batchId)) {
        val start = Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs
        batches(p.batchId) = Map("id" -> p.batchId, "rows" -> p.numInputRows,
          "start_ms" -> start, "end_ms" -> (start + d.get("triggerExecution")),
          "durations_ms" -> d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap)
      }
      Thread.sleep(5)
    }
    val ordered = batches.values.toSeq
    val reached = ordered.map(_("rows").asInstanceOf[Long]).scanLeft(0L)(_ + _)
      .indexWhere(_ >= rows)
    ordered(reached - 1)("end_ms").asInstanceOf[Long]
  }

  // --- layer probes (traced runs only) -------------------------------------

  /** Each processor alone, through `Compiler.processor`, to the noop sink. */
  private def stageProbes(input: DataFrame, procs: Seq[ProcConf]): Unit =
    for (p <- procs)
      layers(s"spec.stage.${p.typ}_rows_out") =
        noopRows(s"spec.stage.${p.typ}_s", Compiler.processor(p)(input))

  private def noopRows(timeKey: String, df: DataFrame): Double = {
    val obs = Observation()
    layers(timeKey) = timed(df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save())
    obs.get("rows").asInstanceOf[Long].toDouble
  }

  private val Counters = Seq("analysis_s", "optimization_s", "planning_s",
    "jobs", "stages", "tasks", "job_wall_s", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "scan_bytes",
    "output_bytes", "codegen_compile_s", "codegen_classes")

  private def phase(name: String)(body: => Unit): Double = {
    val before = if (traced) Some(Trace.snapshot(spark.sparkContext)) else None
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    before.foreach(b => engineDelta(name, b, wall, from, System.currentTimeMillis()))
    wall
  }

  /** Counter deltas of one phase, and its wall split into engine-busy time
    * (covered by a job, a SQL execution or a Catalyst phase) and the rest,
    * over the phase's window [fromMs, toMs). */
  private def engineDelta(name: String, before: Map[String, Double], wall: Double,
      fromMs: Long, toMs: Long): Unit = {
    val after = Trace.snapshot(spark.sparkContext)
    for (k <- Counters)
      layers(s"spark.$name.$k") = after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
    val busy = Trace.busySeconds(fromMs, toMs)
    layers(s"spark.$name.wall_s") = wall
    layers(s"spark.$name.busy_s") = busy
    layers(s"spark.$name.unattributed_s") = wall - busy
  }

  private def layer[T](key: String, record: Boolean)(body: => T): T = {
    val t0 = System.nanoTime()
    val v = body
    if (traced && record) layers(key) = (System.nanoTime() - t0) / 1e9
    v
  }

  // --- plumbing ------------------------------------------------------------

  private def timed(body: => Unit): Double = timedValue(body)._2

  private def timedValue[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def emit(event: String, fields: Map[String, Any]): Unit = {
    println(s"@@ $event ${Json(fields)}")
    System.out.flush()
  }

  private def expect(command: String): String = {
    val line = scala.io.StdIn.readLine()
    require(line != null && line.startsWith(command), s"expected $command, got $line")
    line.stripPrefix(command).trim
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Peak bytes held by cached blocks, polled every 100 ms. */
  private class CachePoller extends Thread("perfbench-cache-poller") {
    @volatile var peak = 0.0
    setDaemon(true)
    override def run(): Unit =
      try while (true) {
        val now = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum.toDouble
        peak = math.max(peak, now)
        Thread.sleep(100)
      } catch { case _: InterruptedException => () }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => apply(other.toString)
  }
}
