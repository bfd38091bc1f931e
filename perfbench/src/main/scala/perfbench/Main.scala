package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.model.TimeFns

/** Runs one workload and writes its result file.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --cpus <n> --work <dir> --result <file> [--inputs <dir,dir,...>]
  *
  * Set-up runs three times and is timed apart from the units. Timed units
  * then run back to back for `--seconds`. With `--trace 1` every other unit
  * runs traced, so the tracing overhead is measured in the same process;
  * end-to-end metrics come from the untraced units only. After each untraced
  * unit the workload's calibration probe runs, outside the timed window, and
  * times are also reported scaled to the probe's reference speed. */
object Main {
  private val SetupReps = 3
  private val CalProbes = 5
  private val CalWarmup = 5
  private val MB = 1048576.0

  /** A failed operation is counted by the caller; if it took the
    * SparkContext down, nothing after it can be measured. */
  def failedOp(spark: SparkSession, what: String): Unit = {
    System.err.println(s"[perfbench] failed: $what")
    if (spark.sparkContext.isStopped) {
      System.err.println("[perfbench] SparkContext stopped; aborting")
      sys.exit(3)
    }
  }

  private final case class Done(startUs: Long, endUs: Long, ops: Seq[Op],
      out: UnitOut, heapMb: Double) {
    def wallUs: Long = endUs - startUs
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val inputs = a.get("inputs").map(_.split(",").toSeq).getOrElse(Nil)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val sessionS = since(jvmStart)
    val w = Workload(workloadName, spark, seed, work, cpus, inputs)
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      val s = since(t0)
      (0 until CalWarmup).foreach(_ => w.probe.time())
      s
    }

    var attempted = 0L
    var failed = 0L
    def runUnit(): Done = {
      val log = new OpLog
      val s = Clock.nowUs()
      val u = try w.unit(log) catch { case e: Throwable =>
        failedOp(spark, s"$workloadName unit: $e")
        UnitOut(Nil, 0L, 0L, 1L, 1L)
      }
      val e = Clock.nowUs()
      attempted += u.attempted
      failed += u.failed
      Done(s, e, log.ops, u, Jvm.heapAfterGcMb())
    }
    // The probe runs after every untraced unit, outside the timed window.
    val calS = scala.collection.mutable.ArrayBuffer.empty[Double]
    def calibrate(): Unit = (0 until CalProbes).foreach(_ => calS += w.probe.time())

    // Traced runs alternate untraced and traced units, so the tracing
    // overhead is not confounded with warm-up or with the box's drift.
    val plain = scala.collection.mutable.ArrayBuffer.empty[Done]
    val done = scala.collection.mutable.ArrayBuffer.empty[Done]
    val listener = new LayerListener
    var gcMs = 0L
    var pinnedMb = 0.0
    val t0 = System.nanoTime()
    while (plain.isEmpty || done.size < (if (traced) 1 else 0) || since(t0) < seconds) {
      if (!traced || plain.size <= done.size) { plain += runUnit(); calibrate() }
      else {
        val pinned0 = storageMb(spark)
        val gc0 = Jvm.gcMs()
        listener.attach(spark)
        done += runUnit()
        listener.detach(spark)
        gcMs += Jvm.gcMs() - gc0
        pinnedMb += storageMb(spark) - pinned0
      }
    }
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else layerMetrics(spark, w.name, work, cpus, plain.toSeq, done.toSeq, listener,
        gcMs / 1000.0, pinnedMb)
    val units = plain.toSeq
    val checkStart = System.nanoTime()
    w.check()
    val checkS = since(checkStart)

    val walls = units.map(_.wallUs / 1e6)
    // Latency percentiles are taken over each operation's median across the
    // units: pooled samples put the percentile wherever a burst of slow
    // samples pushes it, which on a lumpy mix of operations is a gap.
    val latByOp = units.flatMap(_.out.latenciesUs).groupMap(_._1)(_._2 / 1000.0)
      .map { case (k, v) => k -> median(v) }
    val lat = latByOp.values.toSeq
    val wallS = medianUnitS(units)
    val itemsSpanS = units.map(_.out.itemsSpanUs / 1e6).filter(_ > 0)
    // Items per second of the whole unit. Where a workload names a narrower
    // window (workflow: the runDag makespan), the rate over that window is
    // recorded too, ungated: it spreads more than the bound allows.
    val items = median(units.map(_.out.items.toDouble))
    val itemsPerS = items / wallS
    val spanItemsPerS = if (itemsSpanS.nonEmpty) items / median(itemsSpanS) else itemsPerS
    // Times at the reference host speed: scaled by how much slower than
    // its reference the workload's probe ran in this run.
    val speed = w.probe.refS / median(calS.toSeq)
    val e2e = Map(
      "setup_s" -> median(setupS),
      "wall_s" -> wallS,
      "wall_ref_s" -> wallS * speed,
      "op_p50_ms" -> quantile(lat, 0.5),
      "op_p90_ms" -> quantile(lat, 0.9),
      "items_per_s" -> itemsPerS,
      "items_per_ref_s" -> itemsPerS / speed,
      "span_items_per_s" -> spanItemsPerS,
      "span_items_per_ref_s" -> spanItemsPerS / speed,
      "probe_s" -> median(calS.toSeq),
      "peak_heap_mb" -> units.map(_.heapMb).max)

    val result = Map(
      "workload" -> w.name,
      "seed" -> seed,
      "spark" -> Map(
        "master" -> sc.master,
        "cpus" -> sc.defaultParallelism,
        "version" -> spark.version,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")),
      "jvm" -> Map(
        "version" -> System.getProperty("java.version"),
        "vm" -> System.getProperty("java.vm.name"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / MB),
      "setup_reps_s" -> setupS,
      "phases_s" -> Map("session" -> sessionS, "setup" -> setupS.sum,
        "check" -> checkS, "total" -> since(jvmStart)),
      "unit_walls_s" -> walls,
      "probe" -> w.probe.name,
      "probe_samples_s" -> calS.toSeq,
      "units" -> units.size,
      "latency_samples" -> units.map(_.out.latenciesUs.size).sum,
      "latency_ops" -> lat.size,
      "latency_ms_by_op" -> latByOp,
      "op_ms" -> units.flatMap(_.ops).groupBy(o => o.fn)
        .map { case (k, os) => k -> median(os.map(_.durUs / 1000.0)) },
      "attempted" -> attempted,
      "failed" -> failed,
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "info" -> w.info,
      "finished" -> TimeFns.toIso(java.time.Instant.now()))
    Files.writeString(Paths.get(a("result")), Json(result))
    graft.llm.Similarity.releaseBroadcasts()
    spark.stop()
  }

  /** A unit's wall time, robust to a slow unit: the sum over the unit's
    * operations of each one's median across units, plus the median of
    * what the operations leave uncovered. */
  private def medianUnitS(units: Seq[Done]): Double = {
    val perOp = units.flatMap(_.ops).groupBy(o => (o.layer, o.fn))
      .values.map(os => median(os.map(_.durUs / 1e6))).sum
    perOp + median(units.map(u => (u.wallUs - u.ops.map(_.durUs).sum) / 1e6))
  }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def layerMetrics(spark: SparkSession, workload: String, work: String,
      cpus: Int, plain: Seq[Done], done: Seq[Done],
      l: LayerListener, gcS: Double, pinnedMb: Double): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val units = done.map(d => TracedUnit(d.startUs, d.endUs, d.ops))
    val n = units.size.toDouble
    val wallS = units.map(u => (u.endUs - u.startUs) / 1e6).sum
    val jobs = l.jobs.asScala.toSeq
    val stages = l.stages.asScala.toSeq
    val phases = l.phases.asScala.toSeq
    val (rows, orphans) = Trace.build(workload, units, jobs, stages)
    val (times, check) = Trace.roundTrip(spark, s"$work/trace.jsonl", rows, orphans)
    if (!check.ok) System.err.println(s"[perfbench] trace check failed: $check")
    val byId = times.map(t => t.id -> t).toMap
    val ops = units.flatMap(_.ops)
    def share(p: Op => Boolean): Double = ops.filter(p).map(_.durUs).sum / 1e6 / wallS
    def layerShare(layer: String, fn: String = ""): Double =
      share(o => o.layer == layer && (fn.isEmpty || o.fn == fn))
    val parseOps = times.filter(t => t.name == "op" && t.fn == "parseSpans")
    val parseJobs = times.count(t => t.name == "job" &&
      t.parent.flatMap(byId.get).exists(_.fn == "parseSpans"))
    val (overhead, queue) = execShares(done.flatMap(_.out.execSpans))
    val sums = l.sums
    val runS = sums.runMs / 1000.0 / n
    Map(
      "catalyst.analysis_s" -> phases.map(_.analysisMs).sum / 1000.0 / n,
      "catalyst.optimization_s" -> phases.map(_.optimizationMs).sum / 1000.0 / n,
      "catalyst.planning_s" -> phases.map(_.planningMs).sum / 1000.0 / n,
      "scheduler.jobs" -> jobs.size / n,
      "scheduler.stages" -> stages.size / n,
      "scheduler.tasks" -> sums.tasks / n,
      "driver.gap_s" -> times.filter(_.name == "op").map(_.selfUs).sum / 1e6 / n,
      "driver.result_mb" -> sums.result / MB / n,
      "executor.run_s" -> runS,
      "executor.cpu_s" -> sums.cpuNs / 1e9 / n,
      "executor.gc_s" -> gcS / n,
      "executor.busy_ratio" -> runS / (wallS / n * cpus),
      "shuffle.write_mb" -> sums.shuffleWrite / MB / n,
      "shuffle.read_mb" -> sums.shuffleRead / MB / n,
      "spill.mb" -> sums.spill / MB / n,
      "storage.pinned_mb" -> pinnedMb / n,
      "queries.build.share" -> ops.map(_.attrs.getOrElse("build_us", 0L)).sum / 1e6 / wallS,
      "queries.Relational.share" -> layerShare("queries.Relational"),
      "queries.LlmOps.share" -> layerShare("queries.LlmOps"),
      "queries.SpanAlgebra.share" -> layerShare("queries.SpanAlgebra"),
      "queries.GraphOps.share" -> layerShare("queries.GraphOps"),
      "queries.TpchShapes.share" -> layerShare("queries.TpchShapes"),
      "queries.CodecOps.share" -> layerShare("queries.CodecOps"),
      "exec.runDag.share" -> layerShare("exec", "runDag"),
      "exec.writeJsonl.share" -> layerShare("exec", "writeJsonl"),
      "exec.spans" -> done.map(_.out.execSpans.size).sum / n,
      "exec.task_overhead.share" -> overhead,
      "exec.queue_wait.share" -> queue,
      "spans.readJsonl.share" -> layerShare("spans", "readJsonl"),
      "spans.readZips.share" -> layerShare("spans", "readZips"),
      "parser.parseSpans.share" -> layerShare("parser", "parseSpans"),
      "parser.parseSpans.jobs" ->
        (if (parseOps.isEmpty) 0.0 else parseJobs.toDouble / parseOps.size),
      "sinks.mermaid.share" -> layerShare("sinks", "mermaid"),
      "sinks.staticdata.share" -> layerShare("sinks", "staticdata"),
      "trace.overhead_ratio" ->
        median(done.map(_.wallUs / 1e6)) / median(plain.map(_.wallUs / 1e6)),
      "trace.spans" -> check.spans / n,
      "trace.ok" -> (if (check.ok) 1.0 else 0.0))
  }

  /** Engine overhead inside each task span: the part of `execute-task` not
    * spent in `call-python-function`, and the wait from guard start to call
    * start (the CPU-budget queue), both as shares of total task span time. */
  private def execShares(spans: Seq[graft.model.SpanRow]): (Double, Double) = {
    def us(s: String) = TimeFns.iso8601ToEpochUs(s)
    val kids = spans.groupBy(_.parent_id)
    var total, overhead, queue = 0L
    spans.filter(_.name == "execute-task").foreach { e =>
      for {
        g <- kids.getOrElse(Some(e.context.span_id), Nil).find(_.name == "timeout-guard")
        c <- kids.getOrElse(Some(g.context.span_id), Nil).find(_.name == "call-python-function")
      } {
        val d = us(e.end_time) - us(e.start_time)
        total += d
        overhead += d - (us(c.end_time) - us(c.start_time))
        queue += us(c.start_time) - us(g.start_time)
      }
    }
    if (total == 0) (0.0, 0.0) else (overhead.toDouble / total, queue.toDouble / total)
  }
}
