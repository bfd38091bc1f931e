package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.util.{Failure, Random, Success}

import org.apache.spark.sql.SparkSession

import graft.exec.{Engine, TaskContext}
import graft.model.{Errors, ExceptionGroup}
import graft.parser.{SpanParser, WorkflowSummary}
import graft.sinks.{Mermaid, Render, StaticDataSink}
import graft.spans.SpanSource

/** One task of a generated DAG. Kinds: a driver-only body, a body that runs
  * one small Spark job, a body that raises, a body that outlives its
  * timeout. */
final case class TaskSpec(idx: Int, id: String, deps: Seq[Int], kind: Int,
    cpus: Int, n: Long)

/** A seeded layered DAG and everything its run must produce. The number of
  * tasks of each kind, and of tasks skipped because an upstream failed, is
  * fixed by the shape; the seed picks positions, edges and inputs. */
final class Dag(val tasks: IndexedSeq[TaskSpec]) {
  import Dag._
  private val dependents = tasks.flatMap(t => t.deps.map(_ -> t.idx)).groupMap(_._1)(_._2)
  private val failedSet: Set[Int] = {
    val out = scala.collection.mutable.Set.empty[Int]
    tasks.foreach(t => if (t.kind == Raise || t.kind == Timeout ||
      t.deps.exists(out.contains)) out += t.idx)
    out.toSet
  }
  /** Tasks whose body runs: all but those downstream of a failure. */
  val executed: IndexedSeq[TaskSpec] = tasks.filter(t =>
    !t.deps.exists(failedSet.contains))
  val sinks: IndexedSeq[TaskSpec] = tasks.filterNot(t => dependents.contains(t.idx))
  val expectedValue: Map[Int, Long] = {
    val v = scala.collection.mutable.Map.empty[Int, Long]
    tasks.foreach { t =>
      if (!failedSet.contains(t.idx)) v(t.idx) = base(t) + t.deps.map(v).sum
    }
    v.toMap
  }
  val expectedMessages: Set[String] = executed.collect {
    case t if t.kind == Raise => raiseMessage(t.id)
    case t if t.kind == Timeout => TimeoutMessage
  }.toSet
  def succeeds(t: TaskSpec): Boolean = !failedSet.contains(t.idx)

  /** Spans the engine must emit for one run, by span name. */
  val expectedSpans: Map[String, Int] = Map(
    "dag-top-span" -> 1,
    "execute-task" -> executed.size,
    "timeout-guard" -> executed.size,
    "call-python-function" -> executed.count(_.kind != Timeout),
    "task-dependency" -> executed.map(_.deps.size).sum,
    "named-value" -> executed.map(t => logged(t.kind)).sum)

  /** Task ids the parsed log must contain, with their success flag. */
  def expectedRuns: Map[String, Boolean] = executed.map(t => t.id -> succeeds(t)).toMap

  /** Builds the DAG on `engine`. `onEnd` sees each finished body's index. */
  def nodes(engine: Engine, spark: SparkSession, onStart: Int => Unit,
      onEnd: (Int, Long) => Unit): Seq[graft.exec.Node] = {
    val built = new Array[graft.exec.Node](tasks.size)
    tasks.foreach { t =>
      val mk = engine.task(t.id, Map("task.kind" -> KindNames(t.kind)),
        numCpus = t.cpus,
        timeoutS = if (t.kind == Timeout) Some(TimeoutS) else None) { args =>
        onStart(t.idx)
        val ctx = TaskContext.get
        val up = args.map(_.asInstanceOf[Long]).sum
        val v = t.kind match {
          case Driver =>
            val v = t.n + up
            ctx.logInt("value", v)
            ctx.logFloat("half", v / 2.0)
            ctx.logBoolean("even", v % 2 == 0)
            v
          case SparkJob =>
            val s = spark.range(0, t.n, 1, 2).selectExpr("sum(id)").head().getLong(0)
            ctx.logInt("sum", s)
            ctx.logString("plan", "range-sum")
            s + up
          case Raise =>
            ctx.logString("note", "about to fail")
            throw new RuntimeException(raiseMessage(t.id))
          case _ =>
            Thread.sleep(60000L)
            -1L
        }
        onEnd(t.idx, v)
        v
      }
      built(t.idx) = mk(t.deps.map(built(_)))
    }
    sinks.map(t => built(t.idx))
  }
}

object Dag {
  val Driver = 0
  val SparkJob = 1
  val Raise = 2
  val Timeout = 3
  val KindNames = Vector("driver", "spark", "raise", "timeout")
  val TimeoutMessage = "Timeout error: execution did not finish within timeout limit."
  def raiseMessage(id: String) = s"seeded failure in $id"
  def logged(kind: Int): Int = Vector(3, 2, 1, 0)(kind)
  def base(t: TaskSpec): Long =
    if (t.kind == SparkJob) t.n * (t.n - 1) / 2 else t.n

  /** The shape: five layers of twelve tasks. Every layer has four Spark
    * bodies, and one Spark body and one driver body that take two CPUs; the
    * fourth layer holds three raising tasks and one that times out, each
    * with exactly one dependent in the last layer, which is skipped. Kinds
    * and edges follow from each task's rank in its layer, so every seed
    * gives the same graph up to labels; the seed permutes which task holds
    * which rank and draws the inputs. */
  val Layers = 5
  val Width = 12
  val SparkJobs = 4
  val Raisers = 3
  val TimeoutS = 0.25

  def generate(rnd: Random): Dag = {
    val specials = Raisers + 1
    val out = scala.collection.mutable.ArrayBuffer.empty[TaskSpec]
    var prevNormal = IndexedSeq.empty[Int]
    var prevSpecial = IndexedSeq.empty[Int]
    (0 until Layers).foreach { l =>
      val pos = rnd.shuffle((0 until Width).toIndexedSeq)
      val normal = scala.collection.mutable.ArrayBuffer.empty[Int]
      val special = scala.collection.mutable.ArrayBuffer.empty[Int]
      pos.zipWithIndex.foreach { case (p, rank) =>
        val idx = out.size
        val kind =
          if (rank < SparkJobs) SparkJob
          else if (l == Layers - 2 && rank >= Width - specials)
            if (rank == Width - 1) Timeout else Raise
          else Driver
        val cpus = if (rank == 0 || rank == SparkJobs) 2 else 1
        val victim = l == Layers - 1 && rank >= Width - prevSpecial.size
        val deps =
          if (l == 0) Nil
          else if (victim) Seq(prevSpecial(rank - (Width - prevSpecial.size)))
          else (0 to rank % 3).map(j => prevNormal((rank + j) % prevNormal.size)).distinct
        val n = if (kind == SparkJob) 1000L + rnd.nextInt(100000) else rnd.nextInt(1000).toLong
        out += TaskSpec(idx, f"t${l}_$p%02d", deps, kind, cpus, n)
        if (kind >= Raise) special += idx else normal += idx
      }
      prevNormal = normal.toIndexedSeq
      prevSpecial = special.toIndexedSeq
    }
    new Dag(out.toIndexedSeq)
  }

  /** Leaf messages of a runDag failure. */
  def messages(e: Throwable): Set[String] = e match {
    case g: ExceptionGroup => g.exceptions.flatMap(messages).toSet
    case other => Set(Errors.messageOf(other))
  }

  /** Checks a parsed summary against the DAG: one task run per executed
    * task with the right outcome, and each driver task's logged value.
    * Returns the number of mismatching task runs. */
  def checkSummary(dag: Dag, s: WorkflowSummary): Int = {
    val want = dag.expectedRuns
    val got = s.taskRuns.map(r => r.taskId -> r).toMap
    val byId = dag.tasks.map(t => t.id -> t).toMap
    val missing = want.keySet.diff(got.keySet).size + got.keySet.diff(want.keySet).size
    missing + got.count { case (id, r) =>
      want.get(id).exists { ok =>
        val t = byId(id)
        r.isSuccess != ok || (t.kind == Driver && r.loggedValues.get("value")
          .forall(_.content.toString != dag.expectedValue(t.idx).toString))
      }
    }
  }
}

/** The paper's round trip: run a seeded DAG with the engine, write its span
  * log, read it back, parse it into task summaries, render the Mermaid DAG
  * and Gantt inputs and the static site's data for the run. The engine's
  * write path and the parser's fixed cost per run dominate here. */
final class Workflow(spark: SparkSession, seed: Long, work: String, cpus: Int)
    extends Workload {
  val name = "workflow"
  val probe: Probe = Calibration.range(spark, cpus)
  private val dag = Dag.generate(new Random(seed))
  private var units = 0

  def setup(rep: Int): Unit = unit(new OpLog)

  def unit(log: OpLog): UnitOut = {
    units += 1
    val dir = Paths.get(work, "workflow", s"u$units")
    Files.createDirectories(dir)
    val engine = new Engine(spark, cpus)
    val started = ConcurrentHashMap.newKeySet[Int]()
    val ended = new ConcurrentHashMap[Int, (Long, Long)]()
    val nodes = dag.nodes(engine, spark, i => started.add(i),
      (i, v) => ended.put(i, (Clock.nowUs(), v)))
    val t0 = Clock.nowUs()
    val result = log("exec", "runDag")(engine.runDag(nodes, Map("workflow.seed" -> seed)))
    val makespan = Clock.nowUs() - t0
    val spans = engine.spans

    val path = dir.resolve("spans.jsonl").toString
    log("exec", "writeJsonl")(engine.sink.writeJsonl(path))
    val df = log("spans", "readJsonl") {
      val df = SpanSource.readJsonl(spark, path)
      df.count()
      df
    }
    val summary = log("parser", "parseSpans")(SpanParser.parseSpans(df))
    val (dagMmd, gantt) = log("sinks", "mermaid") {
      val d = Mermaid.dagInputFile(summary, generateLinks = true)
      val g = Mermaid.ganttInputFile(summary)
      Render.writeText(dir.resolve("dag.mmd"), d)
      Render.writeText(dir.resolve("gantt.mmd"), g)
      (d, g)
    }
    val entries = log("sinks", "staticdata") {
      val www = dir.resolve("www")
      val e = StaticDataSink.process(summary, www)
      StaticDataSink.writeStaticData(e, www)
      e
    }

    // Outcome checks: every task, then the report as one operation.
    // The timeout counts from the guard's start, so the task that times out
    // may be killed while still queued for its CPUs: its body may not start.
    val wrong = dag.tasks.filterNot { t =>
      val ran = started.contains(t.idx)
      val shouldRun = dag.executed.exists(_.idx == t.idx)
      (ran == shouldRun || t.kind == Dag.Timeout) && (!dag.succeeds(t) ||
        Option(ended.get(t.idx)).exists(_._2 == dag.expectedValue(t.idx)))
    }
    if (wrong.nonEmpty) System.err.println(s"[perfbench] workflow unit $units: " +
      wrong.map(t => s"${t.id} kind ${t.kind} started ${started.contains(t.idx)} " +
        s"ended ${ended.get(t.idx)} want ${dag.expectedValue.get(t.idx)}").mkString("; "))
    val resultOk = result match {
      case Failure(e) => Dag.messages(e) == dag.expectedMessages
      case Success(_) => false
    }
    val counts = spans.groupMapReduce(_.name)(_ => 1)(_ + _)
    val reportOk = resultOk && counts == dag.expectedSpans &&
      Dag.checkSummary(dag, summary) == 0 && entries.size == 1 + dag.executed.size &&
      dagMmd.linesIterator.count(_.contains("[\"")) == dag.executed.size &&
      gantt.linesIterator.count(_.trim.startsWith("section ")) == dag.executed.size
    if (!reportOk) System.err.println(s"[perfbench] workflow unit $units: result " +
      s"$resultOk spans $counts want ${dag.expectedSpans}")

    val lat = dag.executed.flatMap { t =>
      Option(ended.get(t.idx)).map { case (end, _) =>
        val ready = (t.deps.map(d => ended.get(d)._1) :+ t0).max
        t.id -> (end - ready)
      }
    }
    UnitOut(lat, dag.executed.size.toLong, makespan,
      attempted = dag.tasks.size + 1L,
      failed = wrong.size + (if (reportOk) 0L else 1L),
      execSpans = spans)
  }

  override def info: Map[String, Any] = Map(
    "tasks" -> dag.tasks.size, "executed" -> dag.executed.size,
    "spark_tasks" -> dag.tasks.count(_.kind == Dag.SparkJob),
    "spans_per_run" -> dag.expectedSpans.values.sum)
}
