package graft.parser

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.{AttrCodec, SerializedData}
import graft.spans.SpansOps._

/** Span→summary parser (SURVEY §2 Group B, §3.2): the Spark re-expression of
  * the reference's `parse_spans`
  * (`composable_logs/opentelemetry_task_span_parser.py:413-445`).
  *
  * Structural difference from the reference (SURVEY §4.1): the reference
  * re-walks the whole span list once per task (O(tasks × spans)); here each
  * trace's spans build one [[SpanTree]] and every span walks its own
  * `execute-task` ancestors once (O(spans × depth), depth ≤ ~6).
  * [[parseSpans]] does that walk on the driver over ONE collected
  * projection — the summary is driver-sized by contract (it is the
  * reference's whole output). The distributed views over many runs —
  * [[taggedSpans]], [[namedValuesDF]], [[artifactsDF]], [[taskRunsDF]] —
  * do the same walk per trace in a generator after one shuffle by trace.
  */
object SpanParser {

  /** B1 — legacy attribute-form dependencies (`task-dependency` spans). */
  def extractTaskDependencies(spans: DataFrame): Set[(String, String)] =
    spans.filterNested(Seq("name"), "task-dependency")
      .select(
        col("attributes").getItem("from_task_span_id").as("f"),
        col("attributes").getItem("to_task_span_id").as("t"))
      .distinct().collect()
      .map(r => (AttrCodec.parse(r.getString(0)).asInstanceOf[String],
        AttrCodec.parse(r.getString(1)).asInstanceOf[String]))
      .toSet

  /** B2 — link-form dependencies (`execute-task` spans' links); asserted
    * equal to B1 by the reference's tests (`test_dag_runner.py:139-144`). */
  def extractTaskDependenciesFromLinks(spans: DataFrame): Set[(String, String)] =
    spans.filterNested(Seq("name"), "execute-task")
      .select(explode(col("links")).as("l"), col("context.span_id").as("sid"))
      .select(col("l.context.span_id").as("f"), col("sid").as("t"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet

  /** (task_span_id, span_id) ownership pairs: every span labeled with each
    * `execute-task` ancestor (inclusive).
    *
    * Spans are partitionable by trace (one workflow run per trace — the
    * same bound the reference assumes by holding a run's spans in one
    * list), so ownership is ONE shuffle + an in-memory [[SpanTree]] walk
    * per trace, not a per-depth iterative join. */
  def taggedSpans(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    spans
      .select(col("context.trace_id").as("trace"),
        struct(
          col("context.span_id").as("sid"),
          col("parent_id"),
          // coalesce: a span with a null name (tolerated by SpanSource)
          // must yield a non-null flag, not a null struct field
          coalesce(col("name") === "execute-task", lit(false)).as("is_task"))
          .as("s"))
      .groupBy(col("trace"))
      .agg(collect_list(col("s")).as("ss"))
      // Generate over Tungsten rows — the typed groupByKey formulation paid
      // a tuple-encoder round-trip per span plus an extra shuffle (the
      // lambda key is opaque to the planner)
      .select(Bridge.column(OwnershipGen(Bridge.expression(col("ss")))))
      .select(col("task_span_id"), col("id"))
  }

  /** One trace's span tree: the inclusive `execute-task` ancestor walk
    * shared by [[OwnershipGen]], [[TaskRunsGen]] and [[parseSpans]]. Its
    * edge semantics are theirs: callers skip null span ids (such a span
    * owns and is owned by nothing), a span with a null name is added as a
    * non-task, and a visited set ends `parent_id` cycles in malformed input
    * (the reference assumes acyclicity; we guard instead of spinning). A
    * span id added twice keeps its last non-null parent. */
  private final class SpanTree {
    private val parentOf = new java.util.HashMap[String, String]()
    private val tasks = new java.util.HashSet[String]()
    private val seen = new java.util.HashMap[String, Integer]()

    def add(sid: String, parent: String, isTask: Boolean): Unit = {
      if (parent != null) parentOf.put(sid, parent)
      if (isTask) tasks.add(sid)
      seen.merge(sid, 1, (a: Integer, b: Integer) => a + b)
    }

    /** Adds one generator element, `struct<sid, parent_id, is_task, ...>`;
      * returns its span id, or null when it has none. */
    def add(e: org.apache.spark.sql.catalyst.InternalRow): String =
      if (e.isNullAt(0)) null
      else {
        val sid = e.getUTF8String(0).toString
        add(sid, if (e.isNullAt(1)) null else e.getUTF8String(1).toString,
          !e.isNullAt(2) && e.getBoolean(2))
        sid
      }

    /** How many times `sid` was added. */
    def occurrences(sid: String): Int = seen.getOrDefault(sid, 0)

    /** `f` on each `execute-task` ancestor of `sid`, itself included,
      * nearest first. */
    def foreachOwner(sid: String)(f: String => Unit): Unit = {
      val visited = new java.util.HashSet[String]()
      var cur = sid
      while (cur != null && visited.add(cur)) {
        if (tasks.contains(cur)) f(cur)
        cur = parentOf.get(cur)
      }
    }
  }

  /** Generator emitting (task_span_id, id) ownership pairs for one trace's
    * spans: every span labeled with each `execute-task` ancestor
    * (inclusive). Input: `array<struct<sid string, parent_id string,
    * is_task boolean>>`. */
  case class OwnershipGen(child: org.apache.spark.sql.catalyst.expressions.Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.Generator
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    override def elementSchema: StructType = StructType(Seq(
      StructField("task_span_id", StringType, nullable = false),
      StructField("id", StringType, nullable = false)))

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val arr = child.eval(input)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val tree = new SpanTree
      val ids = new Array[String](n)
      var i = 0
      while (i < n) {
        ids(i) = tree.add(arr.getStruct(i, 3))
        i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      ids.foreach { sid =>
        if (sid != null) tree.foreachOwner(sid) { t =>
          out += InternalRow(UTF8String.fromString(t), UTF8String.fromString(sid))
        }
      }
      out
    }

    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
      copy(child = newChild)
  }

  /** Payload spans (`named-value` / `artefact`, status OK) joined to their
    * owning task. */
  def payloadDF(spans: DataFrame, pairs: DataFrame, spanName: String): DataFrame =
    spans.filterNested(Seq("name"), spanName)
      .filterNested(Seq("status", "status_code"), "OK")
      .join(pairs, col("context.span_id") === col("id"))
      .select(col("task_span_id"), col("context.span_id").as("span_id"),
        col("start_time"), col("attributes"))

  def namedValuesDF(spans: DataFrame): DataFrame =
    payloadDF(spans, taggedSpans(spans), "named-value")

  def artifactsDF(spans: DataFrame): DataFrame =
    payloadDF(spans, taggedSpans(spans), "artefact")

  /** Spans whose attributes the parse reads whole; every other span
    * contributes only its `task.*` / `workflow.*` keys. */
  private val WholeAttrSpans = Seq("named-value", "artefact", "task-dependency")

  /** The full parse (B3/B4): spans → [[WorkflowSummary]], as ONE Spark
    * job and one driver pass.
    *
    * The job collects one narrow row per span: ids, name, times, status
    * code, its exception events, and its attributes (whole on payload and
    * dependency spans, cut to `task.*` / `workflow.*` keys elsewhere). The
    * pass builds each trace's [[SpanTree]], credits every span to its
    * owning tasks, and assembles the summary. Ownership is keyed by
    * (trace, span id), as in [[taggedSpans]] and [[taskRunsDF]]: a span id
    * that repeats in another trace is another span. The input is read
    * once and never persisted, so a caller's own cache is left as it was. */
  def parseSpans(spans: DataFrame): WorkflowSummary = {
    val rows = spans.select(
        col("context.trace_id"), col("context.span_id"), col("parent_id"),
        col("name"), col("start_time"), col("end_time"),
        col("status.status_code"),
        when(col("name").isin(WholeAttrSpans: _*), col("attributes"))
          .otherwise(map_filter(col("attributes"), (k, _) =>
            k.startsWith("task.") || k.startsWith("workflow."))),
        filter(col("events"), e => e.getField("name") === "exception"))
      .collect()

    val trees = mutable.HashMap.empty[String, SpanTree]
    rows.foreach { r =>
      if (!r.isNullAt(1)) trees.getOrElseUpdate(r.getString(0), new SpanTree)
        .add(r.getString(1), r.getString(2), r.getString(3) == "execute-task")
    }

    // One pass over the spans in collect order. A task is keyed by
    // (trace, task span id); each span is credited to every owning task
    // once per occurrence of its id in the trace — the multiplicity of
    // the (task, span) pairs [[taggedSpans]] emits.
    type Task = (String, String)
    var minStart, maxEnd: String = null
    val workflowRaws = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
    val taskRaws = mutable.LinkedHashMap.empty[(Task, String), mutable.LinkedHashSet[String]]
    val excRows, valueRows, artifactRows = mutable.ArrayBuffer.empty[(Task, Row)]
    val taskSpans = mutable.ArrayBuffer.empty[Row]
    val depRaws = mutable.LinkedHashSet.empty[(String, String)]
    rows.foreach { r =>
      val (trace, sid, name) = (r.getString(0), r.getString(1), r.getString(3))
      val attrs: collection.Map[String, String] =
        if (r.isNullAt(7)) Map.empty else r.getMap[String, String](7)
      // B4 timing: min/max over ALL spans; the reference compares ISO
      // strings lexicographically, which is order-correct for the fixed
      // format
      val (start, end) = (r.getString(4), r.getString(5))
      if (start != null && (minStart == null || start < minStart)) minStart = start
      if (end != null && (maxEnd == null || end > maxEnd)) maxEnd = end
      attrs.foreach { case (k, v) =>
        if (k.startsWith("workflow."))
          workflowRaws.getOrElseUpdate(k, mutable.LinkedHashSet.empty) += v
      }
      if (name == "execute-task") taskSpans += r
      if (name == "task-dependency")
        depRaws += ((attrs.getOrElse("from_task_span_id", null),
          attrs.getOrElse("to_task_span_id", null)))
      if (sid != null) {
        val tree = trees(trace)
        val owners = mutable.ArrayBuffer.empty[Task]
        tree.foreachOwner(sid)(t => owners += ((trace, t)))
        val payload = r.getString(6) == "OK" &&
          (name == "named-value" || name == "artefact")
        val hasExc = !r.isNullAt(8) && r.getSeq[Row](8).nonEmpty
        for (_ <- 0 until tree.occurrences(sid); task <- owners) {
          attrs.foreach { case (k, v) =>
            if (k.startsWith("task."))
              taskRaws.getOrElseUpdate((task, k), mutable.LinkedHashSet.empty) += v
          }
          if (hasExc) excRows += ((task, r))
          if (payload)
            (if (name == "named-value") valueRows else artifactRows) += ((task, r))
        }
      }
    }

    val timing = Timing(minStart, maxEnd)

    // B3 workflow attribute union (same conflict contract as
    // SpansOps.attributesUnion)
    val workflowAttributes: Map[String, Any] = workflowRaws.iterator
      .map { case (k, raws) => k -> resolveAttr(k, raws.toSeq) }.toMap
    val topSpanId: String =
      workflowAttributes.get("workflow.workflow_run_id") match {
        case Some(s: String) => s
        case _ => "NO-TOP-SPAN--TEMP" + UUID.randomUUID().toString
      }

    // Task-subtree attribute union with per-(task, key) conflict detection.
    val taskAttrs: Map[Task, Map[String, Any]] = taskRaws.toSeq
      .map { case ((task, k), raws) => (task, k, resolveAttr(k, raws.toSeq)) }
      .groupBy(_._1)
      .map { case (task, entries) => task -> entries.map(e => e._2 -> e._3).toMap }

    // Each task's spans in a deterministic order: by (start_time, span_id),
    // null-tolerant — SpanSource tolerates missing start_time/span_id and
    // a raw String Ordering NPEs on null. The sort is stable: ties keep
    // their collect order.
    def byTask(rows: mutable.ArrayBuffer[(Task, Row)]): Map[Task, Seq[Row]] =
      rows.toSeq
        .sortBy { case (_, r) =>
          (Option(r.getString(4)).getOrElse(""), Option(r.getString(1)).getOrElse(""))
        }
        .groupBy(_._1)
        .map { case (task, rs) => task -> rs.map(_._2) }

    // Exceptions per task, in event order within a span.
    val taskExceptions: Map[Task, Seq[Map[String, Any]]] =
      byTask(excRows).map { case (task, rs) =>
        task -> rs.flatMap(_.getSeq[Row](8)).map { e =>
          Map[String, Any](
            "name" -> e.getAs[String]("name"),
            "timestamp" -> e.getAs[String]("timestamp"),
            "attributes" -> AttrCodec.parseMap(
              e.getAs[collection.Map[String, String]]("attributes").toMap))
        }
      }

    // B6 named values: exact attr key set + duplicate-name rejection.
    val taskValues: Map[Task, Map[String, LoggedValueContent]] =
      byTask(valueRows)
        .map { case (task, rs) =>
          val seen = mutable.LinkedHashMap.empty[String, LoggedValueContent]
          rs.foreach { r =>
            val attrs = r.getMap[String, String](7).toMap
            require(attrs.keySet == Set("name", "type", "encoding", "content_encoded"),
              s"named-value span has unexpected attribute keys: ${attrs.keySet}")
            val parsed = AttrCodec.parseMap(attrs)
            val name = parsed("name").asInstanceOf[String]
            if (seen.contains(name)) throw new IllegalArgumentException(
              s"Named value $name has been logged multiple times.")
            val tpe = parsed("type").asInstanceOf[String]
            val content = SerializedData(tpe,
              parsed("encoding").asInstanceOf[String],
              parsed("content_encoded").asInstanceOf[String]).decode()
            seen(name) = LoggedValueContent(tpe, content)
          }
          task -> seen.toMap
        }

    // B5 artifacts (+ notebook.html derivation flatMap).
    val taskArtifacts: Map[Task, Seq[ArtifactContent]] =
      byTask(artifactRows)
        .map { case (task, rs) =>
          task -> rs.flatMap { r =>
            val parsed = AttrCodec.parseMap(r.getMap[String, String](7).toMap)
            val name = parsed("name").asInstanceOf[String]
            val tpe = parsed("type").asInstanceOf[String]
            val content = SerializedData(tpe,
              parsed("encoding").asInstanceOf[String],
              parsed("content_encoded").asInstanceOf[String]).decode()
            val artifact = ArtifactContent(name, tpe, content)
            if (name == "notebook.ipynb") {
              require(tpe == "utf-8", "notebook.ipynb should be utf-8")
              Seq(artifact, ArtifactContent("notebook.html", "utf-8",
                Notebooks.convertIpynbToHtml(content.asInstanceOf[String])))
            } else Seq(artifact)
          }
        }

    // B3 assembly: one TaskRunSummary per execute-task span, by parsed
    // start time, then span id.
    val taskRuns = taskSpans.toSeq
      .sortBy(r => (safeEpochUs(r.getString(4)),
        Option(r.getString(1)).getOrElse("")))
      .map { r =>
        val sid = r.getString(1)
        val task = (r.getString(0), sid)
        val attrs = workflowAttributes ++ taskAttrs.getOrElse(task, Map.empty)
        val taskId = attrs.get("task.id") match {
          case Some(s: String) => s
          case other => throw new IllegalArgumentException(
            s"task.id missing or not a string for task span $sid: $other")
        }
        TaskRunSummary(
          spanId = sid,
          parentSpanId = topSpanId,
          taskId = taskId,
          exceptions = taskExceptions.getOrElse(task, Seq.empty),
          attributes = attrs,
          timing = Timing(r.getString(4), r.getString(5)),
          loggedValues = taskValues.getOrElse(task, Map.empty),
          loggedArtifacts = taskArtifacts.getOrElse(task, Seq.empty))
      }

    // B1 dependencies (attribute-form pairs)
    val taskDependencies = depRaws.iterator
      .map { case (f, t) => (AttrCodec.parse(f).asInstanceOf[String],
        AttrCodec.parse(t).asInstanceOf[String]) }
      .toSet

    WorkflowSummary(
      spanId = topSpanId,
      timing = timing,
      attributes = workflowAttributes,
      taskRuns = taskRuns,
      taskDependencies = taskDependencies)
  }

  /** Single attribute value for `k` from its distinct raw renderings —
    * throws the attributesUnion conflict contract on divergence. Shared by
    * the driver-side workflow- and task-attribute merges. */
  private def resolveAttr(k: String, raws: Seq[String]): Any = {
    val distinct = raws.distinct
    if (distinct.size > 1) {
      val vs = distinct.map(AttrCodec.parse)
      throw new IllegalArgumentException(
        s"Encountered key=$k with different values ${vs.head} and ${vs(1)}")
    }
    AttrCodec.parse(distinct.head)
  }

  /** Sort key tolerant of null/malformed timestamps (sorted first, like the
    * cluster-side `orderBy(to_timestamp(...))` null ordering it replaced). */
  private def safeEpochUs(s: String): Long =
    if (s == null) Long.MinValue
    else try graft.model.TimeFns.iso8601ToEpochUs(s)
    catch { case _: RuntimeException | _: java.time.DateTimeException => Long.MinValue }

  /** B9-style flat task-run DataFrame (for sinks/relational queries over
    * many runs) — everything driver-sized stripped of artifact payloads.
    *
    * Single-pass shape (round-15, guide §7.2): the previous formulation
    * derived the spans collection THREE times — once under [[taggedSpans]],
    * once for the exception branch's spans⋈pairs join, once for the
    * `execute-task` filter — and paid two shuffle joins plus an aggregate
    * to glue them back together (for the b3 battery row that meant three
    * lag-window derivations of the orders base; both pin flavors measured
    * SLOWER in round 14, so the fix is structural, like the gate folds).
    * Now ONE narrow per-span projection is grouped by trace once and
    * [[TaskRunsGen]] does the ownership walk AND the exception
    * attribution in one in-memory [[SpanTree]] pass per trace. Parity with the old three-branch shape is
    * pinned by ParserSpec ("fused == unfused on nested tasks/cycles"). */
  def taskRunsDF(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val isTask = coalesce(col("name") === "execute-task", lit(false))
    val perSpan = spans.select(
      col("context.trace_id").as("trace"),
      struct(
        col("context.span_id").as("sid"),
        col("parent_id"),
        isTask.as("is_task"),
        coalesce(size(filter(col("events"),
          e => e.getField("name") === lit("exception"))), lit(0))
          .cast("long").as("n_exc"),
        when(isTask, col("start_time")).as("start_time"),
        when(isTask, col("end_time")).as("end_time"),
        // attribute values are JSON-rendered; "$" unquotes the string value
        when(isTask,
          get_json_object(col("attributes").getItem("task.id"), "$"))
          .as("task_id"))
        .as("s"))
    perSpan
      .groupBy(col("trace"))
      .agg(collect_list(col("s")).as("ss"))
      .select(Bridge.column(TaskRunsGen(Bridge.expression(col("ss")))))
      .withColumn("is_success", col("n_exceptions") === 0)
      .withColumn("duration_s",
        graft.model.TimeFns.durationSCol(col("start_time"), col("end_time")))
  }

  /** Reference three-branch formulation of [[taskRunsDF]], kept ONLY as
    * the parity oracle for the fused generator path (ParserSpec) — not on
    * any query path. */
  private[graft] def taskRunsDFUnfused(spans: DataFrame): DataFrame = {
    val pairs = taggedSpans(spans)
    val exc = spans
      .join(pairs, col("context.span_id") === col("id"))
      .select(col("task_span_id"), explode(col("events")).as("e"))
      .filter(col("e.name") === "exception")
      .groupBy(col("task_span_id")).agg(count(lit(1)).as("n_exceptions"))
    spans.filterNested(Seq("name"), "execute-task")
      .select(col("context.span_id").as("task_span_id"),
        col("start_time"), col("end_time"),
        get_json_object(col("attributes").getItem("task.id"), "$").as("task_id"))
      .join(exc, Seq("task_span_id"), "left")
      .withColumn("n_exceptions", coalesce(col("n_exceptions"), lit(0L)))
      .withColumn("is_success", col("n_exceptions") === 0)
      .withColumn("duration_s",
        graft.model.TimeFns.durationSCol(col("start_time"), col("end_time")))
  }

  /** Generator emitting one task-run row per `execute-task` span of one
    * trace, with exception events attributed through the [[SpanTree]]
    * walk — including its edge semantics: null span ids own and are owned
    * by nothing (a null-sid task still emits its row, with 0 exceptions),
    * cycles terminate via the visited set, and a duplicated sid multiplies pair occurrences exactly like
    * the old pairs⋈events join did (per-occurrence walk × per-sid event
    * total). Input: `array<struct<sid, parent_id, is_task, n_exc,
    * start_time, end_time, task_id>>`. */
  case class TaskRunsGen(child: org.apache.spark.sql.catalyst.expressions.Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.Generator
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    override def elementSchema: StructType = StructType(Seq(
      StructField("task_span_id", StringType, nullable = true),
      StructField("start_time", StringType, nullable = true),
      StructField("end_time", StringType, nullable = true),
      StructField("task_id", StringType, nullable = true),
      StructField("n_exceptions", LongType, nullable = false)))

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val arr = child.eval(input)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val tree = new SpanTree
      val ids = new Array[String](n)
      val totalExc = new java.util.HashMap[String, Long]()
      var i = 0
      while (i < n) {
        val e = arr.getStruct(i, 7)
        ids(i) = tree.add(e)
        if (ids(i) != null && e.getLong(3) > 0)
          totalExc.merge(ids(i), e.getLong(3), (a: Long, b: Long) => a + b)
        i += 1
      }
      // per-task exception totals: every span OCCURRENCE with events walks
      // its inclusive ancestors (occurrences × per-sid totals = exactly
      // the old join's multiplicity)
      val taskExc = new java.util.HashMap[String, Long]()
      ids.foreach { sid =>
        val tot = if (sid == null) 0L else totalExc.getOrDefault(sid, 0L)
        if (tot > 0) tree.foreachOwner(sid) { t =>
          taskExc.merge(t, tot, (a: Long, b: Long) => a + b)
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      i = 0
      while (i < n) {
        val e = arr.getStruct(i, 7)
        if (!e.isNullAt(2) && e.getBoolean(2)) {
          val sid = ids(i)
          def s(idx: Int): UTF8String =
            if (e.isNullAt(idx)) null
            else UTF8String.fromString(e.getUTF8String(idx).toString)
          out += InternalRow(
            if (sid == null) null else UTF8String.fromString(sid),
            s(4), s(5), s(6),
            if (sid == null) 0L else taskExc.getOrDefault(sid, 0L))
        }
        i += 1
      }
      out
    }

    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
      copy(child = newChild)
  }
}

/** E8/B5 — minimal ipynb-JSON → HTML renderer (no nbconvert on the JVM;
  * the reference shells out to `jupyter nbconvert --to html`,
  * `notebooks_helpers.py:14-52`). Renders what the reference's tests
  * actually assert on (`tasks/notebook_tasks/test_ok_notebook.py:37-74`):
  * every cell's source and every textual output (stream /
  * execute_result / display_data / error) appear in the html. */
object Notebooks {
  import scala.collection.immutable.ListMap
  import graft.model.Json

  def convertIpynbToHtml(ipynbJson: String): String = {
    // a malformed/truncated notebook (partial upload, exporter bug) must
    // not fail the whole workflow parse — fall back to the escaped raw
    // content, the same always-succeeds behavior the parse had before the
    // renderer existed
    val parsed = try Some(Json.parse(ipynbJson)) catch {
      case _: RuntimeException => None
    }
    if (parsed.isEmpty) {
      return "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">" +
        "<title>notebook</title></head>\n<body><pre class=\"ipynb-raw\">" +
        escapeHtml(ipynbJson) + "</pre></body></html>\n"
    }
    val cells = parsed.get match {
      case m: ListMap[_, _] =>
        m.asInstanceOf[ListMap[String, Any]].get("cells") match {
          case Some(cs: Vector[_]) => cs
          case _ => Vector.empty
        }
      case _ => Vector.empty
    }
    val body = cells.map {
      case c: ListMap[_, _] => renderCell(c.asInstanceOf[ListMap[String, Any]])
      case _ => ""
    }.mkString("\n")
    "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">" +
      "<title>notebook</title></head>\n<body>\n" + body + "\n</body></html>\n"
  }

  /** Attachment mime strings ride into an HTML attribute verbatim, so only
    * the strict registered-type shape is accepted (full-match, no quotes,
    * spaces, or angle brackets can pass). */
  private val AttachmentMime = "image/[A-Za-z0-9.+-]+".r

  private def renderCell(cell: ListMap[String, Any]): String = {
    val tpe = cell.get("cell_type") match {
      case Some(s: String) => s
      case _ => "code"
    }
    // markdown cells render AS markup (headers/emphasis/code spans — what
    // the reference's nbconvert output carries and its tests assert on,
    // `notebooks_helpers.py:126-155`); code cells keep the literal <pre>
    val attachments = cell.get("attachments") match {
      case Some(a: ListMap[_, _]) =>
        a.asInstanceOf[ListMap[String, Any]].collect {
          case (name, mimes: ListMap[_, _]) =>
            mimes.asInstanceOf[ListMap[String, Any]].collectFirst {
              // strict shape, not just the prefix: the mime string lands
              // inside an HTML attribute below, so a hostile key like
              // `image/png" onerror="..."` must never enter the map
              case (mime, data) if AttachmentMime.matches(mime) =>
                name -> (mime, textOf(data))
            }
        }.flatten.toMap
      case _ => Map.empty[String, (String, String)]
    }
    val src =
      if (tpe == "markdown")
        renderMarkdown(textOf(cell.get("source")), attachments)
      else if (tpe == "raw") {
        // nbconvert includes a raw cell VERBATIM when its declared
        // mimetype matches the export format (text/html here) and drops
        // it otherwise; an undeclared mimetype is included — raw cells
        // exist precisely to inject format-specific markup
        val mime = cell.get("metadata") match {
          case Some(m: ListMap[_, _]) =>
            m.asInstanceOf[ListMap[String, Any]].get("raw_mimetype") match {
              case Some(s: String) => Some(s)
              case _ => None
            }
          case _ => None
        }
        if (mime.forall(_ == "text/html")) textOf(cell.get("source")) else ""
      }
      else s"""<pre class="input">${escapeHtml(textOf(cell.get("source")))}</pre>"""
    val outs = cell.get("outputs") match {
      case Some(os: Vector[_]) => os.collect {
        case o: ListMap[_, _] => renderOutput(o.asInstanceOf[ListMap[String, Any]])
      }.mkString("\n")
      case _ => ""
    }
    s"""<div class="cell $tpe">\n$src\n$outs</div>"""
  }

  private def outPre(s: String): String =
    s"""<pre class="output">${escapeHtml(s)}</pre>"""

  /** IPython colors tracebacks/streams with ANSI SGR sequences; nbconvert
    * converts them to styled spans — here they are stripped, so the HTML
    * carries the text rather than raw escape bytes. */
  private[graft] def stripAnsi(s: String): String =
    s.replaceAll("\\x1B\\[[0-9;]*[A-Za-z]", "")

  /** One nbformat output → its final HTML fragment. Rich-data precedence
    * mirrors nbconvert: `image/png` embeds as a data-URI `<img>`,
    * `text/html` passes through as markup (nbconvert emits it raw — the
    * notebook author's own HTML), `text/plain` renders escaped. */
  private def renderOutput(o: ListMap[String, Any]): String =
    o.get("output_type") match {
      case Some("stream") => outPre(stripAnsi(textOf(o.get("text"))))
      case Some("execute_result") | Some("display_data") =>
        o.get("data") match {
          case Some(d: ListMap[_, _]) =>
            val data = d.asInstanceOf[ListMap[String, Any]]
            data.get("image/png") match {
              case Some(b64) =>
                // base64 arrives as a string or line list, often
                // newline-broken — data URIs need it contiguous. Strip to
                // the base64 alphabet (not just whitespace): anything else
                // in a src attribute is attribute-breakout markup, and a
                // valid payload never contains other characters.
                val clean = textOf(Some(b64)).replaceAll("[^A-Za-z0-9+/=]", "")
                s"""<img class="output" src="data:image/png;base64,$clean"/>"""
              case None => data.get("text/html") match {
                case Some(h) =>
                  s"""<div class="output html">${textOf(Some(h))}</div>"""
                case None => outPre(textOf(data.get("text/plain")))
              }
            }
          case _ => ""
        }
      case Some("error") =>
        val name = textOf(o.get("ename"))
        val value = textOf(o.get("evalue"))
        val tb = textOf(o.get("traceback"))
        outPre(stripAnsi(s"$name: $value\n$tb"))
      case _ => outPre(textOf(o.get("text")))
    }

  /** nbformat sources/outputs are a string or a list of line strings. */
  private def textOf(v: Any): String = v match {
    case Some(x) => textOf(x)
    case None | null => ""
    case s: String => s
    case xs: Vector[_] => xs.map(textOf).mkString
    case other => other.toString
  }

  private def escapeHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Minimal markdown → HTML for notebook markdown cells: ATX headers,
    * `**bold**`, `*italic*`, `` `code` `` spans, bullet/ordered lists
    * (indentation-nested), fenced code blocks, `$...$`/`$$...$$` math, and
    * `![alt](attachment:name)` cell-attachment images — the constructs
    * notebook markdown actually uses. Escapes FIRST, then wraps, so
    * payload text can never inject markup; replacement text is
    * regex-quoted so `$`/`\` in the content survive. Code-span contents
    * are shielded behind placeholders while the emphasis passes run —
    * nbconvert keeps code spans VERBATIM, so `` `*args` ``/`` `**kwargs` ``
    * must not sprout <em>/<strong> inside the <code> tag. Math spans get
    * the same shield with their `$` delimiters kept intact: nbconvert
    * passes TeX through untouched for MathJax, so `$a*b*c$` must reach
    * the page as written (escaped, unemphasized), not as `a<em>b</em>c`.
    * Attachment images resolve against the cell's `attachments` dict to
    * a base64 data URI exactly like rich outputs; an unresolvable name
    * stays literal text, matching nbconvert's broken-ref behavior. */
  private[graft] def renderMarkdown(md: String,
      attachments: Map[String, (String, String)] = Map.empty): String = {
    import scala.util.matching.Regex
    def wrap(t: String, re: Regex, tag: String): String =
      re.replaceAllIn(t, m =>
        Regex.quoteReplacement(s"<$tag>${m.group(1)}</$tag>"))
    def inline(s: String): String = {
      val frags = scala.collection.mutable.ArrayBuffer.empty[String]
      def shield(html: String): String = {
        frags += html
        Regex.quoteReplacement(s"\u0000${frags.size - 1}\u0000")
      }
      // NUL delimits the placeholders, so literal NULs in the cell text
      // (legal JSON, via its \u0000 escape) are stripped first — they'd
      // otherwise form phantom placeholders indexing past `frags`
      var t = escapeHtml(s).replace("\u0000", "")
      t = "!\\[([^\\]]*)\\]\\(attachment:([^)]+)\\)".r.replaceAllIn(t, m =>
        attachments.get(m.group(2)) match {
          case Some((mime, b64)) =>
            val clean = b64.replaceAll("[^A-Za-z0-9+/=]", "")
            // escapeHtml leaves `"` alone (fine in text, not in an
            // attribute) — quote it here so alt can't break out
            val alt = m.group(1).replace("\"", "&quot;")
            shield(s"""<img class="attachment" alt="$alt" """ +
              s"""src="data:$mime;base64,$clean"/>""")
          case None => Regex.quoteReplacement(m.matched)
        })
      t = "`([^`]+)`".r.replaceAllIn(t, m => shield(s"<code>${m.group(1)}</code>"))
      // math, display then inline, delimiters preserved for MathJax
      t = "\\$\\$([^$]+)\\$\\$".r.replaceAllIn(t, m => shield(m.matched))
      t = "\\$([^$]+)\\$".r.replaceAllIn(t, m => shield(m.matched))
      t = wrap(t, "\\*\\*([^*]+)\\*\\*".r, "strong")
      t = wrap(t, "\\*([^*]+)\\*".r, "em")
      "\u0000([0-9]+)\u0000".r.replaceAllIn(t, m =>
        Regex.quoteReplacement(frags(m.group(1).toInt)))
    }
    val header = "^(#{1,6})\\s+(.*)$".r
    val bullet = "^(\\s*)[-*]\\s+(.*)$".r
    val ordered = "^(\\s*)(\\d+)[.)]\\s+(.*)$".r
    val fence = "^\\s*```".r
    def listLine(l: String): Option[(Int, Boolean, String)] = l match {
      case bullet(ind, rest) => Some((ind.length, false, rest))
      case ordered(ind, _, rest) => Some((ind.length, true, rest))
      case _ => None
    }
    // Indentation-nested list run → nested <ul>/<ol>: an item deeper than
    // its predecessor opens a child list INSIDE the predecessor's <li>
    // (the nbconvert/commonmark shape), and a marker-type switch at the
    // same depth closes the list and opens a sibling of the other type.
    def renderList(items: Vector[(Int, Boolean, String)]): String = {
      val blocks = scala.collection.mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < items.length) {
        val base = items(j)._1
        val ord = items(j)._2
        val lis = scala.collection.mutable.ArrayBuffer.empty[String]
        while (j < items.length && items(j)._1 >= base &&
               !(items(j)._1 == base && items(j)._2 != ord)) {
          val text = items(j)._3
          var k = j + 1
          while (k < items.length && items(k)._1 > base) k += 1
          val kids = items.slice(j + 1, k)
          val kidHtml = if (kids.isEmpty) "" else "\n" + renderList(kids)
          lis += s"<li>${inline(text)}$kidHtml</li>"
          j = k
        }
        val tag = if (ord) "ol" else "ul"
        blocks += lis.mkString(s"<$tag>\n", "\n", s"\n</$tag>")
      }
      blocks.mkString("\n")
    }
    val lines = md.linesIterator.toVector
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < lines.length) {
      lines(i) match {
        // fenced code block: verbatim <pre><code>, no inline markup —
        // nbconvert keeps fence contents untouched
        case l if fence.findFirstIn(l).isDefined =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          i += 1
          while (i < lines.length && fence.findFirstIn(lines(i)).isEmpty) {
            buf += lines(i)
            i += 1
          }
          i += 1 // closing fence (or end of input on an unclosed block)
          out += s"<pre><code>${escapeHtml(buf.mkString("\n"))}</code></pre>"
        // display-math block on its own lines: TeX passes through escaped
        // but otherwise untouched (MathJax consumes the $$ delimiters)
        case l if l.trim == "$$" =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          i += 1
          while (i < lines.length && lines(i).trim != "$$") {
            buf += lines(i)
            i += 1
          }
          i += 1 // closing $$ (or end of input on an unclosed block)
          out += "<div class=\"math\">$$\n" +
            escapeHtml(buf.mkString("\n")) + "\n$$</div>"
        case l if listLine(l).isDefined =>
          val items =
            scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, String)]
          while (i < lines.length && listLine(lines(i)).isDefined) {
            items += listLine(lines(i)).get
            i += 1
          }
          out += renderList(items.toVector)
        case header(hashes, rest) =>
          out += s"<h${hashes.length}>${inline(rest)}</h${hashes.length}>"
          i += 1
        case l if l.trim.isEmpty =>
          out += ""
          i += 1
        case l =>
          out += s"<p>${inline(l)}</p>"
          i += 1
      }
    }
    out.mkString("\n")
  }
}
