package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.SpanModel
import graft.parser.SpanParser
import SpanFixtures._

/** Parser-layer tests (SURVEY §2 Group B) over a hand-built workflow span
  * tree shaped like the reference's recorded runs (§3.2). */
class ParserSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A 2-task workflow: top → (task1 → guard1 → call1 → value+artefact,
    * task2 → guard2 → call2(error)), plus dependency spans task1→task2. */
  def workflowSpans = Seq(
    span("dag-top-span", "0xtop", None,
      start = "2021-01-01T00:00:00.000000Z", end = "2021-01-01T00:00:20.000000Z",
      attrs = Map("workflow.env" -> "xyz")),
    span("execute-task", "0xt1", Some("0xtop"),
      start = "2021-01-01T00:00:01.000000Z", end = "2021-01-01T00:00:10.000000Z",
      attrs = Map("workflow.env" -> "xyz", "task.id" -> "ingest",
        "task.type" -> "python", "task.num_cpus" -> 1, "task.timeout_s" -> -1),
      status = "OK"),
    span("timeout-guard", "0xg1", Some("0xt1"),
      start = "2021-01-01T00:00:01.100000Z", end = "2021-01-01T00:00:09.900000Z",
      status = "OK"),
    span("call-python-function", "0xc1", Some("0xg1"),
      start = "2021-01-01T00:00:01.200000Z", end = "2021-01-01T00:00:09.800000Z",
      status = "OK"),
    span("named-value", "0xv1", Some("0xc1"),
      start = "2021-01-01T00:00:02.000000Z", end = "2021-01-01T00:00:02.100000Z",
      attrs = Map("name" -> "accuracy", "type" -> "float",
        "encoding" -> "json", "content_encoded" -> "0.98"),
      status = "OK"),
    span("artefact", "0xa1", Some("0xc1"),
      start = "2021-01-01T00:00:03.000000Z", end = "2021-01-01T00:00:03.100000Z",
      attrs = Map("name" -> "README.md", "type" -> "utf-8",
        "encoding" -> "utf-8", "content_encoded" -> "foobar123"),
      status = "OK"),
    span("execute-task", "0xt2", Some("0xtop"),
      start = "2021-01-01T00:00:11.000000Z", end = "2021-01-01T00:00:19.000000Z",
      attrs = Map("workflow.env" -> "xyz", "task.id" -> "train",
        "task.type" -> "python", "task.num_cpus" -> 2, "task.timeout_s" -> 10.5),
      status = "ERROR", statusDesc = Some("Failure")),
    span("task-dependency", "0xd1", Some("0xt2"),
      start = "2021-01-01T00:00:11.100000Z", end = "2021-01-01T00:00:11.200000Z",
      attrs = Map("from_task_span_id" -> "0xt1", "to_task_span_id" -> "0xt2")),
    span("timeout-guard", "0xg2", Some("0xt2"),
      start = "2021-01-01T00:00:11.300000Z", end = "2021-01-01T00:00:18.900000Z",
      status = "ERROR", statusDesc = Some("Failure")),
    span("call-python-function", "0xc2", Some("0xg2"),
      start = "2021-01-01T00:00:11.400000Z", end = "2021-01-01T00:00:18.800000Z",
      status = "ERROR", statusDesc = Some("Failure"),
      events = Seq(exceptionEvent("train failed!"))))

  def withLinks = workflowSpans.map {
    case s if s.context.span_id == "0xt2" =>
      s.copy(links = Seq(graft.model.SpanLinkRow(
        graft.model.SpanContextRow("0xabc123", "0xt1", "[]"),
        Map("type" -> "\"task-dependency\""))))
    case s => s
  }

  test("B1/B2 dependency extraction agree (attr + link forms)") {
    val df = SpanModel.toDF(spark, withLinks)
    assert(SpanParser.extractTaskDependencies(df) == Set(("0xt1", "0xt2")))
    assert(SpanParser.extractTaskDependenciesFromLinks(df) == Set(("0xt1", "0xt2")))
  }

  test("B3/B4 parseSpans: workflow + task summaries") {
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, withLinks))

    assert(s.attributes == Map("workflow.env" -> "xyz"))
    assert(s.spanId.startsWith("NO-TOP-SPAN--TEMP")) // uuid fallback (B4)
    assert(s.timing == graft.parser.Timing(
      "2021-01-01T00:00:00.000000Z", "2021-01-01T00:00:20.000000Z"))
    assert(s.taskDependencies == Set(("0xt1", "0xt2")))
    assert(!s.isSuccess)

    assert(s.taskRuns.map(_.taskId) == Seq("ingest", "train")) // start order
    val ingest = s.taskRuns.head
    assert(ingest.spanId == "0xt1")
    assert(ingest.parentSpanId == s.spanId)
    assert(ingest.isSuccess)
    assert(ingest.attributes == Map(
      "workflow.env" -> "xyz", "task.id" -> "ingest", "task.type" -> "python",
      "task.num_cpus" -> 1L, "task.timeout_s" -> -1L))
    assert(ingest.timing.durationS == 9.0)
    assert(ingest.loggedValues == Map(
      "accuracy" -> graft.parser.LoggedValueContent("float", 0.98)))
    assert(ingest.loggedArtifacts.map(_.name) == Seq("README.md"))
    assert(ingest.getArtifact("README.md").content == "foobar123")

    val train = s.taskRuns(1)
    assert(train.isFailure)
    assert(train.exceptions.size == 1)
    val exc = train.exceptions.head
    assert(exc("attributes").asInstanceOf[Map[String, Any]]("exception.message")
      == "train failed!")
    assert(train.attributes("task.timeout_s") == 10.5)
  }

  test("null start_time spans parse cleanly (null-tolerant fold sort)") {
    // SpanSource tolerates missing start_time; the driver-side fold must
    // too (it sorts exception/value/artifact rows by start_time — a raw
    // String Ordering NPEs). Regression for the round-2/3 advice finding.
    val withNulls = workflowSpans.map {
      case s if s.context.span_id == "0xc2" => s.copy(start_time = null)
      case s if s.context.span_id == "0xv1" => s.copy(start_time = null)
      case s if s.context.span_id == "0xa1" => s.copy(start_time = null)
      case s => s
    }
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, withNulls))
    assert(s.taskRuns.map(_.taskId) == Seq("ingest", "train"))
    assert(s.taskRuns(1).exceptions.size == 1)
    assert(s.taskRuns.head.loggedValues.contains("accuracy"))
    assert(s.taskRuns.head.loggedArtifacts.map(_.name) == Seq("README.md"))
  }

  test("B5 notebook.html artifact derivation renders sources and outputs") {
    // the reference's own html assertions (test_ok_notebook.py:37-74):
    // cell SOURCE text and printed OUTPUT text both appear in the html
    val ipynb =
      """{"cells": [
        | {"cell_type": "markdown", "source": ["# Title\n", "intro"]},
        | {"cell_type": "code",
        |  "source": ["print(1 + 12 + 123 + 1234 + 12345)\n",
        |             "print(f'variable_a={P[\"task.variable_a\"]}')"],
        |  "outputs": [
        |   {"output_type": "stream", "text": ["13715\n", "variable_a=task-value\n"]},
        |   {"output_type": "execute_result", "data": {"text/plain": ["42"]}},
        |   {"output_type": "error", "ename": "ValueError", "evalue": "boom",
        |    "traceback": ["Traceback...<cut>"]}]}],
        | "nbformat": 4}""".stripMargin
    val withNb = workflowSpans :+ span("artefact", "0xnb", Some("0xc1"),
      start = "2021-01-01T00:00:04.000000Z", end = "2021-01-01T00:00:04.100000Z",
      attrs = Map("name" -> "notebook.ipynb", "type" -> "utf-8",
        "encoding" -> "utf-8", "content_encoded" -> ipynb),
      status = "OK")
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, withNb))
    val names = s.taskRuns.head.loggedArtifacts.map(_.name)
    assert(names == Seq("README.md", "notebook.ipynb", "notebook.html"))
    val html = s.taskRuns.head.getArtifact("notebook.html")
      .content.asInstanceOf[String]
    assert(html.contains("variable_a=task-value")) // printed output
    assert(html.contains("13715")) // evaluated sum
    assert(html.contains("print(1 + 12 + 123 + 1234 + 12345)")) // source
    assert(html.contains("<h1>Title</h1>")) // markdown cell rendered as markup
    assert(html.contains("42")) // execute_result text/plain
    assert(html.contains("ValueError: boom")) // error output
    assert(html.contains("Traceback...&lt;cut&gt;")) // html-escaped
  }

  test("B5 malformed notebook.ipynb falls back to raw rendering, not a crash") {
    val withBad = workflowSpans :+ span("artefact", "0xnb2", Some("0xc1"),
      start = "2021-01-01T00:00:04.000000Z", end = "2021-01-01T00:00:04.100000Z",
      attrs = Map("name" -> "notebook.ipynb", "type" -> "utf-8",
        "encoding" -> "utf-8", "content_encoded" -> "{\"cells\": [truncated"),
      status = "OK")
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, withBad))
    val html = s.taskRuns.head.getArtifact("notebook.html")
      .content.asInstanceOf[String]
    assert(html.contains("ipynb-raw") && html.contains("truncated"))
  }

  test("B6 duplicate named value rejected") {
    val dup = workflowSpans :+ span("named-value", "0xv2", Some("0xc1"),
      start = "2021-01-01T00:00:05.000000Z", end = "2021-01-01T00:00:05.100000Z",
      attrs = Map("name" -> "accuracy", "type" -> "int",
        "encoding" -> "json", "content_encoded" -> "1"),
      status = "OK")
    val e = intercept[Exception](
      SpanParser.parseSpans(SpanModel.toDF(spark, dup)))
    assert(e.getMessage.contains("accuracy has been logged multiple times"))
  }

  test("B6 non-OK payload spans are ignored") {
    val failed = workflowSpans :+ span("named-value", "0xv3", Some("0xc1"),
      start = "2021-01-01T00:00:06.000000Z", end = "2021-01-01T00:00:06.100000Z",
      attrs = Map("name" -> "partial", "type" -> "int",
        "encoding" -> "json", "content_encoded" -> "1"),
      status = "ERROR")
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, failed))
    assert(!s.taskRuns.head.loggedValues.contains("partial"))
  }

  test("workflow.workflow_run_id becomes the top span id (B4)") {
    val tagged = workflowSpans.map {
      case s if s.name == "dag-top-span" =>
        s.copy(attributes = s.attributes +
          ("workflow.workflow_run_id" -> "\"0xrun42\""))
      case s => s
    }
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, tagged))
    assert(s.spanId == "0xrun42")
    assert(s.taskRuns.forall(_.parentSpanId == "0xrun42"))
  }

  test("ownership pairs: nested tasks, traces, null names, cycles") {
    // trace A: task t1 with NESTED task t2 under it (a span below t2 must
    // be owned by BOTH); plus a null-name leaf; trace B: its own task.
    val spansA = Seq(
      span("execute-task", "0xt1", None, traceId = "0xA",
        attrs = Map("task.id" -> "outer", "task.type" -> "python")),
      span("execute-task", "0xt2", Some("0xt1"), traceId = "0xA",
        attrs = Map("task.id" -> "inner", "task.type" -> "python")),
      span("named-value", "0xleaf", Some("0xt2"), traceId = "0xA",
        attrs = Map("name" -> "x", "type" -> "int", "encoding" -> "json",
          "content_encoded" -> "1"), status = "OK"),
      span("noname", "0xnull", Some("0xt1"), traceId = "0xA")
        .copy(name = null),
      span("execute-task", "0xt3", None, traceId = "0xB",
        attrs = Map("task.id" -> "other", "task.type" -> "python")))
    // malformed cycle: two spans pointing at each other
    val cycle = Seq(
      span("a", "0xc1", Some("0xc2"), traceId = "0xC"),
      span("b", "0xc2", Some("0xc1"), traceId = "0xC"))
    val df = graft.model.SpanModel.toDF(spark, spansA ++ cycle)

    val pairs = SpanParser.taggedSpans(df).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // each span is paired with every execute-task ancestor, itself
    // included, exactly once; the cycle terminates and owns nothing
    assert(pairs.sorted == Seq(
      ("0xt1", "0xleaf"), ("0xt1", "0xnull"), ("0xt1", "0xt1"),
      ("0xt1", "0xt2"), ("0xt2", "0xleaf"), ("0xt2", "0xt2"),
      ("0xt3", "0xt3")))
  }

  /** One frame holding most of the parse's edge cases. Trace 0xA: task 0xo
    * with task 0xi nested inside it (both `task.id` "job" — the subtree
    * attribute union would otherwise conflict), a value, an artifact and an
    * exception under 0xi, an exception directly under 0xo, an ERROR-status
    * value, a null-name span, a null-id span carrying an exception and the
    * earliest start time, and a dependency span. Trace 0xB: task 0xb1 with a
    * child that reuses 0xA's span id 0xe1. Trace 0xC: a parent_id cycle
    * holding the latest end time. */
  def edgeSpans: Seq[graft.model.SpanRow] = {
    def t(s: String) = s"2021-01-01T00:00:$s"
    Seq(
      span("dag-top-span", "0xtop", None, traceId = "0xA",
        start = t("00.000000Z"), end = t("30.000000Z"),
        attrs = Map("workflow.env" -> "e")),
      span("execute-task", "0xo", Some("0xtop"), traceId = "0xA",
        start = t("01.000000Z"), end = t("20.000000Z"), status = "OK",
        attrs = Map("task.id" -> "job", "task.type" -> "python",
          "workflow.env" -> "e")),
      span("execute-task", "0xi", Some("0xo"), traceId = "0xA",
        start = t("02.000000Z"), end = t("10.000000Z"),
        attrs = Map("task.id" -> "job", "task.inner" -> "yes")),
      span("named-value", "0xv", Some("0xi"), traceId = "0xA",
        start = t("03.000000Z"), end = t("03.100000Z"), status = "OK",
        attrs = Map("name" -> "x", "type" -> "int", "encoding" -> "json",
          "content_encoded" -> "1")),
      // same name as 0xv: counted, it would be a duplicate
      span("named-value", "0xverr", Some("0xi"), traceId = "0xA",
        start = t("03.500000Z"), end = t("03.600000Z"), status = "ERROR",
        attrs = Map("name" -> "x", "type" -> "int", "encoding" -> "json",
          "content_encoded" -> "2")),
      // listed before 0xe1 but started after it
      span("call", "0xe2", Some("0xo"), traceId = "0xA",
        start = t("05.000000Z"), end = t("05.100000Z"),
        events = Seq(exceptionEvent("outer boom"))),
      span("call", "0xe1", Some("0xi"), traceId = "0xA",
        start = t("04.000000Z"), end = t("04.100000Z"),
        events = Seq(exceptionEvent("inner boom"))),
      span("x", "0xn", Some("0xi"), traceId = "0xA",
        start = t("04.500000Z"), end = t("04.600000Z"),
        attrs = Map("task.note" -> "n")).copy(name = null),
      span("orphan", "0xnull", Some("0xi"), traceId = "0xA",
        start = "2020-12-31T23:59:59.000000Z", end = t("01.000000Z"),
        attrs = Map("workflow.env" -> "e"),
        events = Seq(exceptionEvent("orphan")))
        .copy(context = graft.model.SpanContextRow("0xA", null, "[]")),
      span("artefact", "0xart", Some("0xi"), traceId = "0xA",
        start = t("06.000000Z"), end = t("06.100000Z"), status = "OK",
        attrs = Map("name" -> "r.txt", "type" -> "utf-8",
          "encoding" -> "utf-8", "content_encoded" -> "hi")),
      span("task-dependency", "0xd", Some("0xtop"), traceId = "0xA",
        start = t("00.500000Z"), end = t("00.600000Z"),
        attrs = Map("from_task_span_id" -> "0xb1", "to_task_span_id" -> "0xo")),
      span("execute-task", "0xb1", None, traceId = "0xB",
        start = t("06.000000Z"), end = t("07.000000Z"),
        attrs = Map("task.id" -> "solo")),
      span("call", "0xe1", Some("0xb1"), traceId = "0xB",
        start = t("06.500000Z"), end = t("06.600000Z"),
        events = Seq(exceptionEvent("b boom"))),
      span("a", "0xc1", Some("0xc2"), traceId = "0xC",
        start = t("08.000000Z"), end = t("08.100000Z"),
        events = Seq(exceptionEvent("cyclic"))),
      span("b", "0xc2", Some("0xc1"), traceId = "0xC",
        start = t("08.000000Z"), end = t("40.000000Z")))
  }

  test("parseSpans edge cases: nesting, traces, cycles, nulls, conflict") {
    val df = SpanModel.toDF(spark, edgeSpans)
    val s = SpanParser.parseSpans(df)
    assert(s.attributes == Map("workflow.env" -> "e"))
    assert(s.spanId.startsWith("NO-TOP-SPAN--TEMP"))
    // every span counts, the null-id one and the cycle included
    assert(s.timing == graft.parser.Timing(
      "2020-12-31T23:59:59.000000Z", "2021-01-01T00:00:40.000000Z"))
    assert(s.taskDependencies == Set(("0xb1", "0xo")))

    assert(s.taskRuns.map(r => (r.spanId, r.taskId)) ==
      Seq(("0xo", "job"), ("0xi", "job"), ("0xb1", "solo")))
    val Seq(outer, inner, solo) = s.taskRuns
    // the null-name span's task.* key reaches both enclosing tasks
    assert(outer.attributes == Map("workflow.env" -> "e", "task.id" -> "job",
      "task.type" -> "python", "task.inner" -> "yes", "task.note" -> "n"))
    assert(inner.attributes == Map("workflow.env" -> "e", "task.id" -> "job",
      "task.inner" -> "yes", "task.note" -> "n"))
    assert(solo.attributes == Map("workflow.env" -> "e", "task.id" -> "solo"))
    assert(solo.timing == graft.parser.Timing(
      "2021-01-01T00:00:06.000000Z", "2021-01-01T00:00:07.000000Z"))

    def messages(r: graft.parser.TaskRunSummary) = r.exceptions.map(e =>
      e("attributes").asInstanceOf[Map[String, Any]]("exception.message"))
    // by the emitting span's start time; the null-id span's exception and
    // the cycle's belong to no task; ownership is keyed by (trace, span
    // id), so 0xB's reuse of 0xe1 stays in 0xB
    assert(messages(outer) == Seq("inner boom", "outer boom"))
    assert(messages(inner) == Seq("inner boom"))
    assert(messages(solo) == Seq("b boom"))
    assert(outer.exceptions.head("name") == "exception")
    // the flat view attributes the same exceptions
    val nExc = SpanParser.taskRunsDF(df).collect()
      .map(r => r.getAs[String]("task_span_id") -> r.getAs[Long]("n_exceptions"))
      .toMap
    assert(nExc == s.taskRuns.map(r => r.spanId -> r.exceptions.size.toLong).toMap)

    // the nested value and artifact belong to both tasks; the ERROR-status
    // value is skipped
    val x = Map("x" -> graft.parser.LoggedValueContent("int", 1L))
    assert(outer.loggedValues == x && inner.loggedValues == x)
    assert(solo.loggedValues.isEmpty)
    assert(outer.loggedArtifacts == inner.loggedArtifacts)
    assert(outer.loggedArtifacts.map(a => (a.name, a.content)) ==
      Seq(("r.txt", "hi")))
    assert(solo.loggedArtifacts.isEmpty)

    // a task.* key bound to two values inside one subtree
    val conflict = edgeSpans :+ span("call", "0xk", Some("0xi"),
      traceId = "0xA", start = "2021-01-01T00:00:09.000000Z",
      attrs = Map("task.id" -> "other"))
    val e = intercept[IllegalArgumentException](
      SpanParser.parseSpans(SpanModel.toDF(spark, conflict)))
    assert(e.getMessage ==
      "Encountered key=task.id with different values job and other")
  }

  test("parseSpans submits exactly one Spark job") {
    // budget: the parse is one collect of a per-span projection (it was
    // 14 jobs: shuffles, a count, persisted joins and a global aggregate)
    val path = java.nio.file.Files.createTempDirectory("parse-budget")
      .resolve("spans.jsonl").toString
    val sink = new graft.exec.SpanSink
    withLinks.foreach(sink.add)
    sink.writeJsonl(path)
    val df = graft.spans.SpanSource.readJsonl(spark, path)
    var s: graft.parser.WorkflowSummary = null
    val jobs = org.apache.spark.JobCount(spark.sparkContext) {
      s = SpanParser.parseSpans(df)
    }
    assert(jobs == 1)
    assert(s.taskRuns.map(_.taskId) == Seq("ingest", "train"))
  }

  test("parseSpans leaves a caller's cache in place") {
    val df = SpanModel.toDF(spark, workflowSpans).cache()
    try {
      df.count()
      SpanParser.parseSpans(df)
      assert(spark.sharedState.cacheManager.lookupCachedData(
        df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]).isDefined)
    } finally df.unpersist()
  }

  test("B9 taskRunsDF flat view") {
    val df = SpanParser.taskRunsDF(SpanModel.toDF(spark, workflowSpans))
    val rows = df.orderBy("start_time").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("task_id") == "ingest")
    assert(rows(0).getAs[Boolean]("is_success"))
    assert(!rows(1).getAs[Boolean]("is_success"))
    assert(rows(1).getAs[Long]("n_exceptions") == 1L)
  }

  test("B9 fused taskRunsDF == three-branch reference on nested tasks, " +
    "multi-exception children, cycles, null names") {
    // trace A: nested tasks — t2 under t1; a leaf under t2 with TWO
    // exception events must count toward BOTH tasks; t1 carries its own
    // exception; a null-name child; trace B: clean task; trace C: cycle.
    val nested = Seq(
      span("execute-task", "0xt1", None, traceId = "0xA",
        attrs = Map("task.id" -> "outer"),
        events = Seq(exceptionEvent("own failure"))),
      span("execute-task", "0xt2", Some("0xt1"), traceId = "0xA",
        attrs = Map("task.id" -> "inner")),
      span("call-function", "0xleaf", Some("0xt2"), traceId = "0xA",
        events = Seq(exceptionEvent("boom 1"), exceptionEvent("boom 2"))),
      span("noname", "0xnull", Some("0xt1"), traceId = "0xA")
        .copy(name = null),
      span("execute-task", "0xt3", None, traceId = "0xB",
        attrs = Map("task.id" -> "clean")),
      span("a", "0xc1", Some("0xc2"), traceId = "0xC",
        events = Seq(exceptionEvent("cyclic"))),
      span("b", "0xc2", Some("0xc1"), traceId = "0xC"))
    val df = SpanModel.toDF(spark, nested)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getAs[String]("task_span_id"),
        r.getAs[String]("start_time"), r.getAs[String]("end_time"),
        r.getAs[String]("task_id"), r.getAs[Long]("n_exceptions"),
        r.getAs[Boolean]("is_success"), r.getAs[Double]("duration_s"))).toSet
    val fused = rows(SpanParser.taskRunsDF(df))
    val ref = rows(SpanParser.taskRunsDFUnfused(df))
    assert(fused == ref)
    val byId = fused.map(t => t._1 -> t._5).toMap
    assert(byId("0xt1") == 3L) // own + both leaf events through t2's chain
    assert(byId("0xt2") == 2L)
    assert(byId("0xt3") == 0L)
  }
}
