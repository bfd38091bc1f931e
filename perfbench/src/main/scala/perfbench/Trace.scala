package perfbench

import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.exec.SpanSink
import graft.model.{AttrCodec, SpanContextRow, SpanRow, SpanStatusRow, TimeFns}
import graft.spans.SpanSource

/** A traced unit: its wall interval and the operations run inside it. */
final case class TracedUnit(startUs: Long, endUs: Long, ops: Seq[Op])

/** Self time of one span read back from the trace file. */
final case class SpanTime(id: String, name: String, parent: Option[String],
    fn: String, startUs: Long, endUs: Long, selfUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Outcome of the harness's own checks on a trace. */
final case class TraceCheck(spans: Int, parsedBack: Boolean, orphanJobs: Int,
    sumMismatches: Int) {
  def ok: Boolean = parsedBack && orphanJobs == 0 && sumMismatches == 0
}

/** Writes workload → unit → operation → Spark job → stage spans in the
  * program's own SpanRow JSONL format, reads them back with the program's
  * reader, and derives each span's self time: its duration minus the part
  * of it that its children cover. */
object Trace {
  /** Listener stamps are whole milliseconds; a job may appear to start up to
    * this long before the operation that submitted it. */
  private val SlackUs = 2000L

  private def iso(us: Long): String =
    TimeFns.toIso(Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))

  def build(workload: String, units: Seq[TracedUnit], jobs: Seq[JobRec],
      stages: Seq[StageRec]): (Seq[SpanRow], Int) = {
    var next = 0L
    def newId(): String = { next += 1; f"0x$next%016x" }
    val traceId = "0x" + "b" * 32
    def row(name: String, id: String, parent: Option[String], s: Long, e: Long,
        attrs: Map[String, Any]): SpanRow =
      SpanRow(name, SpanContextRow(traceId, id, "[]"), parent, "SpanKind.INTERNAL",
        iso(s), iso(e), SpanStatusRow("OK", None), AttrCodec.renderMap(attrs),
        Nil, Nil, Map.empty)

    val out = scala.collection.mutable.ArrayBuffer.empty[SpanRow]
    val rootId = newId()
    out += row("workload", rootId, None, units.head.startUs, units.last.endUs,
      Map("layer" -> "workload", "fn" -> workload))
    val opSpans = scala.collection.mutable.ArrayBuffer.empty[(String, Op)]
    units.zipWithIndex.foreach { case (u, k) =>
      val uid = newId()
      out += row("unit", uid, Some(rootId), u.startUs, u.endUs,
        Map("layer" -> "unit", "fn" -> workload, "unit" -> k))
      u.ops.foreach { op =>
        val oid = newId()
        opSpans += oid -> op
        out += row("op", oid, Some(uid), op.startUs, op.endUs,
          Map("layer" -> op.layer, "fn" -> op.fn, "ok" -> op.ok) ++ op.attrs)
      }
    }
    val window = (units.head.startUs - SlackUs, units.last.endUs)
    var orphans = 0
    val jobIds = scala.collection.mutable.Map.empty[Int, (String, JobRec)]
    jobs.filter(j => j.startMs * 1000L >= window._1 && j.startMs * 1000L <= window._2)
      .sortBy(_.startMs).foreach { j =>
        val s = j.startMs * 1000L
        opSpans.find { case (_, op) => s >= op.startUs - SlackUs && s <= op.endUs } match {
          case Some((oid, _)) =>
            val jid = newId()
            jobIds(j.id) = jid -> j
            out += row("job", jid, Some(oid), s, math.max(s, j.endMs * 1000L),
              Map("layer" -> "scheduler", "fn" -> "job", "job_id" -> j.id))
          case None => orphans += 1
        }
      }
    stages.foreach { st =>
      val s = st.submitMs * 1000L
      jobIds.values.filter { case (_, j) =>
        j.stageIds.contains(st.id) && st.submitMs >= j.startMs && st.submitMs <= j.endMs
      }.toSeq.sortBy(_._2.startMs).headOption.foreach { case (jid, _) =>
        out += row("stage", newId(), Some(jid), s, math.max(s, st.endMs * 1000L),
          Map("layer" -> "executor", "fn" -> "stage", "stage_id" -> st.id,
            "tasks" -> st.tasks))
      }
    }
    (out.toSeq, orphans)
  }

  /** Writes the spans, reads them back and computes self times and checks. */
  def roundTrip(spark: SparkSession, path: String, spans: Seq[SpanRow],
      orphanJobs: Int): (Seq[SpanTime], TraceCheck) = {
    val sink = new SpanSink
    spans.foreach(sink.add)
    sink.writeJsonl(path)
    val back = SpanSource.readJsonl(spark, path)
      .select("name", "context.span_id", "parent_id", "start_time", "end_time",
        "attributes")
      .collect().toSeq
    val times = back.map { r =>
      val attrs = AttrCodec.parseMap(r.getMap[String, String](5).toMap)
      SpanTime(r.getString(1), r.getString(0), Option(r.getString(2)),
        String.valueOf(attrs.getOrElse("fn", "")),
        TimeFns.iso8601ToEpochUs(r.getString(3)),
        TimeFns.iso8601ToEpochUs(r.getString(4)), 0L)
    }
    val written = spans.map(s => s.context.span_id ->
      (s.parent_id, TimeFns.iso8601ToEpochUs(s.start_time),
        TimeFns.iso8601ToEpochUs(s.end_time))).toMap
    val parsedBack = times.size == spans.size && times.forall(t =>
      written.get(t.id).contains((t.parent, t.startUs, t.endUs)))

    val children = times.groupBy(_.parent)
    val withSelf = times.map { t =>
      val kids = children.getOrElse(Some(t.id), Nil)
        .map(c => (math.max(c.startUs, t.startUs), math.min(c.endUs, t.endUs)))
        .filter { case (s, e) => e > s }
      t.copy(selfUs = t.durUs - unionUs(kids))
    }
    // Units run one after another, and so do the operations in a unit: for
    // those parents, self time plus the children's durations is the whole.
    val sumMismatches = withSelf.count { t =>
      (t.name == "workload" || t.name == "unit") &&
        t.selfUs + children.getOrElse(Some(t.id), Nil).map(_.durUs).sum != t.durUs
    }
    (withSelf, TraceCheck(spans.size, parsedBack, orphanJobs, sumMismatches))
  }

  /** Length of the union of half-open intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}
