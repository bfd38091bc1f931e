package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries.{CodecOps, GraphOps, LlmOps, Relational, SpanAlgebra, TpchShapes}

/** A fixed slice of the query battery over a seeded perturbation of the
  * committed sf0.001 fixture. At this size every query is dominated by its
  * fixed cost (analysis, planning, job and stage scheduling), which is what
  * this workload exists to expose. The slice covers all six query modules
  * and the kernels they run on; the seed changes the data and the order. */
final class Battery(spark: SparkSession, seed: Long, work: String,
    inputs: Seq[String]) extends Workload {
  val name = "battery"

  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq("Relational" -> Relational.queries, "LlmOps" -> LlmOps.queries,
      "SpanAlgebra" -> SpanAlgebra.queries, "GraphOps" -> GraphOps.queries,
      "TpchShapes" -> TpchShapes.queries, "CodecOps" -> CodecOps.queries)

  /** The slice: cheap rows from every module and one kernel-heavy row
    * (i5_bpe_stats), so no single row dominates the latency percentiles. */
  val names: Seq[String] = Seq(
    "d07_agg_pricing", "d09_grouping_sets",
    "i1_dedup_exact", "i3_cosine_topk", "i7_pii_scrub", "i5_bpe_stats",
    "a1_nested_filter",
    "i8_kcore",
    "d07_promo_revenue",
    "c1c2_codec_roundtrip")

  private val queries = names.map { n =>
    val (mod, fns) = modules.find(_._2.contains(n)).getOrElse(
      throw new IllegalStateException(s"query $n is not in the battery"))
    require(SparkEntry.oracleSql.contains(n), s"query $n has no oracle")
    (n, s"queries.$mod", fns(n))
  }

  /** Reads the committed fixture, not the seeded copy, so every seed
    * probes the same file. */
  val probe: Probe = Calibration.parquet(spark, "perfbench/data/sf0.001/orders.parquet")

  private var dir = inputs.head
  private var pass = 0L

  private def run(log: OpLog, order: Seq[(String, String, (SparkSession, String) => DataFrame)]) = {
    var failed = 0L
    val lat = order.map { case (n, layer, fn) =>
      val t0 = Clock.nowUs()
      try log.timed(layer, n) { attrs =>
        val df = fn(spark, dir)
        attrs("build_us") = Clock.nowUs() - t0
        df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        Main.failedOp(spark, s"$n: $e")
        failed += 1
      }
      n -> (Clock.nowUs() - t0)
    }
    UnitOut(lat, order.size.toLong, 0L, order.size.toLong, failed)
  }

  def setup(rep: Int): Unit = {
    dir = inputs(rep)
    run(new OpLog, queries)
  }

  def unit(log: OpLog): UnitOut = {
    pass += 1
    val order = new scala.util.Random(seed * 7919L + pass).shuffle(queries)
    run(log, order)
  }

  /** Writes each query's output once for the oracle comparison that the
    * runner makes against DuckDB on the same input files; a query that
    * throws here leaves no output and fails that comparison. */
  override def check(): Unit = {
    val out = Paths.get(work, "out")
    Files.createDirectories(out)
    queries.foreach { case (n, _, fn) =>
      try fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString)
      catch { case e: Throwable => Main.failedOp(spark, s"$n: $e") }
    }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    Files.writeString(out.resolve("input_dir.txt"), dir)
  }

  override def info: Map[String, Any] = Map("queries" -> names.size, "input" -> dir)
}
