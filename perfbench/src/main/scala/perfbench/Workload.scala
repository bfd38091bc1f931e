package perfbench

import org.apache.spark.sql.SparkSession

/** What one timed unit produced. `latenciesUs` are the user-visible
  * operation latencies of the unit (a query, a DAG task), keyed by the
  * operation, which recurs in every unit; `items` over the unit's wall time
  * is its throughput. A nonzero `itemsSpanUs` is a narrower window (the
  * workflow's runDag makespan) that `items` is also rated over. */
final case class UnitOut(latenciesUs: Seq[(String, Long)], items: Long, itemsSpanUs: Long,
    attempted: Long, failed: Long, execSpans: Seq[graft.model.SpanRow] = Nil)

/** A benchmark workload. Inputs come from the seed only; `setup` may be
  * called several times and must leave the workload ready to serve units. */
trait Workload {
  def name: String
  /** Builds rep `rep`'s inputs and runs one untimed warm-up unit on them. */
  def setup(rep: Int): Unit
  /** One timed unit on the inputs of the last setup. */
  def unit(log: OpLog): UnitOut
  /** Leaves outputs for the runner to check after the timed units. */
  def check(): Unit = ()
  /** The calibration probe whose work is most like this workload's. */
  def probe: Probe
  /** Numbers the workload reports beside the metrics (sizes, counts). */
  def info: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: String,
      cpus: Int, inputs: Seq[String]): Workload = name match {
    case "battery" => new Battery(spark, seed, work, inputs)
    case "workflow" => new Workflow(spark, seed, work, cpus)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
