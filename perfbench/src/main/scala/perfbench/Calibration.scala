package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, countDistinct, lit, sum}

/** Reads how fast the host runs, so that end-to-end times can be stated at
  * one reference speed. The host is shared: its speed drifts over minutes,
  * and runs of the same code minutes apart differ by more than the bounds
  * allow. A probe is a fixed Spark query, timed between units, outside the
  * timed window. It uses Spark only, never the program, so no change to the
  * program can move it. Each workload scales by the probe whose work is
  * most like its own. */
final case class Probe(name: String, refS: Double, run: () => Unit) {
  /** Seconds one run of the probe took. */
  def time(): Double = {
    val t0 = System.nanoTime()
    run()
    (System.nanoTime() - t0) / 1e9
  }
}

object Calibration {
  /** A range aggregation on every core, like the workflow's Spark task
    * bodies: analysis, planning and a two-stage shuffle job. The reference
    * is its median on the measurement host (4 cores, local[4]). */
  def range(spark: SparkSession, cpus: Int): Probe = Probe("range", 0.085, () => {
    val rows = spark.range(0L, 40000L, 1L, cpus)
      .selectExpr("id % 101 AS k", "id * 3 AS v")
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect()
    require(rows.length == 101 && rows.map(_.getLong(2)).sum == 40000L,
      "range probe returned a wrong result")
  })

  /** A grouped query over a committed fixture file, like the battery's
    * queries: file listing, the parquet reader, analysis, planning and a
    * three-stage job. The reference is its median on the measurement host. */
  def parquet(spark: SparkSession, file: String): Probe = Probe("parquet", 0.200, () => {
    val rows = spark.read.parquet(file)
      .groupBy("o_orderpriority")
      .agg(sum("o_totalprice").as("s"), count(lit(1)).as("n"),
        countDistinct("o_custkey").as("d"))
      .collect()
    require(rows.length == 5 && rows.map(_.getLong(2)).sum == 1500L,
      "parquet probe returned a wrong result")
  })
}
