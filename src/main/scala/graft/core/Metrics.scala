package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Surfaces `Dataset.observe` metrics (cap/drop counters on the dedup
  * operators) to the log, so bounded-coverage decisions are never silent.
  * Every session built by [[GraftSession]] registers it: every main and
  * the test suite's. Specs assert on `qe.observedMetrics` directly.
  */
object Metrics {
  def register(spark: SparkSession): Unit =
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          // only shout when a cap actually dropped something
          val nonZero = row.schema.fieldNames.zip(row.toSeq).filter {
            case (_, v: Long) => v != 0L
            case _ => true
          }
          if (nonZero.nonEmpty)
            System.err.println(s"[graft-metrics] $name: " +
              nonZero.map { case (f, v) => s"$f=$v" }.mkString(", "))
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
}
