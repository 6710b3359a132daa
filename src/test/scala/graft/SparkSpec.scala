package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession), built by
  * the same factory as every main, so the suite runs the shipped
  * configuration: both `GraftExtensions` optimizer rules, the engine's
  * SQL functions and hash-mode object aggregation. */
object SparkSpec {
  lazy val spark: SparkSession =
    // local[4, 2]: 4 threads, maxFailures = 2 — task failures RETRY
    // once instead of failing the job, which is what lets RetrySpec
    // exercise real task re-execution (plain local[n] pins
    // maxFailures = 1). Tests that assert on job failure still see the
    // same SparkException; the failing task just runs twice first.
    graft.core.GraftSession(
      graft.core.GraftSession.builder(cpus = 4).master("local[4, 2]"))

  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** Runs `f` with `rules` excluded from the optimizer
    * (`spark.sql.optimizer.excludedRules`): the rule-off baseline of a
    * spec that compares a shipped rule on and off. Build and optimize
    * every DataFrame inside `f` — a plan optimized outside keeps
    * whatever the conf said then. */
  def withoutRules[T](rules: Rule[_]*)(f: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, rules.map(_.ruleName).mkString(","))
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
