package graft

/** Dev harness for the ~90 ms per-SQL-action driver floor (r17 "Not yet
  * optimized" #1). Decomposes the floor: fresh-plan analysis/planning
  * cost, per-task launch cost (task-count scaling), per-job cost (AQE
  * stage jobs), and event-construction cost (explainString /
  * SparkPlanInfo per action). Numbers feed OPTIMIZATION_r18.md §1.
  *
  * Usage: sbt "runMain graft.FloorProbe [reps]"
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(300)
    val spark = graft.core.GraftSession()
    val cpus = graft.core.GraftSession.cpus
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext

    def time(label: String, warm: Int = 30)(body: => Unit): Double = {
      (1 to warm).foreach(_ => body)
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => body)
      val ms = (System.nanoTime() - t0) / 1e6 / reps
      println(f"[floor] $label%-58s ${ms}%8.2f ms")
      ms
    }

    // global JIT warmup of both paths
    (1 to 50).foreach { _ =>
      spark.range(100).agg(sum("id")).collect()
      sc.parallelize(1 to 100, 8).map(_ + 1).count()
    }

    println(s"=== decomposition, reps=$reps, cpus=$cpus ===")
    time("rdd job, 8 tasks")(sc.parallelize(1 to 100, 8).map(_ + 1).count())
    time("rdd job, 32 tasks")(sc.parallelize(1 to 100, 32).map(_ + 1).count())
    time("rdd job, 64 tasks (2 stages via shuffle)")(
      sc.parallelize(1 to 100, 32).map(x => (x, x)).reduceByKey(_ + _, 32).count())

    // planning only: fresh Dataset each rep, force executedPlan, never run
    time("fresh plan: analyze+optimize+plan (no exec)") {
      spark.range(100).agg(sum("id")).queryExecution.executedPlan
    }

    // full SQL action vs its own pieces
    time("sql action: range(100).agg.collect  [32in->1out]")(
      spark.range(100).agg(sum("id")).collect())
    time("sql action: range(100,p=8).agg.collect")(
      spark.range(0, 100, 1, 8).agg(sum("id")).collect())
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    time("sql action: agg.collect, shuffle.partitions=8")(
      spark.range(100).agg(sum("id")).collect())
    spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)

    // no shuffle: single-stage SQL action
    time("sql action: range(100).filter.collect [no shuffle]")(
      spark.range(100).filter(col("id") > 1000).collect())
    time("sql action: 1-partition scan+agg (p=1)")(
      spark.range(0, 100, 1, 1).agg(sum("id")).collect())

    // AQE off reference (posture reference only, never shipped)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    time("sql action: agg.collect, AQE off")(
      spark.range(100).agg(sum("id")).collect())
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    // event construction: explainString + SparkPlanInfo per action
    val qe = spark.range(100).agg(sum("id")).queryExecution
    qe.executedPlan
    time("explainString(formatted) on planned qe") {
      qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    }
    time("explainString(simple) on planned qe") {
      qe.explainString(org.apache.spark.sql.execution.SimpleMode)
    }
    spark.stop()
  }
}
