package graft

import org.apache.spark.scheduler._

/** Dev harness: run one catalog entry cold-cache with a SparkListener
  * capturing every job's wall time, task count and stage names — the
  * per-entry breakdown r17's throwaway profiler produced, kept this
  * round because every target of the r18 verdict list needs one.
  *
  * Usage: sbt "runMain graft.EntryProbe <query> [reps]"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_LOCAL_DIR
  */
object EntryProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession()
    import org.apache.spark.sql.functions._
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    // plan/codegen warm at the smallest sf (the bench protocol)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    try fn(spark, warmDir).count() catch { case _: Throwable => () }

    case class Job(id: Int, desc: String, ms: Double, tasks: Int,
        stages: String)
    val jobs = new scala.collection.mutable.ArrayBuffer[Job]()
    val starts = new scala.collection.mutable.HashMap[Int, (Long, String, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        val tasks = e.stageInfos.map(_.numTasks).sum
        val stages = e.stageInfos.map(s => s"${s.name.takeWhile(_ != '\n').take(50)}(${s.numTasks}t)").mkString(" | ")
        starts(e.jobId) = (System.nanoTime(), desc, tasks, stages)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = starts.synchronized {
        starts.remove(e.jobId).foreach { case (t0, desc, tasks, stages) =>
          jobs += Job(e.jobId, desc, (System.nanoTime() - t0) / 1e6, tasks, stages)
        }
      }
    })

    (1 to reps).foreach { i =>
      Bench.clearSessionCaches(spark)
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // drain listener
      println(f"== $name rep $i: $total%.3f s ($n rows), ${jobs.size} jobs ==")
      jobs.foreach { j =>
        println(f"  job ${j.id}%3d ${j.ms}%8.1f ms ${j.tasks}%5dt  ${j.stages.take(120)}")
      }
      val accounted = jobs.map(_.ms).sum / 1e3
      println(f"  [sum of jobs: $accounted%.3f s; gaps (driver): ${total - accounted}%.3f s]")
    }
    spark.stop()
  }
}
