package graft

/** Dev harness: time one query repeatedly and dump its physical plan.
  * Usage: sbt "runMain graft.Profile <queryName> [reps] [explain]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = args.drop(1).find(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
    if (!SparkEntry.queries.contains(name)) {
      System.err.println(s"unknown query '$name'; valid names:\n  " +
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(1)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[profile] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
    }
    if (args.contains("explain")) fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
