package graft
import org.apache.spark.sql.SparkSession

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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.core.LocalDirs(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000")) // see Bench
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OHA_FALLBACK", "262144")) // see Bench
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Metrics.register(spark)
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
