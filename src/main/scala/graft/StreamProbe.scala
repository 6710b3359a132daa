package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev harness (measurement only, never on the bench path): run one
  * streaming catalog entry and print every micro-batch's durationMs
  * decomposition (queryPlanning, getBatch, addBatch, walCommit,
  * commitOffsets, triggerExecution) plus query start/stop wall times —
  * the breakdown EntryProbe's job listener cannot see because most of a
  * bounded drain's cost is driver-side machinery between jobs.
  *
  * Usage: sbt "runMain graft.StreamProbe <query> [reps]"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_LOCAL_DIR
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    try fn(spark, warmDir).count() catch { case _: Throwable => () }

    @volatile var t0 = System.nanoTime()
    def ms(t: Long): Double = (System.nanoTime() - t) / 1e6
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        println(f"  [${ms(t0)}%8.1f ms] query START  ${e.name}")
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println(f"  [${ms(t0)}%8.1f ms] query STOP")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = {
          import scala.jdk.CollectionConverters._
          p.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
        }
        val state = p.stateOperators.map(s =>
          s"commit=${s.commitTimeMs}ms rows=${s.numRowsTotal}").mkString(",")
        println(f"  [${ms(t0)}%8.1f ms] batch ${p.batchId}%2d " +
          f"rows=${p.numInputRows}%6d  $dur  [$state]")
      }
    }
    spark.streams.addListener(listener)
    // In-process poor-man's profiler (attach API is blocked in this
    // sandbox): sample every executor thread ~50 Hz, bucket samples by
    // the deepest frame inside the state-store commit path, print the
    // histogram at exit. SPARK_GRAFT_SAMPLE=1 enables.
    val histo = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    if (sys.env.get("SPARK_GRAFT_SAMPLE").contains("1")) {
      val t = new Thread(() => {
        while (true) {
          val all = Thread.getAllStackTraces
          all.forEach { (th, frames) =>
            if (th.getName.startsWith("Executor task launch")) {
              val all = sys.env.get("SPARK_GRAFT_SAMPLE_ALL").contains("1")
              val inCommit = if (all) 0 else frames.indexWhere(f =>
                f.getClassName.contains("HDFSBackedStateStore") ||
                  f.getClassName.contains("StateStoreRDD") ||
                  f.getClassName.contains("statefulOperators") ||
                  f.getClassName.contains("SymmetricHashJoin"))
              if (inCommit >= 0 && frames.nonEmpty) {
                // key = first frame that is NOT low-level parking/IO glue,
                // plus the blocking frame itself — shows WHAT parked threads
                // are waiting in, not just that they parked
                val skip = Set("jdk.internal.misc.Unsafe", "java.lang.Object",
                  "java.util.concurrent.locks.LockSupport",
                  "java.util.concurrent.locks.AbstractQueuedSynchronizer")
                val inf = frames.filter(f => !skip.contains(f.getClassName))
                  .take(4)
                  .map(f => s"${f.getClassName.replace("org.apache.spark.", "").replace("sql.execution.streaming.", "")}.${f.getMethodName}")
                  .mkString(" < ")
                val parked = if (frames.headOption.exists(f =>
                  skip.contains(f.getClassName))) "PARKED: " else ""
                histo.merge(parked + inf, 1, (a, b) => a + b)
              }
            }
          }
          Thread.sleep(20)
        }
      })
      t.setDaemon(true)
      t.start()
    }
    (1 to reps).foreach { i =>
      Bench.clearSessionCaches(spark)
      t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"== $name rep $i: ${ms(t0) / 1e3}%.3f s ($n rows) ==")
      Thread.sleep(300)
    }
    if (!histo.isEmpty) {
      import scala.jdk.CollectionConverters._
      println("== state-path sample histogram (top frame of sampled executor threads) ==")
      histo.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, v) =>
        println(f"  $v%5d  $k")
      }
    }
    spark.stop()
  }
}
