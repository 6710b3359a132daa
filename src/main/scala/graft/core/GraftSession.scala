package graft.core

import org.apache.spark.sql.SparkSession

/** The one place that knows how an engine session is configured. Every
  * main builds its session with `GraftSession()`, and the test suite
  * with `GraftSession(builder(4).master(..))`, so the plan the suite
  * checks is the plan that ships.
  *
  * Env: `SPARK_GRAFT_CPUS` (local threads and shuffle partitions;
  * default: the JVM's available processors), `SPARK_GRAFT_LOCAL_DIR`
  * (see [[LocalDirs]]) and `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"`: extra
  * session confs applied last, over everything here. Every A/B
  * recorded below is reproduced that way. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, read once; not a positive integer fails. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS='$s' is not a positive integer"))
  }

  /** The shipped session confs for `cpus` local threads. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // AQE coalesce posture, MEASURED (r17 A/B, 30-heavy subset,
    // min-of-2 each side): parallelismFirst=false (the docs-
    // recommended "respect advisory size" setting) totals 66.1 s vs
    // 60.7 s for the default true — at sf0.1 most exchanges carry
    // few bytes but REAL per-row compute (ordered folds, edit
    // distances), so coalescing them to one advisory-sized task
    // serializes that compute (rel_copurchase +1.5 s, sim_kmeans
    // +1.1, dedup_ngram_jaccard +1.4) and only plan-heavy entries
    // win (adv_composite_match -3.9, ta_rrf -0.8). Byte-blind
    // coalescing is the wrong model for this catalog; the default
    // stays parallelismFirst=true (scale-adaptive: tracks
    // defaultParallelism, not a local constant).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // Janino compile-cache sizing: Spark's default keeps only 100
    // generated classes, but 270 entries × several codegen units
    // vastly exceed that — the sf0.001 warm pass self-evicts and the
    // measured run recompiles (r18 A/B: 30-heavy subset 44.8 → 30.2 s,
    // docs/PERF_NOTES.md). Memory cost is bounded: generated classes
    // of this catalog.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // ObjectHashAggregate fallback sizing: Spark flips every object
    // aggregation (top_k_structs, the collect_set/collect_list behind
    // ordered folds and pair postings) to sort-based processing after
    // only 128 DISTINCT KEYS per task — serializing each buffer into
    // an external sorter whose memory tracking SizeEstimator-samples
    // the buffers (the hottest parked frames of the r18 sampler on
    // ta_rrf). This engine's object-agg buffers are BOUNDED by
    // construction (k-row heaps, dfCap'd postings, per-order item
    // sets), so hash mode costs keys/task x bounded-state memory
    // (~80 MB at the 262144 worst case) and the fallback is pure
    // overhead. Measured (18-entry object-agg subset, idle host both
    // sides, min-of-3): 8.60 -> 7.46 s. Production would size it to
    // executor memory / state bound.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "262144",
    "spark.ui.enabled" -> "false")

  /** `SPARK_GRAFT_EXTRA_CONF` as (key, value) pairs: `;`-separated
    * `k=v` entries, empty entries skipped; an entry without `=` (or
    * with an empty key) fails, naming the entry. */
  def parseExtraConf(s: String): Seq[(String, String)] =
    s.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not k=v")
      }
    }

  /** Master `local[cpus]`, [[confs]], [[LocalDirs]], then
    * `SPARK_GRAFT_EXTRA_CONF`. */
  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    confs(cpus).foreach { case (k, v) => b.config(k, v) }
    LocalDirs(b)
    parseExtraConf(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", ""))
      .foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** Builds (or joins) the session, logs at WARN, registers [[Metrics]]. */
  def apply(b: SparkSession.Builder = builder()): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Metrics.register(spark)
    spark
  }
}
