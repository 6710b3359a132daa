package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Skew-join measurement harness — the companion of [[ScaleUp]]'s
  * `zipf` mode. The key-offset frame is uniform by construction, so
  * the salting entries (`adv_salted_agg`/`adv_salted_join`) and the
  * AQE-skew claims were semantics-only until this: on a genuinely
  * skewed frame (30% of orders on one hot customer per copy) it times
  * the SAME orders ⋈ customer aggregation three ways and proves the
  * results identical:
  *
  *   1. `direct`    — shuffle hash join, AQE off: the straggler
  *                    baseline (every hot-key row through one task);
  *   2. `aqe_skew`  — AQE on with skew-join splitting: Spark's own
  *                    runtime mitigation, zero code change;
  *   3. `salted`    — AQE off, manual two-path hot-key salting: hot
  *                    keys (found by a count pass, driver-bounded at
  *                    rows/threshold keys) fan out over `Salt`
  *                    buckets with the dimension replicated ONLY for
  *                    those keys; cold keys join untouched. The
  *                    portable mitigation when the engine lacks AQE
  *                    or the skew is known ahead of time.
  *
  * Auto-broadcast is disabled throughout: at 10×-frame scale the
  * dimension still fits in memory, but the 100 TB posture this
  * measures is the shuffled-join one — broadcasting would measure a
  * different (trivially skew-immune) plan.
  *
  * Prints one JSON line:
  * `{"metric":"skew_join","direct":s,"aqe_skew":s,"salted":s,
  *   "agg_direct":s,"agg_salted":s,"rows":n,"hot_keys":k}`.
  * The agg pair times groupBy(o_custkey) sum/count direct vs
  * two-phase salted — expected to tie (partial aggregation already
  * collapses hot group keys map-side); measured to document THAT,
  * not to win.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<skewFrame> runMain graft.SkewBench`. */
object SkewBench {

  private val Salt = 32
  // a key is "hot" at ~1000x the uniform expectation (~10 orders per
  // customer); the zipf frame's hot keys carry ~45k orders per copy
  private val HotThreshold = 10000L
  // AQE skew-split engage thresholds tuned to this frame's partition
  // sizes (defaults are 256MB/64MB — see aqe() below); referenced by
  // both the conf set and the self-describing JSON line so they can't
  // drift apart
  private val SkewedPartitionThreshold = "8MB"
  private val AdvisoryPartitionSize = "4MB"

  private[graft] def segAgg(joined: DataFrame): DataFrame =
    joined.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("total"))

  /** Single-join hot-key salting: fact rows on hot keys get a salt from
    * their own PK (cold rows ride salt 0), the dimension row for a hot
    * key replicates Salt× (cold dimension rows keep one salt-0 row), and
    * ONE equi-join on (key, salt) covers both populations — identical
    * output, no straggler, one fact scan. (A two-path hot/cold split
    * join was measured first: its second scan of the fact table plus the
    * union cost it most of the salting win.) The hot-key discovery count
    * pass is timed as its own `discover` term — a pipeline that re-runs
    * the join amortizes it to zero, one that doesn't pays it once. */
  private[graft] def saltedJoin(orders: DataFrame, cust: DataFrame,
      hotKeys: Seq[Long]): DataFrame = {
    val fact = orders.withColumn("salt",
      when(col("o_custkey").isin(hotKeys: _*),
        pmod(col("o_orderkey"), lit(Salt))).otherwise(lit(0)).cast("int"))
    val dim = cust.withColumn("salt", explode(
      when(col("c_custkey").isin(hotKeys: _*),
        sequence(lit(0), lit(Salt - 1))).otherwise(array(lit(0)))))
    segAgg(fact.join(dim,
        fact("o_custkey") === dim("c_custkey") && fact("salt") === dim("salt"))
      .select(col("c_mktsegment"), col("o_totalprice")))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1_skew")
    val spark = graft.core.GraftSession()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    val orders = core.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = core.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))

    def aqe(on: Boolean): Unit = {
      spark.conf.set("spark.sql.adaptive.enabled", on.toString)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)
      // AQE's skew split only engages on partitions over
      // skewedPartitionThresholdInBytes (default 256 MB — sized for
      // real-cluster shuffles). The frame's hot partition is tens of MB,
      // so with defaults the "mitigation on" run silently measures the
      // same straggler as the baseline (observed: 4.51 s vs 4.77 s
      // direct at the 100× frame). Lower the engage thresholds to this
      // frame's scale — exactly the tuning a real cluster applies when
      // its skewed partitions sit under the default threshold.
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        if (on) SkewedPartitionThreshold else "256MB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        if (on) AdvisoryPartitionSize else "64MB")
    }
    // min-of-2 per variant: one-shot timings on a 32-thread local mode
    // move with the host band more than the variants differ
    def timed(f: => DataFrame): (Double, Seq[(String, Long, java.math.BigDecimal)]) = {
      def once(): (Double, Seq[(String, Long, java.math.BigDecimal)]) = {
        val t0 = System.nanoTime()
        val rows = f.collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2))).sortBy(_._1).toSeq
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val a = once(); val b = once()
      (math.min(a._1, b._1), a._2)
    }

    // warm the reader/codegen once so variant 1 isn't charged setup
    orders.count(); cust.count()

    // hot-key discovery, timed SEPARATELY from the salted join: a
    // pipeline that re-runs the same join amortizes the count pass to
    // zero, one that doesn't pays it once — report both terms and let
    // the reader add them
    val tHot0 = System.nanoTime()
    val hotKeys = orders.groupBy(col("o_custkey")).count()
      .filter(col("count") > HotThreshold)
      .select(col("o_custkey")).collect().map(_.getLong(0)).toSeq
    val tDiscover = (System.nanoTime() - tHot0) / 1e9
    require(hotKeys.nonEmpty, "skew frame has no hot keys — wrong input?")

    aqe(on = false)
    val (tDirect, rDirect) = timed(
      segAgg(orders.join(cust, col("o_custkey") === col("c_custkey"))))
    aqe(on = true)
    val (tAqe, rAqe) = timed(
      segAgg(orders.join(cust, col("o_custkey") === col("c_custkey"))))
    aqe(on = false)
    val (tSalted, rSalted) = timed(saltedJoin(orders, cust, hotKeys))
    require(rDirect == rAqe && rDirect == rSalted,
      s"variants disagree:\n$rDirect\n$rAqe\n$rSalted")

    // agg pair: direct groupBy on the skewed key vs two-phase salted —
    // partial aggregation already collapses hot keys map-side, so the
    // expectation is a tie; measured to document it
    def aggCollect(df: DataFrame): Long =
      df.agg(count(lit(1))).head().getLong(0)
    val (tAggDirect, nAggDirect) = {
      val t0 = System.nanoTime()
      val n = aggCollect(orders.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("s")))
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (tAggSalted, nAggSalted) = {
      val t0 = System.nanoTime()
      val n = aggCollect(orders
        .withColumn("salt", pmod(col("o_orderkey"), lit(Salt)))
        .groupBy(col("o_custkey"), col("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("ps"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("pn")).as("n"), sum(col("ps")).as("s")))
      ((System.nanoTime() - t0) / 1e9, n)
    }
    require(nAggDirect == nAggSalted, "agg variants disagree on group count")

    // merge the variant timings into the committed minima series,
    // keyed by frame like graft.Bench keys by sf dir ("skew:<frame>"):
    // runs on different-scale frames (zipf vs 100x) must NOT collide
    // in one series, or a small-frame run permanently wins the min and
    // masks every large-frame regression
    try {
      val path = java.nio.file.Paths.get("docs/bench_mins.json")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.configure(com.fasterxml.jackson.databind
        .SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)
      mapper.configure(com.fasterxml.jackson.databind
        .SerializationFeature.INDENT_OUTPUT, true)
      val root: java.util.Map[String, Object] =
        if (java.nio.file.Files.exists(path))
          mapper.readValue(java.nio.file.Files.readAllBytes(path),
            classOf[java.util.HashMap[String, Object]])
        else new java.util.HashMap[String, Object]()
      val byFrame = root
        .computeIfAbsent("skew:" + new java.io.File(sfDir).getName,
          _ => new java.util.HashMap[String, Object]())
        .asInstanceOf[java.util.Map[String, Object]]
      val commit =
        try {
          val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
            .start()
          val out = new String(p.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          p.waitFor()
          if (out.nonEmpty) out else "unknown"
        } catch { case _: Throwable => "unknown" }
      Seq("direct" -> tDirect, "aqe_skew" -> tAqe, "salted" -> tSalted,
        "discover" -> tDiscover, "agg_direct" -> tAggDirect,
        "agg_salted" -> tAggSalted).foreach { case (name, t) =>
        val sec = math.rint(t * 1000) / 1000
        val prev = Option(byFrame.get(name))
          .map(_.asInstanceOf[java.util.Map[String, Object]])
          .flatMap(m => Option(m.get("sec"))
            .map(_.asInstanceOf[Number].doubleValue))
        if (prev.forall(sec < _)) {
          val e = new java.util.HashMap[String, Object]()
          e.put("sec", java.lang.Double.valueOf(sec))
          e.put("commit", commit)
          byFrame.put(name, e)
        }
      }
      java.nio.file.Files.write(path, mapper.writeValueAsBytes(root))
    } catch { case _: Throwable => () }
    // the aqe_skew number is measured under TUNED engage thresholds (see
    // aqe() above) — emit them so the line is self-describing and can't
    // be read as default-config AQE. ROOT locale (not the f
    // interpolator): a comma-decimal default locale would break the JSON
    def f2(x: Double): String = String.format(java.util.Locale.ROOT,
      "%.2f", java.lang.Double.valueOf(x))
    println(s"""{"metric":"skew_join","direct":${f2(tDirect)},""" +
      s""""aqe_skew":${f2(tAqe)},"salted":${f2(tSalted)},""" +
      s""""discover":${f2(tDiscover)},""" +
      s""""agg_direct":${f2(tAggDirect)},"agg_salted":${f2(tAggSalted)},""" +
      s""""aqe_skew_thresholds":{"skewedPartitionThresholdInBytes":"$SkewedPartitionThreshold",""" +
      s""""advisoryPartitionSizeInBytes":"$AdvisoryPartitionSize"},""" +
      s""""rows":${rDirect.map(_._2).sum},"hot_keys":${hotKeys.length},"sf":"$sfDir"}""")
    spark.stop()
  }
}
