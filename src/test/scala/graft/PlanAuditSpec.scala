package graft

import org.apache.spark.sql.functions._

/** Plan-shape audit for the round-5 operators: the asserts encode the
  * plan we WANT (broadcast where small, key-partitioned join where
  * vocabulary-sized, no cartesian, pruned scans) so a regression in
  * Catalyst planning or in our code shows up as a failing contract, not
  * a silent slowdown. */
class PlanAuditSpec extends SparkSpec {

  test("bigram LM: model join degrades to a key-partitioned shuffle at scale") {
    // at test scale Catalyst rightly broadcasts the tiny sides; the
    // 100 TB contract is that NOTHING in our code forces a broadcast of
    // the vocabulary-sized model — with auto-broadcast off the plan
    // must fall back to a shuffled equi-join, not a cartesian/collect
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = graft.queries.AnalysisQueries.bigramLogprob(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled model join:\n$plan")
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastHashJoin"),
        s"no forced broadcast may survive the threshold=-1 config:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("temperature mixing: rate table broadcasts; corpus membership is zero-shuffle") {
    val df = graft.queries.AnalysisQueries.sourceMixTemperature(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"rate table should broadcast:\n$plan")
    // the only non-broadcast exchanges are the tiny per-source aggs —
    // no exchange may carry doc text
    plan.split("\n").filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text"), s"text crosses an exchange: $l")
    }
  }

  test("PQ encode is a pure projection: no join, no shuffle below the scan") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val anchors = emb.filter(col("vec_id") % 50 === 0)
    val plan = graft.operators.Similarity.pqEncode(emb, anchors, m = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"pqEncode must stay a projection:\n$plan")
  }

  test("curriculum shards: no global row sort; matches the ntile window formulation") {
    import org.apache.spark.sql.expressions.Window
    val df = graft.queries.AnalysisQueries.curriculumShards(spark, sf)
    val physical = df.queryExecution.executedPlan.toString
    // the corpus row stream is never totally ordered: its window is
    // PARTITIONED by score (per-tie-group sort), and no Sort in the plan
    // is global — the only single-partition work is the dimension-sized
    // score distribution (the percentileRank discipline)
    assert(!physical.matches("(?s).*Sort \\[[^\\]]*\\] true.*"), physical)
    val rowWindow = physical.linesIterator
      .find(l => l.contains("Window") && l.contains("row_number"))
    assert(rowWindow.exists(_.contains("], [knownfloatingpointnormalized")
      ) || rowWindow.exists(_.contains("], [quality")),
      s"tie-group window must be partitioned by score: $rowWindow")
    // same buckets as the textbook (single-partition) ntile window
    val feats = graft.operators.TextAnalysis.qualityFeatures(col("text")).toMap
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), feats("quality").as("q"))
      .withColumn("shard",
        ntile(4).over(Window.orderBy(col("q"), col("doc_id"))))
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val got = df.collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(got == expected)
  }

  test("equi-depth histogram: no global row sort; matches the textbook ntile") {
    import org.apache.spark.sql.expressions.Window
    val df = graft.queries.Relational.equidepthHist(spark, sf)
    val physical = df.queryExecution.executedPlan.toString
    // the lineitem row stream is never totally ordered (the curriculum-
    // shards discipline): only the bounded price-cell distribution may
    // sort single-partition
    assert(!physical.matches("(?s).*Sort \\[[^\\]]*\\] true.*"), physical)
    // same buckets as the single-partition textbook formulation
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_extendedprice").as("price"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"))
    val expected = li
      .withColumn("bucket", ntile(8).over(
        Window.orderBy(floor(col("price") / 100), col("rid"))))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("price")).as("min_price"), max(col("price")).as("max_price"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    val got = df.collect().map(r => (r.getInt(0), (r.getLong(1),
      r.getDouble(2), r.getDouble(3)))).toMap
    assert(got == expected)
  }

  test("hard negatives: queries broadcast; candidates never sort-merge or cartesian") {
    val df = graft.queries.SimilarityQueries.hardNegatives(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // theta-join (label mismatch) on a broadcast query side
    assert(plan.contains("BroadcastNestedLoopJoin")
        || plan.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus must not shuffle for the scorer:\n$plan")
    // the per-query top-k is a partial aggregate, not a window sort
    assert(!plan.contains("Window"), s"no window rank expected:\n$plan")
  }

  test("oov rate: vocabulary broadcasts; split-KS windows are all partitioned") {
    val oov = graft.queries.AnalysisQueries.oovRate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(oov.contains("BroadcastHashJoin"),
      s"vocab join should broadcast:\n$oov")
    assert(!oov.contains("SortMergeJoin"), s"token stream must not shuffle:\n$oov")
    val ks = graft.queries.AnalysisQueries.splitKs(spark, sf)
      .queryExecution.executedPlan
    val unpartitioned = ks.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, s"unpartitioned CDF window in:\n$ks")
  }

  test("bpe encode: vocabulary join degrades to a key-partitioned shuffle at scale") {
    // the subword model (word -> symbol count) is vocabulary-sized; with
    // auto-broadcast off the attach must fall back to a shuffled
    // equi-join on word — nothing in our code may force a broadcast
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = graft.queries.AnalysisQueries.bpeEncode(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled vocabulary join:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"no forced broadcast may survive the threshold=-1 config:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("epoch shuffle matches the row_number window formulation") {
    val df = graft.queries.AnalysisQueries.shuffleOrder(spark, sf)
    assert(!df.queryExecution.executedPlan.toString.contains("SinglePartition"))
    import org.apache.spark.sql.expressions.Window
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        md5(encode(concat(lit("42:"), col("doc_id").cast("string")), "UTF-8"))
          .as("k"))
      .withColumn("p",
        row_number().over(Window.orderBy(col("k"), col("doc_id"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("train split is a pure projection: no join, no aggregation exchange") {
    val df = graft.queries.AnalysisQueries.trainSplit(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // assignment must stay completely shuffle-free (append-stable by
    // construction, parallelized by file split at scale)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"),
      s"split assignment may not shuffle:\n$plan")
    val scan = plan.linesIterator.find(_.contains("FileScan"))
    assert(scan.exists(l => !l.contains("text")),
      s"text must prune from the scan: $scan")
  }

  test("per-language quality gate has no single-partition exchange at all") {
    // unlike the global percentile rank (whose distribution window is
    // single-partition by necessity), the grouped variant's windows are
    // partitioned by language — nothing in the plan funnels to one task
    val plan = graft.queries.AnalysisQueries.qualityGate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("zorder key is a pure projection with a pruned scan") {
    val df = graft.queries.Relational.zorderKey(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    val scan = plan.linesIterator.find(_.contains("FileScan"))
    assert(scan.exists(l => !l.contains("event_type")),
      s"unused columns must prune from the scan: $scan")
  }

  test("dedup weights: size attach degrades to a key-partitioned join at scale") {
    // the cluster-size join must never force a broadcast or go cartesian
    // — with auto-broadcast off it has to fall back to a shuffled
    // equi-join on the cluster key (both sides already carry it)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = graft.queries.DedupQueries.dedupWeights(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled cluster-size join:\n$plan")
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastHashJoin"),
        s"no forced broadcast may survive the threshold=-1 config:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dedup rates by source: document text never crosses an exchange") {
    // the digest projects at the scan; everything that shuffles is
    // (doc_id, source, digest, flag)-sized
    val plan = graft.queries.DedupQueries.ratesBySource(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    plan.split("\n").filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text"), s"text crosses an exchange: $l")
    }
  }

  test("curation manifest: keyed joins only; text never crosses an exchange") {
    // the composition contract: exact stage shuffles digests, cluster
    // stages shuffle (doc_id, cluster)-sized rows, quality stage
    // broadcasts distribution cells — no cartesian, no global sort, and
    // no exchange carries document text
    val plan = graft.queries.DedupQueries.curationManifest(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    plan.split("\n").filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text"), s"text crosses an exchange: $l")
    }
    // the only sorts allowed are inside sort-merge joins / partitioned
    // windows, never a global (singlePartition) ordering
    assert(!plan.contains("Sort [") ||
      !plan.split("\n").exists(l => l.contains("Sort [") && l.contains("global=true")
        && !l.contains("SortMergeJoin")),
      s"unexpected global sort:\n$plan")
  }

  test("stratified sample: selection is a partial top-k aggregate, no per-doc window") {
    val df = graft.queries.AnalysisQueries.stratifiedSample(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the bounded bottom-k aggregate replaces any per-stratum window
    // sort over documents; the only Window node allowed is the |langs|-row
    // allocation (its child is an aggregate output, never the doc scan)
    assert(plan.contains("top_k_structs") || plan.contains("TopKStructs")
      || plan.contains("bottom_k"), s"expected the partial top-k agg:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // the allocation table comes back as a broadcast, not a shuffle
    assert(plan.contains("BroadcastHashJoin"), s"alloc should broadcast:\n$plan")
  }

  test("span rewrite: linear plan — no cartesian, text never crosses an exchange") {
    val df = graft.queries.DedupQueries.spanRewrite(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    plan.split("\n").filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"doc text crosses an exchange: $l")
    }
  }

  test("GD trainer round: gradient aggregation is partition-local on the blk cache") {
    import org.apache.spark.sql.functions._
    val sess = SparkSpec.spark
    import sess.implicits._
    // same shape the trainer builds: blk-partitioned cached projection,
    // two-level grouped fold — the per-round plan must contain NO
    // exchange between the cache scan and the level-1 aggregate
    val feats = (0L until 3000L).map(i => (i, i / 1024L, (i % 97) / 97.0))
      .toDF("id", "blk", "x1").repartition(8, col("blk"))
      .persist()
    try {
      feats.count()
      val lvl1 = feats.groupBy(col("blk")).agg(
        graft.functions.TextFunctions.ordered_sum(col("x1"), col("id")).as("g"))
      val plan = lvl1.queryExecution.executedPlan.toString
      // between the aggregate and the cache SCAN there must be no
      // exchange (the one inside the InMemoryRelation description is
      // the one-time cache build, not a per-round cost)
      val betweenAggAndScan = plan.split("\n")
        .dropWhile(!_.contains("ObjectHashAggregate"))
        .takeWhile(!_.contains("InMemoryTableScan"))
      assert(!betweenAggAndScan.exists(_.contains("Exchange")),
        s"level-1 gradient agg must reuse the cache partitioning:\n$plan")
    } finally feats.unpersist()
  }

  test("ewma fold: one user-keyed exchange, no window, no per-user sort operator") {
    val plan = graft.queries.Relational.ewmaAnomaly(spark, sf)
      .queryExecution.executedPlan.toString
    // the recursive state rides an expression-level fold over a sorted
    // ARRAY — the plan must contain no Window and no Sort operator, and
    // exactly one data exchange (the user_id aggregation)
    assert(!plan.contains("Window"), s"no window expected:\n$plan")
    assert(!plan.contains("\nSort ") && !plan.contains("+- Sort "),
      s"no sort operator expected (array_sort is an expression):\n$plan")
    val nEx = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(nEx == 1, s"expected exactly one hash exchange, got $nEx:\n$plan")
  }

  test("snapshot diff: argmax aggregates, no window, key-partitioned outer join") {
    val plan = graft.queries.Relational.snapshotDiff(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"argmax must be max(struct):\n$plan")
    assert(plan.contains("FullOuter"), s"expected a full outer join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("zipf fit: vocabulary is never window-sorted; text never crosses an exchange") {
    val plan = graft.queries.AnalysisQueries.zipfFit(spark, sf)
      .queryExecution.executedPlan.toString
    // top-R per lang comes from the partial-top-k aggregate, NOT a
    // row_number window over the vocabulary
    assert(!plan.contains("Window"), s"no vocab window expected:\n$plan")
    assert(!plan.matches("(?s).*Sort \\[[^\\]]*\\] true.*"),
      s"no global sort expected:\n$plan")
    plan.split("\n").filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"doc text crosses an exchange: $l")
    }
  }

  test("charset quality: projection + two-level fold, no join, no text exchange") {
    val plan = graft.queries.AnalysisQueries.charsetQuality(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"no join expected:\n$plan")
    // two hash exchanges: the per-(source, lang, blk) inner fold and the
    // per-(source, lang) roll-up of block PARTIALS (grid × blocks rows —
    // the second exchange never carries per-document rows, which is the
    // point of the block-bounded fold); the first level must include blk
    // in its keys, the second must not
    val ex = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(ex.length == 2, s"expected two hash exchanges, got ${ex.length}:\n$plan")
    assert(ex.exists(l => l.contains("source#") && l.contains("groupingexpression")),
      s"inner exchange must partition by (source, lang, blk):\n$plan")
    plan.split("\n").filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"doc text crosses an exchange: $l")
    }
  }

  test("link prediction: wedge expansion is explode-based — no cartesian, no window") {
    val plan = graft.queries.GraphQueries.linkPred(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("Generate"),
      s"wedges must come from the adjacency-array explode:\n$plan")
  }

  test("composite match: fully codegen — no UDF dispatch anywhere in the plan") {
    val plan = graft.queries.Advanced.compositeMatch(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"the similarity kernel must be a native expression:\n$plan")
    assert(plan.contains("sequence_ratio"),
      s"expected the sequence_ratio expression in the plan:\n$plan")
  }

  test("sparse retrieval: consumers plan against the shared tf checkpoint, not a re-explode") {
    // ta_bm25 reads the family's ta:tf DfCache entry: its plan must
    // reference the materialized checkpoint (ExistingRDD) and contain
    // NO Generate — the term_counts explode ran once, in the cache
    // builder, not per consumer
    val plan = graft.queries.AnalysisQueries.bm25(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"),
      s"bm25 must scan the tf checkpoint:\n$plan")
    assert(!plan.contains("Generate"),
      s"no tokenization explode may appear below a cache consumer:\n$plan")
  }

  test("fusion rankers: tf-idf weights and norms read from shared checkpoints") {
    // ta_rrf / ta_hybrid_related consume the ta:tfidf_w / ta:tfidf_norms
    // DfCache entries: their plans must scan materialized checkpoints
    // (ExistingRDD) with NO Generate — tokenization, weighting and the
    // norm fold all ran once, in the cache builders
    Seq(
      graft.queries.AnalysisQueries.rrfFusion(spark, sf),
      graft.queries.AnalysisQueries.hybridRelated(spark, sf)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ExistingRDD"),
        s"fusion ranker must scan the shared checkpoints:\n$plan")
      // the dense ranker's top-k posexplode is legitimate; what must be
      // gone is any TOKENIZATION generate (term_counts ran once, in the
      // ta:tf cache builder)
      assert(!plan.split("\n").exists(l =>
          l.contains("Generate") && l.contains("term_counts")),
        s"no tokenization explode may appear below a cache consumer:\n$plan")
    }
  }

  test("seq packing: doc-stream window is shard-partitioned; only the shard table is single-partition") {
    val df = graft.queries.AnalysisQueries.seqPacking(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val lines = plan.split("\n")
    // the corpus-sized running sum must run partitioned (parallel)
    assert(lines.exists(l => l.contains("Window") && l.contains("], [shard")),
      s"within-shard window must be partitioned by shard:\n$plan")
    // exactly one single-partition stage: the dimension-sized
    // shard-total offset window, never the document stream
    assert(lines.count(_.contains("Exchange SinglePartition")) == 1, plan)
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"shard offsets must broadcast back:\n$plan")
    // two-level sum equals the textbook single global window
    import org.apache.spark.sql.expressions.Window
    val tok = graft.functions.TextFunctions.count_tokens(col("text")).cast("long")
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), tok.as("tok"))
      .withColumn("cum", sum(col("tok")).over(
        Window.orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .selectExpr("doc_id", "(cum - tok) div 2048 AS bin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = df.select(col("doc_id"), col("bin")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
  }

  test("rel_bucketed_join: zero exchange on the join key (layout-satisfied)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the bucket layout — not a small-table
      // shortcut — is what satisfies the join's distribution requirement
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.queries.Relational.bucketedJoin(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"join must read the bucketed layout:\n$plan")
      // the ONLY exchange is the segment-sized final aggregate; nothing
      // may move on the join key
      plan.split("\n").filter(_.contains("Exchange")).foreach { l =>
        assert(l.contains("c_mktsegment") && !l.contains("o_custkey"),
          s"unexpected exchange: $l")
      }
      assert(df.count() == 5) // TPC-H market segments
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("edit-distance join: PassJoin candidate amplification is bounded at 39/row") {
    val s = spark; import s.implicits._
    // lengths spanning the whole long branch; worst-case amplification
    // is at large l where every (dl, sh) enumeration survives the
    // position-validity filter
    val parts = Seq.tabulate(30)(k =>
      (k.toLong, ("abcdefghijklmnopqrstuvwxyz0123456789" * 2).take(9 + k), 1))
      .toDF("p_partkey", "p_name", "p_size")
      .withColumn("l", org.apache.spark.sql.functions.length($"p_name"))
    val perRow = graft.queries.Relational.editProbe(parts)
      .groupBy($"part_b").count().agg(max($"count")).collect()(0).getLong(0)
    assert(perRow <= 39,
      s"probe amplification $perRow exceeds the 13·3 = 39 feasibility bound")
  }

  test("edit-distance join: signature equi-join, no cartesian, match-only dedup exchange") {
    val df = graft.queries.Relational.editDistancePairs(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // both branches must join on their blocking keys (segment signature /
    // length band), never on p_size alone
    val joinKeys = plan.split("\n").filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joinKeys.exists(l => l.contains("seg#")),
      s"long branch must join on the segment signature:\n$plan")
    // the banded-DP verification runs BELOW the pair dedup (Catalyst
    // even pushes it into the join condition), so only verified matches
    // cross the dedup exchange — plan prints root-first, so the dedup's
    // exchange line must come BEFORE the first levenshtein line
    val lines = plan.split("\n")
    assert(lines.exists(l => l.contains("Aggregate(key=[part_a")),
      s"expected a (part_a, part_b)-keyed dedup aggregate:\n$plan")
    val dedupEx = lines.indexWhere(_.contains("Exchange hashpartitioning(part_a"))
    val verifyAt = lines.indexWhere(_.contains("levenshtein"))
    assert(dedupEx >= 0 && verifyAt > dedupEx,
      s"banded DP must run before the pair-dedup exchange:\n$plan")
  }

  test("kneser-ney LM: model statistics degrade to key-partitioned joins at scale") {
    // same contract as the interpolated bigram LM: with auto-broadcast
    // off, the vocabulary-sized c(w1 .)/N1+(w1 .)/N1+(. w2) attaches and
    // the per-doc model join must fall back to shuffled equi-joins —
    // only the 1-row N1+(. .) total may broadcast (explicit hint)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = graft.queries.AnalysisQueries.kneserNey(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected shuffled model joins:\n$plan")
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastHashJoin"),
        s"no forced broadcast may survive the threshold=-1 config:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join: two-key shuffled join with the replication generate") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = graft.queries.Advanced.saltedJoin(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
      // the join must carry BOTH keys — event_type alone would put every
      // row of a hot type through one reducer
      val joinLine = plan.split("\n").find(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
      assert(joinLine.isDefined, s"expected a shuffled equi-join:\n$plan")
      assert(joinLine.get.contains("event_type#") && joinLine.get.contains("salt#"),
        s"join must be keyed on (event_type, salt):\n$plan")
      // the dimension side replicates via explode(sequence(...))
      assert(plan.contains("Generate explode"),
        s"dimension replication generate missing:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("record linkage: blocking equi-join, broadcast u-scalars, no cartesian") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = graft.queries.Advanced.recordLinkage(spark, sf)
        .queryExecution.executedPlan.toString
      // candidate pairs must come from the (nat, seg) blocking keys as a
      // shuffled equi-join — never an all-pairs comparison
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"blocking join must be a shuffled equi-join at scale:\n$plan")
      assert(!plan.contains("CartesianProduct"), plan)
      // the three u-statistics are 1-row frames with an explicit
      // broadcast hint: they ride BroadcastNestedLoopJoins, which is the
      // wanted shape (a scalar against every pair row)
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"u-scalars should attach via broadcast:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("winnowing pairs: sampled-index postings plan — no cartesian, text never shuffles") {
    // the whole point of winnowing is that only the ~2/(w+1)-density
    // fingerprint sample reaches the exchange: the kernel projects at
    // the scan, every shuffled row is (fp, id, n)- or pair-sized, and
    // the df-cap observe metric is present (hot fingerprints drop LOUDLY)
    val df = graft.queries.DedupQueries.winnowing(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    plan.split("\n").filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text"), s"text crosses an exchange: $l")
    }
    // winnow_fingerprints evaluates below every exchange (plan strings
    // print top-down, so the scan side is the segment after the LAST
    // Exchange line)
    val scanSide = plan.split("Exchange").last
    assert(scanSide.contains("winnow_fingerprints"),
      s"kernel must project at the scan:\n$plan")
    assert(df.queryExecution.analyzed.toString.contains("winnowing"),
      "df-cap observe metric missing from the plan")
  }

  test("comparator family: blocked equi-joins, never a cartesian or range scan") {
    // SNM: the window join must be the (seg, rn + d) HASH equi-join,
    // not a BETWEEN range join — that is the whole point of sorting
    val snm = graft.queries.Advanced.sortedNeighborhood(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!snm.contains("CartesianProduct"), snm)
    assert(!snm.contains("BroadcastNestedLoopJoin"),
      s"SNM rank join must stay an equi-join:\n$snm")
    // ranking rides GlobalOrder (range partition + local offsets) —
    // never a single-task per-segment window sort
    assert(!snm.contains("SinglePartition"),
      s"SNM ranking funnels to one task:\n$snm")
    // Hamming pairs: banded candidates ride a hash equi-join on
    // (nat, seg, band, sig) — never a cartesian/range scan
    val ham = graft.queries.Advanced.hammingPairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!ham.contains("CartesianProduct"), ham)
    assert(!ham.contains("BroadcastNestedLoopJoin"), ham)
    // Damerau best-match: probes broadcast onto the blocked candidates
    val dam = graft.queries.Advanced.damerauBestMatch(spark, sf)
      .queryExecution.executedPlan.toString
    assert(dam.contains("BroadcastHashJoin"),
      s"probe side must broadcast:\n$dam")
    assert(!dam.contains("CartesianProduct"), dam)
  }

  test("hamming pairs: banded blocking — exact recall, bounded candidate amplification") {
    import org.apache.spark.sql.functions.{col, sum, expr}
    val dir = "/root/testdata/sf0.01" // sf0.001's 150 keys leave the
    // digit bands nearly constant; amplification is only meaningful
    // once band cardinality is realistic
    // exact recall: the banded pipeline must equal the naive in-block
    // quadratic it replaces, row for row
    val tf = graft.functions.TextFunctions
    val c = graft.core.Tables.load(spark, dir, "customer")
      .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        col("c_custkey").as("key"), col("c_name").as("name"))
    val naive = c.as("a").join(c.as("b"),
        col("a.nat") === col("b.nat") && col("a.seg") === col("b.seg") &&
          col("a.key") < col("b.key"))
      .select(col("a.nat").as("nat"), col("a.seg").as("seg"),
        col("a.key").as("key_a"), col("b.key").as("key_b"),
        tf.hamming_bytes(col("a.name"), col("b.name")).as("hamming"))
      .filter(col("hamming").between(0, 2))
    val banded = graft.queries.Advanced.hammingPairs(spark, dir)
    assert(banded.exceptAll(naive).isEmpty && naive.exceptAll(banded).isEmpty,
      "banded blocking must have exact recall vs the naive quadratic")
    // amplification bound, data-derived (not factor-2 slack): the
    // candidate set is the dedup of the union of per-band self-joins,
    // so it can NEVER exceed Σ per-(nat, seg, band, sig) collision
    // pairs — assert that exactly; and the collision ratio vs the
    // in-block quadratic follows the band-entropy form ~3/∛K (each
    // interleaved band carries ~∛ of the used key space K's digits):
    // measured 0.249 at K=1.5k here, shrinking with scale (~0.03 at
    // K=1M). Pin the sf0.01 point with ~15% headroom so a regression
    // toward near-quadratic (ratio→1) cannot hide.
    val cand = graft.queries.Advanced.hammingCandidates(spark, dir).count()
    val collisionPairs = graft.queries.Advanced.hammingBanded(spark, dir)
      .groupBy(col("nat"), col("seg"), col("band"), col("sig")).count()
      .select(sum(expr("count * (count - 1) / 2")).cast("long"))
      .first().getLong(0)
    val blockPairs = c.groupBy(col("nat"), col("seg")).count()
      .select(sum(expr("count * (count - 1) / 2")).cast("long"))
      .first().getLong(0)
    info(s"candidates=$cand collisionPairs=$collisionPairs " +
      s"blockPairs=$blockPairs " +
      f"ratio=${cand.toDouble / blockPairs}%.3f")
    assert(cand <= collisionPairs,
      s"candidates must be bounded by per-band collisions: " +
        s"cand=$cand collisions=$collisionPairs")
    assert(cand.toDouble / blockPairs <= 0.29,
      s"collision ratio off its band-entropy curve (expected ~0.25 " +
        s"at sf0.01): cand=$cand blockPairs=$blockPairs")
  }

  test("repetition signals: every stage keys on doc_id, no global funnel") {
    val plan = graft.queries.AnalysisQueries.repetitionSignals(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"repetition plan funnels to one task:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("attribution: user-keyed join with the window in the condition, no cartesian") {
    val plan = graft.queries.Relational.attribution(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"touch-conversion join must stay keyed on user_id:\n$plan")
    // the time-window predicate rides the join, not a post-filter over
    // a wider product: no standalone Filter on t_us above the join
    val joinIdx = plan.linesIterator.indexWhere(_.contains("Join"))
    assert(joinIdx >= 0, plan)
  }

  test("engine sketches: register/counter/cell tables are distributed partial aggregates") {
    // HLL: the register table is a plain hash aggregation — nothing
    // funnels to a single task; the row stream never sorts
    val hll = graft.queries.Relational.approxDistinct(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!hll.contains("SinglePartition"), s"HLL plan funnels:\n$hll")
    assert(!hll.contains("CartesianProduct"), hll)
    // CMS: probe side broadcasts against the bounded counter table
    val cms = graft.queries.AnalysisQueries.cmsCounts(spark, sf)
      .queryExecution.executedPlan.toString
    assert(cms.contains("BroadcastHashJoin"),
      s"CMS probes must broadcast:\n$cms")
    assert(!cms.contains("CartesianProduct"), cms)
    // quantile sketch: the one cumulative window runs per-GROUP over
    // bucket cells — no single-partition exchange anywhere
    val qs = graft.queries.Relational.quantileSketch(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!qs.contains("SinglePartition"),
      s"quantile sketch plan funnels:\n$qs")
    assert(!qs.contains("CartesianProduct"), qs)
  }

  test("accuracy family: union of per-dim aggregates collapses to ONE grouping-sets pass") {
    val df = graft.queries.Relational.accuracySets(spark, sf)
    val optimized = df.queryExecution.optimizedPlan
    assert(!optimized.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]),
      s"union must collapse:\n$optimized")
    assert(optimized.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Expand]),
      s"expected the grouping-sets Expand:\n$optimized")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.split("events").length - 1 >= 1)
    assert(physical.split("Scan parquet").length - 1 == 1,
      s"the family must cost ONE scan:\n$physical")
    // semantics: identical rows to the naive (rule-off) union
    val rows = df.collect().map(_.toString).sorted.toSeq
    val naiveRows = withoutRules(graft.plans.UnionAggToGroupingSets) {
      val naive = graft.queries.Relational.accuracySets(spark, sf)
      assert(naive.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]))
      assert(!naive.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Expand]))
      naive.collect().map(_.toString).sorted.toSeq
    }
    assert(rows == naiveRows)
  }

  test("grouping-sets rule leaves non-collapsible unions alone") {
    import graft.core.Tables
    val ev = Tables.load(spark, sf, "events")
    // different measures per branch: must NOT collapse
    val u1 = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .union(ev.groupBy(col("event_type"))
        .agg(sum(col("user_id")).as("n")))
    assert(u1.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]),
      "measure mismatch must keep the union")
    // different inputs per branch: must NOT collapse
    val u2 = ev.filter(col("user_id") > 10).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .union(ev.groupBy(col("event_type")).agg(count(lit(1)).as("n")))
    assert(u2.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]),
      "different bases must keep the union")
    // hidden grouping key (grouped but not projected): must NOT collapse
    val u3 = ev.groupBy(col("event_type"), col("user_id") % 2)
      .agg(count(lit(1)).as("n")).select(col("event_type"), col("n"))
      .union(ev.groupBy(col("event_type")).agg(count(lit(1)).as("n")))
    assert(u3.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]),
      "hidden grouping keys must keep the union")
  }

  test("fightin words: top-k is the partial aggregate, never a global row sort") {
    val plan = graft.queries.AnalysisQueries.fightinWords(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("top_k_structs"),
      s"selection must run through the bounded partial aggregate:\n$plan")
    // no Sort over the per-term stream (the k-row result may sort; a
    // global ORDER BY on the vocabulary-sized input may not)
    assert(!plan.split("\n").exists(l =>
      l.contains("Sort ") && l.contains("az")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("RP-LSH re-attach: broadcast under the ceiling, shuffle join past it, same pairs") {
    // the gate (Similarity.RpLshBroadcastCeiling) is a measured-size
    // decision, so both sides of the boundary must be exercised: with
    // auto-broadcast off, the only broadcasts in the plan are the ones
    // OUR hint forces — present when the estimate fits the ceiling,
    // absent (planner's shuffle join) when a 1-byte ceiling rejects it.
    // Output must be identical either way (the hint is a plan shape,
    // never a semantics, decision).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val under = graft.operators.Similarity.rpLshNearDups(emb, 0.35)
      val over = graft.operators.Similarity.rpLshNearDups(emb, 0.35,
        broadcastCeiling = 1L)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).sortBy(p => (p._1, p._2))
      val (pu, po) = (pairs(under), pairs(over))
      assert(pu.nonEmpty, "gate spec needs a non-trivial pair set")
      assert(pu.sameElements(po),
        "broadcast and shuffle re-attach regimes must emit identical pairs")
      val planUnder = under.queryExecution.executedPlan.toString
      val planOver = over.queryExecution.executedPlan.toString
      assert(planUnder.contains("BroadcastHashJoin"),
        s"under-ceiling re-attach should broadcast:\n$planUnder")
      assert(!planOver.contains("BroadcastHashJoin")
          && !planOver.contains("BroadcastExchange"),
        s"over-ceiling re-attach must fall back to a shuffled join:\n$planOver")
      assert(planOver.contains("SortMergeJoin")
          || planOver.contains("ShuffledHashJoin"), planOver)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
