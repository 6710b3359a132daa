package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property fuzz of [[graft.plans.UnionAggToGroupingSets]]: the rule is
  * a subtle whole-plan rewrite (exprId preservation, hidden grouping
  * keys, nullability, measure classification), previously pinned by one
  * positive and three negative hand-written audits. This spec generates
  * random (dims, measures, branch-subset) UNION ALL shapes over the
  * events table and asserts the rewritten result row-set equals the
  * rule-disabled one — whether or not the rule chose to fire. Measures
  * are exact (count / integer sums / min / max / decimal sums) so
  * equality never hinges on float summation order; a "poison" variant
  * mixes in a measure that references a grouping attribute OUTSIDE any
  * aggregate (the r12 ADVICE crash shape: passes hasAgg and semantic
  * equality, but would be unbindable after the rewrite) to pin the
  * attrsOutsideAgg guard — the rule must decline, not crash. */
class GroupingSetsFuzzSpec extends SparkSpec {

  /** Deterministic stand-in for ScalaCheckPropertyChecks (scalatestplus
    * is not in the offline cache): sample `gen` `n` times from a fixed
    * seed — any counterexample reproduces by seed. */
  private def forAll[A](gen: Gen[A], n: Int)(body: A => Unit): Unit = {
    var seed = Seed(1202L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(body)
      seed = seed.next
      i += 1
    }
  }

  // (alias, sql expr, sql type for the NULL padding)
  private val dimPool = Seq(
    ("d_type", "event_type", "STRING"),
    ("d_par", "CAST(user_id % 2 AS BIGINT)", "BIGINT"),
    ("d_mod3", "CAST(user_id % 3 AS BIGINT)", "BIGINT"),
    ("d_day", "CAST(date_trunc('DAY', ts) AS DATE)", "DATE"))

  private val measurePool = Seq(
    "COUNT(*)",
    "SUM(user_id)",
    "MIN(value)",
    "MAX(value)",
    "COUNT(DISTINCT event_type)",
    "SUM(CAST(value AS DECIMAL(18,2)))")

  private case class Shape(dims: Seq[Int], measures: Seq[Int],
      subsets: Seq[Seq[Boolean]], poison: Boolean)

  private val shapeGen: Gen[Shape] = for {
    nd <- Gen.choose(1, 3)
    dims <- Gen.pick(nd, dimPool.indices)
    nm <- Gen.choose(1, 3)
    measures <- Gen.listOfN(nm, Gen.choose(0, measurePool.length - 1))
    nb <- Gen.choose(2, 4)
    subsets <- Gen.listOfN(nb, Gen.listOfN(nd, Gen.oneOf(true, false)))
    poison <- Gen.frequency((4, Gen.const(false)), (1, Gen.const(true)))
  } yield {
    // the poison measure references dim 0 outside its aggregate, so dim 0
    // must be grouped in EVERY branch for the SQL to analyze — that is
    // exactly the ADVICE shape (semantically equal across branches,
    // dim projected everywhere, still unbindable after a naive rewrite)
    val sub = if (poison) subsets.map(s => true +: s.tail) else subsets
    Shape(dims.toSeq, measures, sub, poison)
  }

  private def shapeSql(sh: Shape): String = {
    val dims = sh.dims.map(dimPool)
    sh.subsets.map { present =>
      val dimSel = dims.zip(present).map { case ((a, e, t), p) =>
        if (p) s"$e AS $a" else s"CAST(NULL AS $t) AS $a"
      }
      val ms = sh.measures.zipWithIndex.map { case (mi, j) =>
        s"${measurePool(mi)} AS m_$j"
      } ++ (if (sh.poison)
        Seq(s"CONCAT(${dims.head._2}, COUNT(*)) AS m_p") else Nil)
      val gb = dims.zip(present).collect { case ((_, e, _), true) => e }
      s"SELECT ${(dimSel ++ ms).mkString(", ")} FROM graft_gs_events" +
        (if (gb.nonEmpty) s" GROUP BY ${gb.mkString(", ")}" else "")
    }.mkString(" UNION ALL ")
  }

  test("rule-on and rule-off row sets agree over random union-of-aggregate shapes") {
    graft.core.Tables.load(spark, sf, "events")
      .createOrReplaceTempView("graft_gs_events")
    var fired = 0
    def hasUnion(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union])
    forAll(shapeGen, 100) { sh =>
      val q = shapeSql(sh)
      val onDf = spark.sql(q)
      // fired <=> the Union is gone (COUNT(DISTINCT) can introduce
      // its own Expand, so Expand presence is not the right signal)
      val collapsed = !hasUnion(onDf)
      val on = onDf.collect().map(_.toString).sorted.toSeq
      if (collapsed) fired += 1
      val off = withoutRules(graft.plans.UnionAggToGroupingSets) {
        val df = spark.sql(q)
        // the baseline must really be rule-off, or on == off compares
        // the rewrite with itself
        if (collapsed) assert(hasUnion(df), s"rule-off plan lost its Union for:\n$q")
        df.collect().map(_.toString).sorted.toSeq
      }
      assert(on == off, s"rule changed results for:\n$q")
    }
    // the property is vacuous if the generator never produces a
    // collapsible union — require a healthy firing rate
    assert(fired >= 10, s"rule fired only $fired/100 times")
  }
}
