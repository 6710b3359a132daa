package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.ordered_sum

/** `ordered_sum` edge semantics, pinned at their current behaviour: the
  * oracle any native replacement of the collect-sort-fold must match.
  * (Order stability under partitioning and task retry is RetrySpec's.) */
class OrderedSumSpec extends SparkSpec {
  private val sess = SparkSpec.spark
  import sess.implicits._

  test("a null value makes the group's result null") {
    val df = Seq((1, 1L, Some(1.0)), (1, 2L, None), (1, 3L, Some(2.0)),
      (2, 1L, Some(0.5))).toDF("g", "k", "v")
    val out = df.groupBy(col("g")).agg(ordered_sum(col("v"), col("k")).as("s"))
      .as[(Int, Option[Double])].collect().toMap
    assert(out == Map(1 -> None, 2 -> Some(0.5)))
  }

  test("an empty global aggregate is 0.0, where sum is null") {
    val r = Seq((1L, 1.0)).toDF("k", "v").filter(lit(false))
      .agg(ordered_sum(col("v"), col("k")).as("s"), sum(col("v")).as("p"))
      .collect()(0)
    assert(!r.isNullAt(0) && r.getDouble(0) == 0.0 && r.isNullAt(1))
  }

  test("duplicate keys fold in (key, value) order") {
    // equal keys fall through to the value: 1.0, 1.0, 1e16 from 0.0.
    // Folding 1e16 first loses both ones (round half to even), so the
    // expected value tells the two orders apart.
    val sorted = ((0.0 + 1.0) + 1.0) + 1e16
    assert(sorted != ((0.0 + 1e16) + 1.0) + 1.0)
    val df = Seq((1L, 1e16), (1L, 1.0), (0L, -3.0), (1L, 1.0)).toDF("k", "v")
      .repartition(3)
    val s = df.filter(col("k") === 1).agg(ordered_sum(col("v"), col("k")))
      .collect()(0).getDouble(0)
    assert(s == sorted)
    // the key still orders first: -3.0 (key 0) folds before the ones
    val all = df.agg(ordered_sum(col("v"), col("k"))).collect()(0).getDouble(0)
    assert(all == (((0.0 + -3.0) + 1.0) + 1.0) + 1e16)
  }
}
