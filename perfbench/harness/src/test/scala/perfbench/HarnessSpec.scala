package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("tail rule: highest percentile that leaves at least ten samples beyond it") {
    def sample(n: Int) = (1 to n).map(_.toDouble).reverse
    assert(Stats.tail(sample(9)).isEmpty)
    assert(Stats.tail(sample(10)).isEmpty)
    assert(Stats.tail(sample(20)).contains((50.0, 10.0)))
    assert(Stats.tail(sample(100)).contains((90.0, 90.0)))
    assert(Stats.tail(sample(1000)).contains((99.0, 990.0)))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of overlapping children") {
    // parent [0, 100); children [10, 40) and [30, 60) overlap: union 50
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    // a child nested in another counts once; one spilling past the end is clipped
    assert(Stats.selfTime(0, 100, Seq((10L, 90L), (20L, 30L), (95L, 120L))) == 15)
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
  }

  private val ab = StructType(Seq(StructField("a", DoubleType), StructField("b", StringType)))
  private val ba = StructType(Seq(StructField("b", StringType), StructField("a", DoubleType)))

  test("fingerprint ignores row order and column order") {
    val rows = Seq(Row(1.5, "x"), Row(2.5, "y"))
    val swapped = Seq(Row("y", 2.5), Row("x", 1.5))
    assert(Fingerprint.of(ab, rows) == Fingerprint.of(ba, swapped))
    assert(Fingerprint.of(ab, rows) != Fingerprint.of(ab, Seq(Row(1.5, "x"), Row(2.5, "z"))))
  }

  test("fingerprint normalizes NaN, null and -0.0 and rounds doubles to 9 places") {
    assert(Fingerprint.canonDouble(-0.0) == Fingerprint.canonDouble(0.0))
    assert(Fingerprint.canonDouble(-1e-12) == "0")
    assert(Fingerprint.canonDouble(Double.NaN) == "NaN")
    assert(Fingerprint.canonDouble(0.1234567891) == Fingerprint.canonDouble(0.1234567894))
    assert(Fingerprint.canonDouble(0.123456789) != Fingerprint.canonDouble(0.123456788))
    assert(Fingerprint.canonDouble(2.0) == "2")
    val nan = Fingerprint.of(ab, Seq(Row(Double.NaN, "x")))
    val nul = Fingerprint.of(ab, Seq(Row(null, "x")))
    val zero = Fingerprint.of(ab, Seq(Row(0.0, "x")))
    assert(Set(nan, nul, zero).size == 3)
    assert(Fingerprint.of(ab, Seq(Row(-0.0, "x"))) == zero)
    // a null string and the string "null" differ
    assert(Fingerprint.of(ab, Seq(Row(1.0, null))) != Fingerprint.of(ab, Seq(Row(1.0, "null"))))
  }

  test("fingerprint covers column types") {
    val asLong = StructType(Seq(StructField("a", LongType)))
    val asDouble = StructType(Seq(StructField("a", DoubleType)))
    assert(Fingerprint.of(asLong, Seq(Row(2L))) != Fingerprint.of(asDouble, Seq(Row(2.0))))
  }

  test("request generator: same seed, same requests; new seed, different ones") {
    def view(seed: Long) = Workloads.requests(seed, 32)
      .map(r => (r.fileName, r.text, r.config, r.hit))
    assert(view(7) == view(7))
    assert(view(7) != view(8))
    val reqs = Workloads.requests(7, 32)
    assert(reqs.map(_.config.format).toSet == Workloads.Formats.toSet)
    assert(reqs.map(_.tokens).min < 300 && reqs.map(_.tokens).max > 20000)
    // the mix is fixed, only the order moves with the seed
    def mix(seed: Long) = Workloads.requests(seed, 32)
      .map(r => (r.tokens, r.config.pipeline, r.fileName.endsWith(".pdf"), r.hit)).sorted
    assert(mix(7) == mix(8))
    assert(!reqs.head.hit)
    assert(intercept[IllegalArgumentException](Workloads.requests(7, 12)).getMessage
      .contains("multiple of 8"))
  }

  test("request mix: balanced factorial, lengths independent of every factor") {
    val reqs = Workloads.requests(11, 16)
    val cells = reqs.groupBy(r => (r.config.pipeline, r.fileName.endsWith(".pdf"), r.hit))
    assert(cells.size == 8 && cells.values.forall(_.size == 2))
    val lengths = reqs.map(_.tokens).distinct.sorted
    assert(lengths.size == 8)
    for (split <- Seq[Workloads.AskRequest => Any](
        _.hit, _.config.pipeline, _.fileName.endsWith(".pdf"))) {
      val groups = reqs.groupBy(split).values.toSeq
      assert(groups.size == 2 && groups.forall(_.map(_.tokens).sorted == lengths))
    }
    // every hit repeats the engine-cache key of an earlier miss
    reqs.zipWithIndex.filter(_._1.hit).foreach { case (h, i) =>
      assert(reqs.take(i).exists(m => !m.hit && m.config.question == h.config.question &&
        m.config.format == h.config.format && m.config.threshold == h.config.threshold))
    }
  }

  test("operation order: same seed, same order; new seed, different order") {
    val items = Workloads.Light
    assert(Workloads.order(items, 3) == Workloads.order(items, 3))
    assert(Workloads.order(items, 3) != Workloads.order(items, 4))
    assert(Workloads.order(items, 3).sorted == items.sorted)
  }

  test("content checks rotate: k consecutive seeds cover every entry once") {
    for (items <- Seq(Workloads.Heavy, Workloads.Light ++ Workloads.Stream)) {
      val k = math.min(4, items.size)
      val covered = (0 until k).flatMap(s => Workloads.checked(items, s.toLong))
      assert(covered.sorted == items.sorted)
    }
  }

  test("every listed entry exists in SparkEntry.queries") {
    val known = graft.SparkEntry.queries.keySet
    val listed = Workloads.Heavy ++ Workloads.Light ++ Workloads.Stream
    val missing = listed.filterNot(known)
    assert(missing.isEmpty, s"renamed or removed catalog entries: ${missing.mkString(", ")}")
    assert(listed.distinct.size == listed.size)
  }

  test("every listed entry has committed expectations") {
    val exp = Expected.load("../expected.json")
    val listed = (Workloads.Heavy ++ Workloads.Light ++ Workloads.Stream).toSet
    assert(listed.subsetOf(exp.rows.keySet))
    assert(listed.subsetOf(exp.fingerprints.keySet))
    assert(listed.subsetOf(exp.benchFingerprints.keySet))
  }
}
