package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.SparseDotKernel
import graft.queries.AnalysisQueries

/** The term-at-a-time accumulator kernel ([[SparseDotKernel]]) replaced
  * the sparse-cosine family's pair fold: explode both sides' postings,
  * broadcast-join on `term`, drop self-pairs, fold each `(doc_a, doc_b)`
  * group with `ordered_sum(wa*wb, term)`. These tests pin the kernel
  * against that fold ([[SparseDotParitySpec.legacyPairDots]], verbatim)
  * bitwise: on the dot before rounding, and on the entries' final rows,
  * for both feature families and the degenerate shapes (zero weights, a
  * query that is also a corpus document, one shared term, none). */
object SparseDotParitySpec {
  /** The retired pair fold, kept as the kernel's oracle. */
  def legacyPairDots(queries: DataFrame, corpus: DataFrame): DataFrame = {
    val a = queries
      .select(col("doc_id").as("doc_a"), col("nrm").as("na"),
        explode(col("tk")).as("e"))
      .select(col("doc_a"), col("na"), col("e.term").as("term"),
        col("e.w").as("wa"))
    val b = corpus
      .select(col("doc_id").as("doc_b"), col("nrm").as("nb"),
        explode(col("tk")).as("e"))
      .select(col("doc_b"), col("nb"), col("e.term").as("term"),
        col("e.w").as("wb"))
    b.join(broadcast(a), "term").filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(graft.functions.TextFunctions.ordered_sum(
        col("wa") * col("wb"), col("term")).as("dot"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
  }
}

class SparseDotParitySpec extends SparkSpec {
  import SparseDotParitySpec.legacyPairDots
  private val sess = SparkSpec.spark
  import sess.implicits._

  /** Rows keyed by their first two columns, doubles as raw bit patterns
    * (so -0.0, NaN payloads and nulls all count). */
  private def bits(df: DataFrame): Map[(Long, Long), Seq[Option[Long]]] =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(1)) -> (2 until r.length).map(i =>
        if (r.isNullAt(i)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
    }.toMap

  private def assertDotParity(queries: DataFrame, corpus: DataFrame): Unit = {
    val cols = Seq("doc_a", "doc_b", "dot", "na", "nb").map(col)
    val kernel = bits(SparseDotKernel.pairDots(queries, corpus).select(cols: _*))
    val legacy = bits(legacyPairDots(queries, corpus).select(cols: _*))
    assert(kernel == legacy)
  }

  private def vectors(rows: (Long, Double, Seq[(Double, String)])*): DataFrame =
    rows.toDF("doc_id", "nrm", "raw")
      .select(col("doc_id"), col("nrm"),
        transform(col("raw"), s =>
          struct(s.getField("_1").as("w"), s.getField("_2").as("term")))
          .as("tk"))

  test("synthetic vectors: zero weights, self-pairs, one shared term, none") {
    val vs = vectors(
      // query 1 is also a corpus document: its self-pair must not appear
      (1L, 1.5, Seq((0.3, "b"), (1.1, "a"), (0.7, "c"))),
      // zero weights: the pairs exist with dot 0.0 (norms are given, not
      // derived, so the cosine cut below divides by a nonzero norm)
      (2L, 0.5, Seq((0.0, "a"), (0.0, "z"))),
      (3L, 2.0, Seq((0.1, "c"), (0.2, "a"), (1e-300, "b"), (-0.4, "d"))),
      // exactly one shared term with query 1
      (7L, 0.9, Seq((0.9, "c"), (0.5, "x"))),
      // no shared term: no pair at all
      (8L, 0.4, Seq((0.4, "q"), (0.3, "r"))),
      (9L, 1.0, Seq.empty),
      (10L, 1.0, Seq((-0.0, "a"), (0.0, "b"))))
    val queries = vs.filter(col("doc_id") < 4)
    assertDotParity(queries, vs)
    val pairs = SparseDotKernel.pairDots(queries, vs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 7L)) && pairs.contains((2L, 1L)))
    assert(!pairs.exists { case (a, b) => a == b || b == 8L || b == 9L })
    val cut = AnalysisQueries.sparseCosine(SparseDotKernel.pairDots(queries, vs))
    val cutLegacy = AnalysisQueries.sparseCosine(legacyPairDots(queries, vs))
    assert(bits(cut) == bits(cutLegacy))
  }

  test("null weights make the pair's dot null, as the ordered fold does") {
    val vs = Seq(
      (1L, Seq(Row(0.5, "a"), Row(null, "b"))),
      (2L, Seq(Row(0.25, "a"), Row(0.125, "b"))),
      (3L, Seq(Row(0.5, "a"))))
      .map { case (id, tk) => Row(id, 1.0, tk) }
    val schema = "doc_id BIGINT, nrm DOUBLE, tk ARRAY<STRUCT<w: DOUBLE, term: STRING>>"
    val df = spark.createDataFrame(spark.sparkContext.parallelize(vs),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    assertDotParity(df.filter(col("doc_id") <= 2), df)
    val dots = bits(SparseDotKernel.pairDots(df.filter(col("doc_id") <= 2), df)
      .select("doc_a", "doc_b", "dot"))
    assert(dots((1L, 2L)) == Seq(None) && dots((1L, 3L)).head.isDefined)
  }

  test("a repeated term in a vector fails loudly") {
    val vs = vectors((1L, 1.0, Seq((0.5, "a"))),
      (2L, 1.0, Seq((0.5, "a"), (0.25, "a"))))
    val e = intercept[Exception](
      SparseDotKernel.pairDots(vs.filter(col("doc_id") === 1), vs).collect())
    assert(e.toString.contains("repeats") ||
      Option(e.getCause).exists(_.toString.contains("repeats")))
  }

  /** Both catalog entries over the test frame: the kernel's dots equal
    * the legacy fold's bitwise, and the shipped entry's rows equal the
    * legacy fold's after the cosine cut. */
  private def assertEntryParity(tf: DataFrame, entry: DataFrame): Unit = {
    val docs = graft.core.Tables.loadSpread(spark, sf, "documents")
    val vecs = AnalysisQueries.sparseVectors(docs, tf).cache()
    val queries = vecs.filter(col("doc_id") < 100)
    assertDotParity(queries, vecs)
    val legacy = AnalysisQueries.sparseCosine(legacyPairDots(queries, vecs))
    assert(legacy.count() > 0)
    assert(bits(entry) == bits(legacy))
    vecs.unpersist()
  }

  test("ta_sparse_sim: kernel == legacy fold, dots and final rows") {
    val docs = graft.core.Tables.loadSpread(spark, sf, "documents")
    val tf = docs.select(col("doc_id"),
      explode(graft.functions.TextFunctions.term_counts(col("text")))
        .as(Seq("term", "tf")))
    assertEntryParity(tf, AnalysisQueries.sparseSim(spark, sf))
  }

  test("ta_sparse_sim_bigram: kernel == legacy fold, dots and final rows") {
    val docs = graft.core.Tables.loadSpread(spark, sf, "documents")
    assertEntryParity(AnalysisQueries.bigramTf(docs),
      AnalysisQueries.sparseSimBigram(spark, sf))
  }
}
