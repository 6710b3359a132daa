package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Term-at-a-time accumulator scoring for the sparse-cosine query join
  * (`ta_sparse_sim`, `ta_sparse_sim_bigram`) — the [[AnnKernels]] /
  * [[PairKernels]] discipline applied to the pair dot products.
  *
  * The previous formulation exploded both sides' postings, broadcast-
  * joined them on `term`, dropped self-pairs and folded every
  * `(doc_a, doc_b)` group with `ordered_sum(wa*wb, term)`: at sf0.1 that
  * is 1.7M contributions into ~500k object-aggregate groups, of which
  * fewer than a tenth survive the cosine cut. Here the query side (at
  * most [[MaxQueries]] vectors) is collected into a term -> (query slot,
  * wa) postings index, and each corpus row scores against it in
  * one pass: no pair row exists until a touched query is emitted.
  *
  * Arithmetic parity with the legacy fold is bit-exact:
  *   - each corpus vector's terms are visited in ascending `UTF8String`
  *     binary order, so each query's accumulator folds `acc + wa*wb`
  *     from 0.0 in exactly `ordered_sum`'s term order (terms are unique
  *     within a vector — checked, since a duplicate would make the
  *     legacy tie order depend on the value);
  *   - self-pairs (`doc_a == doc_b`) never reach the accumulator, as the
  *     legacy filter removed them before the groupBy;
  *   - a query that shares a term is emitted even when its dot is 0.0,
  *     and a null weight makes that pair's dot null, as the fold did.
  * SparseDotParitySpec pins kernel == legacy fold bitwise. */
object SparseDotKernel {

  /** The query side is collected into the index, so it is bounded. */
  val MaxQueries = 100

  /** `(doc_a, doc_b, dot, na, nb)` for every query/corpus pair that
    * shares at least one term, `doc_a != doc_b`. Both inputs have the
    * vector schema `(doc_id: bigint, nrm: double,
    * tk: array<struct<w: double, term: string>>)`; `queries` holds at
    * most [[MaxQueries]] rows. */
  def pairDots(queries: DataFrame, corpus: DataFrame): DataFrame = {
    val q = queries.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("nrm"), col("tk")).collect()
    require(q.length <= MaxQueries,
      s"sparse dot: the query side is collected, at most $MaxQueries rows")
    val kernel = org.apache.spark.sql.graftbridge.Bridge.column(SparseDotExpr(
      org.apache.spark.sql.graftbridge.Bridge.expression(col("doc_id")),
      org.apache.spark.sql.graftbridge.Bridge.expression(col("tk")),
      SparseDotIndex(q)))
    corpus
      .select(col("doc_id").as("doc_b"), col("nrm").as("nb"),
        explode(kernel).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("doc_b"), col("p.dot").as("dot"),
        col("p.na").as("na"), col("nb"))
  }

  /** Score one corpus vector against every query: the touched queries'
    * `(doc_a, dot, na)` structs in slot (doc_a ascending) order. */
  def dots(docB: Long, tk: ArrayData, wOrd: Int, termOrd: Int,
      ix: SparseDotIndex): ArrayData = {
    val n = tk.numElements()
    val ts = new Array[UTF8String](n)
    val ws = new Array[Double](n)
    val wNull = new Array[Boolean](n)
    // insertion sort by term: a truncated vector has <= 10 elements
    var m = 0
    var i = 0
    while (i < n) {
      if (!tk.isNullAt(i)) {
        val s = tk.getStruct(i, 2)
        if (!s.isNullAt(termOrd)) {
          val t = s.getUTF8String(termOrd)
          val wn = s.isNullAt(wOrd)
          val w = if (wn) 0.0 else s.getDouble(wOrd)
          var j = m
          while (j > 0 && ts(j - 1).binaryCompare(t) > 0) {
            ts(j) = ts(j - 1); ws(j) = ws(j - 1); wNull(j) = wNull(j - 1)
            j -= 1
          }
          if (j > 0 && ts(j - 1).binaryCompare(t) == 0)
            throw new IllegalArgumentException(
              s"sparse dot: term '$t' repeats in the vector of doc $docB")
          ts(j) = t; ws(j) = w; wNull(j) = wn
          m += 1
        }
      }
      i += 1
    }
    val nq = ix.docA.length
    val acc = new Array[Double](nq)
    // 0 = untouched, 1 = accumulating, 2 = null (a null weight was seen)
    val state = new Array[Byte](nq)
    var touched = 0
    var k = 0
    while (k < m) {
      val p = ix.postingsOf(ts(k))
      if (p >= 0) {
        var j = ix.start(p)
        val end = ix.start(p + 1)
        while (j < end) {
          val q = ix.slot(j)
          if (ix.docA(q) != docB) {
            if (state(q) == 0) { state(q) = 1; touched += 1 }
            if (wNull(k) || ix.wNull(j)) state(q) = 2
            else if (state(q) == 1) acc(q) = acc(q) + ix.w(j) * ws(k)
          }
          j += 1
        }
      }
      k += 1
    }
    val out = new Array[Any](touched)
    var o = 0
    var q = 0
    while (q < nq) {
      if (state(q) != 0) {
        out(o) = new GenericInternalRow(Array[Any](ix.docA(q),
          if (state(q) == 2) null else acc(q), ix.na(q)))
        o += 1
      }
      q += 1
    }
    new GenericArrayData(out)
  }
}

/** Query-side postings in CSR form: posting list `p` (the term's id in
  * `terms`) is `slot`/`w`/`wNull` over `[start(p), start(p + 1))`, slots
  * ascending. Query slot `q` is `docA(q)` with norm `na(q)` (boxed:
  * nullable, read once per emitted pair). Referenced by the generated
  * code, never inlined, so the source is the same for every query set. */
final class SparseDotIndex private (
    terms: java.util.HashMap[UTF8String, Integer],
    val start: Array[Int], val slot: Array[Int], val w: Array[Double],
    val wNull: Array[Boolean], val docA: Array[Long],
    val na: Array[java.lang.Double]) extends Serializable {
  def postingsOf(t: UTF8String): Int = {
    val p = terms.get(t)
    if (p == null) -1 else p.intValue
  }
}

object SparseDotIndex {
  /** From collected `(doc_id, nrm, tk)` rows; slots in doc_id order. */
  def apply(queries: Array[Row]): SparseDotIndex = {
    val qs = queries.sortBy(_.getLong(0))
    val lists = new java.util.LinkedHashMap[UTF8String,
      scala.collection.mutable.ArrayBuffer[(Int, java.lang.Double)]]()
    qs.zipWithIndex.foreach { case (r, q) =>
      val tk = if (r.isNullAt(2)) Seq.empty[Row] else r.getSeq[Row](2)
      tk.filter(e => e != null && !e.isNullAt(e.fieldIndex("term")))
        .foreach { e =>
          val t = UTF8String.fromString(e.getAs[String]("term"))
          val l = lists.computeIfAbsent(t, _ => scala.collection.mutable.ArrayBuffer())
          require(l.isEmpty || l.last._1 != q,
            s"sparse dot: term '$t' repeats in the vector of doc ${r.getLong(0)}")
          l += ((q, e.getAs[java.lang.Double]("w")))
        }
    }
    val terms = new java.util.HashMap[UTF8String, Integer]()
    val start = new Array[Int](lists.size + 1)
    val postings = scala.collection.mutable.ArrayBuffer[(Int, java.lang.Double)]()
    var p = 0
    lists.forEach { (t, l) =>
      terms.put(t, p)
      postings ++= l
      p += 1
      start(p) = postings.length
    }
    new SparseDotIndex(terms, start, postings.map(_._1).toArray,
      postings.map(e => if (e._2 == null) 0.0 else e._2.doubleValue).toArray,
      postings.map(_._2 == null).toArray, qs.map(_.getLong(0)),
      qs.map(r => if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
  }
}

/** See [[SparseDotKernel.dots]]. Children: the corpus doc id and its
  * truncated `array<struct<w: double, term: string>>` vector. */
case class SparseDotExpr(docB: Expression, tk: Expression, index: SparseDotIndex)
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = docB
  override def right: Expression = tk
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(LongType, ArrayType)

  private lazy val elem = tk.dataType.asInstanceOf[ArrayType]
    .elementType.asInstanceOf[StructType]
  private lazy val wOrd = elem.fieldIndex("w")
  private lazy val termOrd = elem.fieldIndex("term")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("dot", DoubleType),
    StructField("na", DoubleType))), containsNull = false)

  override def nullSafeEval(b: Any, v: Any): Any =
    SparseDotKernel.dots(b.asInstanceOf[Long], v.asInstanceOf[ArrayData],
      wOrd, termOrd, index)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ixRef = ctx.addReferenceObj("sparseDotIndex", index,
      "graft.operators.SparseDotIndex")
    defineCodeGen(ctx, ev, (b, v) =>
      s"graft.operators.SparseDotKernel.dots($b, $v, $wOrd, $termOrd, $ixRef)")
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SparseDotExpr = copy(docB = l, tk = r)
  override def prettyName: String = "sparse_dot"
}
