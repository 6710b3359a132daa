package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the text kernel (SURVEY.md §2.4, §2.6,
  * §2.11). All are codegen-participating: `CountTokens` emits a direct
  * static call inside whole-stage codegen; the generator and struct
  * expressions use eval (they produce rows/structs, outside hot arithmetic).
  */

/** `count_tokens(text)` — token count under the engine tokenizer.
  * Reference behavior: len(tiktoken.encode(s)),
  * src/utils/document_processing.py:19-23. */
case class CountTokens(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    Tokenizer.countTokens(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tokenizer.countTokens($c.toString())")
  override protected def withNewChildInternal(c: Expression): CountTokens = copy(c)
  override def prettyName: String = "count_tokens"
}

/** `estimate_tokens(text)` — the reference's 1.15x safety-buffer estimate
  * (src/llm/async_llm_client.py:98-123): ceil(count * 1.15). */
case class EstimateTokens(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = {
    val n = Tokenizer.countTokens(v.asInstanceOf[UTF8String].toString)
    math.ceil(n * 1.15).toInt
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"(int) java.lang.Math.ceil(graft.functions.Tokenizer.countTokens($c.toString()) * 1.15)")
  override protected def withNewChildInternal(c: Expression): EstimateTokens = copy(c)
  override def prettyName: String = "estimate_tokens"
}

/** `sequence_ratio(a, b)` — difflib.SequenceMatcher.ratio-compatible
  * similarity (2·M/(|a|+|b|), M = recursive matching-block total) as a
  * NATIVE codegen expression: the generated code calls the static
  * [[graft.operators.FuzzyJoin.ratioFn]] kernel directly inside
  * whole-stage codegen — no UDF closure, no Row encoding, no boxing.
  * This runs once per PAIR in the similarity joins (millions of calls
  * at sf0.1), which is exactly where UDF dispatch overhead shows.
  * Null inputs yield null (the catalog always feeds non-null
  * normalized text; the retired UDF's null→0.0 path was dead). */
case class SequenceRatio(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sequence_ratio expects (string, string), got (${left.dataType}, ${right.dataType})")
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.operators.FuzzyJoin.ratioFn(
      a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.operators.FuzzyJoin.ratioFn($a.toString(), $b.toString())")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SequenceRatio = copy(l, r)
  override def prettyName: String = "sequence_ratio"
}

object TruncateTokens {
  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("original_tokens", IntegerType, nullable = false),
    StructField("truncated_tokens", IntegerType, nullable = false),
    StructField("retention_rate", DoubleType, nullable = false),
    StructField("truncation_applied", BooleanType, nullable = false),
    StructField("strategy", StringType, nullable = false)))
}

/** Static kernels shared by interpreted eval and generated code — a
  * top-level object gets static forwarders, so Janino-generated Java can
  * call them directly (no fallback row materialization or boxing). */
object TextKernels {
  import org.apache.spark.sql.catalyst.util.ArrayData

  def truncateTokens(t: UTF8String, max: Int, mode: UTF8String): InternalRow = {
    val strategy = mode.toString
    val (out, orig, kept) = Tokenizer.truncate(t.toString, max, strategy)
    val rate = if (orig > 0) kept.toDouble / orig else 1.0
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(out), orig, kept, rate,
      java.lang.Boolean.valueOf(kept < orig), UTF8String.fromString(strategy)))
  }

  /** Per-row term frequencies: tokenize (engine tokenizer) and count in
    * one pass. Emitting map<term, n> per document collapses the tf stage
    * of TF-IDF map-side — the shuffle then carries one row per DISTINCT
    * (doc, term), not one per token occurrence. */
  def termCounts(t: UTF8String): org.apache.spark.sql.catalyst.util.MapData = {
    val s = t.toString
    val offs = Tokenizer.tokenize(s)
    val n = offs.length / 2
    val counts = new java.util.LinkedHashMap[String, Long](math.max(16, n))
    var i = 0
    while (i < n) {
      counts.merge(s.substring(offs(2 * i), offs(2 * i + 1)), 1L, _ + _)
      i += 1
    }
    val ks = new Array[Any](counts.size)
    val vs = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var x = 0
    while (it.hasNext) {
      val e = it.next()
      ks(x) = UTF8String.fromString(e.getKey); vs(x) = e.getValue; x += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(ks), new GenericArrayData(vs))
  }

  /** Adjacent-token-pair counts (bigram tf), one pass — the map-side
    * kernel for the bigram sparse-retrieval feature family; equal to
    * exploding `concat(tok_i, ' ', tok_i+1)` + groupBy count. */
  def bigramCounts(t: UTF8String): org.apache.spark.sql.catalyst.util.MapData = {
    val s = t.toString
    val offs = Tokenizer.tokenize(s)
    val n = offs.length / 2
    val counts = new java.util.LinkedHashMap[String, Long](math.max(16, n))
    var i = 0
    while (i < n - 1) {
      val big = s.substring(offs(2 * i), offs(2 * i + 1)) + " " +
        s.substring(offs(2 * i + 2), offs(2 * i + 3))
      counts.merge(big, 1L, _ + _)
      i += 1
    }
    val ks = new Array[Any](counts.size)
    val vs = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var x = 0
    while (it.hasNext) {
      val e = it.next()
      ks(x) = UTF8String.fromString(e.getKey); vs(x) = e.getValue; x += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(ks), new GenericArrayData(vs))
  }

  /** Standard Jaro-Winkler (see [[graft.functions.JaroWinkler]]): Jaro
    * over BMP chars (match window floor(max/2)−1, transpositions/2)
    * plus the ≤4-char prefix boost at p=0.1 when jaro > 0.7. */
  def jaroWinkler(sa: String, sb: String): Double = {
    val la = sa.length; val lb = sb.length
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var done = false
      while (j <= hi && !done) {
        if (!mb(j) && sa.charAt(i) == sb.charAt(j)) {
          ma(i) = true; mb(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (sa.charAt(i) != sb.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (m - t / 2).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var l = 0
      val lmax = math.min(4, math.min(la, lb))
      while (l < lmax && sa.charAt(l) == sb.charAt(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    } else jaro
  }

  /** TRUE (unrestricted, Lowrance-Wagner) Damerau-Levenshtein distance
    * over UTF-8 BYTES — DuckDB `damerau_levenshtein` semantics, probed:
    * dl("CA","ABC") = 2 (OSA would say 3) and multi-byte chars count
    * per byte, so the byte domain with a 256-entry last-seen table is
    * exactly what the builtin computes and the builtin IS the oracle
    * ([[graft.queries.Advanced.damerauBestMatch]]). O(|a|·|b|) time,
    * O(|a|·|b|) ints — callers keep inputs short (names/titles). */
  def damerauLevenshtein(ua: UTF8String, ub: UTF8String): Int = {
    val a = ua.getBytes; val b = ub.getBytes
    val la = a.length; val lb = b.length
    if (la == 0) return lb
    if (lb == 0) return la
    val inf = la + lb
    val w = lb + 2 // d is (la+2) x (lb+2), row-major flattened
    val d = new Array[Int]((la + 2) * w)
    d(0) = inf
    var i = 0
    while (i <= la) { d((i + 1) * w) = inf; d((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(j + 1) = inf; d(w + j + 1) = j; j += 1 }
    val da = new Array[Int](256) // last row where each byte occurred in a
    i = 1
    while (i <= la) {
      var db = 0 // last column where b matched a(i-1) in THIS row
      var jj = 1
      while (jj <= lb) {
        val k = da(b(jj - 1) & 0xff)
        val l = db
        var cost = 1
        if (a(i - 1) == b(jj - 1)) { cost = 0; db = jj }
        var m = d(i * w + jj) + cost // substitute / match
        val ins = d((i + 1) * w + jj) + 1
        if (ins < m) m = ins
        val del = d(i * w + jj + 1) + 1
        if (del < m) m = del
        // transpose a(k-1)<->a(i-1) with (i-k-1) deletes + (jj-l-1) inserts
        val tr = d(k * w + l) + (i - k - 1) + 1 + (jj - l - 1)
        if (tr < m) m = tr
        d((i + 1) * w + jj + 1) = m
        jj += 1
      }
      da(a(i - 1) & 0xff) = i
      i += 1
    }
    d((la + 1) * w + lb + 1)
  }

  /** Byte-SET Jaccard — DuckDB `jaccard` semantics, probed: set (not
    * multiset) of UTF-8 BYTES ('aab' vs 'ab' = 1.0; 'Üß' vs 'Ü' = 2/3,
    * so bytes, not characters), case-sensitive. 256-bit bitmap +
    * popcount. Where DuckDB RAISES on an empty argument, this returns
    * the set-theoretic values (both empty → 1, one empty → 0) —
    * callers gating against the builtin compare non-empty inputs,
    * where the two agree. */
  def jaccardBytes(ua: UTF8String, ub: UTF8String): Double = {
    val sa = new Array[Long](4); val sb = new Array[Long](4)
    var i = 0
    while (i < ua.numBytes) {
      val v = ua.getByte(i) & 0xff; sa(v >> 6) |= 1L << (v & 63); i += 1
    }
    i = 0
    while (i < ub.numBytes) {
      val v = ub.getByte(i) & 0xff; sb(v >> 6) |= 1L << (v & 63); i += 1
    }
    var inter = 0; var union = 0
    i = 0
    while (i < 4) {
      inter += java.lang.Long.bitCount(sa(i) & sb(i))
      union += java.lang.Long.bitCount(sa(i) | sb(i))
      i += 1
    }
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Hamming distance over UTF-8 BYTES — DuckDB `hamming` semantics
    * (byte domain, probed on multi-byte chars). DuckDB RAISES on
    * length mismatch; a scalar that throws mid-scan is useless in a
    * distributed pipeline, so this returns -1 there instead — callers
    * gate on equal-length inputs (and the oracle queries only compare
    * fixed-width strings, where the two behaviors coincide). */
  def hammingBytes(ua: UTF8String, ub: UTF8String): Int = {
    val la = ua.numBytes
    if (la != ub.numBytes) return -1
    var n = 0
    var i = 0
    while (i < la) {
      if (ua.getByte(i) != ub.getByte(i)) n += 1
      i += 1
    }
    n
  }

  def shingles(t: UTF8String, kv: Int): ArrayData = {
    val s = t.toString
    val offs = Tokenizer.tokenize(s)
    val n = offs.length / 2
    if (n < kv) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](math.max(16, n))
    var i = 0
    while (i <= n - kv) {
      // shingle = tokens i..i+k-1 joined by single spaces
      val sb = new java.lang.StringBuilder(
        offs(2 * (i + kv - 1) + 1) - offs(2 * i) + kv)
      var j = i
      while (j < i + kv) {
        if (j > i) sb.append(' ')
        sb.append(s, offs(2 * j), offs(2 * j + 1))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var x = 0
    while (it.hasNext) { out(x) = UTF8String.fromString(it.next()); x += 1 }
    new GenericArrayData(out)
  }

  def minhashBands(arr: ArrayData, nh: Int, nb: Int): ArrayData = {
    import Mix.fmix64
    // bands > numHashes would make r = 0 and every band hash a constant —
    // LSH degenerates to one all-docs bucket (quadratic pair explosion);
    // a non-dividing bands count silently drops trailing hashes
    if (nb < 1 || nb > nh || nh % nb != 0)
      throw new IllegalArgumentException(
        s"minhash_bands: bands ($nb) must divide numHashes ($nh) with 1 <= bands <= numHashes")
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val mins = Array.fill(nh)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val base = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 0L)
      var j = 0
      while (j < nh) {
        val h = fmix64(base ^ (j * 0x9E3779B97F4A7C15L))
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    val r = nh / nb
    val out = new Array[Any](nb)
    var b = 0
    while (b < nb) {
      var acc = fmix64(b + 0x165667B19E3779F9L)
      var k = 0
      while (k < r) { acc = fmix64(acc ^ mins(b * r + k)); k += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  /** The RAW MinHash signature (per-j minima, before band folding) —
    * same base hash + family derivation as [[minhashBands]], exposed so
    * sketch-quality audits can measure component agreement between two
    * signatures. Empty shingle array -> empty signature. */
  def minhashSig(arr: ArrayData, nh: Int): ArrayData = {
    import Mix.fmix64
    if (nh < 1) throw new IllegalArgumentException(
      s"minhash_sig: numHashes ($nh) must be >= 1")
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val mins = Array.fill(nh)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val base = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 0L)
      var j = 0
      while (j < nh) {
        val h = fmix64(base ^ (j * 0x9E3779B97F4A7C15L))
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(x => x: Any))
  }

  /** Token-level longest-common-subsequence length over the first
    * `maxT` engine tokens of each side — the ROUGE-L core statistic
    * (Lin, 2004). Classic two-row O(n*m) DP; the cap bounds per-row
    * cost by construction (answer-scale texts — the cap is the metric's
    * documented domain, not an optimization shortcut, and it is what
    * keeps the DuckDB replay's recursive DP tractable). */
  def lcsTokens(a: UTF8String, b: UTF8String, maxT: Int): Int = {
    if (maxT < 1) throw new IllegalArgumentException(
      s"lcs_tokens: maxT ($maxT) must be >= 1")
    def toks(u: UTF8String): Array[String] = {
      val s = u.toString
      val offs = Tokenizer.tokenize(s)
      val n = math.min(offs.length / 2, maxT)
      Array.tabulate(n)(i => s.substring(offs(2 * i), offs(2 * i + 1)))
    }
    val ta = toks(a)
    val tb = toks(b)
    if (ta.isEmpty || tb.isEmpty) return 0
    var prev = new Array[Int](tb.length + 1)
    var cur = new Array[Int](tb.length + 1)
    var i = 0
    while (i < ta.length) {
      var j = 0
      while (j < tb.length) {
        cur(j + 1) =
          if (ta(i) == tb(j)) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(tb.length)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS local document fingerprinting scheme): hash
    * every ORDERED k-token shingle (XXH64 seed 0, same base hash as the
    * MinHash family) and keep the minimum hash of every w-consecutive
    * window, returning the DISTINCT selected values sorted ascending.
    *
    * Guarantee (the reason winnowing beats uniform hash sampling, mod-p
    * selection, etc.): any shared token run of length >= k + w - 1
    * between two documents contributes at least one COMMON fingerprint —
    * the shared window's minimum is the same value in both. Expected
    * sampling density is 2/(w+1) of all shingles, so the downstream
    * inverted index is ~w/2 x smaller than the full-shingle one at the
    * same local-match guarantee.
    *
    * Windows slide over SHINGLE positions (duplicates kept — this is NOT
    * [[shingles]], which dedups); the window minimum uses SIGNED long
    * order, replayed in DuckDB by the sign-bit-flip trick
    * ([[graft.core.XxHashSql]] `mmin` discipline). Docs with fewer than
    * k + w - 1 tokens (no complete window) emit an empty array. O(n)
    * via a monotonic deque. */
  def winnow(t: UTF8String, kv: Int, wv: Int): ArrayData = {
    if (kv < 1 || wv < 1) throw new IllegalArgumentException(
      s"winnow_fingerprints: k ($kv) and w ($wv) must be >= 1")
    val s = t.toString
    val offs = Tokenizer.tokenize(s)
    val n = offs.length / 2
    val m = n - kv + 1 // shingle count
    if (m < wv) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder(
        offs(2 * (i + kv - 1) + 1) - offs(2 * i) + kv)
      var j = i
      while (j < i + kv) {
        if (j > i) sb.append(' ')
        sb.append(s, offs(2 * j), offs(2 * j + 1))
        j += 1
      }
      val u = UTF8String.fromString(sb.toString)
      hs(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 0L)
      i += 1
    }
    // monotonic deque of indices; >= pop keeps the RIGHTMOST minimum on
    // ties (the paper's robust-winnowing rule — value-set unaffected)
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0
    val sel = new java.util.TreeSet[java.lang.Long]
    var p = 0
    while (p < m) {
      while (tail > head && hs(dq(tail - 1)) >= hs(p)) tail -= 1
      dq(tail) = p; tail += 1
      if (dq(head) <= p - wv) head += 1
      if (p >= wv - 1) sel.add(hs(dq(head)))
      p += 1
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var x = 0
    while (it.hasNext) { out(x) = it.next().longValue(); x += 1 }
    new GenericArrayData(out)
  }
}

/** `truncate_tokens(text, maxTokens, mode)` — token-budget truncation with
  * the reference's stats struct (src/utils/truncation_utils.py:35-156).
  * mode in {start, end, smart}; smart delegates to start (the reference's
  * placeholder does the same, relabeling the strategy). Codegen-
  * participating (static kernel call). */
case class TruncateTokens(text: Expression, maxTokens: Expression, mode: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(StringType, IntegerType, StringType)
  override def first: Expression = text
  override def second: Expression = maxTokens
  override def third: Expression = mode
  override def dataType: DataType = TruncateTokens.schema
  override def nullSafeEval(t: Any, m: Any, md: Any): Any =
    TextKernels.truncateTokens(t.asInstanceOf[UTF8String],
      m.asInstanceOf[Int], md.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, m, md) =>
      s"graft.functions.TextKernels.truncateTokens($t, $m, $md)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): TruncateTokens = copy(f, s, t)
  override def prettyName: String = "truncate_tokens"
}

object SplitChunks {
  val elementSchema: StructType = StructType(Seq(
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("chunk_text", StringType, nullable = false),
    StructField("token_count", IntegerType, nullable = false)))
}

/** `split_chunks(text, size, overlap)` — the reference's core
  * table-generating function (token-window split with overlap;
  * src/utils/document_processing.py:246-267). A Catalyst `Generator`,
  * i.e. the UDTF-equivalent used under `explode`-style generation:
  * `df.select($"doc_id", split_chunks($"text", 512, 64))` yields one row
  * per chunk with (chunk_idx, chunk_text, token_count).
  *
  * chunk_text is the original substring spanning the chunk's tokens, so
  * intra-chunk whitespace is preserved and concatenating de-overlapped
  * chunks reconstructs the tokenized source (property-tested). */
case class SplitChunks(text: Expression, size: Expression, overlap: Expression)
    extends Expression with Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(text, size, overlap)
  override def elementSchema: StructType = SplitChunks.elementSchema
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    if (t == null) return Nil
    val s = t.asInstanceOf[UTF8String].toString
    val sz = size.eval(input).asInstanceOf[Int]
    val ov = overlap.eval(input).asInstanceOf[Int]
    val offs = Tokenizer.tokenize(s)
    val n = offs.length / 2
    Tokenizer.chunkSpans(n, sz, ov).iterator.zipWithIndex.map {
      case ((a, b), idx) =>
        val chunk = s.substring(offs(2 * a), offs(2 * (b - 1) + 1))
        new GenericInternalRow(Array[Any](
          idx, UTF8String.fromString(chunk), b - a)): InternalRow
    }.toSeq
  }
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): SplitChunks = copy(cs(0), cs(1), cs(2))
  override def prettyName: String = "split_chunks"
}

/** `split_chunks_chars(text, size, overlap, sep)` — C2, the reference's
  * character-costed split mode (document_processing.py:260-263,
  * CharacterTextSplitter): units are the text split on `sep`, chunks are
  * greedy packs of consecutive units whose joined length (unit chars +
  * one separator between units) stays within `size` characters — a
  * single oversized unit is kept whole, as the reference splitter does.
  * `overlap` re-includes the longest trailing run of the previous
  * chunk's units whose joined length fits `overlap` chars. Output rows
  * (chunk_idx, chunk_text, token_count) mirror [[SplitChunks]], with
  * token_count = units in the chunk. */
case class SplitChunksChars(text: Expression, size: Expression,
    overlap: Expression, sep: Expression)
    extends Expression with Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(text, size, overlap, sep)
  override def elementSchema: StructType = SplitChunks.elementSchema
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    if (t == null) return Nil
    val sz = size.eval(input).asInstanceOf[Int]
    val ov = overlap.eval(input).asInstanceOf[Int]
    val sp = sep.eval(input).asInstanceOf[UTF8String].toString
    val units = t.asInstanceOf[UTF8String].toString
      .split(java.util.regex.Pattern.quote(sp), -1).filter(_.nonEmpty)
    val n = units.length
    if (n == 0) return Nil
    // prefix sums of (unit length + separator): joined length of units
    // [a, b) = pre(b) - pre(a) - sepLen
    val pre = new Array[Long](n + 1)
    var i = 0
    while (i < n) { pre(i + 1) = pre(i) + units(i).length + sp.length; i += 1 }
    def cost(a: Int, b: Int): Long = pre(b) - pre(a) - sp.length
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var a = 0
    var idx = 0
    while (a < n) {
      var b = a + 1
      while (b < n && cost(a, b + 1) <= sz) b += 1
      out += new GenericInternalRow(Array[Any](
        idx, UTF8String.fromString(units.slice(a, b).mkString(sp)), b - a))
      idx += 1
      if (b >= n) a = n
      else {
        var c = b
        while (c > a + 1 && cost(c - 1, b) <= ov) c -= 1
        a = math.max(c, a + 1)
      }
    }
    out
  }
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): SplitChunksChars =
    copy(cs(0), cs(1), cs(2), cs(3))
  override def prettyName: String = "split_chunks_chars"
}

/** `shingles(text, k)` — distinct k-gram token shingles (space-joined),
  * built in one scanner pass. Semantically identical to
  * `array_distinct(transform(sequence(...), i -> array_join(slice(tokens,
  * i+1, k), ' ')))` over the regex tokens, but ~20x faster: no per-index
  * array slices, no O(n^2) array_distinct, no regex. Order of the result
  * is first occurrence (set consumers — intersect counts, minhash,
  * explode — are order-insensitive). */
case class Shingles(text: Expression, k: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(StringType, IntegerType)
  override def left: Expression = text
  override def right: Expression = k
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(t: Any, kk: Any): Any =
    TextKernels.shingles(t.asInstanceOf[UTF8String], kk.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, kk) =>
      s"graft.functions.TextKernels.shingles($t, $kk)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Shingles = copy(l, r)
  override def prettyName: String = "shingles"
}

/** Shared integer mixing for the hash-derived operator family
  * (MinHash band derivation, RP-LSH hyperplanes). */
object Mix {
  /** Murmur3 64-bit finalizer (full avalanche). */
  def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }
}

/** `minhash_bands(shingles, numHashes, bands)` — banded MinHash signature
  * in ONE pass over the shingle array. Each shingle is hashed once (XXH64
  * over its bytes); the `numHashes` hash family is derived from that one
  * base value by avalanche mixing (standard one-permutation-style
  * derivation), instead of re-hashing the string per seed — ~numHashes x
  * less string hashing than `transform(sh, s -> xxhash64(s, j))` per j.
  * Output: array<long> of `bands` band hashes (consecutive
  * numHashes/bands minima combined), ready for posexplode -> bucket join.
  * Empty shingle array -> empty output (no bands, no candidates). */
case class MinHashBands(shingles: Expression, numHashes: Expression, bands: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(ArrayType(StringType), IntegerType, IntegerType)
  override def first: Expression = shingles
  override def second: Expression = numHashes
  override def third: Expression = bands
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(shv: Any, nhv: Any, bv: Any): Any =
    TextKernels.minhashBands(
      shv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      nhv.asInstanceOf[Int], bv.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (sh, nh, nb) =>
      s"graft.functions.TextKernels.minhashBands($sh, $nh, $nb)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): MinHashBands = copy(f, s, t)
  override def prettyName: String = "minhash_bands"
}

/** `minhash_sig(shingles, numHashes)` — the raw per-j minima signature
  * ([[TextKernels.minhashSig]]); the audit-surface companion of
  * [[MinHashBands]]. */
case class MinHashSig(shingles: Expression, numHashes: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(ArrayType(StringType), IntegerType)
  override def left: Expression = shingles
  override def right: Expression = numHashes
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(shv: Any, nhv: Any): Any =
    TextKernels.minhashSig(
      shv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      nhv.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (sh, nh) =>
      s"graft.functions.TextKernels.minhashSig($sh, $nh)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): MinHashSig = copy(l, r)
  override def prettyName: String = "minhash_sig"
}

/** Column-level API for the text kernel. */
/** `term_counts(text)` — map<term, count> per row under the engine
  * tokenizer; the map-side tf kernel for TF-IDF-family queries (equal to
  * explode(regex_tokens) + groupBy count, property-tested). */
case class TermCounts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(StringType)
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextKernels.termCounts(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.termCounts($c)")
  override protected def withNewChildInternal(c: Expression): TermCounts = copy(c)
  override def prettyName: String = "term_counts"
}

/** `bigram_counts(text)` — map<bigram, count> per row (adjacent token
  * pairs, space-joined) under the engine tokenizer; the map-side tf
  * kernel for the bigram feature family. */
case class BigramCounts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(StringType)
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextKernels.bigramCounts(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.bigramCounts($c)")
  override protected def withNewChildInternal(c: Expression): BigramCounts = copy(c)
  override def prettyName: String = "bigram_counts"
}

/** `hash64(text)` — XXH64 (seed 0) of the UTF-8 bytes: the SAME base hash
  * the MinHash signature kernel uses, exposed as a scalar so hashed
  * feature spaces (DSIR-style bucketed n-gram LMs) share one hash
  * definition with the DuckDB replay in [[graft.core.XxHashSql]]. Spark's
  * builtin `xxhash64` seeds with 42 and tags the type — deliberately NOT
  * that. */
case class Hash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    HashKernel.xxh64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernel.xxh64($c)")
  override protected def withNewChildInternal(c: Expression): Hash64 = copy(c)
  override def prettyName: String = "hash64"
}

/** `hash_family(h, j)` — the engine's j-th derived hash of a base XXH64
  * value: fmix64(h xor j·GOLDEN) ([[Mix.fmix64]]) — the SAME
  * one-base-hash family derivation the MinHash signature kernel uses
  * ([[TextKernels.minhashBands]]), exposed as a scalar so seeded sketch
  * operators (the engine Count-Min row hashes) share one derivation
  * with the DuckDB replay in [[graft.core.XxHashSql.fmixCtes]]. */
case class HashFamily(h: Expression, j: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = h
  override def right: Expression = j
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(LongType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(hv: Any, jv: Any): Any =
    Mix.fmix64(hv.asInstanceOf[Long] ^
      (jv.asInstanceOf[Int] * 0x9E3779B97F4A7C15L))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (hv, jv) =>
      s"graft.functions.Mix.fmix64($hv ^ (((long) $jv) * 0x9E3779B97F4A7C15L))")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HashFamily = copy(l, r)
  override def prettyName: String = "hash_family"
}

/** `lcs_tokens(a, b, maxT)` — token-level LCS length over the first
  * `maxT` tokens of each side ([[TextKernels.lcsTokens]]); the ROUGE-L
  * statistic as a codegen scalar. */
case class LcsTokens(a: Expression, b: Expression, maxT: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(StringType, StringType, IntegerType)
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = maxT
  override def dataType: DataType = IntegerType
  override def nullSafeEval(x: Any, y: Any, m: Any): Any =
    TextKernels.lcsTokens(x.asInstanceOf[UTF8String],
      y.asInstanceOf[UTF8String], m.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, m) =>
      s"graft.functions.TextKernels.lcsTokens($x, $y, $m)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): LcsTokens = copy(f, s, t)
  override def prettyName: String = "lcs_tokens"
}

/** `winnow_fingerprints(text, k, w)` — distinct winnowing-selected
  * shingle hashes, ascending ([[TextKernels.winnow]] for semantics and
  * the local-match guarantee). Codegen-participating: the scan stays
  * inside WholeStageCodegen and only the (sampled, ~2/(w+1) density)
  * fingerprint array reaches the downstream explode. */
case class WinnowFingerprints(text: Expression, k: Expression, w: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(StringType, IntegerType, IntegerType)
  override def first: Expression = text
  override def second: Expression = k
  override def third: Expression = w
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(t: Any, kk: Any, ww: Any): Any =
    TextKernels.winnow(t.asInstanceOf[UTF8String],
      kk.asInstanceOf[Int], ww.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, kk, ww) =>
      s"graft.functions.TextKernels.winnow($t, $kk, $ww)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): WinnowFingerprints =
    copy(f, s, t)
  override def prettyName: String = "winnow_fingerprints"
}

/** `jaro_winkler(a, b)` — the record-linkage comparator (Winkler 1990):
  * Jaro similarity (windowed matches + transpositions) with the
  * common-prefix boost (≤ 4 chars, p = 0.1) applied when jaro > 0.7 —
  * the rapidfuzz/DuckDB semantics, so the DuckDB builtin
  * `jaro_winkler_similarity` IS the oracle (cross-engine agreement
  * hash-gated on real data). Codegen scalar like [[SequenceRatio]]. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.jaroWinkler(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextKernels.jaroWinkler($a.toString(), $b.toString())")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): JaroWinkler = copy(l, r)
  override def prettyName: String = "jaro_winkler"
}

/** `damerau_levenshtein(a, b)` — TRUE Damerau-Levenshtein over UTF-8
  * bytes ([[TextKernels.damerauLevenshtein]]); DuckDB's builtin of the
  * same name is the cross-implementation oracle. Codegen scalar. */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.damerauLevenshtein(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextKernels.damerauLevenshtein($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DamerauLevenshtein = copy(l, r)
  override def prettyName: String = "damerau_levenshtein"
}

/** `hamming_bytes(a, b)` — byte Hamming distance, -1 on length mismatch
  * ([[TextKernels.hammingBytes]]); DuckDB's `hamming` is the oracle on
  * equal-width inputs. Codegen scalar. */
case class HammingBytes(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.hammingBytes(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextKernels.hammingBytes($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HammingBytes = copy(l, r)
  override def prettyName: String = "hamming_bytes"
}

/** `jaccard_bytes(a, b)` — byte-set Jaccard
  * ([[TextKernels.jaccardBytes]]); DuckDB's `jaccard` builtin is the
  * cross-implementation oracle. Codegen scalar. */
case class JaccardBytes(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.jaccardBytes(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextKernels.jaccardBytes($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): JaccardBytes = copy(l, r)
  override def prettyName: String = "jaccard_bytes"
}

/** Static forwarder for [[Hash64]] codegen (the [[TextKernels]]
  * discipline: one kernel shared by interpreted eval and Janino code). */
object HashKernel {
  def xxh64(s: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 0L)
}

object TextFunctions {
  private def col(e: Expression): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(e)
  private def ex(c: Column): Expression =
    org.apache.spark.sql.graftbridge.Bridge.expression(c)

  def count_tokens(c: Column): Column = col(CountTokens(ex(c)))
  def sequence_ratio(a: Column, b: Column): Column =
    col(SequenceRatio(ex(a), ex(b)))
  def estimate_tokens(c: Column): Column = col(EstimateTokens(ex(c)))
  def truncate_tokens(c: Column, maxTokens: Column, mode: Column): Column =
    col(TruncateTokens(ex(c), ex(maxTokens), ex(mode)))
  def split_chunks(c: Column, size: Column, overlap: Column): Column =
    col(SplitChunks(ex(c), ex(size), ex(overlap)))
  def split_chunks_chars(c: Column, size: Column, overlap: Column,
      sep: Column): Column =
    col(SplitChunksChars(ex(c), ex(size), ex(overlap), ex(sep)))
  def shingles(c: Column, k: Column): Column = col(Shingles(ex(c), ex(k)))
  def term_counts(c: Column): Column = col(TermCounts(ex(c)))
  def bigram_counts(c: Column): Column = col(BigramCounts(ex(c)))
  def top_k_structs(ordStruct: Column, k: Int): Column =
    col(TopKStructs(ex(ordStruct),
      ex(org.apache.spark.sql.functions.lit(k))).toAggregateExpression())

  /** Bounded bottom-k: the k SMALLEST structs, ascending — the partial
    * aggregate replacement for `row_number over (partition by g order by
    * keys asc) <= k`. */
  def bottom_k_structs(ordStruct: Column, k: Int): Column =
    col(TopKStructs(ex(ordStruct),
      ex(org.apache.spark.sql.functions.lit(k)),
      asc = true).toAggregateExpression())

  /** Order-stable float sum for use inside `agg(...)`: collects
    * (keys..., value) structs, sorts by the keys, folds the values
    * left-to-right from 0.0 — so double addition order is FIXED under
    * any partitioning/AQE re-plan, matching a DuckDB
    * `list_reduce(list_prepend(0.0, list(v ORDER BY keys)), ...)` fold
    * bit-for-bit. This is the engine's cross-engine-reproducibility
    * idiom for float aggregation; use plain `sum` where order tolerance
    * is acceptable.
    *
    * PRECONDITION: the sort keys must be UNIQUE within each group. On
    * ties Spark's array_sort falls through to comparing the value field,
    * while DuckDB's `list(v ORDER BY keys)` leaves tie order
    * unspecified — duplicate keys make the cross-engine bit-equality
    * contract nondeterministic. Every call site must therefore key on
    * columns that are unique within each group (an id, a position, a
    * term within one document, a block or bucket index — whatever the
    * grouping leaves distinct). */
  def ordered_sum(value: Column, keys: Column*): Column = {
    import org.apache.spark.sql.functions._
    val fields = keys.zipWithIndex.map { case (k, i) => k.as(s"k$i") } :+
      value.as("v")
    aggregate(
      transform(array_sort(collect_list(struct(fields: _*))),
        s => s.getField("v")),
      lit(0.0), (acc, x) => acc + x)
  }
  def minhash_bands(c: Column, numHashes: Column, bands: Column): Column =
    col(MinHashBands(ex(c), ex(numHashes), ex(bands)))
  def winnow_fingerprints(c: Column, k: Column, w: Column): Column =
    col(WinnowFingerprints(ex(c), ex(k), ex(w)))
  def lcs_tokens(a: Column, b: Column, maxT: Column): Column =
    col(LcsTokens(ex(a), ex(b), ex(maxT)))
  def hash64(c: Column): Column = col(Hash64(ex(c)))
  def hash_family(h: Column, j: Column): Column = col(HashFamily(ex(h), ex(j)))
  def jaro_winkler(a: Column, b: Column): Column =
    col(JaroWinkler(ex(a), ex(b)))
  def damerau_levenshtein(a: Column, b: Column): Column =
    col(DamerauLevenshtein(ex(a), ex(b)))
  def hamming_bytes(a: Column, b: Column): Column =
    col(HammingBytes(ex(a), ex(b)))
  def jaccard_bytes(a: Column, b: Column): Column =
    col(JaccardBytes(ex(a), ex(b)))
  def minhash_sig(c: Column, numHashes: Column): Column =
    col(MinHashSig(ex(c), ex(numHashes)))

  /** The engine's token rule as a (codegen'd) regexp extraction — THE one
    * place the regex-token form lives; semantically equal to the scanner
    * (property-tested). Use this, not ad-hoc regexp_extract_all calls. */
  def regex_tokens(c: Column): Column =
    org.apache.spark.sql.functions.regexp_extract_all(
      c, org.apache.spark.sql.functions.lit(Tokenizer.DuckDbTokenRegex),
      org.apache.spark.sql.functions.lit(0))

  /** Every engine SQL function as (name, expression factory): the one
    * list that both [[graft.GraftExtensions]] (at session build) and
    * [[register]] (on an already-built session) install. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "count_tokens" -> (es => CountTokens(es.head)),
    "estimate_tokens" -> (es => EstimateTokens(es.head)),
    "sequence_ratio" -> (es => SequenceRatio(es(0), es(1))),
    "truncate_tokens" -> (es => TruncateTokens(es(0), es(1), es(2))),
    "split_chunks" -> (es => SplitChunks(es(0), es(1), es(2))),
    "split_chunks_chars" -> (es => SplitChunksChars(es(0), es(1), es(2), es(3))),
    "shingles" -> (es => Shingles(es(0), es(1))),
    "lenient_json" -> (es => LenientJsonExtract(es.head)),
    "simhash64" -> (es => graft.operators.Dedup.SimHash64(es.head)),
    "simhash_text" -> (es => graft.operators.Dedup.SimHashText(es.head)),
    "minhash_bands" -> (es => MinHashBands(es(0), es(1), es(2))),
    "term_counts" -> (es => TermCounts(es.head)),
    "winnow_fingerprints" -> (es => WinnowFingerprints(es(0), es(1), es(2))),
    "lcs_tokens" -> (es => LcsTokens(es(0), es(1), es(2))),
    "bigram_counts" -> (es => BigramCounts(es.head)),
    "minhash_sig" -> (es => MinHashSig(es(0), es(1))),
    "hash64" -> (es => Hash64(es.head)),
    "hash_family" -> (es => HashFamily(es(0), es(1))),
    "jaro_winkler" -> (es => JaroWinkler(es(0), es(1))),
    "damerau_levenshtein" -> (es => DamerauLevenshtein(es(0), es(1))),
    "hamming_bytes" -> (es => HammingBytes(es(0), es(1))),
    "jaccard_bytes" -> (es => JaccardBytes(es(0), es(1))),
  )

  /** Register [[sqlFunctions]] for SQL use on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
