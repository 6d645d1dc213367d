package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass codegen'd kernels for the text-dedup signature builders.
  *
  * Spark does not codegen higher-order-function lambdas (`transform`,
  * `aggregate`, `filter` run interpreted, allocating per element), which made
  * the r2 "map-side" MinHash/SimHash builders 2–9× slower than the shuffling
  * plans they replaced (BENCH_r02: minhash 119 s, simhash 36 s at sf0.1).
  * These expressions do the same math as ONE tight primitive loop per row —
  * the [[DotProduct]] pattern, which took the pairwise-cosine operator from
  * 167 s to 1.9 s — while staying bit-identical to the DuckDB oracles:
  *
  *  - gram hash  = first 8 md5 hex chars as unsigned  (`('0x' || substr(md5(g),1,8))::BIGINT`)
  *  - token hash = first 15 md5 hex chars as unsigned (`('0x' || substr(md5(t),1,15))::BIGINT`)
  *  - minhash slot i = min over grams of (a_i*h + b_i) mod (2^31-1)
  *  - simhash bit b  = 1 iff sum over distinct tokens of ±1 votes > 0
  *
  * The static kernel methods are invoked from whole-stage-generated Java via
  * the Scala object's static forwarders; each is a pure function of its
  * input array (no shared mutable state beyond a thread-local MD5 instance).
  */
object TextKernels {

  /** 32 deterministic affine permutations h_i(x) = (a_i*x + b_i) mod p over a
    * 32-bit gram hash. p = 2^31-1; a < 2^30 keeps a*x + b < 2^63. (Moved from
    * Dedup so the kernel and the operators share one source of truth.)
    */
  val MinhashP: Long = 2147483647L
  val MinhashSeeds: Seq[(Long, Long)] = Seq(
    (686579305L, 239081663L), (26855093L, 590620971L), (262950629L, 479341423L),
    (149827707L, 220106707L), (726600541L, 186699713L), (634036507L, 906070220L),
    (34126397L, 63989047L), (100604503L, 469521477L), (249817735L, 56985561L),
    (602632299L, 427000596L), (768820205L, 900911954L), (236696313L, 964669077L),
    (632719213L, 597409992L), (869119331L, 13955983L), (814763203L, 342865762L),
    (749621471L, 907557512L), (365341215L, 596724164L), (166944845L, 462382781L),
    (1027799705L, 722831292L), (109747453L, 199170184L), (407943841L, 207696843L),
    (385451173L, 738639288L), (648245889L, 568054227L), (866647393L, 93309105L),
    (783543541L, 986607411L), (575770531L, 268062140L), (1044875093L, 812896393L),
    (84611067L, 629595552L), (890566477L, 776605304L), (619927153L, 412936598L),
    (756528253L, 149368553L), (49203559L, 489407815L))

  private val SeedsA: Array[Long] = MinhashSeeds.map(_._1).toArray
  private val SeedsB: Array[Long] = MinhashSeeds.map(_._2).toArray

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 md5 hex chars (= first 4 digest bytes) as an unsigned long —
    * identical to `conv(substring(md5(s), 1, 8), 16, 10)`.
    */
  def hash32(s: UTF8String): Long = {
    val d = Md5.get().digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Column form of [[hash32]] from built-in (codegen'd) functions — for
    * call sites hashing one scalar per row, where a custom kernel buys
    * nothing over the native md5/conv chain.
    */
  def hash32Col(s: Column): Column = {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")
  }

  /** First 15 md5 hex chars (= first 8 digest bytes >>> 4) as an unsigned
    * long < 2^60 — identical to `conv(substring(md5(s), 1, 15), 16, 10)`.
    */
  def hash60(s: UTF8String): Long = {
    val d = Md5.get().digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Distinct word n-grams of a token array, first-occurrence order (the
    * semantics of `array_distinct(transform(sequence(...), concat_ws(" ", ...)))`).
    * Fewer than n tokens → empty array.
    */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= m - n) {
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** [[hash32]] of every word n-gram IN ORDER, duplicates kept — slot i is
    * the hash of the gram starting at token i, so `posexplode` over the
    * result yields the positional seed stream duplicated-span detection
    * needs ([[graft.operators.Dedup.duplicatedSpans]]). Fewer than n tokens
    * → empty array. Semantics identical to hashing
    * `transform(sequence(0, size - n), i -> concat_ws(" ", slice(toks, i + 1, n)))`
    * element-wise, in one codegen'd pass with no intermediate gram strings
    * surviving the row.
    */
  def orderedGramHashes(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val sep = UTF8String.fromString(" ")
    val parts = new Array[UTF8String](n)
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = hash32(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** All 32 minhash slots in one pass over the gram array: hash each gram
    * once, fold every permutation's running min. Empty input yields slots of
    * Long.MaxValue (callers filter empty gram sets; [[Dedup.shingles]] does).
    */
  def minhashSignature(grams: ArrayData): ArrayData = {
    val n = grams.numElements()
    val k = SeedsA.length
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hash32(grams.getUTF8String(i))
      var j = 0
      while (j < k) {
        val v = (h * SeedsA(j) + SeedsB(j)) % MinhashP
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 60-bit SimHash over an array of (already distinct) tokens: per bit, sum
    * ±1 votes from each token's 60-bit hash; bit set iff the vote is > 0.
    * Empty input → 0L (matches the `aggregate` fold's zero start).
    */
  def simhash60(tokens: ArrayData): Long = {
    val votes = new Array[Int](60)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = hash60(tokens.getUTF8String(i))
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    * algorithm): hash every n-token gram IN ORDER (duplicates kept — position
    * matters, unlike [[shingles]]), slide a window of `w` consecutive gram
    * hashes, keep each window's minimum, return the distinct selected hashes
    * ascending. Guarantees: any shared token run of length >= n + w - 1
    * between two docs selects at least one common fingerprint, while only
    * ~2/(w+1) of grams are kept — a tunable recall/size trade. Docs with
    * fewer than w grams yield an empty array.
    */
  def winnow(toks: ArrayData, n: Int, w: Int): ArrayData = {
    val m = toks.numElements()
    val nGrams = m - n + 1
    if (nGrams < w) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val parts = new Array[UTF8String](n)
    val hs = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      hs(i) = hash32(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    val selected = new java.util.TreeSet[java.lang.Long]()
    var p = 0
    while (p <= nGrams - w) {
      var mn = Long.MaxValue
      var t = 0
      while (t < w) { if (hs(p + t) < mn) mn = hs(p + t); t += 1 }
      selected.add(mn)
      p += 1
    }
    val out = new Array[Any](selected.size)
    val it = selected.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }

  /** Per-doc n-gram repetition stats in ONE pass over the ORDERED grams
    * (duplicates kept — repetition is exactly what [[shingles]]' distinct
    * set erases): total gram count, distinct gram count, and the
    * multiplicity of the most-repeated gram. High top/total is the
    * boilerplate / degenerate-generation signal quality filters cut on.
    * Fewer than n tokens → (0, 0, 0).
    */
  def repetitionStats(toks: ArrayData, n: Int): Any = {
    val m = toks.numElements()
    val out = new Array[Any](3)
    if (m < n) {
      out(0) = 0L; out(1) = 0L; out(2) = 0L
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }
    val sep = UTF8String.fromString(" ")
    val counts = new java.util.HashMap[UTF8String, java.lang.Long]()
    val parts = new Array[UTF8String](n)
    val total = m - n + 1
    var top = 0L
    var i = 0
    while (i < total) {
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      val c = counts.merge(
        UTF8String.concatWs(sep, parts: _*), java.lang.Long.valueOf(1L),
        (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
      if (c.longValue() > top) top = c.longValue()
      i += 1
    }
    out(0) = total.toLong; out(1) = counts.size.toLong; out(2) = top
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  private def requireStringArray(name: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"$name requires array<string>, got ${other.sql}")
  }

  /** Codegen'd distinct word n-grams: array<string> tokens → array<string>. */
  case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
    require(n > 0, s"graft_shingles: gram width must be positive, got $n")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(prettyName, child.dataType)
    override def nullSafeEval(t: Any): Any =
      TextKernels.shingles(t.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.shingles($t, $n);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_shingles"
  }

  /** Codegen'd positional n-gram hashes: array<string> tokens → array<long>,
    * slot i = hash32 of the gram starting at token i (duplicates kept).
    */
  case class OrderedGramHashes(child: Expression, n: Int) extends UnaryExpression {
    require(n > 0, s"graft_gram_hashes: gram width must be positive, got $n")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(prettyName, child.dataType)
    override def nullSafeEval(t: Any): Any =
      TextKernels.orderedGramHashes(t.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.orderedGramHashes($t, $n);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_gram_hashes"
  }

  /** Codegen'd 32-slot MinHash signature: array<string> grams → array<long>. */
  case class MinHashSignature(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(prettyName, child.dataType)
    override def nullSafeEval(g: Any): Any =
      TextKernels.minhashSignature(g.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, g =>
        s"${ev.value} = graft.functions.TextKernels.minhashSignature($g);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_minhash"
  }

  /** Codegen'd 60-bit SimHash: array<string> distinct tokens → long. */
  case class SimHash60(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(prettyName, child.dataType)
    override def nullSafeEval(t: Any): Any =
      TextKernels.simhash60(t.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.simhash60($t);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_simhash60"
  }

  /** Codegen'd winnowing fingerprints: array<string> tokens → array<long>
    * of distinct selected gram-hash minima, ascending.
    */
  case class WinnowFingerprints(child: Expression, n: Int, w: Int) extends UnaryExpression {
    require(n > 0 && w > 0, s"graft_winnow: gram width and window must be positive, got $n/$w")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(prettyName, child.dataType)
    override def nullSafeEval(t: Any): Any =
      TextKernels.winnow(t.asInstanceOf[ArrayData], n, w)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.winnow($t, $n, $w);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_winnow"
  }

  /** Codegen'd repetition stats: array<string> tokens →
    * struct<n_grams, n_distinct, top_count> (all long).
    */
  case class RepetitionStats(child: Expression, n: Int) extends UnaryExpression {
    require(n > 0, s"graft_repstats: gram width must be positive, got $n")
    override def dataType: DataType = StructType(Seq(
      StructField("n_grams", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("top_count", LongType, nullable = false)))
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(prettyName, child.dataType)
    override def nullSafeEval(t: Any): Any =
      TextKernels.repetitionStats(t.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) " +
          s"graft.functions.TextKernels.repetitionStats($t, $n);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_repstats"
  }

  /** Codegen'd frozen-BPE-tokenizer application: string word →
    * array<string> subwords under a ranked merge table (flattened
    * `[l1, r1, l2, r2, …]`, riding the plan as a reference object — a
    * shipped tokenizer is KB-scale). One imperative pass per merge round,
    * greedy-left semantics identical to the staged fold in
    * [[graft.operators.Bpe.withBpeTokens]] (BpeSpec pins kernel == fold);
    * exists because even the staged HOF fold pays per-element interpreted
    * lambda dispatch — bpe_tokenize at sf0.1 measured 726 s as one nested
    * expression, 11.1 s staged, 4.2 s on this kernel (the r2→r3
    * interpreted-HOF lesson, again).
    */
  case class BpeApply(child: Expression, flatMerges: Seq[String]) extends UnaryExpression {
    require(flatMerges.length % 2 == 0,
      s"graft_bpe_apply: merge table must be (l, r) pairs flattened, got ${flatMerges.length} entries")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"graft_bpe_apply requires string, got ${other.sql}")
    }
    @transient private lazy val flat: Array[String] = flatMerges.toArray
    override def nullSafeEval(w: Any): Any =
      TextKernels.bpeApply(w.asInstanceOf[UTF8String], flat)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeMerges", flat, "java.lang.String[]")
      nullSafeCodeGen(ctx, ev, w =>
        s"${ev.value} = graft.functions.TextKernels.bpeApply($w, $ref);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_bpe_apply"
  }

  /** Occurrences of tokens ∈ `terms` — the membership-count half of the
    * interpreted `size(filter(toks, t => t.isin(terms)))` chains (stopword
    * ratio, language-marker scores, blocklist counts). Null elements are
    * skipped exactly as `isin`'s null verdict filtered them out.
    */
  def countIn(toks: ArrayData, terms: java.util.HashSet[UTF8String]): Int = {
    val n = toks.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i) && terms.contains(toks.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** How many of `terms` occur in `toks` at least once — the distinct-term
    * evidence count of `size(filter(array(terms...), s => array_contains(toks, s)))`
    * (the Gopher stop_ok rule). Terms are distinct by construction at the
    * call sites, so "terms present" == that filter's size.
    */
  def termsPresent(toks: ArrayData, terms: Array[UTF8String]): Int = {
    val n = toks.numElements()
    val seen = new java.util.HashSet[UTF8String](math.max(8, n * 2))
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) { seen.add(toks.getUTF8String(i)); () }
      i += 1
    }
    var c = 0
    var j = 0
    while (j < terms.length) { if (seen.contains(terms(j))) c += 1; j += 1 }
    c
  }

  /** Σ length(token) in code points — the numerator of mean token length,
    * replacing the interpreted `aggregate(transform(toks, length), 0.0, +)`
    * fold (sums of integer-valued doubles are exact at any order, so the
    * long total cast to double is the identical value).
    */
  def tokenLenSum(toks: ArrayData): Long = {
    val n = toks.numElements()
    var s = 0L
    var i = 0
    while (i < n) { s += toks.getUTF8String(i).numChars(); i += 1 }
    s
  }

  /** DSIR λ fold: Σ_h lambda[(h % buckets)] over the gram-hash array, the
    * identical left-to-right IEEE add chain as the interpreted
    * `aggregate(transform(hs, h => element_at(λ, h % buckets + 1)), 0.0, +)`
    * it replaces (hashes are nonnegative, so `%` == floorMod here). The
    * caller rounds the identical double to 6 decimals, unchanged.
    */
  def lambdaFold(hs: ArrayData, lambda: Array[Double]): Double = {
    val n = hs.numElements()
    val m = lambda.length
    var acc = 0.0
    var i = 0
    while (i < n) { acc = acc + lambda((hs.getLong(i) % m).toInt); i += 1 }
    acc
  }

  /** Adjacent (left, right) pairs of a symbol array, duplicates kept — the
    * BPE pair-scan / bigram shape, one pass instead of the interpreted
    * `zip_with(slice(a,1,n-1), slice(a,2,n-1), struct)` chain that built
    * two intermediate arrays per row. Fewer than 2 symbols → empty array.
    */
  def adjacentPairs(syms: ArrayData): ArrayData = {
    val n = syms.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev: UTF8String = if (syms.isNullAt(0)) null else syms.getUTF8String(0)
    var i = 1
    while (i < n) {
      val cur: UTF8String = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      out(i - 1) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](prev, cur))
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Candidate-token filter: keep tokens of length ≥ `minLen` (code points)
    * that are NOT in `stop` — order preserved, duplicates kept; the
    * TextRank candidate scan as one pass instead of an interpreted
    * `filter(toks, w => length(w) >= k && !w.isin(stop))` lambda. Null
    * elements are dropped exactly as the lambda's null verdict dropped them.
    */
  def filterCandidates(toks: ArrayData, stop: java.util.HashSet[UTF8String], minLen: Int): ArrayData = {
    val n = toks.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        if (t.numChars() >= minLen && !stop.contains(t)) { out.add(t); () }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Codegen'd candidate-token filter: array<string> × literal stoplist ×
    * literal min length → array<string>.
    */
  case class FilterCandidates(child: Expression, stop: Seq[String], minLen: Int)
    extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(prettyName, child.dataType)
    @transient private lazy val set: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String](stop.size * 2)
      stop.foreach(t => s.add(UTF8String.fromString(t)))
      s
    }
    override def nullSafeEval(t: Any): Any =
      TextKernels.filterCandidates(t.asInstanceOf[ArrayData], set, minLen)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("candStop", set, "java.util.HashSet")
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.filterCandidates($t, $ref, $minLen);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_filter_cands"
  }

  /** |A ∩ B| over two string arrays with `array_intersect` semantics —
    * DISTINCT elements of `a` that appear in `b` — without materializing
    * the intersected array per pair (the Jaccard verify stage evaluates
    * this once per CANDIDATE PAIR; the builtin chain built the full
    * intersection array just to take its size). The gram builder emits
    * containsNull=false arrays, so null elements are unreachable here;
    * they THROW rather than silently diverging from the builtin's
    * null-matches-null semantics (the strictness rule).
    */
  def interCount(a: ArrayData, b: ArrayData): Int = {
    val nb = b.numElements()
    val set = new java.util.HashSet[UTF8String](math.max(8, nb * 2))
    var i = 0
    while (i < nb) {
      if (b.isNullAt(i)) throw new IllegalArgumentException("graft_inter_count: null element")
      set.add(b.getUTF8String(i))
      i += 1
    }
    val na = a.numElements()
    val seen = new java.util.HashSet[UTF8String](math.max(8, na * 2))
    var c = 0
    var j = 0
    while (j < na) {
      if (a.isNullAt(j)) throw new IllegalArgumentException("graft_inter_count: null element")
      val e = a.getUTF8String(j)
      if (set.contains(e) && seen.add(e)) c += 1
      j += 1
    }
    c
  }

  /** Codegen'd intersection count: two array<string> → int, ==
    * `size(array_intersect(a, b))` for null-free arrays.
    */
  case class InterCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"graft_inter_count requires two array<string> arguments, got ${left.dataType.sql} / ${right.dataType.sql}")
      }
    override def nullSafeEval(a: Any, b: Any): Any =
      TextKernels.interCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.TextKernels.interCount($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "graft_inter_count"
  }

  /** Codegen'd adjacent-pair scan: array<string> → array<struct<l, r>>. */
  case class AdjacentPairs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("l", StringType, nullable = true),
        StructField("r", StringType, nullable = true))),
      containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(prettyName, child.dataType)
    override def nullSafeEval(t: Any): Any =
      TextKernels.adjacentPairs(t.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.adjacentPairs($t);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_adj_pairs"
  }

  /** Codegen'd membership-occurrence count: array<string> tokens × literal
    * term set → int.
    */
  case class CountIn(child: Expression, terms: Seq[String]) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(prettyName, child.dataType)
    @transient private lazy val set: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String](terms.size * 2)
      terms.foreach(t => s.add(UTF8String.fromString(t)))
      s
    }
    override def nullSafeEval(t: Any): Any =
      TextKernels.countIn(t.asInstanceOf[ArrayData], set)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("countInTerms", set, "java.util.HashSet")
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.countIn($t, $ref);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_count_in"
  }

  /** Codegen'd distinct-term evidence count: array<string> tokens × literal
    * term list → int (how many listed terms appear at least once).
    */
  case class TermsPresent(child: Expression, terms: Seq[String]) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(prettyName, child.dataType)
    @transient private lazy val arr: Array[UTF8String] =
      terms.map(UTF8String.fromString).toArray
    override def nullSafeEval(t: Any): Any =
      TextKernels.termsPresent(t.asInstanceOf[ArrayData], arr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("presentTerms", arr,
        "org.apache.spark.unsafe.types.UTF8String[]")
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.termsPresent($t, $ref);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_terms_present"
  }

  /** Codegen'd token-length sum: array<string> tokens → long. */
  case class TokenLenSum(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(prettyName, child.dataType)
    override def nullSafeEval(t: Any): Any =
      TextKernels.tokenLenSum(t.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.tokenLenSum($t);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_toklen_sum"
  }

  /** Codegen'd DSIR λ fold: array<long> gram hashes × literal λ table →
    * double (unrounded — callers keep their round(·, 6)).
    */
  case class LambdaFold(child: Expression, lambda: Seq[Double]) extends UnaryExpression {
    require(lambda.length > 1, s"graft_lambda_fold: need a dense λ table, got ${lambda.length}")
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"graft_lambda_fold requires array<bigint>, got ${other.sql}")
    }
    @transient private lazy val flat: Array[Double] = lambda.toArray
    override def nullSafeEval(hs: Any): Any =
      TextKernels.lambdaFold(hs.asInstanceOf[ArrayData], flat)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("lambdaTable", flat, "double[]")
      nullSafeCodeGen(ctx, ev, hs =>
        s"${ev.value} = graft.functions.TextKernels.lambdaFold($hs, $ref);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_lambda_fold"
  }

  /** Unicode canonical composition (NFC) — the normalize-before-anything
    * step a multilingual pipeline runs so that `e + COMBINING ACUTE` and
    * `é` dedup, tokenize, and hash as the SAME text. JDK
    * `java.text.Normalizer` implements the same Unicode canonical
    * composition the oracle engine's `nfc_normalize` (utf8proc) does, so
    * the audit replays exactly.
    */
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))

  /** Codegen'd NFC normalization: string → string. */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"graft_nfc requires string, got ${other.sql}")
    }
    override def nullSafeEval(s: Any): Any =
      TextKernels.nfc(s.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.TextKernels.nfc($s);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_nfc"
  }

  /** Extract a foldable integer literal function argument with a
    * descriptive failure — `graft_shingles(toks, n_col)` or a non-integer
    * literal should read as a usage error, not a ClassCastException.
    */
  private[functions] def intArg(fn: String, pos: Int, e: Expression): Int = {
    require(e.foldable, s"$fn: argument ${pos + 1} must be an integer literal, got a non-literal")
    e.eval() match {
      case n: Number => n.intValue()
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument ${pos + 1} must be an integer literal, got $other")
    }
  }

  /** Extract a foldable array<double> literal function argument. */
  private[functions] def doubleArrayArg(fn: String, pos: Int, e: Expression): Seq[Double] = {
    require(e.foldable, s"$fn: argument ${pos + 1} must be an array<double> literal")
    e.eval() match {
      case a: ArrayData => a.toDoubleArray().toSeq
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument ${pos + 1} must be an array<double> literal, got $other")
    }
  }

  /** Greedy-left BPE merge application: UTF8 word → subword symbols after
    * applying each (l, r) merge in ranked order. Symbols seed as single
    * Unicode CODE POINTS (matching both engines' character-based substr);
    * each round is one linear pass that replaces a trailing `l` when `r`
    * arrives — a symbol minted in a pass never re-merges within it
    * (`l+r ≠ l`, r nonempty), which is what makes `llll → [ll, ll]`.
    */
  def bpeApply(word: UTF8String, flatMerges: Array[String]): ArrayData = {
    val w = word.toString
    var cur = new java.util.ArrayList[String](w.length)
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      cur.add(w.substring(i, i + n))
      i += n
    }
    var m = 0
    while (m < flatMerges.length) {
      val l = flatMerges(m)
      val r = flatMerges(m + 1)
      val next = new java.util.ArrayList[String](cur.size)
      var j = 0
      while (j < cur.size) {
        val s = cur.get(j)
        val tail = next.size - 1
        if (tail >= 0 && next.get(tail) == l && s == r) next.set(tail, l + r)
        else next.add(s)
        j += 1
      }
      cur = next
      m += 2
    }
    val out = new Array[AnyRef](cur.size)
    var k = 0
    while (k < cur.size) { out(k) = UTF8String.fromString(cur.get(k)); k += 1 }
    new GenericArrayData(out)
  }

  /** Extract a foldable array<string> literal function argument (the
    * flattened merge table of `graft_bpe_apply`).
    */
  private[functions] def stringArrayArg(fn: String, pos: Int, e: Expression): Seq[String] = {
    require(e.foldable, s"$fn: argument ${pos + 1} must be an array<string> literal")
    e.eval() match {
      case a: ArrayData =>
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument ${pos + 1} must be an array<string> literal, got $other")
    }
  }

  def shingleGrams(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_shingles", toks, lit(n))
  }
  def orderedGramHashesCol(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_gram_hashes", toks, lit(n))
  }
  def minhashSig(grams: Column): Column = call_function("graft_minhash", grams)
  def simhashSig(distinctToks: Column): Column = call_function("graft_simhash60", distinctToks)
  def winnowFingerprints(toks: Column, n: Int, w: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_winnow", toks, lit(n), lit(w))
  }
  def repetitionStatsCol(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_repstats", toks, lit(n))
  }
  def nfcCol(s: Column): Column = call_function("graft_nfc", s)
  def countInCol(toks: Column, terms: Seq[String]): Column = {
    import org.apache.spark.sql.functions.typedLit
    call_function("graft_count_in", toks, typedLit(terms))
  }
  def termsPresentCol(toks: Column, terms: Seq[String]): Column = {
    import org.apache.spark.sql.functions.typedLit
    call_function("graft_terms_present", toks, typedLit(terms))
  }
  def tokenLenSumCol(toks: Column): Column = call_function("graft_toklen_sum", toks)
  def adjacentPairsCol(syms: Column): Column = call_function("graft_adj_pairs", syms)
  def interCountCol(a: Column, b: Column): Column = call_function("graft_inter_count", a, b)
  def filterCandidatesCol(toks: Column, stop: Seq[String], minLen: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    call_function("graft_filter_cands", toks, typedLit(stop), lit(minLen))
  }
  def lambdaFoldCol(hs: Column, lambda: Seq[Double]): Column = {
    import org.apache.spark.sql.functions.typedLit
    call_function("graft_lambda_fold", hs, typedLit(lambda))
  }
  def bpeApplyCol(word: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.functions.typedLit
    call_function(
      "graft_bpe_apply", word,
      typedLit(merges.flatMap(m => Seq(m._1, m._2))))
  }
}
