package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expression for the similarity hot path.
  *
  * `aggregate(zip_with(a, b, multiply), 0d, plus)` is semantically right
  * but the lambda machinery is interpreted per element — at millions of
  * candidate pairs × 64+ dims it dominates the similarity operators'
  * runtime. This expression computes the dot product in ONE tight
  * primitive loop, with `doGenCode` so it stays inside whole-stage
  * codegen (builder brief: custom Expression only where the built-ins
  * genuinely can't express the semantics *efficiently*).
  *
  * Null handling: a null array → null result; null ELEMENTS are skipped
  * (contribute 0), matching the HOF form with a coalesce guard.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_array_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    val (lf, rf) = (elemType(left) == FloatType, elemType(right) == FloatType)
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        sum += xv * yv
      }
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      def get(arr: String, t: DataType) = t match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case _ => s"$arr.getDouble($i)"
      }
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $sum += ${get(a, elemType(left))} * ${get(b, elemType(right))};
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** Native word-n-gram shingle hashing for MinHash/Jaccard: tokenizes on
  * whitespace and emits the DISTINCT xxhash64 (seed 42, Spark's default)
  * of each n-token shingle joined by single spaces — byte-identical to
  * `transform(wordShingles(text, n), s -> xxhash64(s))` (asserted in
  * specs), but one tight loop instead of per-position interpreted
  * `slice`+`concat_ws` lambdas. Texts shorter than n tokens hash the
  * whole token sequence (same fallback as wordShingles).
  */
case class ShingleHashes(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input and n >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(input: Any): Any = {
    val hashes = ShingleHashes.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(hashes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(" +
        s"graft.functions.ShingleHashes.compute($c, $n))")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  private val Seed = 42L // xxhash64's default seed in Spark

  /** One-pass tokenize + shingle + hash. Whitespace = Java regex \s
    * (space, \t, \n, \x0B, \f, \r) to match `split(trim(s), "\s+")`. */
  def compute(str: org.apache.spark.unsafe.types.UTF8String, n: Int): Array[Long] = {
    val bytes = str.getBytes
    def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
    // token [start, end) offsets
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isWs(bytes(i))) i += 1
      if (i < bytes.length) {
        starts.add(i)
        while (i < bytes.length && !isWs(bytes(i))) i += 1
        ends.add(i)
      }
    }
    val nTok = starts.size()
    val width = if (nTok < n) math.max(nTok, 1) else n
    val nShingles = if (nTok <= width) 1 else nTok - width + 1
    val buf = new Array[Byte](bytes.length + width) // large enough for any shingle
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](nShingles)
    var outLen = 0
    var s = 0
    while (s < nShingles) {
      var len = 0
      var t = 0
      while (t < width && s + t < nTok) {
        if (t > 0) { buf(len) = ' '; len += 1 }
        val from = starts.get(s + t); val to = ends.get(s + t)
        System.arraycopy(bytes, from, buf, len, to - from)
        len += to - from
        t += 1
      }
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, Seed)
      if (seen.add(h)) { out(outLen) = h; outLen += 1 }
      s += 1
    }
    if (outLen == out.length) out else java.util.Arrays.copyOf(out, outLen)
  }
}

/** Native per-row MinHash signature from a shingle-hash array: sig[i] =
  * min over shingle hashes h of xxhash64(i, h) — byte-identical to the
  * explode + `numHashes` MIN-aggregate form ([[graft.dedup.DedupStages
  * .minhashSignatures]], asserted in specs) but computed in ONE tight
  * per-row loop. Scale consequence: signature computation becomes a pure
  * map-side projection — NO shuffle before LSH banding (the explode+agg
  * form pays a groupBy shuffle of one combined row per doc).
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if numHashes >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<long> input and numHashes >= 1")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(MinHashSig.compute(input.asInstanceOf[ArrayData], numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(" +
        s"graft.functions.MinHashSig.compute($c, $numHashes))")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  private val seedCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  /** Per-permutation seeds: xxhash64(i, h) in Spark evaluates as
    * hashLong(h, hashInt(i, 42)) — precompute hashInt(i, 42) once. */
  private def seeds(numHashes: Int): Array[Long] =
    seedCache.computeIfAbsent(numHashes,
      n => Array.tabulate(n)(i => XXH64.hashInt(i, 42L)))

  def compute(arr: ArrayData, numHashes: Int): Array[Long] = {
    val s = seeds(numHashes)
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = arr.getLong(j)
        var i = 0
        while (i < numHashes) {
          val v = XXH64.hashLong(h, s(i))
          if (v < out(i)) out(i) = v
          i += 1
        }
      }
      j += 1
    }
    out
  }
}

/** Native per-row 64-bit SimHash of a string: tokenize on whitespace
  * (same tokenizer as [[ShingleHashes]], mirroring `split(trim(s),
  * "\\s+")` incl. its single-empty-token result for blank input),
  * xxhash64 each token, accumulate per-bit ±1 counts, pack signs —
  * byte-identical to the HOF/aggregate forms ([[graft.dedup.DedupStages
  * .simhash64]]/[[graft.dedup.DedupStages.simhashSignatures]], asserted
  * in specs). Same scale consequence as [[MinHashSig]]: the signature is
  * a pure projection, no explode + 64-SUM-aggregate shuffle.
  */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  private val Seed = 42L

  def compute(str: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = str.getBytes
    def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
    val counts = new Array[Int](64)
    var nTok = 0
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isWs(bytes(i))) i += 1
      if (i < bytes.length) {
        val start = i
        while (i < bytes.length && !isWs(bytes(i))) i += 1
        addToken(counts, XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start, i - start, Seed))
        nTok += 1
      }
    }
    // split(trim(""), "\s+") yields [""] — one empty token, not zero
    if (nTok == 0)
      addToken(counts, XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, 0, Seed))
    var acc = 0L
    var b = 0
    while (b < 64) { // bit 0's sign lands in the MSB (matches the HOF fold)
      acc = (acc << 1) | (if (counts(b) > 0) 1L else 0L)
      b += 1
    }
    acc
  }

  private def addToken(counts: Array[Int], h: Long): Unit = {
    var b = 0
    while (b < 64) {
      counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
      b += 1
    }
  }
}

/** Native SRP (signed-random-projection) LSH signature: `nBits` sign
  * bits of projections of a float/double array onto deterministic ±1
  * Rademacher hyperplanes, packed into a long (bit p = plane p's sign).
  *
  * Byte-identical to the HOF reference form
  * ([[graft.similarity.SimilarityStages.srpSignatureHof]] — asserted in
  * specs): same split-mix sign derivation over (plane, dim), same
  * ascending-j double summation, null elements and dimensions beyond
  * `dim` contribute 0. The HOF form inlines nBits×dim literal arrays
  * into the plan (≈10³ expression nodes), which costs seconds of
  * analysis + codegen PER QUERY and dominates the LSH operators'
  * wall-clock at small scale; this expression is one plan node with one
  * tight fused loop.
  */
case class SrpSig(child: Expression, nBits: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float>/array<double> input, " +
        s"got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_srp_sig"

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    SrpSig.compute(input.asInstanceOf[ArrayData], isFloat, nBits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SrpSig.compute($c, $isFloat, $nBits, $dim)")

  override protected def withNewChildInternal(newChild: Expression): SrpSig =
    copy(child = newChild)
}

object SrpSig {
  // sign matrices are tiny (nBits×dim doubles) and shared across rows —
  // cache per (nBits, dim) so executors derive them once, not per row
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  /** Deterministic Rademacher ±1 signs — the SAME split-mix derivation
    * as the HOF form's driver-side literal matrix. */
  def signs(nBits: Int, dim: Int): Array[Array[Double]] =
    signCache.computeIfAbsent((nBits, dim), { case (b, d) =>
      Array.tabulate(b, d) { (p, j) =>
        var z = p.toLong * 0x9E3779B97F4A7C15L + j * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0 else -1.0
      }
    })

  def compute(arr: ArrayData, isFloat: Boolean, nBits: Int, dim: Int): Long = {
    val s = signs(nBits, dim)
    val n = math.min(arr.numElements(), dim)
    var sig = 0L
    var p = 0
    while (p < nBits) {
      val row = s(p)
      var proj = 0.0
      var j = 0
      while (j < n) {
        if (!arr.isNullAt(j))
          proj += (if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)) * row(j)
        j += 1
      }
      if (proj >= 0) sig |= 1L << p
      p += 1
    }
    sig
  }
}

/** Native Johnson–Lindenstrauss sign projection: `out[j] = Σ_i s(j,i)·q(x_i)`
  * with the deterministic quadratic-residue sign
  * `s(j,i) = ((seed + j·100003 + i·17)² mod 1000003) mod 2 == 0 ? 1 : -1`
  * and HALF_UP integer quantization `q(x) = (long) round(x·scale)` —
  * byte-identical to the HOF reference form
  * ([[graft.similarity.SimilarityStages.jlProjectHof]], asserted in
  * specs, incl. the null contracts: null input or any null ELEMENT →
  * array of k nulls, the HOF fold's null propagation; empty input →
  * k zeros).
  *
  * Why native (r19 optimization round, guide §4): the HOF form is a
  * `transform(sequence(k), j -> aggregate(sequence(dim), ...))` — k·dim
  * interpreted lambda evaluations per row, and the quantization
  * `round(x_i·scale)` is recomputed for EVERY j (k× redundant). Worse,
  * the downstream non-outer `posexplode` makes the optimizer inject a
  * `size(proj) > 0` Filter that evaluates the ENTIRE projection a
  * second time per row (plans/r19/rand_project_before.txt). This
  * expression quantizes once per element and runs one fused primitive
  * loop inside whole-stage codegen. */
case class JlProject(child: Expression, k: Int, scale: Double, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(child.dataType) && k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float>/array<double> input and k >= 1, " +
        s"got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_jl_project"

  // a null INPUT still yields an array (of k nulls) — the expression
  // itself never returns null, so the default null-gated eval/codegen
  // paths are overridden below
  override def nullable: Boolean = false

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) JlProject.nullArray(k)
    else JlProject.compute(v.asInstanceOf[ArrayData], isFloat, k, scale, seed)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val tpe = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code = code"""
      ${childGen.code}
      $tpe ${ev.value} = ${childGen.isNull} ?
        graft.functions.JlProject.nullArray($k) :
        graft.functions.JlProject.compute(${childGen.value}, $isFloat, $k, ${scale}D, ${seed}L);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}

object JlProject {
  /** The HOF fold's null result shape: an array of k null elements. */
  def nullArray(k: Int): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](k))

  def compute(arr: ArrayData, isFloat: Boolean, k: Int,
              scale: Double, seed: Long): ArrayData = {
    val n = arr.numElements()
    // the HOF fold's `acc + sign·q(null)` goes (and stays) null for
    // every j as soon as ONE element is null — reproduce exactly
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return nullArray(k)
      i += 1
    }
    // quantize ONCE per element (the HOF recomputes per output dim).
    // Parity with Spark's Round(HALF_UP) on double: BigDecimal.valueOf
    // (Double.toString repr), NaN/Infinity pass through; then the
    // double→long cast truncates.
    val q = new Array[Long](n)
    i = 0
    while (i < n) {
      val xd = (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)) * scale
      val r =
        if (java.lang.Double.isNaN(xd) || java.lang.Double.isInfinite(xd)) xd
        else java.math.BigDecimal.valueOf(xd)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
      q(i) = r.toLong
      i += 1
    }
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      var acc = 0L
      i = 0
      while (i < n) {
        val h = seed + j.toLong * 100003L + i.toLong * 17L
        acc += (if (((h * h) % 1000003L) % 2L == 0L) 1L else -1L) * q(i)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Bloom-filter membership probe whose serialized sketch arrives via a
  * Spark BROADCAST variable rather than a plan literal. Semantically
  * identical to Spark's `BloomFilterMightContain(lit(bytes), value)`
  * (null value → null, otherwise mightContainLong), but the task binary
  * and the driver plan carry only the broadcast HANDLE — the bytes move
  * once per executor. The filter deserializes lazily per executor and
  * the probe stays inside whole-stage codegen via a reference-object
  * method call. */
case class BloomMightContainBcast(
    bcast: org.apache.spark.broadcast.Broadcast[Array[Byte]],
    child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint probe value, got ${child.dataType.simpleString}")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_might_contain_bcast"

  @transient private lazy val filter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bcast.value))

  def mightContain(v: Long): Boolean = filter.mightContainLong(v)

  override def nullSafeEval(v: Any): Any =
    mightContain(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbeBcast", this,
      classOf[BloomMightContainBcast].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.mightContain($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** Register every [[NativeFunctions]] entry the session's function
    * registry lacks — the supported path for using a custom Expression
    * from the Column DSL. A session built with [[graft.GraftExtensions]]
    * lacks none, so this does no work there. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    NativeFunctions.all.foreach { f =>
      if (!registry.functionExists(f.id)) registry.registerFunction(f.id, f.info, f.builder)
    }
  }

  /** Native dot product of two float/double array columns. */
  def arrayDot(a: Column, b: Column): Column =
    call_function("graft_array_dot", a, b)

  /** Codegen'd wikitext → plain-text cleanup — see [[graft.text.Wikitext]]. */
  def wikitextClean(text: Column): Column =
    call_function("graft_wikitext_clean", text)

  /** Codegen'd deflate compression ratio — see [[DeflateRatio]]. */
  def deflateRatio(text: Column, level: Int): Column =
    call_function("graft_deflate_ratio", text,
      org.apache.spark.sql.functions.lit(level))

  /** Codegen'd Unicode normalization — see [[UnicodeNorm.norm]]. */
  def unicodeNorm(text: Column, form: String, stripAccents: Boolean,
                  toLower: Boolean, cleanWs: Boolean): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_unicode_norm", text, lit(form), lit(stripAccents),
      lit(toLower), lit(cleanWs))
  }

  /** Visible text of an HTML string (single-pass parse, ws-collapsed). */
  def htmlText(html: Column): Column = call_function("graft_html_text", html)

  /** First `<title>` content of an HTML string; null when absent. */
  def htmlTitle(html: Column): Column = call_function("graft_html_title", html)

  /** `<a href>` values of an HTML string in document order. */
  def htmlLinks(html: Column): Column = call_function("graft_html_links", html)

  /** `(href, anchor)` structs of an HTML string in document order. */
  def htmlLinkPairs(html: Column): Column =
    call_function("graft_html_link_pairs", html)

  /** `(table_idx, row_idx, cells)` structs for every top-level
    * `<table>` row of an HTML string, in document order. */
  def htmlTables(html: Column): Column = call_function("graft_html_tables", html)

  /** Native distinct word-n-gram shingle hashes of a string column. */
  def shingleHashes(text: Column, n: Int): Column =
    call_function("graft_shingle_hashes", text,
      org.apache.spark.sql.functions.lit(n))

  /** Native per-row MinHash signature of a shingle-hash array column. */
  def minhashSig(shingleHashes: Column, numHashes: Int): Column =
    call_function("graft_minhash_sig", shingleHashes,
      org.apache.spark.sql.functions.lit(numHashes))

  /** Native per-row 64-bit SimHash of a string column. */
  def simHash64(text: Column): Column =
    call_function("graft_simhash64", text)

  /** Native per-row trigram naive-Bayes language id (14 languages). */
  def langId(text: Column): Column =
    call_function("graft_langid", text)

  /** Codegen'd Bloom-filter probe (Spark's BloomFilterMightContain):
    * `sketch` must be a foldable binary column (e.g. a literal of the
    * serialized `util.sketch.BloomFilter`), `value` a long column. */
  def bloomMightContain(sketch: Column, value: Column): Column =
    call_function("graft_might_contain", sketch, value)

  /** Codegen'd Bloom-filter probe whose sketch rides a BROADCAST
    * variable instead of a plan literal — the large-sketch carrier for
    * `bloomjoin` (a GB-scale literal would bloat the driver plan and
    * every task binary; the broadcast ships once per executor via the
    * torrent mechanism and the tasks carry only the handle). */
  def bloomMightContainBcast(
      bcast: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      value: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      BloomMightContainBcast(bcast,
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(value)))

  /** Native JL sign projection of a float/double array column to k
    * quantized-long dims — see [[JlProject]]. */
  def jlProject(vec: Column, k: Int, scale: Double, seed: Long): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("graft_jl_project", vec, lit(k), lit(scale), lit(seed))
  }

  /** Native SRP-LSH signature of a float/double array column. */
  def srpSig(vec: Column, nBits: Int, dim: Int): Column =
    call_function("graft_srp_sig", vec,
      org.apache.spark.sql.functions.lit(nBits),
      org.apache.spark.sql.functions.lit(dim))

  /** Native PQ code bytes of a vector column against a trained flat
    * codebook (see [[PQ.train]]). */
  def pqEncode(vec: Column, codebook: Array[Double], m: Int, kc: Int): Column =
    call_function("graft_pq_encode", vec,
      org.apache.spark.sql.functions.lit(codebook),
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(kc))

  /** Native per-query ADC lookup table (m·kc doubles). */
  def pqLut(vec: Column, codebook: Array[Double], m: Int, kc: Int): Column =
    call_function("graft_pq_lut", vec,
      org.apache.spark.sql.functions.lit(codebook),
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(kc))

  /** Native ADC score (approximate cosine) of (lut, codes). */
  def pqAdc(lut: Column, codes: Column): Column =
    call_function("graft_pq_adc", lut, codes)

  /** Native BPE tokenization against a trained rank-ordered merge
    * table (see [[Bpe.train]]). */
  def bpeEncode(text: Column, merges: Array[String]): Column =
    call_function("graft_bpe_encode", text,
      org.apache.spark.sql.functions.lit(merges))

  /** Bounded-heap top-k aggregate over (score, id) pairs — map-side
    * partial top-k; see [[TopKByScore]]. */
  def topK(score: Column, id: Column, k: Int): Column =
    call_function("graft_topk", score, id,
      org.apache.spark.sql.functions.lit(k))

  /** Mergeable KLL quantile-sketch aggregate of a double column. */
  def kllAgg(value: Column, k: Int): Column =
    call_function("graft_kll_agg", value,
      org.apache.spark.sql.functions.lit(k))

  /** Union of KLL sketch binaries to a coarser grain. */
  def kllMerge(sketch: Column): Column = call_function("graft_kll_merge", sketch)

  /** Inclusive-rank quantile estimate of a KLL sketch binary. */
  def kllQuantile(sketch: Column, p: Double): Column =
    call_function("graft_kll_quantile", sketch,
      org.apache.spark.sql.functions.lit(p))

  /** Exact stream length a KLL sketch has absorbed. */
  def kllN(sketch: Column): Column = call_function("graft_kll_n", sketch)

  /** Mergeable frequent-items sketch aggregate of (item, weight). */
  def freqAgg(item: Column, weight: Column, maxMapSize: Int): Column =
    call_function("graft_freq_agg", item, weight,
      org.apache.spark.sql.functions.lit(maxMapSize))

  /** Union of frequent-items sketch binaries to a coarser grain. */
  def freqMerge(sketch: Column, maxMapSize: Int): Column =
    call_function("graft_freq_merge", sketch,
      org.apache.spark.sql.functions.lit(maxMapSize))

  /** NO_FALSE_NEGATIVES frequent items of a sketch binary. */
  def freqItems(sketch: Column, k: Int): Column =
    call_function("graft_freq_items", sketch,
      org.apache.spark.sql.functions.lit(k))

  /** ONE xxhash64 over a null-position mask plus the columns — the
    * shared row/key hash of `checksum` and `bloomjoin`. The mask is
    * what disambiguates (null, x) from (x, null): Spark's hash
    * functions fold null arguments as a no-op on the running state, so
    * without it those tuples collide. At most 63 columns (one long of
    * mask bits) — callers enforce with their own named error. */
  def maskedRowHash(cols: Seq[Column]): Column = {
    import org.apache.spark.sql.functions.{lit, when, xxhash64}
    require(cols.nonEmpty && cols.size <= 63,
      s"maskedRowHash: 1..63 columns required, got ${cols.size}")
    val mask = cols.zipWithIndex.map { case (c, i) =>
      when(c.isNull, lit(1L << i)).otherwise(lit(0L)) }.reduce(_ + _)
    xxhash64(mask +: cols: _*)
  }
}
