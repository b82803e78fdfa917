package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One native SQL function: its name, `DESCRIBE FUNCTION` usage, exact
  * argument count and builder. The builder only ever sees `arity`
  * arguments and reads plan-time parameters through [[NativeArgs]]. */
final case class NativeFunction(name: String, arity: Int, usage: String)(
    build: NativeArgs => Expression) {
  def id: FunctionIdentifier = FunctionIdentifier(name)
  def info: ExpressionInfo =
    new ExpressionInfo(classOf[NativeFunction].getName, null, name, usage, "")
  def builder: FunctionBuilder = exprs => {
    if (exprs.length != arity)
      NativeFunctions.fail(s"$name requires $arity argument(s), got ${exprs.length}")
    build(new NativeArgs(name, exprs))
  }
}

/** The arguments of one native call. Plan-time parameters must be
  * literals of the stated type; anything else is a named
  * `AnalysisException`, raised while the query is analyzed. */
final class NativeArgs(fn: String, exprs: Seq[Expression]) {
  def apply(i: Int): Expression = exprs(i)

  def int(i: Int, what: String): Int = lit(i, what, "an int") {
    case (v: Int, IntegerType) => v
  }
  def long(i: Int, what: String): Long = lit(i, what, "a long") {
    case (v: Long, LongType) => v
    case (v: Int, IntegerType) => v.toLong
  }
  // SQL parses exact numeric literals (0.5) as DecimalType — the natural
  // spelling graft_kll_quantile(s, 0.5) must work
  def double(i: Int, what: String): Double = lit(i, what, "a double") {
    case (v: Double, DoubleType) => v
    case (v: Int, IntegerType) => v.toDouble
    case (v: Decimal, _: DecimalType) => v.toDouble
  }
  def string(i: Int, what: String): String = lit(i, what, "a string") {
    case (v: UTF8String, _: StringType) => v.toString
  }
  def bool(i: Int, what: String): Boolean = lit(i, what, "a boolean") {
    case (v: Boolean, BooleanType) => v
  }
  def doubles(i: Int, what: String): Array[Double] = lit(i, what, "an array<double>") {
    case (v: ArrayData, ArrayType(DoubleType, _)) => v.toDoubleArray()
  }
  def strings(i: Int, what: String): Array[String] = lit(i, what, "an array<string>") {
    case (v: ArrayData, ArrayType(st: StringType, _)) => v.toObjectArray(st).map(_.toString)
  }

  private def lit[T](i: Int, what: String, tpe: String)(
      pf: PartialFunction[(Any, DataType), T]): T = exprs(i) match {
    case Literal(v, dt) if pf.isDefinedAt((v, dt)) => pf((v, dt))
    case other => NativeFunctions.fail(s"$fn: $what must be $tpe literal, got $other")
  }
}

/** The one table of graft's native SQL functions. Both registration
  * paths iterate over it: [[graft.GraftExtensions]] injects every entry
  * into sessions built with `spark.sql.extensions=graft.GraftExtensions`,
  * and [[VectorExpressions.ensure]] registers whatever a session still
  * lacks. A name, its arity and its argument checks therefore live here
  * and nowhere else. */
object NativeFunctions {
  private[functions] def fail(message: String): Nothing =
    throw new AnalysisException(errorClass = "INTERNAL_ERROR",
      messageParameters = Map("message" -> message))

  val all: Seq[NativeFunction] = Seq(
    NativeFunction("graft_array_dot", 2,
      "graft_array_dot(a, b) - dot product of two float/double arrays")(
      a => ArrayDot(a(0), a(1))),
    NativeFunction("graft_shingle_hashes", 2,
      "graft_shingle_hashes(text, n) - distinct xxhash64 of word n-gram shingles")(
      a => ShingleHashes(a(0), a.int(1, "n"))),
    NativeFunction("graft_minhash_sig", 2,
      "graft_minhash_sig(shingleHashes, numHashes) - per-row MinHash signature")(
      a => MinHashSig(a(0), a.int(1, "numHashes"))),
    NativeFunction("graft_simhash64", 1,
      "graft_simhash64(text) - per-row 64-bit SimHash")(
      a => SimHash64(a(0))),
    NativeFunction("graft_unicode_norm", 5,
      "graft_unicode_norm(text, form, stripAccents, toLower, cleanWs) - Unicode normalization (form NFC|NFD|NFKC|NFKD; flags are boolean literals)")(
      a => UnicodeNormExpr(a(0), UnicodeNorm.checkForm(a.string(1, "form")),
        a.bool(2, "stripAccents"), a.bool(3, "toLower"), a.bool(4, "cleanWs"))),
    NativeFunction("graft_robots_allowed", 3,
      "graft_robots_allowed(path, robotsTxt, agent) - RFC 9309 allow verdict for a path under a robots.txt body (agent is a string literal)")(
      a => graft.text.RobotsAllowed(a(0), a(1), a.string(2, "agent"))),
    NativeFunction("graft_wikitext_clean", 1,
      "graft_wikitext_clean(text) - wikitext markup stripped to plain text")(
      a => graft.text.WikitextClean(a(0))),
    NativeFunction("graft_deflate_ratio", 2,
      "graft_deflate_ratio(text, level) - deflated size / raw size of the UTF-8 bytes at a deflate level")(
      a => DeflateRatioExpr(a(0), a.int(1, "level"))),
    NativeFunction("graft_html_text", 1,
      "graft_html_text(html) - visible text of an HTML document (single-pass parse, whitespace-collapsed)")(
      a => HtmlToText(a(0))),
    NativeFunction("graft_html_title", 1,
      "graft_html_title(html) - first <title> content; null when absent")(
      a => HtmlTitle(a(0))),
    NativeFunction("graft_html_links", 1,
      "graft_html_links(html) - <a href> values in document order")(
      a => HtmlLinks(a(0))),
    NativeFunction("graft_html_link_pairs", 1,
      "graft_html_link_pairs(html) - (href, anchor text) structs in document order")(
      a => HtmlLinkPairs(a(0))),
    NativeFunction("graft_html_meta", 1,
      "graft_html_meta(html) - (key, content) structs for <meta> name/property/http-equiv and <link rel=canonical>, document order")(
      a => HtmlMetaPairs(a(0))),
    NativeFunction("graft_html_markdown", 1,
      "graft_html_markdown(html) - single-pass HTML to Markdown (CommonMark subset)")(
      a => HtmlMarkdown(a(0))),
    NativeFunction("graft_html_tables", 1,
      "graft_html_tables(html) - (table_idx, row_idx, cells) structs for every row of every top-level <table>")(
      a => HtmlTables(a(0))),
    NativeFunction("graft_latex_strip", 1,
      "graft_latex_strip(text) - visible text of LaTeX source, whitespace-collapsed")(
      a => LatexStrip(a(0))),
    NativeFunction("graft_markdown_strip", 1,
      "graft_markdown_strip(text) - plain text of Markdown, whitespace-collapsed")(
      a => MarkdownStrip(a(0))),
    NativeFunction("graft_decode_text", 1,
      "graft_decode_text(bytes) - (charset, text) struct of a binary decoded by BOM, else strict UTF-8, else windows-1252")(
      a => DecodeTextExpr(a(0))),
    NativeFunction("graft_script_mix", 1,
      "graft_script_mix(text) - (n_letters, top_script, top_ratio) struct of the Unicode script mix")(
      a => ScriptMixExpr(a(0))),
    NativeFunction("graft_srp_sig", 3,
      "graft_srp_sig(vec, nBits, maxDim) - signed-random-projection LSH signature packed into a long")(
      a => SrpSig(a(0), a.int(1, "nBits"), a.int(2, "maxDim"))),
    NativeFunction("graft_jl_project", 4,
      "graft_jl_project(vec, k, scale, seed) - JL sign projection of a quantized vector to k long dims")(
      a => JlProject(a(0), a.int(1, "k"), a.double(2, "scale"), a.long(3, "seed"))),
    NativeFunction("graft_might_contain", 2,
      "graft_might_contain(sketch, value) - Bloom-filter membership probe of a bigint against a serialized sketch")(
      a => BloomFilterMightContain(a(0), a(1))),
    NativeFunction("graft_langid", 1,
      "graft_langid(text) - character-trigram naive-Bayes language id (14 languages)")(
      a => LangId(a(0))),
    NativeFunction("graft_pq_encode", 4,
      "graft_pq_encode(vec, codebook, m, kc) - product-quantization code bytes of a vector")(
      a => PQEncode(a(0), a.doubles(1, "codebook"), a.int(2, "m"), a.int(3, "kc"))),
    NativeFunction("graft_pq_lut", 4,
      "graft_pq_lut(vec, codebook, m, kc) - per-query ADC lookup table")(
      a => PQLut(a(0), a.doubles(1, "codebook"), a.int(2, "m"), a.int(3, "kc"))),
    NativeFunction("graft_bpe_encode", 2,
      "graft_bpe_encode(text, merges) - trained-BPE subword tokens of a string")(
      a => BpeEncode(a(0), a.strings(1, "merges"))),
    NativeFunction("graft_pq_adc", 2,
      "graft_pq_adc(lut, codes) - ADC score (approximate cosine) of a PQ-coded vector")(
      a => PQAdc(a(0), a(1))),
    NativeFunction("graft_topk", 3,
      "graft_topk(score, id, k) - bounded-heap top-k aggregate; returns array<struct<id,score>> ordered by (score desc, id asc)")(
      a => TopKByScore(a(0), a(1), a.int(2, "k"))),
    NativeFunction("graft_kll_agg", 2,
      "graft_kll_agg(value, k) - mergeable KLL quantile-sketch aggregate of a double column; returns the sketch binary")(
      a => KllAgg(a(0), a.int(1, "k"))),
    NativeFunction("graft_kll_merge", 1,
      "graft_kll_merge(sketch) - union KLL sketch binaries to a coarser grain")(
      a => KllMergeAgg(a(0))),
    NativeFunction("graft_kll_quantile", 2,
      "graft_kll_quantile(sketch, p) - inclusive-rank quantile estimate of a KLL sketch binary")(
      a => KllQuantile(a(0), a.double(1, "p"))),
    NativeFunction("graft_kll_n", 1,
      "graft_kll_n(sketch) - exact stream length a KLL sketch has absorbed")(
      a => KllN(a(0))),
    NativeFunction("graft_freq_agg", 3,
      "graft_freq_agg(item, weight, maxMapSize) - mergeable frequent-items sketch aggregate; returns the sketch binary")(
      a => FreqAgg(a(0), a(1), a.int(2, "maxMapSize"))),
    NativeFunction("graft_freq_merge", 2,
      "graft_freq_merge(sketch, maxMapSize) - union frequent-items sketch binaries to a coarser grain")(
      a => FreqMergeAgg(a(0), a.int(1, "maxMapSize"))),
    NativeFunction("graft_freq_items", 2,
      "graft_freq_items(sketch, k) - NO_FALSE_NEGATIVES frequent items of a sketch binary as array<struct<item,est,lb,ub>>")(
      a => FreqItems(a(0), a.int(1, "k")))
  )
}
