package graft.dedup

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import graft.stages.{Iterate, Stages}
import graft.text.TextStages
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication stages for LLM training-data pipelines (builder brief /
  * SURVEY.md §7.2 step 10): exact content dedup, MinHash+LSH banded
  * near-dup, SimHash near-dup, and exact n-gram Jaccard verification.
  *
  * Scale posture (the whole point of these at 100 TB):
  *  - exact dedup is ONE hash-partitioned aggregation (`min_by` keeps the
  *    canonical row) — no join, no window, map-side partial agg;
  *  - MinHash signatures are computed per row with higher-order functions
  *    (zero shuffle), and candidate generation explodes only the B band
  *    keys per doc and self-joins on the band bucket — O(bucket²) pairs,
  *    NEVER the all-pairs O(N²);
  *  - SimHash candidates use the pigeonhole band trick (k bit-blocks →
  *    any pair within Hamming distance < k shares a block) — again a
  *    bucket equi-join.
  */
object DedupStages {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group on the key expression(s), keep the row with the
    * minimal (or maximal) tie-break value (the reference row). Single
    * shuffle. */
  def exactDedup(df: DataFrame, keys: Seq[Column], tiebreak: Column,
                 keepMax: Boolean = false): DataFrame = {
    val all = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(keys: _*)
      .agg((if (keepMax) max_by(all, tiebreak) else min_by(all, tiebreak))
        .as("__keep"))
      .select(col("__keep.*"))
  }

  /** `dedup` transformer. Options: `keyFields` (columns) or `keyExpr`
    * (SQL expression, e.g. `md5(text)`), `tiebreakField` (default first
    * key), `keep` ∈ first (default — smallest tie-break per key) |
    * last (largest: "newest wins", the CDC-snapshot posture when the
    * tie-break is a version/timestamp). */
  def dedup(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val keys: Seq[Column] = spec.str("keyExpr") match {
        case Some(e) => Seq(expr(e))
        case None =>
          val kf = spec.strList("keyFields")
          require(kf.nonEmpty, "dedup: keyFields or keyExpr required")
          kf.map(col)
      }
      val tb = col(spec.str("tiebreakField")
        .orElse(spec.strList("keyFields").headOption)
        .getOrElse(sys.error("dedup: tiebreakField required with keyExpr")))
      val keepMax = spec.strOr("keep", "first") match {
        case "first" => false
        case "last" => true
        case other => sys.error(s"dedup: keep must be first|last, got '$other'")
      }
      exactDedup(df, keys, tb, keepMax)
    }

  // -------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles of a text column (the MinHash/Jaccard
    * universe). Pure per-row HOF projection. */
  def wordShingles(c: Column, n: Int): Column = {
    val toks = TextStages.tokens(c)
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Exact Jaccard similarity of two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b))).cast("double")
  }

  // --------------------------------------------------------------- minhash

  /** MinHash signature (array of `numHashes` longs) of a shingle array —
    * ONE aggregate pass over the shingle hashes per row, no shuffle.
    * The permutation family is hash-of-hash: sig[i] = min over shingles
    * of xxhash64(i, h) — overflow-free under ANSI mode and as uniform as
    * the classic (a·h+b) mod p family. (Reference semantics only; the
    * stage uses the codegen'd [[minhashSignatures]], same values.) */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    val seedArr = array((0 until numHashes).map(lit(_)): _*)
    val hashes = transform(shingles, s => xxhash64(s))
    aggregate(hashes,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(acc, seedArr,
        (m, s) => least(m, xxhash64(s, h))))
  }

  /** Batch MinHash signatures via explode + `numHashes` codegen'd MIN
    * aggregates — identical values to [[minhashSignature]] (asserted in
    * specs) but the hot hashing loop stays inside whole-stage codegen
    * instead of interpreted lambda evaluation, and map-side combine
    * reduces the shuffle to ONE combined row per doc.
    * Input: (__id, __sh: array<string>); output: (__id, __sig). */
  def minhashSignatures(docs: DataFrame, numHashes: Int): DataFrame = {
    val exploded = docs.select(col("__id"), explode(col("__sh")).as("__s"))
      .select(col("__id"), xxhash64(col("__s")).as("__h"))
    val minCols = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("__h"))).as(s"__m$i"))
    exploded.groupBy("__id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("__id"),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("__sig"))
  }

  /** `minhash` transformer: banded-LSH near-duplicate PAIRS.
    * Options: `idField` (default doc_id), `field` (default text),
    * `shingleSize` (words, default 3), `numHashes` (default 64), `bands`
    * (default 16), `threshold` (exact-Jaccard filter on candidates,
    * default 0.5).
    *
    * Output: (`a`, `b`, `jaccard`) with a < b — candidates from band
    * buckets only, then exact-verified. */
  def minhash(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val field = spec.strOr("field", "text")
      val n = spec.int("shingleSize", 3)
      val numHashes = spec.int("numHashes", 64)
      val bands = spec.int("bands", 16)
      val rows = numHashes / bands
      require(bands * rows == numHashes, "minhash: bands must divide numHashes")
      val threshold = spec.str("threshold").map(_.toDouble).getOrElse(0.5)

      // native one-pass shingle hashing (graft.functions.ShingleHashes) —
      // byte-identical hash values to the HOF wordShingles+xxhash64 path
      // (asserted in specs), ~10× cheaper per row
      graft.functions.VectorExpressions.ensure(ctx.spark)
      // null-text docs carry null signatures whose band keys degenerate
      // to the band-index hash — every null doc would collide into one
      // bucket per band (O(K²) candidates). Null text can't be a
      // near-dup; drop before banding (round-2 advisory).
      val docs = df.select(col(id).as("__id"),
          graft.functions.VectorExpressions.shingleHashes(col(field), n).as("__shh"))
        .where(col("__shh").isNotNull)
      // native per-row signature (graft.functions.MinHashSig): a pure
      // map-side projection — no explode, NO shuffle before banding
      // (values identical to the explode+MIN-agg form, asserted in specs)
      val sigs = docs.select(col("__id"),
        graft.functions.VectorExpressions.minhashSig(col("__shh"), numHashes)
          .as("__sig"))

      // band keys: hash of each signature slice → explode B rows per doc
      val bandKeys = array((0 until bands).map(bi =>
        xxhash64(lit(bi), slice(col("__sig"), bi * rows + 1, rows))): _*)
      val banded0 = sigs.select(col("__id"),
        posexplode(bandKeys).as(Seq("__band", "__bkey")))
      // skew guard: a degenerate bucket goes O(bucket²) — cap + counter;
      // spread: the bucket join expands quadratically, so an
      // under-parallel input (or an AQE byte-coalesced exchange) must
      // not serialize it on 1-2 tasks (SimilarityStages.spread)
      val banded = graft.similarity.SimilarityStages.spread(
        Stages.guardBuckets(banded0, Seq("__band", "__bkey"),
          spec, ctx, "minhash"), Seq(col("__band"), col("__bkey")))

      // candidate pairs: equi-join on (band, bucket) — O(bucket²)
      val l = banded.select(col("__band"), col("__bkey"), col("__id").as("a"))
      val r = banded.select(col("__band"), col("__bkey"), col("__id").as("b"))
      val cand = l.join(r, Seq("__band", "__bkey")).where(col("a") < col("b"))
        .select("a", "b").distinct()

      // exact verification on the candidate set only: shingle-hash arrays
      // are (re)computed for CANDIDATE docs alone (the semi join pushes
      // below the projection) and intersected as longs — same Jaccard
      // modulo negligible 64-bit collisions
      val candIds = cand.select(col("a").as("__cid"))
        .union(cand.select(col("b").as("__cid"))).distinct()
      val candSh = docs.join(candIds, col("__id") === col("__cid"), "left_semi")
        .select(col("__id"), col("__shh"))
      cand
        .join(candSh.select(col("__id").as("a"), col("__shh").as("__sha")), Seq("a"))
        .join(candSh.select(col("__id").as("b"), col("__shh").as("__shb")), Seq("b"))
        .withColumn("jaccard", jaccard(col("__sha"), col("__shb")))
        .where(col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash of the token multiset: per bit, sum +1/-1 weighted by
    * token-hash bits; sign → signature bit. Pure per-row HOFs. */
  def simhash64(c: Column): Column = {
    val hashes = transform(TextStages.tokens(c), t => xxhash64(t))
    val counts = aggregate(hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        // per-bit ±1 contribution of this token hash (bit masks are
        // plan-time constants, unrolled)
        array((0 until 64).map(i =>
          when(h.bitwiseAND(lit(1L << i)) =!= 0L, 1L).otherwise(-1L)): _*),
        (a, v) => a + v))
    aggregate(counts, lit(0L), (acc, cnt) =>
      shiftleft(acc, 1) + when(cnt > 0, 1L).otherwise(0L))
  }

  /** Batch SimHash signatures via explode + 64 codegen'd SUM aggregates
    * — identical values to [[simhash64]] (asserted in specs); map-side
    * combine → one combined row per doc through the shuffle.
    * Input: (__id, __text); output: (__id, __sig). */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("__id"),
        explode(TextStages.tokens(col("__text"))).as("__t"))
      .select(col("__id"), xxhash64(col("__t")).as("__h"))
    val bitSums = (0 until 64).map(i =>
      sum(when(col("__h").bitwiseAND(lit(1L << i)) =!= 0L, 1L)
        .otherwise(-1L)).as(s"__b$i"))
    val packed = (0 until 64).foldLeft(lit(0L))((acc, i) =>
      shiftleft(acc, 1) + when(col(s"__b$i") > 0, 1L).otherwise(0L))
    toks.groupBy("__id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("__id"), packed.as("__sig"))
  }

  /** `simhash` transformer: near-dup pairs within Hamming distance
    * `maxDistance` (default 3) using the pigeonhole band join — the
    * signature is split into `maxDistance + 1` blocks; any qualifying
    * pair must agree on at least one block. Output (a, b, hamming). */
  def simhash(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val field = spec.strOr("field", "text")
      val maxDist = spec.int("maxDistance", 3)

      // native per-row signature (graft.functions.SimHash64) — a pure
      // projection, no explode + 64-SUM-agg shuffle (values identical to
      // simhashSignatures, asserted in specs)
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val sigs = df.select(col(id).as("__id"),
        graft.functions.VectorExpressions.simHash64(col(field)).as("__sig"))
      bandedHammingJoin(sigs, maxDist, spec, ctx, "simhash")
    }

  /** Banded pigeonhole Hamming join over a (__id, __sig) frame: split
    * the 64-bit signature into `maxDist + 1` blocks — a pair within
    * `maxDist` differs in ≤ maxDist blocks, so ≥ 1 block is intact and
    * every true pair surfaces from the per-block equi-join. Shared by
    * `simhash` (text) and `hammingpairs` (any precomputed fingerprint,
    * e.g. mm_phash). Ids + signatures only; bucket-density guard +
    * spread shield the quadratic bucket join. */
  private def bandedHammingJoin(sigs: DataFrame, maxDist: Int,
                                spec: ComponentSpec, ctx: EtlContext,
                                guardName: String): DataFrame = {
    val blocks = maxDist + 1
    val bits = 64 / blocks
    val blockKeys = array((0 until blocks).map(bi =>
      shiftright(col("__sig"), bi * bits).bitwiseAND(lit((1L << bits) - 1))): _*)
    val banded0 = sigs.select(col("__id"), col("__sig"),
      posexplode(blockKeys).as(Seq("__blk", "__bkey")))
    // skew guard: a degenerate block bucket goes O(bucket²) — cap +
    // counter; spread for the quadratic join (SimilarityStages.spread)
    val banded = graft.similarity.SimilarityStages.spread(
      Stages.guardBuckets(banded0, Seq("__blk", "__bkey"),
        spec, ctx, guardName), Seq(col("__blk"), col("__bkey")))
    val l = banded.select(col("__blk"), col("__bkey"),
      col("__id").as("a"), col("__sig").as("__siga"))
    val r = banded.select(col("__blk"), col("__bkey"),
      col("__id").as("b"), col("__sig").as("__sigb"))
    l.join(r, Seq("__blk", "__bkey")).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("__siga").bitwiseXOR(col("__sigb"))).as("hamming"))
      // filter BEFORE the dedup shuffle: most candidates fail the
      // distance test and must not pay the distinct's exchange
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /** `hammingpairs`: near-duplicate id pairs among PRECOMPUTED 64-bit
    * fingerprints (mm_phash perceptual hashes, simhashes from another
    * system, …) by Hamming distance — [[bandedHammingJoin]] decoupled
    * from signature computation, so any upstream stage that produces a
    * LONG fingerprint gets the scale-safe pigeonhole join for free.
    * Options: `idField` (default doc_id), `hashField` (required),
    * `maxDistance` (default 3). Output: (a, b, hamming), a < b. */
  def hammingPairs(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val hf = spec.str("hashField")
        .getOrElse(sys.error("hammingpairs: `hashField` required"))
      require(df.columns.contains(hf),
        s"hammingpairs: input lacks hash column '$hf'")
      // a non-integral hash (hex string, binary) would cast to all-null
      // signatures and return zero pairs SILENTLY — reject it loud.
      // Narrow integral types sign-EXTEND under cast('long'), which
      // would turn a 1-bit difference at the sign bit into Hamming
      // 33/49/57 — zero-extend by masking to the column's natural width.
      import org.apache.spark.sql.types._
      val widthMask: Option[Long] = df.schema(hf).dataType match {
        case ByteType    => Some(0xFFL)
        case ShortType   => Some(0xFFFFL)
        case IntegerType => Some(0xFFFFFFFFL)
        case LongType    => None
        case other => sys.error(s"hammingpairs: hash column '$hf' has " +
          s"non-integral type $other — provide the fingerprint as a " +
          "64-bit integer (e.g. conv(hex, 16, 10) cast to BIGINT first)")
      }
      val maxDist = spec.int("maxDistance", 3)
      val sig = widthMask.foldLeft(col(hf).cast("long"))((c, m) => c.bitwiseAND(lit(m)))
      bandedHammingJoin(
        df.select(col(id).as("__id"), sig.as("__sig")),
        maxDist, spec, ctx, "hammingpairs")
    }

  // -------------------------------------------------- exact n-gram jaccard

  /** `ngramjaccard` transformer: EXACT all-pairs word-n-gram similarity
    * over the (pre-filtered) input — the verification/oracle path.
    * All-pairs is O(N²) by definition: the stage requires the caller to
    * bound the input (`maxRows`, default 10k) and is meant for candidate
    * subsets; use `minhash` for the scale path. `metric` ∈ jaccard
    * (default — |∩|/|∪|) | containment (MAX containment |∩|/min(|A|,|B|)
    * — catches the quote/subset relation Jaccard dilutes: a short doc
    * fully embedded in a long one scores 1.0 here but near 0 on
    * Jaccard; Broder's resemblance-vs-containment distinction). Both
    * are two exact set sizes and ONE IEEE division. Output (a, b,
    * `<metric>` >= threshold) with a < b. */
  def ngramJaccard(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val field = spec.strOr("field", "text")
      val n = spec.int("shingleSize", 3)
      val threshold = spec.str("threshold").map(_.toDouble).getOrElse(0.5)
      // enforce the documented small-N contract BEFORE the O(N²) join —
      // a clear error beats an hours-long cross join / broadcast OOM
      val maxRows = spec.int("maxRows", 10000)
      val got = df.limit(maxRows + 1).count()
      require(got <= maxRows,
        s"ngramjaccard: input exceeds maxRows=$maxRows (all-pairs exact " +
        s"verification is O(N²) — pre-filter the input or use `minhash`)")
      val docs = df.select(col(id).as("__id"), wordShingles(col(field), n).as("__sh"))
      val l = docs.select(col("__id").as("a"), col("__sh").as("__sha"))
      val r = docs.select(col("__id").as("b"), col("__sh").as("__shb"))
      val metric = spec.strOr("metric", "jaccard")
      val score = metric match {
        case "jaccard" => jaccard(col("__sha"), col("__shb"))
        case "containment" =>
          size(array_intersect(col("__sha"), col("__shb"))).cast("double") /
            least(size(col("__sha")), size(col("__shb"))).cast("double")
        case other => sys.error(
          s"ngramjaccard: metric must be jaccard|containment, got '$other'")
      }
      l.join(r, col("a") < col("b"))
        .withColumn(metric, score)
        .where(col(metric) >= threshold)
        .select("a", "b", metric)
    }

  // ----------------------------------------------------- decontamination

  /** `decontaminate`: drop (or mark) documents sharing any word-n-gram
    * with a benchmark/eval set — the standard pretraining
    * decontamination pass (eval-overlap removal). Options: `idField`,
    * `field`, `shingleSize` (default 13, the common eval-decontam
    * n-gram), `against` (SQL SELECT or registered table name providing
    * the eval documents; its text column = `againstField`, default
    * `field`), `mode` ∈ drop (default) | mark (adds boolean
    * `contaminated`).
    *
    * Scale shape: the EVAL side is the small side by construction —
    * its distinct shingle hashes broadcast; the corpus explodes its
    * shingle hashes once, semi-joins the broadcast set, and the
    * distinct contaminated ids anti-join back. The corpus is never
    * all-pairs compared with anything. */
  def decontaminate(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val field = spec.strOr("field", "text")
      val n = spec.int("shingleSize", 13)
      val eval0 = ctx.tableOrSql(spec.str("against")
        .getOrElse(sys.error("decontaminate: against (table or SELECT) required")))
      val evalField = spec.strOr("againstField", field)

      graft.functions.VectorExpressions.ensure(ctx.spark)
      import org.apache.spark.sql.functions.broadcast
      val evalShingleSet = eval0
        .select(explode(graft.functions.VectorExpressions
          .shingleHashes(col(evalField), n)).as("__es"))
        .distinct()
      val docShingles0 = df.select(col(id).as("__did"),
        explode(graft.functions.VectorExpressions
          .shingleHashes(col(field), n)).as("__ds"))
      // `prefilter: "bloom"` — the scale posture for LARGE eval sets: a
      // Bloom filter over the eval shingle hashes (built in one job on
      // the small-by-construction side, `expectedItems`/`fpp`
      // configurable) is broadcast as a compact bitset instead of the
      // raw distinct-hash list, and the corpus shingle stream is
      // prefiltered map-side BEFORE anything shuffles. False positives
      // are then removed by the exact join below, so the RESULT is
      // identical (driver-verified against the same oracle) — the bloom
      // pass only shrinks what reaches the exchange. With the bloom in
      // front the exact join no longer needs the broadcast assumption,
      // so eval sets too big for a literal broadcast still work: the
      // surviving sliver shuffle-joins.
      val (docShingles, evalShingles) = spec.strOr("prefilter", "none") match {
        case "bloom" =>
          // size the sketch from the ACTUAL eval-shingle cardinality (one
          // bounded job on the small-by-construction side) unless pinned —
          // an undersized bloom stays correct but stops filtering. The
          // derived count and the bloom build are two jobs over the same
          // explode+distinct: persist across them so the eval corpus
          // scans once, then release before the main plan runs
          val derive = spec.long("expectedItems").isEmpty
          if (derive) evalShingleSet.persist()
          val bloom = try {
            val expected = spec.long("expectedItems")
              .getOrElse(math.max(1L, evalShingleSet.count()))
            val fpp = spec.str("fpp").map(_.toDouble).getOrElse(0.01)
            evalShingleSet.stat.bloomFilter("__es", expected, fpp)
          } finally { if (derive) { evalShingleSet.unpersist(); () } }
          // probe through Spark's native BloomFilterMightContain (the
          // expression behind runtime row-level filtering): the sketch
          // rides the plan as a binary literal and the probe stays inside
          // whole-stage codegen — no per-row ScalaUDF serialization
          val bos = new java.io.ByteArrayOutputStream()
          bloom.writeTo(bos)
          (docShingles0.where(graft.functions.VectorExpressions
            .bloomMightContain(lit(bos.toByteArray), col("__ds"))), evalShingleSet)
        case "none" => (docShingles0, broadcast(evalShingleSet))
        case other => sys.error(s"decontaminate: unknown prefilter $other")
      }
      val contaminated = docShingles
        .join(evalShingles, col("__ds") === col("__es"), "left_semi")
        .select(col("__did")).distinct()
      spec.strOr("mode", "drop") match {
        case "drop" => df.join(contaminated, col(id) === col("__did"), "left_anti")
        case "mark" =>
          df.join(contaminated.withColumn("__c", lit(true)),
              col(id) === col("__did"), "left")
            .withColumn("contaminated", coalesce(col("__c"), lit(false)))
            .drop("__did", "__c")
        case "score" =>
          // WIMBD-style overlap FRACTION instead of a binary verdict:
          // `contamination` = distinct eval-matching shingles / distinct
          // doc shingles (0.0 for shingle-less docs) — lets the caller
          // threshold ("drop > 20% overlap") rather than nuke any doc
          // sharing one n-gram. Totals come from the UNFILTERED shingle
          // stream (a bloom prefilter only thins the matching side; its
          // false positives still die in the exact join), so the ratio
          // is exact either way. One IEEE division of two exact integer
          // counts — hash-stable across engines.
          val tot = docShingles0.groupBy("__did")
            .agg(countDistinct(col("__ds")).as("__tot"))
          val hit = docShingles
            .join(evalShingles, col("__ds") === col("__es"), "left_semi")
            .groupBy("__did").agg(countDistinct(col("__ds")).as("__hit"))
          df.join(tot, col(id) === col("__did"), "left").drop("__did")
            .join(hit.withColumnRenamed("__did", "__did2"),
              col(id) === col("__did2"), "left").drop("__did2")
            .withColumn("contamination",
              when(col("__tot").isNull, lit(0.0)).otherwise(
                coalesce(col("__hit"), lit(0L)).cast("double") /
                  col("__tot").cast("double")))
            .drop("__tot", "__hit")
        case other => sys.error(s"decontaminate: unknown mode $other")
      }
    }

  // ------------------------------------------------- cross-corpus dedup

  /** `crossdedup`: drop (or mark) documents whose content fingerprint
    * already appears in ANOTHER corpus — the cross-snapshot /
    * cross-source dedup pass (e.g. dedupe this crawl against the last
    * one). Options: `idField`, `field` (default text), `against` (table
    * name or SELECT; required), `againstField` (default `field`),
    * `keyExpr` (optional SQL fingerprint expression evaluated on the
    * text column of EACH side — default: md5 of the
    * lowercased/whitespace-collapsed full text), `mode` ∈ drop (default)
    * | mark (adds boolean `cross_dup`).
    *
    * Scale shape: both sides reduce to (fingerprint) keys; the corpus
    * anti/left-joins the OTHER corpus' distinct fingerprints on the
    * hash — a shuffle join on a key that is small per row, with no
    * broadcast assumption (the reference corpus may be another 100 TB
    * crawl). AQE picks broadcast when the against side is in fact
    * small. */
  def crossDedup(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val field = spec.strOr("field", "text")
      val other = ctx.tableOrSql(spec.str("against")
        .getOrElse(sys.error("crossdedup: against (table or SELECT) required")))
      val otherField = spec.strOr("againstField", field)
      // the fingerprint expression sees each side's text column under the
      // side-neutral name `__text`
      def fp: Column = spec.str("keyExpr") match {
        case Some(e) => expr(e)
        case None => md5(regexp_replace(lower(col("__text")), "\\s+", " ")
          .cast("binary"))
      }
      val otherFps = other.select(col(otherField).as("__text"))
        .select(fp.as("__ofp")).distinct()
      val withFp = df.withColumn("__text", col(field))
        .withColumn("__fp", fp).drop("__text")
      spec.strOr("mode", "drop") match {
        case "drop" =>
          withFp.join(otherFps, col("__fp") === col("__ofp"), "left_anti")
            .drop("__fp")
        case "mark" =>
          withFp.join(otherFps.withColumn("__m", lit(true)),
              col("__fp") === col("__ofp"), "left")
            .withColumn("cross_dup", coalesce(col("__m"), lit(false)))
            .drop("__fp", "__ofp", "__m")
        case m => sys.error(s"crossdedup: unknown mode $m")
      }
    }

  // ------------------------------------------- near-dup dedup (keep-one)

  /** Min-label connected components over an undirected pair list
    * `(a, b)`: each round does one-hop min-neighbour propagation followed
    * by POINTER JUMPING (`comp := comp(comp)`), so chain length halves
    * per round and convergence is O(log diameter) — a diameter-10⁶ path
    * graph still finishes in ~20 rounds (the plain one-hop variant needs
    * diameter rounds and silently truncates, the round-2 advisory).
    * The iteration state is only the PAIR GRAPH — orders of magnitude
    * smaller than the corpus. Each round is checkpointed (see ccLoop), so
    * neither the logical plan nor the cached blocks accumulate; the
    * returned `(id, comp)` frame is lineage-free. Throws if `maxIter`
    * rounds were insufficient — wrong dedup keeps are worse than a loud
    * stop.
    *
    * r19 optimization-round shape (guide §1.2/§2.3/§2.4):
    *  - the PAIR list is materialized ONCE (the union's two branches
    *    each evaluated the — often expensive — pair generator;
    *    ReuseExchange shares only exchange-delimited subtrees, so the
    *    post-exchange join and filter work ran TWICE), and it is
    *    materialized through `ckpt` (row-block localCheckpoint), NOT
    *    `.persist()`: the columnar in-memory cache is pathological for
    *    string id frames — measured on the 1.1M-pair geo_cluster list
    *    (`OPTIMIZATION_r19.md` § "connectedComponents second pass"),
    *    cache BUILD 33.8 task-s and every decoding read ~17 task-s, vs
    *    1.1 / 0.5 task-s for the same frame as localCheckpoint row
    *    blocks (~30x: the cache pays per-batch compression-scheme
    *    trials on build and per-read string decompression; row blocks
    *    pay neither).
    *  - above `surrogateThreshold` pairs, node ids are translated ONCE
    *    to dense LONG surrogates and the loop runs on longs: `min` over
    *    a fixed-width type plans as a map-side-partial HashAggregate,
    *    while `min(string)` plans as a SortAggregate that fully sorts
    *    the EDGE-sized join output twice per round (measured 2.3×
    *    per-round cost on a 1.1M-pair graph, same §). Component
    *    SETS are independent of the label order; the declared
    *    min-STRING-id labels are restored by one NODE-sized relabel
    *    pass at the end. Surrogates come from the keyedByTid recipe
    *    (hash-partition + in-stage sort + monotonically_increasing_id),
    *    which is retry-stable by construction. Below the threshold the
    *    translation overhead (two id joins + a node-sized dictionary)
    *    exceeds the per-round win and the loop runs directly on the
    *    string ids, as before. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      ckpt: DataFrame => DataFrame = Iterate.localCheckpoint,
      surrogateThreshold: Long = 100000L,
      localFinishEdges: Long = 200000L,
      stage: String = "connectedcomponents"): DataFrame = {
    val budget = Iterate.Budget.loud(stage, maxIter, "labels still changing " +
      "— raise maxIter (pointer jumping needs O(log diameter) rounds)")
    val (p, nPairs) = Iterate.counted(ckpt, pairs.select(col("a"), col("b")))
    // only STRING ids pay the SortAggregate penalty — numeric pair ids
    // (minhash/simhash doc ids) already hash-aggregate and would get
    // pure overhead from a surrogate translation
    val stringIds =
      pairs.schema("a").dataType == org.apache.spark.sql.types.StringType
    if (!stringIds || surrogateThreshold <= 0 || nPairs <= surrogateThreshold) {
      val sym = p.select(col("a").as("src"), col("b").as("dst"))
        .union(p.select(col("b").as("src"), col("a").as("dst")))
      ccLoop(sym, budget, ckpt, localFinishEdges)
    } else {
      // r19 (optimization round, guide §2.3): surrogates are xxhash64
      // of the id — an in-row projection — instead of a dense dictionary
      // attached through TWO edge-sized string joins (measured 4.6
      // task-s of the geo_cluster CC on the translate join alone). The
      // node catalog (needed anyway: the output is one row per distinct
      // id) doubles as an EXACT injectivity guard: count(id) vs
      // count(distinct xxhash64(id)) — on the astronomically rare
      // collision (~n²/2⁶⁵) the sort-based dense-dictionary path runs
      // instead, so correctness never rides on the hash.
      val ids = ckpt(p.select(col("a").as("id"))
        .union(p.select(col("b").as("id"))).distinct())
      val Seq(nIds, nHashes) = ids
        .agg(count(col("id")), count_distinct(xxhash64(col("id"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toSeq
      val comps =
        if (nIds == nHashes) {
          // the translated edge list is checkpointed: star contraction
          // reads it twice (min-aggregate + contracted-edge join)
          val sym = ckpt(p.select(
              xxhash64(col("a")).as("src"), xxhash64(col("b")).as("dst"))
            .union(p.select(
              xxhash64(col("b")).as("src"), xxhash64(col("a")).as("dst"))))
          ccLoop(sym, budget, ckpt, localFinishEdges)
            .join(ids.withColumn("__h", xxhash64(col("id")))
              .select(col("id").as("__sid"), col("__h")),
              col("id") === col("__h"))
        } else {
          val dict = ckpt(ids
            .repartition(col("id")).sortWithinPartitions("id")
            .withColumn("__nid", monotonically_increasing_id()))
          val symN = p
            .join(dict.select(col("id").as("a"), col("__nid").as("__na")), Seq("a"))
            .join(dict.select(col("id").as("b"), col("__nid").as("__nb")), Seq("b"))
          val sym = ckpt(symN.select(col("__na").as("src"), col("__nb").as("dst"))
            .union(symN.select(col("__nb").as("src"), col("__na").as("dst"))))
          ccLoop(sym, budget, ckpt, localFinishEdges)
            .join(dict.select(col("__nid").as("__did"), col("id").as("__sid")),
              col("id") === col("__did"))
        }
      // restore the string contract: re-attach ids, then ONE
      // node-sized min(string) per component (the only string
      // aggregate left — it runs once, not per round)
      val lbl = comps.groupBy(col("comp")).agg(min(col("__sid")).as("__lbl"))
      ckpt(comps.join(lbl, Seq("comp"))
        .select(col("__sid").as("id"), col("__lbl").as("comp")))
    }
  }

  /** The pointer-jumping loop of [[connectedComponents]] — label type
    * agnostic (string ids or long surrogates; `<`/`least`/`min` follow
    * the column type). localCheckpoint (eager) each round truncates the
    * LOGICAL lineage to a LogicalRDD — the self-join below would
    * otherwise double the plan tree twice per round (4^rounds nodes:
    * planner/explain OOM long before the data is big). Checkpoint
    * blocks are freed by the ContextCleaner once unreferenced, so
    * rounds don't accumulate. */
  private def ccLoop(sym: DataFrame, budget: Iterate.Budget,
      ckpt: DataFrame => DataFrame, localFinishEdges: Long): DataFrame = {
    // r19 optimization round: ONE star-contraction pass before the
    // pointer-jumping loop (the min-neighbour star contraction of
    // Kiveris et al., "Connected Components in MapReduce and Beyond",
    // SoCC 2014). m(v) = min(N(v) ∪ {v}) — a single hash aggregate over
    // the symmetrized edge list — and the loop runs on the CONTRACTED
    // edge set {(m(a), m(b)) : (a,b) ∈ sym, m(a) ≠ m(b)}. Every vertex
    // is `least`-ed with itself, so min(m(C)) = min(C): contracted
    // component labels ARE the original min-labels and
    // comp(v) = comp'(m(v)) (isolated contracted stars keep m(v)).
    // Dense near-dup / cell-clique graphs — the dominant CC input in
    // this engine — contract to almost nothing: geo_cluster's
    // 1.1M-pair clique grid leaves ZERO contracted edges, so the loop
    // sees an empty frame and converges in one cheap round instead of
    // ~5 edge-sized join+aggregate rounds (measured ~7 task-seconds
    // per round, OPTIMIZATION_r19.md § "connectedComponents second
    // pass"). Sparse graphs lose nothing: the pass strictly merges
    // stars and the contracted set never exceeds the deduped input, and
    // the pointer-jumping round count only drops (the deep-chain spec
    // still converges within the same maxIter).
    val m = ckpt(sym.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"), least(col("src"), col("__mn")).as("__t")))
    // the gate count rides the contraction checkpoint — no separate
    // count job
    val (e2, nE2) = Iterate.counted(ckpt, sym
      .join(m.select(col("id").as("src"), col("__t").as("__ts")), Seq("src"))
      .join(m.select(col("id").as("dst"), col("__t").as("__td")), Seq("dst"))
      .select(col("__ts").as("src"), col("__td").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct())
    // fully-contracted shortcut (r19): clique/cell graphs — the
    // dominant CC input here — leave ZERO contracted edges, and every
    // remaining job below (labels2 ckpt, a pointer-jumping round, its
    // probe, the compose join) would run over empty frames. comp(v) is
    // exactly m(v) then; one bounded count over the checkpointed e2
    // (row blocks — the count doubles as the local-finish gate)
    // replaces ~6 empty-frame driver round-trips.
    if (nE2 == 0L)
      m.select(col("id"), col("__t").as("comp"))
    else {
      // local-finish gate (r19 optimization round, guide §1.2 step 1):
      // after star contraction the remainder is typically TINY (the
      // measured graph_cc remainder at sf0.1 is 71 edges), yet each
      // distributed pointer-jumping round costs ~8 driver-barrier
      // stages whose latency never shrinks with cluster size. When the
      // remainder fits a bounded driver union–find (cap × 2 ids — a few
      // MB; same runtime-adaptive small-side move AQE makes for
      // broadcast joins), finish it centrally and broadcast the label
      // map back; a larger remainder takes the distributed rounds
      // unchanged, so scale posture is untouched. Labels are identical:
      // union-by-min-root makes every root the component MIN under the
      // SAME ordering the distributed `least`/`min` aggregates use
      // (unsigned UTF-8 bytes for strings, numeric otherwise).
      val srcType = e2.schema("src").dataType
      import org.apache.spark.sql.types._
      val localLt: Option[(Any, Any) => Boolean] = srcType match {
        case StringType => Some((a, b) => java.util.Arrays.compareUnsigned(
          a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0)
        case LongType | IntegerType | ShortType | ByteType =>
          Some((a, b) => a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue)
        case _ => None // exotic label type: distributed rounds only
      }
      val comps2 =
        if (nE2 <= localFinishEdges && localLt.isDefined) {
          val labels = localComponents(e2.collect(), localLt.get)
          val schema = StructType(Seq(
            StructField("id", srcType), StructField("comp", srcType)))
          val rows = new java.util.ArrayList[org.apache.spark.sql.Row](labels.length)
          labels.foreach { case (i, c) =>
            rows.add(org.apache.spark.sql.Row(i, c)) }
          e2.sparkSession.createDataFrame(rows, schema)
        } else
          ccLoopRounds(e2,
            e2.select(col("src").as("id")).distinct()
              .select(col("id"), col("id").as("comp")),
            budget, ckpt)
      // compose: comp(v) = comp'(m(v)); a contracted star with no
      // surviving edge keeps its own min label m(v)
      ckpt(m.join(comps2.select(col("id").as("__t"), col("comp")), Seq("__t"), "left")
        .select(col("id"), coalesce(col("comp"), col("__t")).as("comp")))
    }
  }

  /** Driver union–find over a SMALL contracted edge remainder (the
    * [[ccLoop]] local-finish gate): union-by-min-root with path
    * compression — every root IS its component's minimum label, so the
    * emitted (id, comp) pairs equal the distributed pointer-jumping
    * fixpoint exactly. Bounded by the caller's edge cap; deterministic
    * regardless of edge order. */
  private def localComponents(edges: Array[org.apache.spark.sql.Row],
      lt: (Any, Any) => Boolean): Array[(Any, Any)] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      if (!parent.containsKey(x0)) { parent.put(x0, x0); return x0 }
      var root = x0
      while (!parent.get(root).equals(root)) root = parent.get(root)
      var x = x0
      while (!x.equals(root)) {
        val nxt = parent.get(x); parent.put(x, root); x = nxt
      }
      root
    }
    edges.foreach { r =>
      val ra = find(r.get(0))
      val rb = find(r.get(1))
      if (!ra.equals(rb)) {
        if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new Array[(Any, Any)](parent.size())
    var i = 0
    val it = new java.util.ArrayList[Any](parent.keySet()).iterator()
    while (it.hasNext) { val k = it.next(); out(i) = (k, find(k)); i += 1 }
    out
  }

  /** The raw pointer-jumping rounds of [[ccLoop]], over an already
    * checkpointed edge list pinned on `dst`. `hop` is checkpointed
    * eagerly inside each round: `next` reads it twice (base + the
    * comp→comp mapping), and a lazy persist read twice races under
    * AQE-off (see [[Iterate]]). */
  private def ccLoopRounds(sym: DataFrame, labels0: DataFrame,
      budget: Iterate.Budget, ckpt: DataFrame => DataFrame): DataFrame = {
    val scope = Iterate.pinned(ckpt, sym, "dst")
    scope {
      Iterate.fixpoint(ckpt(labels0), budget, ckpt, col("comp") < col("__old")) { (state, _) =>
        val labels = state.select("id", "comp")
        // 1-hop: comp := min(comp, min over neighbours of their comp)
        val nbrMin = scope.frame
          .join(labels.select(col("id").as("__nid"), col("comp").as("__ncomp")),
            col("dst") === col("__nid"))
          .groupBy(col("src").as("id")).agg(min("__ncomp").as("__nbr"))
        val hop = ckpt(labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("comp").as("__old"),
            least(col("comp"), coalesce(col("__nbr"), col("comp"))).as("__hop")))
        // pointer jump: comp := comp(comp) — labels are node ids, so the
        // hop frame doubles as the id→comp mapping
        val mapping = hop.select(col("id").as("__mid"), col("__hop").as("__mcomp"))
        hop.join(mapping, col("__hop") === col("__mid"), "left")
          .select(col("id"), col("__old"),
            least(col("__hop"), coalesce(col("__mcomp"), col("__hop"))).as("comp"))
      }(_.count == 0L).select("id", "comp")
    }
  }

  /** `neardupdedup` transformer: DROP near-duplicate documents, keeping
    * ONE document per connected component of the near-dup pair graph
    * (transitive: A≈B and B≈C drops both B and C even when A,C aren't
    * directly similar). Documents in no pair pass through.
    *
    * Canonical selection: minimum id by default; with `scoreField` set
    * (numeric), the HIGHEST-scoring member survives instead (smallest
    * id on ties, NULL scores lose to any real score) — the
    * RefinedWeb/C4 posture of keeping the best-quality copy of a
    * duplicate cluster (longest / highest quality score / most recent)
    * rather than an arbitrary one.
    *
    * Pair generation: `mode: "minhash"` (default — banded LSH, the
    * scale path) or `"exact"` (all-pairs exact Jaccard — the
    * oracle-checkable verification path, O(N²): small inputs only).
    * Options: those of [[minhash]]/[[ngramJaccard]] plus `maxIter`
    * (component propagation cap, default 12) and `scoreField`.
    *
    * Scale shape of the selection: every frame after pair generation is
    * PAIR-GRAPH-sized (members of at least one near-dup pair), never
    * the corpus — the score fetch is one id-keyed join, the argmax two
    * component-keyed aggregations. */
  def neardupDedup(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val pairs = (spec.strOr("mode", "minhash") match {
        case "exact" => ngramJaccard(spec, ctx)(df)
        case _ => minhash(spec, ctx)(df)
      }).select("a", "b")
      val comps = connectedComponents(pairs, spec.int("maxIter", 12),
        Stages.checkpointerOf(spec, ctx), stage = "neardupdedup")
      val losers = spec.str("scoreField") match {
        case None => comps.where(col("id") =!= col("comp"))
          .select(col("id").as("__drop"))
        case Some(sf) =>
          require(df.columns.contains(sf), s"neardupdedup: no column '$sf'")
          require(df.schema(sf).dataType.isInstanceOf[
              org.apache.spark.sql.types.NumericType],
            s"neardupdedup: scoreField '$sf' must be numeric, is " +
            df.schema(sf).dataType.simpleString)
          // ids are opaque (any orderable type) — argmax in two
          // component-keyed aggregations instead of a typed struct-max
          val scored = comps.join(
            df.select(col(id).as("__sid"),
              coalesce(col(sf).cast("double"),
                lit(Double.NegativeInfinity)).as("__sc")),
            col("id") === col("__sid")).drop("__sid")
          val best = scored.groupBy(col("comp").as("__bc"))
            .agg(max("__sc").as("__bs"))
          val winners = scored.join(best,
              col("comp") === col("__bc") && col("__sc") === col("__bs"))
            .groupBy(col("comp").as("__wc")).agg(min(col("id")).as("__keep"))
          scored.join(winners, col("comp") === col("__wc"))
            .where(col("id") =!= col("__keep")).select(col("id").as("__drop"))
      }
      df.join(losers, col(id) === col("__drop"), "left_anti")
    }

  // --------------------------------------- duplicated substring spans

  /** `substringspans` transformer: find (and optionally strip) maximal
    * spans of text duplicated VERBATIM across documents — the
    * exact-substring dedup family of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"), which catches the
    * boilerplate/quotation overlap that whole-document and
    * near-document dedup both miss. Their single-machine suffix array
    * is replaced by a distributed gram-granular equivalent: a span is
    * reported iff it is a maximal run of word `gram`-grams each of
    * which also occurs in some OTHER document, which finds every
    * cross-document repeat of length ≥ `gram` words (suffix-array
    * semantics, banded to gram granularity — span ENDPOINTS are
    * rounded to the gram size).
    *
    * Options: `idField` (default `doc_id`), `field` (`text`), `gram`
    * (span granularity in words, default 8), `minSpan` (report/strip
    * only merged spans of at least this many words, default = gram),
    * `mode` ∈ `stats` (default — attach `ss_spans`, `ss_dup_words`,
    * `ss_max_span` per document) | `strip` (remove every word covered
    * by a reported span from `field`; C4-style aggressive removal —
    * both copies go, unlike Lee et al.'s keep-one, because keep-one
    * needs a global occurrence order that costs an extra shuffle and
    * changes nothing downstream of a dedup'd corpus).
    *
    * Scale shape (100 TB): tokenize + gram-hash are per-row HOF
    * projections (zero shuffle, one output row per token position —
    * linear); duplicated-gram detection is ONE hash-partitioned
    * aggregation with map-side partial min/max (never countDistinct);
    * the hits semi-join ships only (gram-hash, id, pos) triples; span
    * merging is a per-document window whose partitions are bounded by
    * document length. No pairwise comparison anywhere. */
  def substringSpans(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val field = spec.strOr("field", "text")
      val k = spec.int("gram", 8)
      require(k >= 2, s"substringspans: gram=$k (need >= 2)")
      val minSpan = spec.int("minSpan", k)
      val mode = spec.strOr("mode", "stats")

      val words = split(col(field), " ")
      // per-position gram hash: pos is 1-based, gram = words[pos..pos+k-1]
      val grams = df
        .select(col(id).as("__sid"), words.as("__w"))
        .where(size(col("__w")) >= k)
        .select(col("__sid"), posexplode(
          transform(sequence(lit(1), size(col("__w")) - k + 1),
            i => xxhash64(array_join(slice(col("__w"), i, lit(k)), " ")))))
        .select(col("__sid"), (col("pos") + 1).as("__pos"), col("col").as("__gh"))

      // a gram is duplicated iff it occurs in MORE THAN ONE document:
      // min!=max over doc ids — partial-aggregable, unlike countDistinct
      val dup = grams.groupBy("__gh")
        .agg(min("__sid").as("__mn"), max("__sid").as("__mx"))
        .where(col("__mn") =!= col("__mx"))
        .select("__gh")
      val hits = grams.join(dup, "__gh").select("__sid", "__pos")

      // merge consecutive duplicated-gram positions into maximal spans
      // (gaps-and-islands); a span of positions [s..e] covers words
      // [s .. e+k-1]
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__sid").orderBy("__pos")
      val spans = hits
        .withColumn("__grp", col("__pos") - row_number().over(w))
        .groupBy("__sid", "__grp")
        .agg(min("__pos").as("__s"),
          (max("__pos") - min("__pos") + k).as("__len"))
        .where(col("__len") >= minSpan)

      mode match {
        case "stats" =>
          val stats = spans.groupBy("__sid").agg(
            count(lit(1)).as("ss_spans"),
            sum("__len").as("ss_dup_words"),
            max("__len").as("ss_max_span"))
          df.join(stats, col(id) === col("__sid"), "left")
            .drop("__sid")
            .withColumn("ss_spans", coalesce(col("ss_spans"), lit(0L)))
            .withColumn("ss_dup_words", coalesce(col("ss_dup_words"), lit(0L)))
            .withColumn("ss_max_span", coalesce(col("ss_max_span"), lit(0L)))
        case "strip" =>
          // covered word positions per doc (bounded by doc length), then
          // rebuild the field dropping covered words in one HOF pass
          val covered = spans
            .select(col("__sid"),
              explode(sequence(col("__s"), col("__s") + col("__len") - 1))
                .as("__cp"))
            .groupBy("__sid").agg(collect_set("__cp").as("__cov"))
          df.join(covered, col(id) === col("__sid"), "left")
            .withColumn(field,
              when(col("__cov").isNull, col(field)).otherwise(
                array_join(filter(split(col(field), " "),
                  (word, i) => !array_contains(col("__cov"), i + 1)), " ")))
            .drop("__sid", "__cov")
        case other =>
          sys.error(s"substringspans: mode '$other' (stats | strip)")
      }
    }

  /** `linededup`: corpus-level duplicate-LINE removal — the C4 /
    * RefinedWeb boilerplate rule ("remove any line occurring more than
    * once in the corpus"): navigation bars, cookie banners and footers
    * repeat verbatim across pages while real prose doesn't. Documents
    * split on newline; a line whose NORMALIZED form (trim + lowercase
    * by default) occurs ≥ `minCount` times corpus-wide is a duplicate.
    * `action` = `remove` (default) deletes every duplicate occurrence;
    * `keepfirst` keeps the occurrences in the single document with the
    * smallest `idField` value (one canonical copy survives, the
    * keep-one posture of `neardupdedup`). Blank-normalized lines are
    * structural whitespace, never counted or removed. Each document's
    * surviving lines rejoin in ORIGINAL order; `n_removed` counts the
    * deleted lines. Documents with a NULL text OR a NULL id pass
    * through with null output and n_removed = 0 (null-id docs also
    * never count toward line frequencies — an unidentifiable doc
    * can't participate in id-keyed dedup).
    *
    * Options: `idField` (default doc_id — must be orderable for
    * keepfirst), `field` (default text), `minCount` (default 2),
    * `normalize` (default true), `outputField` (default
    * `<field>_clean`).
    *
    * Scale shape: ONE hash aggregation over exploded lines to the
    * duplicate-line table (map-side combine collapses the repeats that
    * make a line a duplicate in the first place), which BROADCASTS
    * back onto the lines — a shuffle join keyed by line text would put
    * every copy of a hot banner line on one reducer, exactly the skew
    * this stage exists to delete. Reassembly groups by document id
    * (the natural key) with an in-group sort of that document's lines
    * only. The duplicate table holds only lines that REPEAT, which is
    * executor-memory-sized for real corpora — but nothing about the
    * input enforces that (an adversarial corpus where every line is
    * duplicated makes the broadcast table the whole corpus), so the
    * table is probed with a bounded `limit(maxDupLines+1).count()`
    * (persisted first so the aggregation runs once) and fails LOUD
    * past `maxDupLines` (default 2,000,000), naming the
    * `crossdedup`/`decontaminate` Bloom pre-filter migration. */
  def lineDedup(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val f = spec.strOr("field", "text")
      Seq(id, f).foreach(c =>
        require(df.columns.contains(c), s"linededup: no column '$c'"))
      val minCount = spec.long("minCount").getOrElse(2L)
      require(minCount >= 2, s"linededup: minCount must be >= 2, got $minCount")
      val keepFirst = spec.strOr("action", "remove") match {
        case "remove" => false
        case "keepfirst" => true
        case other => sys.error(
          s"linededup: action must be remove|keepfirst, got '$other'")
      }
      val out = spec.strOr("outputField", s"${f}_clean")
      require(!df.columns.contains(out),
        s"linededup: output column '$out' exists — set outputField")
      def norm(c: Column): Column =
        if (spec.bool("normalize", dflt = true)) lower(trim(c)) else c
      // Null-ID rows do not participate (the freqpairs null-key rule,
      // documented): they pass through like null-text rows (out NULL,
      // n_removed 0). Without this filter their lines inflate every
      // doc's duplicate counts while the doc itself can never be
      // rebuilt (null ids all land in ONE rebuild group), and keepfirst
      // could drop every copy of a line confined to null-id docs.
      val lines = df.where(col(f).isNotNull && col(id).isNotNull)
        .select(col(id).as("__lid"),
          posexplode(split(col(f), "\n", -1)).as(Seq("__pos", "__ln")))
        .withColumn("__nm", norm(col("__ln")))
      val dups = lines.where(col("__nm") =!= "")
        .groupBy("__nm")
        .agg(count(lit(1)).as("__c"), min(col("__lid")).as("__fid"))
        .where(col("__c") >= minCount)
        .select(col("__nm").as("__dn"), col("__fid"))
        .persist()
      ctx.registerPersisted(dups)
      // Broadcast-size guard (same fail-LOUD pattern as labelencode's
      // maxCardinality / freqpairs' maxBasketSize): bounded probe, never
      // an unbounded count, and the persist above means the probe's
      // aggregation is the same one the broadcast reuses.
      val maxDup = spec.long("maxDupLines").getOrElse(2000000L)
      require(maxDup > 0,
        s"linededup: maxDupLines must be > 0, got $maxDup")
      val dupProbe = math.min(maxDup + 1, Int.MaxValue.toLong).toInt
      if (dups.limit(dupProbe).count() > maxDup) sys.error(
        s"linededup: more than $maxDup distinct duplicated lines — the " +
        "duplicate-line table is broadcast to every executor and this " +
        "corpus's table is no longer executor-memory-sized. Use " +
        "`crossdedup`/`decontaminate` (Bloom pre-filter + exact join) " +
        "for adversarial corpora, or raise maxDupLines if executors " +
        "genuinely have the memory")
      val keep = col("__dn").isNull ||
        (if (keepFirst) col("__lid") === col("__fid") else lit(false))
      val rebuilt = lines
        .join(broadcast(dups), col("__nm") === col("__dn"), "left")
        .withColumn("__keep", keep)
        .groupBy(col("__lid"))
        .agg(
          array_join(transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("__pos"), col("__ln"))))),
            x => x.getField("__ln")), "\n").as(out),
          sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removed"))
      df.join(rebuilt, col(id) === col("__lid"), "left")
        .withColumn("n_removed", coalesce(col("n_removed"), lit(0L)))
        .drop("__lid")
    }
}
