package graft.stages

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Numeric feature-engineering stages — standardization the reference's
  * per-record `field` transformer (OFieldTransformer.java:79-107) can't
  * express because it needs corpus statistics.
  *
  * Scale shape: statistics come from ONE hash aggregation with map-side
  * combine (one row per group) and reach the rows through
  * [[GroupStats.attach]]; running sums go through
  * [[GroupStats.runningBelow]] — never a window over every row (a
  * global window would sort the whole table into one partition). Every
  * key option (`keyField`, `groupBy`) takes a JSON list or a
  * comma-separated string ([[GroupStats.keyList]]). */
object StatStages {
  import GroupStats.{attach, keyList, rangeBucket, runningBelow}

  /** `minmaxscale`: per-group min-max normalization to [0, 1] —
    * (x − min)/(max − min), the bounded-range scaler (zscore's
    * standardization is unbounded). Options: `field` (required),
    * `keyField` (optional comma-separated), `outField` (default
    * `<field>_scaled`). Constant groups (max == min) yield null, not a
    * division error. One hash agg (map-side combine) + a null-safe key
    * join — never a window over all rows (the StatStages shape). */
  def minMaxScale(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fld = spec.str("field").getOrElse(sys.error("minmaxscale: `field` required"))
      require(df.columns.contains(fld), s"minmaxscale: no column '$fld'")
      val keys = keyList(spec, "keyField")
      keys.foreach(k => require(df.columns.contains(k), s"minmaxscale: no key column '$k'"))
      val outField = spec.strOr("outField", s"${fld}_scaled")
      val x = col(fld).cast("double")
      val stats = df.groupBy(keys.map(col): _*).agg(min(x).as("__mn"), max(x).as("__mx"))
      attach(df, stats, keys).withColumn(outField,
          when(col("__mx") > col("__mn"), (x - col("__mn")) / (col("__mx") - col("__mn"))))
        .drop("__mn", "__mx")
    }

  /** `featurehash`: the hashing trick (Weinberger et al. 2009) — text to
    * a FIXED-dimension feature vector with no vocabulary pass at all:
    * each token adds ±1 at dimension md5(token) mod k (the second hash
    * nibble picks the sign, which keeps collision noise zero-mean).
    * The featurization that never needs a fit step, never grows with
    * the vocabulary, and maps unseen tokens consistently — the
    * counterpart to [[labelEncode]]'s exact-vocabulary path.
    *
    * Options: `field` (default "text"), `k` (dimensions, default 64),
    * `outputField` (default "features", array<long>), `signed`
    * (default true; false = plain bucket counts). md5 buckets (not a
    * faster hash) keep the vector engine-portable — the repo's
    * datasplit/cdcchunk idiom. NULL text → NULL vector.
    *
    * Scale shape: ONE per-row HOF fold (O(tokens·k) array copies per
    * row — k is small by design); zero shuffles, fuses into the scan. */
  def featureHash(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "text")
      require(df.columns.contains(f), s"featurehash: no column '$f'")
      val k = spec.int("k", 64)
      require(k >= 2 && k <= 4096, s"featurehash: k must be in [2, 4096], got $k")
      val signed = spec.bool("signed", dflt = true)
      val words = filter(split(trim(col(f).cast("string")), "\\s+"), w => w =!= "")
      def bucket(w: Column): Column =
        pmod(conv(substring(md5(w), 1, 6), 16, 10).cast("long"), lit(k)).cast("int")
      def signOf(w: Column): Column =
        if (!signed) lit(1L)
        else when(pmod(conv(substring(md5(w), 7, 1), 16, 10).cast("long"), lit(2)) === 0,
          lit(1L)).otherwise(lit(-1L))
      val vec = aggregate(words,
        array_repeat(lit(0L), k),
        (acc, w) => {
          val b = bucket(w)
          val s = signOf(w)
          transform(acc, (v, i) => when(i === b, v + s).otherwise(v))
        })
      df.withColumn(spec.strOr("outputField", "features"),
        when(col(f).isNotNull, vec))
    }

  /** `labelencode`: categorical → dense integer ids (0-based, assigned
    * in SORTED value order so the mapping is deterministic across runs,
    * partitionings, and engines — a hash or first-seen id would not
    * be). The feature-engineering staple before any numeric model, and
    * the join-key compression trick (a 40-byte string key becomes an
    * 8-byte long for every downstream exchange).
    *
    * Options: `field` (required), `outputField` (default `<field>_id`),
    * `startAt` (default 0). NULL encodes as NULL. Vocabulary persistence
    * (the BPE/kmeans pattern): `saveMapping` writes value→id lines;
    * `loadMapping` applies a prior mapping verbatim — unseen values get
    * NULL ids (surface them, don't renumber history).
    *
    * Scale shape: distinct + a window over the DISTINCT set (vocabulary-
    * sized, not corpus-sized) + one broadcast-eligible join back. */
  def labelEncode(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.str("field").getOrElse(sys.error("labelencode: `field` required"))
      require(df.columns.contains(f), s"labelencode: no column '$f'")
      val out = spec.strOr("outputField", s"${f}_id")
      val start = spec.long("startAt").getOrElse(0L)
      val spark = ctx.spark
      val mapping: DataFrame = spec.str("loadMapping") match {
        case Some(path) =>
          val p = java.nio.file.Paths.get(path)
          require(java.nio.file.Files.exists(p),
            s"labelencode: loadMapping file not found: $path")
          val rows = scala.jdk.CollectionConverters
            .ListHasAsScala(java.nio.file.Files.readAllLines(p)).asScala
            .filter(_.nonEmpty).map { line =>
              val tab = line.indexOf('\t')
              require(tab > 0, s"labelencode: bad mapping line '$line' in $path")
              (line.substring(0, tab), line.substring(tab + 1).toLong)
            }.toSeq
          import spark.implicits._
          rows.toDF("__val", "__id")
        case None =>
          val distinctVals = df.select(col(f).cast("string").as("__val"))
            .where(col("__val").isNotNull).distinct()
          // Cardinality guard: the id assignment below is a global
          // (single-partition) window over the DISTINCT set plus, with
          // saveMapping, a driver collect — vocabulary-sized by design.
          // Nothing structural stops a user pointing this at a
          // high-cardinality column, where that sort IS the job; probe
          // with a bounded limit+count and fail loud naming the
          // migration instead of silently becoming a single-reducer sort.
          val maxCard = spec.long("maxCardinality").getOrElse(1000000L)
          require(maxCard > 0,
            s"labelencode: maxCardinality must be > 0, got $maxCard")
          val cardProbe = math.min(maxCard + 1, Int.MaxValue.toLong).toInt
          if (distinctVals.limit(cardProbe).count() > maxCard) sys.error(
            s"labelencode: column '$f' has more than $maxCard distinct " +
            "values — label encoding assigns ids through a vocabulary-" +
            "sized global sort, which does not scale to high-cardinality " +
            "columns. Use `featurehash` for a fixed-width hashed id, or " +
            "raise maxCardinality if the vocabulary is genuinely this " +
            "large and the single-partition sort cost is accepted")
          val w = org.apache.spark.sql.expressions.Window.orderBy(col("__val"))
          val m = distinctVals
            .withColumn("__id", row_number().over(w).cast("long") - 1 + start)
          spec.str("saveMapping").foreach { path =>
            val p = java.nio.file.Paths.get(path)
            Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
            val lines = m.orderBy("__id").collect()
              .map(r => s"${r.getString(0)}\t${r.getLong(1)}")
            java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
          }
          m
      }
      df.join(broadcast(mapping), col(f).cast("string") <=> col("__val"), "left")
        .withColumn(out, col("__id")).drop("__val", "__id")
    }

  /** `hllsketch`: mergeable distinct-count sketches (Apache DataSketches
    * HLL via Spark's `hll_sketch_agg`) — the 100-TB spelling of
    * count-distinct rollups. A sketch is a small binary that MERGES:
    * compute per fine-grained group (per day, per shard) once, then
    * [[hllmerge]] re-aggregates to any coarser grain without rescanning
    * the raw table — exactly what `count(DISTINCT …)` can't do.
    * Deterministic: the sketch state is order-independent (per-bucket
    * max of hashed values), so estimates are reproducible.
    *
    * Options: `field` (required — the values sketched), `groupBy`
    * (comma-separated keys; absent = one global sketch), `lgConfigK`
    * (default 12 ≈ 1.6 % relative error), `out` (default "hll_sketch").
    * One hash aggregation with map-side combine. */
  def hllSketch(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.str("field").getOrElse(sys.error("hllsketch: field required"))
      val lgK = spec.int("lgConfigK", 12)
      require(lgK >= 4 && lgK <= 21, s"hllsketch: lgConfigK out of range: $lgK")
      val keys = keyList(spec, "groupBy")
      df.groupBy(keys.map(col): _*)
        .agg(hll_sketch_agg(col(f), lit(lgK)).as(spec.strOr("out", "hll_sketch")))
    }

  /** `hllmerge`: union previously-built HLL sketches to a coarser grain
    * and surface the distinct estimate. Options: `field` (sketch column,
    * default "hll_sketch"), `groupBy` (coarser keys; absent = one global
    * row), `out` (default "distinct_est" — a LONG estimate), and
    * `keepSketch` (default false — true also keeps the merged binary
    * for further rollups). */
  def hllMerge(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "hll_sketch")
      require(df.columns.contains(f), s"hllmerge: no column '$f'")
      val keys = keyList(spec, "groupBy")
      val merged = hll_union_agg(col(f))
      val est = hll_sketch_estimate(merged).as(spec.strOr("out", "distinct_est"))
      val keep =
        if (spec.bool("keepSketch", dflt = false)) Seq(merged.as(f + "_merged")) else Nil
      df.groupBy(keys.map(col): _*).agg(est, keep: _*)
    }

  /** `kllsketch`: mergeable QUANTILE sketches (Apache DataSketches KLL
    * via the native [[graft.functions.KllAgg]] aggregate) — the rollup
    * counterpart of [[quantiles]], and the quantile analogue of
    * [[hllSketch]]: compute a ~3 KB sketch per fine grain (per day, per
    * shard) once, then [[kllMerge]] re-aggregates to any coarser grain
    * without rescanning the raw table — exactly what exact
    * `percentile` cannot do (quantiles don't sum). ONE hash aggregation
    * with map-side combine; the exchange carries sketches, not values.
    *
    * KLL compaction is randomized, so estimates are gated by the
    * deterministic RANK-ERROR bound (≤ getNormalizedRankError at 99 %
    * confidence, ~1.65 % of rank at the default k), the hll_rollup
    * verdict recipe — never hash-exact estimate oracles.
    *
    * Options: `field` (required numeric — cast to double), `groupBy`
    * (comma-separated; absent = one global sketch), `k` (default 200),
    * `out` (default "kll_sketch"). */
  def kllSketch(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val f = spec.str("field").getOrElse(sys.error("kllsketch: field required"))
      require(df.columns.contains(f), s"kllsketch: no column '$f'")
      require(df.schema(f).dataType.isInstanceOf[NumericType],
        s"kllsketch: '$f' must be numeric, is ${df.schema(f).dataType.simpleString}")
      val k = spec.int("k", 200)
      require(k >= 8 && k <= 65535, s"kllsketch: k out of range [8, 65535]: $k")
      val keys = keyList(spec, "groupBy")
      keys.foreach(c => require(df.columns.contains(c), s"kllsketch: no column '$c'"))
      df.groupBy(keys.map(col): _*).agg(graft.functions.VectorExpressions
        .kllAgg(col(f).cast("double"), k).as(spec.strOr("out", "kll_sketch")))
    }

  /** `kllmerge`: union previously-built KLL sketches to a coarser grain
    * and surface quantile estimates. Options: `field` (sketch column,
    * default "kll_sketch"), `groupBy` (coarser keys; absent = one global
    * row), `probs` (default [0.5] — one `p<percent>` double column per
    * prob, the [[quantiles]] naming rule), `keepSketch` (default false —
    * true also keeps the merged binary for further rollups). Also emits
    * `n_values`: the EXACT total stream length (KLL tracks n exactly),
    * so a rollup self-reports its support. */
  def kllMerge(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val f = spec.strOr("field", "kll_sketch")
      require(df.columns.contains(f), s"kllmerge: no column '$f'")
      val keys = keyList(spec, "groupBy")
      keys.foreach(c => require(df.columns.contains(c), s"kllmerge: no column '$c'"))
      val probs = spec.list("probs") match {
        case Nil => Seq(0.5)
        case l => l.map(_.toString.toDouble)
      }
      probs.foreach(p => require(p >= 0 && p <= 1, s"kllmerge: prob $p outside [0, 1]"))
      def nameOf(p: Double): String =
        "p" + BigDecimal(p * 100).underlying.stripTrailingZeros.toPlainString
          .replace(".", "_").replace("-", "m")
      val merged = graft.functions.VectorExpressions.kllMerge(col(f))
      val agged = df.groupBy(keys.map(col): _*).agg(merged.as("__sk"))
      val qs = probs.map(p => graft.functions.VectorExpressions
        .kllQuantile(col("__sk"), p).as(nameOf(p)))
      val n = graft.functions.VectorExpressions.kllN(col("__sk")).as("n_values")
      val keep = if (spec.bool("keepSketch", dflt = false))
        Seq(col("__sk").as(f + "_merged")) else Nil
      agged.select(keys.map(col) ++ qs ++ Seq(n) ++ keep: _*)
    }

  /** `topksketch`: mergeable HEAVY-HITTERS sketches (DataSketches
    * frequent-items / Misra–Gries family via [[graft.functions.FreqAgg]])
    * — the rollup counterpart of the single-pass ngram top-k: a bounded
    * `maxMapSize`-counter sketch per fine grain that [[topkMerge]]
    * unions to any coarser grain without rescan. Every item whose true
    * count exceeds the sketch's error threshold (≈ n/maxMapSize,
    * deterministic) is GUARANTEED present (NO_FALSE_NEGATIVES) with
    * lb ≤ true ≤ ub bounds; estimate VALUES are merge-order-dependent,
    * so oracles gate on the bounds, never the estimates.
    *
    * Options: `itemField` (required — cast to string), `weightField`
    * (optional long weight, e.g. a token count; default 1 per row),
    * `groupBy`, `maxMapSize` (power of two, default 1024), `out`
    * (default "freq_sketch"). */
  def topkSketch(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val f = spec.str("itemField").getOrElse(
        sys.error("topksketch: itemField required"))
      require(df.columns.contains(f), s"topksketch: no column '$f'")
      val w = spec.str("weightField").map { wf =>
        require(df.columns.contains(wf), s"topksketch: no column '$wf'")
        col(wf).cast("long")
      }.getOrElse(lit(1L))
      val maxMap = spec.int("maxMapSize", 1024)
      require(maxMap >= 8 && Integer.bitCount(maxMap) == 1,
        s"topksketch: maxMapSize must be a power of two >= 8, got $maxMap")
      val keys = keyList(spec, "groupBy")
      keys.foreach(c => require(df.columns.contains(c), s"topksketch: no column '$c'"))
      df.groupBy(keys.map(col): _*).agg(graft.functions.VectorExpressions
        .freqAgg(col(f).cast("string"), w, maxMap)
        .as(spec.strOr("out", "freq_sketch")))
    }

  /** `topkmerge`: union frequent-items sketches to a coarser grain and
    * explode the NO_FALSE_NEGATIVES item set — one row per (coarse keys,
    * item) with `est`/`lb`/`ub` long columns, ordered inside each group
    * by (est DESC, item ASC). Options: `field` (default "freq_sketch"),
    * `groupBy`, `k` (default 0 = all qualifying items), `maxMapSize`
    * (merge-buffer size, default 1024). */
  def topkMerge(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val f = spec.strOr("field", "freq_sketch")
      require(df.columns.contains(f), s"topkmerge: no column '$f'")
      val keys = keyList(spec, "groupBy")
      keys.foreach(c => require(df.columns.contains(c), s"topkmerge: no column '$c'"))
      val k = spec.int("k", 0)
      require(k >= 0, s"topkmerge: k must be >= 0, got $k")
      val maxMap = spec.int("maxMapSize", 1024)
      require(maxMap >= 8 && Integer.bitCount(maxMap) == 1,
        s"topkmerge: maxMapSize must be a power of two >= 8, got $maxMap")
      val merged = graft.functions.VectorExpressions.freqMerge(col(f), maxMap)
      val agged = df.groupBy(keys.map(col): _*)
        .agg(graft.functions.VectorExpressions.freqItems(merged, k).as("__items"))
      agged.select(keys.map(col) :+ explode(col("__items")).as("__it"): _*)
        .select(keys.map(col) ++ Seq(
          col("__it.item").as("item"), col("__it.est").as("est"),
          col("__it.lb").as("lb"), col("__it.ub").as("ub")): _*)
    }

  /** `checksum`: order-independent, MERGEABLE content fingerprints —
    * the value-level complement of `schemadiff` (which diffs structure)
    * and the migration-validation primitive: checksum the source table
    * per grain, checksum the rewritten/compacted/migrated copy, compare
    * — any flipped value, lost row or duplicated row shows, with no
    * row-by-row join. Per row, ONE xxhash64 over a null-position mask
    * plus the listed fields (the mask disambiguates (null, x) from
    * (x, null) — Spark's hash folds null args as a no-op); per group,
    * three independent aggregates of that row hash:
    *
    *  - `n_rows` — count;
    *  - `xor64` — bit_xor of row hashes (order-independent; blind to a
    *    row appearing an EVEN number of times, which is why it is not
    *    alone);
    *  - `sum_mod` — Σ row-hash as DECIMAL(38) mod 2^64, rendered as a
    *    string (duplicates ADD, covering xor64's blind spot; decimal
    *    keeps the sum exact — a long sum would overflow ANSI).
    *
    * All three are MERGEABLE: [[checksumMerge]] re-aggregates a grain
    * table to any coarser grain (xor of xors, sum of sums mod 2^64,
    * sum of counts) with shard-merge ≡ whole-table identity EXACTLY —
    * no sketch error, unlike hll/kll.
    *
    * Options: `fields` (default all non-grouped columns, schema order),
    * `groupBy` (grain keys; absent = one global row), max 63 fields
    * (the null mask is one long).
    *
    * Scale shape: ONE hash aggregation with map-side combine; the
    * exchange carries (grain, 3 longs). */
  def checksum(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val keys = keyList(spec, "groupBy")
      keys.foreach(c => require(df.columns.contains(c), s"checksum: no column '$c'"))
      val fields = spec.strList("fields") match {
        case Nil => df.columns.filterNot(keys.contains).toSeq
        case fs => fs
      }
      require(fields.nonEmpty, "checksum: no fields left to checksum")
      fields.foreach(f => require(df.columns.contains(f), s"checksum: no column '$f'"))
      require(fields.size <= 63,
        s"checksum: at most 63 fields (null mask is one long), got ${fields.size}")
      val rh = graft.functions.VectorExpressions.maskedRowHash(fields.map(col))
      val aggs = Seq(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(__rh)").as("xor64"),
        sum(col("__rh").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__sum"))
      val agged = df.withColumn("__rh", rh).groupBy(keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      agged.withColumn("sum_mod",
          pmod(col("__sum"), lit(BigDecimal("18446744073709551616")))
            .cast("decimal(38,0)").cast("string"))
        .drop("__sum")
    }

  /** `checksummerge`: union [[checksum]] grain rows to a coarser grain
    * — xor of xors, Σ sum_mod mod 2^64, Σ n_rows. Exact identity with
    * the whole-table checksum (mod is additive-compatible). Options:
    * `groupBy` (coarser keys; absent = one global row). */
  def checksumMerge(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      Seq("n_rows", "xor64", "sum_mod").foreach(c => require(
        df.columns.contains(c), s"checksummerge: no column '$c' — input " +
        "must be a checksum grain table"))
      val keys = keyList(spec, "groupBy")
      keys.foreach(c => require(df.columns.contains(c), s"checksummerge: no column '$c'"))
      val agged = df.groupBy(keys.map(col): _*)
        .agg(sum("n_rows").as("n_rows"),
          expr("bit_xor(xor64)").as("xor64"),
          sum(col("sum_mod").cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("__sum"))
      agged.withColumn("sum_mod",
          pmod(col("__sum"), lit(BigDecimal("18446744073709551616")))
            .cast("decimal(38,0)").cast("string"))
        .drop("__sum")
    }

  /** `quantiles`: per-group quantiles of a numeric column.
    *
    * Options: `field` (required), `keyField` (optional, comma-
    * separated; absent = one global row), `probs` (default [0.5]),
    * `mode` (default `approx`), `accuracy` (approx mode, default
    * 10000). Output: keys…, one `p<percent>` double column per prob
    * (`0.5 → p50`, `0.999 → p99_9`).
    *
    * `approx` is THE scale mode: Spark's GK-sketch
    * `approx_percentile` partial-aggregates map-side in bounded
    * memory regardless of group size (error ≤ 1/accuracy of rank).
    * `exact` computes true type-7 interpolated quantiles
    * (`pos = p·(n−1)`, linear between the two ranks — the same
    * definition DuckDB's quantile_cont and pandas use, which is what
    * makes the driver's hash-exact oracle possible) but BUFFERS EVERY
    * GROUP VALUE in executor memory — bounded-cardinality groups
    * only; a 100 TB unbounded-group profile belongs to `approx`. */
  def quantiles(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fld = spec.str("field").getOrElse(sys.error("quantiles: `field` required"))
      require(df.columns.contains(fld), s"quantiles: no column '$fld'")
      require(df.schema(fld).dataType.isInstanceOf[NumericType],
        s"quantiles: '$fld' must be numeric, is ${df.schema(fld).dataType.simpleString}")
      val keys = keyList(spec, "keyField")
      keys.foreach(k => require(df.columns.contains(k), s"quantiles: no key column '$k'"))
      val probs = spec.list("probs") match {
        case Nil => Seq(0.5)
        case l => l.map(_.toString.toDouble)
      }
      probs.foreach(p => require(p >= 0 && p <= 1,
        s"quantiles: prob $p outside [0, 1]"))
      val mode = spec.strOr("mode", "approx")
      require(Set("approx", "exact")(mode),
        s"quantiles: mode must be approx|exact, got '$mode' — approx is " +
        "the scale mode (bounded-memory GK sketch); exact buffers EVERY " +
        "group's values in executor memory, bounded-cardinality groups only")
      val accuracy = spec.int("accuracy", 10000)
      def nameOf(p: Double): String =
        "p" + BigDecimal(p * 100).underlying.stripTrailingZeros.toPlainString
          .replace(".", "_").replace("-", "m")
      val probsArr = array(probs.map(lit): _*)
      val aggCol = mode match {
        case "exact" => percentile(col(fld), probsArr)
        case _ => percentile_approx(col(fld), probsArr, lit(accuracy))
      }
      val agged = df.groupBy(keys.map(col): _*).agg(aggCol.as("__qs"))
      agged.select(keys.map(col) ++ probs.zipWithIndex.map { case (p, i) =>
        element_at(col("__qs"), i + 1).cast("double").as(nameOf(p))
      }: _*)
    }

  /** `quantilebin`: equal-frequency binning — assign each row the bin
    * index of its value among `bins` quantile buckets (per group with
    * `keyField`), the feature-engineering discretizer ("which spend
    * quartile is this order in"). Cut points are type-7 percentiles
    * (the [[winsorize]] rule — bit-identical in Spark `percentile` and
    * DuckDB `quantile_cont` on exact-integer inputs); the bin is the
    * COUNT OF CUTS STRICTLY BELOW the value (pure comparisons, no
    * further float math), so a value equal to a cut stays in the lower
    * bin and the whole assignment is hash-exact. NULL values keep a
    * NULL bin. ONE exact-percentile aggregate (bounded-cardinality
    * groups — same contract as quantiles' exact mode) attached back
    * null-safely ([[GroupStats.attach]] — a NULL key is a real group).
    * Options: `field` (required, numeric), `bins` (default 4),
    * `keyField` (optional, comma-separated), `outputField` (default
    * `<field>_bin`). */
  def quantileBin(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fld = spec.str("field").getOrElse(sys.error("quantilebin: `field` required"))
      require(df.columns.contains(fld), s"quantilebin: no column '$fld'")
      require(df.schema(fld).dataType.isInstanceOf[NumericType],
        s"quantilebin: '$fld' must be numeric, is ${df.schema(fld).dataType.simpleString}")
      val k = spec.int("bins", 4)
      require(k >= 2, s"quantilebin: bins must be >= 2, got $k")
      val keys = keyList(spec, "keyField")
      keys.foreach(kf => require(df.columns.contains(kf), s"quantilebin: no key column '$kf'"))
      val outF = spec.strOr("outputField", s"${fld}_bin")
      val probs = (1 until k).map(i => lit(i.toDouble / k))
      val cuts = df.groupBy(keys.map(col): _*)
        .agg(percentile(col(fld), array(probs: _*)).as("__cuts"))
      attach(df, cuts, keys).withColumn(outF,
          when(col(fld).isNull, lit(null).cast("int")).otherwise(
            size(filter(col("__cuts"), c => col(fld).cast("double") > c))))
        .drop("__cuts")
    }

  /** `winsorize`: quantile clipping — cap a numeric column at its
    * [lower, upper] quantiles (per group when `keyField` is set), the
    * standard outlier-robust normalization before scaling/aggregation.
    * Bounds are type-7 percentiles (pos = p·(n−1), linear
    * interpolation — the same definition both Spark's `percentile` and
    * DuckDB's `quantile_cont` implement, bit-identical on exact-integer
    * inputs). Output is DOUBLE (`<field>_w` by default); a NULL input
    * stays NULL (Spark's greatest/least skip nulls — explicitly
    * guarded, a null is a missing value, not -inf).
    *
    * Options: `field` (required, numeric), `keyField` (optional,
    * comma-separated), `lower` (default 0.05), `upper` (default 0.95),
    * `mode` exact|approx (exact buffers each group's values — bounded
    * groups only; approx is the GK-sketch scale mode), `accuracy`
    * (approx, default 10000), `outputField`, `flagField` (optional —
    * adds a boolean "was clipped" column).
    *
    * Scale shape: ONE hash aggregation for the bounds + a null-safe
    * join back on the group keys ([[GroupStats.attach]]), then a
    * per-row projection. Never a window over all rows. */
  def winsorize(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fld = spec.str("field").getOrElse(sys.error("winsorize: `field` required"))
      require(df.columns.contains(fld), s"winsorize: no column '$fld'")
      require(df.schema(fld).dataType.isInstanceOf[NumericType],
        s"winsorize: '$fld' must be numeric, is ${df.schema(fld).dataType.simpleString}")
      val keys = keyList(spec, "keyField")
      keys.foreach(k => require(df.columns.contains(k), s"winsorize: no key column '$k'"))
      val lo = spec.str("lower").map(_.toDouble).getOrElse(0.05)
      val hi = spec.str("upper").map(_.toDouble).getOrElse(0.95)
      require(lo >= 0 && hi <= 1 && lo < hi,
        s"winsorize: need 0 <= lower < upper <= 1, got [$lo, $hi]")
      val mode = spec.strOr("mode", "exact")
      require(Set("approx", "exact")(mode),
        s"winsorize: mode must be approx|exact, got '$mode'")
      val probsArr = array(lit(lo), lit(hi))
      val aggCol = mode match {
        case "exact" => percentile(col(fld), probsArr)
        case _ => percentile_approx(col(fld), probsArr,
          lit(spec.int("accuracy", 10000)))
      }
      val bounds = df.groupBy(keys.map(col): _*)
        .agg(element_at(aggCol, 1).cast("double").as("__wlo"),
             element_at(aggCol, 2).cast("double").as("__whi"))
      val x = col(fld).cast("double")
      val clipped = when(x.isNull, lit(null).cast("double"))
        .otherwise(least(greatest(x, col("__wlo")), col("__whi")))
      val outF = spec.strOr("outputField", s"${fld}_w")
      val out = attach(df, bounds, keys).withColumn(outF, clipped)
      val flagged = spec.str("flagField") match {
        case Some(fl) => out.withColumn(fl, x.isNotNull && (x < col("__wlo") || x > col("__whi")))
        case None => out
      }
      flagged.drop("__wlo", "__whi")
    }

  /** `zscore`: per-group standardization `z = (x − mean) / stddev_pop`
    * plus an optional outlier flag.
    *
    * Options: `field` (required, numeric), `keyField` (optional,
    * comma-separated; absent = one global group), `outField` (default
    * `<field>_z`), `threshold` (optional: adds `<outField>_outlier` =
    * |z| > threshold). A zero-variance group yields null z (no
    * standardization exists there), never a division blow-up.
    *
    * Row-count preserving: the stats join back is NULL-SAFE on the
    * group keys (`<=>`), so rows whose key is null standardize within
    * the null-key group instead of silently vanishing from an
    * equi-join that can never match null.
    *
    * Determinism: for INTEGRAL inputs the sums accumulate as
    * decimal(38,0) — exact regardless of partitioning/add order — and
    * convert to double once, so `z` is bit-identical run-to-run and
    * engine-to-engine (the driver's hash-exact oracle relies on this).
    * Floating inputs use plain double sums (documented: last-ulp
    * variation under re-partitioning, like every parallel float sum). */
  def zscore(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fld = spec.str("field").getOrElse(sys.error("zscore: `field` required"))
      require(df.columns.contains(fld), s"zscore: no column '$fld'")
      val keys = keyList(spec, "keyField")
      keys.foreach(k => require(df.columns.contains(k), s"zscore: no key column '$k'"))
      val outField = spec.strOr("outField", s"${fld}_z")
      require(!df.columns.contains(outField),
        s"zscore: output column '$outField' already exists — set `outField`")
      val threshold = spec.str("threshold").map(_.toDouble)

      // `method: "mad"` — robust standardization: (x − median)/MAD with
      // MAD = median(|x − median|). Mean/std move with every outlier
      // they're supposed to flag (masking); the 50% breakdown point of
      // median/MAD doesn't. RAW MAD (no 1.4826 normal-consistency
      // factor): scale thresholds accordingly (≈ 3.5 raw ≈ 2.36σ-style)
      // — the factor would add a float multiply that buys nothing for
      // flagging. Exact medians via the percentile aggregate (the
      // `quantiles` stage's hash-exact-vs-quantile_cont equivalence);
      // two keyed aggs + two null-safe joins, never a window.
      if (spec.strOr("method", "std").toLowerCase == "mad") {
        val x = col(fld).cast("double")
        val withMed = attach(df,
          df.groupBy(keys.map(col): _*).agg(percentile(x, lit(0.5)).as("__med")), keys)
        val joined = attach(withMed, withMed.groupBy(keys.map(col): _*)
          .agg(percentile(abs(x - col("__med")), lit(0.5)).as("__mad")), keys)
        val z = when(col("__mad") > 0, (x - col("__med")) / col("__mad"))
        val withZ = joined.withColumn(outField, z)
        val withFlag = threshold.fold(withZ)(t =>
          withZ.withColumn(s"${outField}_outlier", abs(col(outField)) > t))
        withFlag.drop("__med", "__mad")
      } else {
      val integral = df.schema(fld).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _: NumericType => false
        case other => sys.error(s"zscore: '$fld' must be numeric, is ${other.simpleString}")
      }
      // exact-sum path: cast BEFORE multiplying so x·x can't overflow long
      val (sumE, sumSqE) =
        if (integral) (
          sum(col(fld).cast("decimal(38,0)")).cast("double"),
          sum((col(fld).cast("decimal(19,0)") * col(fld).cast("decimal(19,0)"))
            .cast("decimal(38,0)")).cast("double"))
        else (sum(col(fld).cast("double")),
          sum(col(fld).cast("double") * col(fld).cast("double")))
      val joined = attach(df, df.groupBy(keys.map(col): _*)
        .agg(count(col(fld)).as("__n"), sumE.as("__s"), sumSqE.as("__ss")), keys)
      val nD = col("__n").cast("double")
      val mean = col("__s") / nD
      val std = sqrt((col("__ss") - col("__s") * col("__s") / nD) / nD)
      val z = when(std > 0, (col(fld) - mean) / std)
      val withZ = joined.withColumn(outField, z)
      val withFlag = threshold.fold(withZ)(t =>
        withZ.withColumn(s"${outField}_outlier", abs(col(outField)) > t))
      withFlag.drop("__n", "__s", "__ss")
      }
    }

  /** `impute`: fill NULLs in a numeric column from a group statistic —
    * the missing-value repair pass before scaling/training. Strategies:
    * `mean` (exact decimal sum / count, ONE IEEE division —
    * hash-stable on integer-valued inputs; a float sum would be
    * partition-order-dependent), `median` (type-7 exact percentile,
    * the [[winsorize]]/[[quantileBin]] rule, bit-identical to DuckDB's
    * quantile_cont), `constant` (`value` required). Statistics compute
    * over the NON-NULL rows per group (`keyField`, optional); a group
    * that is entirely NULL keeps its NULLs (nothing to learn from —
    * LOUD in the row, not a silent 0). Output is DOUBLE in
    * `outputField` (default `<field>_imputed`); the input column is
    * untouched. One hash aggregate attached back null-safely
    * ([[GroupStats.attach]] — a NULL key is a real group).
    * Options: `field` (required, numeric), `strategy` mean|median|
    * constant (default mean), `value`, `keyField`, `outputField`. */
  def impute(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fld = spec.str("field").getOrElse(sys.error("impute: `field` required"))
      require(df.columns.contains(fld), s"impute: no column '$fld'")
      require(df.schema(fld).dataType.isInstanceOf[NumericType],
        s"impute: '$fld' must be numeric, is ${df.schema(fld).dataType.simpleString}")
      val keys = keyList(spec, "keyField")
      keys.foreach(k => require(df.columns.contains(k), s"impute: no key column '$k'"))
      val outF = spec.strOr("outputField", s"${fld}_imputed")
      val strategy = spec.strOr("strategy", "mean")
      val filled: DataFrame = strategy match {
        case "constant" =>
          val v = spec.str("value").map(_.toDouble).getOrElse(
            sys.error("impute: `value` required for strategy constant"))
          df.withColumn(outF, coalesce(col(fld).cast("double"), lit(v)))
        case "mean" | "median" =>
          if (strategy == "mean")
            require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
                .contains(df.schema(fld).dataType),
              s"impute: mean strategy needs an INTEGRAL column (got " +
              s"${df.schema(fld).dataType.simpleString}) — a float sum is " +
              "partition-order-dependent and the decimal cast would " +
              "silently truncate fractions; round/scale upstream (cents)")
          val statCol =
            if (strategy == "mean")
              (sum(col(fld).cast(DecimalType(38, 0))).cast("double") /
                count(col(fld)).cast("double")).as("__stat")
            else percentile(col(fld), lit(0.5)).cast("double").as("__stat")
          attach(df, df.groupBy(keys.map(col): _*).agg(statCol), keys)
            .withColumn(outF, coalesce(col(fld).cast("double"), col("__stat")))
            .drop("__stat")
        case other =>
          sys.error(s"impute: unknown strategy '$other' (mean|median|constant)")
      }
      filled
    }

  /** `correlate`: per-group Pearson correlation + ordinary-least-squares
    * fit between two INTEGER-valued columns — the drift/relationship
    * check a feature pipeline runs between signals (e.g. token count vs
    * quality score). Built for ORACLE-EXACT floats: the five co-moment
    * sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulate EXACTLY in decimal(38)
    * (a float sum's value depends on partition order — never
    * hash-stable), and the closing expression is the identical IEEE op
    * tree in both engines:
    * `r = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − Σx·Σx) · sqrt(n·Σy² − Σy·Σy))`,
    * `slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx)`,
    * `intercept = (Σy − slope·Σx) / n`.
    * Exactness envelope: the decimal intermediates convert to double
    * exactly while `n·Σxy < 2^53` — pre-scale or sample inputs beyond
    * that (documented, LOUD nothing; the sums themselves never
    * overflow decimal(38)). Degenerate groups (zero variance on either
    * side) emit null r/slope/intercept rather than ±Inf.
    * ONE hash aggregation with map-side combine; `groupBy` (optional,
    * comma-separated) keys the output, else one global row.
    * Options: `xField`, `yField` (required), `groupBy`. Output:
    * (group keys…, n, r, slope, intercept). */
  def correlate(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val xF = spec.str("xField").getOrElse(sys.error("correlate: xField required"))
      val yF = spec.str("yField").getOrElse(sys.error("correlate: yField required"))
      // Same integral contract as impute's mean strategy: the exact-sum
      // path casts to decimal(38,0), which SILENTLY ROUNDS fractional
      // inputs — a double column would yield quietly-wrong r/slope.
      Seq(xF, yF).foreach { f =>
        require(df.columns.contains(f), s"correlate: no column '$f'")
        require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
            .contains(df.schema(f).dataType),
          s"correlate: '$f' must be an INTEGRAL column (got " +
          s"${df.schema(f).dataType.simpleString}) — the exact decimal " +
          "sums would silently round fractions; scale upstream (cents, " +
          "micros) to integers first")
      }
      val keys = keyList(spec, "groupBy")
      val x = col(xF).cast(DecimalType(38, 0))
      val y = col(yF).cast(DecimalType(38, 0))
      val agg = df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n"),
          sum(x).as("__sx"), sum(y).as("__sy"),
          sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
          sum(y * y).as("__syy"))
      val n = col("__n").cast("double")
      def d(c: String) = col(c).cast("double")
      val cov = n * d("__sxy") - d("__sx") * d("__sy")
      val vx = n * d("__sxx") - d("__sx") * d("__sx")
      val vy = n * d("__syy") - d("__sy") * d("__sy")
      val slope = cov / vx
      agg
        .withColumn("r", when(vx > 0 && vy > 0, cov / (sqrt(vx) * sqrt(vy)))
          .otherwise(lit(null).cast("double")))
        .withColumn("slope", when(vx > 0, slope).otherwise(lit(null).cast("double")))
        .withColumn("intercept",
          when(vx > 0, (d("__sy") - slope * d("__sx")) / n)
            .otherwise(lit(null).cast("double")))
        .withColumnRenamed("__n", "n")
        .drop("__sx", "__sy", "__sxy", "__sxx", "__syy")
    }

  /** `kanonymity`: k-anonymity enforcement over quasi-identifier
    * columns — the privacy companion of `piimask` (masking handles
    * DIRECT identifiers; re-identification risk lives in quasi-
    * identifier COMBINATIONS, and the standard bar is "every released
    * row shares its quasi tuple with ≥ k−1 others", Sweeney 2002).
    * Null quasi values form their own group (null-safe grouping), so
    * rows can't dodge the bar by carrying nulls.
    *
    * Options: `fields` (quasi-identifier columns, required), `k`
    * (default 2), `action` ∈ filter (default — drop rows in groups
    * smaller than k) | flag (keep all rows, add boolean `outputField`)
    * | suppress (keep all rows, NULL the quasi columns in small groups
    * — the release-everything-but-generalize posture), `outputField`
    * (default k_anonymous, flag mode only). `l` + `sensitiveField`
    * additionally enforce l-DIVERSITY: a released group must carry ≥ l
    * distinct non-null sensitive values (k alone leaks when a group is
    * sensitive-homogeneous). An all-null sensitive group counts 0
    * distinct, so once `sensitiveField` is set even l = 1 withholds
    * groups that reveal only nulls — documented, not a bug.
    *
    * Scale shape: ONE hash aggregation over the quasi tuple (map-side
    * combine) + one equi-join back on the tuple — group counts ride a
    * (tuple, long) frame; AQE broadcasts when the tuple space is
    * small. Never a window over every row. */
  def kAnonymity(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fields = spec.strList("fields")
      require(fields.nonEmpty, "kanonymity: `fields` (quasi-identifier columns) required")
      fields.foreach(f =>
        require(df.columns.contains(f), s"kanonymity: no column '$f'"))
      val k = spec.int("k", 2)
      require(k >= 2, s"kanonymity: k must be >= 2, got $k")
      val action = spec.strOr("action", "filter")
      val outF = spec.strOr("outputField", "k_anonymous")
      // optional l-diversity: each released quasi group must also carry
      // >= l DISTINCT values of the sensitive column (Machanavajjhala
      // 2006 — k alone leaks when a small group is sensitive-homogeneous)
      val lDiv = spec.int("l", 1)
      require(lDiv >= 1, s"kanonymity: l must be >= 1, got $lDiv")
      val sensitive = spec.str("sensitiveField")
      require(lDiv == 1 || sensitive.nonEmpty,
        "kanonymity: l > 1 requires `sensitiveField` (the column whose " +
        "values must stay diverse inside each quasi group)")
      sensitive.foreach(sf => require(df.columns.contains(sf),
        s"kanonymity: no column '$sf'"))
      val aggs = count(lit(1)).as("__kn") +:
        sensitive.map(sf => count_distinct(col(sf)).as("__ld")).toSeq
      val joined = attach(df, df.groupBy(fields.map(col): _*).agg(aggs.head, aggs.tail: _*),
        fields)
      val anon = sensitive.fold(col("__kn") >= k)(_ =>
        col("__kn") >= k && col("__ld") >= lDiv)
      (action match {
        case "filter" => joined.where(anon)
        case "flag" =>
          require(!df.columns.contains(outF),
            s"kanonymity: flag output column '$outF' exists — set outputField")
          joined.withColumn(outF, anon)
        case "suppress" => fields.foldLeft(joined) { (d, f) =>
          d.withColumn(f, when(anon, col(f))) }
        case other => sys.error(
          s"kanonymity: action must be filter|flag|suppress, got '$other'")
      }).drop("__kn", "__ld")
    }

  /** `tcloseness`: t-closeness enforcement — the third member of the
    * privacy trio ([[kAnonymity]]'s k bounds group SIZE, its l option
    * bounds sensitive VARIETY; t-closeness bounds the sensitive
    * DISTRIBUTION's distance from the corpus, Li 2007 — a group can be
    * large and diverse yet still leak by skew). The distance is the
    * EXACT total-variation form (the `drift` rational): per quasi
    * group g with per-value counts c_gv, group size n_g, global value
    * counts c_v and corpus size n,
    * `tvd_num(g) = Σ_{v∈g} |c_gv·n − c_v·n_g| + n_g·(n − Σ_{v∈g} c_v)`
    * (the closing term is the mass of values ABSENT from the group)
    * and `tvd = tvd_num / (2·n_g·n)` — exact longs, ONE division.
    * Groups with tvd > t fail. NULL sensitive values are real values;
    * NULL quasi values form real groups (null-safe throughout).
    *
    * Options: `fields` (quasi columns, required), `sensitiveField`
    * (required), `t` (required, in (0,1]), `action` ∈ filter (default
    * — drop failing groups' rows) | flag (keep all rows, add boolean
    * `outputField` + the group's `tvd`), `outputField` (default
    * t_close).
    *
    * Scale shape: ONE hash aggregation to (quasi, value) cells; global
    * value counts and the corpus total re-aggregate vocabulary-sized
    * frames and BROADCAST; the verdict joins back null-safely on the
    * quasi key — the same shape as kanonymity. Envelope: exact while
    * c_gv·n fits a long. */
  def tCloseness(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fields = spec.strList("fields")
      require(fields.nonEmpty, "tcloseness: `fields` (quasi columns) required")
      fields.foreach(f =>
        require(df.columns.contains(f), s"tcloseness: no column '$f'"))
      val sF = spec.str("sensitiveField").getOrElse(
        sys.error("tcloseness: `sensitiveField` required"))
      require(df.columns.contains(sF), s"tcloseness: no column '$sF'")
      val t = spec.str("t").map(_.toDouble).getOrElse(
        sys.error("tcloseness: `t` (max TVD, in (0,1]) required"))
      require(t > 0 && t <= 1, s"tcloseness: t must be in (0,1], got $t")
      val action = spec.strOr("action", "filter")
      val outF = spec.strOr("outputField", "t_close")
      val cells = df.groupBy((fields.map(col) :+ col(sF).as("__sv")): _*)
        .agg(count(lit(1)).as("__cgv"))
      val gv = cells.groupBy(col("__sv").as("__gv")).agg(sum("__cgv").as("__cv"))
      val tot = cells.groupBy().agg(sum("__cgv").as("__n"))
      // the group size n_g is needed INSIDE the |…| sum — a window-free
      // two-pass: group sizes first, joined back onto the cells
      val cellsG = attach(cells,
        cells.groupBy(fields.map(col): _*).agg(sum("__cgv").as("__ng0")), fields)
      val groups = cellsG
        .join(broadcast(gv), col("__sv") <=> col("__gv"))
        .crossJoin(broadcast(tot))
        .groupBy(fields.map(col): _*)
        .agg(max("__ng0").as("__ng"),
          sum(abs(col("__cgv") * col("__n") - col("__cv") * col("__ng0")))
            .as("__present"),
          sum("__cv").as("__cvsum"), max("__n").as("__nn"))
        .withColumn("__num",
          col("__present") + col("__ng") * (col("__nn") - col("__cvsum")))
        .withColumn("__tvd", col("__num").cast("double") /
          (col("__ng") * col("__nn") * 2L).cast("double"))
        .select(fields.map(col) :+ col("__tvd"): _*)
      val joined = attach(df, groups, fields)
      val ok = col("__tvd") <= t
      action match {
        case "filter" => joined.where(ok).drop("__tvd")
        case "flag" =>
          require(!df.columns.contains("tvd"),
            "tcloseness: flag mode emits a `tvd` column but the input " +
            "already has one — rename it upstream")
          require(!df.columns.contains(outF),
            s"tcloseness: flag output column '$outF' exists — set outputField")
          joined.withColumn(outF, ok).withColumnRenamed("__tvd", "tvd")
        case other => sys.error(
          s"tcloseness: action must be filter|flag, got '$other'")
      }
    }

  /** `chisquare`: χ² feature–class association over categorical
    * observation rows — the classic feature-selection statistic for
    * classifier-based corpus curation (which tokens/domains/attributes
    * separate the reference class from the rest). Input: one row per
    * observation carrying `featureField` and `classField` (tokenize +
    * explode upstream for term-level selection). Output: one row per
    * (feature, class) pair — `n11` (co-occurrences), `n_feature`,
    * `n_class`, `n` marginals and `chi2`, the 2×2 statistic
    * `n·(O11·O22 − O12·O21)² / (m1·m2·m3·m4)`.
    *
    * Determinism: the counts are exact longs; the contingency products
    * run in decimal(38,0) (no silent long overflow), convert to double
    * once, and `chi2` is then a FIXED-ORDER chain of IEEE multiplies
    * and one division — correctly-rounded ops, bit-identical across
    * engines when the oracle spells the same order (no libm anywhere).
    * Exactness envelope: products below 2^53 convert exactly (the
    * fixture scale by orders of magnitude); beyond, the value is still
    * deterministic per engine but the decimal→double rounding step may
    * differ from another engine's int128→double in the last ulp
    * (documented; the CLAUDE.md HUGEINT rule). Degenerate marginals
    * (feature in every row, single class…) yield null, not ±Inf.
    *
    * Scale shape: ONE corpus-sized hash aggregation to (feature,
    * class) pair counts; every later step is over the PAIR table —
    * feature marginals re-aggregate it, class marginals and the grand
    * total broadcast back (class cardinality is small by problem
    * shape). Joins are null-safe; features/classes may be null. */
  def chiSquare(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fF = spec.strOr("featureField", "feature")
      val cF = spec.strOr("classField", "class")
      Seq(fF, cF).foreach(f =>
        require(df.columns.contains(f), s"chisquare: no column '$f'"))
      val minCount = spec.long("minCount").getOrElse(1L)
      val pairs = df.groupBy(col(fF).as("__f"), col(cF).as("__c"))
        .agg(count(lit(1)).as("n11"))
      val fTot = pairs.groupBy(col("__f").as("__f2"))
        .agg(sum("n11").as("n_feature"))
      val cTot = pairs.groupBy(col("__c").as("__c2"))
        .agg(sum("n11").as("n_class"))
      val tot = pairs.agg(sum("n11").as("n"))
      def dec(c: Column) = c.cast(DecimalType(19, 0))
      val o11 = col("n11")
      val o12 = col("n_feature") - col("n11")
      val o21 = col("n_class") - col("n11")
      val o22 = col("n") - col("n_feature") - col("n_class") + col("n11")
      // diff in decimal(38): exact at any count scale, ONE rounding on
      // the double cast; chi2 then multiplies/divides in a fixed order
      val diff = (dec(o11) * dec(o22) - dec(o12) * dec(o21)).cast("double")
      val m1 = col("n_feature").cast("double")
      val m2 = (col("n") - col("n_feature")).cast("double")
      val m3 = col("n_class").cast("double")
      val m4 = (col("n") - col("n_class")).cast("double")
      val den = m1 * m2 * m3 * m4
      pairs
        .join(fTot, col("__f") <=> col("__f2")).drop("__f2")
        .join(broadcast(cTot), col("__c") <=> col("__c2")).drop("__c2")
        .crossJoin(broadcast(tot))
        .where(col("n11") >= minCount)
        .withColumn("chi2", when(den > 0,
            col("n").cast("double") * diff * diff / den)
          .otherwise(lit(null).cast("double")))
        .withColumnRenamed("__f", fF).withColumnRenamed("__c", cF)
    }

  /** `onehot`: one-hot (dummy) encoding of a LOW-cardinality
    * categorical — one 0/1 column per vocabulary value, the
    * featurization counterpart of [[labelEncode]]'s dense ids. The
    * vocabulary is read once at plan time (bounded collect, ≤
    * `maxCardinality` + 1 rows — one-hot is WIDE-SCHEMA by nature, so
    * the cap is small and the overflow error names [[featureHash]] as
    * the scalable migration). Column order is the sorted vocabulary
    * (deterministic run to run); names are `<prefix>_<value>` with
    * non-alphanumerics folded to `_` (a post-fold collision fails
    * loud rather than silently merging categories). NULL input rows
    * get all zeros (the standard dummy convention — no column claims
    * them). `dropFirst` (default false) drops the first sorted level,
    * the regression dummy-trap convention.
    *
    * Scale shape: after the bounded vocabulary probe, a pure per-row
    * projection — the vocabulary ships in the plan, no join, no
    * shuffle. */
  def oneHot(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.str("field").getOrElse(sys.error("onehot: `field` required"))
      require(df.columns.contains(f), s"onehot: no column '$f'")
      val prefix = spec.strOr("prefix", f)
      val maxCard = spec.long("maxCardinality").getOrElse(64L)
      require(maxCard >= 1, s"onehot: maxCardinality must be >= 1, got $maxCard")
      val cap = math.min(maxCard + 1, Int.MaxValue.toLong).toInt
      val vals = df.select(col(f).cast("string").as("__v"))
        .where(col("__v").isNotNull).distinct()
        .limit(cap).collect().map(_.getString(0))
      if (vals.length > maxCard) sys.error(
        s"onehot: column '$f' has more than $maxCard distinct values — " +
        "one-hot creates a column per value and does not scale to high " +
        "cardinality. Use `featurehash` for a fixed-width encoding, or " +
        "raise maxCardinality if the vocabulary is genuinely this small")
      val sorted = vals.sorted.toSeq
      val keep = if (spec.bool("dropFirst", dflt = false)) sorted.drop(1) else sorted
      def sanitize(v: String) = v.replaceAll("[^A-Za-z0-9_]", "_")
      val names = keep.map(v => s"${prefix}_${sanitize(v)}")
      require(names.distinct.size == names.size,
        s"onehot: sanitized column names collide (${names.mkString(", ")}) — " +
        "set a different `prefix` or pre-clean the values")
      require(names.forall(!df.columns.contains(_)),
        s"onehot: an output column already exists — set `prefix`")
      keep.zip(names).foldLeft(df) { case (d, (v, n)) =>
        d.withColumn(n,
          when(col(f).cast("string") === lit(v), 1L).otherwise(0L))
      }
    }

  /** `percentrank`: rank-normalized position of each row's `field`
    * within its group — the distribution-free feature scaling
    * ([[minMaxScale]]'s robust cousin: outliers can't stretch it).
    * Emits `<field>_pct` = (rank − 1) / (n − 1) with ties sharing a
    * rank (SQL `percent_rank` in both engines — two exact longs, one
    * IEEE division; a single-row group scores 0.0). NULL values sort
    * FIRST (Spark's ascending default — spell `NULLS FIRST` in any
    * comparing oracle).
    *
    * Options: `field` (required), `groupBy` (list — REQUIRED unless
    * `global` is set true), `outputField` (default `<field>_pct`).
    * Keyless `global:true` with an INTEGRAL field takes the SCALABLE
    * path: per-distinct-value counts + the two-level 256-bucket rank
    * prefix ([[GroupStats.runningBelow]]) joined back by value — identical
    * percent_rank results (ties share the first peer's rank, NULL is
    * the lowest value), and nothing ever sorts through one partition.
    * A keyless NON-integral field still costs one global sort on a
    * single reducer (the [[labelEncode]] hazard) — `global:true`
    * accepts that explicitly; [[quantileBin]] is the binned
    * alternative.
    *
    * Scale shape (grouped): ONE keyed window — exchange on the group
    * hash, per-partition sort, rank streamed. */
  def percentRank(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.str("field").getOrElse(sys.error("percentrank: `field` required"))
      require(df.columns.contains(f), s"percentrank: no column '$f'")
      val groupCols = keyList(spec, "groupBy")
      groupCols.foreach(g =>
        require(df.columns.contains(g), s"percentrank: no column '$g'"))
      if (groupCols.isEmpty) require(spec.bool("global", dflt = false),
        "percentrank: no `groupBy` — a keyless percent_rank over a " +
        "non-integral field is ONE global sort on a single reducer. Set " +
        "global:true to accept that (integral fields take a scalable " +
        "distributed path), or use `quantilebin` for a binned rank")
      val out = spec.strOr("outputField", s"${f}_pct")
      require(!df.columns.contains(out),
        s"percentrank: output column '$out' exists — set outputField")
      val integral = Set[DataType](LongType, IntegerType, ShortType, ByteType)
        .contains(df.schema(f).dataType)
      if (groupCols.isEmpty && integral) {
        // scalable keyless path: percent_rank(v) = below(v) / (n−1)
        // (ties share the first peer's rank); below via the two-level
        // prefix over distinct values, NULL the lowest (null-safe
        // grouping + a null-first bucket)
        val counts = df.groupBy(col(f).as("__v")).agg(count(lit(1)).as("__c"))
        val keyed = rangeBucket(counts, "__v", Nil, "percentrank", sum("__c").as("__n"))
        val below = runningBelow(keyed, Nil, Seq(col("__v").asc), "__c" -> "__below")
          .select(col("__v").as(f), col("__below"), col("__n"))
        // value-cardinality frame: attached keyed by value, so never
        // force-broadcast (ids would blow the driver)
        attach(df, below, Seq(f))
          .withColumn(out, when(col("__n") > 1,
            col("__below").cast("double") / (col("__n") - 1L).cast("double"))
            .otherwise(lit(0.0)))
          .drop("__below", "__n")
      } else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*).orderBy(col(f).asc)
        df.withColumn(out, percent_rank().over(w))
      }
    }

  /** `proportions`: per-group success rates with WILSON score
    * confidence intervals — the A/B-test / conversion-metric primitive
    * (plain ±1.96·√(p̂q̂/n) misbehaves at small n and p near 0/1;
    * Wilson 1927 is the standard fix). Per group: `n` (trials),
    * `successes`, `rate` = s/n and `ci_low`/`ci_high` from
    * center ± half where, with t = z²/n,
    * center = (p̂ + t/2) / (1 + t) and
    * half = z·√(p̂(1−p̂)/n + z²/(4n²)) / (1 + t).
    * Determinism: counts are exact longs; every later op is +,−,×,÷,√
    * — all CORRECTLY-ROUNDED IEEE — in one fixed expression order, so
    * an oracle spelling the same tree hash-matches (no libm anywhere;
    * z ships as a literal, default 1.96).
    *
    * Options: `successField` (required — boolean, or numeric where
    * nonzero = success; NULL rows are not trials), `groupBy` (list —
    * global one-row result when absent), `z` (default 1.96).
    *
    * Scale shape: ONE hash aggregation with map-side combine; the CI
    * arithmetic is a projection over the group-count frame. */
  def proportions(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val sF = spec.str("successField").getOrElse(
        sys.error("proportions: `successField` required"))
      require(df.columns.contains(sF), s"proportions: no column '$sF'")
      val groupCols = keyList(spec, "groupBy")
      groupCols.foreach(g =>
        require(df.columns.contains(g), s"proportions: no column '$g'"))
      val z = spec.str("z").map(_.toDouble).getOrElse(1.96)
      require(z > 0, s"proportions: z must be positive, got $z")
      val isSuccess = df.schema(sF).dataType match {
        case org.apache.spark.sql.types.BooleanType => col(sF)
        case _: org.apache.spark.sql.types.NumericType => col(sF) =!= 0
        case other => sys.error(
          s"proportions: successField '$sF' must be boolean or numeric, got $other")
      }
      val agg = df.where(col(sF).isNotNull)
        .groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n"),
          sum(when(isSuccess, 1L).otherwise(0L)).as("successes"))
      val nD = col("n").cast("double")
      val p = col("successes").cast("double") / nD
      val t = lit(z * z) / nD
      val center = (p + t / lit(2.0)) / (lit(1.0) + t)
      val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nD +
        lit(z * z) / (lit(4.0) * nD * nD))) / (lit(1.0) + t)
      agg
        .withColumn("rate", p)
        .withColumn("ci_low", center - half)
        .withColumn("ci_high", center + half)
    }

  /** `entropy`: categorical-distribution entropy per group — the
    * data-profiling signal behind "is this column informative /
    * near-constant / an id in disguise", and the label-balance check
    * for classifier curation. Shannon entropy needs libm log, so the
    * stage computes the codebase's INTEGER-BITS analog: per value v
    * with count n_v in a group of n rows, the floor-log2 surprise
    * ⌊log2(n div n_v)⌋ = length(bin(n div n_v)) − 1 (0 bits for a
    * constant column, ~log2(distinct) for uniform ids — monotone in
    * the Shannon value, bit-identical across engines). Output per
    * group: `n`, `distinct_vals`, `info_bits` (exact long numerator
    * Σ n_v·surprise) and `entropy_bits` = info_bits / n (ONE IEEE
    * division). NULL is a real value (it counts as its own category)
    * and a query stage replaces the stream.
    *
    * Options: `field` (required), `groupBy` (optional — global one-row
    * result otherwise).
    *
    * Scale shape: ONE corpus hash aggregation to (group, value)
    * counts; group totals RE-AGGREGATE that frame (vocabulary-sized)
    * and join back group-keyed (broadcast when global); the closing
    * per-group aggregation runs over the same small frame. */
  def entropy(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fieldName = spec.str("field").getOrElse(
        sys.error("entropy: `field` required"))
      require(df.columns.contains(fieldName), s"entropy: no column '$fieldName'")
      val groupCols = keyList(spec, "groupBy")
      groupCols.foreach(g =>
        require(df.columns.contains(g), s"entropy: no column '$g'"))
      val vc = df.groupBy((groupCols :+ fieldName).map(col): _*)
        .agg(count(lit(1)).as("__nv"))
      val joined = attach(vc, vc.groupBy(groupCols.map(col): _*)
        .agg(sum("__nv").as("__n"), count(lit(1)).as("__dv")), groupCols)
      val surprise = (length(bin(expr("__n div __nv"))) - 1).cast("long")
      joined
        .withColumn("__bits", col("__nv") * surprise)
        .groupBy(groupCols.map(col): _*)
        .agg(max("__n").as("n"), max("__dv").as("distinct_vals"),
          sum("__bits").as("info_bits"))
        .withColumn("entropy_bits",
          col("info_bits").cast("double") / col("n").cast("double"))
    }

  /** `robustscale`: per-group median/IQR scaling —
    * (x − median)/(q3 − q1), the outlier-immune member of the scaler
    * family (`zscore`'s mean/stddev moves with every outlier; `minmax`
    * is pinned BY the outliers). Exact-mode `percentile` quantiles
    * (the same interpolation tree DuckDB's `quantile_cont` executes —
    * evidence: the quantilebin oracle is hash-exact at both scales),
    * then ONE fixed (−,÷) IEEE tree per row. Zero-IQR groups yield
    * null, not a division blow-up; null values pass through null.
    *
    * Options: `field` (numeric, required), `keyField` (optional
    * comma-separated), `outputField` (default `<field>_robust`),
    * `mode` ∈ exact (default — buffers each group's values, same
    * contract as `quantiles` exact) | approx (GK sketch, scale mode,
    * NOT oracle-exact).
    *
    * Scale shape: ONE hash aggregation to per-group quantile triples +
    * a null-safe key join back (broadcast when keyless) — the
    * StatStages shape, never a window over rows. */
  def robustScale(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fld = spec.str("field").getOrElse(
        sys.error("robustscale: `field` required"))
      require(df.columns.contains(fld), s"robustscale: no column '$fld'")
      require(df.schema(fld).dataType.isInstanceOf[NumericType],
        s"robustscale: '$fld' must be numeric, is ${df.schema(fld).dataType.simpleString}")
      val keys = keyList(spec, "keyField")
      keys.foreach(k => require(df.columns.contains(k), s"robustscale: no key column '$k'"))
      val out = spec.strOr("outputField", s"${fld}_robust")
      require(!df.columns.contains(out),
        s"robustscale: output column '$out' exists — set outputField")
      val probsArr = array(lit(0.25), lit(0.5), lit(0.75))
      val aggCol = spec.strOr("mode", "exact") match {
        case "exact" => percentile(col(fld), probsArr)
        case "approx" =>
          percentile_approx(col(fld), probsArr, lit(spec.int("accuracy", 10000)))
        case other => sys.error(s"robustscale: mode must be exact|approx, got '$other'")
      }
      val q = df.groupBy(keys.map(col): _*)
        .agg(element_at(aggCol, 1).as("__q1"), element_at(aggCol, 2).as("__med"),
          element_at(aggCol, 3).as("__q3"))
      attach(df, q, keys)
        .withColumn(out, when(col("__q3") > col("__q1"),
          (col(fld).cast("double") - col("__med")) / (col("__q3") - col("__q1"))))
        .drop("__q1", "__med", "__q3")
    }

  /** `gini`: EXACT Gini impurity of a categorical column per group —
    * `entropy`'s companion with no logarithm anywhere: gini =
    * 1 − Σ p_v² = (n² − Σ n_v²) / n², so the numerator and denominator
    * are exact longs and the result is ONE correctly-rounded IEEE
    * division (entropy's floor-log2 bits are monotone but quantized;
    * gini is the exact impurity number a split-quality or
    * label-balance check wants). 0 for a constant column,
    * → 1 − 1/distinct for uniform. NULL is a real category. Output per
    * group: `n`, `distinct_vals`, `gini_num` (the exact numerator),
    * `gini`. Envelope: exact while n² fits a long (n < ~3·10⁹ rows per
    * group).
    *
    * Options: `field` (required), `groupBy` (optional — global
    * one-row result otherwise).
    *
    * Scale shape: same as `entropy` — ONE corpus hash aggregation to
    * (group, value) counts, then a group-keyed re-aggregation of that
    * vocabulary-sized frame; no joins back to the data. */
  def gini(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fieldName = spec.str("field").getOrElse(
        sys.error("gini: `field` required"))
      require(df.columns.contains(fieldName), s"gini: no column '$fieldName'")
      val groupCols = keyList(spec, "groupBy")
      groupCols.foreach(g =>
        require(df.columns.contains(g), s"gini: no column '$g'"))
      df.groupBy((groupCols :+ fieldName).map(col): _*)
        .agg(count(lit(1)).as("__nv"))
        .groupBy(groupCols.map(col): _*)
        .agg(sum("__nv").as("n"), count(lit(1)).as("distinct_vals"),
          sum(col("__nv") * col("__nv")).as("__ss"))
        .withColumn("gini_num", col("n") * col("n") - col("__ss"))
        .withColumn("gini",
          col("gini_num").cast("double") / (col("n") * col("n")).cast("double"))
        .drop("__ss")
    }

  /** `mutualinfo`: feature↔class association strength per feature in
    * the codebase's INTEGER-BITS rule — the feature-selection
    * companion of `chisquare` (χ² ranks by deviation magnitude; MI
    * ranks by information). Per (feature, class) cell with count n_fc,
    * feature marginal n_f, class marginal n_c and corpus total N, the
    * pointwise association is the signed floor-log2 ratio of
    * a = n_fc·N against b = n_f·n_c (the `freqpairs` lift rule:
    * +⌊log2(a div b)⌋+1 when a ≥ b, else the negative of the mirror),
    * and `mi_bits` = Σ_c n_fc·bits_fc — an exact long, monotone in the
    * Shannon MI numerator and bit-identical across engines.
    * `mi_rate` = mi_bits / n_f is ONE IEEE division. Envelope: exact
    * while n_fc·N and n_f·n_c fit a long. NULL features or classes are
    * observations of nothing and are dropped (documented, same rule as
    * `freqpairs`).
    *
    * Options: `featureField`, `classField` (required), `minCount`
    * (default 1 — prune features with fewer total observations).
    *
    * Scale shape: ONE hash aggregation to (feature, class) cells;
    * feature marginals RE-AGGREGATE that frame (vocabulary-sized) and
    * ride a key join; class marginals and the total are tiny and
    * BROADCAST. Nothing joins back to the raw rows. */
  def mutualInfo(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fF = spec.str("featureField").getOrElse(
        sys.error("mutualinfo: `featureField` required"))
      val cF = spec.str("classField").getOrElse(
        sys.error("mutualinfo: `classField` required"))
      Seq(fF, cF).foreach(f =>
        require(df.columns.contains(f), s"mutualinfo: no column '$f'"))
      val minCount = spec.long("minCount").getOrElse(1L)
      require(minCount >= 1, s"mutualinfo: minCount must be >= 1, got $minCount")
      val cells = df
        .where(col(fF).isNotNull && col(cF).isNotNull)
        .groupBy(col(fF).as("__f"), col(cF).as("__c"))
        .agg(count(lit(1)).as("__nfc"))
      val fm = cells.groupBy(col("__f").as("__fm_f"))
        .agg(sum("__nfc").as("__nf"))
        .where(col("__nf") >= minCount)
      val cm = cells.groupBy(col("__c").as("__cm_c"))
        .agg(sum("__nfc").as("__nc"))
      val tot = cells.groupBy().agg(sum("__nfc").as("__tot"))
      cells
        .join(fm, col("__f") === col("__fm_f"))
        .join(broadcast(cm), col("__c") === col("__cm_c"))
        .crossJoin(broadcast(tot))
        .withColumn("__a", col("__nfc") * col("__tot"))
        .withColumn("__b", col("__nf") * col("__nc"))
        .withColumn("__bits", when(col("__a") >= col("__b"),
            length(bin(expr("__a div __b"))).cast("long"))
          .otherwise(-length(bin(expr("__b div __a"))).cast("long")))
        .groupBy(col("__f").as("feature"))
        .agg(max("__nf").as("n"),
          sum(col("__nfc") * col("__bits")).as("mi_bits"))
        .withColumn("mi_rate",
          col("mi_bits").cast("double") / col("n").cast("double"))
    }

  /** `freqpairs`: frequent item-pair mining over basket rows (market-
    * basket / co-occurrence analysis — the level-2 Apriori pass, which
    * in practice IS the useful one at corpus scale). Input: one row per
    * (basket, item) observation; items dedup within a basket (set
    * semantics). Output: one row per unordered item pair (`item1` <
    * `item2`) seen in ≥ `minCount` baskets — `n_pair`, per-item basket
    * counts `n_item1`/`n_item2`, `n_baskets`, `support` = n_pair /
    * n_baskets (two exact longs, ONE IEEE division) and `lift_bits`,
    * the association strength in the codebase's integer-bits rule:
    * ±(⌊log2(a div b)⌋ + 1) for a = n_pair·n_baskets,
    * b = n_item1·n_item2 — positive ⇒ the pair co-occurs more than
    * independence predicts. Envelope: exact while a and b fit a long.
    *
    * Options: `basketField`/`itemField` (required), `minCount`
    * (default 2), `maxBasketSize` (default 1000) with `oversizeAction`
    * ∈ error (default — a basket of size s yields s(s−1)/2 pairs, so
    * the stage fails LOUD past the cap, bounded one-row probe) | drop
    * (exclude oversized baskets, the production sampling posture).
    *
    * Scale shape (r19 optimization round, guide §2.3/§2.4): ONE
    * basket-keyed exchange builds the per-basket distinct item SET
    * (`collect_set`, map-side partials), checkpointed as row blocks —
    * the oversize guard, the basket total, the item marginals and the
    * pair table are all single passes over that materialization. Pair
    * candidates are generated IN ROW (sorted set → ordered index pairs
    * via codegen'd array HOFs): s(s−1)/2 rows per basket where the
    * former basket-id self-join emitted s² join candidates and read its
    * exchange twice, and the item marginals no longer re-aggregate the
    * observation frame twice (the aggregate is checkpointed node-sized
    * and broadcast into both attach joins). The one-row total
    * broadcasts. Null baskets/items are observations of nothing — they
    * are dropped (documented, not silent: a null item cannot pair). */
  def freqPairs(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val bF = spec.str("basketField").getOrElse(
        sys.error("freqpairs: `basketField` required"))
      val iF = spec.str("itemField").getOrElse(
        sys.error("freqpairs: `itemField` required"))
      Seq(bF, iF).foreach(f =>
        require(df.columns.contains(f), s"freqpairs: no column '$f'"))
      val minCount = spec.long("minCount").getOrElse(2L)
      val maxBasket = spec.long("maxBasketSize").getOrElse(1000L)
      require(maxBasket >= 2, s"freqpairs: maxBasketSize must be >= 2, got $maxBasket")
      val ck = Stages.checkpointerOf(spec, ctx)
      // one exchange on the basket id; the sorted distinct item set is
      // the whole downstream working state (sort_array gives the
      // item1 < item2 pair order for free: the set is distinct, so
      // arr[i] < arr[j] strictly for i < j)
      val baskets0 = ck(df.select(col(bF).as("__bk"), col(iF).as("__it"))
        .where(col("__bk").isNotNull && col("__it").isNotNull)
        .groupBy("__bk").agg(sort_array(collect_set(col("__it"))).as("__arr")))
      val baskets = spec.strOr("oversizeAction", "error") match {
        case "error" =>
          if (!baskets0.where(size(col("__arr")) > maxBasket).limit(1).isEmpty)
            sys.error(s"freqpairs: a basket exceeds maxBasketSize=$maxBasket " +
              "(s(s-1)/2 pairs per basket — raise the cap or use oversizeAction=drop)")
          baskets0
        case "drop" =>
          baskets0.where(size(col("__arr")) <= maxBasket)
        case other => sys.error(
          s"freqpairs: oversizeAction must be error|drop, got '$other'")
      }
      val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
      // item marginals: node-sized, checkpointed so the two attach
      // joins below don't each re-run the aggregate
      val itemCnt = ck(baskets.select(explode(col("__arr")).as("__it"))
        .groupBy(col("__it")).agg(count(lit(1)).as("__ni")))
      val pairs = baskets.select(explode(expr(
          "flatten(transform(__arr, (x, i) -> " +
          "transform(slice(__arr, i + 2, size(__arr) - i - 1), " +
          "y -> struct(x AS item1, y AS item2))))")).as("__pr"))
        .select(col("__pr.item1").as("item1"), col("__pr.item2").as("item2"))
        .groupBy("item1", "item2").agg(count(lit(1)).as("n_pair"))
        .where(col("n_pair") >= minCount)
      pairs
        .join(itemCnt.select(col("__it").as("item1"), col("__ni").as("n_item1")), Seq("item1"))
        .join(itemCnt.select(col("__it").as("item2"), col("__ni").as("n_item2")), Seq("item2"))
        .crossJoin(broadcast(nBaskets))
        .withColumn("support",
          col("n_pair").cast("double") / col("n_baskets").cast("double"))
        .withColumn("__a", col("n_pair") * col("n_baskets"))
        .withColumn("__b", col("n_item1") * col("n_item2"))
        .withColumn("lift_bits", when(col("__a") >= col("__b"),
            length(bin(expr("__a div __b"))).cast("long"))
          .otherwise(-length(bin(expr("__b div __a"))).cast("long")))
        .select((Seq("item1", "item2", "n_pair", "n_item1", "n_item2",
          "n_baskets", "support", "lift_bits").map(col)): _*)
    }

  /** `regressioneval`: regression-model evaluation from (actual,
    * predicted) numeric pairs — [[classifyEval]]'s sibling for
    * continuous targets. Both columns must be INTEGRAL (quantize
    * upstream — same contract as `correlate`): the error sums then
    * accumulate EXACTLY in longs and every metric closes in a fixed
    * IEEE tree: `mae` = Σ|e|/n, `mse` = Σe²/n, `rmse` = √mse, and
    * `r2` = 1 − n·Σe² / (n·Σy² − (Σy)²) — the 1-minus-ratio spelled
    * over exact integer numerator/denominator (zero-variance actuals
    * → null r2, not ±Inf). Rows with NULL on either side are not
    * scored. Envelope: exact while n·Σe² fits a long.
    *
    * Options: `labelField`, `predField` (integral, required),
    * `groupBy` (optional — global one-row result otherwise). Output
    * per group: n, mae, mse, rmse, r2.
    *
    * Scale shape: ONE hash aggregation with map-side combine; metrics
    * are projections over the group-count frame. */
  def regressionEval(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val lF = spec.str("labelField").getOrElse(
        sys.error("regressioneval: `labelField` required"))
      val pF = spec.str("predField").getOrElse(
        sys.error("regressioneval: `predField` required"))
      Seq(lF, pF).foreach { f =>
        require(df.columns.contains(f), s"regressioneval: no column '$f'")
        require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
            .contains(df.schema(f).dataType),
          s"regressioneval: '$f' must be an INTEGRAL column (got " +
          s"${df.schema(f).dataType.simpleString}) — exact error sums; " +
          "scale upstream (cents, micros) to integers first")
      }
      val groupCols = keyList(spec, "groupBy")
      groupCols.foreach(g =>
        require(df.columns.contains(g), s"regressioneval: no column '$g'"))
      val y = col(lF).cast("long")
      val e = col(pF).cast("long") - y
      val agg = df.where(col(lF).isNotNull && col(pF).isNotNull)
        .groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n"),
          sum(abs(e)).as("__sae"), sum(e * e).as("__sse"),
          sum(y).as("__sy"), sum(y * y).as("__syy"))
      val nD = col("n").cast("double")
      val sstNum = col("n") * col("__syy") - col("__sy") * col("__sy")
      agg
        .withColumn("mae", col("__sae").cast("double") / nD)
        .withColumn("mse", col("__sse").cast("double") / nD)
        .withColumn("rmse", sqrt(col("__sse").cast("double") / nD))
        .withColumn("r2", when(sstNum > 0, lit(1.0) -
          (col("n") * col("__sse")).cast("double") / sstNum.cast("double")))
        .drop("__sae", "__sse", "__sy", "__syy")
    }

  /** `calibration`: reliability-curve bins for a probabilistic
    * classifier — per confidence bin, does the predicted probability
    * match the observed rate? ([[proportions]] gives one arm's CI;
    * calibration ranks a SCORE axis.) Scores must be INTEGRAL on a
    * declared `scale` (e.g. permille: scale=1000) — bin
    * b = score·bins div (scale+1), exact integer arithmetic. Per bin:
    * `n`, `conf` = (Σscore/n)/scale (mean predicted probability — two
    * exact longs, division then division by the scale literal) and
    * `acc` = positives/n (ONE division), plus `gap` = acc − conf (the
    * per-bin calibration error, sign = over/under-confidence). Rows
    * with NULL score or label are not scored.
    *
    * Options: `scoreField` (integral, required), `labelField` (boolean
    * or numeric nonzero = positive, required), `bins` (default 10),
    * `scale` (default 1000 — the score value meaning probability 1).
    *
    * Scale shape: ONE hash aggregation to ≤ `bins` rows. */
  def calibration(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val sF = spec.str("scoreField").getOrElse(
        sys.error("calibration: `scoreField` required"))
      val lF = spec.str("labelField").getOrElse(
        sys.error("calibration: `labelField` required"))
      Seq(sF, lF).foreach(f =>
        require(df.columns.contains(f), s"calibration: no column '$f'"))
      require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
          .contains(df.schema(sF).dataType),
        s"calibration: scoreField '$sF' must be an INTEGRAL column (got " +
        s"${df.schema(sF).dataType.simpleString}) — quantize probabilities " +
        "to a declared scale (default permille) upstream")
      val bins = spec.int("bins", 10)
      require(bins >= 2 && bins <= 10000,
        s"calibration: bins must be in [2,10000], got $bins")
      val scale = spec.long("scale").getOrElse(1000L)
      require(scale >= 1, s"calibration: scale must be >= 1, got $scale")
      val isPos = df.schema(lF).dataType match {
        case BooleanType => col(lF)
        case _: NumericType => col(lF) =!= 0
        case other => sys.error(
          s"calibration: labelField '$lF' must be boolean or numeric, got $other")
      }
      // range contract enforced IN-PLAN (no extra probe job): a score
      // outside [0, scale] would silently pollute bin 0 / emit phantom
      // bins past `bins` — fail loud at the first offending row instead
      df.where(col(sF).isNotNull && col(lF).isNotNull)
        .withColumn("__bin", coalesce(
          when(col(sF) < 0 || col(sF) > scale, raise_error(concat(
            lit(s"calibration: score in '$sF' outside [0, $scale] (got "),
            col(sF).cast("string"),
            lit(") — quantize to the declared scale upstream")))),
          expr(s"(cast(`$sF` as bigint) * $bins) div ${scale + 1}")))
        .groupBy(col("__bin").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col(sF).cast("long")).as("__ss"),
          sum(when(isPos, 1L).otherwise(0L)).as("__pos"))
        .withColumn("conf",
          col("__ss").cast("double") / col("n").cast("double") /
            lit(scale.toDouble))
        .withColumn("acc", col("__pos").cast("double") / col("n").cast("double"))
        .withColumn("gap", col("acc") - col("conf"))
        .withColumnRenamed("__pos", "positives")
        .drop("__ss")
    }

  /** `abtest`: two-proportion z statistics of every variant against a
    * named CONTROL — the decision layer over [[proportions]]' per-group
    * CIs (CIs describe each arm; the z-test compares arms). Per variant
    * v with (n₁, s₁) against control (n₀, s₀):
    * pooled p̂ = (s₁+s₀)/(n₁+n₀), se = √(p̂(1−p̂)(1/n₁ + 1/n₀)),
    * z = (p₁ − p₀)/se — counts exact longs, every later op one fixed
    * correctly-rounded IEEE tree (same determinism posture as
    * `proportions`; an oracle spelling the identical tree with DOUBLE-
    * cast literals hash-matches). Degenerate arms (pooled rate 0 or 1,
    * or an empty arm) emit null z. NULL success values are not trials.
    *
    * Options: `variantField`, `successField` (boolean or numeric where
    * nonzero = success; both required), `control` (the variant VALUE
    * serving as baseline, required — the stage fails LOUD if absent).
    * Output: one row per non-control variant — variant, n, successes,
    * rate, control_n, control_successes, control_rate, z.
    *
    * Scale shape: ONE hash aggregation to the variant table
    * (arm-cardinality), the control row broadcast back as one row. */
  def abTest(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val vF = spec.str("variantField").getOrElse(
        sys.error("abtest: `variantField` required"))
      val sF = spec.str("successField").getOrElse(
        sys.error("abtest: `successField` required"))
      Seq(vF, sF).foreach(f =>
        require(df.columns.contains(f), s"abtest: no column '$f'"))
      val control = spec.str("control").getOrElse(
        sys.error("abtest: `control` (baseline variant value) required"))
      val isSuccess = df.schema(sF).dataType match {
        case BooleanType => col(sF)
        case _: NumericType => col(sF) =!= 0
        case other => sys.error(
          s"abtest: successField '$sF' must be boolean or numeric, got $other")
      }
      val arms = df.where(col(sF).isNotNull)
        .groupBy(col(vF).cast("string").as("variant"))
        .agg(count(lit(1)).as("n"),
          sum(when(isSuccess, 1L).otherwise(0L)).as("successes"))
      val ctl = arms.where(col("variant") === control)
        .select(col("n").as("control_n"),
          col("successes").as("control_successes"))
      if (ctl.limit(1).isEmpty) sys.error(
        s"abtest: control variant '$control' has no rows — nothing to test against")
      val n1 = col("n").cast("double")
      val n0 = col("control_n").cast("double")
      val p1 = col("successes").cast("double") / n1
      val p0 = col("control_successes").cast("double") / n0
      val pp = (col("successes") + col("control_successes")).cast("double") /
        (col("n") + col("control_n")).cast("double")
      val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n0))
      arms.where(col("variant") =!= control)
        .crossJoin(broadcast(ctl))
        .withColumn("rate", p1)
        .withColumn("control_rate", p0)
        .withColumn("z", when(pp > 0 && pp < 1, (p1 - p0) / se))
        .select("variant", "n", "successes", "rate",
          "control_n", "control_successes", "control_rate", "z")
    }

  /** `survival`: EXACT Kaplan–Meier survival curves — the
    * time-to-event primitive behind churn/retention analysis
    * ([[TemporalStages]]' cohortretention counts fixed periods; KM
    * handles CENSORING: a subject still alive at cutoff contributes
    * risk-time without an event). Input: one row per subject with an
    * integral `timeField` (quantize to days/weeks upstream — same
    * contract as `correlate`) and an `eventField` (true/nonzero =
    * event, false/0 = censored at that time). Per distinct time t with
    * d_t events among n_t at risk: S(t) = Π_{u ≤ t} (1 − d_u/n_u).
    * Determinism: d and n are exact longs; each factor is ONE IEEE
    * division + subtract, and the product folds LEFT-TO-RIGHT in
    * ascending-time order with the seed-from-first convention — the
    * exact op order of DuckDB's `list_reduce`, so the oracle is
    * hash-exact (same mirror as `ewma`).
    *
    * Options: `timeField` (integral, required), `eventField`
    * (required), `groupBy` (optional — global curve otherwise),
    * `maxTimes` (default 4096 — LOUD guard on distinct times per
    * group: the per-row fold buffer is one double per distinct time,
    * and an unquantized float time column would make it the job).
    * Rows with NULL time or event are not observations. Output: one
    * row per (group, time): time, n_risk, events, censored, survival.
    *
    * Scale shape: ONE hash aggregation to (group, time) cells; the
    * at-risk counts and the product fold are windows over THAT frame
    * (≤ maxTimes rows per group, guarded — never over subject rows).
    * Subjects shuffle once, as counts. */
  def survival(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val tF = spec.str("timeField").getOrElse(
        sys.error("survival: `timeField` required"))
      val eF = spec.str("eventField").getOrElse(
        sys.error("survival: `eventField` required"))
      Seq(tF, eF).foreach(f =>
        require(df.columns.contains(f), s"survival: no column '$f'"))
      require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
          .contains(df.schema(tF).dataType),
        s"survival: timeField '$tF' must be an INTEGRAL column (got " +
        s"${df.schema(tF).dataType.simpleString}) — quantize to " +
        "days/weeks upstream; distinct times bound the fold buffer")
      val groupCols = keyList(spec, "groupBy")
      groupCols.foreach(g =>
        require(df.columns.contains(g), s"survival: no column '$g'"))
      val maxTimes = spec.long("maxTimes").getOrElse(4096L)
      require(maxTimes >= 1, s"survival: maxTimes must be >= 1, got $maxTimes")
      val isEvent = df.schema(eF).dataType match {
        case BooleanType => col(eF)
        case _: NumericType => col(eF) =!= 0
        case other => sys.error(
          s"survival: eventField '$eF' must be boolean or numeric, got $other")
      }
      val cells = df.where(col(tF).isNotNull && col(eF).isNotNull)
        .groupBy((groupCols :+ tF).map(col): _*)
        .agg(sum(when(isEvent, 1L).otherwise(0L)).as("events"),
          count(lit(1)).as("__cnt"))
      // LOUD per-group distinct-time guard (bounded probe over the
      // cell frame, which is already vocabulary-sized)
      val oversized = cells.groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("__nt")).where(col("__nt") > maxTimes)
      if (!oversized.limit(1).isEmpty) sys.error(
        s"survival: a group has more than maxTimes=$maxTimes distinct " +
        "times — the per-row fold buffer would grow with it. Quantize " +
        s"'$tF' coarser, or raise maxTimes if the size is intended")
      val W = org.apache.spark.sql.expressions.Window
      val wPre = W.partitionBy(groupCols.map(col): _*).orderBy(col(tF))
        .rowsBetween(Long.MinValue, -1)
      val wAll = W.partitionBy(groupCols.map(col): _*).orderBy(col(tF))
        .rowsBetween(Long.MinValue, 0)
      attach(cells,
          cells.groupBy(groupCols.map(col): _*).agg(sum("__cnt").as("__n0")), groupCols)
        .withColumn("n_risk",
          col("__n0") - coalesce(sum(col("__cnt")).over(wPre), lit(0L)))
        .withColumn("__factor",
          lit(1.0) - col("events").cast("double") / col("n_risk").cast("double"))
        .withColumn("__fs", collect_list(col("__factor")).over(wAll))
        .withColumn("survival", aggregate(
          slice(col("__fs"), lit(2), size(col("__fs")) - 1),
          element_at(col("__fs"), 1),
          (acc, x) => acc * x))
        .withColumn("censored", col("__cnt") - col("events"))
        .select((groupCols.map(col) ++ Seq(col(tF).as("time"),
          col("n_risk"), col("events"), col("censored"),
          col("survival"))): _*)
    }

  /** `schemadiff`: data-contract comparison of the stream's schema
    * against a reference table — the evolution check a pipeline runs
    * before appending to an existing dataset ([[Loaders]]'s
    * applyDeclaredSchema enforces a declared contract; schemadiff
    * DIAGNOSES an undeclared one). One row per column name present on
    * either side: `column`, `type_left` / `type_right` (Spark
    * simpleString, null when absent), `nullable_left`/`nullable_right`,
    * and `status` ∈ both | type_mismatch | left_only | right_only.
    * A QUERY stage (replaces the stream). Purely metadata — NO jobs
    * run against either table.
    *
    * Options: `against` (table name or SELECT, required). */
  def schemaDiff(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val right = ctx.tableOrSql(spec.str("against").getOrElse(
        sys.error("schemadiff: `against` (table or SELECT) required")))
      val l = df.schema.map(f => f.name -> f).toMap
      val r = right.schema.map(f => f.name -> f).toMap
      val names = (df.schema.map(_.name) ++
        right.schema.map(_.name).filterNot(l.contains))
      val rows: Seq[(String, Option[String], Option[String],
          Option[Boolean], Option[Boolean], String)] = names.map { n =>
        (l.get(n), r.get(n)) match {
          case (Some(a), Some(b)) =>
            val status =
              if (a.dataType.simpleString == b.dataType.simpleString) "both"
              else "type_mismatch"
            (n, Some(a.dataType.simpleString), Some(b.dataType.simpleString),
              Some(a.nullable), Some(b.nullable), status)
          case (Some(a), None) =>
            (n, Some(a.dataType.simpleString), None, Some(a.nullable),
              None, "left_only")
          case (None, Some(b)) =>
            (n, None, Some(b.dataType.simpleString), None, Some(b.nullable),
              "right_only")
          case _ => sys.error("unreachable")
        }
      }
      import ctx.spark.implicits._
      rows.toDF("column", "type_left", "type_right",
        "nullable_left", "nullable_right", "status")
    }

  /** `bucketize`: explicit-splits binning — the PRODUCTION-STABLE
    * variant of [[quantiles]]/quantilebin (those derive edges from the
    * corpus, so yesterday's bin 3 is not today's bin 3; bucketize
    * takes the edges as config, the contract a feature store needs).
    * For sorted integral `splits` s₁ < … < s_k, bin(x) = #{i : sᵢ ≤ x}
    * — 0 below every split, k at/above the last; pure integer
    * comparisons, no floats anywhere. NULL values bin to null.
    *
    * Options: `field` (integral, required), `splits` (sorted distinct
    * integer list, required, ≤ 10000), `outputField` (default
    * `<field>_bin`).
    *
    * Scale shape: a pure per-row projection (the splits ship in the
    * plan as literals) — no shuffle, no aggregation. */
  def bucketize(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.str("field").getOrElse(sys.error("bucketize: `field` required"))
      require(df.columns.contains(f), s"bucketize: no column '$f'")
      require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
          .contains(df.schema(f).dataType),
        s"bucketize: '$f' must be an INTEGRAL column (got " +
        s"${df.schema(f).dataType.simpleString}) — integer edges make the " +
        "binning exact; scale upstream (cents, micros) to integers first")
      val splits = spec.list("splits").map(_.toString.toLong)
      require(splits.nonEmpty, "bucketize: `splits` required")
      require(splits.size <= 10000,
        s"bucketize: at most 10000 splits, got ${splits.size}")
      require(splits == splits.sorted && splits.distinct == splits,
        "bucketize: splits must be sorted and distinct")
      val out = spec.strOr("outputField", s"${f}_bin")
      require(!df.columns.contains(out),
        s"bucketize: output column '$out' exists — set outputField")
      val x = col(f).cast("long")
      val bin = splits.map(s => when(x >= s, 1L).otherwise(0L))
        .reduce(_ + _)
      df.withColumn(out, when(col(f).isNotNull, bin))
    }

  /** `benford`: first-significant-digit distribution against Benford's
    * law — the fraud/fabrication forensic for naturally-occurring
    * magnitudes (amounts, populations, file sizes follow
    * P(d) = log₁₀(1 + 1/d); fabricated numbers usually don't). Per
    * (group, digit 1–9): `n_digit`, `n`, `observed` = n_d/n (exact
    * longs, ONE division), `expected` (the Benford probability — a
    * DRIVER-computed Java double shipped as a literal, so an oracle
    * embedding `Double.toString` of the same constant is bit-identical
    * — no per-engine libm log), and `gap` = observed − expected (one
    * subtract; sign = excess/deficit). The first digit comes from the
    * decimal STRING head (no float log10). Rows with NULL or
    * non-positive values carry no leading digit and are dropped
    * (documented). Digits absent from a group emit no row.
    *
    * Options: `field` (INTEGRAL, required — Benford applies to
    * magnitudes; scale upstream), `groupBy` (optional).
    *
    * Scale shape: ONE hash aggregation to ≤ 9 rows per group; group
    * totals re-aggregate that frame. */
  def benford(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.str("field").getOrElse(sys.error("benford: `field` required"))
      require(df.columns.contains(f), s"benford: no column '$f'")
      require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
          .contains(df.schema(f).dataType),
        s"benford: '$f' must be an INTEGRAL column (got " +
        s"${df.schema(f).dataType.simpleString}) — the leading digit " +
        "comes from the exact decimal string; scale upstream")
      val groupCols = keyList(spec, "groupBy")
      groupCols.foreach(g =>
        require(df.columns.contains(g), s"benford: no column '$g'"))
      val digit = substring(col(f).cast("string"), 1, 1).cast("int")
      val counts = df.where(col(f).isNotNull && col(f) > 0)
        .groupBy((groupCols.map(col) :+ digit.as("digit")): _*)
        .agg(count(lit(1)).as("n_digit"))
      val keyed = attach(counts,
        counts.groupBy(groupCols.map(col): _*).agg(sum("n_digit").as("n")), groupCols)
      val expected = (1 to 9).foldLeft(lit(null).cast("double")) { (acc, d) =>
        when(col("digit") === d, lit(BenfordP(d))).otherwise(acc)
      }
      keyed
        .withColumn("observed",
          col("n_digit").cast("double") / col("n").cast("double"))
        .withColumn("expected", expected)
        .withColumn("gap", col("observed") - col("expected"))
    }

  /** Benford first-digit probabilities log₁₀(1 + 1/d), computed ONCE in
    * Java arithmetic — `Double.toString` of these round-trips exactly,
    * which is how the oracle embeds the identical literals. */
  val BenfordP: Map[Int, Double] =
    (1 to 9).map(d => d -> math.log10(1 + 1.0 / d)).toMap

  /** `concentration`: EXACT volume-concentration diagnosis per group —
    * the "how skewed is this key?" number to run BEFORE reaching for
    * `skewjoin`/`groupcap` ([[gini]] measures label impurity;
    * this is the Gini COEFFICIENT of volume across keys, the Lorenz
    * inequality measure). Per key, volume = Σ `valueField` (or row
    * count); with volumes sorted ascending at ranks i:
    * `G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx)` — Σ i·x is computed
    * per DISTINCT volume block (v·(below·cnt + cnt(cnt+1)/2), rank
    * permutations within a tie block cancel), so the numerator is
    * EXACT longs and G is ONE IEEE division. 0 = uniform, → 1 =
    * one key owns everything. Also `max_share` = the hottest key's
    * fraction (ONE division). Volumes must be non-negative
    * (documented — Lorenz curves are for magnitudes). Envelope: exact
    * while n·Σx fits a long. Output per group: n_keys, total,
    * max_share, gini.
    *
    * Options: `keyField` (required), `valueField` (optional integral —
    * row count per key otherwise), `groupBy` (optional).
    *
    * Scale shape: ONE hash aggregation to per-key volumes, ONE more to
    * distinct-volume blocks; the rank prefix is the two-level
    * [[GroupStats.runningBelow]] (no global window); the closing
    * combine is a group-sized aggregation. A key whose values are all
    * NULL has no volume and is left out. */
  def concentration(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.str("keyField").getOrElse(
        sys.error("concentration: `keyField` required"))
      require(df.columns.contains(key), s"concentration: no column '$key'")
      val groupCols = keyList(spec, "groupBy")
      groupCols.foreach(g =>
        require(df.columns.contains(g), s"concentration: no column '$g'"))
      val vol: Column = spec.str("valueField") match {
        case Some(v) =>
          require(df.columns.contains(v), s"concentration: no column '$v'")
          require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
              .contains(df.schema(v).dataType),
            s"concentration: valueField '$v' must be INTEGRAL (got " +
            s"${df.schema(v).dataType.simpleString}) — exact rank sums")
          sum(col(v).cast("long"))
        case None => count(lit(1))
      }
      // a key whose values are all NULL has no volume: it is no key of
      // the Lorenz curve and stays out of every count and sum
      val blocks = df.groupBy((groupCols :+ key).map(col): _*)
        .agg(vol.as("__vol")).where(col("__vol").isNotNull)
        .groupBy((groupCols :+ "__vol").map(col): _*)
        .agg(count(lit(1)).as("__cnt"))
      val below = runningBelow(rangeBucket(blocks, "__vol", groupCols, "concentration"),
        groupCols, Seq(col("__vol")), "__cnt" -> "__below")
      val contrib = col("__vol") * (col("__below") * col("__cnt") +
        expr("(__cnt * (__cnt + 1)) div 2"))
      below.withColumn("__siv", contrib)
        .groupBy(groupCols.map(col): _*)
        .agg(sum("__cnt").as("n_keys"),
          sum(col("__vol") * col("__cnt")).as("total"),
          max("__vol").as("__maxv"), sum("__siv").as("__s2"))
        .withColumn("max_share", when(col("total") > 0,
          col("__maxv").cast("double") / col("total").cast("double")))
        .withColumn("gini", when(col("total") > 0,
          (col("__s2") * 2L - (col("n_keys") + 1L) * col("total")).cast("double") /
            (col("n_keys") * col("total")).cast("double")))
        .drop("__maxv", "__s2")
    }

  /** `kstest`: EXACT two-sample Kolmogorov–Smirnov distance between
    * the stream's INTEGRAL value distribution and a BASELINE corpus —
    * [[drift]]'s companion for NUMERIC columns (TVD treats 99 vs 100
    * as unrelated categories; KS respects the ordering). With
    * cumulative counts C₁(v), C₂(v) over the merged distinct values
    * and totals n₁, n₂:
    * `D = max_v |C₁(v)/n₁ − C₂(v)/n₂| = max_v |C₁(v)·n₂ − C₂(v)·n₁|
    * / (n₁·n₂)` — the numerator EXACT longs, the result ONE
    * correctly-rounded IEEE division. `ks_at` is the value achieving
    * the max (ties → smallest value, deterministic). NULL values carry
    * no ECDF point and are dropped (documented). Envelope: exact while
    * C·n fits a long. Output: ONE row — n_cur, n_base, distinct_vals,
    * ks_num, ks, ks_at.
    *
    * Options: `field` (integral, required — same contract as
    * `correlate`), `against` (table name or SELECT, required),
    * `againstField` (default = field).
    *
    * Scale shape: ONE hash aggregation per corpus to distinct-value
    * counts, full-outer-merged; the cumulative counts use the
    * two-level 256-bucket prefix ([[GroupStats.runningBelow]]) — distinct values
    * never sort through one partition; the closing arg-max is ONE
    * struct-max aggregation. */
  def ksTest(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.str("field").getOrElse(sys.error("kstest: `field` required"))
      require(df.columns.contains(f), s"kstest: no column '$f'")
      require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
          .contains(df.schema(f).dataType),
        s"kstest: '$f' must be an INTEGRAL column (got " +
        s"${df.schema(f).dataType.simpleString}) — the ECDF arithmetic " +
        "is exact longs; scale upstream (cents, micros) to integers first")
      val base0 = ctx.tableOrSql(spec.str("against").getOrElse(
        sys.error("kstest: `against` (table or SELECT) required")))
      val bf = spec.strOr("againstField", f)
      require(base0.columns.contains(bf), s"kstest: baseline has no column '$bf'")
      val cur = df.where(col(f).isNotNull)
        .groupBy(col(f).cast("long").as("__v")).agg(count(lit(1)).as("__ca"))
      val base = base0.where(col(bf).isNotNull)
        .groupBy(col(bf).cast("long").as("__bv")).agg(count(lit(1)).as("__cb"))
      val j = cur.join(base, col("__v") === col("__bv"), "full_outer")
        .select(coalesce(col("__v"), col("__bv")).as("__v"),
          coalesce(col("__ca"), lit(0L)).as("__ca"),
          coalesce(col("__cb"), lit(0L)).as("__cb"))
      val keyed = rangeBucket(j, "__v", Nil, "kstest",
        sum("__ca").as("__n1"), sum("__cb").as("__n2"))
      // inclusive: the ECDF at v counts v itself
      runningBelow(keyed, Nil, Seq(col("__v")), "__ca" -> "__c1", "__cb" -> "__c2")
        .withColumn("__c1", col("__c1") + col("__ca"))
        .withColumn("__c2", col("__c2") + col("__cb"))
        .withColumn("__d", abs(col("__c1") * col("__n2") - col("__c2") * col("__n1")))
        .groupBy()
        .agg(max("__n1").as("n_cur"), max("__n2").as("n_base"),
          count(lit(1)).as("distinct_vals"),
          // tie-break prefers the SMALLEST value at max D; -1−v is the
          // overflow-free strict order reversal (-v throws on
          // Long.MinValue under ANSI; bitwise NOT wraps cleanly)
          max(struct(col("__d"), (lit(-1L) - col("__v")).as("negv"),
            col("__v").as("v"))).as("__w"))
        .select(col("n_cur"), col("n_base"), col("distinct_vals"),
          col("__w.__d").as("ks_num"), col("__w.v").as("ks_at"))
        .withColumn("ks", when(col("n_cur") > 0 && col("n_base") > 0,
          col("ks_num").cast("double") /
            (col("n_cur") * col("n_base")).cast("double")))
        .select("n_cur", "n_base", "distinct_vals", "ks_num", "ks", "ks_at")
    }

  /** `drift`: EXACT total-variation distance between the stream's
    * categorical distribution and a BASELINE corpus — the distribution-
    * shift monitor a production pipeline runs between yesterday's and
    * today's data (`chisquare` answers "is the association significant";
    * TVD answers "how much probability mass moved", and unlike KL it
    * needs no logarithm and tolerates zero cells). With per-value
    * counts c_v (current, total n_c) and b_v (baseline, total n_b):
    * TVD = ½·Σ_v |c_v/n_c − b_v/n_b| = Σ_v |c_v·n_b − b_v·n_c| /
    * (2·n_c·n_b) — numerator and denominator EXACT longs, the result
    * ONE correctly-rounded IEEE division (envelope: c_v·n_b fits a
    * long). NULL is a real category on both sides. Values present in
    * only one corpus contribute their full mass (the full-outer join).
    *
    * Options: `field` (required), `against` (table name or SELECT —
    * the baseline, required), `againstField` (default = field), `mode`
    * ∈ summary (default — ONE row: n_cur, n_base, distinct_vals, shift
    * in `tvd_num`/`tvd`) | detail (one row per value: value, n_cur,
    * n_base, cur_rate, base_rate, contrib_num — ranked diagnosis of
    * WHAT moved).
    *
    * Scale shape: ONE hash aggregation per corpus to vocabulary-sized
    * value counts, full-outer-joined null-safely on the value; totals
    * re-aggregate the JOINED frame (so both are exact over the same
    * rows) and broadcast back as one row. Nothing rejoins the data. */
  def drift(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.str("field").getOrElse(sys.error("drift: `field` required"))
      require(df.columns.contains(f), s"drift: no column '$f'")
      val base0 = ctx.tableOrSql(spec.str("against").getOrElse(
        sys.error("drift: `against` (table or SELECT) required")))
      val bf = spec.strOr("againstField", f)
      require(base0.columns.contains(bf), s"drift: baseline has no column '$bf'")
      val cur = df.groupBy(col(f).as("__v")).agg(count(lit(1)).as("__ca"))
      val base = base0.groupBy(col(bf).as("__bv")).agg(count(lit(1)).as("__cb"))
      val j = cur.join(base, col("__v") <=> col("__bv"), "full_outer")
        .select(coalesce(col("__v"), col("__bv")).as("value"),
          coalesce(col("__ca"), lit(0L)).as("__ca"),
          coalesce(col("__cb"), lit(0L)).as("__cb"))
      val tot = j.groupBy().agg(sum("__ca").as("__na"), sum("__cb").as("__nb"))
      val k = j.crossJoin(broadcast(tot))
        .withColumn("__contrib",
          abs(col("__ca") * col("__nb") - col("__cb") * col("__na")))
      spec.strOr("mode", "summary") match {
        case "summary" =>
          k.groupBy()
            .agg(max("__na").as("n_cur"), max("__nb").as("n_base"),
              count(lit(1)).as("distinct_vals"),
              sum("__contrib").as("tvd_num"))
            .withColumn("tvd", when(col("n_cur") > 0 && col("n_base") > 0,
              col("tvd_num").cast("double") /
                (col("n_cur") * col("n_base") * 2L).cast("double")))
        case "detail" =>
          k.select(col("value"),
            col("__ca").as("n_cur"), col("__cb").as("n_base"),
            when(col("__na") > 0,
              col("__ca").cast("double") / col("__na").cast("double"))
              .as("cur_rate"),
            when(col("__nb") > 0,
              col("__cb").cast("double") / col("__nb").cast("double"))
              .as("base_rate"),
            col("__contrib").as("contrib_num"))
        case other => sys.error(s"drift: mode must be summary|detail, got '$other'")
      }
    }

  /** `classifyeval`: classifier evaluation from (actual, predicted)
    * label pairs — the quality gate a labeling / distillation pipeline
    * runs before shipping a model's outputs as training data. Per class
    * (mode `perclass`, default): `tp`, `fp`, `fn`, `support`
    * (= tp + fn), and `precision` = tp/(tp+fp), `recall` = tp/(tp+fn),
    * `f1` = 2·tp/(2·tp+fp+fn) — every metric is exact longs closed by
    * ONE correctly-rounded IEEE division, so an oracle spelling the
    * same division hash-matches. A class with zero predictions gets
    * null precision (not 0/0); zero support → null recall; f1 is null
    * only when both are. Mode `overall` emits one row (`n`, `correct`,
    * `accuracy`). Rows where either label is NULL are not scored
    * (documented, same posture as `proportions`' NULL-is-not-a-trial).
    *
    * Options: `labelField`, `predField` (required, any equatable
    * type), `mode` ∈ perclass | overall.
    *
    * Scale shape: TWO hash aggregations over the scored rows (by
    * actual, by predicted — both map-side combined, class-cardinality
    * output) full-outer-joined on the class value; no windows, no
    * per-row comparison matrix. */
  def classifyEval(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val lF = spec.str("labelField").getOrElse(
        sys.error("classifyeval: `labelField` required"))
      val pF = spec.str("predField").getOrElse(
        sys.error("classifyeval: `predField` required"))
      Seq(lF, pF).foreach(f =>
        require(df.columns.contains(f), s"classifyeval: no column '$f'"))
      val scored = df.where(col(lF).isNotNull && col(pF).isNotNull)
      spec.strOr("mode", "perclass") match {
        case "overall" =>
          scored.groupBy()
            .agg(count(lit(1)).as("n"),
              sum(when(col(lF) === col(pF), 1L).otherwise(0L)).as("correct"))
            .withColumn("accuracy", when(col("n") > 0,
              col("correct").cast("double") / col("n").cast("double")))
        case "perclass" =>
          val actual = scored.groupBy(col(lF).as("__ca"))
            .agg(count(lit(1)).as("__na"),
              sum(when(col(lF) === col(pF), 1L).otherwise(0L)).as("__tp"))
          val predicted = scored.groupBy(col(pF).as("__cp"))
            .agg(count(lit(1)).as("__np"))
          val tp = coalesce(col("__tp"), lit(0L))
          val na = coalesce(col("__na"), lit(0L))
          val np = coalesce(col("__np"), lit(0L))
          actual.join(predicted, col("__ca") === col("__cp"), "full_outer")
            .select(
              coalesce(col("__ca"), col("__cp")).as("class"),
              tp.as("tp"), (np - tp).as("fp"), (na - tp).as("fn"),
              na.as("support"),
              when(np > 0, tp.cast("double") / np.cast("double")).as("precision"),
              when(na > 0, tp.cast("double") / na.cast("double")).as("recall"),
              when(np + na > 0,
                (tp * 2).cast("double") / (np + na).cast("double")).as("f1"))
        case other => sys.error(
          s"classifyeval: mode must be perclass|overall, got '$other'")
      }
    }

  /** `auc`: EXACT ROC AUC from an integral score column — the ranking-
    * quality number behind classifier-based data filters (quality
    * models, toxicity scorers). Computed as the tie-aware Mann–Whitney
    * statistic, never a per-pair comparison: with per-distinct-score
    * positive/negative counts (p_s, g_s) and N_s = negatives at scores
    * strictly below s, `2U = Σ_s p_s·(2·N_s + g_s)` (each positive
    * beats every lower-scored negative, ties count ½) and
    * `auc = 2U / (2·n_pos·n_neg)` — exact longs closed by ONE IEEE
    * division, hash-stable against an oracle spelling the same sum.
    * Degenerate groups (no positives or no negatives) emit null. Rows
    * with NULL score or label are not scored. Envelope: exact while
    * 2·n_pos·n_neg fits a long (documented; ~2^31 rows per class per
    * group). Scores must be INTEGRAL (same contract as `correlate` —
    * model scores quantize upstream; this also makes the bucket
    * arithmetic below exact).
    *
    * Options: `scoreField`, `labelField` (boolean, or numeric where
    * nonzero = positive; both required), `groupBy` (list — global
    * one-row result otherwise).
    *
    * Scale shape: ONE hash aggregation to (group, score) counts, then
    * the running negative count is the TWO-LEVEL prefix sum of
    * [[GroupStats]]: scores bucket into ≤256 range-ordered chunks per
    * group, bucket totals take a ≤256-row window per group, and the
    * intra-bucket window is PARTITIONED by (group, bucket) — distinct
    * scores never sort through one partition, keyless or not. */
  def auc(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val sF = spec.str("scoreField").getOrElse(
        sys.error("auc: `scoreField` required"))
      val lF = spec.str("labelField").getOrElse(
        sys.error("auc: `labelField` required"))
      Seq(sF, lF).foreach(f =>
        require(df.columns.contains(f), s"auc: no column '$f'"))
      require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
          .contains(df.schema(sF).dataType),
        s"auc: scoreField '$sF' must be an INTEGRAL column (got " +
        s"${df.schema(sF).dataType.simpleString}) — quantize model " +
        "scores upstream (e.g. permille buckets); the rank arithmetic " +
        "is exact longs")
      val groupCols = keyList(spec, "groupBy")
      groupCols.foreach(g =>
        require(df.columns.contains(g), s"auc: no column '$g'"))
      val isPos = df.schema(lF).dataType match {
        case BooleanType => col(lF)
        case _: NumericType => col(lF) =!= 0
        case other => sys.error(
          s"auc: labelField '$lF' must be boolean or numeric, got $other")
      }
      // one hash agg to per-(group, score) class counts; the running
      // negative count below each score is the two-level prefix
      val perScore = df.where(col(sF).isNotNull && col(lF).isNotNull)
        .groupBy((groupCols :+ sF).map(col): _*)
        .agg(sum(when(isPos, 1L).otherwise(0L)).as("__p"),
          sum(when(isPos, 0L).otherwise(1L)).as("__g"))
      val below = runningBelow(rangeBucket(perScore, sF, groupCols, "auc"),
        groupCols, Seq(col(sF)), "__g" -> "__nb")
      val u2 = col("__p") * (col("__nb") * 2L + col("__g"))
      below.withColumn("__u2", u2)
        .groupBy(groupCols.map(col): _*)
        .agg(sum("__p").as("n_pos"), sum("__g").as("n_neg"),
          sum("__u2").as("__u"))
        .withColumn("auc",
          when(col("n_pos") > 0 && col("n_neg") > 0,
            col("__u").cast("double") /
              (col("n_pos") * col("n_neg") * 2L).cast("double")))
        .drop("__u")
    }

  /** `targetencode`: smoothed mean target encoding of a categorical
    * column — the standard high-cardinality featurizer (`onehot`
    * explodes past a few dozen values; `labelencode` gives ordinals
    * with no signal). Per category c with n_c observations summing
    * Σy_c, against global prior μ = Σy/n:
    * `enc(c) = (Σy_c + m·μ) / (n_c + m)` — additive smoothing, m the
    * `smoothing` weight (default 10). Determinism: sums are exact
    * longs (target must be INTEGRAL, same contract as `correlate` /
    * `impute` — the sum of a double column is partition-order
    * dependent, never hash-stable); μ is one IEEE division and the
    * encoding one fixed (+,×,÷) tree, so an oracle spelling the same
    * tree (with the m literal CAST to DOUBLE — DuckDB folds bare
    * decimals exactly) hash-matches. NULL category is a real category
    * (encoded like any other); rows with NULL target contribute no
    * statistics but still RECEIVE their category's encoding; a
    * category with no non-null targets falls back to μ.
    *
    * Options: `field` (categorical, required), `targetField` (integral,
    * required), `smoothing` (default 10), `outputField` (default
    * `<field>_enc`), `maxCardinality` (default 1,000,000 — bounded
    * probe; past it the stage fails LOUD naming `featurehash` as the
    * migration, same guard as `labelencode`).
    *
    * Scale shape: ONE hash aggregation to the category table
    * (vocabulary-sized under the guard) + a one-row global aggregate;
    * the category frame BROADCASTS back onto the rows (null-safe key)
    * — no shuffle of the data side, no windows. */
  def targetEncode(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.str("field").getOrElse(
        sys.error("targetencode: `field` required"))
      val tF = spec.str("targetField").getOrElse(
        sys.error("targetencode: `targetField` required"))
      Seq(f, tF).foreach(c =>
        require(df.columns.contains(c), s"targetencode: no column '$c'"))
      require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
          .contains(df.schema(tF).dataType),
        s"targetencode: targetField '$tF' must be an INTEGRAL column (got " +
        s"${df.schema(tF).dataType.simpleString}) — exact-sum determinism; " +
        "scale upstream (cents, micros) to integers first")
      val out = spec.strOr("outputField", s"${f}_enc")
      require(!df.columns.contains(out),
        s"targetencode: output column '$out' exists — set outputField")
      val m = spec.str("smoothing").map(_.toDouble).getOrElse(10.0)
      require(m >= 0, s"targetencode: smoothing must be >= 0, got $m")
      val maxCard = spec.long("maxCardinality").getOrElse(1000000L)
      require(maxCard > 0, s"targetencode: maxCardinality must be > 0, got $maxCard")
      val obs = df.where(col(tF).isNotNull)
      val cats = obs.groupBy(col(f).as("__tc"))
        .agg(sum(col(tF)).as("__sy"), count(lit(1)).as("__nc"))
      val probeLimit = math.min(maxCard + 1, Int.MaxValue.toLong).toInt
      if (cats.limit(probeLimit).count() > maxCard) sys.error(
        s"targetencode: '$f' has more than maxCardinality=$maxCard distinct " +
        "values — the category table would not broadcast. Use `featurehash` " +
        "for id-like columns, or raise maxCardinality if the size is intended")
      val g = obs.groupBy().agg(sum(col(tF)).as("__gy"), count(lit(1)).as("__gn"))
      val mu = col("__gy").cast("double") / col("__gn").cast("double")
      val enc = (col("__sy").cast("double") + lit(m) * col("__mu")) /
        (col("__nc").cast("double") + lit(m))
      val encoded = cats.crossJoin(broadcast(g))
        .withColumn("__mu", mu)
        .withColumn("__enc", enc)
        .select(col("__tc"), col("__enc"))
      // μ rides the ROW side: a category whose targets are all NULL has
      // no `cats` row at all, so the fallback can't come from the join
      df.crossJoin(broadcast(g))
        .withColumn("__mu", mu)
        .join(broadcast(encoded), col(f) <=> col("__tc"), "left")
        .withColumn(out, coalesce(col("__enc"), col("__mu")))
        .drop("__tc", "__enc", "__mu", "__gy", "__gn")
    }
}
