package graft.stages

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import org.apache.spark.sql.DataFrame

/** Relational set-combination transformers — `union` / `except` /
  * `intersect` against a named table or inline SELECT. The reference
  * pipeline model is strictly linear (one extractor feeding a
  * transformer chain, OETLProcessor.java); combining two flows there
  * means two ETL runs into one target. These stages make combination a
  * plan step instead, so Catalyst sees ONE tree and can push filters
  * into both branches and pick distributed set-op plans (hash
  * aggregate for DISTINCT variants, no driver materialization).
  *
  * Shared options: `right` (required — table name or SELECT).
  *  - `union`: `byName` (default true — match columns by NAME,
  *    positional when false), `allowMissingColumns` (default false,
  *    byName only — absent columns null-fill), `distinct` (default
  *    false = UNION ALL).
  *  - `except` / `intersect`: `all` (default false = SQL's DISTINCT
  *    semantics; true keeps multiplicity — EXCEPT ALL / INTERSECT
  *    ALL). Both require identical schemas (Spark enforces, the
  *    error names the sides).
  *
  * Scale: UNION ALL is a zero-shuffle plan concatenation; DISTINCT
  * variants and except/intersect hash-partition on the full row —
  * the same exchange a GROUP BY over the output would need, nothing
  * extra. */
object SetOps {

  private def rightOf(spec: ComponentSpec, ctx: EtlContext): DataFrame =
    ctx.tableOrSql(spec.str("right").getOrElse(
      sys.error(s"${spec.name}: `right` (table or SELECT) required")))

  def union(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val right = rightOf(spec, ctx)
      val u =
        if (spec.bool("byName", dflt = true))
          df.unionByName(right,
            allowMissingColumns = spec.bool("allowMissingColumns", dflt = false))
        else df.union(right)
      if (spec.bool("distinct", dflt = false)) u.distinct() else u
    }

  def except(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val right = rightOf(spec, ctx)
      if (spec.bool("all", dflt = false)) df.exceptAll(right)
      else df.except(right)
    }

  def intersect(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val right = rightOf(spec, ctx)
      if (spec.bool("all", dflt = false)) df.intersectAll(right)
      else df.intersect(right)
    }

  /** `semijoin` / `antijoin`: KEYED existence filtering against another
    * table or SELECT — keep rows whose key exists (semi) / doesn't
    * exist (anti) on the right, NEVER attaching right columns or
    * duplicating left rows the way an inner join against a non-unique
    * right would. `except`/`intersect` compare whole rows; these
    * compare by key — the everyday ETL shapes (orders of known
    * customers, docs not yet processed) that `decontaminate`/
    * `crossdedup` specialize for content hashes.
    *
    * Options: `right` (table or SELECT), `on` (comma-separated keys —
    * same names both sides) or `leftOn`/`rightOn` (parallel lists).
    * NULL keys: SQL semi/anti-join semantics (a null key never
    * matches, so anti KEEPS null-keyed rows — the safe default for
    * "not yet processed"; set `nullSafe: true` for <=> matching).
    *
    * Scale: Spark's LeftSemi/LeftAnti plans — right side reduced to
    * its keys before the exchange, broadcast when small (AQE), and
    * semi/anti short-circuit per key (no fan-out). */
  private def keyedExistence(kind: String)(
      spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      import org.apache.spark.sql.functions.col
      val right = rightOf(spec, ctx)
      val (lks, rks) = spec.str("on") match {
        case Some(on) =>
          val ks = on.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          (ks, ks)
        case None =>
          val l = spec.strOr("leftOn", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val r = spec.strOr("rightOn", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
          require(l.nonEmpty && l.length == r.length,
            s"$kind: need `on` or parallel `leftOn`/`rightOn` key lists")
          (l, r)
      }
      lks.foreach(k => require(df.columns.contains(k), s"$kind: no left column '$k'"))
      rks.foreach(k => require(right.columns.contains(k), s"$kind: no right column '$k'"))
      // project the right side to its keys BEFORE the exchange — the
      // planner would prune anyway for semi/anti, but making it
      // explicit keeps renamed-key joins unambiguous
      val rkeys = right.select(rks.map(col): _*).toDF(rks.map("__r_" + _): _*)
      val nullSafe = spec.bool("nullSafe", dflt = false)
      val cond = lks.zip(rks).map { case (l, r) =>
        if (nullSafe) col(l) <=> col("__r_" + r) else col(l) === col("__r_" + r)
      }.reduce(_ && _)
      df.join(rkeys, cond, if (kind == "semijoin") "left_semi" else "left_anti")
    }

  def semijoin(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    keyedExistence("semijoin")(spec, ctx)

  def antijoin(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    keyedExistence("antijoin")(spec, ctx)

  /** `bloomjoin`: Bloom-prefiltered keyed existence filtering — the
    * 100-TB spelling of [[semijoin]]/[[antijoin]] when the LEFT side is
    * huge and the match rate is low. A Bloom sketch of the RIGHT keys
    * (built distributed, shipped as a plan literal, probed through
    * Spark's codegen'd BloomFilterMightContain — the decontaminate
    * prefilter pattern generalized to arbitrary keys) filters left rows
    * BEFORE the exchange:
    *
    *  - `mode: semi` — rows failing the probe cannot match; only the
    *    surviving sliver shuffles into the exact semi-join, whose
    *    equality removes the Bloom's false positives. Result ==
    *    [[semijoin]], row for row.
    *  - `mode: anti` — rows failing the probe are DEFINITELY absent on
    *    the right and are kept without ever reaching the exchange; only
    *    probe-positive rows (matches + FPs) run the exact anti-join.
    *    Result == [[antijoin]], row for row.
    *
    * Keys hash to ONE long (`xxhash64` over a null-position mask + the
    * key columns) on both sides; hash collisions are just more FPs for
    * the exact join to remove. NULL semantics match [[semijoin]]
    * (null keys never match; `nullSafe: true` for <=>) — the Bloom
    * stage never decides a match, only a definite non-match.
    *
    * Options: `right`, `on` or `leftOn`/`rightOn`, `nullSafe`, `mode`
    * (semi default), `fpp` (default 0.01), `expectedItems` (optional —
    * when absent, derived by COUNTING the persisted distinct right
    * keys: one extra job at stage-build, but it materializes exactly
    * the cache the sketch build and the exact join then reuse
    * (freqpairs' persist-before-probe shape), so the right side still
    * scans once; pin expectedItems to skip that job. An UNDERSIZED
    * bloom stays correct, it just filters less). `sketchLitMaxBytes`
    * (default 4 MiB — a sketch at most this large ships as a plan
    * literal; larger ones ride a broadcast variable so the driver plan
    * and task binaries carry only the handle), `maxSketchBytes`
    * (default 512 MiB — a loud named error above this: at 1B right
    * keys / fpp 0.01 the sketch is ~1.2 GB, which no carrier makes
    * sane; raise `fpp`, pre-reduce the right side, or use
    * semijoin/antijoin).
    *
    * Key types: the probe hashes each key tuple to ONE long, and
    * xxhash64 is TYPE-sensitive (an int 7 and a bigint 7 hash
    * differently even though `===` would coerce and match) — so
    * differing left/right key types are hashed at the same widened
    * type `===` would compare at (numeric widening, date→timestamp);
    * incompatible pairs fail loud rather than silently dropping
    * matches.
    *
    * Scale shape: right keys project + distinct ONCE (persisted across
    * the sizing count, the sketch build and the exact join — run-scoped
    * release); the sketch aggregation is distributed with map-side
    * partials; the left side's probe stays inside whole-stage codegen.
    * The win is the exchange: at a 1 % match rate, 99 % of a 100 TB
    * left side never shuffles. Anti mode deliberately scans the left
    * side TWICE (the probe-negative keep branch and the probe-positive
    * exact branch are separate subtrees): that trades a second
    * columnar scan for never exchanging the probe-negative majority —
    * the right trade when the match rate is low and shuffle dominates,
    * which is this stage's stated target; when the left SCAN itself
    * dominates (very wide rows, high match rate), plain [[antijoin]]
    * is the right stage. */
  def bloomjoin(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      import org.apache.spark.sql.functions._
      graft.functions.VectorExpressions.ensure(ctx.spark)
      val right = rightOf(spec, ctx)
      val (lks, rks) = spec.str("on") match {
        case Some(on) =>
          val ks = on.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          (ks, ks)
        case None =>
          val l = spec.strOr("leftOn", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val r = spec.strOr("rightOn", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
          require(l.nonEmpty && l.length == r.length,
            "bloomjoin: need `on` or parallel `leftOn`/`rightOn` key lists")
          (l, r)
      }
      lks.foreach(k => require(df.columns.contains(k), s"bloomjoin: no left column '$k'"))
      rks.foreach(k => require(right.columns.contains(k), s"bloomjoin: no right column '$k'"))
      val mode = spec.strOr("mode", "semi")
      require(Set("semi", "anti")(mode),
        s"bloomjoin: mode must be semi|anti, got '$mode'")
      val fpp = spec.str("fpp").map(_.toDouble).getOrElse(0.01)
      require(fpp > 0 && fpp < 1, s"bloomjoin: fpp must be in (0, 1), got $fpp")
      // one long per key tuple — the shared null-mask row hash (see
      // VectorExpressions.maskedRowHash: disambiguates (null, x) from
      // (x, null), which plain xxhash64 folds together)
      require(lks.size <= 63, s"bloomjoin: at most 63 key columns, got ${lks.size}")
      // xxhash64 is type-sensitive where === is type-coercing: hash each
      // differing pair at the widened type === would compare at, or fail
      // loud — a silent type mismatch would drop matching rows in semi
      // mode and keep them in anti mode
      import org.apache.spark.sql.types.{DataType, NumericType, DateType, TimestampType, DoubleType}
      val hashTypes: Seq[Option[DataType]] = lks.zip(rks).map { case (l, r) =>
        val (lt, rt) = (df.schema(l).dataType, right.schema(r).dataType)
        (lt, rt) match {
          case (a, b) if a == b => None
          case (a: NumericType, b: NumericType) =>
            Some(org.apache.spark.sql.catalyst.analysis.TypeCoercion
              .findWiderTypeForTwo(a, b).getOrElse(DoubleType))
          case (DateType, TimestampType) | (TimestampType, DateType) =>
            Some(TimestampType)
          case (a, b) => sys.error(
            s"bloomjoin: key types differ for left '$l' (${a.simpleString}) vs " +
            s"right '$r' (${b.simpleString}) with no safe hash coercion — " +
            "cast upstream or use semijoin/antijoin")
        }
      }
      def keyHash(cols: Seq[String], of: String => org.apache.spark.sql.Column) =
        graft.functions.VectorExpressions.maskedRowHash(
          cols.zip(hashTypes).map { case (c, t) =>
            t.fold(of(c))(of(c).cast(_)) })
      val rkeys = right.select(rks.map(col): _*).toDF(rks.map("__r_" + _): _*)
        .distinct().persist()
      ctx.registerPersisted(rkeys)
      val rHashed = rkeys.select(keyHash(rks.map("__r_" + _), col).as("__kh"))
      val expected = spec.long("expectedItems")
        .getOrElse(math.max(1L, rkeys.count()))
      val bloom = rHashed.stat.bloomFilter("__kh", expected, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      val sketchBytes = bos.toByteArray
      val litMax = spec.long("sketchLitMaxBytes").getOrElse(4L << 20)
      val maxBytes = spec.long("maxSketchBytes").getOrElse(512L << 20)
      require(sketchBytes.length <= maxBytes,
        s"bloomjoin: serialized Bloom sketch is ${sketchBytes.length} bytes > " +
        s"maxSketchBytes=$maxBytes — raise `fpp`, lower `expectedItems`, " +
        "pre-reduce the right side, or use semijoin/antijoin")
      val probeVal = keyHash(lks, df.apply)
      val probe =
        if (sketchBytes.length <= litMax)
          graft.functions.VectorExpressions
            .bloomMightContain(lit(sketchBytes), probeVal)
        else {
          // the broadcast outlives this run (the returned plan may
          // execute later) — bounded session FIFO owns its lifetime
          val bc = ctx.spark.sparkContext.broadcast(sketchBytes)
          graft.engine.EtlContext.adoptSessionBroadcast(bc)
          graft.functions.VectorExpressions.bloomMightContainBcast(bc, probeVal)
        }
      val nullSafe = spec.bool("nullSafe", dflt = false)
      val cond = lks.zip(rks).map { case (l, r) =>
        if (nullSafe) df(l) <=> col("__r_" + r) else df(l) === col("__r_" + r)
      }.reduce(_ && _)
      mode match {
        case "semi" => df.where(probe).join(rkeys, cond, "left_semi")
        case _ =>
          // definite-absent rows never reach the exchange; the
          // probe-positive sliver resolves exactly
          df.where(!probe)
            .unionByName(df.where(probe).join(rkeys, cond, "left_anti"))
      }
    }
}
