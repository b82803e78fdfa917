package graft.temporal

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import graft.stages.Stages
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, TimestampNTZType, TimestampType}

/** Temporal join operators — the event-time companions to the lookup
  * family (SURVEY.md §2.3's `link`/`merge` joins resolve by KEY; these
  * resolve by TIME). The reference has no as-of/range machinery (its
  * only temporal types are DATE/DATETIME passthrough fields,
  * OJDBCExtractor.java:153-155), but any events-table workload the
  * engine ingests needs them, and naive formulations are scale-killers
  * (per-row subqueries / cartesian time joins) — so both operators are
  * built shuffle-shaped from the start:
  *
  *  - `asofjoin` is ONE shuffle on the join key + a per-partition sort
  *    (the distributed merge-asof); no N×M candidate blow-up, no
  *    per-row window over the full table.
  *  - `rangejoin` buckets time into fixed bins so interval containment
  *    becomes an equi-join on the bin id; candidate volume is bounded
  *    by interval span / binWidth, never |points|×|intervals|.
  */
object TemporalStages {

  /** Epoch micros as a LONG column for a native timestamp (LTZ or NTZ —
    * the fixture's encoding drifts, graft.sources.Tables is the
    * authority) or a numeric (epoch-seconds) time column — all internal
    * comparisons run in integral micros, so tolerance/bin arithmetic is
    * exact. */
  private def epochMicros(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case TimestampType | TimestampNTZType =>
        graft.sources.Tables.epochMicrosOf(df, c)
      // round, don't truncating-cast: seconds·1e6 lands just below the
      // integer for many exact-micro decimals (19.999999·1e6 =
      // 19999998.999…) and the cast would shave a microsecond off —
      // the CLAUDE.md double→bigint rule
      case _: NumericType => round(col(c).cast("double") * 1e6).cast("long")
      case other => sys.error(s"time column '$c' has non-temporal type $other")
    }

  /** `asofjoin`: for every input row, attach the columns of the LATEST
    * right-side row with the same key whose time is at-or-before (or
    * strictly before, with `strict: true`) the row's time — the
    * point-in-time lookup every event pipeline needs (feature values
    * "as of" an event, last click before a purchase, …).
    *
    * Options:
    *  - `right` (required): table name or SELECT (the `against`
    *    convention, EtlContext.tableOrSql).
    *  - `on` (required): comma-separated equi-key column(s), same names
    *    on both sides.
    *  - `leftTime` (default `ts`) / `rightTime` (default = leftTime).
    *  - `select` (optional): right columns to attach; default = all
    *    right columns except keys and rightTime. Names must not collide
    *    with left columns — alias them in the `right` SELECT.
    *  - `strict` (default false): exclude right rows at exactly the
    *    left time.
    *  - `direction` (default `backward`): `backward` = latest right
    *    at-or-before (the classic as-of); `forward` = earliest right
    *    at-or-after; `nearest` = whichever of the two is closer in
    *    time (tie → backward) — the pandas `merge_asof` direction set.
    *  - `tolerance` (optional, seconds): a match farther than this in
    *    the join direction is discarded (attached columns stay null).
    *  - `matchedTimeField` (optional): also emit the matched right
    *    row's time under this name.
    *
    * Semantics are LEFT-OUTER: unmatched rows keep null attachments.
    * Rows whose right-side time is null never match; left rows with a
    * null time get null attachments.
    *
    * Scale shape: both sides union into one frame, shuffle ONCE on the
    * key, sort within the partition by (time, side-tag), and a
    * running `last(non-null)` window fills each left row from the most
    * recent right row — the distributed merge-asof (the same plan
    * pandas' merge_asof/kdb's aj compile to on one machine). State per
    * task is one row; no candidate pairs ever materialize. A single
    * pathological key concentrates its rows in one task (as in ANY
    * key-partitioned sort); per-key volume, not total volume, bounds
    * the task. Right rows sharing (key, time) tie-break by the LAST in
    * `rightOrder` (optional column, default: unspecified order —
    * pre-aggregate the right side when that matters, as DuckDB's ASOF
    * leaves the same tie unspecified). */
  def asofJoin(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val right = ctx.tableOrSql(spec.str("right")
        .getOrElse(sys.error("asofjoin: `right` (table or SELECT) required")))
      val keys = spec.str("on").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
        .getOrElse(sys.error("asofjoin: `on` (comma-separated key columns) required"))
      val lt = spec.strOr("leftTime", "ts")
      val rt = spec.strOr("rightTime", lt)
      keys.foreach { k =>
        require(df.columns.contains(k), s"asofjoin: left side lacks key column '$k'")
        require(right.columns.contains(k), s"asofjoin: right side lacks key column '$k'")
      }
      require(df.columns.contains(lt), s"asofjoin: left side lacks time column '$lt'")
      require(right.columns.contains(rt), s"asofjoin: right side lacks time column '$rt'")
      val valCols: Seq[String] = {
        val sel = spec.strList("select")
        val v = if (sel.nonEmpty) sel
                else right.columns.toSeq.filterNot(keys.contains).filterNot(_ == rt)
        v.foreach(c => require(right.columns.contains(c),
          s"asofjoin: right side lacks selected column '$c'"))
        val clash = v.filter(df.columns.contains)
        require(clash.isEmpty, "asofjoin: attached column(s) " +
          clash.mkString("[", ",", "]") + " collide with left columns — " +
          "alias them in the `right` SELECT")
        v
      }
      val strict = spec.bool("strict", dflt = false)
      val tolMicros = spec.str("tolerance").map(t => (t.toDouble * 1e6).toLong)
      val matchedTime = spec.str("matchedTimeField")
      val rightOrder = spec.str("rightOrder")
      rightOrder.foreach(c => require(right.columns.contains(c),
        s"asofjoin: right side lacks rightOrder column '$c'"))
      // `direction` (default backward, the classic as-of): backward =
      // latest right at-or-before; forward = earliest right at-or-after;
      // nearest = the closer of the two (tie → backward). Forward is the
      // same merge scanned in reverse time order; nearest evaluates both
      // scans over ONE keyed exchange (two sorts, no extra shuffle).
      val direction = spec.strOr("direction", "backward")
      require(Set("backward", "forward", "nearest")(direction),
        s"asofjoin: direction must be backward|forward|nearest, got '$direction'")

      // side tags order equal-time rows: inclusive (default) sorts right
      // BEFORE left so a left row sees the same-instant right row;
      // strict sorts it AFTER so it doesn't (same tag order in both scan
      // directions — the tag is a secondary asc key)
      val (leftTag, rightTag) = if (strict) (0, 1) else (1, 0)
      // right values travel as ONE struct: `last(ignoreNulls)` then
      // fills from the newest right ROW atomically — a right row whose
      // individual value is null must not fall through to an older row
      val rStruct = struct(
        (valCols.map(c => right(c).as(c)) :+
          epochMicros(right, rt).as("__rts")): _*)
      val lPart = df
        .withColumn("__ats", epochMicros(df, lt))
        .withColumn("__tag", lit(leftTag))
      val rPart = right
        // null-key right rows can never match: the window PARTITIONS null
        // keys together, which would fill null-key left rows in violation
        // of equi-join semantics (null = null is no match). Filter on the
        // COMPUTED epoch, not the raw column: an unparseable (non-null)
        // time value converts to a null __ats, sorts into the nulls-first
        // prefix, and without a tolerance would be adopted as the fill
        // match for the extreme left row with a null matched time.
        .where((epochMicros(right, rt).isNotNull +:
          keys.map(col(_).isNotNull)).reduce(_ && _))
        .select(keys.map(col) ++ Seq(
          epochMicros(right, rt).as("__ats"),
          lit(rightTag).as("__tag"),
          rStruct.as("__rv")) ++
          rightOrder.map(c => col(c).as("__rord")): _*)
      val unioned = lPart.unionByName(rPart, allowMissingColumns = true)
      // one running-fill scan; `descTime` reverses the time order, which
      // turns "latest at-or-before" into "earliest at-or-after". A left
      // row with null time sorts into the nulls-first prefix either way,
      // where only other null-time rows precede it → no match possible.
      def fill(descTime: Boolean): Column = {
        val timeOrd =
          if (descTime) col("__ats").desc_nulls_first else col("__ats").asc_nulls_first
        val ord = Seq(timeOrd, col("__tag").asc) ++
          rightOrder.map(_ => col("__rord").asc_nulls_first)
        val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        last(col("__rv"), ignoreNulls = true).over(w)
      }
      // signed gap is non-negative by construction in each direction
      def okOf(m: Column, gap: Column => Column): Column = tolMicros match {
        case None => m.isNotNull && col("__ats").isNotNull
        case Some(tol) => m.isNotNull && col("__ats").isNotNull && (gap(m) <= tol)
      }
      def lagOf(m: Column): Column = col("__ats") - m.getField("__rts")
      def leadOf(m: Column): Column = m.getField("__rts") - col("__ats")
      val filled0 = direction match {
        case "backward" =>
          val m = fill(descTime = false)
          unioned.withColumn("__match", m)
            .withColumn("__ok", okOf(col("__match"), lagOf))
        case "forward" =>
          val m = fill(descTime = true)
          unioned.withColumn("__match", m)
            .withColumn("__ok", okOf(col("__match"), leadOf))
        case "nearest" =>
          val both = unioned
            .withColumn("__mb", fill(descTime = false))
            .withColumn("__mf", fill(descTime = true))
            .withColumn("__okb", okOf(col("__mb"), lagOf))
            .withColumn("__okf", okOf(col("__mf"), leadOf))
          both.withColumn("__match",
              when(col("__okb") && col("__okf"),
                when(lagOf(col("__mb")) <= leadOf(col("__mf")), col("__mb"))
                  .otherwise(col("__mf")))
                .when(col("__okb"), col("__mb"))
                .when(col("__okf"), col("__mf")))
            .withColumn("__ok", col("__okb") || col("__okf"))
      }
      val filled = filled0.where(col("__tag") === leftTag)
      val attached = valCols.map(c =>
        when(col("__ok"), col(s"__match.$c")).as(c)) ++
        matchedTime.map { mt =>
          val micros = when(col("__ok"), col("__match.__rts"))
          // re-materialize in the INPUT's type (NTZ in → NTZ out), so a
          // downstream oracle's schema compare sees what it fed in
          (right.schema(rt).dataType match {
            case TimestampType => timestamp_micros(micros)
            case TimestampNTZType => graft.sources.Tables.instantToNtz(
              timestamp_micros(micros), df.sparkSession)
            case _ => (micros.cast("double") / 1e6)
          }).as(mt)
        }
      filled.select(df.columns.map(col).toSeq ++ attached: _*)
    }

  /** `sessionize`: [[sessionizeBatch]] on a batch frame, the stateful
    * [[graft.streaming.Streaming.sessionize]] on a stream; both emit
    * (key, session_start, session_end, n_events). */
  def sessionize(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame = df =>
    (if (df.isStreaming) graft.streaming.Streaming.sessionize(spec, ctx)
     else sessionizeBatch(spec, ctx))(df)

  /** `sessionize` (batch): gap-based sessions per key — the batch twin
    * of the streaming `sessionize` (graft.streaming.Streaming), over
    * the same contract: a new session starts when the gap to the
    * previous event exceeds `gapMs`. Unlike the streaming form there is
    * no watermark cut-off — EVERY session emits (bounded input).
    * Options: `keyField` (default user_id), `tsField` (default ts),
    * `gapMs` (default 30 min). Output: (key, session_start,
    * session_end, n_events), key cast to string like the streaming
    * stage. A query stage (replaces the stream with the session table).
    *
    * Scale shape: two window passes over ONE key-partitioned sort
    * (lag → running sum — Spark reuses the exchange and sort between
    * same-spec windows) + one hash aggregation; state per task is a
    * row, never a session buffer. Per-key volume bounds the sort task
    * (as in any keyed sessionization). */
  def sessionizeBatch(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val gapMs = spec.long("gapMs").getOrElse(30L * 60 * 1000)
      val micros = epochMicros(df, ts)
      val w = Window.partitionBy(col(key)).orderBy(micros.asc)
      val newSess = when(lag(micros, 1).over(w).isNull ||
        micros - lag(micros, 1).over(w) > gapMs * 1000L, 1L).otherwise(0L)
      val sid = sum(newSess).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow))
      df.where(col(ts).isNotNull)
        .select(col(key).cast("string").as("key"), col(ts).as("__ts"),
          sid.as("__sid"))
        .groupBy("key", "__sid")
        .agg(min("__ts").as("session_start"), max("__ts").as("session_end"),
          count(lit(1)).as("n_events"))
        .drop("__sid")
    }

  /** `rolling`: per-key event-time rolling aggregates — for every input
    * row, aggregates over that key's rows in the inclusive time range
    * `[t - window, t]` (the classic trailing-window feature: activity
    * counts, trailing spend). Options: `keyField` (default user_id),
    * `tsField` (default ts), `window` (seconds, required), `aggs`
    * (["count", "sum:col", "min:col", "max:col"], default count) —
    * emitted as `rolling_n` / `rolling_sum_col` / …. Floating sums in a
    * RANGE frame are frame-order accumulations; for oracle-exact
    * results sum an integer-valued column (the driver query sums
    * cents).
    *
    * Scale shape: ONE shuffle on the key + per-partition sort; the
    * RANGE frame is a sliding two-pointer over the sorted run (Spark's
    * bounded-frame window), state = the in-frame rows of one key. */
  def rolling(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val winSec = spec.str("window").map(_.toDouble)
        .getOrElse(sys.error("rolling: `window` (seconds) required"))
      val wMicros = (winSec * 1e6).toLong
      require(wMicros > 0, "rolling: window must be positive")
      val w = Window.partitionBy(col(key)).orderBy(epochMicros(df, ts).asc)
        .rangeBetween(-wMicros, 0)
      val aggs = spec.strList("aggs") match {
        case Nil => Seq(count(lit(1)).over(w).as("rolling_n"))
        case specs => specs.map(_.split(":") match {
          case Array("count") => count(lit(1)).over(w).as("rolling_n")
          case Array("sum", f) => sum(col(f)).over(w).as(s"rolling_sum_$f")
          case Array("min", f) => min(col(f)).over(w).as(s"rolling_min_$f")
          case Array("max", f) => max(col(f)).over(w).as(s"rolling_max_$f")
          case other => sys.error(s"rolling: unknown agg ${other.mkString(":")}")
        })
      }
      df.select(df.columns.map(col).toSeq ++ aggs: _*)
    }

  /** `delta`: per-key ordered lag deltas — the telemetry primitive
    * ("time since this user's previous event", "counter increment per
    * reading"). Rows order per key by (`tsField`, optional `tieField`
    * for a total order under equal timestamps); the stage emits
    * `dt_us` (micros since the key's previous row; null on each key's
    * first row) and, per `valueFields` entry f, `<f>_delta` =
    * f − lag(f). ONE window spec serves every output — one keyed
    * exchange + one per-partition sort at any scale.
    * Options: `keyField` (default user_id), `tsField` (default ts),
    * `tieField` (optional), `valueFields` (optional list of numeric
    * columns). */
  def delta(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val tsUs = epochMicros(df, ts)
      val ord = tsUs.asc +: spec.str("tieField").map(col(_).asc).toSeq
      val w = Window.partitionBy(col(key)).orderBy(ord: _*)
      val base = df.withColumn("dt_us", tsUs - lag(tsUs, 1).over(w))
      spec.strList("valueFields").foldLeft(base) { (d, f) =>
        d.withColumn(s"${f}_delta", col(f) - lag(col(f), 1).over(w))
      }
    }

  /** `cumulate`: keyed running aggregates over an ordered event history
    * — the running-total feature family (`lifetime spend so far`,
    * `events to date`) that [[delta]]'s adjacent differences don't
    * cover. Per key, ordered by (`tsField`, `tieField`): each listed
    * value field gains `<f>_cumsum` (rows-unbounded-preceding THROUGH
    * the current row) and the row gains one `cum_n` running count.
    * Integral value fields accumulate exactly (long sums — determinism
    * envelope |Σ| < 2^63, the fixture scale's by construction); the
    * `tieField` must complete a TOTAL order or run-to-run row order
    * within equal timestamps would shuffle the running values.
    *
    * Options: `keyField` (default user_id), `tsField` (default ts),
    * `tieField` (recommended), `valueFields` (list, may be empty for
    * count-only).
    *
    * Scale shape: ONE keyed window — state per task is a single
    * partition's key groups, nothing global; the exchange carries the
    * input rows once. The 100-TB posture is the same as every keyed
    * window here: partitions by key hash, per-key history sorted
    * within its partition (skewed keys are the user's salting
    * decision — running sums are order-defined, so unlike [[graft.stages.LookupStages.skewjoin]]
    * there is no transparent salt that preserves semantics). */
  def cumulate(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val tsUs = epochMicros(df, ts)
      val ord = tsUs.asc +: spec.str("tieField").map(col(_).asc).toSeq
      val w = Window.partitionBy(col(key)).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val base = df.withColumn("cum_n", count(lit(1)).over(w))
      spec.strList("valueFields").foldLeft(base) { (d, f) =>
        d.withColumn(s"${f}_cumsum", sum(col(f)).over(w))
      }
    }

  /** `datefeatures`: calendar feature extraction from a time column —
    * the `<f>_year/_month/_day/_dow/_hour/...` expansion every
    * time-aware model and partition layout wants. The column first
    * rides [[graft.sources.Tables.normalizeTs]] (any fixture encoding
    * → one UTC wall clock — the round-8 drift contract), so the fields
    * are UTC-calendar and engine-independent. `dow` is ISO (1 = Monday
    * … 7 = Sunday — the unambiguous convention; Spark's `dayofweek`
    * 1-Sunday spelling never leaks out), `week` the ISO week.
    *
    * Options: `field` (default ts), `parts` (subset of year month day
    * dow hour minute second week doy; default year month day dow
    * hour), `prefix` (default the field name). All outputs are INT.
    *
    * Scale shape: pure per-row codegen'd projection — no shuffle. */
  def dateFeatures(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df0 =>
      val f = spec.strOr("field", "ts")
      require(df0.columns.contains(f), s"datefeatures: no column '$f'")
      val df = graft.sources.Tables.normalizeTs(df0, f)
      val prefix = spec.strOr("prefix", f)
      val c = col(f)
      val all: Map[String, Column] = Map(
        "year" -> year(c), "month" -> month(c), "day" -> dayofmonth(c),
        "dow" -> (expr(s"weekday(`$f`)") + 1), // ISO: weekday is 0=Monday
        "hour" -> hour(c), "minute" -> minute(c), "second" -> second(c),
        "week" -> weekofyear(c), "doy" -> dayofyear(c))
      val parts = spec.strList("parts") match {
        case Nil => Seq("year", "month", "day", "dow", "hour")
        case ps => ps
      }
      parts.foreach(p => require(all.contains(p),
        s"datefeatures: unknown part '$p' (want ${all.keys.toSeq.sorted.mkString("|")})"))
      parts.foldLeft(df) { (d, p) =>
        d.withColumn(s"${prefix}_$p", all(p).cast("int"))
      }
    }

  /** `eventpaths`: frequent user-journey paths — per key, the ordered
    * state sequence rendered as one `sep`-joined string (capped at the
    * first `maxSteps` states), then counted across keys. The
    * whole-journey complement of [[transitions]]' one-hop matrix
    * ("which FULL paths are common?"). Output: (`path`, `n_keys`),
    * a query stage. NULL states render as `(null)` (a join would
    * silently skip them); NULL-timestamp rows are DROPPED (the
    * ewma/runlength contract — an unordered event can't sit inside a
    * journey); ordering inside a key is (`tsField`,
    * `tieField`) — supply the tie-breaker or equal-timestamp paths are
    * run-dependent.
    *
    * Options: `keyField` (default user_id), `tsField` (default ts),
    * `tieField` (recommended), `stateField` (required), `sep` (default
    * `>`), `maxSteps` (default 100 — journeys truncate, LOUDLY capped
    * ≥ 1; per-key state is maxSteps strings, never unbounded).
    *
    * Scale shape: ONE keyed window (row_number — Spark's window sort is
    * disk-backed) TRUNCATES each key to its first `maxSteps` events
    * BEFORE any collection, so the per-key aggregation buffer holds at
    * most maxSteps structs — a 10M-event power key costs a spillable
    * sort, never an OOM-sized collect_list (the naive
    * collect-then-slice shape buffers the FULL history per key).
    * sort_array then fixes the order inside the bounded list, + ONE
    * count aggregation over path strings. No global sort. */
  def eventPaths(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val state = spec.str("stateField").getOrElse(
        sys.error("eventpaths: `stateField` required"))
      require(df.columns.contains(state), s"eventpaths: no column '$state'")
      val sep = spec.strOr("sep", ">")
      val maxSteps = spec.int("maxSteps", 100)
      require(maxSteps >= 1, s"eventpaths: maxSteps must be >= 1, got $maxSteps")
      val tsUs = epochMicros(df, ts)
      val ord = tsUs.asc +: spec.str("tieField").map(col(_).asc).toSeq
      val w = Window.partitionBy(col(key)).orderBy(ord: _*)
      val tie = spec.str("tieField").map(col(_)).getOrElse(lit(0L))
      val ev = struct(tsUs.as("t"), tie.as("k"),
        coalesce(col(state).cast("string"), lit("(null)")).as("s"))
      // NULL-timestamp rows are dropped (the ewma/runlength/changepoint
      // contract): an unordered event can't sit inside a journey, and
      // Spark sorts nulls FIRST while SQL oracles default them LAST —
      // the silent-divergence hole a fixture regen would open
      df.where(col(ts).isNotNull)
        .select(col(key), ev.as("__ev"), row_number().over(w).as("__rn"))
        .where(col("__rn") <= maxSteps)
        .groupBy(col(key))
        .agg(sort_array(collect_list(col("__ev"))).as("__evs"))
        .select(array_join(col("__evs.s"), sep).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_keys"))
    }

  /** `lagfeatures`: k-step lag/lead feature columns per key — the
    * windowed featurization [[delta]] (1-step differences) and
    * [[cumulate]] (running totals) don't cover: "the value 1, 2, 3
    * observations ago" as model inputs. Per listed value field f and
    * step s ∈ 1..`lags`, emits `<f>_lag<s>` (null before the key has s
    * history rows) and, when `leads` > 0, `<f>_lead<s>` — the label-
    * construction direction ("what happens next"), null at the key's
    * end. Ordering is (`tsField`, `tieField`) — supply the tie-breaker
    * or equal-timestamp features are run-dependent.
    *
    * Options: `keyField` (default user_id), `tsField` (default ts),
    * `tieField` (recommended), `valueFields` (required), `lags`
    * (default 1), `leads` (default 0); lags + leads bounded at 32 —
    * wider frames belong in an aggregation, not 64 window columns.
    *
    * Scale shape: every column rides ONE window spec — one keyed
    * exchange + one per-partition sort regardless of how many
    * lag/lead steps are requested. */
  def lagFeatures(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val fields = spec.strList("valueFields")
      require(fields.nonEmpty, "lagfeatures: `valueFields` required")
      fields.foreach(f =>
        require(df.columns.contains(f), s"lagfeatures: no column '$f'"))
      val lags = spec.int("lags", 1)
      val leads = spec.int("leads", 0)
      require(lags >= 0 && leads >= 0 && lags + leads >= 1,
        s"lagfeatures: need lags >= 0, leads >= 0, lags + leads >= 1")
      require(lags + leads <= 32,
        s"lagfeatures: lags + leads bounded at 32 (got ${lags + leads}) — " +
        "wider history belongs in rolling/cumulate aggregations")
      val ord = epochMicros(df, ts).asc +:
        spec.str("tieField").map(col(_).asc).toSeq
      val w = Window.partitionBy(col(key)).orderBy(ord: _*)
      val withLags = fields.foldLeft(df) { (d, f) =>
        (1 to lags).foldLeft(d) { (d2, s) =>
          d2.withColumn(s"${f}_lag$s", lag(col(f), s).over(w)) }
      }
      fields.foldLeft(withLags) { (d, f) =>
        (1 to leads).foldLeft(d) { (d2, s) =>
          d2.withColumn(s"${f}_lead$s", lead(col(f), s).over(w)) }
      }
    }

  /** `ewma`: per-key exponentially weighted moving average — the
    * standard signal smoother (`rolling`'s flat mean weights all
    * history equally; EWMA discounts geometrically:
    * y_t = α·x_t + (1−α)·y_{t−1}, seeded y_0 = x_0, the pandas
    * adjust=false recursion). State is TRUNCATED to the last `window`
    * observations per key (default 16) — the dropped weight is
    * (1−α)^window, and bounding the frame is what keeps a hot key from
    * collecting its whole history into one buffer.
    *
    * Determinism: the recursion folds LEFT-TO-RIGHT over the windowed
    * values with the seed-from-first-element convention, one fused
    * multiply-add tree per step — the exact op order DuckDB's
    * `list_reduce` uses, so an oracle spelling `acc·(1−α) + x·α` (with
    * the literals CAST to DOUBLE) is hash-exact. β = 1−α is computed
    * ONCE in driver code (one IEEE subtract), matching the oracle's
    * `CAST(1 AS DOUBLE) − CAST(α AS DOUBLE)`. Rows with a NULL value
    * or NULL timestamp are DROPPED (documented — a null observation
    * has no place in the recursion; impute upstream to keep them).
    *
    * Options: `field` (numeric, required), `keyField` (default
    * user_id), `tsField` (default ts), `tieField` (recommended — total
    * order under equal timestamps, or the fold order is tie-ambiguous),
    * `alpha` (default 0.25, in (0,1]), `window` (default 16, in
    * [1,1024]), `outputField` (default `<field>_ewma`).
    *
    * Scale shape: ONE keyed window (collect_list over a bounded ROWS
    * frame) + a per-row fold of ≤ `window` elements — no global sort,
    * no unbounded per-key state. */
  def ewma(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.str("field").getOrElse(sys.error("ewma: `field` required"))
      require(df.columns.contains(f), s"ewma: no column '$f'")
      require(df.schema(f).dataType.isInstanceOf[NumericType],
        s"ewma: '$f' must be numeric, got ${df.schema(f).dataType.simpleString}")
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      Seq(key, ts).foreach(c =>
        require(df.columns.contains(c), s"ewma: no column '$c'"))
      val alpha = spec.str("alpha").map(_.toDouble).getOrElse(0.25)
      require(alpha > 0 && alpha <= 1, s"ewma: alpha must be in (0,1], got $alpha")
      val beta = 1.0 - alpha
      val win = spec.int("window", 16)
      require(win >= 1 && win <= 1024,
        s"ewma: window must be in [1,1024], got $win")
      val out = spec.strOr("outputField", s"${f}_ewma")
      require(!df.columns.contains(out),
        s"ewma: output column '$out' exists — set outputField")
      val ord = epochMicros(df, ts).asc +:
        spec.str("tieField").map(col(_).asc).toSeq
      val w = Window.partitionBy(col(key)).orderBy(ord: _*)
        .rowsBetween(-(win - 1), 0)
      df.where(col(f).isNotNull && col(ts).isNotNull)
        .withColumn("__w", collect_list(col(f).cast("double")).over(w))
        .withColumn(out, aggregate(
          slice(col("__w"), lit(2), size(col("__w")) - 1),
          element_at(col("__w"), 1),
          (acc, x) => acc * lit(beta) + x * lit(alpha)))
        .drop("__w")
    }

  /** `runlength`: run-length compression of a keyed state stream — one
    * row per maximal run of consecutive equal states ("device X was in
    * state ERROR from t₁ to t₂ across 17 events"), the state-machine
    * summary [[sessionize]] can't express (sessions split on time
    * gaps; runs split on VALUE changes). NULL is a real state
    * (null-safe change detection — a null-state run is a run; a NULL
    * TIMESTAMP however is not an observation and its row is dropped —
    * an unordered event can't sit inside a run). Output per run: key,
    * state, `run_start`/`run_end` (first/last event time), `n_events`.
    * Run boundaries are deterministic given the (tsField, tieField)
    * total order.
    *
    * Options: `keyField` (default user_id), `tsField` (default ts),
    * `tieField` (recommended), `stateField` (required).
    *
    * Scale shape: ONE keyed window (lag + running change count) + ONE
    * hash aggregation on (key, run) — no per-key buffering. */
  def runLength(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val st = spec.str("stateField").getOrElse(
        sys.error("runlength: `stateField` required"))
      Seq(key, ts, st).foreach(c =>
        require(df.columns.contains(c), s"runlength: no column '$c'"))
      val ord = epochMicros(df, ts).asc +:
        spec.str("tieField").map(col(_).asc).toSeq
      val w = Window.partitionBy(col(key)).orderBy(ord: _*)
      val cum = Window.partitionBy(col(key)).orderBy(ord: _*)
        .rowsBetween(Long.MinValue, 0)
      df.where(col(ts).isNotNull)
        .withColumn("__chg",
          when(lag(lit(1), 1).over(w).isNull, 1L) // each key's first row
            .otherwise(when(col(st) <=> lag(col(st), 1).over(w), 0L)
              .otherwise(1L)))
        .withColumn("__run", sum(col("__chg")).over(cum))
        .groupBy(col(key), col("__run"))
        .agg(min(col(st)).as("state"), // constant within a run
          min(col(ts)).as("run_start"), max(col(ts)).as("run_end"),
          count(lit(1)).as("n_events"))
        .drop("__run")
    }

  /** `autocorr`: EXACT lag-k autocorrelation per key over an ordered
    * integral series — "is this signal periodic / mean-reverting /
    * trending?" ([[ewma]] smooths; ACF diagnoses). The Box–Jenkins
    * sample ACF with the full-series mean, computed WITHOUT floats by
    * scaling both sides by n²: with S = Σx, SS = Σx², pair sums
    * Σab/Σa/Σb over the m = n−k aligned pairs,
    * `acf = (n²·Σab − n·S·(Σa+Σb) + m·S²) / (n·(n·SS − S²))` — exact
    * longs closed by ONE IEEE division (constant series → null).
    * Envelope: exact while n²·Σab fits a long (documented — scale or
    * window the series upstream past ~10⁹ value·row mass). Rows with
    * NULL value or ts are not observations. Output per (key, lag):
    * n, n_pairs, acf.
    *
    * Options: `keyField` (default user_id), `tsField` (default ts),
    * `tieField` (recommended), `valueField` (integral, required),
    * `lags` (list, default [1], each in [1,64]).
    *
    * Scale shape: ONE keyed window carrying every requested lag (the
    * lagfeatures shape) + ONE hash aggregation per key; the per-lag
    * stacking explodes the AGGREGATED frame (key-cardinality), never
    * the events. */
  def autocorr(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val vF = spec.str("valueField").getOrElse(
        sys.error("autocorr: `valueField` required"))
      Seq(key, ts, vF).foreach(c =>
        require(df.columns.contains(c), s"autocorr: no column '$c'"))
      require(Set[org.apache.spark.sql.types.DataType](
          org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.ByteType)
          .contains(df.schema(vF).dataType),
        s"autocorr: valueField '$vF' must be an INTEGRAL column (got " +
        s"${df.schema(vF).dataType.simpleString}) — the co-moment sums " +
        "are exact longs; scale upstream to integers first")
      val lags = spec.list("lags") match {
        case Nil => Seq(1)
        case l => l.map(_.toString.toInt)
      }
      lags.foreach(k => require(k >= 1 && k <= 64,
        s"autocorr: each lag must be in [1,64], got $k"))
      val ord = epochMicros(df, ts).asc +:
        spec.str("tieField").map(col(_).asc).toSeq
      val w = Window.partitionBy(col(key)).orderBy(ord: _*)
      val x = col(vF).cast("long")
      val base = lags.foldLeft(
        df.where(col(vF).isNotNull && col(ts).isNotNull)) { (d, k) =>
        d.withColumn(s"__l$k", lag(x, k).over(w))
      }
      val perLag = lags.flatMap { k =>
        val b = col(s"__l$k")
        Seq(sum(x * b).as(s"__ab$k"),
          sum(when(b.isNotNull, x)).as(s"__a$k"),
          sum(b).as(s"__b$k"),
          count(b).as(s"__m$k"))
      }
      val aggCols = Seq(sum(x).as("__s"), sum(x * x).as("__ss")) ++ perLag
      val agged = base.groupBy(col(key))
        .agg(count(lit(1)).as("n"), aggCols: _*)
      val stacked = agged.select(col(key), col("n"), col("__s"), col("__ss"),
        explode(array(lags.map(k => struct(lit(k).as("lag"),
          coalesce(col(s"__ab$k"), lit(0L)).as("ab"),
          coalesce(col(s"__a$k"), lit(0L)).as("a"),
          coalesce(col(s"__b$k"), lit(0L)).as("b"),
          col(s"__m$k").as("m"))): _*)).as("__e"))
      val num = col("n") * col("n") * col("__e.ab") -
        col("n") * col("__s") * (col("__e.a") + col("__e.b")) +
        col("__e.m") * col("__s") * col("__s")
      val den = col("n") * (col("n") * col("__ss") - col("__s") * col("__s"))
      stacked.select(col(key), col("n"),
          col("__e.lag").as("lag"), col("__e.m").as("n_pairs"),
          when(den > 0 && col("__e.m") > 0,
            num.cast("double") / den.cast("double")).as("acf"))
    }

  /** `changepoint`: EXACT CUSUM level-shift detection per key — "where
    * did this signal change?" (the monitoring companion of [[delta]]'s
    * "how much"). For a key's n ordered integral values with prefix
    * sums P_t and total S, the scaled CUSUM is
    * `C_t = n·P_t − t·S` — the classic Σ(x_i − x̄) statistic times n,
    * EXACT in longs (no mean, no floats) — and the changepoint is the
    * interior position t ∈ [1, n−1] maximizing |C_t| (ties → earliest
    * t, fully deterministic). Output per key: `n`, `cp_index`
    * (1-based; single-observation keys have no interior position and
    * are ABSENT from the output), `cp_ts` (the timestamp AT the
    * changepoint), `cusum_max` (the exact |C| long — compare across
    * keys of EQUAL n only, it scales with n·Σ|x|), and `cusum_rate` =
    * cusum_max/(n·n) as a size-comparable double (ONE IEEE division).
    * Rows with NULL value or ts are not observations. Envelope: exact
    * while n·P_t fits a long.
    *
    * Options: `keyField` (default user_id), `tsField` (default ts),
    * `tieField` (recommended), `valueField` (integral, required).
    *
    * Scale shape: ONE keyed window (prefix sum + row number) over the
    * events + group totals joined back null-safely + ONE struct-max
    * aggregation — no per-key buffering, no second pass. */
  def changepoint(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val vF = spec.str("valueField").getOrElse(
        sys.error("changepoint: `valueField` required"))
      Seq(key, ts, vF).foreach(c =>
        require(df.columns.contains(c), s"changepoint: no column '$c'"))
      require(Set[org.apache.spark.sql.types.DataType](
          org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.ByteType)
          .contains(df.schema(vF).dataType),
        s"changepoint: valueField '$vF' must be an INTEGRAL column (got " +
        s"${df.schema(vF).dataType.simpleString}) — the CUSUM is exact " +
        "longs; scale upstream (cents, micros) to integers first")
      val ord = epochMicros(df, ts).asc +:
        spec.str("tieField").map(col(_).asc).toSeq
      val w = Window.partitionBy(col(key)).orderBy(ord: _*)
        .rowsBetween(Long.MinValue, 0)
      val base = df.where(col(vF).isNotNull && col(ts).isNotNull)
        .withColumn("__p", sum(col(vF).cast("long")).over(w))
        .withColumn("__rn", count(lit(1)).over(w))
      val totS = base.groupBy(col(key).as("__tk"))
        .agg(max("__rn").as("__n"), sum(col(vF).cast("long")).as("__S"))
      val joined = base.join(totS, col(key) <=> col("__tk")).drop("__tk")
      val c = col("__n") * col("__p") - col("__rn") * col("__S")
      joined
        .where(col("__rn") < col("__n")) // interior positions only
        .withColumn("__absc", abs(c))
        .groupBy(col(key))
        .agg(max("__n").as("n"),
          max(struct(col("__absc"), (-col("__rn")).as("negrn"),
            col("__rn").as("idx"), col(ts).as("cts"))).as("__w"))
        .select(col(key), col("n"),
          col("__w.idx").as("cp_index"), col("__w.cts").as("cp_ts"),
          col("__w.__absc").as("cusum_max"))
        .withColumn("cusum_rate", col("cusum_max").cast("double") /
          (col("n") * col("n")).cast("double"))
    }

  /** `transitions`: first-order Markov transition matrix over a keyed
    * event stream — the user-journey structure behind [[funnel]]'s
    * fixed steps ("after a view, what happens next, how often?"). Per
    * key, rows order by (`tsField`, `tieField`); each adjacent state
    * pair contributes one observation. Output: one row per
    * (`from_state`, `to_state`) — `n` (observed transitions), `n_from`
    * (all transitions leaving `from_state`) and `p` = n / n_from (two
    * exact longs, ONE IEEE division — hash-deterministic). A QUERY
    * stage (replaces the stream). NULL states are real states (a
    * missing-field marker transitions like any other — null-safe
    * aggregation) but NULL-TIMESTAMP rows are dropped (the
    * ewma/runlength contract), and self-loops count unless
    * `selfLoops` = false.
    *
    * Options: `keyField` (default user_id), `tsField` (default ts),
    * `tieField` (recommended — total order under equal timestamps),
    * `stateField` (required), `selfLoops` (default true), `minCount`
    * (default 1 — prune rare transitions AFTER `n_from` is fixed, so
    * probabilities still sum to 1 over the unpruned matrix).
    *
    * Scale shape: ONE keyed window (lead) over the events + ONE hash
    * aggregation to the state-pair matrix; `n_from` re-aggregates the
    * MATRIX (state-space-sized, never event rows again) and joins back
    * null-safely. State spaces are small by problem shape — the join
    * broadcasts under AQE. */
  def transitions(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val state = spec.str("stateField").getOrElse(
        sys.error("transitions: `stateField` required"))
      require(df.columns.contains(state), s"transitions: no column '$state'")
      val minCount = spec.long("minCount").getOrElse(1L)
      val tsUs = epochMicros(df, ts)
      val ord = tsUs.asc +: spec.str("tieField").map(col(_).asc).toSeq
      val w = Window.partitionBy(col(key)).orderBy(ord: _*)
      // NULL-timestamp rows are dropped (the ewma/runlength/changepoint
      // contract — see eventPaths); NULL STATES remain real states
      val pairs = df.where(col(ts).isNotNull)
        .select(col(state).as("from_state"),
          lead(col(state), 1).over(w).as("__to"),
          lead(lit(1), 1).over(w).as("__has_next"))
        .where(col("__has_next").isNotNull) // each key's last row: no successor
      val pairs1 =
        if (spec.bool("selfLoops", dflt = true)) pairs
        else pairs.where(!(col("from_state") <=> col("__to")))
      val matrix = pairs1
        .groupBy(col("from_state"), col("__to").as("to_state"))
        .agg(count(lit(1)).as("n"))
      val fromTot = matrix.groupBy(col("from_state").as("__f"))
        .agg(sum("n").as("n_from"))
      matrix.join(fromTot, col("from_state") <=> col("__f")).drop("__f")
        .where(col("n") >= minCount)
        .withColumn("p", col("n").cast("double") / col("n_from").cast("double"))
    }

  /** `funnel`: ordered-step conversion funnel over an event stream —
    * the product-analytics primitive ("view → click → purchase within
    * 24 h"). Per key, step 1 completes at the EARLIEST matching event;
    * each later step at the earliest matching event STRICTLY AFTER the
    * previous step's completion (and, with `window` set, no later than
    * `window` seconds after step 1 — the classic conversion window
    * anchored at entry). A key that skips a step stalls there: later
    * step events never advance it.
    *
    * Options: `steps` (ordered list of event-type values, required,
    * ≥ 2), `keyField` (default user_id), `tsField` (default ts),
    * `typeField` (default event_type), `window` (seconds, optional).
    * Output: one row per key that completed step 1 —
    * (`key`, `steps_completed`, `first_ts`, `last_ts`) where last_ts
    * is the completion time of the furthest step reached.
    *
    * Scale shape: one filtered min-aggregate per step (the type filter
    * pushes to the scan; partial min combines map-side) + one narrow
    * hash join per step on the key — k−1 bounded joins over
    * (key, 3 timestamps) frames, never a per-key sort of the full
    * event history and never a window over unbounded state. */
  def funnel(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val typ = spec.strOr("typeField", "event_type")
      val steps = spec.strList("steps")
      require(steps.size >= 2, s"funnel: `steps` needs >= 2 entries, got ${steps.size}")
      val winMicros = spec.str("window").map(s => (s.toDouble * 1e6).toLong)
      winMicros.foreach(w => require(w > 0, "funnel: window must be positive"))
      val base = df.select(col(key).as("__k"), epochMicros(df, ts).as("__t"),
        col(typ).as("__e"))
      var cur = base.where(col("__e") === steps.head)
        .groupBy("__k").agg(min("__t").as("__t1"))
        .select(col("__k"), col("__t1"), col("__t1").as("__tprev"),
          lit(1).as("__n"))
      for (i <- 1 until steps.size) {
        val inWindow = winMicros.fold(lit(true))(w => col("__t") <= col("__t1") + w)
        val stepMin = base.where(col("__e") === steps(i))
          .join(cur.select("__k", "__t1", "__tprev"), "__k")
          .where(col("__t") > col("__tprev") && inWindow)
          .groupBy("__k").agg(min("__t").as("__ti"))
        // contiguity guard: only keys sitting exactly at step i advance —
        // a key stalled earlier must ignore later-step events
        val advanced = col("__ti").isNotNull && col("__n") === lit(i)
        cur = cur.join(stepMin, Seq("__k"), "left")
          .withColumn("__tprev", when(advanced, col("__ti")).otherwise(col("__tprev")))
          .withColumn("__n", when(advanced, lit(i + 1)).otherwise(col("__n")))
          .drop("__ti")
      }
      cur.select(col("__k").as("key"), col("__n").as("steps_completed"),
        timestamp_micros(col("__t1")).as("first_ts"),
        timestamp_micros(col("__tprev")).as("last_ts"))
    }

  /** `cohortretention`: cohort × period activity matrix — the
    * retention triangle ("of the users whose first event fell in week
    * W, how many were active in week W+k"). Cohort = the `period`
    * truncation of the key's FIRST event; a key is active in period k
    * when any of its events falls in cohort + k periods.
    *
    * Options: `keyField` (default user_id), `tsField` (default ts),
    * `period` ∈ week (default) | day, `maxPeriods` (optional cap on
    * the emitted period index). Output: (`cohort` yyyy-MM-dd string,
    * `period` int, `active` count of distinct keys).
    *
    * Scale shape: one min-aggregate for first events (map-side
    * partial), one key join to attach cohorts, one distinct over
    * (key, cohort, period) — all shuffles carry (key, date, int)
    * triples, never event payloads; the final per-(cohort, period)
    * count is a trivially small aggregate. */
  def cohortRetention(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.strOr("keyField", "user_id")
      val ts = spec.strOr("tsField", "ts")
      val period = spec.strOr("period", "week")
      require(Set("week", "day")(period),
        s"cohortretention: period must be week|day, got '$period'")
      val days = if (period == "week") 7 else 1
      // event times arrive as native timestamps or epoch seconds (the
      // fixture drift rule) — truncate in timestamp space
      val tsCol = df.schema(ts).dataType match {
        case TimestampType | TimestampNTZType => col(ts)
        case _ => timestamp_micros(epochMicros(df, ts))
      }
      val base = df.select(col(key).as("__k"),
        to_date(date_trunc(period, tsCol)).as("__p"))
      val first = base.groupBy("__k").agg(min("__p").as("__c"))
      val act = base.join(first, "__k")
        .select(col("__k"), col("__c"),
          (datediff(col("__p"), col("__c")) / days).cast("int").as("period"))
        .distinct()
      val capped = spec.long("maxPeriods").fold(act)(m =>
        act.where(col("period") <= m))
      capped.groupBy(date_format(col("__c"), "yyyy-MM-dd").as("cohort"),
          col("period"))
        .agg(count(lit(1)).as("active"))
    }

  /** `resample`: align events to a fixed time grid — the pandas
    * `resample` / time-series `GROUP BY time()` primitive. Buckets every
    * row into `every`-second windows (bucket = floor(epochMicros /
    * every)), aggregates per (keys, bucket), and optionally DENSIFIES
    * the grid: emit one row per key per bucket from that key's first to
    * last observation, forward-filling gap buckets from the latest
    * observed bucket.
    *
    * Options:
    *  - `every` (seconds, required): grid step.
    *  - `keyField` (optional, comma-separated): per-key grids; absent =
    *    one global grid.
    *  - `tsField` (default `ts`).
    *  - `aggs` (default ["count"]): "count" → `n`, "sum:c" → `sum_c`,
    *    "min:c"/"max:c"/"avg:c" likewise, "first:c"/"last:c" → value of
    *    the time-earliest/-latest row in the bucket (ties broken by
    *    value — deterministic).
    *  - `fill` (default `none`): `none` = observed buckets only;
    *    `ffill` = full per-key grid, gap buckets carry the previous
    *    bucket's aggregates ATOMICALLY (all columns from the same
    *    source bucket) plus `is_gap = true`; `linear` = full per-key
    *    grid with gap buckets LINEARLY INTERPOLATED between the
    *    nearest observed bucket on each side (numeric aggregates only;
    *    every output aggregate becomes double). The grid spans each
    *    key's first..last observation, so a gap always has both an
    *    earlier and a later observation — interpolation is total, no
    *    extrapolation edge exists.
    *  - `maxBuckets` (default 1000000): a key spanning more grid steps
    *    fails with the config rule to fix (a years-long key at 1-second
    *    steps is a row bomb, not a plan).
    *
    * Output: keys…, `bucket_ts` (bucket start, in the input time
    * column's type), agg columns, and `is_gap` when filling.
    *
    * Scale shape: the aggregation is ONE hash shuffle with map-side
    * combine (bucketing is a pure projection). Densify adds a per-key
    * bounds aggregate (one row per key), a distributed
    * `sequence`-explode of bucket ids (bounded by `maxBuckets`, rows
    * carry only keys + a long), an equi-join back to the aggregates,
    * and one keyed window for the fill — every step keyed, nothing
    * driver-side, no per-row subqueries. */
  def resample(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val ts = spec.strOr("tsField", "ts")
      val keys = spec.str("keyField")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      val every = spec.str("every").map(_.toDouble)
        .getOrElse(sys.error("resample: `every` (seconds) required"))
      val everyMicros = (every * 1e6).toLong
      require(everyMicros > 0, "resample: every must be positive")
      require(df.columns.contains(ts), s"resample: no time column '$ts'")
      keys.foreach(k => require(df.columns.contains(k),
        s"resample: no key column '$k'"))
      val maxBuckets = spec.int("maxBuckets", 1000000)
      val fillMode = spec.strOr("fill", "none")
      require(Set("none", "ffill", "linear")(fillMode),
        s"resample: fill must be none|ffill|linear, got '$fillMode'")

      val pre = df
        .withColumn("__ats", epochMicros(df, ts))
        .where(col("__ats").isNotNull &&
          keys.map(col(_).isNotNull).foldLeft(lit(true))(_ && _))
        .withColumn("__bucket",
          floor(col("__ats").cast("double") / everyMicros.toDouble).cast("long"))
      val aggSpecs = spec.strList("aggs") match {
        case Nil => Seq("count")
        case s => s
      }
      val aggNames = aggSpecs.map(_.split(":") match {
        case Array("count") => "n"
        case Array(op, f) => s"${op}_$f"
        case other => sys.error(s"resample: unknown agg ${other.mkString(":")}")
      })
      val aggExprs: Seq[Column] = aggSpecs.zip(aggNames).map { case (a, nm) =>
        (a.split(":") match {
          case Array("count") => count(lit(1))
          case Array("sum", f) => sum(col(f))
          case Array("min", f) => min(col(f))
          case Array("max", f) => max(col(f))
          case Array("avg", f) => avg(col(f))
          case Array("first", f) => min_by(col(f), struct(col("__ats"), col(f)))
          case Array("last", f) => max_by(col(f), struct(col("__ats"), col(f)))
          case other => sys.error(s"resample: unknown agg ${other.mkString(":")}")
        }).as(nm)
      }
      val agged = pre.groupBy((keys.map(col) :+ col("__bucket")): _*)
        .agg(aggExprs.head, aggExprs.tail: _*)

      // bucket start, re-materialized in the INPUT time column's type so
      // downstream stages (and the oracle's schema compare) see what was
      // fed in — the asofjoin matchedTimeField convention
      def bucketTs(frame: DataFrame): Column = {
        val micros = col("__bucket") * everyMicros
        df.schema(ts).dataType match {
          case TimestampType => timestamp_micros(micros)
          case TimestampNTZType => graft.sources.Tables.instantToNtz(
            timestamp_micros(micros), frame.sparkSession)
          case _ => micros.cast("double") / 1e6
        }
      }

      fillMode match {
        case "none" =>
          agged.select((keys.map(col) :+ bucketTs(agged).as("bucket_ts")) ++
            aggNames.map(col): _*)
        case "ffill" | "linear" =>
          val bounds = agged.groupBy(keys.map(col): _*)
            .agg(min("__bucket").as("__mn"), max("__bucket").as("__mx"))
          val span = col("__mx") - col("__mn") + 1
          val grid = bounds.withColumn("__bucket", explode(
              when(span <= maxBuckets, sequence(col("__mn"), col("__mx")))
                .otherwise(raise_error(concat(
                  lit(s"resample: a key spans more than maxBuckets=$maxBuckets " +
                    s"grid steps at every=$every s (span="), span.cast("string"),
                  lit(" buckets) — widen `every` or raise maxBuckets"))))))
            .drop("__mn", "__mx")
          val marked = agged.withColumn("__present", lit(true))
          val joined = grid.join(marked, keys :+ "__bucket", "left")
          // fill all agg columns ATOMICALLY (one struct) so a gap bucket
          // can't mix values from different source buckets
          val vStruct = struct(aggNames.map(col): _*)
          val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__bucket").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          if (fillMode == "ffill") {
            val filled = joined.withColumn("__fv",
                last(when(col("__present"), vStruct), ignoreNulls = true).over(w))
            filled.select((keys.map(col) :+ bucketTs(filled).as("bucket_ts")) ++
              aggNames.map(nm => col(s"__fv.$nm").as(nm)) :+
              col("__present").isNull.as("is_gap"): _*)
          } else {
            // linear: gap value = pv + (nv - pv) · (b - pb) / (nb - pb)
            // between the nearest observed buckets on each side. Both
            // windows share the fill window's partitioning AND ordering,
            // so the plan pays ONE shuffle + ONE sort for the whole fill
            // (the second Window node reuses the child's distribution).
            aggNames.foreach { nm =>
              require(agged.schema(nm).dataType
                  .isInstanceOf[org.apache.spark.sql.types.NumericType],
                s"resample: fill=linear interpolates NUMERIC aggregates " +
                s"only; '$nm' is ${agged.schema(nm).dataType.simpleString} " +
                "— use fill=ffill for categorical carries")
            }
            val wNext = Window.partitionBy(keys.map(col): _*)
              .orderBy(col("__bucket").asc)
              .rowsBetween(Window.currentRow, Window.unboundedFollowing)
            val nb = joined
              .withColumn("__pv",
                last(when(col("__present"), vStruct), ignoreNulls = true).over(w))
              .withColumn("__pb",
                last(when(col("__present"), col("__bucket")), ignoreNulls = true).over(w))
              .withColumn("__nv",
                first(when(col("__present"), vStruct), ignoreNulls = true).over(wNext))
              .withColumn("__nb",
                first(when(col("__present"), col("__bucket")), ignoreNulls = true).over(wNext))
            def interp(nm: String): Column = {
              val pv = col(s"__pv.$nm").cast("double")
              val nv = col(s"__nv.$nm").cast("double")
              when(col("__present"), col(nm).cast("double"))
                .otherwise(pv + (nv - pv) *
                  (col("__bucket") - col("__pb")).cast("double") /
                  (col("__nb") - col("__pb")).cast("double"))
            }
            nb.select((keys.map(col) :+ bucketTs(nb).as("bucket_ts")) ++
              aggNames.map(nm => interp(nm).as(nm)) :+
              col("__present").isNull.as("is_gap"): _*)
          }
      }
    }

  /** `rangejoin`: inner-join input rows (points in time) to the
    * right-side INTERVALS that contain them — point `t` matches
    * interval `[start, end)` (or `[start, end]` with
    * `endInclusive: true`), optionally also requiring equi-key
    * equality.
    *
    * Options:
    *  - `right` (required): interval table name or SELECT.
    *  - `leftTime` (default `ts`), `start` (default `start`), `end`
    *    (default `end`).
    *  - `on` (optional): comma-separated equi-key column(s) present on
    *    both sides.
    *  - `binWidth` (seconds; REQUIRED when `on` is absent): time-bucket
    *    width for the bin equi-join. With keys present it is optional —
    *    omitted, the join runs as a key equi-join with the range as a
    *    join-time filter.
    *  - `endInclusive` (default false).
    *  - `maxBins` (default 100000): an interval spanning more bins than
    *    this fails the job with the config rule to fix (a month-long
    *    interval at 1-second bins is a row bomb, not a plan).
    *  - `rightPrefix` (optional): prefix attached interval columns.
    *
    * Scale shape: a pure inequality join has no equi-key, which Spark
    * can only execute as a broadcast-nested-loop — |points|×|intervals|
    * comparisons. Binning restores an equi-join: each interval is
    * replicated once per bin it covers (bounded by `maxBins`), each
    * point probes exactly ONE bin, and exact containment filters the
    * bin's candidates — so work is |points| + Σ interval-spans/binWidth
    * through an AQE-planned shuffle or broadcast hash join, and each
    * matching (point, interval) pair surfaces exactly once (the point's
    * single bin), no post-dedup. Pick binWidth near the typical
    * interval length: much smaller multiplies interval copies, much
    * larger multiplies false candidates per bin. */
  def rangeJoin(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val right = ctx.tableOrSql(spec.str("right")
        .getOrElse(sys.error("rangejoin: `right` (table or SELECT) required")))
      val lt = spec.strOr("leftTime", "ts")
      val startC = spec.strOr("start", "start")
      val endC = spec.strOr("end", "end")
      val endInclusive = spec.bool("endInclusive", dflt = false)
      val binWidth = spec.str("binWidth").map(_.toDouble)
      val maxBins = spec.int("maxBins", 100000)
      val prefix = spec.strOr("rightPrefix", "")
      require(df.columns.contains(lt), s"rangejoin: left side lacks time column '$lt'")
      Seq(startC, endC).foreach(c => require(right.columns.contains(c),
        s"rangejoin: right side lacks interval column '$c'"))
      val keys = equiKeys("rangejoin", spec, df, right, binWidth)

      val (rr, renamed) = renamedRight("rangejoin", df, right, keys, prefix)
      val pStart = s"$prefix$startC"; val pEnd = s"$prefix$endC"
      val contains = epochMicros(df, lt).between(
        epochMicros(rr, pStart),
        if (endInclusive) epochMicros(rr, pEnd) else epochMicros(rr, pEnd) - 1)

      binWidth match {
        case None =>
          df.join(rr, keys.map(k => df(k) === rr(k)).reduce(_ && _) && contains)
            .select(df.columns.map(df(_)).toSeq ++ renamed.map(p => rr(p._2)): _*)
        case Some(w) =>
          val wMicros = (w * 1e6).toLong
          require(wMicros > 0, "rangejoin: binWidth must be positive")
          def binOf(c: Column): Column = floor(c.cast("double") / wMicros.toDouble).cast("long")
          val sBin = binOf(epochMicros(rr, pStart))
          val eBin = binOf(epochMicros(rr, pEnd))
          val span = eBin - sBin + 1
          val intervals = rr
            .where(col(pStart).isNotNull && col(pEnd).isNotNull)
            // reversed intervals fail LOUD too: span <= 0 would slip past
            // the cap check and sequence() would silently auto-step -1
            .withColumn("__bin", explode(
              when(epochMicros(rr, pEnd) < epochMicros(rr, pStart),
                raise_error(concat(
                  lit(s"rangejoin: interval end '$endC' precedes start " +
                    s"'$startC' ("), col(pEnd).cast("string"), lit(" < "),
                  col(pStart).cast("string"),
                  lit(") — swapped columns in the `right` SELECT?"))))
              .when(span <= maxBins, sequence(sBin, eBin))
              .otherwise(raise_error(concat(
                lit(s"rangejoin: interval spans more than maxBins=$maxBins " +
                  s"bins at binWidth=$w s (span="), span.cast("string"),
                lit(" bins) — widen binWidth or raise maxBins"))))))
          val points = df.withColumn("__bin", binOf(epochMicros(df, lt)))
          val joinCond = (keys.map(k => points(k) === intervals(k)) :+
            (points("__bin") === intervals("__bin"))).reduce(_ && _) && contains
          points.join(intervals, joinCond)
            .select(df.columns.map(points(_)).toSeq ++
              renamed.map(p => intervals(p._2)): _*)
      }
    }

  /** `on` equi-key parse + presence checks + the keyless-cartesian
    * guard — shared by rangejoin and intervaljoin. */
  private def equiKeys(stage: String, spec: ComponentSpec, df: DataFrame,
      right: DataFrame, binWidth: Option[Double]): Seq[String] = {
    val keys = spec.str("on")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    keys.foreach { k =>
      require(df.columns.contains(k), s"$stage: left side lacks key column '$k'")
      require(right.columns.contains(k), s"$stage: right side lacks key column '$k'")
    }
    require(keys.nonEmpty || binWidth.isDefined,
      s"$stage: without `on` keys the join has no equi-condition and " +
      "would execute as a nested-loop cartesian — set `binWidth` " +
      "(seconds) to bucket time into an equi-join")
    keys
  }

  /** Prefix-rename the right side's non-key columns, failing loud on a
    * collision with a left column — shared by rangejoin and
    * intervaljoin. Returns the renamed frame plus the (old, new)
    * pairs for the output projection. */
  private def renamedRight(stage: String, df: DataFrame, right: DataFrame,
      keys: Seq[String], prefix: String): (DataFrame, Seq[(String, String)]) = {
    val renamed = right.columns.toSeq.filterNot(keys.contains)
      .map(c => c -> s"$prefix$c")
    renamed.foreach { case (_, out) =>
      require(!df.columns.contains(out), s"$stage: right column '$out' " +
        "collides with a left column — set `rightPrefix` or alias it " +
        "in the `right` SELECT")
    }
    (renamed.foldLeft(right) { case (d, (c, out)) =>
      if (c == out) d else d.withColumnRenamed(c, out)
    }, renamed)
  }

  /** `intervaljoin`: inner-join the input's INTERVALS to the right
    * side's INTERVALS that OVERLAP them — `[ls, le)` meets `[rs, re)`
    * iff `ls < re AND rs < le` (closed ends with `endInclusive: true`),
    * optionally under equi keys. The missing sibling of `rangejoin`
    * (point-in-interval) and `asofjoin` (latest-at-or-before):
    * session-vs-incident attribution, downtime × deploy windows,
    * concurrent-booking detection.
    *
    * Options:
    *  - `right` (required): interval table name or SELECT.
    *  - `leftStart`/`leftEnd` (defaults `start`/`end`): input columns.
    *  - `rightStart`/`rightEnd` (default to the same names): right
    *    columns (pre-prefix).
    *  - `on` (optional), `binWidth` (seconds; REQUIRED without `on`),
    *    `endInclusive` (default false), `maxBins` (default 100000),
    *    `rightPrefix` — all as in `rangejoin`.
    *
    * Scale shape: both sides replicate once per covered bin (bounded
    * by `maxBins`) and the join runs as an AQE-planned hash join on
    * (keys, bin). An overlapping pair shares every bin their spans
    * both touch, so the overlap filter alone would duplicate pairs —
    * each pair is kept ONLY in the bin containing
    * `max(lStart, rStart)` (the overlap's first instant), which
    * both sides cover by definition, so every pair surfaces exactly
    * once with no post-dedup distinct. */
  def intervalJoin(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val right = ctx.tableOrSql(spec.str("right")
        .getOrElse(sys.error("intervaljoin: `right` (table or SELECT) required")))
      val lsC = spec.strOr("leftStart", "start")
      val leC = spec.strOr("leftEnd", "end")
      val rsC = spec.strOr("rightStart", lsC)
      val reC = spec.strOr("rightEnd", leC)
      val endInclusive = spec.bool("endInclusive", dflt = false)
      val binWidth = spec.str("binWidth").map(_.toDouble)
      val maxBins = spec.int("maxBins", 100000)
      val prefix = spec.strOr("rightPrefix", "")
      Seq(lsC, leC).foreach(c => require(df.columns.contains(c),
        s"intervaljoin: left side lacks interval column '$c'"))
      Seq(rsC, reC).foreach(c => require(right.columns.contains(c),
        s"intervaljoin: right side lacks interval column '$c'"))
      val keys = equiKeys("intervaljoin", spec, df, right, binWidth)
      val (rr, renamed) = renamedRight("intervaljoin", df, right, keys, prefix)
      val pS = s"$prefix$rsC"; val pE = s"$prefix$reC"
      def lsM = epochMicros(df, lsC); def leM = epochMicros(df, leC)
      def rsM = epochMicros(rr, pS); def reM = epochMicros(rr, pE)
      val overlaps =
        if (endInclusive) lsM <= reM && rsM <= leM
        else lsM < reM && rsM < leM

      def reversedGuard(side: String, s: Column, e: Column, sN: String,
                        eN: String, sC: Column, eC: Column): Column =
        when(e < s, raise_error(concat(
          lit(s"intervaljoin: $side interval end '$eN' precedes start " +
            s"'$sN' ("), eC.cast("string"), lit(" < "), sC.cast("string"),
          lit(") — swapped columns?"))))

      binWidth match {
        case None =>
          df.join(rr, keys.map(k => df(k) === rr(k)).reduce(_ && _) && overlaps)
            .select(df.columns.map(df(_)).toSeq ++ renamed.map(p => rr(p._2)): _*)
        case Some(w) =>
          val wMicros = (w * 1e6).toLong
          require(wMicros > 0, "intervaljoin: binWidth must be positive")
          def binOf(c: Column): Column =
            floor(c.cast("double") / wMicros.toDouble).cast("long")
          def binned(side: DataFrame, s: Column, e: Column, sN: String,
                     eN: String, sC: Column, eC: Column, tag: String) = {
            val span = binOf(e) - binOf(s) + 1
            side.where(sC.isNotNull && eC.isNotNull)
              .withColumn("__bin", explode(
                reversedGuard(tag, s, e, sN, eN, sC, eC)
                .when(span <= maxBins, sequence(binOf(s), binOf(e)))
                .otherwise(raise_error(concat(
                  lit(s"intervaljoin: $tag interval spans more than " +
                    s"maxBins=$maxBins bins at binWidth=$w s (span="),
                  span.cast("string"),
                  lit(" bins) — widen binWidth or raise maxBins"))))))
          }
          val lb = binned(df, lsM, leM, lsC, leC, col(lsC), col(leC), "left")
          val rb = binned(rr, rsM, reM, rsC, reC, col(pS), col(pE), "right")
          // the canonical bin: max(lStart, rStart) is inside BOTH
          // intervals of an overlapping pair, so exactly one shared bin
          // carries the pair
          val canonical = lb("__bin") ===
            binOf(greatest(epochMicros(lb, lsC), epochMicros(rb, pS)))
          // the interval column NAMES are disjoint across the two sides
          // (the collision check above enforces it), so the unqualified
          // `overlaps` predicate resolves uniquely in the join
          val joinCond = (keys.map(k => lb(k) === rb(k)) :+
            (lb("__bin") === rb("__bin"))).reduce(_ && _) &&
            overlaps && canonical
          lb.join(rb, joinCond)
            .select(df.columns.map(lb(_)).toSeq ++ renamed.map(p => rb(p._2)): _*)
      }
    }
}
