package graft.split

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import graft.stages.{GroupStats, Stages}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-management stages for training pipelines: deterministic,
  * key-stable train/val/test splitting and hash sampling. A row's split
  * depends only on (key, salt) — never on partitioning, row order, or
  * cluster size — so splits are reproducible across runs and engines,
  * and adding data never moves existing rows between splits. The
  * assignment is a pure per-row projection (md5 bucket), no shuffle.
  */
object SplitStages {

  private val Buckets = 10000

  /** md5-derived bucket in [0, 10000): first 6 hex digits → int mod 1e4.
    * Matches the DuckDB expression
    * `('0x' || substr(md5(key || salt), 1, 6))::BIGINT % 10000`. */
  private def bucket(key: org.apache.spark.sql.Column, salt: String) =
    conv(substring(md5(concat(key.cast("string"), lit(salt)).cast("binary")), 1, 6),
      16, 10).cast("bigint") % Buckets

  /** `datasplit`: assign each row a split label from `splits`
    * (ordered list of `{name, fraction}`) by hashing `keyField` (or
    * `keyExpr`) with optional `salt`. Fractions are cut on the bucket
    * space in declared order; the last split absorbs rounding
    * remainder. Output column: `split` (configurable via
    * `outputField`). */
  def datasplit(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.str("keyExpr") match {
        case Some(e) => expr(e)
        case None => col(spec.strOr("keyField", "doc_id"))
      }
      val salt = spec.strOr("salt", "")
      val splits = spec.list("splits").map {
        case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          (mm.getOrElse("name", sys.error("datasplit: split name required")).toString,
           mm.getOrElse("fraction", sys.error("datasplit: split fraction required"))
             .toString.toDouble)
        case other => sys.error(s"datasplit: split entry must be a map, got $other")
      }
      require(splits.nonEmpty, "datasplit: splits required")
      require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
        s"datasplit: fractions must sum to 1, got ${splits.map(_._2).sum}")
      val b = bucket(key, salt)
      // cumulative thresholds over the bucket space, declared order
      val thresholds = splits.scanLeft(0L) { case (acc, (_, f)) =>
        acc + math.round(f * Buckets)
      }.tail
      val labeled = splits.map(_._1).zip(thresholds).dropRight(1)
        .foldRight(lit(splits.last._1)) { case ((name, t), els) =>
          when(b < t, lit(name)).otherwise(els)
        }
      df.withColumn(spec.strOr("outputField", "split"), labeled)
    }

  /** `kfold`: deterministic k-fold cross-validation assignment — every
    * row gets `fold` ∈ [0, k) from the same salted md5 bucket the other
    * split stages use (content-independent, rerun-stable, portable to
    * any engine with md5). With `holdout` set, a `role` column marks
    * the holdout fold "test" and the rest "train" — one config per CV
    * round, k configs sweep the folds. Folds are bucket % k over the
    * 10000-bucket space, so sizes differ by at most one bucket's worth
    * when 10000 % k != 0 (documented, deterministic).
    *
    * Options: `k` (default 5), `keyField` (default doc_id) / `keyExpr`,
    * `salt`, `foldField` (default fold), `holdout` (optional fold
    * index), `roleField` (default role). Pure per-row projection —
    * fuses into the scan, zero shuffle. */
  def kfold(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val k = spec.int("k", 5)
      require(k >= 2, s"kfold: k must be >= 2, got $k")
      require(k <= Buckets, s"kfold: k must be <= $Buckets, got $k")
      val key = spec.str("keyExpr") match {
        case Some(e) => expr(e)
        case None => col(spec.strOr("keyField", "doc_id"))
      }
      val fold = (bucket(key, spec.strOr("salt", "")) % k).cast("long")
      val out = df.withColumn(spec.strOr("foldField", "fold"), fold)
      spec.long("holdout").map(_.toInt) match {
        case Some(h) =>
          require(h >= 0 && h < k, s"kfold: holdout must be in [0, $k), got $h")
          out.withColumn(spec.strOr("roleField", "role"),
            when(col(spec.strOr("foldField", "fold")) === h, lit("test"))
              .otherwise(lit("train")))
        case None => out
      }
    }

  /** `pack`: contiguous token-budget packing — assign each document a
    * `chunk_id` so that consecutive documents (in `orderField` order)
    * accumulate into chunks of at most ~`budget` tokens:
    * `chunk_id = floor(exclusive_prefix_sum(tokens) / budget)` — the
    * standard streaming pack used to fill training context windows.
    *
    * Scale shape: a GLOBAL ordered prefix sum, done in two phases so it
    * never funnels the data through one task (a bare
    * `Window.orderBy(...)` without partitions would): range-partition
    * on the order key, windowed prefix sum WITHIN each partition, then
    * add per-partition base offsets. The offsets are one tiny
    * driver-side aggregation (numPartitions rows) — the classic
    * distributed scan pattern. Output columns: `chunk_id`,
    * `chunk_offset` (the doc's exclusive token offset within its chunk).
    */
  def pack(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      import org.apache.spark.sql.expressions.Window
      val orderField = spec.strOr("orderField", "doc_id")
      val tokenField = spec.strOr("tokenField", "n_tokens")
      val budget = spec.long("budget").getOrElse(sys.error("pack: budget required"))
      require(budget > 0, "pack: budget must be positive")
      val nPart = spec.int("partitions",
        math.max(df.sparkSession.sparkContext.defaultParallelism, 1))

      // materialize the range partitioning ONCE (localCheckpoint):
      // phase 1's offsets and phase 2's window must see the SAME
      // partition boundaries, but RangePartitioner re-SAMPLES on every
      // execution — an un-checkpointed plan executes twice (offsets
      // collect + output job) and can land rows in different partitions
      // than the offsets describe (caught by the sf0.1 self-check)
      val parts = df.repartitionByRange(nPart, col(orderField))
        .withColumn("__pid", spark_partition_id())
        .localCheckpoint(true)
      // phase 1: per-partition token totals → base offsets (driver-side:
      // numPartitions rows, not data rows)
      val totals = parts.groupBy("__pid")
        .agg(sum(col(tokenField).cast("long")).as("__t"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val maxPid = if (totals.isEmpty) -1 else totals.keys.max
      val offsets = (0 to maxPid).scanLeft(0L)((acc, pid) =>
        acc + totals.getOrElse(pid, 0L))
      val offsetExpr = offsets.zipWithIndex.dropRight(1)
        .foldLeft(lit(0L)) { case (els, (off, pid)) =>
          when(col("__pid") === pid, lit(off)).otherwise(els)
        }
      // phase 2: exclusive prefix sum within each range partition + base
      val w = Window.partitionBy("__pid").orderBy(orderField)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumBefore =
        (sum(col(tokenField).cast("long")).over(w) - col(tokenField).cast("long")) +
          offsetExpr
      parts
        .withColumn("__cum", cumBefore)
        .withColumn("chunk_id", floor(col("__cum") / budget))
        .withColumn("chunk_offset", col("__cum") % budget)
        .drop("__pid", "__cum")
    }

  /** `rowid`: dense sequential row numbers in global `orderField` order
    * WITHOUT a single-task global window — the distributed
    * `row_number() OVER (ORDER BY …)`: range-partition on the order
    * key(s), count rows per partition (driver sees numPartitions longs,
    * never data), and add each partition's base offset to its local
    * row_number — the same two-phase prefix pattern as [[pack]].
    * Options: `orderField` (comma-separated, required — should be
    * unique for a deterministic numbering; ties order arbitrarily
    * within equal keys), `outputField` (default row_id), `start`
    * (default 0), `partitions`. The range partitioning is
    * `localCheckpoint`ed once so the offsets and the numbering job see
    * the SAME sampled boundaries (the pack rule). */
  def rowid(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      import org.apache.spark.sql.expressions.Window
      val orderCols = spec.strOr("orderField", "doc_id")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      orderCols.foreach(c => require(df.columns.contains(c), s"rowid: no column '$c'"))
      val out = spec.strOr("outputField", "row_id")
      val start = spec.long("start").getOrElse(0L)
      val nPart = spec.int("partitions",
        math.max(df.sparkSession.sparkContext.defaultParallelism, 1))
      val parts = df.repartitionByRange(nPart, orderCols.map(col): _*)
        .withColumn("__pid", spark_partition_id())
        .localCheckpoint(true)
      val counts = parts.groupBy("__pid").agg(count(lit(1)).as("__c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val maxPid = if (counts.isEmpty) -1 else counts.keys.max
      val offsets = (0 to maxPid).scanLeft(start)((acc, pid) =>
        acc + counts.getOrElse(pid, 0L))
      val offsetExpr = offsets.zipWithIndex.dropRight(1)
        .foldLeft(lit(start)) { case (els, (off, pid)) =>
          when(col("__pid") === pid, lit(off)).otherwise(els)
        }
      val w = Window.partitionBy("__pid").orderBy(orderCols.map(col): _*)
      parts.withColumn(out,
          (row_number().over(w).cast("long") - 1L) + offsetExpr)
        .drop("__pid")
    }

  /** `chunk`: sliding token-window chunking — explode each document into
    * fixed-size token windows (`chunkTokens`, default 512) with optional
    * `overlap` (default 0), the context-window preparation step of a
    * training pipeline (cf. [[pack]], which concatenates ACROSS
    * documents; `chunk` splits WITHIN them). Output rows: the id column
    * + `chunk_index` (0-based), `chunk_text`, `chunk_tokens`.
    *
    * Scale shape: a pure per-row projection + explode — no shuffle, no
    * state; the expansion factor is tokens/step per row, which the
    * parquet writer downstream re-blocks. Window starts advance by
    * `chunkTokens - overlap`; the final window may be shorter (kept —
    * `dropShort: true` drops trailing windows shorter than `minTokens`,
    * default 1). */
  def chunk(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      import org.apache.spark.sql.functions.col
      val id = spec.strOr("idField", "doc_id")
      val f = col(spec.strOr("field", "text"))
      val n = spec.int("chunkTokens", 512)
      val overlap = spec.int("overlap", 0)
      require(n > 0, "chunk: chunkTokens must be positive")
      require(overlap >= 0 && overlap < n,
        s"chunk: overlap must be in [0, chunkTokens), got $overlap")
      val step = n - overlap
      val minTokens =
        if (spec.bool("dropShort", dflt = false)) spec.int("minTokens", 1) else 1
      // null text behaves exactly like empty text (one empty 1-token
      // chunk) — without the coalesce, size(null) poisons the window
      // arithmetic into a phantom full-length chunk
      val toks = coalesce(graft.text.TextStages.tokens(f), array(lit("")))
      val starts = sequence(lit(1), greatest(size(toks), lit(1)), lit(step))
      val windows = transform(starts, s =>
        struct(concat_ws(" ", slice(toks, s, lit(n))).as("text"),
          least(lit(n), size(toks) - s + 1).as("n")))
      df.select(col(id), posexplode(windows).as(Seq("chunk_index", "__w")))
        .select(col(id), col("chunk_index").cast("long").as("chunk_index"),
          col("__w.text").as("chunk_text"),
          greatest(col("__w.n"), lit(1)).cast("long").as("chunk_tokens"))
        .where(col("chunk_tokens") >= minTokens)
    }

  /** `cdcchunk`: CONTENT-DEFINED chunking (the Rabin/CDC idea from
    * dedup storage, at word granularity): a chunk boundary falls after
    * any word whose md5-derived bucket ≡ 0 (mod `divisor`), so expected
    * chunk length ≈ `divisor` words and — the whole point — boundaries
    * move WITH the content: insert a paragraph at the front of a doc
    * and every later chunk still hashes identically, where fixed
    * windows (`chunk`) all shift and nothing matches. Compose with
    * exact `dedup` on `chunk_hash` for shift-tolerant substring dedup
    * across a corpus. The md5-bucket boundary (not a rolling
    * polynomial) keeps the rule engine-portable — the same idiom as
    * `datasplit`/`hashsample`.
    *
    * Options: `idField` (default doc_id), `field` (default text),
    * `divisor` (default 16). Output: id, chunk_index, chunk_text,
    * chunk_hash, chunk_tokens. Pure per-row HOF fold + one posexplode —
    * no shuffle at any corpus size. Chunks are never empty (a group
    * only increments AFTER a word); null/empty text yields no rows. */
  def cdcChunk(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      import org.apache.spark.sql.functions.col
      val id = spec.strOr("idField", "doc_id")
      val f = col(spec.strOr("field", "text"))
      val d = spec.int("divisor", 16)
      require(d >= 2, s"cdcchunk: divisor must be >= 2, got $d")
      val words = filter(split(trim(f), "\\s+"), w => w =!= "")
      def isBoundary(w: Column): Column =
        pmod(conv(substring(md5(w), 1, 6), 16, 10).cast("long"), lit(d)) === 0
      // ONE direct fold building the chunk list: each word appends to
      // the open chunk; a boundary word closes it. The closed-chunks
      // array copies only once per CHUNK (≈ n/divisor times), not per
      // word — the exclusive-prefix-ids formulation copied an O(n)
      // array per word and measured 6x slower at the 100x stress scale.
      val chunks = aggregate(words,
        struct(array().cast("array<string>").as("done"), lit("").as("cur")),
        (acc, w) => {
          val cur2 = when(acc.getField("cur") === "", w)
            .otherwise(concat(acc.getField("cur"), lit(" "), w))
          when(isBoundary(w),
            struct(concat(acc.getField("done"), array(cur2)).as("done"),
              lit("").as("cur")))
            .otherwise(struct(acc.getField("done").as("done"), cur2.as("cur")))
        },
        acc => when(acc.getField("cur") === "", acc.getField("done"))
          .otherwise(concat(acc.getField("done"), array(acc.getField("cur")))))
      df.select(col(id), posexplode(chunks).as(Seq("chunk_index", "chunk_text")))
        .where(col("chunk_text") =!= "")
        .select(col(id), col("chunk_index").cast("long").as("chunk_index"),
          col("chunk_text"), md5(col("chunk_text")).as("chunk_hash"),
          size(split(col("chunk_text"), " ")).cast("long").as("chunk_tokens"))
    }

  /** `hashsample`: keep a deterministic `fraction` of rows by the same
    * md5 bucket — the reproducible alternative to `TABLESAMPLE`/rand().
    * Options: `keyField`/`keyExpr`, `fraction` (required unless
    * `probExpr`/`probField` set, then default 1.0), `salt`.
    *
    * `probExpr` / `probField` (optional): PER-ROW keep probability
    * (clamped to [0, 1], multiplied by `fraction`) — deterministic
    * WEIGHTED sampling, the quality-weighted corpus-downsampling
    * primitive ("keep high-quality docs with p≈1, boilerplate with
    * p≈0.1"). The row's fate depends only on (key, salt, its own
    * probability) — key-stable like the uniform path. The cut uses
    * `floor(p·buckets)` (floor, not round: round's half-up boundary
    * would hang on engine rounding modes; floor of the same IEEE
    * product is identical everywhere). */
  def hashsample(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.str("keyExpr") match {
        case Some(e) => expr(e)
        case None => col(spec.strOr("keyField", "doc_id"))
      }
      val prob: Option[org.apache.spark.sql.Column] =
        spec.str("probExpr").map(expr)
          .orElse(spec.str("probField").map(col(_)))
      val frac = spec.str("fraction") match {
        case Some(f) => f.toDouble
        case None if prob.isDefined => 1.0
        case None => sys.error("hashsample: fraction required")
      }
      require(frac > 0 && frac <= 1, s"hashsample: fraction in (0,1], got $frac")
      val b = bucket(key, spec.strOr("salt", ""))
      prob match {
        case None => df.where(b < math.round(frac * Buckets))
        case Some(p) =>
          val eff = least(greatest(p.cast("double"), lit(0.0)), lit(1.0)) * frac
          df.where(b < floor(eff * Buckets).cast("bigint"))
      }
    }

  /** `zorder`: Morton (Z-order) space-filling-curve value over 2–4
    * integer columns — the multi-dimensional DATA-SKIPPING layout tool:
    * range-sorting a 100-TB table by `zvalue` before writing clusters
    * rows so that EVERY interleaved column's min/max footer stats are
    * tight per file/row-group, and a predicate on ANY of the columns
    * prunes most of the table (a linear sort gives that to its leading
    * column only). Options: `columns` (2–4, required — values are cast
    * to long and CLAMPED to [0, 2^bits); pre-scale in a `field`/SQL
    * stage so the interesting range fits), `bits` (per column, default
    * floor(63/n)), `outputField` (default zvalue), `sort` (default
    * false: append the column only; true: `repartitionByRange` +
    * in-partition sort by zvalue — the write-side layout pass),
    * `partitions` (with sort; default spark.sql.shuffle.partitions).
    *
    * The z-value is a pure per-row projection (bit interleave: column
    * i's bit b lands at position b·n+i); sorting is ONE range exchange
    * with in-partition sort — exactly a `SORT BY` plan, no extra
    * passes. */
  def zorder(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val cols = spec.strList("columns")
      require(cols.length >= 2 && cols.length <= 4,
        s"zorder: `columns` needs 2-4 column names, got ${cols.length}")
      cols.foreach(c => require(df.columns.contains(c), s"zorder: no column '$c'"))
      val n = cols.length
      val bits = spec.int("bits", 63 / n)
      require(bits > 0 && bits * n <= 63,
        s"zorder: bits=$bits × $n columns exceeds the 63-bit budget")
      val mask = (1L << bits) - 1
      val clamped = cols.map(c =>
        least(greatest(col(c).cast("long"), lit(0L)), lit(mask)))
      val terms = for {
        (c, i) <- clamped.zipWithIndex
        b <- 0 until bits
      } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + i)
      val out = spec.strOr("outputField", "zvalue")
      val withZ = df.withColumn(out, terms.reduce(_ + _)) // disjoint bits: + ≡ |
      if (!spec.bool("sort", dflt = false)) withZ
      else {
        val parts = spec.int("partitions",
          ctx.spark.conf.get("spark.sql.shuffle.partitions").toInt)
        withZ.repartitionByRange(parts, col(out)).sortWithinPartitions(col(out))
      }
    }

  /** `stratifiedsample`: per-stratum deterministic sampling — the
    * language/source-balancing primitive of corpus curation (keep 100%
    * of low-resource languages, 10% of English, ...). Options:
    * `strataField` (required), `fractions` (map stratum → fraction),
    * `defaultFraction` (for strata not listed; default 0 — drop),
    * `keyField`/`keyExpr`, `salt`. Same md5 bucket as [[hashsample]]:
    * a row's fate depends only on (key, salt, its stratum's fraction),
    * never on partitioning or data volume — adding data never flips
    * existing rows. Pure per-row projection + filter; no shuffle. */
  def stratifiedSample(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val strata = col(spec.str("strataField")
        .getOrElse(sys.error("stratifiedsample: strataField required")))
      val key = spec.str("keyExpr") match {
        case Some(e) => expr(e)
        case None => col(spec.strOr("keyField", "doc_id"))
      }
      val fracs = spec.map("fractions").map { case (k, v) => k -> v.toString.toDouble }
      require(fracs.nonEmpty, "stratifiedsample: fractions required")
      fracs.foreach { case (k, f) =>
        require(f >= 0 && f <= 1, s"stratifiedsample: fraction for '$k' in [0,1], got $f") }
      val dflt = spec.str("defaultFraction").map(_.toDouble).getOrElse(0.0)
      // per-stratum threshold over the shared bucket space (sorted for a
      // deterministic CASE chain)
      val threshold = fracs.toSeq.sortBy(_._1)
        .foldRight(lit(math.round(dflt * Buckets)): org.apache.spark.sql.Column) {
          case ((name, f), els) =>
            when(strata === name, lit(math.round(f * Buckets))).otherwise(els)
        }
      df.where(bucket(key, spec.strOr("salt", "")) < threshold)
    }

  /** `shuffle`: deterministic global shuffle order for training — each
    * row gets `outputField` (default `shuffle_key`) = the full md5 hex
    * of (key ++ salt); sorting by it IS the shuffle (reproducible
    * across runs/engines/cluster sizes, unlike `rand()`). With
    * `materialize: true` (default) the stream is returned ordered by
    * (shuffle_key, key) — a Spark range-partitioned sort, the scalable
    * global order (NOT a single-partition window). Downstream writers
    * preserve the order per output file. Re-shuffle epochs by changing
    * `salt`. */
  def shuffle(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val key = spec.str("keyExpr") match {
        case Some(e) => expr(e)
        case None => col(spec.strOr("keyField", "doc_id"))
      }
      val out = spec.strOr("outputField", "shuffle_key")
      val keyed = df.withColumn(out,
        md5(concat(key.cast("string"), lit(spec.strOr("salt", ""))).cast("binary")))
      if (spec.bool("materialize", dflt = true))
        keyed.orderBy(col(out), key) else keyed
    }

  /** `mixture`: weighted blend of corpus parts — the training-mixture
    * primitive ("40% web, 30% code, ...") expressed as deterministic
    * per-part hash sampling + union. Options: `parts` (list of
    * `{path, fraction, name?}` parquet parts; required), `keyField`
    * (shared sampling key, default doc_id), `columns` (projected
    * columns; default = first part's schema), `salt`,
    * `includeInput: true` to also blend the incoming stream (with
    * `inputFraction`/`inputName`). Each part is tagged `mix_source`.
    * Sampling reuses the [[hashsample]] bucket with the PART NAME in
    * the salt, so the same document can ride in two parts
    * independently. Pure scan + filter + union — no shuffle; Spark
    * plans each part's scan with its own pushed-down filter.
    *
    * TOKEN-BUDGET mode (`budget: <long>`): real training mixes are
    * specified in TOKENS per source, not row fractions. With `budget`
    * set, each part's `fraction` is a WEIGHT (any positive number;
    * normalized over the declared parts) and the stage takes documents
    * from each part in deterministic salted-md5 order until that
    * part's share `floor(budget * w / Σw)` of tokens fills — the last
    * document that would overflow the share is excluded. Token counts
    * come from `tokenField` (an existing per-doc count column) or are
    * computed as the whitespace token count of `field` (default
    * `text`). Scale shape: the per-part running sum is
    * [[graft.stages.GroupStats.runningBelow]] over 256 md5-prefix
    * buckets — no part ever sorts its full row set in one partition;
    * ordering by (md5 hex, key) is prefix-consistent with the
    * bucketing. */
  def mixture(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val keyField = spec.strOr("keyField", "doc_id")
      val salt = spec.strOr("salt", "")
      val budget = spec.long("budget")
      val parts = spec.list("parts").map {
        case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          val path = mm.getOrElse("path", sys.error("mixture: part path required")).toString
          val frac = mm.getOrElse("fraction", sys.error("mixture: part fraction required"))
            .toString.toDouble
          val name = mm.get("name").map(_.toString)
            .getOrElse(new java.io.File(path).getName.stripSuffix(".parquet"))
          (path, frac, name)
        case other => sys.error(s"mixture: part entry must be a map, got $other")
      }
      require(parts.nonEmpty, "mixture: parts required")
      parts.foreach { case (_, f, n) =>
        if (budget.isEmpty)
          require(f > 0 && f <= 1, s"mixture: fraction for part '$n' in (0,1], got $f")
        else
          require(f > 0, s"mixture: weight for part '$n' must be > 0, got $f") }
      // default projection = the FIRST part's schema, applied to EVERY
      // side (each part projecting its own schema would make
      // heterogeneous parts fail the union below)
      lazy val firstPartCols =
        ctx.spark.read.parquet(parts.head._1).columns.toSeq
      val cols = spec.strList("columns") match {
        case Nil => firstPartCols
        case cs => cs
      }
      // token expression for budget mode: an existing count column, or
      // the whitespace token count of `field` (0 for blank docs) —
      // spelled to match the DuckDB oracle's regexp_split_to_array
      lazy val tokCol: Column = spec.str("tokenField") match {
        case Some(f) => col(f).cast("long")
        case None =>
          val t = trim(col(spec.strOr("field", "text")))
          when(t === "", lit(0L)).otherwise(size(split(t, "\\s+")).cast("long"))
      }
      val weightSum = parts.map(_._2).sum +
        (if (spec.bool("includeInput", dflt = false) && budget.isDefined)
           spec.str("inputFraction").map(_.toDouble).getOrElse(1.0) else 0.0)
      def sampled(part: DataFrame, frac: Double, name: String): DataFrame = budget match {
        case None =>
          part
            .where(bucket(col(keyField), salt + name) < math.round(frac * Buckets))
            .select(cols.map(col) :+ lit(name).as("mix_source"): _*)
        case Some(b) =>
          val share = (BigDecimal(b) * frac / weightSum).toLong // floor
          // deterministic take order: lowercase md5 hex of (key ||
          // salt || name); bucket = first 2 hex chars, so ordering by
          // (hash, key) is identical to (bucket, hash, key).
          // NULL keys coalesce to a sentinel BEFORE hashing — a null
          // key would otherwise null the md5 and its bucket (ADVICE r15);
          // with the sentinel, null-keyed docs participate
          // deterministically (they all share one hash, ordered
          // adjacently — fine: the key is an identity, not a weight)
          val keyStr = coalesce(col(keyField).cast("string"),
            lit(" __graft_null_key__"))
          val hash = md5(concat(keyStr, lit(salt + name)).cast("binary"))
          // helper columns computed BEFORE the projection: `keyField`
          // and the token source need not survive into `columns`
          val rows = part
            .withColumn("__h", hash)
            .withColumn("__bkt", substring(col("__h"), 1, 2))
            .withColumn("__k", keyStr)
            .withColumn("__tok", tokCol)
            .select(cols.map(col) ++ Seq(lit(name).as("mix_source"),
              col("__h"), col("__bkt"), col("__k"), col("__tok")): _*)
          // the two-level running sum over the 256 md5-prefix buckets;
          // a document's own tokens count toward its cut
          GroupStats.runningBelow(rows, Nil, Seq(col("__h"), col("__k")), "__tok" -> "__cum")
            .where(col("__cum") + col("__tok") <= share)
            .drop("__h", "__bkt", "__k", "__tok", "__cum")
      }
      val partFrames = parts.map { case (path, frac, name) =>
        sampled(ctx.spark.read.parquet(path), frac, name)
      }
      val base =
        if (spec.bool("includeInput", dflt = false))
          Seq(sampled(df,
            spec.str("inputFraction").map(_.toDouble).getOrElse(1.0),
            spec.strOr("inputName", "input")))
        else Nil
      (base ++ partFrames).reduce(_.unionByName(_))
    }

  /** `classbalance`: deterministic class-balancing undersampler — the
    * label-skew fix a classifier-training pipeline applies before
    * fitting ("error" rows outnumber "purchase" 50:1; keep every rare
    * row, hash-sample the common ones down). Per class c with n_c rows
    * and target t (default: the SMALLEST class count — full balance),
    * each row keeps iff its md5 bucket over (key ‖ '|' ‖ class ‖ salt)
    * falls under ⌊t·10000 / n_c⌋ — the same key-stable bucket rule as
    * `datasplit`/`hashsample` (exact integer threshold arithmetic, so
    * the oracle replicates it verbatim; kept counts are ≈ t per class,
    * hash-approximate like all bucket sampling, never exact-k). A
    * row's fate depends only on (key, class, salt) — adding data never
    * flips existing rows. NULL class is a real class (sentinel-coalesced
    * into the hash, never silently dropped); NULL keys likewise.
    *
    * Options: `classField` (required), `keyField` (default doc_id),
    * `salt` (default ""), `targetCount` (optional — undersample toward
    * this count instead of the minimum; classes at or under it keep
    * everything).
    *
    * Scale shape: ONE hash aggregation to class counts (class-
    * cardinality) + a one-row min, both BROADCAST back; the keep
    * decision is a pure per-row projection — no shuffle of the data. */
  def classBalance(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val cF = spec.str("classField").getOrElse(
        sys.error("classbalance: `classField` required"))
      val key = spec.strOr("keyField", "doc_id")
      Seq(cF, key).foreach(c =>
        require(df.columns.contains(c), s"classbalance: no column '$c'"))
      val salt = spec.strOr("salt", "")
      val classStr = coalesce(col(cF).cast("string"), lit("__graft_null__"))
      val counts = df.groupBy(col(cF).as("__bc"))
        .agg(count(lit(1)).as("__nc"))
      val target: DataFrame = spec.long("targetCount") match {
        case Some(t) =>
          require(t >= 1, s"classbalance: targetCount must be >= 1, got $t")
          counts.sparkSession.range(1).select(lit(t).as("__tgt"))
        case None => counts.groupBy().agg(min("__nc").as("__tgt"))
      }
      val keyStr = coalesce(col(key).cast("string"), lit("__graft_null__"))
      df.join(broadcast(counts), col(cF) <=> col("__bc"), "left")
        .crossJoin(broadcast(target))
        .withColumn("__thr", least(lit(Buckets.toLong),
          expr(s"(__tgt * $Buckets) div __nc")))
        .where(bucket(concat(keyStr, lit("|"), classStr), salt) < col("__thr"))
        .drop("__bc", "__nc", "__tgt", "__thr")
    }
}
