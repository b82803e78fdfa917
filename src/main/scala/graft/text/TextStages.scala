package graft.text

import graft.engine.{EtlContext, TextFiles}
import graft.spec.ComponentSpec
import graft.stages.Stages
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis stages for LLM training-data pipelines (builder brief /
  * SURVEY.md §7.2 step 10): token/length statistics, quality signals,
  * heuristic language ID, BPE-ish token counting, and document
  * fingerprinting — all over a string column (fixture: `documents.text`).
  *
  * Scale posture: every stage is a pure per-row projection built from
  * built-in Catalyst expressions (no UDFs, no shuffle, no driver
  * collects); at 100 TB these fuse into the scan's whole-stage-codegen
  * pass.
  */
object TextStages {

  /** Whitespace tokens of a trimmed string — the shared tokenizer.
    * `split(trim(s), "\s+")` so runs of whitespace count once. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Small built-in stopword set used for the quality ratio. */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "of", "and", "in", "to", "is")

  /** `textstats`: length / token / quality statistics.
    * Options: `field` (default "text"), `keepInput` (default true). */
  def textstats(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = col(spec.strOr("field", "text"))
      val toks = tokens(f)
      val stop = Stopwords.map(lit(_))
      val d = df
        .withColumn("ts_chars", length(f))
        .withColumn("ts_tokens", size(toks))
        .withColumn("ts_distinct_tokens", size(array_distinct(toks)))
        .withColumn("ts_avg_token_len",
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
            greatest(size(toks).cast("double"), lit(1.0)))
        .withColumn("ts_stopword_ratio",
          size(filter(toks, t => t.isInCollection(stop))).cast("double") /
            greatest(size(toks).cast("double"), lit(1.0)))
        .withColumn("ts_punct_ratio",
          length(regexp_replace(f, "[^\\p{Punct}]", "")).cast("double") /
            greatest(length(f).cast("double"), lit(1.0)))
        .withColumn("ts_upper_ratio",
          length(regexp_replace(f, "[^A-Z]", "")).cast("double") /
            greatest(length(f).cast("double"), lit(1.0)))
      if (spec.bool("keepInput", dflt = true)) d
      else d.select((Seq(spec.strOr("idField", "doc_id")) ++
        d.columns.filter(_.startsWith("ts_"))).map(col).toIndexedSeq: _*)
    }

  /** `readability`: Flesch reading-ease scoring with fully deterministic
    * count heuristics — the classic text-difficulty signal for corpus
    * curation (dumbed-down SEO spam and OCR garbage both score at the
    * extremes). Words = whitespace tokens; sentences = non-blank
    * segments between `[.!?]+` runs (floored at 1 when the doc has
    * words); syllables(word) = vowel-group count `[aeiouy]+` in the
    * lowercased word, floored at 1 (the standard heuristic — exact
    * syllabification needs a dictionary; this one is engine-portable).
    * `flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    * words)`, null for word-less docs — the arithmetic is the SAME
    * IEEE op tree both engines evaluate, so results hash-match
    * bit-exactly. Pure per-row projection (codegen'd HOFs), fuses into
    * the scan — zero shuffle at any scale.
    * Options: `field` (default text), `outputPrefix` (default none).
    * Output: input + `n_words`, `n_sentences`, `n_syllables`,
    * `flesch_score`. */
  def readability(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = col(spec.strOr("field", "text"))
      val p = spec.strOr("outputPrefix", "")
      val toks = tokens(f)
      val nWords = when(trim(f) === "", lit(0L))
        .otherwise(size(toks).cast("long"))
      val nSent = greatest(lit(1L),
        size(filter(split(f, "[.!?]+"), s => length(trim(s)) > 0)).cast("long"))
      val nSyl = when(trim(f) === "", lit(0L)).otherwise(
        aggregate(toks, lit(0L), (acc, w) => acc +
          greatest(lit(1L),
            size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))).cast("long"))))
      df.withColumn(s"${p}n_words", nWords)
        .withColumn(s"${p}n_sentences", nSent)
        .withColumn(s"${p}n_syllables", nSyl)
        .withColumn(s"${p}flesch_score",
          when(col(s"${p}n_words") === 0, lit(null).cast("double")).otherwise(
            lit(206.835) -
              lit(1.015) * (col(s"${p}n_words").cast("double") /
                col(s"${p}n_sentences").cast("double")) -
              lit(84.6) * (col(s"${p}n_syllables").cast("double") /
                col(s"${p}n_words").cast("double"))))
    }

  /** `qualityfilter`: threshold-based document filtering — the standard
    * pretraining-corpus cleaning pass. Keeps rows satisfying ALL
    * configured bounds; each bound is optional. Options: `field`,
    * `minChars`/`maxChars`, `minTokens`/`maxTokens`,
    * `maxStopwordRatio`/`minStopwordRatio`, `maxPunctRatio`,
    * `minAvgTokenLen`/`maxAvgTokenLen`. Pure filter — pushes into the
    * scan when the stats columns fold to scan-level expressions. */
  def qualityFilter(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = col(spec.strOr("field", "text"))
      val toks = tokens(f)
      val nToks = size(toks).cast("double")
      val stopR = size(filter(toks, t =>
        t.isInCollection(Stopwords.map(lit(_))))).cast("double") /
        greatest(nToks, lit(1.0))
      val punctR = length(regexp_replace(f, "[^\\p{Punct}]", "")).cast("double") /
        greatest(length(f).cast("double"), lit(1.0))
      val avgLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        greatest(nToks, lit(1.0))
      val conds = Seq(
        spec.long("minChars").map(v => length(f) >= v),
        spec.long("maxChars").map(v => length(f) <= v),
        spec.long("minTokens").map(v => size(toks) >= v),
        spec.long("maxTokens").map(v => size(toks) <= v),
        spec.str("minStopwordRatio").map(v => stopR >= v.toDouble),
        spec.str("maxStopwordRatio").map(v => stopR <= v.toDouble),
        spec.str("maxPunctRatio").map(v => punctR <= v.toDouble),
        spec.str("minAvgTokenLen").map(v => avgLen >= v.toDouble),
        spec.str("maxAvgTokenLen").map(v => avgLen <= v.toDouble),
      ).flatten
      require(conds.nonEmpty, "qualityfilter: at least one bound required")
      df.filter(conds.reduce(_ && _))
    }

  /** `gopherfilter`: the Gopher document-quality rule set (Rae et al.
    * 2021, "Scaling Language Models", appendix A1.1 — the de-facto
    * standard LLM pre-training curation filter, reused by Dolma and
    * RefinedWeb) as ONE composite stage. Each rule emits a boolean
    * `gopher_*` column (true = passes) plus their conjunction
    * `gopher_keep`; `action: "filter"` drops failing rows instead
    * (default `"flag"` — curation wants the per-rule diagnosis before
    * committing to a cut). Thresholds (paper defaults, overridable):
    *  - `minWords` 50 / `maxWords` 100000
    *  - `minMeanWordLen` 3.0 / `maxMeanWordLen` 10.0
    *  - `maxSymbolWordRatio` 0.1 — '#' and ellipsis ('...', '…')
    *    occurrences per word
    *  - `maxBulletRatio` 0.9 — lines starting with '-', '*' or '•'
    *  - `maxEllipsisLineRatio` 0.3 — lines ending with an ellipsis
    *  - `minAlphaWordRatio` 0.8 — words containing a letter
    *  - `minStopwords` 2 — distinct members of the Gopher stop list
    *    (the, be, to, of, and, that, have, with) present
    * All pure per-row HOF arithmetic over the shared whitespace
    * tokenizer — fuses into the scan, zero shuffle at any corpus
    * size. */
  def gopherFilter(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = col(spec.strOr("field", "text"))
      def dbl(k: String, dflt: Double) = spec.str(k).map(_.toDouble).getOrElse(dflt)
      val words = tokens(f)
      val nW = size(words).cast("double")
      val nW1 = greatest(nW, lit(1.0))
      val lines = split(f, "\n")
      val nL1 = greatest(size(lines).cast("double"), lit(1.0))
      val meanLen = aggregate(words, lit(0L), (a, t) => a + length(t))
        .cast("double") / nW1
      val hashCnt = length(f) - length(replace(f, lit("#"), lit("")))
      val ellCnt = (length(f) - length(replace(f, lit("..."), lit("")))) / 3 +
        (length(f) - length(replace(f, lit("…"), lit(""))))
      val symbolRatio = (hashCnt + ellCnt).cast("double") / nW1
      val bulletRatio = size(filter(lines, l => ltrim(l).startsWith("-") ||
        ltrim(l).startsWith("*") || ltrim(l).startsWith("•")))
        .cast("double") / nL1
      val ellLineRatio = size(filter(lines, l => rtrim(l).endsWith("...") ||
        rtrim(l).endsWith("…"))).cast("double") / nL1
      val alphaRatio = size(filter(words, _.rlike("[A-Za-z]")))
        .cast("double") / nW1
      val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val stopCnt = size(filter(
        array(gopherStops.map(lit): _*), s => array_contains(words, s)))
      val rules: Seq[(String, Column)] = Seq(
        "gopher_word_count" -> (size(words) >= spec.int("minWords", 50) &&
          size(words) <= spec.int("maxWords", 100000)),
        "gopher_mean_word_len" -> (meanLen >= dbl("minMeanWordLen", 3.0) &&
          meanLen <= dbl("maxMeanWordLen", 10.0)),
        "gopher_symbol_ratio" -> (symbolRatio <= dbl("maxSymbolWordRatio", 0.1)),
        "gopher_bullet_ratio" -> (bulletRatio <= dbl("maxBulletRatio", 0.9)),
        "gopher_ellipsis_ratio" -> (ellLineRatio <= dbl("maxEllipsisLineRatio", 0.3)),
        "gopher_alpha_ratio" -> (alphaRatio >= dbl("minAlphaWordRatio", 0.8)),
        "gopher_stopwords" -> (stopCnt >= spec.int("minStopwords", 2)))
      val keep = rules.map(_._2).reduce(_ && _)
      spec.strOr("action", "flag").toLowerCase match {
        case "filter" => df.filter(keep)
        case "flag" =>
          rules.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
            .withColumn("gopher_keep", keep)
        case other => sys.error(s"gopherfilter: action must be flag|filter, got $other")
      }
    }

  /** Built-in PII patterns — the Java∩RE2 regex subset (no lookbehind,
    * no backrefs) so a DuckDB/RE2 oracle applies the IDENTICAL
    * substitutions. Word-ish boundaries are spelled explicitly. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    // (entity, pattern, replacement token)
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}\\b", "<PHONE>"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"),
    ("ccn", "\\b(?:[0-9]{4}[- ]){3}[0-9]{4}\\b", "<CCN>"))

  /** `piimask`: typed PII scrubbing — the curated preset over the raw
    * `regexreplace` machinery (emails, IPv4, phone numbers, SSNs,
    * card numbers), each replaced by its `<ENTITY>` token, plus a
    * `pii_<entity>_n` count column per requested entity (curation wants
    * the census before the cut). Options: `field` (default "text"),
    * `outputField` (default: overwrite), `entities` (default all of
    * [[PiiPatterns]]), `counts` (default true). Order is fixed
    * (email → ipv4 → phone → ssn → ccn) so overlapping matches resolve
    * deterministically. Pure per-row regex projection — fuses into the
    * scan. */
  def piiMask(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "text")
      require(df.columns.contains(f), s"piimask: no column '$f'")
      val wanted = spec.strList("entities") match {
        case Nil => PiiPatterns
        case names =>
          val known = PiiPatterns.map(_._1).toSet
          val bad = names.filterNot(known)
          require(bad.isEmpty,
            s"piimask: unknown entities ${bad.mkString(",")} — known: ${known.mkString(",")}")
          PiiPatterns.filter(p => names.contains(p._1))
      }
      val withCounts =
        if (!spec.bool("counts", dflt = true)) df
        else wanted.foldLeft(df) { case (d, (name, pat, _)) =>
          d.withColumn(s"pii_${name}_n",
            size(regexp_extract_all(col(f).cast("string"), lit(pat), lit(0))))
        }
      val masked = wanted.foldLeft(col(f).cast("string")) {
        case (c, (_, pat, tok)) => regexp_replace(c, pat, tok)
      }
      withCounts.withColumn(spec.strOr("outputField", f), masked)
    }

  /** `wikitext`: MediaWiki markup → plain text (templates, tables,
    * refs, links, quotes, headings, bullets — see [[graft.text.Wikitext]]
    * for the pass order). With the `xml` extractor this is the
    * Wikipedia-dump landing path. Options: `field` (default "text"),
    * `outputField` (default: overwrite). One codegen'd expression,
    * pure per-row projection. */
  def wikitext(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "text")
      require(df.columns.contains(f), s"wikitext: no column '$f'")
      df.withColumn(spec.strOr("outputField", f),
        graft.functions.VectorExpressions.wikitextClean(col(f).cast("string")))
    }

  /** `compressratio`: deflate compression ratio of a text column — the
    * information-density quality signal (repetitive spam compresses an
    * order of magnitude better than natural text; curation cuts on a
    * low-ratio threshold). Deterministic: zlib at a fixed level.
    * Options: `field` (default "text"), `outputField` (default
    * "compress_ratio"), `level` (1-9, default 6), optional `minRatio` —
    * when set, also emits boolean `compress_keep` (ratio >= minRatio).
    * One codegen'd expression, pure per-row projection. */
  def compressRatio(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "text")
      require(df.columns.contains(f), s"compressratio: no column '$f'")
      val out = spec.strOr("outputField", "compress_ratio")
      val d = df.withColumn(out, graft.functions.VectorExpressions.deflateRatio(
        col(f).cast("string"), spec.int("level", 6)))
      spec.str("minRatio").map(_.toDouble) match {
        case Some(t) => d.withColumn("compress_keep", col(out) >= t)
        case None => d
      }
    }

  /** `c4filter`: the C4 line-level cleaning rule set (Raffel et al.
    * 2020, "Exploring the Limits of Transfer Learning", §2.2 — the
    * other canonical curation recipe next to Gopher's document-level
    * rules). Line rules (applied to `\n`-split lines):
    *  - keep only lines ending in terminal punctuation (`.` `!` `?` or
    *    a closing quote), after right-trim;
    *  - keep only lines with at least `minLineWords` (default 5) words;
    *  - drop any line containing the word "javascript" (case-folded).
    * Page rules (on the ORIGINAL text):
    *  - drop pages containing "lorem ipsum" (case-folded) or `{`;
    *  - drop pages whose CLEANED text has fewer than `minSentences`
    *    (default 3) terminal punctuation marks (the paper's ≥3-sentence
    *    rule, counted after line cleaning).
    * Emits `c4_text` (retained lines re-joined with `\n`), per-rule
    * booleans and `c4_keep`; `action: "filter"` keeps passing rows and
    * swaps `text` for the cleaned lines. Pure per-row HOF arithmetic —
    * fuses into the scan, zero shuffle at any corpus size. */
  /** `wordfilter`: token-blocklist curation — the "bad word list"
    * rule every public pretrain pipeline carries (C4 drops a page on
    * ANY blocklist hit; policy-tunable here). Matching is whole-token
    * against lowercased whitespace tokens — substring matches are NOT
    * hits ("class" is clean under a "lass" entry), which is the
    * standard list semantics. Emits `bad_n` (hit tokens) and
    * `bad_ratio` = bad_n / n_tokens (two exact longs, one IEEE
    * division; 0.0 on an empty doc). Options: `words` (required
    * blocklist), `field` (default text), `action` ∈ flag (default) |
    * filter, `maxCount` (filter bar, default 0 — the C4 rule: any hit
    * drops), `maxRatio` (optional alternative bar).
    *
    * Scale shape: a pure per-row projection — the blocklist ships in
    * the plan as a literal array (lists are thousands of words, not
    * data); no shuffle, no join. */
  def wordFilter(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fieldName = spec.strOr("field", "text")
      require(df.columns.contains(fieldName), s"wordfilter: no column '$fieldName'")
      val words = spec.strList("words")
      require(words.nonEmpty, "wordfilter: `words` (blocklist) required")
      val bl = array(words.map(w => lit(w.toLowerCase)): _*)
      val toks = filter(tokens(lower(col(fieldName))), t => t =!= "")
      val out = df
        .withColumn("bad_n",
          size(filter(toks, t => array_contains(bl, t))).cast("long"))
        .withColumn("bad_ratio",
          when(size(toks) > 0,
            col("bad_n").cast("double") / size(toks).cast("double"))
          .otherwise(lit(0.0)))
      spec.strOr("action", "flag") match {
        case "flag" => out
        case "filter" =>
          val byRatio = spec.str("maxRatio").map(r =>
            col("bad_ratio") <= lit(r.toDouble))
          val byCount = col("bad_n") <= lit(spec.long("maxCount").getOrElse(0L))
          out.where(byRatio.getOrElse(byCount))
        case other => sys.error(
          s"wordfilter: action must be flag|filter, got '$other'")
      }
    }

  /** `stopwords`: remove stop tokens from a text column — the
    * vocabulary-hygiene transform upstream of [[tfidf]]/[[bm25]]/
    * [[collocations]] (function words drown every association
    * statistic). Matching is whole-token case-insensitive; KEPT tokens
    * preserve their original form; the result rejoins single-spaced
    * (original inter-token whitespace is not reconstructable after a
    * token filter — documented). Emits `outputField` (default
    * `<field>_clean`) and `n_removed`.
    *
    * Options: `field` (default text), `words` (default the built-in
    * [[Stopwords]] set), `outputField`.
    *
    * Scale shape: per-row HOF filter against a plan-shipped literal
    * array — no shuffle, no join. */
  def stopwordsStage(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fieldName = spec.strOr("field", "text")
      require(df.columns.contains(fieldName), s"stopwords: no column '$fieldName'")
      val words = spec.strList("words") match {
        case Nil => Stopwords
        case ws => ws
      }
      val out = spec.strOr("outputField", s"${fieldName}_clean")
      require(!df.columns.contains(out) && !df.columns.contains("n_removed"),
        s"stopwords: output column '$out'/'n_removed' collides — set outputField")
      val bl = array(words.map(w => lit(w.toLowerCase)): _*)
      val toks = filter(tokens(col(fieldName)), t => t =!= "")
      val kept = filter(toks, t => !array_contains(bl, lower(t)))
      df.withColumn(out, array_join(kept, " "))
        .withColumn("n_removed", (size(toks) - size(kept)).cast("long"))
    }

  /** `regexextract`: explode every regex match of `pattern` in `field`
    * into its own row — the entity-extraction primitive (emails, IPs,
    * ticket ids, dates) that [[piiMask]]'s in-place masking doesn't
    * give you. Each input row yields one output row per match carrying
    * all input columns plus `outputField` (default `match`, capture
    * `group` — default 0, the whole match) and `match_idx` (0-based
    * position among the row's matches). Rows with no match DROP by
    * default (`keepEmpty` = true keeps them with a null match and
    * match_idx null — the left-join posture). Stick to the common
    * regex subset (no lookbehind) if results must reproduce across
    * engines.
    *
    * Scale shape: per-row `regexp_extract_all` + posexplode — a pure
    * projection/generator, no shuffle; match counts bound the fan-out
    * and the pattern ships in the plan. */
  def regexExtract(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fieldName = spec.strOr("field", "text")
      require(df.columns.contains(fieldName), s"regexextract: no column '$fieldName'")
      val pattern = spec.str("pattern").getOrElse(
        sys.error("regexextract: `pattern` required"))
      val group = spec.int("group", 0)
      val outF = spec.strOr("outputField", "match")
      require(!df.columns.contains(outF) && !df.columns.contains("match_idx"),
        s"regexextract: output column '$outF'/'match_idx' collides — set outputField")
      val matches = regexp_extract_all(
        col(fieldName).cast("string"), lit(pattern), lit(group))
      val base = df.withColumn("__ms", matches)
      val exploded =
        if (spec.bool("keepEmpty", dflt = false))
          base.select(col("*"),
            posexplode_outer(col("__ms")).as(Seq("match_idx", outF)))
        else
          base.select(col("*"), posexplode(col("__ms")).as(Seq("match_idx", outF)))
      exploded.drop("__ms")
        .withColumn("match_idx", col("match_idx").cast("long"))
    }

  def c4Filter(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fieldName = spec.strOr("field", "text")
      require(df.columns.contains(fieldName), s"c4filter: no column '$fieldName'")
      val f = col(fieldName)
      val minLineWords = spec.int("minLineWords", 5)
      val minSentences = spec.int("minSentences", 3)
      val lines = split(f, "\n")
      def lineWords(l: Column): Column =
        size(filter(split(l, "\\s+"), w => w =!= ""))
      def terminal(l: Column): Column = {
        val t = rtrim(l)
        t.endsWith(".") || t.endsWith("!") || t.endsWith("?") ||
          t.endsWith("\"") || t.endsWith("”")
      }
      val kept = filter(lines, l =>
        terminal(l) && lineWords(l) >= minLineWords &&
          !lower(l).contains("javascript"))
      val cleaned = array_join(kept, "\n")
      def cnt(c: Column, s: String): Column =
        length(c) - length(replace(c, lit(s), lit("")))
      val sentences = cnt(cleaned, ".") + cnt(cleaned, "!") + cnt(cleaned, "?")
      val rules: Seq[(String, Column)] = Seq(
        "c4_no_lorem" -> !lower(f).contains("lorem ipsum"),
        "c4_no_brace" -> !f.contains("{"),
        "c4_min_sentences" -> (sentences >= minSentences))
      val keep = rules.map(_._2).reduce(_ && _)
      spec.strOr("action", "flag").toLowerCase match {
        case "filter" => df.filter(keep).withColumn(fieldName, cleaned)
        case "flag" =>
          rules.foldLeft(df.withColumn("c4_text", cleaned)) {
            case (d, (n, c)) => d.withColumn(n, c)
          }.withColumn("c4_keep", keep)
        case other => sys.error(s"c4filter: action must be flag|filter, got $other")
      }
    }

  /** `langid`: character-trigram naive-Bayes language identification
    * over 14 languages (see [[LangIdModel]]) — a real model replacing
    * the round-5 five-language marker-word heuristic. Runs as the
    * native codegen'd [[graft.functions.LangId]] expression: pure
    * per-row projection, fuses into the scan, no UDF, no broadcast.
    * Output column: `lang_pred`. */
  def langid(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      df.withColumn("lang_pred",
        graft.functions.VectorExpressions.langId(col(spec.strOr("field", "text"))))
    }

  /** `tokenize`: BPE-ish token counting — word-or-single-punctuation
    * units via `regexp_extract_all`, the classic pre-tokenizer regex
    * shape. Output: `n_bpeish_tokens` (+ `ws_tokens` whitespace count). */
  def tokenize(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = col(spec.strOr("field", "text"))
      df.withColumn("n_ws_tokens", size(tokens(f)))
        .withColumn("n_bpeish_tokens",
          size(regexp_extract_all(f, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))))
    }

  /** `bpe`: REAL trained byte-pair-encoding subword tokenization — the
    * full Sennrich BPE loop, not `tokenize`'s regex approximation.
    * Training follows the kmeans/IVF pattern: ONE bounded deterministic
    * TakeOrdered sample (hash-ordered by text), driver-side word
    * frequencies + `numMerges` merge rounds
    * ([[graft.functions.Bpe.train]] — most-frequent adjacent pair,
    * lexicographic-min ties, fully deterministic); application is the
    * codegen'd [[graft.functions.BpeEncode]] per-row projection with
    * the merge table shipped in the plan — zero shuffles, fuses into
    * the scan. Detokenization is exact: tokens concatenate back to the
    * whitespace-normalized input (EOW marker → space), the invariant
    * the driver verdict checks over every row.
    *
    * Options: `field` (default text), `outputField` (default
    * bpe_tokens; also emits `n_<outputField>`), `numMerges` (default
    * 200), `trainRows` (default 512), `saveMerges`/`loadMerges` (the
    * merge table as one line per merge, through
    * [[graft.engine.TextFiles]]; config variables resolved). */
  def bpe(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fieldName = spec.strOr("field", "text")
      val outField = spec.strOr("outputField", "bpe_tokens")
      // model persistence through TextFiles: `loadMerges` applies a
      // previously-trained table verbatim (train ONCE on a reference
      // corpus snapshot, apply to every later batch — retraining per run
      // would re-tokenize the whole history differently); `saveMerges`
      // exports this run's table (one line per merge, rank order) for
      // exactly that reuse
      val merges: Array[String] = ctx.resolved(spec, "loadMerges") match {
        case Some(path) =>
          val m = TextFiles.lines(ctx.spark, path, "bpe: loadMerges").toArray
          require(m.nonEmpty, s"bpe: loadMerges file is empty: $path")
          m
        case None =>
          val numMerges = spec.int("numMerges", 200)
          val trainRows = spec.int("trainRows", 512)
          val sample = df.select(col(fieldName).cast("string").as("__t"))
            .where(col("__t").isNotNull)
            .orderBy(xxhash64(col("__t")), col("__t")).limit(trainRows)
            .collect().map(_.getString(0))
          val freqs = scala.collection.mutable.HashMap.empty[String, Long]
          sample.foreach(_.split("\\s+").filter(_.nonEmpty)
            .foreach(w => freqs(w) = freqs.getOrElse(w, 0L) + 1L))
          graft.functions.Bpe.train(freqs.toSeq.sortBy(_._1), numMerges)
      }
      ctx.resolved(spec, "saveMerges").foreach(TextFiles.write(ctx.spark, _, merges.mkString("\n")))
      val toks = graft.functions.VectorExpressions.bpeEncode(
        col(fieldName).cast("string"), merges)
      // spread before the encode: the per-word merge loop is the
      // operator's whole per-row cost (1.3 task-s on ONE task at sf0.1 —
      // a one-file corpus scan is one task); no-op when the input is
      // already as parallel as the cluster (r19, guide §2.5)
      graft.similarity.SimilarityStages.spread(df)
        .withColumn(outField, toks)
        .withColumn(s"n_$outField", size(col(outField)))
    }

  /** `normalizetext`: Unicode canonicalization of a text column — the
    * cleanup pass a multilingual crawl gets before dedup/tokenization
    * (mixed NFC/NFD sources hash apart; NBSP defeats whitespace
    * tokenizers; control bytes poison quality filters). Options:
    * `field` (default "text"), `outputField` (default: overwrite),
    * `form` (NFC|NFD|NFKC|NFKD, default NFC), `stripAccents` (default
    * false), `lower` (default false), `cleanWhitespace` (default true —
    * control-char removal + whitespace-run collapse incl. NBSP, trim).
    * One codegen'd native expression ([[graft.functions.UnicodeNorm]]):
    * pure per-row projection, fuses into the scan. */
  def normalizetext(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "text")
      require(df.columns.contains(f), s"normalizetext: no column '$f'")
      val form = graft.functions.UnicodeNorm.checkForm(spec.strOr("form", "NFC"))
      df.withColumn(spec.strOr("outputField", f),
        graft.functions.VectorExpressions.unicodeNorm(
          col(f).cast("string"), form,
          spec.bool("stripAccents", dflt = false),
          spec.bool("lower", dflt = false),
          spec.bool("cleanWhitespace", dflt = true)))
    }

  /** `regexreplace`: sequential regex substitutions over a text column —
    * the PII-masking / markup-stripping pass of a training-data pipeline
    * (mask emails, URLs, digit runs, strip tags…). Options: `field`
    * (default text), `patterns`: list of `{pattern, replacement}` maps
    * applied in declared order, `outputField` (default: overwrite the
    * input field). Pure per-row projection — fuses into the scan.
    * Patterns should stick to the regex subset shared by Java and RE2
    * (no backrefs/lookbehind) so results stay oracle-portable. */
  def regexReplace(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fieldName = spec.strOr("field", "text")
      val pats = spec.list("patterns").map {
        case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          (mm.getOrElse("pattern", sys.error("regexreplace: pattern required")).toString,
           mm.getOrElse("replacement", "").toString)
        case other => sys.error(s"regexreplace: pattern entry must be a map, got $other")
      }
      require(pats.nonEmpty, "regexreplace: patterns required")
      val out = pats.foldLeft(col(fieldName)) { case (c, (p, r)) =>
        regexp_replace(c, p, r)
      }
      df.withColumn(spec.strOr("outputField", fieldName), out)
    }

  /** `repetition`: repetition quality signals (the Gopher-style filters
    * for boilerplate/spam): `rep_top_token_ratio` — the fraction of
    * tokens taken by the single most frequent token — and
    * `rep_distinct_ratio` — distinct/total tokens. Computed PER ROW with
    * a sort + run-length fold over the token array (no explode, no
    * shuffle: a token-explode groupBy would shuffle the entire corpus'
    * token stream at 100 TB; this fuses into the scan). */
  def repetition(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = col(spec.strOr("field", "text"))
      val toks = tokens(f)
      val nToks = size(toks).cast("double")
      // longest run in the sorted token array = max single-token count:
      // fold state (prevToken, runLen, bestLen)
      val best = aggregate(
        array_sort(toks),
        struct(lit("\u0000").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, t) => {
          val run = when(t === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
          struct(t.as("prev"), run.as("run"),
            greatest(acc("best"), run).as("best"))
        },
        acc => acc("best"))
      df.withColumn("rep_top_token_ratio",
          best.cast("double") / greatest(nToks, lit(1.0)))
        .withColumn("rep_distinct_ratio",
          size(array_distinct(toks)).cast("double") / greatest(nToks, lit(1.0)))
    }

  /** `boilerplate`: corpus-level boilerplate line removal (the
    * RefinedWeb/Dolma-class curation step the reference's transformer
    * registry has no equivalent for, OETLComponentFactory.java:195-226):
    * split each document into lines, count how many DISTINCT documents
    * each line occurs in, and strip lines at or above `minDocs` — nav
    * menus, cookie banners and footer chrome repeat across a crawl
    * while real prose does not. Options: `field` (default `text`),
    * `idField` (default `doc_id`), `minDocs` (default 10), `delimiter`
    * (LITERAL, default newline), `trimKey` (default false — compare
    * lines byte-exactly; true trims the match key but reassembles the
    * ORIGINAL line text).
    *
    * `scope: document` is the within-document variant (the Dolma
    * dedupe-paragraphs step): keep each line's FIRST occurrence inside
    * its own document, drop later repeats — no corpus statistics, no
    * `minDocs`. That spelling is a pure per-row indexed-filter HOF
    * (quadratic in a document's line count, zero shuffle — it fuses
    * into the scan).
    *
    * Corpus-scope scale shape: one posexplode, one hash aggregate keyed
    * by the line (partial count-distinct combines map-side), one anti
    * join whose build side is the boilerplate set itself — tiny by
    * construction (lines in ≥ minDocs documents), so AQE broadcasts it
    * — and one per-document rebuild aggregate keyed on (id, position),
    * which preserves line order byte-exactly. A document whose every
    * line was boilerplate keeps an empty string. No driver collect, no
    * window over the corpus. */
  def boilerplate(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val field = spec.strOr("field", "text")
      val idF = spec.strOr("idField", "doc_id")
      val minDocs = spec.int("minDocs", 10)
      val delim = spec.strOr("delimiter", "\n")
      require(delim.nonEmpty, "boilerplate: delimiter must be non-empty")
      val scope = spec.strOr("scope", "corpus").toLowerCase
      if (scope == "document") {
        val arr = split(col(field), java.util.regex.Pattern.quote(delim))
        df.withColumn(field, array_join(
          filter(arr, (x, i) =>
            i === lit(0) || !array_contains(slice(arr, lit(1), i), x)), delim))
      } else {
        require(scope == "corpus",
          s"boilerplate: scope must be corpus|document, got $scope")
        require(minDocs >= 2, s"boilerplate: minDocs must be >= 2, got $minDocs")
        val keyOf: Column => Column =
          if (spec.bool("trimKey", false)) trim(_) else identity
        // never-null surrogate id: a null id must still form ONE rebuild
        // group and match it on the way back (a plain === would never
        // match null and silently wipe the doc's text to ''), but a
        // null-safe <=> join measured ~1.8x slower here — it blocks the
        // not-null pushdown on both sides. All real ids map to
        // '=' + cast(string) (injective per atomic type), null to a
        // lone NUL (U+0000) no real surrogate can equal.
        val sid = when(col(idF).isNull, lit("\u0000"))
          .otherwise(concat(lit("="), col(idF).cast("string")))
        val lines = df.select(sid.as("__id"),
          posexplode(split(col(field), java.util.regex.Pattern.quote(delim)))
            .as(Seq("__pos", "__line")))
        val hot = lines
          .groupBy(keyOf(col("__line")).as("__k"))
          .agg(countDistinct(col("__id")).as("__docs"))
          .where(col("__docs") >= minDocs)
          .select("__k")
        val kept = lines.join(hot, keyOf(col("__line")) === col("__k"), "left_anti")
        // duplicate ids would silently interleave two documents' lines
        // in the rebuild — their position sequences collide (both start
        // at 0), which the count-vs-distinct-positions check catches
        val rebuilt = kept.groupBy(col("__id")).agg(
          array_join(transform(
            array_sort(collect_list(struct(col("__pos").as("p"), col("__line").as("l")))),
            x => x.getField("l")), delim).as("__newtext"),
          (count(lit(1)) =!= countDistinct(col("__pos"))).as("__iddup"))
        df.join(rebuilt, sid === rebuilt("__id"), "left")
          .withColumn(field, when(col("__iddup"),
              raise_error(concat(lit(s"boilerplate: duplicate $idF "),
                coalesce(col(idF).cast("string"), lit("NULL")),
                lit(" — the rebuild would interleave two documents; " +
                  "dedupe ids first"))))
            // a NULL text stays NULL (a missing doc is not an
            // all-boilerplate doc); a non-null doc whose every line was
            // boilerplate keeps ''
            .when(col(field).isNull, lit(null).cast("string"))
            .otherwise(coalesce(col("__newtext"), lit(""))))
          .drop("__id", "__newtext", "__iddup")
      }
    }

  /** `ngramcount`: top-k most frequent word n-grams across the corpus —
    * the standard vocabulary / boilerplate inspection query. Options:
    * `field`, `n` (default 3), `k` (default 50), `distinctPerDoc`
    * (default false — count every occurrence; true counts each n-gram
    * once per document, the document-frequency variant), `approximate`
    * (default false), `sketchSize`. Output `(ngram, cnt)` ordered by
    * (cnt desc, ngram asc).
    *
    * Exact scale shape: explode → hash-aggregate with map-side combine →
    * TakeOrdered(k) — the global "top 50" never sorts the full n-gram
    * distribution, each task contributes only its k best. The one
    * exchange still carries a partial count per DISTINCT n-gram per
    * task; for heavy-tailed corpora where that dominates,
    * `approximate: true` switches to a two-phase heavy-hitter plan:
    *
    *  1. per-partition Misra–Gries sketches (capacity `sketchSize`,
    *     default 20·k; `mapPartitions` — bounded memory, amortized O(1)
    *     per item, NO shuffle) nominate candidate n-grams. Any n-gram
    *     with global count > totalN/sketchSize is locally frequent in
    *     ≥1 partition (average argument) and Misra–Gries keeps every
    *     item locally more frequent than n_p/sketchSize, so true heavy
    *     hitters always survive;
    *  2. candidates (≤ sketchSize·partitions rows, typically tiny)
    *     broadcast back and the stream is re-counted EXACTLY on the
    *     candidate subset only — the exchange now carries candidates,
    *     not the full distribution.
    *
    * Result equals the exact top-k whenever the k-th count exceeds
    * totalN/sketchSize (asserted in specs); counts are always exact for
    * returned rows. */
  def ngramCount(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = col(spec.strOr("field", "text"))
      val n = spec.int("n", 3)
      val k = spec.int("k", 50)
      val toksC = tokens(f)
      val grams0 = when(size(toksC) < n, array(concat_ws(" ", toksC)))
        .otherwise(transform(sequence(lit(0), size(toksC) - n),
          i => concat_ws(" ", slice(toksC, i + 1, lit(n)))))
      val grams = if (spec.bool("distinctPerDoc", dflt = false))
        array_distinct(grams0) else grams0
      // spread before tokenize+explode: the per-task partial aggregate
      // hashes MILLIONS of distinct n-grams, so a single-row-group
      // corpus file would build that whole hash in one task (measured
      // 3.6s -> 0.9s at sf0.1); no-op on an already-parallel corpus
      val stream = graft.similarity.SimilarityStages.spread(df)
        .select(explode(grams).as("ngram"))
      val counted =
        if (!spec.bool("approximate", dflt = false))
          stream.groupBy("ngram").agg(count(lit(1)).as("cnt"))
        else {
          val cap = spec.int("sketchSize", 20 * k)
          import df.sparkSession.implicits._
          val candidates = stream.as[String].mapPartitions(
            it => misraGries(it, cap)).toDF("ngram").distinct()
          stream.join(broadcast(candidates), Seq("ngram"), "left_semi")
            .groupBy("ngram").agg(count(lit(1)).as("cnt"))
        }
      counted.orderBy(col("cnt").desc, col("ngram").asc).limit(k)
    }

  /** Misra–Gries heavy-hitter sketch over one partition's stream: at
    * most `cap` counters; when full, a miss decrements EVERY counter
    * and drops zeros (each decrement is paid for by one increment →
    * amortized O(1) per item). Guarantee: any item with local count
    * > n_p/(cap+1) survives. Only the surviving KEYS are emitted —
    * counts are re-derived exactly downstream. */
  private def misraGries(it: Iterator[String], cap: Int): Iterator[String] = {
    val counts = new java.util.HashMap[String, Long](cap * 2)
    it.foreach { x =>
      if (counts.containsKey(x)) counts.put(x, counts.get(x) + 1L)
      else if (counts.size < cap) counts.put(x, 1L)
      else {
        val e = counts.entrySet().iterator()
        while (e.hasNext) {
          val en = e.next()
          if (en.getValue == 1L) e.remove() else en.setValue(en.getValue - 1L)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    counts.keySet().iterator().asScala.toVector.iterator
  }

  /** `sentencesplit`: explode documents into sentences — the unit-of-
    * analysis change for sentence-level filtering/dedup. Sentences are
    * maximal runs `[^.!?]+` with their trailing terminators (a regex in
    * the Java∩RE2 subset — no lookbehind, so the same pattern runs in
    * any engine); whitespace-only fragments are dropped AFTER indexing,
    * so `sent_idx` (0-based, position in the extracted list) is stable
    * under the filter. Output: id + `sent_idx` + `sentence` (trimmed).
    * Pure projection + explode — no shuffle. */
  def sentenceSplit(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val f = col(spec.strOr("field", "text"))
      val sents = regexp_extract_all(f, lit("[^.!?]+[.!?]*"), lit(0))
      df.select(col(id), posexplode(sents).as(Seq("sent_idx", "__s")))
        .select(col(id), col("sent_idx").cast("long").as("sent_idx"),
          trim(col("__s")).as("sentence"))
        .where(col("sentence") =!= "")
    }

  /** `tfidf`: top-`k` characteristic terms per document by TF·IDF — the
    * keyword-extraction / topic-signal pass. IDF is the LINEAR ratio
    * `N / df(term)` (not log): `tf·N` is an exact integer and the single
    * IEEE division is bit-identical across engines, so results stay
    * hash-exact against a SQL oracle (log(x) differs in final ulps
    * between libm implementations — a documented deviation from the
    * textbook formula that changes no ranking: log is monotone).
    *
    * Scale shape: tokenize+explode → per-(doc, term) count (ONE hash
    * aggregation, map-side combine) → document-frequency aggregation of
    * the distinct (doc, term) pairs (second hash agg) → join tf⋈df on
    * term (AQE picks broadcast when the vocabulary is small; shuffle-hash
    * on term otherwise — vocabulary rows, never corpus rows) → per-doc
    * top-k by `row_number` over doc partitions (document count ≫ cores:
    * the window's doc_id shuffle is balanced; within-group sort is over
    * the DISTINCT terms of one doc, not the corpus). Options: `idField`,
    * `field`, `k` (default 5), `minDf` (default 1), `lowercase`
    * (default true). Output: id + `term` + `tf` + `df` + `score` +
    * `term_rank`. */
  def tfidf(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      import org.apache.spark.sql.expressions.Window
      val id = spec.strOr("idField", "doc_id")
      val f0 = col(spec.strOr("field", "text"))
      val f = if (spec.bool("lowercase", dflt = true)) lower(f0) else f0
      val k = spec.int("k", 5)
      val minDf = spec.int("minDf", 1)
      val total = df.agg(count(lit(1)).as("__n"))
      val tf = df.select(col(id).as("__id"), explode(tokens(f)).as("term"))
        .groupBy("__id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        .where(col("df") >= minDf)
      val scored = tf.join(dfreq, "term").crossJoin(total)
        .withColumn("score",
          (col("tf") * col("__n")).cast("double") / col("df").cast("double"))
      val w = Window.partitionBy("__id")
        .orderBy(col("score").desc, col("term").asc)
      scored.withColumn("term_rank", row_number().over(w))
        .where(col("term_rank") <= k)
        .select(col("__id").as(id), col("term"), col("tf"), col("df"),
          col("score"), col("term_rank").cast("long").as("term_rank"))
    }

  /** `dsirweight`: DSIR-style importance weight of every document
    * against a TARGET corpus (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169 —
    * public): how much more likely the document's tokens are under the
    * target domain's unigram distribution than under the source
    * corpus's own. The standard curation move for "make my web crawl
    * look like Wikipedia": score every source doc, keep the top slice.
    *
    * To stay hash-exact across engines the per-token log-ratio is
    * INTEGER bits (the tokeninfo rule): with `L(x) = length(bin(x))`
    * = floor(log2 x) + 1,
    * `bits(w) = (L(ct+1) - L(Nt+1)) - (L(cs+1) - L(Ns+1))`
    * where ct/cs are the token's target/source counts and Nt/Ns the
    * corpus token totals — an integer surrogate of
    * log2(p_target(w)/p_source(w)) with add-one smoothing (a token
    * absent from the target contributes L(1)=1 bit up top). The doc
    * weight is the count-weighted sum over its distinct tokens.
    *
    * Scale shape: tokenize+explode → per-(doc, token) count (ONE hash
    * agg, map-side combine); source vocabulary = second agg over those
    * DISTINCT pairs; target vocabulary = one agg over the target
    * corpus; the (doc, token) frame joins the two VOCABULARY frames on
    * token (AQE broadcasts small vocabularies; shuffle-hash on token
    * otherwise — vocabulary rows, never corpus rows), then one per-doc
    * sum. Corpus totals ride a 1-row cross join (broadcast). No
    * driver collects; at 100 TB every exchange carries ids, tokens,
    * and counts — never document text.
    *
    * Options: `target` (required — table name or SELECT for the target
    * corpus), `targetField` (default = `field`), `field` (default
    * text), `idField` (default doc_id), `lowercase` (default true),
    * `outputField` (default dsir_weight). Docs with no tokens (null
    * text) weigh 0. Selection (the resampling half of DSIR, both
    * optional and composable): `minWeight` keeps only rows at or above
    * the threshold (a filter — pushes past the join); `topK` keeps the
    * K highest-weight docs exactly (TakeOrdered over (weight desc, id
    * asc) — ids and weights only, never a global sort of the rows). */
  def dsirWeight(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val fName = spec.strOr("field", "text")
      val lc = spec.bool("lowercase", dflt = true)
      def norm(c: Column) = if (lc) lower(c) else c
      val outF = spec.strOr("outputField", "dsir_weight")
      val tgtRef = spec.str("target").getOrElse(sys.error(
        "dsirweight: target (table name or SELECT) required"))
      val tgt = ctx.tableOrSql(tgtRef)
      val tgtF = spec.strOr("targetField", fName)
      def L(c: Column) = length(bin(c)).cast("long")
      val docTok = df
        .select(col(id).as("__id"), explode(tokens(norm(col(fName)))).as("__w"))
        .groupBy("__id", "__w").agg(count(lit(1)).as("__c"))
      val srcCnt = docTok.groupBy("__w").agg(sum("__c").as("__cs"))
      val tgtCnt = tgt
        .select(explode(tokens(norm(col(tgtF)))).as("__w"))
        .groupBy("__w").agg(count(lit(1)).as("__ct"))
      val totals = srcCnt.agg(coalesce(sum("__cs"), lit(0L)).as("__ns"))
        .crossJoin(tgtCnt.agg(coalesce(sum("__ct"), lit(0L)).as("__nt")))
      val perDoc = docTok
        .join(srcCnt, "__w")
        .join(tgtCnt, Seq("__w"), "left")
        .crossJoin(totals)
        .withColumn("__bits",
          (L(coalesce(col("__ct"), lit(0L)) + 1) - L(col("__nt") + 1)) -
          (L(col("__cs") + 1) - L(col("__ns") + 1)))
        .groupBy("__id").agg(sum(col("__c") * col("__bits")).as("__dsir"))
      val scored = df.join(perDoc, col(id) <=> col("__id"), "left")
        .withColumn(outF, coalesce(col("__dsir"), lit(0L)))
        .drop("__id", "__dsir")
      val floored = spec.long("minWeight") match {
        case Some(m) => scored.where(col(outF) >= m)
        case None => scored
      }
      spec.long("topK").map(_.toInt) match {
        case Some(kk) =>
          require(kk >= 1, s"dsirweight: topK must be >= 1, got $kk")
          // exact top-K selection, ids+weights only: TakeOrdered runs
          // over the narrow (id, weight) projection — document text
          // never rides the take's shuffle — then a broadcast semi-join
          // recovers the K winning rows (ADVICE r14: the previous
          // direct orderBy.limit carried the full row through the take)
          val winners = floored
            .select(col(id).as("__kid"), col(outF).as("__kw"))
            .orderBy(col("__kw").desc, col("__kid").asc).limit(kk)
            .select("__kid")
          // semi-join recovery can return MORE than K rows when ids
          // repeat or are null (all null-id rows co-match via <=>);
          // re-apply the limit so the contract stays "exactly K rows",
          // matching the pre-rewrite orderBy.limit semantics (ADVICE r15)
          floored
            .join(broadcast(winners), col(id) <=> col("__kid"), "left_semi")
            .orderBy(col(outF).desc, col(id).asc).limit(kk)
        case None => floored
      }
    }

  /** `scriptmix`: Unicode-script mix of a text column — dominant script
    * + its exact letter share ([[graft.functions.ScriptMix]]): the
    * multilingual-curation screen that catches mixed-script spam
    * (Cyrillic lookalikes in Latin text) and wrongly-routed docs that
    * language-ID alone misses. One codegen'd projection per row, zero
    * exchanges. Emits `n_letters`, `top_script`, `top_ratio`. Options:
    * `field` (default text), `minRatio` (keep docs whose dominant share
    * ≥ threshold — the purity filter), `expectScript` (keep docs whose
    * dominant script equals the name, e.g. LATIN). */
  def scriptMix(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "text")
      require(df.columns.contains(f), s"scriptmix: no column '$f'")
      Seq("n_letters", "top_script", "top_ratio").foreach(c =>
        require(!df.columns.contains(c),
          s"scriptmix: output column '$c' collides — rename upstream"))
      val mixed = df
        .withColumn("__sm", call_function("graft_script_mix", col(f).cast("string")))
        .withColumn("n_letters", col("__sm.n_letters"))
        .withColumn("top_script", col("__sm.top_script"))
        .withColumn("top_ratio", col("__sm.top_ratio"))
        .drop("__sm")
      val floored = spec.str("minRatio") match {
        case Some(r) => mixed.where(col("top_ratio") >= r.toDouble)
        case None => mixed
      }
      spec.str("expectScript") match {
        case Some(sc) => floored.where(col("top_script") === sc)
        case None => floored
      }
    }

  /** `nbclassify`: TRAINED multinomial Naive Bayes document classifier —
    * the supervised third leg of the curation suite (dsirweight =
    * importance weighting, tokeninfo = LM cross-entropy; CCNet/GPT-3
    * style pipelines gate on a trained good-vs-bad classifier — Brown
    * et al. 2020 §A, public). Training is fully DISTRIBUTED: per-(class,
    * token) counts, per-class token totals, class document counts and
    * the vocabulary size are four hash aggregations over the labeled
    * corpus — no driver-side fitting, so the labeled set can be
    * arbitrarily large.
    *
    * To stay hash-exact across engines the per-token class
    * log-likelihood is INTEGER bits (the dsirweight/tokeninfo rule):
    * with `L(x) = length(bin(x))` = floor(log2 x)+1, class `c` scores
    * `score_c(d) = L(docs_c) + Σ_w count_d(w) · (L(cnt_c(w)+1) −
    * L(N_c + V))` — add-one-smoothed multinomial NB with the prior in
    * the same integer-bits currency. The prediction is the argmax
    * (ties break on ascending label). Documents with no tokens get a
    * null label (no evidence, no prior-only guess to mask it).
    *
    * Model persistence (the bpe/kmeans discipline, but PARQUET — the
    * model is vocabulary-sized, not config-sized): `saveModel` writes
    * the count frame and scores THIS run from the written files (train
    * once, apply forever — the persisted model is the scoring input, so
    * save→load identity holds by construction); `loadModel` applies a
    * previously-trained model and needs no labeled table. Model rows:
    * (kind ∈ tok|cls_tokens|cls_docs|vocab, label, token, n).
    *
    * Scale shape: labeled corpus → ONE (class, token) hash agg (+ three
    * tiny rollups); scoring = doc-token agg, a broadcast cross join
    * with the per-class constants (rows = |classes|), one join against
    * the vocabulary-sized count frame on (token, label) — AQE
    * broadcasts small models, shuffle-hash on token otherwise; exchanges
    * carry ids, tokens and counts, never document text; one per-(doc,
    * class) sum and one per-doc argmax.
    *
    * Options: `labeled` (table name or SELECT — required unless
    * `loadModel`), `labelField` (default label), `labeledTextField`
    * (default = field), `field` (default text), `idField` (default
    * doc_id), `lowercase` (default true), `outputField` (default
    * nb_label; also emits `<outputField>_bits`, the winning score),
    * `saveModel` / `loadModel` (parquet paths). */
  def nbClassify(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val fName = spec.strOr("field", "text")
      val lc = spec.bool("lowercase", dflt = true)
      def norm(c: Column) = if (lc) lower(c) else c
      val outF = spec.strOr("outputField", "nb_label")
      def L(c: Column) = length(bin(c)).cast("long")

      val trained: Option[DataFrame] = spec.str("loadModel") match {
        case Some(_) => None
        case None =>
          val labeledRef = spec.str("labeled").getOrElse(sys.error(
            "nbclassify: `labeled` (table name or SELECT) or `loadModel` required"))
          val lab = ctx.tableOrSql(labeledRef)
          val labF = spec.strOr("labelField", "label")
          val ltF = spec.strOr("labeledTextField", fName)
          Seq(labF, ltF).foreach(c => require(lab.columns.contains(c),
            s"nbclassify: labeled table has no column '$c'"))
          val base = lab.select(col(labF).cast("string").as("label"),
              norm(col(ltF).cast("string")).as("__t"))
            .where(col("label").isNotNull)
          val ltok = base.select(col("label"), explode(tokens(col("__t"))).as("token"))
          val nullTok = lit(null).cast("string").as("token")
          val nullLab = lit(null).cast("string").as("label")
          val tokCnt = ltok.groupBy("label", "token")
            .agg(count(lit(1)).as("n")).select(lit("tok").as("kind"),
              col("label"), col("token"), col("n"))
          val clsTok = tokCnt.groupBy("label").agg(sum("n").as("n"))
            .select(lit("cls_tokens").as("kind"), col("label"), nullTok, col("n"))
          val clsDoc = base.groupBy("label").agg(count(lit(1)).as("n"))
            .select(lit("cls_docs").as("kind"), col("label"), nullTok, col("n"))
          val vocab = tokCnt.select("token").distinct().agg(count(lit(1)).as("n"))
            .select(lit("vocab").as("kind"), nullLab, nullTok, col("n"))
          Some(tokCnt.unionByName(clsTok).unionByName(clsDoc).unionByName(vocab))
      }
      val model: DataFrame = (trained, spec.str("saveModel")) match {
        case (Some(m), Some(path)) =>
          // the written files ARE the scoring input: save→load identity
          // holds by construction, and the multi-agg training plan runs
          // exactly once
          m.write.mode("overwrite").parquet(path)
          ctx.spark.read.parquet(path)
        case (Some(m), None) =>
          // the model frame is referenced by several scoring joins —
          // persist (run-scoped lifecycle) so training aggregates once
          ctx.registerPersisted(m.persist())
          m
        case (None, _) =>
          val path = spec.str("loadModel").get
          val m = ctx.spark.read.parquet(path)
          require(m.columns.sorted.sameElements(Array("kind", "label", "n", "token")),
            s"nbclassify: $path is not an nbclassify model " +
            s"(columns ${m.columns.mkString(",")})")
          m
      }

      val tokCounts = model.where(col("kind") === "tok")
        .select(col("label"), col("token"), col("n").as("__cc"))
      val classes = model.where(col("kind") === "cls_tokens")
        .select(col("label"), col("n").as("__ntok"))
        .join(model.where(col("kind") === "cls_docs")
          .select(col("label"), col("n").as("__ndoc")), "label")
        .crossJoin(model.where(col("kind") === "vocab")
          .select(col("n").as("__v")))
        .select(col("label"), L(col("__ndoc")).as("__prior"),
          L(col("__ntok") + col("__v")).as("__denom"))

      val docTok = df
        .select(col(id).as("__id"), explode(tokens(norm(col(fName)))).as("token"))
        .groupBy("__id", "token").agg(count(lit(1)).as("__c"))
      val perClass = docTok
        .crossJoin(broadcast(classes))
        .join(tokCounts, Seq("token", "label"), "left")
        .withColumn("__bits", L(coalesce(col("__cc"), lit(0L)) + 1) - col("__denom"))
        .groupBy("__id", "label", "__prior")
        .agg(sum(col("__c") * col("__bits")).as("__s"))
        .select(col("__id"), col("label"), (col("__prior") + col("__s")).as("__score"))
      // argmax with ascending-label tie-break: min over (−score, label)
      val best = perClass
        .groupBy("__id")
        .agg(min(struct((-col("__score")).as("__neg"), col("label"))).as("__b"))
        .select(col("__id"), col("__b.label").as(outF),
          (-col("__b.__neg")).as(s"${outF}_bits"))
      df.join(best, col(id) <=> col("__id"), "left").drop("__id")
    }

  /** `tokeninfo`: corpus self-information quality score — per document,
    * the summed information content of its tokens measured against the
    * corpus's own unigram distribution (the CCNet/Gopher-style "how
    * surprising is this document" signal: boilerplate scores low,
    * rare-token-dense text scores high). To stay hash-exact across
    * engines the per-occurrence contribution is INTEGER bits:
    * `bits(tok) = length(bin(N div count(tok)))` = floor(log2 N/cnt)+1
    * — pure integer arithmetic, no libm log whose final ulps differ
    * (the tfidf linear-idf rule, taken one step further). Output:
    * input + `n_info_tokens` + `info_bits` + `bits_per_token` (one
    * IEEE division, bit-identical everywhere; null for token-less
    * rows).
    *
    * Options: `idField` (default doc_id), `field` (default text),
    * `lowercase` (default true), `n` (1 = unigram self-information,
    * the default; 2 = BIGRAM conditional surprise — per bigram
    * occurrence `bits = floor(log2 cnt(w1·) / cnt(w1 w2)) + 1` against
    * the corpus's own bigram model, the integer-exact stand-in for
    * n-gram-LM perplexity filtering: fluent text full of common
    * continuations scores low bits/token, garbled or rare-transition
    * text scores high).
    *
    * `target` (table name or SELECT, optional; `targetField` defaults
    * to `field`): score against a REFERENCE corpus's model instead of
    * the stream's own — the KenLM/CCNet quality-filter posture ("how
    * Wikipedia-like is this page"), cross-entropy where self mode is
    * entropy. Unseen n-grams force add-one smoothing over the target
    * vocabulary V: n=1 `bits = L(N_t + V) − L(c_t(tok) + 1)`, n=2
    * `bits = L(c_t(w1·) + V) − L(c_t(w1 w2) + 1)` with L(x) =
    * floor(log2 x)+1 — still pure integer arithmetic, still
    * monotone-correct (c_bg ≤ c_pre ⇒ bits ≥ 0), oracle-exact.
    *
    * Scale shape: tokenize+explode → corpus term counts (ONE hash agg,
    * map-side combine) → join counts on term (vocabulary-keyed: AQE
    * broadcasts small vocabularies, shuffle-hash otherwise — vocab
    * rows, never corpus rows) + 1-row total attach → per-doc sum
    * (second map-side-combined agg) → id-join back to the input. The
    * bigram mode swaps the 1-row total for the prefix-count join —
    * same shape, one extra vocabulary-keyed join. */
  def tokenInfo(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val id = spec.strOr("idField", "doc_id")
      val f0 = col(spec.strOr("field", "text"))
      val f = if (spec.bool("lowercase", dflt = true)) lower(f0) else f0
      val order = spec.int("n", 1)
      require(order == 1 || order == 2,
        s"tokeninfo: n must be 1 (unigram) or 2 (bigram), got $order")
      val tgtOpt = spec.str("target").map(ctx.tableOrSql)
      val tgtF = spec.strOr("targetField", spec.strOr("field", "text"))
      tgtOpt.foreach(t => require(t.columns.contains(tgtF),
        s"tokeninfo: target has no column '$tgtF'"))
      def tgtCol(t: DataFrame): Column = {
        val c = t(tgtF)
        if (spec.bool("lowercase", dflt = true)) lower(c) else c
      }
      def L(c: Column) = length(bin(c)).cast("long")
      def bigramsOf(arr: Column): Column = {
        val win = greatest(size(arr) - 1, lit(0))
        zip_with(slice(arr, lit(1), win), slice(arr, lit(2), win),
          (a, b) => struct(a.as("w1"), b.as("w2")))
      }
      val perDoc = (order, tgtOpt) match {
        case (1, None) =>
          val toks = df.select(col(id).as("__id"), explode(tokens(f)).as("__tok"))
            .where(col("__tok") =!= "")
          val counts = toks.groupBy("__tok").agg(count(lit(1)).as("__cnt"))
          val total = toks.agg(count(lit(1)).as("__n"))
          toks.join(counts, "__tok").crossJoin(total)
            .withColumn("__bits", length(bin(expr("__n div __cnt"))).cast("long"))
            .groupBy("__id")
            .agg(count(lit(1)).as("n_info_tokens"), sum("__bits").as("info_bits"))
        case (1, Some(tgt)) =>
          // cross-entropy vs the reference unigram model, add-one
          // smoothed over the reference vocabulary V. The count table
          // is persisted: totals and the token join otherwise each
          // re-tokenize the (possibly large) reference corpus
          val toks = df.select(col(id).as("__id"), explode(tokens(f)).as("__tok"))
            .where(col("__tok") =!= "")
          val tCnt = tgt.select(explode(tokens(tgtCol(tgt))).as("__tok"))
            .where(col("__tok") =!= "")
            .groupBy("__tok").agg(count(lit(1)).as("__cnt"))
            .persist()
          ctx.registerPersisted(tCnt)
          val totals = tCnt.agg(coalesce(sum("__cnt"), lit(0L)).as("__nt"),
            count(lit(1)).as("__v"))
          toks.join(tCnt, Seq("__tok"), "left").crossJoin(broadcast(totals))
            .withColumn("__bits",
              L(col("__nt") + col("__v")) -
                L(coalesce(col("__cnt"), lit(0L)) + 1))
            .groupBy("__id")
            .agg(count(lit(1)).as("n_info_tokens"), sum("__bits").as("info_bits"))
        case (2, None) =>
          val stream = df.select(col(id).as("__id"),
              explode(bigramsOf(filter(tokens(f), t => t =!= ""))).as("__bg"))
            .select(col("__id"), col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
          val cntBg = stream.groupBy("__w1", "__w2").agg(count(lit(1)).as("__cbg"))
          val cntPre = stream.groupBy("__w1").agg(count(lit(1)).as("__cpre"))
          stream.join(cntBg, Seq("__w1", "__w2")).join(cntPre, Seq("__w1"))
            .withColumn("__bits", length(bin(expr("__cpre div __cbg"))).cast("long"))
            .groupBy("__id")
            .agg(count(lit(1)).as("n_info_tokens"), sum("__bits").as("info_bits"))
        case (_, Some(tgt)) =>
          // bigram cross-entropy vs the reference LM (the KenLM-filter
          // posture) — counts from the TARGET, smoothing vocabulary =
          // the target's distinct unigrams
          val stream = df.select(col(id).as("__id"),
              explode(bigramsOf(filter(tokens(f), t => t =!= ""))).as("__bg"))
            .select(col("__id"), col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
          // persist the reference token arrays: cntBg, cntPre and the
          // vocabulary total otherwise EACH re-tokenize the reference
          // corpus (three full scans of the large side per run)
          val tToks = tgt.select(filter(tokens(tgtCol(tgt)), t => t =!= "").as("__ta"))
            .persist()
          ctx.registerPersisted(tToks)
          val tStream = tToks.select(explode(bigramsOf(col("__ta"))).as("__bg"))
            .select(col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
          val cntBg = tStream.groupBy("__w1", "__w2").agg(count(lit(1)).as("__cbg"))
          val cntPre = tStream.groupBy("__w1").agg(count(lit(1)).as("__cpre"))
          val vTot = tToks.select(explode(col("__ta")).as("__t"))
            .agg(count_distinct(col("__t")).as("__v"))
          stream.join(cntBg, Seq("__w1", "__w2"), "left")
            .join(cntPre, Seq("__w1"), "left")
            .crossJoin(broadcast(vTot))
            .withColumn("__bits",
              L(coalesce(col("__cpre"), lit(0L)) + col("__v")) -
                L(coalesce(col("__cbg"), lit(0L)) + 1))
            .groupBy("__id")
            .agg(count(lit(1)).as("n_info_tokens"), sum("__bits").as("info_bits"))
      }
      df.join(perDoc, col(id) === col("__id"), "left").drop("__id")
        .withColumn("n_info_tokens", coalesce(col("n_info_tokens"), lit(0L)))
        .withColumn("info_bits", coalesce(col("info_bits"), lit(0L)))
        .withColumn("bits_per_token", when(col("n_info_tokens") > 0,
          col("info_bits").cast("double") / col("n_info_tokens").cast("double")))
    }

  /** `vocaboverlap`: vocabulary agreement between the stream's corpus
    * and a REFERENCE corpus — the tokenizer/domain-fit diagnostic ("how
    * much of the new data does the trained vocabulary cover?"). ONE
    * summary row: `v_cur`/`v_base`/`v_both` (distinct-token counts and
    * their intersection), `jaccard` = both/(cur+base−both), `oov_types`
    * (current vocabulary fraction absent from the reference) and
    * `oov_tokens` (the MASS-weighted version — the fraction of current
    * token OCCURRENCES whose type the reference lacks; the number that
    * predicts tokenizer fallback rates). All counts exact longs, each
    * rate ONE IEEE division. Tokenization matches the corpus stages
    * (whitespace split, optional lowercase).
    *
    * Options: `against` (table name or SELECT, required), `field`
    * (default text), `againstField` (default = field), `lowercase`
    * (default true).
    *
    * Scale shape: one token hash aggregation per corpus (map-side
    * combine) → vocabulary-sized frames; ONE full-outer join on the
    * token; one-row combine. Documents never pair. */
  def vocabOverlap(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "text")
      require(df.columns.contains(f), s"vocaboverlap: no column '$f'")
      val base0 = ctx.tableOrSql(spec.str("against").getOrElse(
        sys.error("vocaboverlap: `against` (table or SELECT) required")))
      val bf = spec.strOr("againstField", f)
      require(base0.columns.contains(bf), s"vocaboverlap: baseline has no column '$bf'")
      val lc = spec.bool("lowercase", dflt = true)
      def toks(c: Column) = {
        val base = if (lc) lower(c) else c
        filter(tokens(base), t => t =!= "")
      }
      val cur = df.select(explode(toks(col(f))).as("__t"))
        .groupBy("__t").agg(count(lit(1)).as("__ca"))
      val ref = base0.select(explode(toks(col(bf))).as("__rt"))
        .groupBy("__rt").agg(count(lit(1)).as("__cb"))
      cur.join(ref, col("__t") === col("__rt"), "full_outer")
        .groupBy()
        .agg(
          sum(when(col("__t").isNotNull, 1L).otherwise(0L)).as("v_cur"),
          sum(when(col("__rt").isNotNull, 1L).otherwise(0L)).as("v_base"),
          sum(when(col("__t").isNotNull && col("__rt").isNotNull, 1L)
            .otherwise(0L)).as("v_both"),
          sum(coalesce(col("__ca"), lit(0L))).as("__massCur"),
          sum(when(col("__rt").isNull, coalesce(col("__ca"), lit(0L)))
            .otherwise(0L)).as("__massOov"))
        .withColumn("jaccard", when(col("v_cur") + col("v_base") > col("v_both"),
          col("v_both").cast("double") /
            (col("v_cur") + col("v_base") - col("v_both")).cast("double")))
        .withColumn("oov_types", when(col("v_cur") > 0,
          (col("v_cur") - col("v_both")).cast("double") / col("v_cur").cast("double")))
        .withColumn("oov_tokens", when(col("__massCur") > 0,
          col("__massOov").cast("double") / col("__massCur").cast("double")))
        .drop("__massCur", "__massOov")
    }

  /** `collocations`: corpus bigram association mining — the phrase /
    * multi-word-expression signal (vocabulary building, tokenizer-merge
    * candidates, "new york"-style units) ranked by an INTEGER-BITS
    * pointwise mutual information. For each adjacent bigram (w1, w2):
    * `a = n·n_xy`, `b = n_x·n_y` (n = total bigrams, n_x/n_y = left /
    * right marginals), and
    * `pmi_bits = +(floor(log2(a div b)) + 1)` when a ≥ b,
    * `−(floor(log2(b div a)) + 1)` otherwise — the `length(bin(·))`
    * trick (tokeninfo's rule): pure integer arithmetic, no libm log
    * whose final ulps differ across engines, monotone in the PMI ratio.
    * Positive bits ⇒ the pair co-occurs more than independence
    * predicts (a collocation); deeply negative ⇒ anti-associated.
    * Envelope: exact while `n·n_xy` fits a long (n < 2^63/max-count —
    * re-scope per shard past that).
    *
    * Options: `field` (default text), `lowercase` (default true),
    * `minCount` (default 5 — rare-bigram noise floor), `window`
    * (default 1 = adjacent bigrams; 2–8 adds SKIP-GRAM pairs at every
    * offset ≤ window — the word2vec-style co-occurrence context, each
    * offset one more zip stream concatenated per row, output schema
    * unchanged), `maxPairs` (optional, default off — loud IN-PLAN guard
    * on the total pair volume, raised at the action; rides the
    * already-computed grand total so it costs nothing when compliant).
    * Output: one row per surviving pair (`w1`, `w2`,
    * `n_xy`, `n_x`, `n_y`, `pmi_bits`) — a QUERY stage (replaces the
    * stream, like tfidf's corpus view).
    *
    * Scale shape: pairs via `window` per-row zip_withs + ONE explode →
    * ONE corpus hash aggregation to pair counts; marginals RE-AGGREGATE
    * the pair table (vocabulary-sized, never corpus rows again) and
    * join back vocabulary-keyed; the grand total broadcasts as one
    * row. */
  def collocations(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f0 = col(spec.strOr("field", "text"))
      val f = if (spec.bool("lowercase", dflt = true)) lower(f0) else f0
      val minCount = spec.long("minCount").getOrElse(5L)
      require(minCount >= 1, s"collocations: minCount must be >= 1, got $minCount")
      val window = spec.int("window", 1)
      require(window >= 1 && window <= 8,
        s"collocations: window must be in [1,8], got $window — each " +
        "offset adds one full pair stream (token volume × window)")
      val tarr = filter(tokens(f), t => t =!= "")
      def pairsAt(s: Int) = {
        val w = greatest(size(tarr) - s, lit(0))
        zip_with(slice(tarr, lit(1), w), slice(tarr, lit(1 + s), w),
          (a, b) => struct(a.as("w1"), b.as("w2")))
      }
      val bgs =
        if (window == 1) pairsAt(1)
        else concat((1 to window).map(pairsAt): _*)
      // spread before the window× token explode: a one-file corpus scan
      // is ONE task, and the tokenize+explode is the stage's whole cost
      // (1.1 s single-task at sf0.1) — the same guard the ANN stages use
      // before their quadratic expansions; a no-op when the input is
      // already as parallel as the cluster (r19, guide §2.5)
      val stream = graft.similarity.SimilarityStages.spread(df)
        .select(explode(bgs).as("__bg"))
        .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      val maxPairs = spec.long("maxPairs").filter(_ > 0)
      // the pair-count frame feeds FOUR consumers (main join, both
      // marginals, the grand total) — and exchange reuse cannot dedupe
      // them because each `pairsAt` instantiation mints fresh lambda
      // variables, so the four subtrees never canonicalize equal: the
      // corpus was exploded and pair-aggregated FOUR times (measured 4 ×
      // 3.6 task-s single-task stages at sf0.1). Checkpoint the
      // aggregate once (row blocks, the freqpairs recipe — r19
      // optimization round, guide §2.4); every marginal is then a pass
      // over pair counts, never the corpus.
      val cntBg = Stages.checkpointerOf(spec, ctx)(
        stream.groupBy("w1", "w2").agg(count(lit(1)).as("n_xy")))
      val cntL = cntBg.groupBy(col("w1").as("__l")).agg(sum("n_xy").as("n_x"))
      val cntR = cntBg.groupBy(col("w2").as("__r")).agg(sum("n_xy").as("n_y"))
      val tot = cntBg.agg(sum("n_xy").as("__n"))
      cntBg
        .join(cntL, col("w1") === col("__l")).drop("__l")
        .join(cntR, col("w2") === col("__r")).drop("__r")
        .crossJoin(broadcast(tot))
        // optional pair-volume contract enforced IN-PLAN (the
        // calibration raise_error pattern — the grand total `__n` is
        // already computed and broadcast, so the guard costs nothing;
        // the r18 first cut was an eager limit-probe that re-exploded
        // the whole corpus once extra on every compliant run). Loud
        // fail at the action, never a silent cap.
        .where(maxPairs.fold(lit(true)) { mp =>
          coalesce(
            when(col("__n") > mp, raise_error(concat(
              lit("collocations: "), col("__n").cast("string"),
              lit(s" token pairs exceed maxPairs=$mp — window=$window " +
                "multiplies the corpus token volume; lower `window`, " +
                "pre-filter/sample the corpus upstream, or raise " +
                "maxPairs if the cost is intended")))),
            lit(true))
        })
        .where(col("n_xy") >= minCount)
        .withColumn("__a", col("__n") * col("n_xy"))
        .withColumn("__b", col("n_x") * col("n_y"))
        .withColumn("pmi_bits", when(col("__a") >= col("__b"),
            length(bin(expr("__a div __b"))).cast("long"))
          .otherwise(-length(bin(expr("__b div __a"))).cast("long")))
        .drop("__n", "__a", "__b")
    }

  /** `bm25`: Okapi BM25 relevance search — score every document against
    * a literal query string and keep the top `k` (score desc, id asc —
    * fully deterministic). The retrieval-side companion to [[tfidf]]'s
    * per-document characteristic terms.
    *
    * Options: `query` (required), `idField`/`field`/`k` (default 10),
    * `k1` (default 1.2), `b` (default 0.75), `lowercase` (default true),
    * `idfMode` ∈ `ln` (default — the standard
    * `ln(1 + (N-df+0.5)/(df+0.5))`) or `linear` (the same ratio without
    * the log: rank-equivalent for single-term queries and exactly
    * reproducible by any engine — `ln` differs in final ulps across
    * libms, the same reason tfidf uses a linear idf). Output: (id,
    * score, rank), docs matching no query term absent.
    *
    * Determinism contract: per-term contributions are summed in SORTED
    * TERM ORDER via a fixed left-associative fold (float addition is not
    * associative; an agg-order sum would be run-dependent in the last
    * ulp). All other arithmetic is one fixed dag of IEEE ops, so
    * `linear` scores hash-match an oracle that writes the same formula.
    *
    * Scale shape: the explode is filtered to the query's literal terms
    * before the aggregation (a handful of rows per doc, map-side
    * combined); per-term df is a tiny broadcast; doc length rides the
    * explode (no second join against the corpus); the final top-k is
    * `orderBy.limit` = TakeOrdered (per-partition heaps + driver merge
    * of k), never a single-partition global sort. */
  def bm25(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      import org.apache.spark.sql.expressions.Window
      val id = spec.strOr("idField", "doc_id")
      val f0 = col(spec.strOr("field", "text"))
      val lowercase = spec.bool("lowercase", dflt = true)
      val f = if (lowercase) lower(f0) else f0
      val queryStr = spec.str("query").getOrElse(sys.error("bm25: query required"))
      val qTerms = {
        val raw = queryStr.trim.split("\\s+").filter(_.nonEmpty)
        // Locale.ROOT: Spark's lower() is locale-independent — a default
        // Turkish locale would dot-map 'I' and the terms would never match
        (if (lowercase) raw.map(_.toLowerCase(java.util.Locale.ROOT)) else raw)
          .distinct.sorted.toSeq
      }
      require(qTerms.nonEmpty, "bm25: query produced no terms")
      val k = spec.int("k", 10)
      val k1 = lit(spec.strOr("k1", "1.2").toDouble)
      val b = lit(spec.strOr("b", "0.75").toDouble)
      val idfMode = spec.strOr("idfMode", "ln")

      val base = df.select(col(id).as("__id"), tokens(f).as("__toks"))
        .withColumn("__dl", size(col("__toks")).cast("double"))
      // corpus stats: doc-length sums are integer-valued doubles < 2^53,
      // so the sum is exact and order-independent
      val corpus = base.agg(count(lit(1)).cast("double").as("__n"),
        (sum("__dl") / count(lit(1))).as("__avgdl"))
      val tf = base
        .select(col("__id"), col("__dl"), explode(col("__toks")).as("term"))
        .where(col("term").isin(qTerms: _*))
        .groupBy("__id", "term")
        .agg(count(lit(1)).cast("double").as("tf"), first("__dl").as("dl"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("__df"))
      val ratio = ((col("__n") - col("__df")) + lit(0.5)) / (col("__df") + lit(0.5))
      val idf = idfMode match {
        case "linear" => ratio
        case "ln" => log(lit(1.0) + ratio)
        case other => sys.error(s"bm25: unknown idfMode '$other' (ln|linear)")
      }
      val contrib = idf * ((col("tf") * (k1 + lit(1.0))) /
        (col("tf") + k1 * ((lit(1.0) - b) + b * (col("dl") / col("__avgdl")))))
      val scored = tf.join(broadcast(dfreq), "term").crossJoin(corpus)
        .select(col("__id"), col("term"), contrib.as("__c"))
      // fixed-order fold over the sorted query terms — NOT an agg sum
      val pivoted = scored.groupBy("__id")
        .agg(max(when(col("term") === qTerms.head, col("__c"))).as(s"__c_0"),
          qTerms.tail.zipWithIndex.map { case (t, i) =>
            max(when(col("term") === t, col("__c"))).as(s"__c_${i + 1}")
          }: _*)
      val score = qTerms.indices
        .map(i => coalesce(col(s"__c_$i"), lit(0.0)))
        .reduceLeft(_ + _)
      val topk = pivoted.select(col("__id"), score.as("score"))
        .orderBy(col("score").desc, col("__id").asc).limit(k)
      topk.withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("__id").asc)).cast("long"))
        .select(col("__id").as(id), col("score"), col("rank"))
    }

  /** `corpusstats`: one-row corpus summary of a NUMERIC column —
    * count / sum / min / max / mean plus discrete quantiles
    * (`percentile_disc`: picks actual elements, so results are
    * hash-exact against any engine's SQL-standard `quantile_disc`;
    * interpolating quantiles are float-order-sensitive). Options:
    * `field` (required, numeric — chain `tokenize` first for token
    * counts), `quantiles` (default [0.25, 0.5, 0.75, 0.95]),
    * `approximate` (default false) + `accuracy` (default 10000).
    * ONE aggregation. Scale note: the exact quantile aggregate buffers
    * a count per DISTINCT value — bounded for integral stats like
    * token counts, unbounded for high-cardinality fractional fields;
    * `approximate: true` switches to `approx_percentile` (KLL-style
    * constant-memory sketch, rank error 1/accuracy) for those. */
  def corpusstats(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fName = spec.str("field").getOrElse(sys.error("corpusstats: field required"))
      val f = col(fName)
      val qs = spec.strList("quantiles") match {
        case Nil => Seq("0.25", "0.5", "0.75", "0.95")
        case l => l
      }
      // integral fields report longs (hash-exact vs BIGINT oracles);
      // fractional fields keep double math end-to-end — a blanket long
      // cast would TRUNCATE every value before the sum (CLAUDE.md rule)
      val integral = {
        import org.apache.spark.sql.types._
        df.schema(fName).dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
      }
      val statType = if (integral) "long" else "double"
      val approx = spec.bool("approximate", dflt = false)
      val accuracy = spec.int("accuracy", 10000)
      val qCols = qs.map { q =>
        val pct = q.toDouble * 100
        val label = "p" + (if (pct == math.floor(pct)) pct.toLong.toString
          else pct.toString.replace('.', '_'))
        val agg =
          if (approx) approx_percentile(f, lit(q.toDouble), lit(accuracy))
          else expr(s"percentile_disc(${q.toDouble}) WITHIN GROUP (ORDER BY `$fName`)")
        agg.cast(statType).as(label)
      }
      df.agg(
        count(lit(1)).as("n_rows"),
        (Seq(sum(f.cast(statType)).as("total"),
          min(f.cast(statType)).as("minv"),
          max(f.cast(statType)).as("maxv"),
          (sum(f.cast(statType)).cast("double") /
            count(lit(1)).cast("double")).as("mean")) ++ qCols): _*)
    }

  /** `distinctcount`: distinct-value counts of one or more columns —
    * corpus cardinality measurement (unique domains, languages, content
    * hashes). `mode` ∈ `exact` (default: one hash aggregation per the
    * grouped-distinct rewrite — shuffles the distinct values once) |
    * `approx` (HyperLogLog++ via `approx_count_distinct`, `rsd` default
    * 0.05): the 100 TB path — the sketch partial-aggregates map-side to
    * a CONSTANT-size buffer per column, so the exchange carries sketches
    * instead of the distinct-value stream (a trillion-row exact distinct
    * shuffles every unique value; the HLL shuffles ~kilobytes per task).
    * Output: one row, one `<col>_distinct` column per input. */
  def distinctCount(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val fields = spec.strList("fields") match {
        case Nil => spec.str("field").toSeq
        case l => l
      }
      require(fields.nonEmpty, "distinctcount: field or fields required")
      val aggs = spec.strOr("mode", "exact") match {
        case "exact" =>
          fields.map(f => count_distinct(col(f)).as(s"${f}_distinct"))
        case "approx" =>
          val rsd = spec.str("rsd").map(_.toDouble).getOrElse(0.05)
          fields.map(f => approx_count_distinct(col(f), rsd).as(s"${f}_distinct"))
        case other => sys.error(s"distinctcount: unknown mode $other")
      }
      df.agg(aggs.head, aggs.tail: _*)
    }

  /** `fingerprint`: document fingerprints over the normalized text
    * (lowercased, whitespace collapsed): `fp_md5` (content hash, oracle-
    * checkable) and `fp_xx` (xxhash64 — the cheap 64-bit rolling-hash
    * analogue used for grouping at scale). */
  def fingerprint(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = col(spec.strOr("field", "text"))
      val norm = regexp_replace(lower(f), "\\s+", " ")
      df.withColumn("fp_md5", md5(norm.cast("binary")))
        .withColumn("fp_xx", xxhash64(norm))
    }
}
