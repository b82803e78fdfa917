package graft.text

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import graft.stages.Stages
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-corpus curation stages: URL decomposition and per-domain quotas —
  * the CommonCrawl-style pipeline steps between raw fetch and text
  * cleaning. The reference has no analogue (its `field` transformer +
  * OrientDB SQL would do this per record); these are pure-projection /
  * single-shuffle batch operators.
  */
object WebStages {

  // Engine-portable URL parts via anchored regexes (identical semantics
  // when run as regexp_extract in DuckDB with a coalesce('') wrapper —
  // Spark returns '' on no match). Deliberately NOT java.net.URI: a
  // per-row exception-driven parser is slower and rejects the malformed
  // URLs a web corpus is full of; a non-matching row yields ''.
  private val SchemeRe = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
  private val HostRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
  private val PathRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)"
  private val QueryRe = "\\?([^#]*)"

  /** Trimmed snapshot of the multi-label entries of the public suffix
    * list (publicsuffix.org — public data; the common ccTLD second-level
    * registries). A host whose last TWO labels are one of these takes
    * three labels as its registrable domain (`news.bbc.co.uk` →
    * `bbc.co.uk`), everything else takes two. Rare 3-label suffixes
    * (`*.k12.ca.us` style) are out of snapshot scope — documented
    * deviation; a full-list refresh slots into this set without code
    * changes. */
  private[graft] val MultiLabelSuffixes: Seq[String] = Seq(
    // UK / Ireland
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "sch.uk", "me.uk",
    "ltd.uk", "plc.uk", "nhs.uk",
    // Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    // Japan / Korea / China / Taiwan / Hong Kong / Singapore
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp", "gr.jp",
    "co.kr", "ne.kr", "or.kr", "re.kr", "go.kr", "ac.kr",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
    // India / Southeast Asia
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in", "ac.in",
    "edu.in", "gov.in", "res.in", "nic.in",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "co.id", "or.id", "ac.id", "go.id", "web.id", "sch.id",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph",
    "co.th", "in.th", "ac.th", "go.th", "or.th",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn",
    // Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
    "com.co", "net.co", "org.co", "gov.co", "edu.co",
    "com.pe", "net.pe", "org.pe", "gob.pe", "edu.pe",
    "com.ve", "net.ve", "org.ve", "gob.ve",
    "com.cl", "gob.cl", "gov.cl",
    "com.ec", "com.uy", "com.bo", "com.py", "com.gt", "com.do",
    // Europe / Middle East / Africa
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "web.tr",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "com.ru", "net.ru", "org.ru", "msk.ru", "spb.ru",
    "com.ua", "net.ua", "org.ua", "gov.ua", "edu.ua", "kiev.ua",
    "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
    "com.pt", "net.pt", "org.pt", "edu.pt", "gov.pt",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "co.il", "net.il", "org.il", "ac.il", "gov.il", "muni.il",
    "com.sa", "net.sa", "org.sa", "gov.sa", "edu.sa", "med.sa",
    "com.eg", "net.eg", "org.eg", "gov.eg", "edu.eg",
    "co.za", "net.za", "org.za", "gov.za", "edu.za", "web.za", "ac.za",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke",
    "com.ng", "net.ng", "org.ng", "gov.ng", "edu.ng")

  private[graft] def urlPart(url: Column, part: String): Column = part match {
    case "scheme" => regexp_extract(url, SchemeRe, 1)
    case "host" => regexp_extract(url, HostRe, 1)
    // registrable domain: one label + the public suffix. The suffix is
    // the last label, or the last TWO labels when they form one of the
    // embedded multi-label registry suffixes (`bbc.co.uk` → `bbc.co.uk`,
    // not `co.uk`). Pure per-row projection; the suffix membership test
    // is a codegen'd IN over string literals. Hosts with no dot (or a
    // bare public suffix with no registrable label) yield ''.
    case "domain" =>
      // DNS names are case-insensitive: canonicalize to lowercase so
      // suffix matching works and quota grouping doesn't split
      // 'Example.CO.UK' from 'example.co.uk'
      val labels = split(lower(urlPart(url, "host")), "\\.")
      val n = size(labels)
      val last2 = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
      when(n < lit(2), lit(""))
        .when(last2.isInCollection(MultiLabelSuffixes),
          when(n >= lit(3),
            concat_ws(".", element_at(labels, -3), last2)).otherwise(lit("")))
        .otherwise(last2)
    case "path" => regexp_extract(url, PathRe, 1)
    case "query" => regexp_extract(url, QueryRe, 1)
    case other => sys.error(s"urlparse: unknown part '$other' " +
      "(scheme|host|domain|path|query)")
  }

  /** Query parameters that identify CLICKS, not CONTENT — the public
    * tracking-parameter families (Google/Facebook/Microsoft click ids,
    * Mailchimp, Instagram, Yandex); `utm_*` matches by prefix. */
  private[graft] val TrackingParams: Seq[String] = Seq(
    "gclid", "fbclid", "msclkid", "mc_cid", "mc_eid", "igshid",
    "ref_src", "yclid", "dclid", "wbraid", "gbraid")

  /** `urlnormalize`: canonicalize a URL for dedup / quota grouping —
    * the same page fetched as `HTTP://Example.com:80/a?utm_source=x&b=1`
    * and `http://example.com/a?b=1` must group together. Normalizations
    * (each a pure codegen'd projection, no shuffle):
    *  - fragment stripped (`#…` — never sent to the server);
    *  - scheme and authority lowercased (DNS is case-insensitive;
    *    userinfo-bearing URLs are lowercased with the authority —
    *    documented simplification);
    *  - default ports stripped (`:80` for http, `:443` for https);
    *  - tracking query parameters dropped ([[TrackingParams]] + the
    *    `utm_*` prefix family), remaining parameters SORTED and
    *    re-joined (parameter order is almost never semantic; sorting
    *    makes equal parameter sets compare equal);
    *  - a row with no `scheme://` passes through UNCHANGED (a web
    *    corpus is full of malformed URLs; don't half-normalize them).
    * Options: `field` (default url), `out` (default url_norm). */
  def urlnormalize(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "url")
      val out = spec.strOr("out", "url_norm")
      require(df.columns.contains(f), s"urlnormalize: no column '$f'")
      val u = col(f)
      val noFrag = regexp_replace(u, "#.*$", "")
      val scheme = lower(regexp_extract(noFrag, SchemeRe, 1))
      val auth = lower(regexp_extract(noFrag,
        "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
      val tail = regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
      val authP = when(scheme === "http", regexp_replace(auth, ":80$", ""))
        .when(scheme === "https", regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
      val path = regexp_extract(tail, "^([^?#]*)", 1)
      val q = regexp_extract(tail, "\\?([^#]*)", 1)
      val kept = filter(split(q, "&"), p => {
        val name = lower(element_at(split(p, "="), 1))
        !(name.startsWith("utm_") || name.isInCollection(TrackingParams) ||
          p === lit(""))
      })
      val newq = array_join(array_sort(kept), "&")
      val norm = concat(scheme, lit("://"), authP, path,
        when(newq === "", lit("")).otherwise(concat(lit("?"), newq)))
      df.withColumn(out, when(scheme === "", u).otherwise(norm))
    }

  /** `htmlextract`: HTML-to-text extraction — the markup-removal front
    * of a web-crawl pipeline (the step between a fetched/WARC payload
    * and every downstream text stage). One single-pass state-machine
    * parse per row ([[graft.functions.Html]]): script/style/comment
    * removal, quoted-attribute-aware tag stripping, one-pass character
    * entity decoding (named + numeric), whitespace collapse; body-only
    * when a `<body>` tag exists. The reference has no HTML surface —
    * its `http` source hands raw payloads to downstream transformers
    * (OETLProcessor.java:486-514 pipeline, source/OETLHttpSource.java);
    * this is the Spark-first extension that makes those payloads
    * usable as training text.
    *
    * Options: `field` (default "html"), `outputField` (default
    * "html_text"), `titleField` (optional — first `<title>` content,
    * null when absent), `linksField` (optional — `<a href>` values in
    * document order, entity-decoded, as array<string>; serialize before
    * handing to drivers that can't sort list cells).
    *
    * Scale posture: pure per-row projection through one codegen'd
    * native expression per requested output — fuses into the scan's
    * whole-stage-codegen pass, zero shuffle, no UDF boxing. */
  def htmlextract(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "html")
      require(df.columns.contains(f), s"htmlextract: no column '$f'")
      val h = col(f).cast("string")
      val base = df.withColumn(spec.strOr("outputField", "html_text"),
        graft.functions.VectorExpressions.htmlText(h))
      val withTitle = spec.str("titleField") match {
        case Some(t) => base.withColumn(t,
          graft.functions.VectorExpressions.htmlTitle(h))
        case None => base
      }
      spec.str("linksField") match {
        case Some(l) => withTitle.withColumn(l,
          graft.functions.VectorExpressions.htmlLinks(h))
        case None => withTitle
      }
    }

  /** `htmlmarkdown`: HTML → Markdown conversion of an HTML column —
    * the curation format most LLM-data pipelines prefer over flat text
    * (headings/lists/emphasis/links survive as structure while markup
    * noise goes; see [[graft.functions.Html.markdown]] for the
    * documented CommonMark subset and its best-effort edges). Same
    * codegen'd single-pass walk as htmlextract — one projection per
    * row, no shuffle, no UDF.
    * Options: `field` (default html), `outputField` (default
    * markdown), `keepHtml` (default false). */
  def htmlmarkdown(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "html")
      require(df.columns.contains(f), s"htmlmarkdown: no column '$f'")
      val outF = spec.strOr("outputField", "markdown")
      require(!df.columns.contains(outF),
        s"htmlmarkdown: output column '$outF' exists — rename upstream")
      val out = df.withColumn(outF,
        call_function("graft_html_markdown", col(f).cast("string")))
      if (spec.bool("keepHtml", dflt = false)) out else out.drop(f)
    }

  /** `latexstrip`: LaTeX source → visible text — the paper-corpus
    * cleanup step (arXiv-family pipelines strip TeX before quality
    * filtering/dedup). One codegen'd single-pass projection per row
    * ([[graft.functions.Latex.strip]] documents the subset: comments,
    * math, float/verbatim environments and reference commands drop;
    * styling/sectioning commands keep their text; escaped specials
    * restore; whitespace collapses). Options: `field` (default tex),
    * `outputField` (default text), `keepSource` (default false). */
  def latexstrip(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "tex")
      require(df.columns.contains(f), s"latexstrip: no column '$f'")
      val outF = spec.strOr("outputField", "text")
      if (outF != f) require(!df.columns.contains(outF),
        s"latexstrip: output column '$outF' exists — rename upstream")
      val out = df.withColumn(outF,
        call_function("graft_latex_strip", col(f).cast("string")))
      if (spec.bool("keepSource", dflt = false) || outF == f) out
      else out.drop(f)
    }

  /** `markdownstrip`: Markdown source → plain text — the inverse of
    * `htmlmarkdown` for corpora that arrive AS Markdown (READMEs,
    * docs, forum dumps). One codegen'd single-pass projection per row
    * ([[graft.functions.Markdown.strip]] documents the CommonMark-lite
    * subset: fences/headings/quotes/list markers/tables/link targets
    * drop, prose and code content stay, intraword underscores are
    * literal, whitespace collapses). Options: `field` (default md),
    * `outputField` (default text), `keepSource` (default false). */
  def markdownstrip(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "md")
      require(df.columns.contains(f), s"markdownstrip: no column '$f'")
      val outF = spec.strOr("outputField", "text")
      if (outF != f) require(!df.columns.contains(outF),
        s"markdownstrip: output column '$outF' exists — rename upstream")
      val out = df.withColumn(outF,
        call_function("graft_markdown_strip", col(f).cast("string")))
      if (spec.bool("keepSource", dflt = false) || outF == f) out
      else out.drop(f)
    }

  /** `decodetext`: charset-detect + transcode a BINARY payload column
    * to text — the step between byte-level extractors (WARC/zip/tar)
    * and the text stages; `cast(body AS STRING)` silently mangles
    * anything that is not already valid UTF-8.
    * ([[graft.functions.CharsetDecode]] documents the deterministic
    * detection: BOM sniff → strict UTF-8 validation → windows-1252
    * legacy fallback that never fails.) One codegen'd projection, no
    * UDF, no shuffle. Options: `field` (default body),
    * `outputField` (default text), `charsetField` (default charset),
    * `keepBinary` (default false). */
  def decodetext(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "body")
      require(df.columns.contains(f), s"decodetext: no column '$f'")
      val outF = spec.strOr("outputField", "text")
      val csF = spec.strOr("charsetField", "charset")
      require(outF != csF,
        s"decodetext: outputField and charsetField are both '$outF' — they must differ")
      require(outF != f && csF != f,
        s"decodetext: output field '$f' shadows the input binary column — rename one")
      Seq(outF, csF).foreach(c => require(!df.columns.contains(c),
        s"decodetext: output column '$c' exists — rename upstream"))
      val out = df
        .withColumn("__dt", call_function("graft_decode_text", col(f)))
        .withColumn(csF, col("__dt.charset"))
        .withColumn(outF, col("__dt.text"))
        .drop("__dt")
      if (spec.bool("keepBinary", dflt = false)) out else out.drop(f)
    }

  /** `htmllinks`: the labeled out-link EDGE LIST of an HTML column —
    * one output row per `<a href=…>` element with its entity-decoded
    * `href` and whitespace-collapsed anchor text, in document order
    * with a 0-based `linkPos`. This is the step that turns a crawl into
    * a LINK GRAPH: feed (page id → href) into the `edge`/graph stages
    * (PageRank over the crawl, anchor-text aggregation per target — the
    * classic web-corpus signals). Same single-pass parser as
    * htmlextract ([[graft.functions.Html]]); an `<a>` without href
    * emits nothing (its text still belongs to the page text).
    *
    * Options: `field` (default "html"), `hrefField` (default "href"),
    * `anchorField` (default "anchor"), `posField` (default "linkPos"),
    * `keepHtml` (default false — the exploded frame usually feeds a
    * graph build, not another HTML pass), `emptyPages` (default
    * "drop"; "keep" emits one row with null href/anchor/pos so pages
    * without links survive a census).
    *
    * Scale posture: one codegen'd native expression + posexplode — a
    * per-row flatMap that fuses into the scan; zero shuffle, link rows
    * never hold the page bytes unless `keepHtml`. */
  def htmllinks(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "html")
      require(df.columns.contains(f), s"htmllinks: no column '$f'")
      val hrefF = spec.strOr("hrefField", "href")
      val anchorF = spec.strOr("anchorField", "anchor")
      val posF = spec.strOr("posField", "linkPos")
      val keep = spec.bool("keepHtml", dflt = false)
      val keepEmpty = spec.strOr("emptyPages", "drop").toLowerCase match {
        case "drop" => false
        case "keep" => true
        case other => sys.error(s"htmllinks: emptyPages must be drop|keep, got $other")
      }
      val pairs = graft.functions.VectorExpressions
        .htmlLinkPairs(col(f).cast("string"))
      val carried = df.columns.filterNot(c => !keep && c == f).toSeq
      val exploded = df.select(
        (carried.map(col) :+ posexplode_outer(pairs).as(Seq("__lp", "__pair"))): _*)
      val out = exploded
        .withColumn(hrefF, col("__pair.href"))
        .withColumn(anchorF, col("__pair.anchor"))
        .withColumn(posF, col("__lp").cast("long"))
        .drop("__lp", "__pair")
      if (keepEmpty) out else out.where(col(hrefF).isNotNull)
    }

  /** `htmlmeta`: typed columns from `<meta>` tags and the canonical
    * link — the page-metadata side of web curation (description and
    * og:* drive snippet/title quality signals; `canonical` is the
    * dedup key crawlers trust over the fetch URL; `robots` carries
    * noindex). One column per requested key, holding the FIRST
    * occurrence's entity-decoded content (meta name/property/
    * http-equiv, lowercased; "canonical" = the `<link rel=canonical>`
    * href); null when the page lacks it. Raw-text elements are skipped
    * whole, so meta-looking strings inside scripts never leak.
    *
    * Options: `field` (default html), `keys` (required — e.g.
    * ["description", "og:title", "canonical", "robots"]); output
    * column names are the keys with non-alphanumerics folded to '_'
    * (`og:title` → `og_title`). `keepHtml` (default false).
    *
    * Scale shape: ONE codegen'd single-pass parse per row feeding pure
    * array projections — no shuffle, no explode. */
  def htmlmeta(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "html")
      require(df.columns.contains(f), s"htmlmeta: no column '$f'")
      val keys = spec.strList("keys").map(_.toLowerCase(java.util.Locale.ROOT))
      require(keys.nonEmpty, "htmlmeta: `keys` required (e.g. " +
        """["description", "og:title", "canonical"])""")
      def colName(k: String) = k.map(c => if (c.isLetterOrDigit) c else '_')
      // two requested keys folding to one column (og:title vs og_title)
      // would silently overwrite the earlier extraction — fail loud
      locally {
        val collided = keys.groupBy(colName).filter(_._2.distinct.size > 1)
        require(collided.isEmpty,
          s"htmlmeta: keys collide after name folding — " +
          collided.map { case (c, ks) =>
            ks.distinct.mkString("'", "', '", s"' -> column '$c'") }
            .mkString("; ") + "; rename or drop one of each pair")
      }
      keys.foreach(k => require(!df.columns.contains(colName(k)),
        s"htmlmeta: output column '${colName(k)}' exists — rename upstream"))
      val withPairs = df.withColumn("__mp",
        call_function("graft_html_meta", col(f).cast("string")))
      val out = keys.foldLeft(withPairs) { (d, k) =>
        // first occurrence wins (the HTML precedence rule); try_ form —
        // ANSI element_at throws on the empty no-such-meta array
        d.withColumn(colName(k),
          try_element_at(filter(col("__mp"), p => p.getField("key") === lit(k)),
            lit(1)).getField("content"))
      }.drop("__mp")
      if (spec.bool("keepHtml", dflt = false)) out else out.drop(f)
    }

  /** `htmltables`: explode every TOP-LEVEL `<table>` row of an HTML
    * column into (tableField, rowField, cellsField) — the structured
    * side-channel of web curation (tables carry the densest factual
    * content a text extractor flattens into mush). Cells are
    * entity-decoded and whitespace-collapsed by the same one-pass
    * codegen'd walk as the other `graft_html_*` expressions; implicit
    * `<td>`/`<tr>` closes honored; nested tables flow into their
    * containing cell (documented depth-1 subset). Pages without tables
    * drop (or keep with nulls via `emptyPages: keep`). One projection +
    * one posexplode — no shuffle; at crawl scale rows fan out
    * proportionally to actual table content.
    * Options: `field` (default html), `tableField`/`rowField`/
    * `cellsField` (defaults table_idx/row_idx/cells), `keepHtml`
    * (default false), `emptyPages` drop|keep. */
  def htmltables(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "html")
      require(df.columns.contains(f), s"htmltables: no column '$f'")
      val tF = spec.strOr("tableField", "table_idx")
      val rF = spec.strOr("rowField", "row_idx")
      val cF = spec.strOr("cellsField", "cells")
      val keep = spec.bool("keepHtml", dflt = false)
      val keepEmpty = spec.strOr("emptyPages", "drop").toLowerCase match {
        case "drop" => false
        case "keep" => true
        case other => sys.error(s"htmltables: emptyPages must be drop|keep, got $other")
      }
      val rows = graft.functions.VectorExpressions.htmlTables(col(f).cast("string"))
      val carried = df.columns.filterNot(c => !keep && c == f).toSeq
      val exploded = df.select(
        (carried.map(col) :+ explode_outer(rows).as("__trow")): _*)
      val out = exploded
        .withColumn(tF, col("__trow.table_idx"))
        .withColumn(rF, col("__trow.row_idx"))
        .withColumn(cF, col("__trow.cells"))
        .drop("__trow")
      if (keepEmpty) out else out.where(col(tF).isNotNull)
    }

  /** `urlparse`: decompose a URL column into `<prefix><part>` columns.
    * Options: `field` (default url), `parts` (default [host, domain,
    * path]), `prefix` (default `url_`). Pure per-row regex projection —
    * fuses into the scan, no shuffle, codegen'd. */
  /** `urlresolve`: RFC 3986 relative-reference resolution — the step
    * between `htmllinks` (whose hrefs come out of pages RELATIVE) and
    * everything downstream that wants absolute URLs (urlnormalize,
    * urlfilter, the crawl frontier). Handles the reference classes:
    * absolute (`scheme:` — passes through), protocol-relative (`//h/p`
    * — takes the base scheme), root-relative (`/p`), and path-relative
    * (`p`, `./p`, `../p` — resolved against the base DIRECTORY with
    * dot-segment removal; `..` past the root clamps at root, RFC
    * 5.2.4's loud edge). Simplifications (documented): duplicate
    * slashes collapse and a trailing slash is not preserved
    * (urlnormalize-compatible), and `?`/`#` are treated as ordinary
    * path characters during segment removal (strip queries downstream
    * if unwanted). NULL base or ref → null output; an EMPTY ref → the
    * base itself.
    *
    * Options: `baseField` (default base_url), `refField` (default
    * href), `outputField` (default resolved_url).
    *
    * Scale shape: a pure per-row projection — regex extracts + ONE
    * bounded segment fold (paths are dozens of segments; the
    * per-element array append is quadratic ONLY in that tiny bound). */
  def urlresolve(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val baseF = spec.strOr("baseField", "base_url")
      val refF = spec.strOr("refField", "href")
      val out = spec.strOr("outputField", "resolved_url")
      Seq(baseF, refF).foreach(c =>
        require(df.columns.contains(c), s"urlresolve: no column '$c'"))
      require(!df.columns.contains(out),
        s"urlresolve: output column '$out' exists — set outputField")
      val base = col(baseF).cast("string")
      val ref = col(refF).cast("string")
      val scheme = regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
      val origin = regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
      val basePath0 =
        regexp_extract(base, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
      val basePath = when(basePath0 === "", lit("/")).otherwise(basePath0)
      val baseDir = when(regexp_extract(basePath, "^(.*/)", 1) === "", lit("/"))
        .otherwise(regexp_extract(basePath, "^(.*/)", 1))
      def removeDots(p: Column): Column = {
        val folded = aggregate(split(p, "/"),
          array().cast("array<string>"),
          (acc, x) => when(x === "." || x === "", acc)
            .when(x === "..",
              when(size(acc) > 0, slice(acc, lit(1), size(acc) - 1))
                .otherwise(acc))
            .otherwise(concat(acc, array(x))))
        concat(lit("/"), array_join(folded, "/"))
      }
      df.withColumn(out,
        when(base.isNull || ref.isNull, lit(null).cast("string"))
          .when(ref.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"), ref)
          .when(ref.startsWith("//"), concat(scheme, lit(":"), ref))
          .when(ref.startsWith("/"), concat(origin, removeDots(ref)))
          .when(ref === "", base)
          .otherwise(concat(origin, removeDots(concat(baseDir, ref)))))
    }

  def urlparse(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val field = spec.strOr("field", "url")
      val prefix = spec.strOr("prefix", "url_")
      val parts = spec.strList("parts") match {
        case Nil => Seq("host", "domain", "path")
        case ps => ps
      }
      parts.foldLeft(df) { (d, p) =>
        d.withColumn(prefix + p, urlPart(col(field), p))
      }
    }

  /** `urlfilter`: blocklist curation over a URL column — the crawl
    * hygiene cut (spam/adult/malware domain lists, path patterns).
    * Options: `field` (default "url"), `blockDomains` (exact host or
    * any-subdomain match: `bad.com` blocks `bad.com` AND `x.bad.com`),
    * `blockPatterns` (Java∩RE2 regexes tested against the FULL url),
    * `action` (default "flag" → boolean `url_keep`; "filter" drops
    * blocked rows). Scale: the domain list ships in the plan as a
    * literal array (curation lists are 10^4-10^6 — at the upper end
    * migrate to `decontaminate`'s broadcast-join/Bloom path; this stage
    * refuses >100k entries and names that migration). Per-row
    * projection, no shuffle. */
  def urlfilter(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "url")
      require(df.columns.contains(f), s"urlfilter: no column '$f'")
      val domains = spec.strList("blockDomains").map(_.toLowerCase)
      val patterns = spec.strList("blockPatterns")
      require(domains.nonEmpty || patterns.nonEmpty,
        "urlfilter: need blockDomains and/or blockPatterns")
      require(domains.size <= 100000,
        "urlfilter: blockDomains over 100k entries — use the decontaminate " +
        "stage's broadcast-join/Bloom path for list-scale blocking")
      val u = col(f).cast("string")
      val host = lower(urlPart(u, "host"))
      val domainHit =
        if (domains.isEmpty) lit(false)
        else host.isInCollection(domains) ||
          domains.map(d => host.endsWith("." + d)).reduce(_ || _)
      val patternHit =
        if (patterns.isEmpty) lit(false)
        else patterns.map(p => u.rlike(p)).reduce(_ || _)
      val keep = !(domainHit || patternHit) || u.isNull
      spec.strOr("action", "flag").toLowerCase match {
        case "filter" => df.filter(keep)
        case "flag" => df.withColumn("url_keep", keep)
        case other => sys.error(s"urlfilter: action must be flag|filter, got $other")
      }
    }

  /** `robotsfilter`: RFC 9309 robots.txt verdicts — the third leg of
    * crawl hygiene (with urlnormalize/urlfilter): join the corpus to a
    * per-host robots cache and flag every URL allowed/blocked for the
    * configured agent. Group precedence (specific agent eclipses `*`),
    * longest-match rules with `*`/`$`, allow-wins-ties — see
    * [[graft.text.Robots]].
    *
    * Options: `robots` (table or SELECT with `host`, `robots_txt`
    * columns — the fetch cache every crawler maintains), `agent`
    * (default "*"), `field` (default "url"), `action` flag (default —
    * boolean `robots_allowed`) or filter. A host ABSENT from the cache
    * is allowed (no robots.txt = no restrictions), as is a null URL.
    *
    * Scale: ONE host-keyed join (robots caches are tiny per corpus —
    * broadcast-eligible) + a codegen'd per-row verdict with a
    * per-executor parse cache (bodies repeat per host, rows per page). */
  def robotsfilter(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val f = spec.strOr("field", "url")
      require(df.columns.contains(f), s"robotsfilter: no column '$f'")
      val agent = spec.strOr("agent", "*")
      val robots = ctx.tableOrSql(spec.str("robots").getOrElse(
        sys.error("robotsfilter: `robots` (table or SELECT with host, robots_txt) required")))
      require(robots.columns.contains("host") && robots.columns.contains("robots_txt"),
        s"robotsfilter: robots side needs host + robots_txt columns, has ${robots.columns.mkString(",")}")
      val u = col(f).cast("string")
      val host = lower(urlPart(u, "host"))
      val path = regexp_replace(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
      val r = robots.select(lower(col("host")).as("__rb_host"),
        col("robots_txt").cast("string").as("__rb_txt"))
      val joined = df.join(r, host === col("__rb_host"), "left")
      val verdict = when(u.isNull || col("__rb_txt").isNull, lit(true))
        .otherwise(call_function("graft_robots_allowed",
          when(path === "", lit("/")).otherwise(path),
          col("__rb_txt"), lit(agent)))
      val out = joined.withColumn("robots_allowed", verdict)
        .drop("__rb_host", "__rb_txt")
      spec.strOr("action", "flag").toLowerCase match {
        case "flag" => out
        case "filter" => out.where(col("robots_allowed")).drop("robots_allowed")
        case other => sys.error(s"robotsfilter: action must be flag|filter, got $other")
      }
    }

  /** `groupcap`: cap the number of rows kept per group — the per-domain
    * quota of web curation (a boilerplate-heavy domain must not dominate
    * the corpus). Keeps the FIRST `maxPerGroup` rows per `groupField`
    * in ascending `orderField` order (deterministic; ties impossible
    * when orderField is the document key). Output: surviving input rows
    * unchanged.
    *
    * Two plans, `algorithm` option:
    *  - `"threshold"` (explicit opt-in; requires an INTEGRAL,
    *    per-group-unique `orderField` — rows TIED at the boundary key
    *    all pass the `order <= threshold` filter, so duplicate order
    *    keys can exceed the cap): per group, find the cap-th smallest order key
    *    with the bounded-heap top-k aggregate (map-side partial heaps —
    *    each task contributes ≤ cap keys per group to the exchange),
    *    then semi-join the per-group threshold back and filter
    *    `order <= threshold`. A single hot domain (the boilerplate
    *    domain every crawl has) stays DISTRIBUTED: its rows never
    *    funnel through one task — only its ≤ cap·tasks candidate keys
    *    do. The threshold join is a broadcast when the group count is
    *    small; AQE decides.
    *  - `"window"` (default): `row_number` over (group, order) — one
    *    shuffle + in-partition sort. Exact cap for any orderField type
    *    (ties included), but a hot group lands on ONE task (AQE
    *    skew-split does not apply inside window partitions). The safe
    *    default; switch to `"threshold"` for skewed corpora whose order
    *    key is unique per group (e.g. a document id).
    * Both produce identical rows when orderField is unique per group
    * and non-null (asserted in specs; threshold mode excludes
    * null-order rows from quota selection, window ranks them first). */
  def groupcap(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val group = spec.str("groupField")
        .getOrElse(sys.error("groupcap: groupField required"))
      val order = spec.str("orderField")
        .getOrElse(sys.error("groupcap: orderField required"))
      val cap = spec.int("maxPerGroup", -1)
      require(cap > 0, "groupcap: maxPerGroup required (> 0)")
      // the heap threshold rides a LONG id — integral order keys only
      // (a fractional double would truncate and mis-place the cut)
      val isIntegral = {
        import org.apache.spark.sql.types._
        df.schema(order).dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
      }
      spec.strOr("algorithm", "window") match {
        case "threshold" =>
          require(isIntegral, s"groupcap threshold: orderField `$order` must " +
            s"be integral (got ${df.schema(order).dataType.simpleString}) — " +
            "use algorithm: \"window\" for other order-key types")
          // cap-th smallest order key per group = last element of the
          // top-`cap` heap on score -order (heap keeps the cap smallest;
          // a group with fewer than cap rows keeps its max → all rows
          // pass the filter). The double score is only a COARSE key:
          // long→double is monotone, and the heap's id tie-break (id ASC
          // on ties, id = the exact long order key) resolves any two
          // keys beyond 2^53 that collapse to one double — the kept set
          // and the boundary element are exact for the full long range.
          // NULL order keys are excluded up front:
          // they can't be ranked by a value threshold (and an all-null
          // group would aggregate to an empty heap, which ANSI
          // element_at refuses) — a documented deviation from the
          // window plan's nulls-first ranking; order keys are document
          // keys by contract, never null.
          val thresholds = df
            .where(col(order).isNotNull)
            .groupBy(col(group).as("__gc_g"))
            .agg(graft.functions.VectorExpressions.topK(
              -col(order).cast("double"), col(order).cast("long"), cap).as("__t"))
            .select(col("__gc_g"),
              element_at(col("__t"), -1).getField("id").as("__gc_thresh"))
          // null-safe join: a null group key forms its own group in the
          // window plan, so the threshold plan must match (=== would
          // silently drop null-group rows)
          df.join(thresholds, col(group) <=> col("__gc_g"))
            .where(col(order) <= col("__gc_thresh"))
            .drop("__gc_g", "__gc_thresh")
        case "window" =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(group)).orderBy(col(order).asc)
          df.withColumn("__gc_rank", row_number().over(w))
            .where(col("__gc_rank") <= cap)
            .drop("__gc_rank")
        case other => sys.error(s"groupcap: unknown algorithm '$other' " +
          "(threshold|window)")
      }
    }
}
