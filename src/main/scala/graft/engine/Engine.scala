package graft.engine

import graft.expr.OrientExpr
import graft.loaders.Loaders
import graft.sources.Sources
import graft.spec.{ComponentSpec, PipelineSpec}
import graft.stages.{LookupStages, Stages}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** The pipeline engine: compiles a 7-section config (SURVEY.md §2) into
  * ONE lazy DataFrame plan and executes it.
  *
  * Key inversion vs the reference (SURVEY.md §7.1): OETLProcessor
  * interprets the config per record on one thread (OETLPipeline.java:
  * 98-139); we compile the whole config declaratively and let Catalyst do
  * pipelining, pushdown, join planning and AQE — so the same config that
  * processes 60k rows on local[32] scales to a 1000-executor cluster
  * without a code change.
  *
  * Laziness contract: plan construction runs NO Spark jobs, with one
  * documented exception — `fuzzyjoin` in `broadcastProbes: auto` mode
  * runs a bounded `limit(cap+1).count()` probe to pick its plan shape
  * (see [[graft.text.FuzzyJoinStage]]; opt out with an explicit
  * `broadcastProbes`). Training-style stages (kmeans, BPE, IVF) execute
  * bounded sample jobs by their stated contract.
  */
object Engine {

  /** Component registry — the analogue of OETLComponentFactory.java:
    * 195-226's name → component map. */
  val transformers: Map[String, (ComponentSpec, EtlContext) => DataFrame => DataFrame] = Map(
    "csv"     -> Stages.csvTransform _,
    "field"   -> Stages.field _,
    "rename"  -> Stages.rename _,
    "json"    -> Stages.jsonTransform _,
    "log"     -> Stages.log _,
    "code"    -> Stages.code _,
    "command" -> Stages.command _,
    "flatten"       -> Stages.flatten _,
    "hint"          -> Stages.hintStage _,
    "repartition"   -> Stages.repartitionStage _,
    "rollup"        -> graft.stages.CubeStages.rollup _,
    "pivot"         -> graft.stages.CubeStages.pivot _,
    "expect"        -> graft.stages.ExpectStage.expect _,
    "profile"       -> graft.stages.ExpectStage.profile _,
    "rowid"         -> graft.split.SplitStages.rowid _,
    "topkpergroup" -> Stages.topkPerGroup _,
    "histogram"    -> Stages.histogram _,
    "flow"    -> Stages.flow _,
    "vertex"  -> Stages.vertex _,
    "merge"   -> LookupStages.merge _,
    "link"    -> LookupStages.link _,
    "edge"    -> LookupStages.edge _,
    "etl"     -> LookupStages.etl _,
    "skewjoin" -> LookupStages.skewjoin _,
    "geojoin"  -> graft.stages.GeoStages.geojoin _,
    "geocell"  -> graft.stages.GeoStages.geocell _,
    "block"   -> blockTransformer _,
    "graphdegree"    -> graft.graph.GraphStages.graphDegree _,
    "graphneighbors" -> graft.graph.GraphStages.graphNeighbors _,
    "pagerank"       -> graft.graph.GraphStages.pageRank _,
    "motif"          -> graft.graph.GraphStages.motif _,
    "connectedcomponents" -> graft.graph.GraphStages.connectedComponentsStage _,
    "kcore"          -> graft.graph.GraphStages.kcore _,
    "clusteringcoef" -> graft.graph.GraphStages.clusteringCoef _,
    "bfs"            -> graft.graph.GraphStages.bfs _,
    "shortestpaths"  -> graft.graph.GraphStages.shortestPaths _,
    "labelprop"      -> graft.graph.GraphStages.labelPropagation _,
    "scc"            -> graft.graph.GraphStages.scc _,
    "toposort"       -> graft.graph.GraphStages.topoSort _,
    "graphmetrics"   -> graft.graph.GraphStages.graphMetrics _,
    "classbalance"  -> graft.split.SplitStages.classBalance _,
    "linkpredict"    -> graft.graph.GraphStages.linkPredict _,
    // LLM training-data pipeline stages (builder brief / SURVEY.md §7.2
    // step 10) — first-class registered transformers
    "dedup"         -> graft.dedup.DedupStages.dedup _,
    "minhash"       -> graft.dedup.DedupStages.minhash _,
    "simhash"       -> graft.dedup.DedupStages.simhash _,
    "ngramjaccard"  -> graft.dedup.DedupStages.ngramJaccard _,
    "neardupdedup"  -> graft.dedup.DedupStages.neardupDedup _,
    "decontaminate" -> graft.dedup.DedupStages.decontaminate _,
    "crossdedup"    -> graft.dedup.DedupStages.crossDedup _,
    "substringspans" -> graft.dedup.DedupStages.substringSpans _,
    "linededup"     -> graft.dedup.DedupStages.lineDedup _,
    "textstats"     -> graft.text.TextStages.textstats _,
    "qualityfilter" -> graft.text.TextStages.qualityFilter _,
    "regexreplace"  -> graft.text.TextStages.regexReplace _,
    "ngramcount"    -> graft.text.TextStages.ngramCount _,
    "repetition"    -> graft.text.TextStages.repetition _,
    "boilerplate"   -> graft.text.TextStages.boilerplate _,
    "gopherfilter"  -> graft.text.TextStages.gopherFilter _,
    "c4filter"      -> graft.text.TextStages.c4Filter _,
    "wordfilter"    -> graft.text.TextStages.wordFilter _,
    "stopwords"     -> graft.text.TextStages.stopwordsStage _,
    "regexextract"  -> graft.text.TextStages.regexExtract _,
    "compressratio" -> graft.text.TextStages.compressRatio _,
    "wikitext"      -> graft.text.TextStages.wikitext _,
    "piimask"       -> graft.text.TextStages.piiMask _,
    "urlfilter"     -> graft.text.WebStages.urlfilter _,
    "robotsfilter"  -> graft.text.WebStages.robotsfilter _,
    "datasplit"     -> graft.split.SplitStages.datasplit _,
    "kfold"         -> graft.split.SplitStages.kfold _,
    "hashsample"    -> graft.split.SplitStages.hashsample _,
    "zorder"        -> graft.split.SplitStages.zorder _,
    "stratifiedsample" -> graft.split.SplitStages.stratifiedSample _,
    "shuffle"       -> graft.split.SplitStages.shuffle _,
    "mixture"       -> graft.split.SplitStages.mixture _,
    "urlparse"      -> graft.text.WebStages.urlparse _,
    "urlnormalize"  -> graft.text.WebStages.urlnormalize _,
    "htmlextract"   -> graft.text.WebStages.htmlextract _,
    "htmllinks"     -> graft.text.WebStages.htmllinks _,
    "htmlmeta"      -> graft.text.WebStages.htmlmeta _,
    "htmlmarkdown"  -> graft.text.WebStages.htmlmarkdown _,
    "latexstrip"    -> graft.text.WebStages.latexstrip _,
    "markdownstrip" -> graft.text.WebStages.markdownstrip _,
    "decodetext"    -> graft.text.WebStages.decodetext _,
    "htmltables"    -> graft.text.WebStages.htmltables _,
    "normalizetext" -> graft.text.TextStages.normalizetext _,
    "groupcap"      -> graft.text.WebStages.groupcap _,
    "pack"          -> graft.split.SplitStages.pack _,
    "chunk"         -> graft.split.SplitStages.chunk _,
    "cdcchunk"      -> graft.split.SplitStages.cdcChunk _,
    "langid"        -> graft.text.TextStages.langid _,
    "tokenize"      -> graft.text.TextStages.tokenize _,
    "bpe"           -> graft.text.TextStages.bpe _,
    "tokeninfo"     -> graft.text.TextStages.tokenInfo _,
    "collocations"  -> graft.text.TextStages.collocations _,
    "sentencesplit" -> graft.text.TextStages.sentenceSplit _,
    "tfidf"         -> graft.text.TextStages.tfidf _,
    "dsirweight"    -> graft.text.TextStages.dsirWeight _,
    "nbclassify"    -> graft.text.TextStages.nbClassify _,
    "scriptmix"     -> graft.text.TextStages.scriptMix _,
    "readability"   -> graft.text.TextStages.readability _,
    "bm25"          -> graft.text.TextStages.bm25 _,
    "corpusstats"   -> graft.text.TextStages.corpusstats _,
    "distinctcount" -> graft.text.TextStages.distinctCount _,
    "fingerprint"   -> graft.text.TextStages.fingerprint _,
    "fuzzyjoin"     -> graft.text.FuzzyJoinStage.fuzzyjoin _,
    "zscore"        -> graft.stages.StatStages.zscore _,
    "quantiles"     -> graft.stages.StatStages.quantiles _,
    "quantilebin"   -> graft.stages.StatStages.quantileBin _,
    "winsorize"     -> graft.stages.StatStages.winsorize _,
    "labelencode"   -> graft.stages.StatStages.labelEncode _,
    "featurehash"   -> graft.stages.StatStages.featureHash _,
    "minmaxscale"   -> graft.stages.StatStages.minMaxScale _,
    "correlate"     -> graft.stages.StatStages.correlate _,
    "impute"        -> graft.stages.StatStages.impute _,
    "kanonymity"    -> graft.stages.StatStages.kAnonymity _,
    "chisquare"     -> graft.stages.StatStages.chiSquare _,
    "freqpairs"     -> graft.stages.StatStages.freqPairs _,
    "entropy"       -> graft.stages.StatStages.entropy _,
    "proportions"   -> graft.stages.StatStages.proportions _,
    "classifyeval"  -> graft.stages.StatStages.classifyEval _,
    "gini"          -> graft.stages.StatStages.gini _,
    "drift"         -> graft.stages.StatStages.drift _,
    "kstest"        -> graft.stages.StatStages.ksTest _,
    "concentration" -> graft.stages.StatStages.concentration _,
    "benford"       -> graft.stages.StatStages.benford _,
    "schemadiff"    -> graft.stages.StatStages.schemaDiff _,
    "tcloseness"    -> graft.stages.StatStages.tCloseness _,
    "vocaboverlap"  -> graft.text.TextStages.vocabOverlap _,
    "bucketize"     -> graft.stages.StatStages.bucketize _,
    "urlresolve"    -> graft.text.WebStages.urlresolve _,
    "abtest"        -> graft.stages.StatStages.abTest _,
    "robustscale"   -> graft.stages.StatStages.robustScale _,
    "regressioneval" -> graft.stages.StatStages.regressionEval _,
    "calibration"   -> graft.stages.StatStages.calibration _,
    "survival"      -> graft.stages.StatStages.survival _,
    "mutualinfo"    -> graft.stages.StatStages.mutualInfo _,
    "auc"           -> graft.stages.StatStages.auc _,
    "targetencode"  -> graft.stages.StatStages.targetEncode _,
    "onehot"        -> graft.stages.StatStages.oneHot _,
    "percentrank"   -> graft.stages.StatStages.percentRank _,
    "unpivot"       -> graft.stages.CubeStages.unpivot _,
    "hllsketch"     -> graft.stages.StatStages.hllSketch _,
    "hllmerge"      -> graft.stages.StatStages.hllMerge _,
    "checksum"      -> graft.stages.StatStages.checksum _,
    "checksummerge" -> graft.stages.StatStages.checksumMerge _,
    "bloomjoin"     -> graft.stages.SetOps.bloomjoin _,
    "kllsketch"     -> graft.stages.StatStages.kllSketch _,
    "kllmerge"      -> graft.stages.StatStages.kllMerge _,
    "topksketch"    -> graft.stages.StatStages.topkSketch _,
    "topkmerge"     -> graft.stages.StatStages.topkMerge _,
    "similarity"    -> graft.similarity.SimilarityStages.similarity _,
    "similaritylsh" -> graft.similarity.SimilarityStages.similarityLsh _,
    "similarityivf" -> graft.similarity.SimilarityStages.similarityIvf _,
    "cosinedup"     -> graft.similarity.SimilarityStages.cosineDup _,
    "kmeans"        -> graft.similarity.SimilarityStages.kmeans _,
    "quantize"      -> graft.similarity.SimilarityStages.quantize _,
    "retrievaleval" -> graft.similarity.SimilarityStages.retrievalEval _,
    "randproject"   -> graft.similarity.SimilarityStages.randproject _,
    "tablediff"     -> graft.stages.DiffStage.tablediff _,
    "semanticdedup" -> graft.similarity.SimilarityStages.semanticDedup _,
    "mm_attach"     -> graft.multimodal.MultimodalStages.attach _,
    "mm_decode"     -> graft.multimodal.MultimodalStages.decode _,
    "mm_resize"     -> graft.multimodal.MultimodalStages.resize _,
    "mm_frames"     -> graft.multimodal.MultimodalStages.frames _,
    "mm_audio"      -> graft.multimodal.MultimodalStages.audio _,
    "mm_audio_stats" -> graft.multimodal.MultimodalStages.audioStats _,
    "mm_exif"       -> graft.multimodal.MultimodalStages.exif _,
    "mm_id3"        -> graft.multimodal.MultimodalStages.id3 _,
    "pdfextract"    -> graft.multimodal.MultimodalStages.pdf _,
    "docxextract"   -> graft.multimodal.MultimodalStages.docx _,
    "rtfextract"    -> graft.multimodal.MultimodalStages.rtf _,
    "pdfimages"     -> graft.multimodal.MultimodalStages.pdfImages _,
    "pdfmeta"       -> graft.multimodal.MultimodalStages.pdfMeta _,
    "mm_video"      -> graft.multimodal.MultimodalStages.video _,
    "mm_phash"      -> graft.multimodal.MultimodalStages.phash _,
    "mm_meta"       -> graft.multimodal.MultimodalStages.textMeta _,
    "mm_frame_sample" -> graft.multimodal.MultimodalStages.frameSample _,
    "mm_frame_decode" -> graft.multimodal.MultimodalStages.frameDecode _,
    "hammingpairs"  -> graft.dedup.DedupStages.hammingPairs _,
    "asofjoin"      -> graft.temporal.TemporalStages.asofJoin _,
    "rangejoin"     -> graft.temporal.TemporalStages.rangeJoin _,
    "intervaljoin"  -> graft.temporal.TemporalStages.intervalJoin _,
    "union"         -> graft.stages.SetOps.union _,
    "except"        -> graft.stages.SetOps.except _,
    "intersect"     -> graft.stages.SetOps.intersect _,
    "semijoin"      -> graft.stages.SetOps.semijoin _,
    "antijoin"      -> graft.stages.SetOps.antijoin _,
    "sessionize"    -> graft.temporal.TemporalStages.sessionize _,
    "window_agg"      -> graft.streaming.Streaming.windowAgg _,
    "stream_dedup"    -> graft.streaming.Streaming.streamDedup _,
    "stream_throttle" -> graft.streaming.Streaming.streamThrottle _,
    "stream_join"     -> graft.streaming.Streaming.streamJoin _,
    "rolling"       -> graft.temporal.TemporalStages.rolling _,
    "delta"         -> graft.temporal.TemporalStages.delta _,
    "cumulate"      -> graft.temporal.TemporalStages.cumulate _,
    "lagfeatures"   -> graft.temporal.TemporalStages.lagFeatures _,
    "ewma"          -> graft.temporal.TemporalStages.ewma _,
    "changepoint"   -> graft.temporal.TemporalStages.changepoint _,
    "runlength"     -> graft.temporal.TemporalStages.runLength _,
    "autocorr"      -> graft.temporal.TemporalStages.autocorr _,
    "transitions"   -> graft.temporal.TemporalStages.transitions _,
    "eventpaths"    -> graft.temporal.TemporalStages.eventPaths _,
    "datefeatures"  -> graft.temporal.TemporalStages.dateFeatures _,
    "srtparse"      -> graft.multimodal.MultimodalStages.srtParse _,
    "vttparse"      -> graft.multimodal.MultimodalStages.vttParse _,
    "funnel"        -> graft.temporal.TemporalStages.funnel _,
    "cohortretention" -> graft.temporal.TemporalStages.cohortRetention _,
    "resample"      -> graft.temporal.TemporalStages.resample _,
  )

  // -- `code` hooks: named Scala DataFrame=>DataFrame functions ---------
  private val codeHooks = TrieMap.empty[String, DataFrame => DataFrame]
  def registerCode(name: String)(fn: DataFrame => DataFrame): Unit =
    codeHooks.put(name, fn)
  def codeHook(name: String): DataFrame => DataFrame =
    codeHooks.getOrElse(name, sys.error(s"no registered code hook '$name'"))

  /** Run a full pipeline spec. Returns the final record stream (what the
    * loader saw) so callers/tests can assert on it. */
  def run(ctx: EtlContext, spec: PipelineSpec): DataFrame = {
    // `config: {"dryRun": true}` — validate + plan WITHOUT acting (see
    // [[act]]). Under dryRun only `let` begin blocks run (their variable
    // bindings shape the plan); console/code blocks are side effects and
    // are exactly what a pre-flight must not fire.
    val dryRun = configFlag(spec, "dryRun")
    // SAVE/RESTORE around this run: nested `etl` child pipelines reuse
    // the parent ctx — a child (never dryRun itself) must not clobber a
    // dry-running parent's flag mid-pipeline
    val outerDryRun = ctx.dryRun
    ctx.dryRun = outerDryRun || dryRun // blocks/transformers consult it
    try runInner(ctx, spec, dryRun || outerDryRun)
    finally ctx.dryRun = outerDryRun
  }

  /** The batch run: [[compile]], the telemetry observe nodes, [[act]],
    * run-scoped cache release, `end` blocks and the listener events. */
  private def runInner(ctx: EtlContext, spec: PipelineSpec,
                       dryRun: Boolean): DataFrame = {
    // `config: {"telemetry": true}` — engine-level rows/sec for the
    // extract and load phases (OETLProcessor.java:545-585 parity).
    // Observe-only: the counts ride the loader's terminal action, no
    // extra job. Opt-in because each observe node is a codegen-fusion
    // barrier in the plan — free pipelines stay byte-identical.
    val telemetry = configFlag(spec, "telemetry")
    val counts = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Observation]
    def counted(df: DataFrame, name: String): DataFrame =
      if (!telemetry) df else {
        val o = ctx.newObservation(name)
        counts += o
        df.observe(o, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
      }
    var t0 = 0L
    var warn0, err0 = 0L
    var completedNormally = false
    val (df, acted) = try {
      val df = counted(compile(ctx, spec, dryRun) { extracted =>
        t0 = System.nanoTime
        // counter baselines: the accumulators are context-lifetime, the
        // RunStats contract is per-run — record deltas, not live values
        warn0 = ctx.warnings.value; err0 = ctx.errors.value
        counted(extracted, "rows_extracted")
      }, "rows_loaded")
      val acted = act(ctx, spec, df, dryRun)
      completedNormally = true
      (df, acted)
    } catch {
      case e: EtlHaltException =>
        ctx.fireListeners(_.onHalt(ctx, e.getMessage)); throw e
    } finally {
      // Run-scoped cache release on EVERY failure path (ADVICE r14):
      // a halt, an analysis error, or a runtime failure must all drop
      // the run's registered persists — CacheManager entries are never
      // GC-reclaimed, so any leak here is permanent for the session.
      // The success path below decides release-vs-adopt; signal it by
      // only releasing here when the try block did NOT complete.
      if (!completedNormally) ctx.releaseCache()
    }
    // Run-scoped cache release (ADVICE r13): an acted pipeline is done
    // with its persisted frames (keyedByTid etc.) — unpersist them now
    // so a long session does not accumulate CacheManager entries. A
    // plan-handoff pipeline (memory loader: the terminal action runs
    // later, outside the engine) moves its frames to the bounded
    // session-level FIFO instead, which evicts the oldest once full.
    if (acted) ctx.releaseCache()
    else EtlContext.adoptSessionPersisted(ctx.drainPersisted())
    if (acted) {
      if (telemetry) {
        val elapsedMs = (System.nanoTime - t0) / 1000000L
        val Seq(extracted, loaded) = counts.toSeq.map(ctx.observedValue(_, "rows"))
        ctx.lastStats = Some(EtlContext.RunStats(extracted, loaded, elapsedMs,
          warnings = (ctx.warnings.value: Long) - warn0,
          errors = (ctx.errors.value: Long) - err0))
        val secs = math.max(elapsedMs, 1L) / 1000.0
        System.err.println(
          f"[graft] extracted $extracted rows, loaded $loaded rows in " +
          f"$secs%.2f s (${extracted / secs}%.0f extract rows/s, " +
          f"${loaded / secs}%.0f load rows/s)")
      }
      ctx.fireListeners(_.onLoaded(ctx, ctx.lastStats))
    }
    if (!dryRun) spec.end.foreach(executeBlock(ctx, _))
    ctx.fireListeners(_.onEnd(ctx))
    df
  }

  /** compile, the step batch and stream runs share: the config section's
    * variables (OETLProcessor.java:245-250), the begin blocks
    * (OETLProcessor.java:119-126), `onBegin`, the source (a `stream`
    * source reads through [[graft.streaming.Streaming.readStream]]), then
    * every transformer through [[transform]]. `tap` sees the extracted
    * frame before the first transformer. Returns the frame the loader
    * gets. */
  private[graft] def compile(ctx: EtlContext, spec: PipelineSpec, dryRun: Boolean)
                            (tap: DataFrame => DataFrame): DataFrame = {
    spec.config.foreach { case (k, v) => ctx.vars.put(k, v) }
    spec.begin.filter(b => !dryRun || b.name == "let")
      .foreach(executeBlock(ctx, _))
    ctx.fireListeners(_.onBegin(ctx))

    // FUSION: `file` + `row` feeding a leading plain `csv` transformer
    // compiles to ONE native spark.read.csv scan — vectorized, header
    // handled per file by the reader, no zipWithIndex pass. The generic
    // text-scan + from_csv path remains for skip ranges / mid-pipeline CSV.
    val rowLike = spec.extractor.forall(_.name == "row")
    val (remaining, fused) = (spec.source, spec.transformers) match {
      case (Some(src), head +: tail)
        if src.name == "file" && rowLike && head.name == "csv" &&
           head.long("skipFrom").isEmpty && head.long("skipTo").isEmpty &&
           src.long("skipFirst").isEmpty && src.long("skipLast").isEmpty &&
           head.outputVar.isEmpty && head.ifExpr.isEmpty &&
           // per-field error counters / per-row error detail need the
           // raw cells → from_csv path
           !head.bool("errorStats", dflt = false) &&
           head.str("errorField").isEmpty =>
        val path = ctx.resolved(src, "path").getOrElse(sys.error("file source: path required"))
        (tail, Some(Sources.csv(ctx.spark, path, head)))
      case _ => (spec.transformers, None)
    }
    // `_row_num` (extractedNum) is paid only when a stage consumes it
    val needNum = remaining.exists(t => t.name == "csv" &&
      (t.long("skipFrom").isDefined || t.long("skipTo").isDefined ||
       t.bool("columnsOnFirstLine", dflt = true)))
    val extracted = fused.getOrElse(spec.source match {
      case Some(src) if src.name == "stream" => graft.streaming.Streaming.readStream(ctx, src)
      case source => Sources.build(ctx, source, spec.extractor, needNum)
    })
    val df = transform(ctx, remaining, tap(extracted))
    // `_row_num` is internal bookkeeping (header/skip arithmetic) —
    // the reference never emits a line number, so it must not reach
    // the loader's output schema
    if (df.columns.contains("_row_num")) df.drop("_row_num") else df
  }

  /** The transformers that read their own `if` (a per-row guard); on any
    * other stage an `if` would be silently ignored, so [[transform]]
    * rejects it. */
  private val IfStages = Set("field", "flow")

  /** The one transformer loop, batch and stream. Per component it owns
    * what the reference gives every transformer
    * (OAbstractTransformer.java:56-76): the registry lookup, the `if`
    * guard, and `output` — the stage's result goes to `ctx.captured`
    * under that name and its input passes through. */
  private def transform(ctx: EtlContext, ts: Seq[ComponentSpec],
                        input: DataFrame): DataFrame =
    ts.foldLeft(input) { (df, t) =>
      val fn = transformers.getOrElse(t.name, sys.error(s"unknown transformer ${t.name}"))
      if (t.ifExpr.nonEmpty && !IfStages(t.name))
        sys.error(s"${t.name}: `if` is honoured only by ${IfStages.mkString(" and ")} " +
          "— this stage would ignore it; filter with a `flow` skip before it")
      val out = fn(t, ctx)(df)
      t.outputVar match {
        case Some(v) => ctx.captured.put(v, out); df
        case None => out
      }
    }

  /** act, the batch run's last step: the loader. Under dryRun the whole
    * config compiled and Catalyst analyzes/optimizes it here (unknown
    * components, bad columns, type errors all still fail), the LOADER
    * spec validates without acting (unknown name / missing required
    * options fail the pre-flight like the real run would), the optimized
    * plan prints to stderr, and pending observe checks are DISCARDED (no
    * action ran — leaving them would poison the next real run). Returns
    * whether the loader ran a terminal action. */
  private def act(ctx: EtlContext, spec: PipelineSpec, df: DataFrame,
                  dryRun: Boolean): Boolean =
    if (dryRun) {
      spec.loader.foreach(Loaders.validate(ctx, _))
      System.err.println("[graft] dryRun plan:\n" +
        df.queryExecution.optimizedPlan.treeString)
      ctx.discardChecks()
      false
    } else {
      // loader action → collect deferred observe checks (halt / counters)
      val acted = spec.loader.exists(Loaders.load(ctx, _, df))
      if (acted) ctx.drainChecks()
      acted
    }

  /** Boolean config-section flag (`telemetry`, `dryRun`): accepts a
    * JSON boolean or the string "true"; anything else is false. */
  private[graft] def configFlag(spec: PipelineSpec, key: String): Boolean =
    spec.config.get(key).exists {
      case b: Boolean => b
      case s: String => s.equalsIgnoreCase("true")
      case _ => false
    }

  def runJson(ctx: EtlContext, json: String): DataFrame =
    run(ctx, PipelineSpec.parse(json))

  /** Blocks (SURVEY.md §2.5): driver-side procedures. */
  def executeBlock(ctx: EtlContext, b: ComponentSpec): Unit = b.name match {
    // `let` (OLetBlock.java:26-63): literal or dialect expression
    case "let" =>
      // config names may carry the dialect's `$` prefix (the shipped
      // config-dbpedia.json writes name: "$filePath"); variables are
      // stored and resolved WITHOUT it, as the reference's context does
      val name = b.str("name").getOrElse(sys.error("let: name required"))
        .stripPrefix("$")
      val value: Any = b.str("expression") match {
        case Some(e) =>
          // evaluate over a 1-row frame for dialect parity
          ctx.spark.range(1)
            .select(OrientExpr.compile(e, ctx.varMap).as("v")).head().get(0)
        case None => b.options.getOrElse("value", sys.error("let: value or expression required")) match {
          case s: String => OrientExpr.resolveString(s, ctx.varMap)
          case v => v
        }
      }
      ctx.vars.put(name, value)
    // `console` (OConsoleBlock.java:31-67): a DDL/SQL script
    case "console" =>
      // the script may create/drop views behind the registration memo
      EtlContext.invalidateSessionViews(ctx.spark)
      b.strList("commands").foreach(c =>
        ctx.spark.sql(OrientExpr.resolveString(c, ctx.varMap)))
    // `code` (OCodeBlock.java:33-67): named driver hook
    case "code" =>
      val ref = b.str("ref").getOrElse(sys.error("code block: ref required (JS configs are out of parity scope)"))
      // a driver hook is arbitrary code — it may touch the catalog
      EtlContext.invalidateSessionViews(ctx.spark)
      codeHook(ref)(ctx.spark.emptyDataFrame)
    case other => sys.error(s"unknown block $other")
  }

  /** Per-record `block` transformer wrapper (OBlockTransformer.java:50-73):
    * executes the wrapped block at this pipeline position, input passes
    * through. Row-dependent variables are rejected at compile time —
    * SURVEY.md §7.5 (no shipped config needs them). */
  private def blockTransformer(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame = { df =>
    spec.options.collectFirst {
      case (name, opts: Map[_, _]) if Set("let", "console", "code").contains(name) =>
        ComponentSpec(name, opts.asInstanceOf[Map[String, Any]])
    }.filter(b => !ctx.dryRun || b.name == "let") // pre-flight: no side effects
      .foreach(executeBlock(ctx, _))
    df
  }

  private val LocalN = """local\[(\d+)\]""".r

  /** The one graft session factory: the CLI, Bench, Verify, the specs,
    * the dev tools and perfbench all build here. The master is `master`,
    * else `SPARK_GRAFT_MASTER`, else `local[${SPARK_GRAFT_CPUS:-32}]`; a
    * `local[N]` master gets N shuffle partitions (any other master gets
    * `SPARK_GRAFT_CPUS:-32`). AQE is on, and every native function of
    * [[graft.functions.NativeFunctions]] resolves from pure SQL through
    * [[graft.GraftExtensions]]. `spark.hadoop.fs.file.impl` and
    * `spark.hadoop.fs.AbstractFileSystem.file.impl` put every `file://`
    * path, through the FileSystem and the FileContext API alike, on
    * [[GraftLocalFileSystem]] / [[GraftLocalFs]]: Hadoop's checksummed
    * local filesystem minus the `chmod`/`readlink` child process it
    * otherwise starts per created file and per checkpoint rename. */
  def session(appName: String = "graft", master: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val m = master.orElse(sys.env.get("SPARK_GRAFT_MASTER")).getOrElse(s"local[$cpus]")
    val partitions = m match { case LocalN(n) => n; case _ => cpus }
    SparkSession.builder().appName(appName).master(m)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r19 (optimization round): cache-builder compression trials are
      // pathological on low-cardinality STRING columns (dictionary/RLE
      // probing — measured 33.8 task-s to cache a 1.1M-row string pair
      // list vs 1.1 task-s as row blocks, OPTIMIZATION_r19.md
      // § "connectedComponents second pass"),
      // and every id/lookup frame the stages persist is exactly that
      // shape. Trade cache CPU for cache bytes by default; env-restores
      // the Spark default where memory is the binding constraint.
      .config("spark.sql.inMemoryColumnarStorage.compressed",
        sys.env.getOrElse("SPARK_GRAFT_CACHE_COMPRESS", "false"))
      // r19 (optimization round): Spark 4's checkpoint-file checksums
      // (corruption detection on state-store/offset-log files) block
      // every state-store commit on a checksum future — thread dumps
      // during streaming batch stages showed 29/32 tasks parked in
      // awaitResult under ChecksumCancellableFSDataOutputStream
      // (jse_* dumps, OPTIMIZATION_r19.md). The streaming queries here
      // run bounded availableNow micro-batches whose temp checkpoints
      // are deleted on stop — corruption detection of throwaway files
      // buys nothing. Env-restores the default for durable production
      // checkpoints. Re-measured once the local filesystem stopped
      // forking per checkpoint file (LocalFs): `true` still cost a median
      // +8.9 % op_p50_s on perfbench stream_upsert (6 alternating pairs
      // on a 4-core host, −2.8 to +12.7 %), so the default stays.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
        sys.env.getOrElse("SPARK_GRAFT_CKPT_CHECKSUM", "false"))
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // events.ts encoding drifts between fixture generations — see
      // sources.Tables (this flag covers the legacy nanos-int64 one)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
  }

  /** Register the driver-testdata tables found in a scale-factor
    * directory (checked through the session's Hadoop FS, so a `file:`
    * URI directory registers alike). */
  def registerSfTables(ctx: EtlContext, sfDir: String): Unit = {
    val dir = new HPath(sfDir)
    val fs = dir.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    graft.sources.Tables.names.foreach { t =>
      if (fs.exists(new HPath(dir, s"$t.parquet")))
        ctx.registerTable(t, graft.sources.Tables.load(ctx.spark, sfDir, t))
    }
  }
}
