package graft

import graft.engine.EtlContext
import graft.functions.{NativeFunctions, VectorExpressions}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import scala.jdk.CollectionConverters._

/** One session factory ([[graft.engine.Engine.session]]), one native
  * function table ([[NativeFunctions]]) behind both registration paths,
  * and one pipeline runner for batch and stream. */
class FactorySpec extends SparkSpec {

  /** A new session with the extension's entries dropped. */
  private def bareSession(): SparkSession = {
    val s = spark.newSession()
    NativeFunctions.all.foreach(f => s.sessionState.functionRegistry.dropFunction(f.id))
    assert(!s.catalog.functionExists("graft_array_dot"))
    s
  }

  /** A session whose native functions come from `ensure()`. */
  private def ensureSession(): SparkSession = {
    val s = bareSession()
    VectorExpressions.ensure(s)
    s
  }

  test("Engine.session is the only SparkSession builder in src/") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => p.toString -> builder.findAllIn(java.nio.file.Files.readString(p)).size)
        .filter(_._2 > 0)
    }.toMap
    assert(hits == Map("src/main/scala/graft/engine/Engine.scala" -> 1))
    // the specs pass only their master; partitions follow its core count
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  private def mainSources: Map[String, String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> java.nio.file.Files.readString(p)).toMap
  private def hitsIn(sources: Map[String, String], re: scala.util.matching.Regex) =
    sources.map { case (p, src) => p -> re.findAllIn(src).size }.filter(_._2 > 0)

  test("one transformer loop: Engine is the only pipeline runner in src/main") {
    val src = mainSources
    // the one registry lookup that raises the unknown-stage error
    assert(hitsIn(src, "unknown transformer".r) ==
      Map("src/main/scala/graft/engine/Engine.scala" -> 1))
    // every other registry read is a dev tool calling one named stage
    val lookups = hitsIn(src, """Engine\s*\.\s*transformers\s*(\(|\.get)""".r)
    assert(lookups.keys.forall(_.startsWith("src/main/scala/graft/tools/")), lookups)
    // the runner owns `output`: no per-stage wrapper is left
    assert(hitsIn(src, """\bcommon\s*\(""".r).isEmpty)
    // stream stages live in the registry, not in a private match
    assert(hitsIn(src, "case\\s+\"(window_agg|sessionize|stream_dedup|stream_throttle|stream_join)\"".r).isEmpty)
  }

  test("one container-bytes path: Flate decompresses, Container reads, peeks and writes shards") {
    val src = mainSources
    val sources = src.filter(_._1.startsWith("src/main/scala/graft/sources/"))
    def onlyIn(scope: Map[String, String], file: String, res: String*) = res.foreach(re =>
      assert(hitsIn(scope, re.r).keySet == Set(s"src/main/scala/graft/sources/$file"), re))
    // one inflate loop and one gunzip, one (path, bytes) read
    onlyIn(src, "Flate.scala", """java\.util\.zip\.Inflater\b""", "GZIPInputStream")
    onlyIn(src, "Container.scala", """format\("binaryFile"\)""")
    // among the codecs: one shard loop and one first-file peek (the
    // dot-file skip); shards and peeks open paths through the session's
    // Hadoop FS, never through java.io.File
    onlyIn(sources, "Container.scala", """\bforeachPartition\b""", """startsWith\("\."\)""")
    assert(hitsIn(sources, """new java\.io\.File\(""".r).isEmpty)
  }

  test("one storage path: engine file I/O goes through the session's Hadoop FS") {
    val dirs = Seq("engine", "loaders", "similarity", "sources", "stages", "streaming", "text")
    val banned = """java\.nio\.file\b|\bPaths\.get\b|new\s+(java\.io\.)?File\(|File(In|Out)putStream""".r
    val hits = for {
      (path, src) <- mainSources.toSeq
      if dirs.exists(d => path.startsWith(s"src/main/scala/graft/$d/"))
      // the local FileSystem itself is the one place that talks to java.nio
      if !path.endsWith("/engine/LocalFs.scala")
      lines = src.linesIterator.toIndexedSeq
      // the streaming checkpoint base is a local tmpfs dir by design
      ckpt = lines.indexWhere(_.contains("private lazy val ramCkptBase"))
      ckptEnd = lines.indexWhere(_.contains("private def ramCkptDir"))
      (line, i) <- lines.zipWithIndex
      if banned.findFirstIn(line).isDefined
      // the upsert lease's O_EXCL claim is synchronisation, not storage
      if !line.contains(".createNewFile()")
      if !(ckpt >= 0 && i >= ckpt && i <= ckptEnd + 2)
    } yield s"$path:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("one fixture cache: markers, content keys, word streams, WARC framing and /tmp paths live in Fixtures") {
    val module = "src/main/scala/graft/Fixtures.scala"
    val src = mainSources
    def onlyInModule(token: String, exempt: (String, String) => Boolean = (_, _) => false) = {
      val hits = for {
        (path, text) <- src.toSeq if path != module
        (line, i) <- text.linesIterator.zipWithIndex
        if line.contains(token) && !exempt(path, line)
      } yield s"$path:${i + 1}: ${line.trim}"
      assert(hits.isEmpty, s"$token outside $module:\n" + hits.mkString("\n"))
      assert(src(module).contains(token), token)
    }
    // the upsert lease's O_EXCL claim is synchronisation, not a marker
    onlyInModule("createNewFile()", (path, line) =>
      path.endsWith("/loaders/Loaders.scala") && line.contains("lock.toUri"))
    onlyInModule("""crc32(col("text"))""")
    onlyInModule("math.log(10000.0)")
    onlyInModule("\"WARC/1.0\"")
    onlyInModule("\"/tmp/")
    // an in-memory Derby name is no /tmp path
    onlyInModule(".hashCode)}", (_, line) => line.contains("jdbc:derby:memory:"))
  }

  test("ensure() registers exactly what a session lacks, in every session") {
    for (s <- Seq(ensureSession(), ensureSession()); f <- NativeFunctions.all)
      assert(s.catalog.functionExists(f.name), f.name)
    // a session built with the extension lacks nothing: ensure() leaves
    // every injected builder in place
    val s = spark.newSession()
    def builders = NativeFunctions.all.map(f =>
      s.sessionState.functionRegistry.lookupFunctionBuilder(f.id).get)
    val before = builders
    VectorExpressions.ensure(s)
    assert(builders.zip(before).forall { case (a, b) => a eq b })
    // building a context registers them: a stage cannot forget the call
    val bare = bareSession()
    new EtlContext(bare)
    assert(bare.sql("SELECT graft_array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
  }

  test("one native-function registration point: only EtlContext calls ensure()") {
    assert(hitsIn(mainSources, """VectorExpressions\s*\.\s*ensure\(""".r).keySet ==
      Set("src/main/scala/graft/engine/EtlContext.scala"))
  }

  test("graft.tools holds only the Probe and ScaleStress mains") {
    val tools = mainSources.filter(_._1.startsWith("src/main/scala/graft/tools/"))
    assert(hitsIn(tools, """\bdef\s+main\s*\(""".r).keySet == Set(
      "src/main/scala/graft/tools/Probe.scala", "src/main/scala/graft/tools/ScaleStress.scala"))
  }

  for ((path, session) <- Seq[(String, () => SparkSession)](
      "extension" -> (() => spark.newSession()), "ensure()" -> (() => ensureSession())))
    test(s"$path path: wrong arity and non-literal arguments are named AnalysisExceptions") {
      val s = session()
      def err(sql: String): String =
        intercept[AnalysisException](s.sql(sql).collect()).getMessage
      // every entry resolves from SQL text and checks its arity
      NativeFunctions.all.foreach { f =>
        val m = err(s"SELECT ${f.name}()")
        assert(m.contains(s"${f.name} requires ${f.arity} argument(s), got 0"), m)
      }
      val arity = err("SELECT graft_array_dot(array(1.0D))")
      assert(arity.contains("graft_array_dot requires 2 argument(s), got 1"), arity)
      val nonLit = err("SELECT graft_shingle_hashes('a b c', CAST(id AS INT)) FROM range(1)")
      assert(nonLit.contains("graft_shingle_hashes: n must be an int literal"), nonLit)
    }
}
