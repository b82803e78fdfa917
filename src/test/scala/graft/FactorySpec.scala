package graft

import graft.functions.{NativeFunctions, VectorExpressions}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import scala.jdk.CollectionConverters._

/** One session factory ([[graft.engine.Engine.session]]), one native
  * function table ([[NativeFunctions]]) behind both registration paths,
  * and one pipeline runner for batch and stream. */
class FactorySpec extends SparkSpec {

  /** A session whose native functions come from `ensure()`: a new
    * session with the extension's entries dropped. */
  private def ensureSession(): SparkSession = {
    val s = spark.newSession()
    NativeFunctions.all.foreach(f => s.sessionState.functionRegistry.dropFunction(f.id))
    assert(!s.catalog.functionExists("graft_array_dot"))
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
