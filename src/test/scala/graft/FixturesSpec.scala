package graft

import java.io.File
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

/** The one fixture cache ([[Fixtures.cached]]), its content keys and the
  * per-query scratch dir. */
class FixturesSpec extends SparkSpec {

  private def fresh(): String =
    s"${Files.createTempDirectory("graft_fixtures")}/fx"
  private def listing(dir: String): Set[String] =
    Option(new File(dir).list()).map(_.toSet).getOrElse(Set.empty)
  private def put(dir: String, name: String): Unit = {
    Files.createDirectories(Path.of(dir, name).getParent)
    Files.writeString(Path.of(dir, name), name); ()
  }

  test("cached: a second call with the same key runs no writer") {
    val d = fresh()
    var runs = 0
    def build(): String = Fixtures.cached(d, "k1") { runs += 1; put(d, "a.txt") }
    assert(build() == d && build() == d)
    assert(runs == 1)
    assert(listing(d) == Set("a.txt", "_graft_k1"))
    // the marker alone (a build by an earlier JVM) skips the writer too
    val e = fresh()
    put(e, "_graft_k0")
    Fixtures.cached(e, "k0") { runs += 1 }
    assert(runs == 1)
  }

  test("cached: a changed key removes stale files and subdirectories, then rebuilds") {
    val d = fresh()
    Fixtures.cached(d, "k1") { put(d, "a.txt"); put(d, "sub/b.txt") }
    var runs = 0
    Fixtures.cached(d, "k2") { runs += 1; put(d, "c.txt") }
    assert(runs == 1)
    assert(listing(d) == Set("c.txt", "_graft_k2"))
  }

  test("cached: a writer that throws leaves no marker, and the next call rebuilds") {
    val d = fresh()
    val e = intercept[RuntimeException](
      Fixtures.cached(d, "k1") { put(d, "a.txt"); throw new RuntimeException("boom") })
    assert(e.getMessage == "boom")
    assert(listing(d) == Set("a.txt"))
    var runs = 0
    Fixtures.cached(d, "k1") { runs += 1; put(d, "b.txt") }
    assert(runs == 1)
    assert(listing(d) == Set("b.txt", "_graft_k1"))
  }

  test("docKey and textKey run one aggregate per scale dir per JVM") {
    import QueryMeter.jobsOf
    val sf = Files.createTempDirectory("graft_fixtures_sf").toString
    spark.range(10).select(col("id").as("doc_id"), concat(lit("t"), col("id")).as("text"))
      .write.parquet(s"$sf/documents.parquet")
    var doc = 0L
    var text = ""
    assert(jobsOf(spark) { doc = Fixtures.docKey(spark, sf) } >= 1)
    assert(jobsOf(spark) { text = Fixtures.textKey(spark, sf) } >= 1)
    assert(jobsOf(spark) {
      assert(Fixtures.docKey(spark, sf) == doc)
      assert(Fixtures.textKey(spark, sf) == text)
    } == 0)
    assert(text.startsWith(s"${doc}_"))
  }

  test("scratch: the same dir per (name, scope), returned empty") {
    val d = Fixtures.scratch("fixtures_spec", sfDir)
    put(d, "sub/old.txt")
    assert(Fixtures.scratch("fixtures_spec", sfDir) == d)
    assert(!new File(d).exists())
    assert(Fixtures.scratch("fixtures_spec", sfDir + "x") != d)
  }
}
