package graft

import graft.engine.{Engine, EtlHaltException}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end pipeline specs — SURVEY.md §7.3 minimum slice and the
  * config-shaped e2e fixtures of FIXTURES.md §B. */
class EngineSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-test").toFile.getPath

  private def writeNationCsv(): String = {
    val path = s"$tmp/nation_csv"
    newCtx().table("nation")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    path
  }

  test("minimum slice: file → row → csv → field → flow skip → memory") {
    val path = writeNationCsv()
    val ctx = newCtx()
    val out = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "row": {} },
      "transformers": [
        { "csv": { "separator": ",", "columnsOnFirstLine": true,
                   "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        { "field": { "fieldName": "name_upper", "expression": "n_name.toUpperCase()" } },
        { "flow": { "operation": "skip", "if": "n_regionkey is null" } }
      ],
      "loader": { "memory": { "name": "slice_out" } }
    }""")
    assert(out.count() == 25)
    assert(out.columns.contains("name_upper"))
    val row = out.filter(col("n_nationkey") === 3).head()
    assert(row.getAs[String]("name_upper") == "NATION_3")
    assert(ctx.captured.contains("slice_out"))
  }

  test("csv extractor reads header + types directly") {
    val path = writeNationCsv()
    val ctx = newCtx()
    val out = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columnsOnFirstLine": true,
        "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "loader": { "memory": {} }
    }""")
    assert(out.schema("n_nationkey").dataType.typeName == "integer")
    assert(out.count() == 25)
  }

  test("csv header learning skips the dot-files the text read skips") {
    val dir = s"$tmp/csv_dotfile"
    new java.io.File(dir).mkdirs()
    Files.write(java.nio.file.Paths.get(dir, ".a.csv"), "x,y\n9,9\n".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(dir, "b.csv"), "id,name\n1,one\n".getBytes("UTF-8"))
    val out = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$dir" } },
      "extractor": { "row": {} },
      "transformers": [ { "csv": { "separator": ",", "errorStats": true } } ],
      "loader": { "memory": {} }
    }""")
    // errorStats keeps the csv stage off the fused spark.read.csv path,
    // so the header is learned at plan time from the first file
    assert(out.columns.toSeq.take(2) == Seq("id", "name"), out.columns.toSeq)
    assert(out.select("name").collect().map(_.getString(0)).toSeq == Seq("one"))
  }

  test("fixedwidth extractor: 1-based slices, types, blank→null, short lines, guards") {
    val f = s"$tmp/fw.txt"
    // layout: id[1..3] name[4..11] qty[12..14]; row 3 has a blank qty
    // cell, row 4 is SHORT (qty column absent entirely)
    java.nio.file.Files.write(java.nio.file.Paths.get(f), Seq(
      "  1alpha    42",
      "  2beta    107",
      "  3gamma      ",
      "  4delta").mkString("\n").getBytes("UTF-8"))
    val ctx = newCtx()
    def run(cols: String*) = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$f" } },
      "extractor": { "fixedwidth": { "columns": [${cols.map("\"" + _ + "\"").mkString(",")}] } },
      "loader": { "memory": {} }
    }""")
    val out = run("id:1:3:long", "name:4:8", "qty:12:3:integer")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq
    assert(out == Seq((1L, "alpha", Some(42)), (2L, "beta", Some(107)),
      (3L, "gamma", None), (4L, "delta", None)))
    assert(run("id:1:3:long").schema("id").dataType.typeName == "long")
    // bad column spec / 0-based offset fail loud
    assert(intercept[Exception](run("id:1").collect())
      .getMessage.contains("fixedwidth"))
    assert(intercept[Exception](run("id:0:3:long").collect())
      .getMessage.contains("1-based"))
  }

  test("gzip source is transparent (OFileSource gzip path)") {
    val path = s"$tmp/nation_gz"
    newCtx().table("nation").coalesce(1).write.mode("overwrite")
      .option("header", "false").option("compression", "gzip").csv(path)
    val ctx = newCtx()
    val out = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "row": {} },
      "loader": { "memory": {} }
    }""")
    assert(out.count() == 25)
  }

  test("json extractor: array-of-objects form") {
    val ctx = newCtx()
    val arr = ctx.table("nation").toJSON.collect().mkString("[", ",", "]")
    val f = s"$tmp/nation.json"
    Files.writeString(java.nio.file.Paths.get(f), arr)
    val out = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$f" } },
      "extractor": { "json": {} },
      "loader": { "memory": {} }
    }""")
    assert(out.count() == 25)
  }

  test("field remove + rename + let var") {
    val path = writeNationCsv()
    val ctx = newCtx()
    val out = Engine.runJson(ctx, s"""{
      "begin": [ { "let": { "name": "suffix", "value": "_X" } } ],
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [
        { "field": { "fieldName": "tagged", "expression": "n_name.append($$suffix)" } },
        { "field": { "fieldName": "n_regionkey", "operation": "remove" } },
        { "rename": { "n_name": "name" } }
      ],
      "loader": { "memory": {} }
    }""")
    assert(out.columns.toSet == Set("n_nationkey", "name", "tagged"))
    assert(out.filter(col("n_nationkey") === 0).head().getAs[String]("tagged") == "NATION_0_X")
  }

  test("if predicate gates a field stage per record") {
    val path = writeNationCsv()
    val ctx = newCtx()
    val out = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [
        { "field": { "fieldName": "n_name", "expression": "'LOW'", "if": "n_nationkey < 5" } }
      ],
      "loader": { "memory": {} }
    }""")
    assert(out.filter(col("n_name") === "LOW").count() == 5)
    assert(out.filter(col("n_name") === "NATION_7").count() == 1)
  }

  test("flow halt aborts the pipeline (eager gate)") {
    val path = writeNationCsv()
    val ctx = newCtx()
    intercept[EtlHaltException] {
      Engine.runJson(ctx, s"""{
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "transformers": [ { "flow": { "operation": "halt", "haltMode": "eager", "if": "n_nationkey > 20" } } ],
        "loader": { "memory": {} }
      }""")
    }
  }

  test("flow halt (deferred, single-pass): raised after the terminal action") {
    val path = writeNationCsv()
    val ctx = newCtx()
    val df = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "flow": { "operation": "halt", "if": "n_nationkey > 20" } } ],
      "loader": { "memory": {} }
    }""")
    df.count() // the pipeline's terminal action — one pass, no probe job
    intercept[EtlHaltException] { ctx.drainChecks() }
  }

  test("flow halt deferred: condition never matched -> no halt") {
    val path = writeNationCsv()
    val ctx = newCtx()
    val df = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "flow": { "operation": "halt", "if": "n_nationkey > 1000" } } ],
      "loader": { "memory": {} }
    }""")
    assert(df.count() == 25)
    ctx.drainChecks() // must not throw
  }

  test("command stage: SQL over registered tables") {
    val ctx = newCtx()
    val out = Engine.runJson(ctx, """{
      "source": { "file": { "path": "/root/testdata/sf0.001/nation.parquet" } },
      "extractor": { "parquet": {} },
      "transformers": [
        { "command": { "command": "SELECT n_regionkey, count(*) AS n FROM input GROUP BY n_regionkey" } }
      ],
      "loader": { "memory": {} }
    }""")
    assert(out.count() == 5)
    assert(out.agg(sum("n")).head().getLong(0) == 25)
    // a file: URI scale dir registers the same tables (checked through
    // the session's FS, not java.io.File)
    val viaUri = new graft.engine.EtlContext(spark)
    Engine.registerSfTables(viaUri, "file:" + sfDir)
    val plain = newCtx().tables.keySet
    assert(viaUri.tables.keySet == plain && plain.nonEmpty)
  }

  test("output capture: result diverted, input passes through") {
    val path = writeNationCsv()
    val ctx = newCtx()
    val out = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [
        { "field": { "fieldName": "extra", "expression": "'captured'", "output": "sideline" } }
      ],
      "loader": { "memory": {} }
    }""")
    assert(!out.columns.contains("extra"))          // input passed through
    assert(ctx.captured("sideline").columns.contains("extra"))
    // the runner owns `output` for every stage (flow had no capture) and
    // rejects `if` on a stage that would silently ignore it
    def run(transformer: String, c: graft.engine.EtlContext = newCtx()) =
      Engine.runJson(c, s"""{
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "transformers": [ $transformer ],
        "loader": { "memory": {} }
      }""")
    val ctx2 = newCtx()
    assert(run("""{ "flow": { "operation": "skip", "if": "n_nationkey > 3", "output": "kept" } }""",
      ctx2).count() == 25)
    assert(ctx2.captured("kept").count() == 4)
    val e = intercept[RuntimeException](
      run("""{ "rename": { "n_name": "name", "if": "n_nationkey > 3" } }"""))
    assert(e.getMessage.startsWith("rename: `if` is honoured only by field and flow"),
      e.getMessage)
  }

  test("skipFirst/skipLast on file source (documented intent)") {
    val f = s"$tmp/lines.txt"
    Files.writeString(java.nio.file.Paths.get(f), (1 to 10).map("line" + _).mkString("\n"))
    val ctx = newCtx()
    val out = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$f", "skipFirst": 2, "skipLast": 3 } },
      "extractor": { "row": {} },
      "loader": { "memory": {} }
    }""")
    val lines = out.select("value").collect().map(_.getString(0)).toSet
    assert(lines == (3 to 7).map("line" + _).toSet)
  }

  test("topkpergroup: k best per key with id tie-break; histogram: clamped buckets") {
    import spark.implicits._
    val ctx = newCtx()
    val df = Seq(
      (1L, 10L, 5.0), (1L, 11L, 9.0), (1L, 12L, 9.0), (1L, 13L, 1.0),
      (2L, 20L, 3.0)).toDF("g", "id", "score")
    val top = graft.stages.Stages.topkPerGroup(graft.spec.ComponentSpec("topkpergroup",
      Map("groupBy" -> Seq("g"), "scoreField" -> "score", "idField" -> "id",
          "k" -> 2)), ctx)(df)
      .orderBy("g", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    // tie at 9.0 → smaller id first
    assert(top == Seq((1L, 11L, 1), (1L, 12L, 2), (2L, 20L, 1)))

    val h = graft.stages.Stages.histogram(graft.spec.ComponentSpec("histogram",
      Map("field" -> "v", "min" -> "0", "max" -> "10", "buckets" -> 2)), ctx)(
      Seq(-5.0, 1.0, 4.9, 5.0, 9.9, 42.0).toDF("v"))
      .orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    // -5 clamps into bucket 0; 42 clamps into bucket 1
    assert(h == Seq((0L, 3L), (1L, 3L)))
  }

  test("parquet loader upsert mode: fresh write, then file-based MERGE") {
    import spark.implicits._
    val path = s"$tmp/upsert_tbl"
    val ctx = newCtx()
    val base = s"$tmp/up_base_pq"
    Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "v", "x")
      .write.mode("overwrite").parquet(base)
    Engine.runJson(ctx, s"""{
      "source": {"file": {"path": "$base"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$path", "mode": "upsert", "key": "id"}} }""")
    assert(spark.read.parquet(path).count() == 3) // fresh write
    val deltaPq = s"$tmp/up_delta_pq"
    Seq((2L, "B", 99), (4L, "d", 40)).toDF("id", "v", "x")
      .write.mode("overwrite").parquet(deltaPq)
    Engine.runJson(ctx, s"""{
      "source": {"file": {"path": "$deltaPq"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$path", "mode": "upsert", "key": "id"}} }""")
    val out = spark.read.parquet(path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(out == Seq((1L, "a", 10), (2L, "B", 99), (3L, "c", 30), (4L, "d", 40)))
    assert(!new java.io.File(s"$path.staging").exists, "staging dir cleaned")
    assert(!new java.io.File(s"$path.old").exists, "recovery copy cleaned")
  }

  test("parquet upsert crash recovery: stranded .old is restored, not deleted") {
    import spark.implicits._
    val path = s"$tmp/upsert_crash_tbl"
    val basePq = s"$tmp/upcrash_base_pq"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(basePq)
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$basePq"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$path", "mode": "upsert", "key": "id"}} }""")
    // simulate a crash between rename(target -> .old) and
    // rename(staging -> target): target gone, .old holds the only copy
    assert(new java.io.File(path).renameTo(new java.io.File(s"$path.old")))
    val deltaPq = s"$tmp/upcrash_delta_pq"
    Seq((3L, "c")).toDF("id", "v").write.mode("overwrite").parquet(deltaPq)
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$deltaPq"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$path", "mode": "upsert", "key": "id"}} }""")
    // the prior table must have been recovered and merged with the delta
    val out = spark.read.parquet(path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!new java.io.File(s"$path.old").exists, "recovery copy cleaned")
  }

  test("upsert write lease: concurrent second writer fails loud; stale lease breaks") {
    import spark.implicits._
    val path = s"$tmp/lease_tbl"
    val basePq = s"$tmp/lease_base_pq"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(basePq)
    def merge(src: String) = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$src"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$path", "mode": "upsert", "key": "id",
        "buckets": 4}} }""")
    merge(basePq)
    assert(!new java.io.File(s"$path.lock").exists, "lease released after merge")
    // two true concurrent merges: exactly one wins, the loser names the
    // lease rule, and the table ends in ONE delta's state (the winner's
    // rows merged; never an interleaving)
    val d1 = s"$tmp/lease_d1"; val d2 = s"$tmp/lease_d2"
    Seq((1L, "D1")).toDF("id", "v").write.mode("overwrite").parquet(d1)
    Seq((2L, "D2")).toDF("id", "v").write.mode("overwrite").parquet(d2)
    // hold the lease as writer A, run writer B: B must fail loud
    val lockFile = new java.io.File(s"$path.lock")
    java.nio.file.Files.write(lockFile.toPath,
      """{"holder":"writer-A","acquired_ms":0}""".getBytes("UTF-8"))
    lockFile.setLastModified(System.currentTimeMillis()) // fresh lease
    val e = intercept[Exception](merge(d2))
    assert(e.getMessage.contains("another writer holds the lease"), e.getMessage)
    assert(e.getMessage.contains("writer-A"), "error names the holder")
    val unchanged = spark.read.parquet(path).drop("__bucket")
      .as[(Long, String)].collect().toMap
    assert(unchanged == Map(1L -> "a", 2L -> "b"), "loser must not touch the table")
    // compact shares the same lease: while writer-A holds it, a compact
    // of the same table fails with the same named error
    val eC = intercept[Exception](Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$d1"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$path", "mode": "compact"}} }"""))
    assert(eC.getMessage.contains("another writer holds the lease"), eC.getMessage)
    // a STALE lease (holder died) breaks automatically and the merge lands
    lockFile.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L)
    merge(d1)
    val after = spark.read.parquet(path).drop("__bucket")
      .as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "D1", 2L -> "b"))
    assert(!lockFile.exists, "lease released after the stale-break merge")
    // a target whose parent dir does not exist yet takes the lease too
    val nested = s"$tmp/lease_new_parent/tbl"
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$basePq"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$nested", "mode": "upsert", "key": "id"}} }""")
    assert(spark.read.parquet(nested).count() == 2)
  }

  test("bucketed upsert: delta rewrites ONLY key-containing buckets") {
    import spark.implicits._
    val path = s"$tmp/upsert_bucketed_tbl"
    def run(src: String): Unit = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$src"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$path", "mode": "upsert",
                             "key": "id", "buckets": 8}} }""")
    val basePq = s"$tmp/upb_base_pq"
    (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(basePq)
    run(basePq)
    // bucketed layout on disk + sidecar
    val bucketDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("__bucket=")).map(_.getName).toSet
    assert(bucketDirs.nonEmpty, "expected __bucket=<i> partition dirs")
    assert(new java.io.File(s"$path/_graft_buckets.json").exists)
    // snapshot every data file (path -> mtime) before the delta
    def dataFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val before = dataFiles()
    // one-key delta: touches exactly one bucket
    val deltaPq = s"$tmp/upb_delta_pq"
    Seq((7L, "UPDATED")).toDF("id", "v").write.mode("overwrite").parquet(deltaPq)
    run(deltaPq)
    val after = dataFiles()
    val touchedBucket = {
      val b = org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash($"id"),
        org.apache.spark.sql.functions.lit(8))
      Seq(Tuple1(7L)).toDF("id").select(b).head.getInt(0)
    }
    // untouched buckets: identical file sets, byte-identical mtimes
    val untouchedBefore = before.filter(!_._1.contains(s"__bucket=$touchedBucket"))
    val untouchedAfter = after.filter(!_._1.contains(s"__bucket=$touchedBucket"))
    assert(untouchedBefore == untouchedAfter,
      "files outside the delta's bucket must not be rewritten")
    // the touched bucket WAS rewritten
    assert(before.keySet.filter(_.contains(s"__bucket=$touchedBucket")) !=
           after.keySet.filter(_.contains(s"__bucket=$touchedBucket")))
    // merged content is exact: row 7 updated, everything else intact
    val out = spark.read.parquet(path).drop("__bucket")
      .as[(Long, String)].collect().toMap
    assert(out.size == 200 && out(7L) == "UPDATED" && out(8L) == "v8")
    assert(!new java.io.File(s"$path.staging").exists, "staging cleaned")
    assert(!new java.io.File(s"$path.old").exists, "recovery copy cleaned")
  }

  test("bucketed upsert: per-bucket crash recovery and layout guards") {
    import spark.implicits._
    val path = s"$tmp/upsert_bucketed_crash"
    def run(src: String, buckets: Int = 4, key: String = "id", table: String = path): Unit =
      Engine.runJson(newCtx(), s"""{
        "source": {"file": {"path": "$src"}},
        "extractor": {"parquet": {}},
        "loader": {"parquet": {"path": "$table", "mode": "upsert",
                               "key": "$key", "buckets": $buckets}} }""")
    val basePq = s"$tmp/upbc_base_pq"
    (1L to 40L).map(i => (i, i * 10)).toDF("id", "x")
      .write.mode("overwrite").parquet(basePq)
    run(basePq)
    // simulate a crash between moving a bucket aside and swapping the
    // staged one in: bucket dir lives ONLY under .old
    val aBucket = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("__bucket=")).head.getName
    val oldDir = new java.io.File(s"$path.old")
    assert(oldDir.mkdirs())
    assert(new java.io.File(s"$path/$aBucket")
      .renameTo(new java.io.File(s"$path.old/$aBucket")))
    val deltaPq = s"$tmp/upbc_delta_pq"
    Seq((41L, 410L)).toDF("id", "x").write.mode("overwrite").parquet(deltaPq)
    run(deltaPq)
    val got = spark.read.parquet(path).drop("__bucket")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 41, s"stranded bucket must be restored, got ${got.size}")
    assert(got(41L) == 410L)
    // layout mismatch fails loud instead of writing the wrong buckets
    val e = intercept[Exception] { run(deltaPq, buckets = 16) }
    assert(e.getMessage.contains("layout mismatch"), e.getMessage)
    // a spec without `buckets` does not match the recorded layout either
    val eFlat = intercept[Exception] {
      Engine.runJson(newCtx(), s"""{
        "source": {"file": {"path": "$deltaPq"}},
        "extractor": {"parquet": {}},
        "loader": {"parquet": {"path": "$path", "mode": "upsert", "key": "id"}} }""")
    }
    assert(eFlat.getMessage.contains("layout mismatch"), eFlat.getMessage)
    // the recorded count is matched whole: a 12-bucket table is not 1-bucket
    run(deltaPq, buckets = 12, table = s"$path-wide")
    val eWide = intercept[Exception] { run(deltaPq, buckets = 1, table = s"$path-wide") }
    assert(eWide.getMessage.contains("layout mismatch"), eWide.getMessage)
    // bucket dirs without their sidecar: the layout is unknown, say so
    assert(new java.io.File(s"$path/_graft_buckets.json").delete())
    val eLost = intercept[Exception] { run(deltaPq) }
    assert(eLost.getMessage.contains("no ") &&
      eLost.getMessage.contains("_graft_buckets.json"), eLost.getMessage)
    assert(spark.read.parquet(path).count() == 41, "a failed upsert leaves the table")
  }

  test("parquet table rewrites swap only through TableSwap") {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main/scala")
    val loaders = main.resolve("graft/loaders/Loaders.scala")
    val tokens = Seq("\".old\"", "\".staging\"", "fs.rename(")
    def lines(p: java.nio.file.Path) = java.nio.file.Files.readAllLines(p).asScala.toSeq
    val elsewhere = java.nio.file.Files.walk(main).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != loaders)
      .filter(p => lines(p).exists(l => tokens.exists(l.contains))).toSeq
    assert(elsewhere.isEmpty, s"table swaps outside Loaders: $elsewhere")
    val src = lines(loaders)
    val start = src.indexWhere(_.startsWith("  private final class TableSwap("))
    val end = src.indexWhere(_ == "  }", start)
    assert(start >= 0 && end > start)
    val outside = src.zipWithIndex.collect {
      case (l, i) if (i < start || i > end) && tokens.exists(l.contains) => s"${i + 1}: $l"
    }
    assert(outside.isEmpty, s"staging/.old swaps outside TableSwap: $outside")
    assert(!src.exists(_.contains("fs.open(")), "text reads go through TextFiles")
  }

  test("bucketed upsert: migrates an existing flat table once, then prunes") {
    import spark.implicits._
    val path = s"$tmp/upsert_migrate_tbl"
    // seed a NON-bucketed table via the plain upsert path
    val basePq = s"$tmp/upm_base_pq"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(basePq)
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$basePq"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$path", "mode": "upsert", "key": "id"}} }""")
    assert(!new java.io.File(s"$path/_graft_buckets.json").exists)
    // first bucketed upsert migrates the layout and merges the delta
    val deltaPq = s"$tmp/upm_delta_pq"
    Seq((2L, "B"), (3L, "c")).toDF("id", "v").write.mode("overwrite").parquet(deltaPq)
    Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$deltaPq"}},
      "extractor": {"parquet": {}},
      "loader": {"parquet": {"path": "$path", "mode": "upsert",
                             "key": "id", "buckets": 4}} }""")
    assert(new java.io.File(s"$path/_graft_buckets.json").exists)
    val out = spark.read.parquet(path).drop("__bucket")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("EtlListener: begin/loaded/end + halt callbacks fire at phase granularity") {
    val path = writeNationCsv()
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new graft.engine.EtlListener {
      override def onBegin(c: graft.engine.EtlContext): Unit = events += "begin"
      override def onLoaded(c: graft.engine.EtlContext,
          s: Option[graft.engine.EtlContext.RunStats]): Unit =
        events += s"loaded:${s.map(_.loaded).getOrElse(-1L)}"
      override def onHalt(c: graft.engine.EtlContext, r: String): Unit = events += "halt"
      override def onEnd(c: graft.engine.EtlContext): Unit = events += "end"
    }
    val ctx = newCtx()
    ctx.addListener(listener)
    Engine.runJson(ctx, s"""{
      "config": { "telemetry": true },
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "loader": { "parquet": { "path": "$tmp/listener_out" } }
    }""")
    assert(events.toSeq == Seq("begin", "loaded:25", "end"))
    events.clear()
    val ctx2 = newCtx()
    ctx2.addListener(listener)
    intercept[EtlHaltException] {
      Engine.runJson(ctx2, s"""{
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "transformers": [ { "flow": { "operation": "halt", "haltMode": "eager", "if": "n_nationkey > 3" } } ],
        "loader": { "memory": {} }
      }""")
    }
    assert(events.toSeq == Seq("begin", "halt"))
  }

  test("code JS shim: trivial record assignments translate; rich JS fails with migration hint") {
    val path = writeNationCsv()
    val out = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "Javascript",
        "code": "record.up = record.n_name.toUpperCase(); record.k2 = record.n_nationkey * 2; record;" } } ],
      "loader": { "memory": {} }
    }""")
    val r = out.filter(col("n_nationkey") === 3).head()
    assert(r.getAs[String]("up") == "NATION_3")
    assert(r.getAs[Int]("k2") == 6)
    // unlabeled legacy config that is clearly JS routes to the shim too
    val out2 = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "code": "record.tag = record.n_regionkey" } } ],
      "loader": { "memory": {} }
    }""")
    assert(out2.columns.contains("tag"))
    // non-translatable JS names the migration paths
    val e = intercept[RuntimeException] {
      Engine.runJson(newCtx(), s"""{
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "transformers": [ { "code": { "language": "Javascript",
          "code": "for (var i = 0; i < 3; i++) { print(i); }" } } ],
        "loader": { "memory": {} }
      }""")
    }
    assert(e.getMessage.contains("migration") || e.getMessage.contains("not translatable"))
    // unlabeled SQL that merely MENTIONS a `record.` alias (and is not
    // assignment-shaped) must stay on the SQL path, not misroute to the
    // JS shim — here a parenthesized query that doesn't start with SELECT
    val out3 = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "code": "(SELECT record.n_name AS nm FROM __input record WHERE record.n_nationkey = 1)" } } ],
      "loader": { "memory": {} }
    }""")
    assert(out3.columns.toSeq == Seq("nm") && out3.count() == 1)
    // an explicit non-JS language never routes to the shim ('java' used
    // to prefix-match 'j'); it falls through to the expression form
    val e2 = intercept[RuntimeException] {
      Engine.runJson(newCtx(), s"""{
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "transformers": [ { "code": { "language": "java", "code": "record.x = 1" } } ],
        "loader": { "memory": {} }
      }""")
    }
    assert(!e2.getMessage.contains("JavaScript"), s"java must not hit the JS shim: ${e2.getMessage}")
  }

  test("code JS shim: var locals and if-guarded assignments translate") {
    val path = writeNationCsv()
    val out = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "var base = record.n_nationkey * 10; var big = base >= 100 && record.n_regionkey > 1; record.scaled = base + record.n_regionkey; if (big) record.tier = 'high'; if (record.n_nationkey < 3) { record.tier = 'tiny'; } return record;" } } ],
      "loader": { "memory": {} }
    }""")
    val rows = out.select("n_nationkey", "n_regionkey", "scaled", "tier").collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val k = r.getInt(0); val reg = r.getInt(1)
      assert(r.getAs[Number]("scaled").longValue == k * 10L + reg,
        s"scaled wrong for key $k")
      val expected =
        if (k < 3) "tiny"
        else if (k * 10 >= 100 && reg > 1) "high"
        else null
      assert(r.getAs[String]("tier") == expected, s"tier wrong for key $k")
    }
    // && inside a string LITERAL is data (must not become ' AND '), a
    // local carrying a '$var' inlines without a regex group-ref crash,
    // and && outside literals still translates
    val lits = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "begin": [ { "let": { "name": "lim", "value": 20 } } ],
      "transformers": [ { "code": { "language": "javascript", "code":
        "var p = 'a && b'; var t = $$lim; record.note = p; record.under = record.n_nationkey < t && record.n_regionkey >= 0;" } } ],
      "loader": { "memory": {} }
    }""")
    val lr = lits.filter(col("n_nationkey") === 3).head()
    assert(lr.getAs[String]("note") == "a && b")
    assert(lr.getAs[Boolean]("under"))
    assert(!lits.filter(col("n_nationkey") === 24).head().getAs[Boolean]("under"))
    // else branches (braced form too) and a ';' inside a string literal
    val els = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "record.tag = 'x;y'; if (record.n_nationkey < 10) { record.side = 'low'; } else { record.side = 'high'; }" } } ],
      "loader": { "memory": {} }
    }""")
    assert(els.filter(col("n_nationkey") === 3).head().getAs[String]("tag") == "x;y")
    assert(els.filter(col("n_nationkey") === 3).head().getAs[String]("side") == "low")
    assert(els.filter(col("n_nationkey") === 15).head().getAs[String]("side") == "high")
    // an else whose condition reads the assigned column is rejected —
    // including via a DIFFERENTLY-CASED reference (Spark resolves
    // columns case-insensitively, so it would see the new value)
    def rejectCondRead(cond: String) = {
      val e = intercept[Exception] {
        Engine.runJson(newCtx(), s"""{
          "source": { "file": { "path": "$path" } },
          "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
          "transformers": [ { "code": { "language": "javascript", "code":
            "if ($cond) record.n_nationkey = 0; else record.n_nationkey = 9;" } } ],
          "loader": { "memory": {} }
        }""")
      }
      assert(e.getMessage.contains("cannot also READ"), s"for cond $cond")
    }
    rejectCondRead("record.n_nationkey > 5")
    rejectCondRead("record.N_NATIONKEY > 5")
    // …but the column NAME inside a string literal is data, not a read,
    // and an escaped quote keeps a ';' inside a literal intact
    val litName = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "record.quoted = 'it\\\\'s; n_nationkey'; if (record.n_regionkey > 2) record.side = 'hi'; else record.side = 'lo';" } } ],
      "loader": { "memory": {} }
    }""")
    val lrow = litName.filter(col("n_nationkey") === 3).head()
    assert(lrow.getAs[String]("quoted") == "it's; n_nationkey")
    assert(Set("hi", "lo").contains(lrow.getAs[String]("side")))
    // unlabeled configs with the extended shapes still route to the shim
    val out2 = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "code":
        "var d = record.n_regionkey + 1; if (record.n_nationkey > 20) record.bucket = d * 100;" } } ],
      "loader": { "memory": {} }
    }""")
    assert(out2.columns.contains("bucket"))
    val r24 = out2.filter(col("n_nationkey") === 24).head()
    assert(r24.getAs[Number]("bucket").longValue ==
      (r24.getAs[Number]("n_regionkey").longValue + 1) * 100)
  }

  test("code JS shim: for-loop unrolling, function macros, local accumulators") {
    val path = writeNationCsv()
    // loop + accumulator + dynamic bracket field: sums n_nationkey 3×
    // via record['n_' + part-name] folding and local reassignment
    val out = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "var total = 0; for (var i = 0; i < 3; i++) { total = total + record.n_nationkey + i; } record.looped = total;" } } ],
      "loader": { "memory": {} }
    }""")
    val r = out.filter(col("n_nationkey") === 4).head()
    assert(r.getAs[Number]("looped").longValue == 4 * 3 + 0 + 1 + 2)
    // function macro: single-return def inlines into later statements;
    // loop var substitutes into bracket access (record['col' + i])
    val fn = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["col0:integer", "n_name:string", "col1:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "function scale(x, f) { return x * f + 1; } for (var i = 0; i <= 1; i++) { record['s' + i] = scale(record['col' + i], 10); }" } } ],
      "loader": { "memory": {} }
    }""")
    val fr = fn.filter(col("col0") === 7).head()
    assert(fr.getAs[Number]("s0").longValue == 71L)
    assert(fr.getAs[Number]("s1").longValue ==
      fr.getAs[Number]("col1").longValue * 10 + 1)
    // a loop past the unroll cap and an unknown-local assignment both
    // fail with named errors
    def reject(code: String, needle: String) = {
      val e = intercept[Exception] {
        Engine.runJson(newCtx(), s"""{
          "source": { "file": { "path": "$path" } },
          "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
          "transformers": [ { "code": { "language": "javascript", "code": "$code" } } ],
          "loader": { "memory": {} }
        }""")
      }
      assert(e.getMessage.contains(needle), s"`$code` → ${e.getMessage}")
    }
    reject("for (var i = 0; i < 100000; i++) { record.x = i; }", "unrolls to")
    reject("ghost = 1; record.x = ghost;", "not translatable")
    // loop var does NOT capture dotted access: record.i stays a field
    val dotted = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["i:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "for (var i = 0; i < 2; i++) { record.keep = record.i; }" } } ],
      "loader": { "memory": {} }
    }""")
    assert(dotted.filter(col("i") === 5).head().getAs[Number]("keep").longValue == 5L)
    // an ARGUMENT naming a LATER parameter must not be re-substituted
    // (scale(f, 10) with params (x, f): sequential substitution would
    // corrupt it to ((10)) * (10) + 1 = 101)
    val capture = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "function scale(x, f) { return x * f + 1; } var f = 3; record.y = scale(f, 10);" } } ],
      "loader": { "memory": {} }
    }""")
    assert(capture.head().getAs[Number]("y").longValue == 31L)
    // a for-head / macro name INSIDE a string literal is data and must
    // not stop the scan from reaching the real loop and the real call
    val litskip = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "function inc(a) { return a + 1; } record.note = 'for (var i = 0; i < 9; i++) inc(1)'; for (var j = 0; j < 2; j++) { record.real = inc(record.n_nationkey); }" } } ],
      "loader": { "memory": {} }
    }""")
    val lrow2 = litskip.filter(col("n_nationkey") === 6).head()
    assert(lrow2.getAs[String]("note") == "for (var i = 0; i < 9; i++) inc(1)")
    assert(lrow2.getAs[Number]("real").longValue == 7L)
  }

  test("code JS shim: template literals expand; try/catch fails named (r18)") {
    val path = writeNationCsv()
    val out = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "var who = record.n_name; record.msg = `key=$${record.n_nationkey} name=$${who}!`; record.plain = `just; text`; record.bare = `$${record.n_regionkey}`; record.q = `it's $${1 + 1}`;" } } ],
      "loader": { "memory": {} }
    }""")
    val r = out.filter(col("n_nationkey") === 3).head()
    assert(r.getAs[String]("msg") ==
      s"key=3 name=${r.getAs[String]("n_name")}!")
    // a ';' inside a template is data (the expansion runs before the
    // statement split)
    assert(r.getAs[String]("plain") == "just; text")
    // a bare `${x}` stays a STRING (the '' seed forces concat semantics)
    assert(r.getAs[String]("bare") ==
      r.getAs[Number]("n_regionkey").toString)
    // single quotes inside the template escape into the dialect literal
    assert(r.getAs[String]("q") == "it's 2")
    // templates interpolate into conditions too
    val cond = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "if (`r$${record.n_regionkey}` === 'r2') record.hit = 1; else record.hit = 0;" } } ],
      "loader": { "memory": {} }
    }""")
    assert(cond.where(col("hit") === 1).count() ==
      cond.where(col("n_regionkey") === 2).count())
    // try/catch: LOUD named migration error, not a silent mis-parse —
    // and `try {` inside a string literal stays data
    val e = intercept[Exception] {
      Engine.runJson(newCtx(), s"""{
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "transformers": [ { "code": { "language": "javascript", "code":
          "try { record.x = 1; } catch (err) { record.x = 0; }" } } ],
        "loader": { "memory": {} }
      }""")
    }
    assert(e.getMessage.contains("try/catch") &&
      e.getMessage.contains("registerCode"), e.getMessage)
    val litTry = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "record.note = 'try { x } catch'; record.ok = 1;" } } ],
      "loader": { "memory": {} }
    }""")
    assert(litTry.head().getAs[String]("note") == "try { x } catch")
    // 'try {' as TEMPLATE text is also data (the guard scans after
    // expansion — r18 review), and \n inside a template is a real
    // newline, not the letter n
    val tmplTry = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "record.note = `try { it } later`; record.nl = `a\\\\nb`;" } } ],
      "loader": { "memory": {} }
    }""")
    val trow = tmplTry.head()
    assert(trow.getAs[String]("note") == "try { it } later")
    assert(trow.getAs[String]("nl") == "a\nb",
      s"got ${trow.getAs[String]("nl").replace("\n", "<NL>")}")
    // unterminated template fails named
    val e2 = intercept[Exception] {
      Engine.runJson(newCtx(), s"""{
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "transformers": [ { "code": { "language": "javascript", "code":
          "record.x = `oops;" } } ],
        "loader": { "memory": {} }
      }""")
    }
    assert(e2.getMessage.contains("unterminated"), e2.getMessage)
  }

  test("code JS shim: switch expands to guarded assignments; named fails (r18)") {
    val path = writeNationCsv()
    val out = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "switch (record.n_regionkey) { case 0: record.zone = 'africa'; record.prio = 1; break; case 2: record.zone = 'asia'; break; default: record.zone = 'other'; }" } } ],
      "loader": { "memory": {} }
    }""")
    val rows = out.select("n_regionkey", "zone", "prio").collect()
    rows.foreach { r =>
      val reg = r.getInt(0)
      val expected = reg match {
        case 0 => "africa"; case 2 => "asia"; case _ => "other" }
      assert(r.getAs[String]("zone") == expected, s"region $reg")
      if (reg == 0) assert(r.getAs[Number]("prio").longValue == 1L)
      else assert(r.isNullAt(r.fieldIndex("prio")), s"region $reg prio")
    }
    // a string-valued selector + 'switch (' inside a literal stays data
    val lit = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "record.note = 'switch (x) { case 1: }'; switch (record.n_name) { case 'NATION_3': record.hit = 1; break; default: record.hit = 0; }" } } ],
      "loader": { "memory": {} }
    }""")
    assert(lit.head().getAs[String]("note") == "switch (x) { case 1: }")
    assert(lit.where(col("hit") === 1).count() ==
      lit.where(col("n_name") === "NATION_3").count())
    // named fails: fall-through, non-assignment body, selector hazard
    def reject(code: String, needle: String) = {
      val e = intercept[Exception] {
        Engine.runJson(newCtx(), s"""{
          "source": { "file": { "path": "$path" } },
          "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
          "transformers": [ { "code": { "language": "javascript", "code": "$code" } } ],
          "loader": { "memory": {} }
        }""")
      }
      assert(e.getMessage.contains(needle), s"`$code` -> ${e.getMessage}")
    }
    reject("switch (record.n_regionkey) { case 0: record.z = 1; case 1: record.z = 2; break; }",
      "falls through")
    reject("switch (record.n_regionkey) { case 0: var t = 1; break; }",
      "assignments only")
    reject("switch (record.n_regionkey) { case 0: record.n_regionkey = 9; break; }",
      "which a case assigns")
    // a case VALUE reading an assigned column is the same hazard
    reject("switch (record.n_regionkey) { case 0: record.z = 1; break; case record.z: record.y = 2; break; }",
      "which a case assigns")
    // a NULL selector matches no case and runs the DEFAULT (JS
    // semantics; the guards are coalesce-null-safe)
    val nullSel = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [
        { "code": { "language": "sql", "code":
          "SELECT n_nationkey, CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey END AS reg FROM __input" } },
        { "code": { "language": "javascript", "code":
          "switch (record.reg) { case 0: record.zone = 'zero'; break; default: record.zone = 'other'; }" } } ],
      "loader": { "memory": {} }
    }""")
    nullSel.collect().foreach { r =>
      val expected =
        if (r.isNullAt(r.fieldIndex("reg"))) "other"
        else if (r.getInt(r.fieldIndex("reg")) == 0) "zero" else "other"
      assert(r.getAs[String]("zone") == expected,
        s"key ${r.getInt(0)} reg ${r.get(r.fieldIndex("reg"))}")
    }
    assert(nullSel.where(col("reg").isNull).count() > 0, "fixture needs nulls")
    // duplicate case values: FIRST match only (JS), not last-write-wins
    val dup = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "switch (record.n_regionkey) { case 0: record.x = 1; break; case 0: record.x = 2; break; default: record.x = 9; }" } } ],
      "loader": { "memory": {} }
    }""")
    assert(dup.where(col("n_regionkey") === 0).select("x").collect()
      .forall(_.getAs[Number](0).longValue == 1L), "first match wins")
  }

  test("code JS shim: switch label colon scan + case null (r19)") {
    val path = writeNationCsv()
    // an embedded ':' inside a quoted case value is DATA — the label
    // terminator scan is literal-aware (r18 advice: the old [^:]* regex
    // truncated `case 'a:b':` at the embedded colon)
    val colonCase = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [
        { "code": { "language": "sql", "code":
          "SELECT n_nationkey, n_regionkey, CASE WHEN n_regionkey = 0 THEN 'a:b' ELSE 'c' END AS tag FROM __input" } },
        { "code": { "language": "javascript", "code":
          "switch (record.tag) { case 'a:b': record.m = 1; break; default: record.m = 0; }" } } ],
      "loader": { "memory": {} }
    }""")
    colonCase.collect().foreach { r =>
      val expected = if (r.getInt(r.fieldIndex("n_regionkey")) == 0) 1L else 0L
      assert(r.getAs[Number]("m").longValue == expected, r.toString)
    }
    // a literal `case null:` matches a NULL selector (JS strict equality
    // does; `=== null` three-valued never would — r18 advice)
    val nullCase = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [
        { "code": { "language": "sql", "code":
          "SELECT n_nationkey, CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey END AS reg FROM __input" } },
        { "code": { "language": "javascript", "code":
          "switch (record.reg) { case null: record.zone = 'isnull'; break; case 0: record.zone = 'zero'; break; default: record.zone = 'other'; }" } } ],
      "loader": { "memory": {} }
    }""")
    nullCase.collect().foreach { r =>
      val expected =
        if (r.isNullAt(r.fieldIndex("reg"))) "isnull"
        else if (r.getInt(r.fieldIndex("reg")) == 0) "zero" else "other"
      assert(r.getAs[String]("zone") == expected, r.toString)
    }
    assert(nullCase.where(col("reg").isNull).count() > 0, "fixture needs nulls")
    // a ternary case value fails NAMED at the label scan, not as a
    // misleading downstream parse error
    val e = intercept[Exception] {
      Engine.runJson(newCtx(), s"""{
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "transformers": [ { "code": { "language": "javascript", "code":
          "switch (record.n_regionkey) { case record.n_nationkey > 1 ? 1 : 2: record.z = 1; break; }" } } ],
        "loader": { "memory": {} }
      }""")
    }
    assert(e.getMessage.contains("ternary case value"), e.getMessage)
  }

  test("code JS shim: for…of literal-array unroll + regex literals (r19)") {
    val path = writeNationCsv()
    def run(code: String) = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code": "$code" } } ],
      "loader": { "memory": {} }
    }""")
    // for…of over a numeric literal array + bracket folding
    val zones = run("for (var n of [0, 1, 2]) { record['zone' + n] = record.n_regionkey === n ? 1 : 0; }")
    val z3 = zones.where(col("n_regionkey") === 1).head()
    assert(z3.getAs[Number]("zone0").longValue == 0L &&
      z3.getAs[Number]("zone1").longValue == 1L &&
      z3.getAs[Number]("zone2").longValue == 0L)
    // for…of over string elements (substituted as quoted literals)
    val hits = run("record.hit = 0; for (var w of ['NATION_3', 'NATION_5']) { record.hit = record.hit + (record.n_name === w ? 1 : 0); }")
    assert(hits.where(col("hit") === 1).count() ==
      hits.where(col("n_name").isin("NATION_3", "NATION_5")).count())
    // regex literal replace with g flag; \d survives the quoting layers
    val clean = run("record.base = record.n_name.replace(/_\\\\d+$/g, '');")
    assert(clean.where(col("n_name") === "NATION_3").head()
      .getAs[String]("base") == "NATION")
    // match → plan-level truth (rlike); the i flag maps to (?i)
    val m = run("record.isn = record.n_name.match(/^nation/i) ? 1 : 0; record.has3 = record.n_name.match(/_3$/) ? 1 : 0;")
    assert(m.where(col("isn") === 1).count() == m.count())
    assert(m.where(col("has3") === 1).count() ==
      m.where(col("n_name").endsWith("_3")).count())
    // named fails: data-dependent iterable, non-g replace, bad flag,
    // invalid pattern, untranslatable replacement
    def reject(code: String, needle: String) = {
      val e = intercept[Exception](run(code))
      assert(e.getMessage.contains(needle), s"`$code` -> ${e.getMessage}")
    }
    reject("for (var x of record.tags) { record.y = 1; }", "LITERAL array")
    // an escaped quote inside a string element is DATA (r19 review: the
    // bracket scan and element split are escape-aware)
    val esc = run("record.n = 0; for (var w of ['it\\\\'s', 'b']) { record.n = record.n + 1; }")
    assert(esc.head().getAs[Number]("n").longValue == 2L)
    reject("record.x = record.n_name.replace(/a/, 'b');", "FIRST match")
    reject("record.x = record.n_name.replace(/a/gu, 'b');", "flag 'u'")
    reject("record.x = record.n_name.replace(/(a/g, 'b');", "invalid JS regex")
    reject("record.x = record.n_name.replace(/a/g, 'x$y');", "literal '$'")
  }

  test("code JS shim: ternaries, Math.*, bounded while, .length, string methods") {
    val path = writeNationCsv()
    // ternary chain (right-associative) + Math + .length property +
    // string-method surface in one script
    val out = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "record.band = record.n_nationkey < 5 ? 'low' : record.n_nationkey < 15 ? 'mid' : 'high'; record.root = Math.floor(Math.sqrt(record.n_nationkey * 100)); record.nlen = record.n_name.length; record.padded = record.n_name.padStart(12, '.'); record.isn = record.n_name.startsWith('NATION') ? 1 : 0;" } } ],
      "loader": { "memory": {} }
    }""")
    val r3 = out.filter(col("n_nationkey") === 3).head()
    assert(r3.getAs[String]("band") == "low")
    val r9 = out.filter(col("n_nationkey") === 9).head()
    assert(r9.getAs[String]("band") == "mid")
    assert(out.filter(col("n_nationkey") === 20).head().getAs[String]("band") == "high")
    assert(r9.getAs[Number]("root").longValue == 30L) // floor(sqrt(900))
    assert(r9.getAs[Number]("nlen").intValue == "NATION_9".length)
    assert(r9.getAs[String]("padded") == "....NATION_9")
    assert(r9.getAs[Number]("isn").intValue == 1)
    // padStart must NOT truncate a string already past the target width
    // (lpad would — the JS-semantics branch)
    assert(out.filter(col("n_nationkey") === 12).head()
      .getAs[String]("padded") == "...NATION_12")
    // bounded while = the for unroller in while clothing; post-loop
    // reads of the counter see its final value
    val w = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "var total = 0; var i = 0; while (i < 3) { total = total + record.n_nationkey + i; i++; } record.looped = total; record.fin = i;" } } ],
      "loader": { "memory": {} }
    }""")
    val wr = w.filter(col("n_nationkey") === 4).head()
    assert(wr.getAs[Number]("looped").longValue == 4 * 3 + 0 + 1 + 2)
    assert(wr.getAs[Number]("fin").longValue == 3L)
    def reject(code: String, needle: String) = {
      val e = intercept[Exception] {
        Engine.runJson(newCtx(), s"""{
          "source": { "file": { "path": "$path" } },
          "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
          "transformers": [ { "code": { "language": "javascript", "code": "$code" } } ],
          "loader": { "memory": {} }
        }""")
      }
      assert(e.getMessage.contains(needle), s"`$code` → ${e.getMessage}")
    }
    // a data-dependent while and Math.random both fail with named errors
    reject("var i = 0; while (i < record.n_nationkey) { record.x = i; i++; }",
      "bounded counter idiom")
    reject("record.r = Math.random();", "nondeterministic")
    // a `while(` inside a string literal is data, not a loop
    val lit = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "record.note = 'while (x < 3) { }';" } } ],
      "loader": { "memory": {} }
    }""")
    assert(lit.head().getAs[String]("note") == "while (x < 3) { }")
  }

  test("code JS shim: else-if chains, compound assignment, string + concatenation") {
    val path = writeNationCsv()
    val out = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "if (record.n_nationkey < 5) record.band = 'low'; else if (record.n_nationkey < 15) record.band = 'mid'; else record.band = 'high'; var acc = 1; acc += record.n_nationkey; acc *= 2; record.doubled = acc; record.tag = 'n=' + record.n_nationkey + '/' + record.n_name.toLowerCase();" } } ],
      "loader": { "memory": {} }
    }""")
    def band(k: Int) =
      out.filter(col("n_nationkey") === k).head().getAs[String]("band")
    assert(band(3) == "low" && band(9) == "mid" && band(20) == "high")
    val r = out.filter(col("n_nationkey") === 7).head()
    assert(r.getAs[Number]("doubled").longValue == (1 + 7) * 2)
    // JS `+` with a string operand concatenates (dialect stringy-`+`)
    assert(r.getAs[String]("tag") == "n=7/nation_7")
    // record-field compound ops and ++ expand too
    val inc = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "record.k = record.n_nationkey; record.k += 10; record.k++;" } } ],
      "loader": { "memory": {} }
    }""")
    assert(inc.filter(col("n_nationkey") === 5).head()
      .getAs[Number]("k").longValue == 16L)
    // JS strict equality and logical NOT translate (`!` outside `!=`)
    val neg = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "record.small = !(record.n_nationkey > 5); record.isone = record.n_nationkey === 1 ? 'y' : 'n'; record.notone = record.n_nationkey !== 1;" } } ],
      "loader": { "memory": {} }
    }""")
    val nr = neg.filter(col("n_nationkey") === 1).head()
    assert(nr.getAs[Boolean]("small") && nr.getAs[String]("isone") == "y" &&
      !nr.getAs[Boolean]("notone"))
    val nr7 = neg.filter(col("n_nationkey") === 7).head()
    assert(!nr7.getAs[Boolean]("small") && nr7.getAs[String]("isone") == "n" &&
      nr7.getAs[Boolean]("notone"))
    // chain guard: an earlier condition reading the assigned column is
    // rejected, not silently re-evaluated
    val e = intercept[Exception] {
      Engine.runJson(newCtx(), s"""{
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "transformers": [ { "code": { "language": "javascript", "code":
          "if (record.n_regionkey > 2) record.n_regionkey = 0; else if (record.n_nationkey > 5) record.n_regionkey = 9; else record.n_regionkey = 1;" } } ],
        "loader": { "memory": {} }
      }""")
    }
    assert(e.getMessage.contains("cannot also READ"), e.getMessage)
  }

  test("code JS shim: guard-clause functions, parenthesized ternaries, array forms") {
    val path = writeNationCsv()
    // multi-statement function: a local + early returns compile to one
    // expression (guard clauses → nested ternaries), braces allowed
    val out = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "function band(k) { var scaled = k * 2; if (scaled < 10) return 'low'; if (scaled < 30) { return 'mid'; } return 'high'; } record.band = band(record.n_nationkey);" } } ],
      "loader": { "memory": {} }
    }""")
    def band(k: Int) =
      out.filter(col("n_nationkey") === k).head().getAs[String]("band")
    assert(band(3) == "low" && band(9) == "mid" && band(20) == "high")
    // a zero-parameter function is called with an empty argument list,
    // and twenty calls in one statement all inline
    val zero = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "function k() { return 5; } record.x = k() + record.n_nationkey; record.many = ${Seq.fill(20)("k()").mkString(" + ")};" } } ],
      "loader": { "memory": {} }
    }""")
    val z = zero.filter(col("n_nationkey") === 7).head()
    assert(z.getAs[Number]("x").intValue == 12 && z.getAs[Number]("many").intValue == 100)
    // parenthesized ternary (r11 ADVICE): the inner `?:` sits one paren
    // level down and must still rewrite
    val t = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "record.t = record.n_nationkey < 10 ? (record.n_nationkey < 5 ? 'a' : 'b') : 'c';" } } ],
      "loader": { "memory": {} }
    }""")
    def tt(k: Int) = t.filter(col("n_nationkey") === k).head().getAs[String]("t")
    assert(tt(2) == "a" && tt(7) == "b" && tt(15) == "c")
    // array literal local + JS `=>` arrow .map + .join + [idx] (incl.
    // out-of-range → null, the JS-undefined contract)
    val arr = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "var xs = [record.n_nationkey, record.n_regionkey]; record.both = xs.map(v => v * 10).join('-'); record.first = [5, 6, 7][0]; record.missing = [1][4];" } } ],
      "loader": { "memory": {} }
    }""")
    val ar = arr.filter(col("n_nationkey") === 7).head()
    assert(ar.getAs[String]("both") == "70-20")
    assert(ar.getAs[Number]("first").intValue == 5)
    assert(ar.isNullAt(ar.fieldIndex("missing")))
    // function rejections stay loud: fall-through path without a
    // return, and unreachable trailing statements
    def rejectFn(code: String, needle: String) = {
      val e2 = intercept[Exception] {
        Engine.runJson(newCtx(), s"""{
          "source": { "file": { "path": "$path" } },
          "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
          "transformers": [ { "code": { "language": "javascript", "code": "$code" } } ],
          "loader": { "memory": {} }
        }""")
      }
      assert(e2.getMessage.contains(needle), s"`$code` → ${e2.getMessage}")
    }
    rejectFn("function f(x) { if (x > 0) return 1; } record.y = f(record.n_nationkey);",
      "every path")
    rejectFn("function f(x) { return 1; var z = 2; } record.y = f(record.n_nationkey);",
      "unreachable")
  }

  test("code JS shim: object literals are compile-time namespaces") {
    val path = writeNationCsv()
    val out = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "var cfg = { scale: 3, tag: 'x', base: record.n_regionkey * 10 }; record.scaled = record.n_nationkey * cfg.scale; record.lab = cfg.tag + record.n_name; record.based = cfg.base + 1;" } } ],
      "loader": { "memory": {} }
    }""")
    val r = out.filter(col("n_nationkey") === 7).head()
    assert(r.getAs[Number]("scaled").longValue == 21L)
    assert(r.getAs[String]("lab") == "xNATION_7")
    assert(r.getAs[Number]("based").longValue == 2 * 10 + 1)
    def reject(code: String, needle: String) = {
      val e = intercept[Exception] {
        Engine.runJson(newCtx(), s"""{
          "source": { "file": { "path": "$path" } },
          "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
          "transformers": [ { "code": { "language": "javascript", "code": "$code" } } ],
          "loader": { "memory": {} }
        }""")
      }
      assert(e.getMessage.contains(needle), s"`$code` → ${e.getMessage}")
    }
    reject("var o = { a: 1 }; o.a = 2; record.x = o.a;", "mutation")
    reject("var o = { a: 1 }; record.x = o.b;", "no member")
    reject("var o = { a: 1 }; record.x = o;", "VALUE")
    // a member reading another member resolves through fixpoint inlining
    val chained = Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "code": { "language": "javascript", "code":
        "var o = { a: 2, b: o.a * 10, c: o.b + o.a }; record.x = o.c;" } } ],
      "loader": { "memory": {} }
    }""")
    assert(chained.filter(col("n_nationkey") === 7).head()
      .getAs[Number]("x").longValue == 22L)
    // bare use of an EMPTY object still gets the namespace error, not a
    // NoSuchElementException from building the message
    reject("var o = {}; record.x = o;", "namespace")
  }

  test("set ops: union byName/distinct/null-fill, except(+all), intersect") {
    import spark.implicits._
    import graft.spec.ComponentSpec
    val ctx = newCtx()
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    Seq((3, "c"), (4, "d")).toDF("k", "v").createOrReplaceTempView("setops_r")
    def op(name: String, opts: (String, Any)*) =
      Engine.transformers(name)(ComponentSpec(name,
        Map[String, Any]("right" -> "setops_r") ++ opts.toMap), ctx)(df)
    assert(op("union").count() == 5) // UNION ALL default
    assert(op("union", "distinct" -> true).count() == 4)
    assert(op("except").orderBy("k").select("k").as[Int].collect().toSeq ==
      Seq(1, 2))
    assert(op("intersect").select("k").as[Int].collect().toSeq == Seq(3))
    // byName matches columns in a DIFFERENT physical order
    Seq(("e", 5)).toDF("v", "k").createOrReplaceTempView("setops_shuffled")
    val byName = Engine.transformers("union")(ComponentSpec("union",
      Map[String, Any]("right" -> "setops_shuffled")), ctx)(df)
    assert(byName.where(col("k") === 5).select("v").as[String].head() == "e")
    // exceptAll keeps multiplicity: (3,c)×2 minus one right (3,c) = one
    val dup = Seq((3, "c"), (3, "c"), (1, "a")).toDF("k", "v")
    val ea = Engine.transformers("except")(ComponentSpec("except",
      Map[String, Any]("right" -> "setops_r", "all" -> true)), ctx)(dup)
    assert(ea.orderBy("k").select("k").as[Int].collect().toSeq == Seq(1, 3))
    // allowMissingColumns null-fills the absent column
    Seq(Tuple1(7)).toDF("k").createOrReplaceTempView("setops_narrow")
    val amc = Engine.transformers("union")(ComponentSpec("union",
      Map[String, Any]("right" -> "setops_narrow",
        "allowMissingColumns" -> true)), ctx)(df)
    assert(amc.where(col("k") === 7).select("v").head().isNullAt(0))
  }

  test("semijoin/antijoin: keyed existence — no fan-out, null-key SQL semantics") {
    import spark.implicits._
    import graft.spec.ComponentSpec
    val ctx = newCtx()
    val left = Seq[(Integer, String)]((1, "x"), (2, "y"), (3, "z"),
      (null, "n")).toDF("k", "v")
    // non-unique right: key 1 appears TWICE — an inner join would fan out
    Seq(Tuple1(1), Tuple1(1), Tuple1(3)).toDF("rk").createOrReplaceTempView("sj_r")
    def op(name: String, opts: (String, Any)*) =
      Engine.transformers(name)(ComponentSpec(name,
        Map[String, Any]("right" -> "sj_r", "leftOn" -> "k",
          "rightOn" -> "rk") ++ opts.toMap), ctx)(left)
    val semi = op("semijoin")
    assert(semi.columns.toSeq == Seq("k", "v"))           // no right columns
    assert(semi.select("v").as[String].collect().sorted.toSeq == Seq("x", "z"))
    // anti keeps the null-keyed row: null never matches (safe default)
    assert(op("antijoin").select("v").as[String].collect().sorted.toSeq ==
      Seq("n", "y"))
    // nullSafe: a null on both sides matches
    Seq(Tuple1(null.asInstanceOf[Integer])).toDF("rk")
      .createOrReplaceTempView("sj_null")
    val ns = Engine.transformers("semijoin")(ComponentSpec("semijoin",
      Map[String, Any]("right" -> "sj_null", "leftOn" -> "k",
        "rightOn" -> "rk", "nullSafe" -> true)), ctx)(left)
    assert(ns.select("v").as[String].collect().toSeq == Seq("n"))
    // shared `on` spelling + missing-column guard
    val e = intercept[Exception](op("semijoin", "leftOn" -> "nope"))
    assert(e.getMessage.contains("no left column"))
  }

  test("bloomjoin: semi/anti identical to the exact joins, probe before the exchange") {
    import spark.implicits._
    import graft.spec.ComponentSpec
    val ctx = newCtx()
    // 500 left keys, 40 right keys at ~8% match rate + a null key each
    // side — bloom FPs must be removed by the exact join, null semantics
    // must match semijoin's exactly
    val left = (0 until 500).map(i => (Integer.valueOf(i % 250), s"v$i")) :+
      ((null.asInstanceOf[Integer], "vnull"))
    val leftDf = left.toDF("k", "v")
    ((0 until 40).map(i => Integer.valueOf(i * 7 % 250)) :+
      null.asInstanceOf[Integer]).toDF("rk").createOrReplaceTempView("bj_r")
    def op(name: String, opts: (String, Any)*) =
      Engine.transformers(name)(ComponentSpec(name,
        Map[String, Any]("right" -> "bj_r", "leftOn" -> "k",
          "rightOn" -> "rk") ++ opts.toMap), ctx)(leftDf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("v").as[String].collect().sorted.toSeq
    // semi and anti both row-identical to the exact stages; together
    // they partition the input
    val bSemi = rows(op("bloomjoin"))
    val bAnti = rows(op("bloomjoin", "mode" -> "anti"))
    assert(bSemi == rows(op("semijoin")))
    assert(bAnti == rows(op("antijoin")))
    assert((bSemi ++ bAnti).sorted == rows(leftDf))
    assert(bAnti.contains("vnull"), "anti keeps null-keyed rows")
    // nullSafe parity
    assert(rows(op("bloomjoin", "nullSafe" -> true)) ==
      rows(op("semijoin", "nullSafe" -> true)))
    // plan shape: the bloom probe must sit in a Filter BEFORE the join.
    // A LocalRelation input would let ConvertToLocalRelation fold the
    // probe at plan time — assert over a parquet-backed scan, the shape
    // production sees
    val pq = java.nio.file.Files.createTempDirectory("graft_bj").toString
    leftDf.write.mode("overwrite").parquet(pq)
    val plan = Engine.transformers("bloomjoin")(ComponentSpec("bloomjoin",
      Map[String, Any]("right" -> "bj_r", "leftOn" -> "k", "rightOn" -> "rk")),
      ctx)(spark.read.parquet(pq))
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloomjoin must probe the sketch in-plan:\n$plan")
    // guards
    assert(intercept[Exception](op("bloomjoin", "mode" -> "zz"))
      .getMessage.contains("semi|anti"))
    assert(intercept[Exception](op("bloomjoin", "fpp" -> "1.5"))
      .getMessage.contains("fpp"))
  }

  test("bloomjoin: type-coerced key hash, broadcast carrier, sketch-size guard") {
    import spark.implicits._
    import graft.spec.ComponentSpec
    val ctx = newCtx()
    // int left keys vs BIGINT right keys: === coerces and matches, and
    // the bloom hash must too (xxhash64 is type-sensitive — r18 fix;
    // before it, semi silently dropped every matching row)
    val left = (0 until 100).map(i => (i % 50, s"v$i")).toDF("k", "v")
    (0 until 10).map(i => (i * 5).toLong).toDF("rk")
      .createOrReplaceTempView("bj_long")
    def op(opts: (String, Any)*) =
      Engine.transformers("bloomjoin")(ComponentSpec("bloomjoin",
        Map[String, Any]("right" -> "bj_long", "leftOn" -> "k",
          "rightOn" -> "rk") ++ opts.toMap), ctx)(left)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("v").as[String].collect().sorted.toSeq
    val exact = rows(Engine.transformers("semijoin")(ComponentSpec("semijoin",
      Map[String, Any]("right" -> "bj_long", "leftOn" -> "k",
        "rightOn" -> "rk")), ctx)(left))
    assert(exact.nonEmpty, "fixture must have matches")
    assert(rows(op()) == exact)
    assert(rows(op("mode" -> "anti")) == rows(left).diff(exact))
    // forcing the BROADCAST carrier (sketchLitMaxBytes=0) changes the
    // sketch's ride, not the rows; the broadcast lands in the bounded
    // session FIFO (r18 review: run-scoped destroy is unsafe, never
    // destroying leaks — the FIFO owns the lifetime)
    val bcBefore = graft.engine.EtlContext.sessionBroadcastCount
    assert(rows(op("sketchLitMaxBytes" -> 0)) == exact)
    assert(graft.engine.EtlContext.sessionBroadcastCount > 0 ||
      bcBefore > 0, "broadcast carrier must register in the session FIFO")
    assert(rows(op("sketchLitMaxBytes" -> 0, "mode" -> "anti")) ==
      rows(left).diff(exact))
    // decimal vs double also hash-coerces (both sides widen to double)
    Seq(BigDecimal(1), BigDecimal(3)).toDF("rk")
      .createOrReplaceTempView("bj_dec")
    val dleft = Seq((1.0d, "a"), (2.0d, "b"), (3.0d, "c")).toDF("k", "v")
    val dsemi = Engine.transformers("bloomjoin")(ComponentSpec("bloomjoin",
      Map[String, Any]("right" -> "bj_dec", "leftOn" -> "k",
        "rightOn" -> "rk")), ctx)(dleft)
    assert(rows(dsemi) == Seq("a", "c"))
    // plan shape: the BCAST probe also sits in a Filter BEFORE the join
    // (parquet-backed — a LocalRelation would fold the probe at plan
    // time) and the expression names the broadcast carrier
    locally {
      val pq = java.nio.file.Files.createTempDirectory("graft_bjb").toString
      left.write.mode("overwrite").parquet(pq)
      val plan = Engine.transformers("bloomjoin")(ComponentSpec("bloomjoin",
        Map[String, Any]("right" -> "bj_long", "leftOn" -> "k",
          "rightOn" -> "rk", "sketchLitMaxBytes" -> 0)),
        ctx)(spark.read.parquet(pq))
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain_bcast"),
        s"broadcast-carrier probe must be in-plan:\n$plan")
    }
    // incompatible key types fail LOUD, not silently empty
    Seq("1", "2").toDF("rk").createOrReplaceTempView("bj_str")
    val te = intercept[Exception] {
      Engine.transformers("bloomjoin")(ComponentSpec("bloomjoin",
        Map[String, Any]("right" -> "bj_str", "leftOn" -> "k",
          "rightOn" -> "rk")), ctx)(left)
    }
    assert(te.getMessage.contains("no safe hash coercion"), te.getMessage)
    // sketch-size ceiling fails loud with the named knob
    val se = intercept[Exception](op("maxSketchBytes" -> 1))
    assert(se.getMessage.contains("maxSketchBytes"), se.getMessage)
  }

  test("dryRun: config compiles and analyzes, loader never acts") {
    val path = writeNationCsv()
    val out = s"$tmp/dryrun_out"
    Engine.runJson(newCtx(), s"""{
      "config": { "dryRun": true },
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "field": { "fieldName": "k2", "expression": "n_nationkey * 2" } } ],
      "loader": { "parquet": { "path": "$out" } }
    }""")
    assert(!new java.io.File(out).exists, "dryRun must not write the target")
    // analysis errors still surface (a bad column fails the dry run)
    val e = intercept[Exception] {
      Engine.runJson(newCtx(), s"""{
        "config": { "dryRun": true },
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "transformers": [ { "field": { "fieldName": "x", "expression": "no_such_col + 1" } } ],
        "loader": { "parquet": { "path": "$out" } }
      }""")
    }
    assert(e.getMessage != null)
    assert(!new java.io.File(out).exists)
    // loader errors fail the PRE-FLIGHT (unknown name / missing option)
    val e2 = intercept[Exception] {
      Engine.runJson(newCtx(), s"""{
        "config": { "dryRun": true },
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "loader": { "parqet": { "path": "$out" } }
      }""")
    }
    assert(e2.getMessage.contains("unknown loader"), e2.getMessage)
    val e3 = intercept[Exception] {
      Engine.runJson(newCtx(), s"""{
        "config": { "dryRun": true },
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "loader": { "parquet": { "mode": "upsert" } }
      }""")
    }
    assert(e3.getMessage.contains("path required"), e3.getMessage)
    // every loader's required options fail the pre-flight, not the run
    for ((loader, missing) <- Seq("""{ "graph": {} }""" -> "graph loader: path required",
        """{ "jdbc": { "table": "t" } }""" -> "jdbc loader: url required",
        """{ "jdbc": { "url": "jdbc:derby:memory:x" } }""" -> "jdbc loader: table required",
        """{ "orientdb": { "dbType": "graph" } }""" -> "orientdb loader: dbURL required")) {
      val e4 = intercept[Exception] {
        Engine.runJson(newCtx(), s"""{
          "config": { "dryRun": true },
          "source": { "file": { "path": "$path" } },
          "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
          "loader": $loader
        }""")
      }
      assert(e4.getMessage.contains(missing), e4.getMessage)
    }
    // side-effecting begin/end blocks do NOT run (let blocks DO — their
    // bindings shape the plan); a dry run followed by a REAL run on the
    // same context works (no stale observe checks poison it)
    val ctx = newCtx()
    var fired = 0
    Engine.registerCode("dry_block")(df => { fired += 1; df })
    Engine.runJson(ctx, s"""{
      "config": { "dryRun": true },
      "begin": [ { "code": { "ref": "dry_block" } },
                 { "let": { "name": "bump", "value": 5 } } ],
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [
        { "field": { "fieldName": "k2", "expression": "n_nationkey + $$bump" } },
        { "block": { "code": { "ref": "dry_block" } } },
        { "log": { "prefix": "dryrun" } } ],
      "loader": { "parquet": { "path": "$out" } },
      "end": [ { "code": { "ref": "dry_block" } } ]
    }""")
    assert(fired == 0,
      "side-effecting blocks (begin/mid-pipeline/end) must not run under dryRun")
    assert(!new java.io.File(out).exists)
    val real = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "log": { "prefix": "realrun" } } ],
      "loader": { "memory": {} }
    }""")
    assert(real.count() > 0)
  }

  test("telemetry: extract/load rows-per-sec stats ride the loader action") {
    val path = writeNationCsv()
    val ctx = newCtx()
    val out = s"$tmp/telemetry_out"
    Engine.runJson(ctx, s"""{
      "config": { "telemetry": true },
      "source": { "file": { "path": "$path" } },
      "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
      "transformers": [ { "flow": { "operation": "skip", "if": "n_nationkey >= 20" } } ],
      "loader": { "parquet": { "path": "$out" } }
    }""")
    val stats = ctx.lastStats.getOrElse(fail("no RunStats recorded"))
    assert(stats.extracted == 25L)
    assert(stats.loaded == 20L) // 5 rows skipped between the two probes
    assert(stats.elapsedMs >= 0L)
    // the QUERYABLE one-row artifact (r18 — listener-intent parity):
    // same counters as data, warnings/errors from the accumulators
    val row = ctx.statsFrame()
      .select("rows_extracted", "rows_loaded", "warnings", "errors")
      .collect().head
    assert(row.getLong(0) == 25L && row.getLong(1) == 20L)
    assert(row.getLong(2) == 0L && row.getLong(3) == 0L)
    // a fresh context without a telemetry run fails loud, naming the knob
    val bare = newCtx()
    val e = intercept[Exception](bare.statsFrame())
    assert(e.getMessage.contains("telemetry"), e.getMessage)
    // warnings are PER-RUN deltas on a reused context (r18 review): two
    // identical WARNING-link runs each report their own count, not the
    // accumulated total
    val shared = newCtx()
    def warnRun(): Long = {
      val out2 = java.nio.file.Files.createTempDirectory("graft_stats2").toString
      Engine.runJson(shared, s"""{
        "config": { "telemetry": true },
        "source": { "file": { "path": "$path" } },
        "extractor": { "csv": { "columns": ["n_nationkey:integer", "n_name:string", "n_regionkey:integer"] } },
        "transformers": [ { "link": { "joinFieldName": "n_regionkey",
          "lookup": "SELECT 0 AS rk", "linkFieldName": "lnk",
          "unresolvedLinkAction": "WARNING" } } ],
        "loader": { "parquet": { "path": "$out2" } }
      }""")
      shared.statsFrame().select("warnings").collect().head.getLong(0)
    }
    val w1 = warnRun()
    val w2 = warnRun()
    assert(w1 > 0, "fixture must produce unresolved links")
    assert(w2 == w1, s"per-run delta, not cumulative: $w2 vs $w1")
  }

  test("streaming telemetry: per-batch rows/sec rows for a 2-batch availableNow run") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_telemetry").toString
    // two separate single-file writes + maxFilesPerTrigger=1 → exactly
    // two non-empty micro-batches under availableNow
    (1L to 30L).map(i => (i, i * 2.0)).toDF("event_id", "value")
      .coalesce(1).write.parquet(s"$dir/a")
    (31L to 50L).map(i => (i, i * 2.0)).toDF("event_id", "value")
      .coalesce(1).write.parquet(s"$dir/b")
    val ctx = newCtx()
    val q = graft.streaming.Streaming.run(ctx, graft.spec.PipelineSpec(
      config = Map("telemetry" -> true), begin = Nil,
      source = Some(graft.spec.ComponentSpec("stream", Map(
        "path" -> dir, "format" -> "parquet", "recursiveFileLookup" -> "true",
        "schema" -> "event_id BIGINT, value DOUBLE",
        "maxFilesPerTrigger" -> "1"))),
      extractor = None, transformers = Nil,
      loader = Some(graft.spec.ComponentSpec("streamsink", Map(
        "format" -> "memory", "name" -> "telemetry_probe",
        "trigger" -> "availableNow"))),
      end = Nil))
    q.awaitTermination()
    // listener events are bus-async; give the final batch a beat
    val deadline = System.nanoTime() + 10_000_000_000L
    while (ctx.streamStats.count(_.inputRows > 0) < 2 &&
           System.nanoTime() < deadline) Thread.sleep(50)
    val batches = ctx.streamStats.filter(_.inputRows > 0)
    assert(batches.size == 2, s"expected 2 data batches, got $batches")
    assert(batches.map(_.inputRows).sum == 50L)
    assert(batches.map(_.batchId).distinct.size == 2)
    assert(batches.forall(b => b.rowsPerSec >= 0 && b.batchDurationMs >= 0))
    assert(spark.table("telemetry_probe").count() == 50L)
  }

  test("histogram excludes nulls; topkpergroup rejects non-numeric fields") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (5L, "b"), (null, "c"))
      .toDF("v", "s")
    val hist = graft.stages.Stages.histogram(graft.spec.ComponentSpec("histogram",
      Map("field" -> "v", "min" -> "0", "max" -> "10", "buckets" -> 2)), newCtx())(df)
    // null row excluded — NOT silently binned into bucket 0
    assert(hist.agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0) == 2L)
    val e = intercept[IllegalArgumentException] {
      graft.stages.Stages.topkPerGroup(graft.spec.ComponentSpec("topkpergroup",
        Map("groupBy" -> Seq("v"), "scoreField" -> "v", "idField" -> "s")),
        newCtx())(df)
    }
    assert(e.getMessage.contains("idField"))
  }

  test("csv errorStats: bad cell drops the field, keeps the row, bumps the counter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dirty").toFile
    val path = s"$dir/dirty.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      "id,name,score\n1,a,10\n2,b,oops\n3,,30\n4,d,nope\n")
    val ctx = newCtx()
    val out = Engine.runJson(ctx, s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "row": {} },
      "transformers": [{ "csv": { "errorStats": true,
        "columns": ["id:integer", "name:string", "score:integer"] } }],
      "loader": { "memory": {} } }""")
    // one terminal action, NO orderBy: the range partitioner's sampling
    // pass would execute the observe subtree a second time and
    // double-count (same reason Engine.run drains after the loader's
    // single write action) — sort driver-side instead
    val rows = out.collect().sortBy(_.getAs[Int]("id"))
    ctx.drainChecks()
    // rows kept, only the malformed cells nulled
    assert(rows.length == 4)
    assert(rows.map(r => Option(r.getAs[Any]("score"))).toSeq ==
      Seq(Some(10), None, Some(30), None))
    assert(ctx.errors.value == 2L) // 'oops' and 'nope'; empty name is NOT an error
  }

  test("quarantinePath: flagged rows divert with error detail; main write is clean") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_quar").toFile
    val path = s"$dir/dirty.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      "id,name,score\n1,a,10\n2,b,oops\n3,,30\n4,d,nope\n")
    val main = s"$dir/main_pq"; val q = s"$dir/bad_pq"
    Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "row": {} },
      "transformers": [{ "csv": { "errorField": "__errors",
        "columns": ["id:integer", "name:string", "score:integer"] } }],
      "loader": { "parquet": { "path": "$main", "quarantinePath": "$q" } } }""")
    // main: only clean rows, no error column
    val kept = spark.read.parquet(main)
    assert(kept.columns.toSet == Set("id", "name", "score"))
    assert(kept.select("id").as[Int].collect().sorted.toSeq == Seq(1, 3))
    // quarantine: the flagged rows WITH the failing field names
    val bad = spark.read.parquet(q)
      .select(col("id"), concat_ws(",", col("__errors")).as("e"))
      .as[(Int, String)].collect().toMap
    assert(bad == Map(2 -> "score", 4 -> "score"))
    // a typo'd quarantineField fails loud, not silently-empty
    val e = intercept[Exception] { Engine.runJson(newCtx(), s"""{
      "source": { "file": { "path": "$path" } },
      "extractor": { "row": {} },
      "transformers": [{ "csv": {
        "columns": ["id:integer", "name:string", "score:integer"] } }],
      "loader": { "parquet": { "path": "$main", "quarantinePath": "$q" } } }""") }
    assert(e.getMessage.contains("no error column"), e.getMessage)
  }

  test("GraftExtensions: native functions callable from pure SQL (no ensure())") {
    // a new session starts with the built-ins plus what the extension
    // injects — none of the temp functions that earlier ensure() calls
    // left in the shared session
    val s = spark.newSession()
    val names = graft.functions.NativeFunctions.all.map(_.name)
    val listed = s.sql("SHOW FUNCTIONS LIKE 'graft_*'").collect().map(_.getString(0)).toSet
    assert(names.filterNot(listed).isEmpty, s"missing from pure SQL: ${names.filterNot(listed)}")
    assert(names.size == 35 && names.distinct == names)
    val r = s.sql(
      """SELECT graft_simhash64('a b c') AS sh,
        |       graft_array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        |       size(graft_minhash_sig(graft_shingle_hashes('a b c d', 3), 16)) AS nsig,
        |       graft_langid('Er ging gestern nach Hause und kaufte Brot.') AS lang
        |""".stripMargin).head()
    assert(r.getDouble(1) == 11.0)
    assert(r.getInt(2) == 16)
    assert(r.getString(3) == "de")
  }

  test("csv ingest hardening: single-bound skips, quoted headers, skipFirst, no _row_num leak") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csvharden").toFile
    // quoted header with an embedded separator + quote chars
    val p1 = s"$dir/quoted.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p1),
      "\"id\",\"name, full\"\n1,\"a, b\"\n2,c\n")
    val out1 = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$p1"}},
      "extractor": {"row": {}},
      "transformers": [{"csv": {}}],
      "loader": {"memory": {}} }""")
    assert(out1.columns.toSeq == Seq("id", "name, full"))
    assert(out1.count() == 2)
    // skipFrom with NO skipTo skips to end-of-stream; header precedes it
    val p2 = s"$dir/tail.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p2),
      "id,v\n1,a\n2,b\n3,c\n")
    val out2 = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$p2"}},
      "extractor": {"row": {}},
      "transformers": [{"csv": {"skipFrom": 3, "columns": ["id:integer", "v:string"]}}],
      "loader": {"memory": {}} }""")
    assert(out2.select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // skipFirst: header learned from the stream AFTER the skip, and the
    // internal _row_num never reaches the output schema
    val p3 = s"$dir/skipfirst.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p3),
      "garbage preamble\njunk\nid,v\n7,x\n8,y\n")
    val out3 = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$p3", "skipFirst": 2}},
      "extractor": {"row": {}},
      "transformers": [{"csv": {}}],
      "loader": {"memory": {}} }""")
    assert(out3.columns.toSeq == Seq("id", "v"))
    assert(out3.count() == 2)
    // rename: reserved component options (if/output/log) are not rename
    // pairs — a data column named `log` must survive untouched
    val renamed = graft.stages.Stages.rename(
      graft.spec.ComponentSpec("rename",
        Map("a" -> "b", "if" -> "a is not null", "log" -> "debug")),
      newCtx())(spark.range(1).selectExpr("id as a", "id as log"))
    assert(renamed.columns.toSet == Set("b", "log"))
  }

  test("csv/jsonl export loaders: tricky values round-trip losslessly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_export").toString
    val src = Seq(
      (1, "has,comma", Some("x")),
      (2, "has\"quote", None),
      (3, " padded ", Some("NULLISH")),
      (4, "", Some("y"))).toDF("id", "s", "opt")
    val ctx = newCtx()
    ctx.registerTable("export_src", src)
    graft.loaders.Loaders.load(ctx, graft.spec.ComponentSpec("csv",
      Map("path" -> s"$dir/csv", "nullValue" -> "\\N")), src)
    val backCsv = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$dir/csv"}},
      "extractor": {"row": {}},
      "transformers": [{"csv": {"nullValue": "\\\\N",
        "columns": ["id:integer", "s:string", "opt:string"]}}],
      "loader": {"memory": {}} }""").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)).getOrElse(""),
        Option(r.getString(2)))).toSet
    // Spark's csv writer emits nothing for "" (reads back as null) —
    // normalize both to "" for the comparison; null opt rides nullValue
    assert(backCsv == Set(
      (1, "has,comma", Some("x")), (2, "has\"quote", None),
      (3, " padded ", Some("NULLISH")), (4, "", Some("y"))))
    graft.loaders.Loaders.load(ctx, graft.spec.ComponentSpec("jsonl",
      Map("path" -> s"$dir/json")), src)
    val backJson = Engine.runJson(newCtx(), s"""{
      "source": {"file": {"path": "$dir/json"}},
      "extractor": {"jsonl": {}},
      "loader": {"memory": {}} }""").select("id", "s", "opt").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(backJson == Set(
      (1L, "has,comma", Some("x")), (2L, "has\"quote", None),
      (3L, " padded ", Some("NULLISH")), (4L, "", Some("y"))))
  }

  test("run-scoped persist lifecycle: acted release, bounded session adoption") {
    import graft.engine.EtlContext
    import org.apache.spark.storage.StorageLevel
    import SparkSpec.spark.implicits._
    // direct contract: releaseCache unpersists every registered frame
    val ctx = newCtx()
    val df = Seq(1, 2, 3).toDF("x").persist()
    ctx.registerPersisted(df)
    df.count()
    assert(df.storageLevel.useMemory)
    ctx.releaseCache()
    assert(df.storageLevel == StorageLevel.NONE)
    // session registry: FIFO capped at 16, eviction unpersists oldest
    EtlContext.clearSessionCache()
    val frames = (1 to 20).map(i => spark.range(i.toLong).toDF().persist())
    EtlContext.adoptSessionPersisted(frames)
    assert(EtlContext.sessionCacheSize == 16)
    assert(frames.take(4).forall(_.storageLevel == StorageLevel.NONE))
    assert(frames.drop(4).forall(_.storageLevel.useMemory))
    EtlContext.clearSessionCache()
    assert(frames.forall(_.storageLevel == StorageLevel.NONE))
    assert(EtlContext.sessionCacheSize == 0)
    // engine path: a memory-loader (plan-handoff) traversal whose
    // keyedByTid persists land in the SESSION registry, not the run
    // ctx — the action runs later, outside the engine
    val before = EtlContext.sessionCacheSize
    val gctx = newCtx()
    val out = Engine.runJson(gctx, s"""{
      "source": {"file": {"path": "$sfDir/customer.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [
        {"code": {"language": "sql", "code":
          "SELECT *, CASE WHEN c_custkey % 2 = 1 THEN NULL ELSE c_custkey + 1 END AS succ FROM __input"}},
        {"vertex": {"class": "customer", "idField": "c_custkey"}},
        {"edge": {"joinFieldName": "succ", "lookup": "customer.c_custkey",
                  "class": "next", "direction": "out"}},
        {"command": {"command": "g.V().coalesce(out('next'), has('id'))"}}],
      "loader": {"memory": {}} }""")
    assert(EtlContext.sessionCacheSize > before)
    assert(out.count() > 0) // handoff plan still acts fine after adoption
    EtlContext.clearSessionCache()
  }
}
