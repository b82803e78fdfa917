package graft

import graft.sources.Zip
import graft.spec.ComponentSpec

/** ZIP extractor: the walk is checked against archives produced by an
  * INDEPENDENT writer (java.util.zip), plus typed-failure cases. */
class ZipSpec extends SparkSpec {
  import spark.implicits._

  private def buildZip(entries: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, body, stored) =>
      val e = new java.util.zip.ZipEntry(name)
      if (stored) {
        e.setMethod(java.util.zip.ZipEntry.STORED)
        e.setSize(body.length)
        val c = new java.util.zip.CRC32(); c.update(body); e.setCrc(c.getValue)
      }
      zos.putNextEntry(e); zos.write(body); zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  test("zip: stored + deflate members round-trip; directories skipped; CRC verified") {
    val a = "alpha body text".getBytes("UTF-8")
    val b = ("bravo " * 50).getBytes("UTF-8")
    val z = buildZip(Seq(("d/", Array.emptyByteArray, false),
      ("a.txt", a, true), ("sub/b.txt", b, false)))
    val rows = Zip.parseFile("t.zip", z, verifyCrc = true).toSeq
    assert(rows.map(_.member) == Seq("a.txt", "sub/b.txt"))
    assert(rows.head.method == "stored" && rows(1).method == "deflate")
    assert(rows.head.body.toSeq == a.toSeq && rows(1).body.toSeq == b.toSeq)
    assert(rows.map(_.size) == Seq(a.length.toLong, b.length.toLong))
    assert(rows(1).compressed < b.length, "deflate should compress the repetition")
    // corrupt one data byte of the deflate member → loud (corrupt or CRC)
    val bad = z.clone()
    // flip a byte inside b's compressed data: locate after 'sub/b.txt'
    val idx = new String(z, java.nio.charset.StandardCharsets.ISO_8859_1)
      .indexOf("sub/b.txt") + "sub/b.txt".length + 5
    bad(idx) = (bad(idx) ^ 0x55).toByte
    val e = intercept[RuntimeException](
      Zip.parseFile("t.zip", bad, verifyCrc = true).toSeq)
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("corrupt") ||
      e.getMessage.contains("truncated") || e.getMessage.contains("inflated"),
      e.getMessage)
    // not a zip → named fail
    val e2 = intercept[RuntimeException](
      Zip.parseFile("t.zip", "plain text, no archive here".getBytes, verifyCrc = true).toSeq)
    assert(e2.getMessage.contains("end-of-central-directory"), e2.getMessage)
    // a few-byte member whose central directory declares ~2 GiB: the
    // output buffer grows from what inflates, never from the declared size
    val huge = buildZip(Seq(("h.txt", "tiny".getBytes("UTF-8"), false)))
    val cd = new String(huge, java.nio.charset.StandardCharsets.ISO_8859_1).indexOf("PK\u0001\u0002")
    java.nio.ByteBuffer.wrap(huge, cd + 24, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(0x7FFFFFF0)
    val e3 = intercept[RuntimeException](Zip.parseFile("h.zip", huge, verifyCrc = true).toSeq)
    assert(e3.getMessage.contains("inflated to 4 bytes, central directory says 2147483632"),
      e3.getMessage)
  }

  test("container loaders: append runs keep every run's rows, overwrite keeps the last") {
    import graft.sources.{Avro, Tar}
    def run(n: Int, tag: String) =
      (1 to n).map(i => (s"$tag/$i.txt", s"$tag body $i")).toDF("member", "body").repartition(2)
    val loaders = Seq[(String, Map[String, Any], String,
        (org.apache.spark.sql.DataFrame, String, ComponentSpec) => Unit,
        String => org.apache.spark.sql.DataFrame)](
      ("avro", Map(), ".avro", Avro.write, Avro.read(spark, _, ComponentSpec("avro", Map()))),
      ("tar", Map(), ".tar", Tar.write, Tar.read(spark, _, ComponentSpec("tar", Map()))),
      ("tar", Map("gzip" -> true), ".tar.gz", Tar.write,
        Tar.read(spark, _, ComponentSpec("tar", Map()))),
      ("zip", Map(), ".zip", Zip.write, Zip.read(spark, _, ComponentSpec("zip", Map()))))
    for ((name, opts, ext, write, read) <- loaders) {
      def spec(more: (String, Any)*) = ComponentSpec(name, opts ++ more)
      val dir = java.nio.file.Files.createTempDirectory(s"graft_${name}_modes").toString
      def members(at: String = dir) = read(at).select("member").as[String].collect().toSet
      val append = spec("mode" -> "append")
      write(run(6, "first"), dir, append)
      write(run(4, "second"), dir, append)
      assert(members() == (1 to 6).map(i => s"first/$i.txt").toSet ++
        (1 to 4).map(i => s"second/$i.txt"), name)
      write(run(3, "third"), dir, spec())
      assert(members() == (1 to 3).map(i => s"third/$i.txt").toSet, name)
      val e = intercept[RuntimeException](
        write(run(1, "x"), dir, spec("mode" -> "ignore")))
      assert(e.getMessage.contains(s"$name loader: mode must be overwrite or append"),
        e.getMessage)
      // a file: URI target lands where the extractor reads it (not under a
      // relative directory named "file:"), overwrite included
      val uri = s"file:$dir/uri"
      write(run(5, "old"), uri, spec())
      write(run(2, "uri"), uri, spec())
      assert(members(uri) == Set("uri/1.txt", "uri/2.txt"), s"$name $ext")
      val shards = new java.io.File(s"$dir/uri").list().filterNot(_.startsWith("."))
      assert(shards.nonEmpty && shards.forall(_.endsWith(ext)), shards.toSeq)
    }
  }

  test("zip loader: rolling shards; independent java.util.zip reader agrees") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zipload").toString
    val rows = (1 to 30).map(i => (s"doc/$i.txt", ("z" * 700) + s"#$i"))
    graft.sources.Zip.write(rows.toDF("member", "body"), dir,
      ComponentSpec("zip", Map("maxShardBytes" -> 8192L)))
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".zip"))
    assert(files.length > 1, s"8 KiB shards over ~21 KiB payload must roll: ${files.length}")
    // our central-directory walk reads every row back exactly once
    val back = graft.sources.Zip.read(spark, dir, ComponentSpec("zip", Map()))
      .selectExpr("member", "cast(body as string)")
      .as[(String, String)].collect().toSet
    assert(back == rows.toSet)
    // the INDEPENDENT reader (java.util.zip.ZipFile) sees the same
    // members with matching bytes — two implementations agree each way
    val viaJdk = files.flatMap { f =>
      val zf = new java.util.zip.ZipFile(f)
      try {
        val es = zf.entries()
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        while (es.hasMoreElements) {
          val e = es.nextElement()
          val in = zf.getInputStream(e)
          buf += ((e.getName, new String(in.readAllBytes(), "UTF-8")))
          in.close()
        }
        buf
      } finally zf.close()
    }.toSet
    assert(viaJdk == rows.toSet)
  }

  test("zip extractor: engine pipeline + memberGlob filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zipspec").toString
    val z = buildZip(Seq(("x/a.txt", "AAA".getBytes, false),
      ("x/b.log", "BBB".getBytes, false)))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "one.zip"), z)
    val all = Zip.read(spark, dir, ComponentSpec("zip", Map()))
    assert(all.count() == 2)
    val txt = Zip.read(spark, dir,
      ComponentSpec("zip", Map("memberGlob" -> "*.txt")))
      .select("member").as[String].collect().toSeq
    assert(txt == Seq("x/a.txt"))
  }
}
