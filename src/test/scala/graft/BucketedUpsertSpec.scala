package graft

import graft.loaders.Loaders
import graft.spec.ComponentSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The bucketed upsert costs the delta, not the table: past 32 bucket
  * dirs a read of the table root starts a job that lists every dir, so a
  * one-key delta must read its bucket through the schema the sidecar
  * records, and write it back as one file. */
class BucketedUpsertSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft_bucketed_upsert").toString
  private val Listing = "Listing leaf files"

  /** A 40-bucket table of ids 1..400 at `name`. */
  private def seeded(name: String): ComponentSpec = {
    val spec = ComponentSpec("parquet", Map("mode" -> "upsert", "key" -> "id",
      "buckets" -> 40, "path" -> s"$tmp/$name"))
    Loaders.upsertDelta(newCtx(), spec, (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v"))
    spec
  }

  /** The stage rows (each naming its job) of one upsert of `delta`. */
  private def upsertStages(spec: ComponentSpec, delta: DataFrame): Seq[String] = {
    val meter = new QueryMeter(spark, detail = true)
    try {
      val m = meter.measure(delta, Loaders.upsertDelta(newCtx(), spec, _): Unit)
      m.error.foreach(e => throw e)
      m.stageRows
    } finally meter.close()
  }

  private def path(spec: ComponentSpec) = spec.str("path").get
  private def sidecar(spec: ComponentSpec) = Paths.get(path(spec), "_graft_buckets.json")
  private def table(spec: ComponentSpec): Map[Long, String] =
    spark.read.parquet(path(spec)).drop("__bucket").as[(Long, String)].collect().toMap
  private def bucketOf(id: Long): Int =
    Seq(Tuple1(id)).toDF("id").select(pmod(hash(col("id")), lit(40))).head.getInt(0)
  private def dataFiles(spec: ComponentSpec, bucket: Int): Seq[String] =
    new java.io.File(s"${path(spec)}/__bucket=$bucket").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSeq

  test("40-bucket upsert: a one-key delta lists no partition and writes one file") {
    val spec = seeded("wide")
    val stages = upsertStages(spec, Seq((7L, "UPDATED")).toDF("id", "v"))
    assert(!stages.exists(_.contains(Listing)), stages.mkString("\n"))
    assert(dataFiles(spec, bucketOf(7L)).size == 1)
    val out = table(spec)
    assert(out.size == 400 && out(7L) == "UPDATED" && out(8L) == "v8")
  }

  test("a sidecar without a schema is read once through the root, then records it") {
    val spec = seeded("preschema")
    // the sidecar as written before the schema was recorded
    Files.writeString(sidecar(spec), """{"key":"id","buckets":40}""")
    Files.deleteIfExists(Paths.get(path(spec), "._graft_buckets.json.crc"))
    val first = upsertStages(spec, Seq((7L, "A")).toDF("id", "v"))
    assert(first.exists(_.contains(Listing)), first.mkString("\n"))
    assert(Files.readString(sidecar(spec)).contains("\"schema\""))
    val second = upsertStages(spec, Seq((8L, "B")).toDF("id", "v"))
    assert(!second.exists(_.contains(Listing)), second.mkString("\n"))
    val out = table(spec)
    assert(out.size == 400 && out(7L) == "A" && out(8L) == "B" && out(9L) == "v9")
  }

  test("a crash after the sidecar was moved aside: the next upsert restores it") {
    val spec = seeded("crash")
    val recorded = Files.readString(sidecar(spec))
    // a partial swap died after moving the live sidecar into `.old`,
    // before the staged one was renamed in
    val old = Files.createDirectories(Paths.get(path(spec) + ".old"))
    Seq("_graft_buckets.json", "._graft_buckets.json.crc").map(Paths.get(path(spec), _))
      .filter(Files.exists(_))
      .foreach(f => Files.move(f, old.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
    Loaders.upsertDelta(newCtx(), spec, Seq((7L, "UPDATED")).toDF("id", "v"))
    assert(Files.readString(sidecar(spec)) == recorded)
    assert(!Files.exists(old), "recovery copy cleaned")
    val out = table(spec)
    assert(out.size == 400 && out(7L) == "UPDATED")
  }
}
