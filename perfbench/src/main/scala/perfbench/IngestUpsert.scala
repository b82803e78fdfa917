package perfbench

import graft.engine.{Engine, EtlContext}
import graft.spec.PipelineSpec
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** `ingest_upsert`: one op is one batch pipeline run — a CSV delta
  * through the fused typed `csv` scan, `field` expressions with `if`, a
  * `flow` skip and a broadcast `link` to a small dimension, loaded by
  * the bucketed parquet upsert into a target of `baseRows` keys. The
  * deltas touch every bucket, so each op takes the rewrite path.
  *
  * Truth: the generator applies the same semantics to its own per-key
  * row checksums, so the expected order-independent checksum and row
  * count of the target are known after every op. */
final class IngestUpsert(env: Env) extends ClosedLoop(env) {
  private val smoke = env.args.smoke
  private val baseRows = if (smoke) 20000 else 300000
  private val deltaRows = if (smoke) 2000 else 50000
  private val buckets = 8
  private val rng = env.rng
  private val regions = (0 until 64).map(i => f"r$i%02d")
  // four codes are missing from the dimension: their links stay null
  private val dimCodes = regions.take(60).toSet
  private val target = env.path("target")
  private val dim = env.path("regions.parquet")

  private val truth = new Truth
  private var nextId = 0L
  private var deltaPath = ""

  private def pipeline(csvPath: String): String =
    s"""{
      "config": {"telemetry": true},
      "source": {"file": {"path": ${Json.str(csvPath)}}},
      "extractor": {"row": {}},
      "transformers": [
        {"csv": {"columns": ["id:long", "region:string", "amount:long",
                             "status:string", "note:string"]}},
        {"field": {"fieldName": "tier",
                   "expression": "if(amount > 5000, 'high', 'low')"}},
        {"field": {"fieldName": "amount", "expression": "amount * 2",
                   "if": "status = 'promo'"}},
        {"flow": {"operation": "skip", "if": "status = 'void'"}},
        {"link": {"joinFieldName": "region", "linkFieldName": "region_ref",
                  "lookup": ${Json.str(s"SELECT code FROM parquet.`$dim`")}}}
      ],
      "loader": {"parquet": {"path": ${Json.str(target)}, "mode": "upsert",
                             "key": "id", "buckets": $buckets}}
    }"""

  private val statuses = Array("new", "paid", "promo", "void")

  /** Write one CSV delta of distinct keys — a share `updateFrac` of
    * them existing, the rest new — and apply it to the truth. */
  private def writeDelta(name: String, rows: Int, updateFrac: Double): (String, Long) = {
    val f = new java.io.File(env.dir, name)
    val sb = new java.lang.StringBuilder(rows * 40)
    sb.append("id,region,amount,status,note\n")
    val seen = new java.util.HashSet[java.lang.Long]()
    var r = 0
    while (r < rows) {
      val id =
        if (nextId > 0 && rng.nextDouble() < updateFrac) rng.nextLong(nextId)
        else { nextId += 1; nextId - 1 }
      if (seen.add(id)) {
        val region = regions(rng.nextInt(regions.size))
        val amount = rng.nextLong(10000)
        val status = statuses(rng.nextInt(20) match {
          case 0 => 3 // 5% void
          case k if k < 4 => 2 // 15% promo
          case k => k % 2
        })
        val note = s"n${rng.nextInt(1000000)}"
        sb.append(id).append(',').append(region).append(',').append(amount)
          .append(',').append(status).append(',').append(note).append('\n')
        if (status != "void") {
          val tier = if (amount > 5000) "high" else "low"
          val amt = if (status == "promo") amount * 2 else amount
          val ref = if (dimCodes(region)) region else "~"
          truth.put(id, s"$id|$region|$amt|$status|$note|$tier|$ref")
        }
        r += 1
      }
    }
    val bytes = sb.toString.getBytes("UTF-8")
    java.nio.file.Files.write(f.toPath, bytes)
    (f.getPath, bytes.length.toLong)
  }

  private def runPipeline(csv: String): Unit = {
    val ctx = new EtlContext(env.spark)
    env.tracer.foreach(_.attach(ctx))
    val spec = env.span("spec.parse")(PipelineSpec.parse(pipeline(csv)))
    env.tracer.foreach(_.noteSpec(spec))
    env.span("engine.run")(Engine.run(ctx, spec))
    env.tracer.foreach(_.noteContext(ctx))
  }

  def setup(): Unit = {
    import env.spark.implicits._
    regions.take(60).toDF("code").coalesce(1).write.parquet(dim)
    val (base, _) = writeDelta("base.csv", baseRows, 0.0)
    runPipeline(base) // first write: creates the bucketed target
    // warm-up: two small deltas, so the timed ops find the JIT settled;
    // the base run has already taken the scan and expressions through a
    // full-size input, and every delta rewrites the whole target
    (1 to 2).foreach { w =>
      val (warm, _) = writeDelta(s"warm-$w.csv", deltaRows / 5, 0.7)
      runPipeline(warm)
      new java.io.File(warm).delete()
    }
    require(checkTarget(), "ingest_upsert: warm-up output check failed")
  }

  override def prepare(i: Int): Unit = {
    val (p, b) = writeDelta(s"delta-$i.csv", deltaRows, 0.7)
    deltaPath = p
    env.tracer.foreach(_.setDeltaBytes(b))
  }

  def op(i: Int): Long = { runPipeline(deltaPath); deltaRows.toLong }

  def check(i: Int): Boolean = {
    new java.io.File(deltaPath).delete()
    checkTarget()
  }

  private def checkTarget(): Boolean =
    truth.matches(env.spark.read.parquet(target),
      Seq(col("id").cast("string"), col("region"), col("amount").cast("string"),
        col("status"), col("note"), col("tier"), coalesce(col("region_ref"), lit("~"))),
      bump = "amount", env.perturb, "ingest_upsert target")
}
