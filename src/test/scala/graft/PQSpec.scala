package graft

import graft.engine.Engine
import graft.functions.{PQ, VectorExpressions}
import org.apache.spark.sql.functions._

/** Product-quantization primitives + the IVF-PQ path of `similarityivf`. */
class PQSpec extends SparkSpec {

  private val dim = 64
  private val m = 8
  private val kc = 16

  /** Deterministic pseudo-embeddings (split-mix per (id, j)). */
  private def vecOf(id: Long): Array[Double] =
    Array.tabulate(dim) { j =>
      var z = id * 0x9E3779B97F4A7C15L + j * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }

  private lazy val sample: Array[Array[Double]] = Array.tabulate(200)(i => vecOf(i.toLong))
  private lazy val cb: Array[Double] = PQ.train(sample, dim, m, kc, 4)

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Pure-Scala reference encode/lut/adc, independent of the expression code. */
  private def refEncode(v: Array[Double]): Array[Int] = {
    val sub = dim / m
    val u = unit(v)
    Array.tabulate(m) { j =>
      (0 until kc).minBy { c =>
        val off = (j * kc + c) * sub
        val d = (0 until sub).map(t => math.pow(u(j * sub + t) - cb(off + t), 2)).sum
        (d, c) // strict ordering with lower-index ties, like the expression
      }
    }
  }

  private def refAdc(q: Array[Double], codes: Array[Int]): Double = {
    val sub = dim / m
    val u = unit(q)
    (0 until m).map { j =>
      val off = (j * kc + codes(j)) * sub
      (0 until sub).map(t => u(j * sub + t) * cb(off + t)).sum
    }.sum
  }

  test("PQEncode / PQLut / PQAdc match the pure-Scala reference") {
    import scala.jdk.CollectionConverters._
    val rows = (0L until 50L).map(i =>
      org.apache.spark.sql.Row(i, vecOf(i).toSeq)).asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val df = spark.createDataFrame(rows, schema)
    val got = df.select(col("id"),
        VectorExpressions.pqEncode(col("v"), cb, m, kc).as("codes"),
        VectorExpressions.pqAdc(
          VectorExpressions.pqLut(col("v"), cb, m, kc),
          VectorExpressions.pqEncode(col("v"), cb, m, kc)).as("selfAdc"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Byte](1).toArray.map(_.toInt & 0xFF), r.getDouble(2)))
    got.foreach { case (id, codes, selfAdc) =>
      val want = refEncode(vecOf(id))
      assert(codes.toSeq == want.toSeq, s"codes mismatch for id=$id")
      val wantAdc = refAdc(vecOf(id), want)
      assert(math.abs(selfAdc - wantAdc) < 1e-9, s"adc mismatch for id=$id")
    }
  }

  test("ADC approximates exact cosine on unit vectors (reconstruction sanity)") {
    // self-ADC is the quantized self-similarity — for a reasonable
    // codebook it must sit close to 1 (= exact cosine with itself)
    val self = sample.take(50).map(v => refAdc(v, refEncode(v)))
    val mean = self.sum / self.length
    assert(mean > 0.5, f"mean self-ADC $mean%.3f — codebook is garbage")
    assert(self.forall(_ <= 1.0 + 1e-9), "self-ADC exceeded 1")
  }

  test("pq codebook training is deterministic and shaped m*kc*sub") {
    val cb2 = PQ.train(sample, dim, m, kc, 4)
    assert(cb.toSeq == cb2.toSeq)
    assert(cb.length == kc * dim)
  }

  test("ivfpq candidate join carries code bytes, not vectors, on the base side") {
    val ctx = newCtx()
    val out = Engine.runJson(ctx, s"""{
      "source": {"file": {"path": "$sfDir/embeddings.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"similarityivf": {"idField": "vec_id",
        "field": "embedding", "k": 3, "nCells": 8, "nProbe": 4,
        "lloydIters": 3, "trainRows": 256,
        "pqM": 8, "pqK": 16, "refine": 4}}],
      "loader": {"memory": {}} }""")
    // plan shape: the only places full vectors appear after the scan are
    // the per-row encode/LUT projections and the bounded refine joins —
    // the cell join's streamed base side must NOT carry `__v`
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_pq_adc"), "ADC scoring missing from plan")
    assert(plan.contains("graft_pq_encode"), "PQ encode missing from plan")
    // end-to-end sanity: schema + k bound + exact scores after re-rank
    assert(out.columns.toSeq == Seq("q_id", "n_id", "rank", "cosine"))
    val grouped = out.groupBy("q_id").count().agg(max("count")).head().getLong(0)
    assert(grouped <= 3, "more than k results per query")
    // the refined scores are EXACT cosines: every returned pair's score
    // must match the brute-force cosine for that pair
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val withVecs = out
      .join(base.select(col("vec_id").as("q_id"), col("embedding").as("qv")), Seq("q_id"))
      .join(base.select(col("vec_id").as("n_id"), col("embedding").as("nv")), Seq("n_id"))
      .withColumn("exact",
        graft.similarity.SimilarityStages.dot(col("qv"), col("nv")) /
          (sqrt(graft.similarity.SimilarityStages.dot(col("qv"), col("qv"))) *
           sqrt(graft.similarity.SimilarityStages.dot(col("nv"), col("nv")))))
    val bad = withVecs.where(abs(col("cosine") - col("exact")) > 1e-9).count()
    assert(bad == 0, s"$bad returned scores differ from exact cosine")
  }

  test("ivfpq recall@3 vs brute force clears 0.7 on the tiny fixture") {
    val ctx1 = newCtx()
    val approx = Engine.runJson(ctx1, s"""{
      "source": {"file": {"path": "$sfDir/embeddings.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"similarityivf": {"idField": "vec_id",
        "field": "embedding", "k": 3, "nCells": 8, "nProbe": 6,
        "lloydIters": 5, "trainRows": 512,
        "pqM": 16, "pqK": 16, "refine": 8}}],
      "loader": {"memory": {}} }""").select("q_id", "n_id")
    val ctx2 = newCtx()
    val exact = Engine.runJson(ctx2, s"""{
      "source": {"file": {"path": "$sfDir/embeddings.parquet"}},
      "extractor": {"parquet": {}},
      "transformers": [{"similarity": {"idField": "vec_id",
        "field": "embedding", "k": 3}}],
      "loader": {"memory": {}} }""").select("q_id", "n_id")
    val total = exact.count().toDouble
    val hits = approx.join(exact, Seq("q_id", "n_id"), "left_semi").count()
    assert(hits / total >= 0.7, f"ivfpq recall ${hits / total}%.3f < 0.7")
  }
}
