package perfbench

import graft.engine.{Engine, EtlContext}
import graft.spec.PipelineSpec
import org.apache.spark.sql.Row
import scala.collection.mutable

/** `config_storm`: one op parses and runs one config over a small file
  * and collects its output. Configs come from a family of twelve shapes
  * of 10–40 transformers (`field`/`if`, `rename`, `flow`, `link`,
  * `merge`, nested `etl`, `block let`, `command`). The shapes are the
  * same for every seed and ops cycle through them; the constants in each
  * config come from the seed and change every op, so shapes recur but no
  * two configs are equal. Ops visit the shapes shortest, longest, second
  * shortest, second longest, …, and the window closes on a whole pair, so
  * every run's mix of short and long configs is the same however many
  * ops fit in it.
  *
  * Truth: every transformer kind has a plain-Scala model, and the
  * expected output rows are computed from the generated file. */
final class ConfigStorm(env: Env) extends ClosedLoop(env) {
  import ConfigStorm._

  override protected val round = 2
  private val rows = if (env.args.smoke) 100 else 1000
  private val rng = env.rng
  private val input = env.path("input.csv")
  private val childCsv = env.path("child.csv")
  private val dimPq = env.path("dim.parquet")
  private val groups = (0 until 20).map(i => s"g$i")
  private val dimCodes = groups.take(15)
  private val dimWeight: Map[String, Long] =
    dimCodes.zipWithIndex.map { case (g, i) => g -> (i * 7L + 3) }.toMap

  private type Rec = mutable.Map[String, Any]
  private var base: Vector[Map[String, Any]] = Vector.empty
  private var children: Vector[(String, Long)] = Vector.empty

  /** A transformer instance: its JSON and its model on one record
    * (None = the record is skipped). */
  private final case class Step(json: String, model: Rec => Option[Rec])

  private var current: (String, Vector[Map[String, Any]]) = ("", Vector.empty)
  private var output: Array[Row] = Array.empty
  private var outCols: Array[String] = Array.empty

  private val shapes: Vector[Vector[Kind]] = {
    // fixed family: the shape seed is a constant, not the run seed
    val r = new java.util.SplittableRandom(20261017L)
    (0 until 12).toVector.map { k =>
      val len = 10 + k * 30 / 11
      val kinds = mutable.ArrayBuffer.empty[Kind]
      var merged = false
      while (kinds.size < len) {
        kinds += (r.nextInt(20) match {
          case x if x < 5 => FieldArith
          case x if x < 8 => FieldIf
          case 8 | 9 => FieldStr
          case 10 | 11 => Rename
          case 12 => Skip
          case 13 | 14 => Link
          case 15 if !merged => merged = true; Merge
          case 15 | 16 => Etl
          case 17 | 18 => Let
          case _ => Command
        })
      }
      kinds.toVector
    }
  }

  /** Shape of op i: pairs (0, 11), (1, 10), … keep any prefix balanced. */
  private def shapeOf(i: Int): Vector[Kind] = {
    val k = math.floorMod(i, shapes.size)
    shapes(if (k % 2 == 0) k / 2 else shapes.size - 1 - k / 2)
  }

  private def lookup(sel: String) = Json.str(s"SELECT $sel FROM parquet.`$dimPq`")

  /** Instantiate shape `s` with fresh constants. */
  private def instantiate(s: Vector[Kind]): Vector[Step] = {
    val numeric = mutable.ArrayBuffer.empty[String] // derived long columns
    var fresh = 0
    def name(p: String) = { fresh += 1; s"$p$fresh" }
    def c(n: Int) = 1 + rng.nextInt(n)
    s.flatMap {
      case FieldArith =>
        val out = name("f"); val x = if (rng.nextBoolean()) "a" else "b"
        val y = if (numeric.isEmpty) "b" else numeric(rng.nextInt(numeric.size))
        val k = c(9)
        numeric += out
        Seq(Step(s"""{"field": {"fieldName": "$out", "expression": "$x * $k + $y"}}""",
          r => { r(out) = long(r(x)) * k + long(r(y)); Some(r) }))
      case FieldIf if numeric.nonEmpty =>
        val t = numeric(rng.nextInt(numeric.size)); val th = rng.nextInt(1000); val k = c(50)
        Seq(Step(s"""{"field": {"fieldName": "$t", "expression": "$t + $k", "if": "a > $th"}}""",
          r => { if (long(r("a")) > th) r(t) = long(r(t)) + k; Some(r) }))
      case FieldIf | FieldStr =>
        val out = name("s"); val th = rng.nextInt(1000)
        Seq(Step(s"""{"field": {"fieldName": "$out", "expression": "s.toUpperCase()", "if": "b > $th"}}""",
          r => { r(out) = if (long(r("b")) > th) r("s").toString.toUpperCase else null; Some(r) }))
      case Rename if numeric.nonEmpty =>
        val i = rng.nextInt(numeric.size); val from = numeric(i); val to = name("r")
        numeric(i) = to
        Seq(Step(s"""{"rename": {"$from": "$to"}}""",
          r => { r(to) = r(from); r.remove(from); Some(r) }))
      case Rename | Skip =>
        val th = rng.nextInt(20)
        Seq(Step(s"""{"flow": {"operation": "skip", "if": "b < $th"}}""",
          r => if (long(r("b")) < th) None else Some(r)))
      case Link =>
        val out = name("l")
        Seq(Step(s"""{"link": {"joinFieldName": "g", "linkFieldName": "$out", "lookup": ${lookup("code")}}}""",
          r => { r(out) = if (dimWeight.contains(r("g").toString)) r("g") else null; Some(r) }))
      case Merge =>
        Seq(Step(s"""{"merge": {"joinFieldName": "g", "lookup": ${lookup("code, weight")}}}""",
          r => { r("weight") = dimWeight.get(r("g").toString).map(Long.box).orNull; Some(r) }))
      case Etl =>
        val out = name("k"); val th = 200 + rng.nextInt(800)
        val kids = children.filter(_._2 <= th).groupBy(_._1)
          .map { case (g, vs) => g -> vs.map(_._2).sorted }
        val child = s"""{"source": {"file": {"path": ${Json.str(childCsv)}}},
          "extractor": {"row": {}},
          "transformers": [{"csv": {"columns": ["g:string", "v:long"]}},
                           {"flow": {"operation": "skip", "if": "v > $th"}}],
          "loader": {"memory": {"name": "$out"}}}"""
        Seq(Step(s"""{"etl": {"joinFieldName": "g", "childJoinFieldName": "g", "fieldName": "$out",
          "fieldType": "EMBEDDEDLIST", "valueFieldName": "v", "pipeline": $child}}""",
          r => { r(out) = kids.get(r("g").toString).orNull; Some(r) }))
      case Let =>
        val v = name("c"); val out = name("f"); val k = c(1000)
        numeric += out
        Seq(Step(s"""{"block": {"let": {"name": "$v", "value": $k}}}""", Some(_)),
          Step(s"""{"field": {"fieldName": "$out", "expression": "a + $$$v"}}""",
            r => { r(out) = long(r("a")) + k; Some(r) }))
      case Command =>
        val out = name("q"); val k = c(100)
        numeric += out
        Seq(Step(s"""{"command": {"command": "SELECT *, a + $k AS $out FROM input"}}""",
          r => { r(out) = long(r("a")) + k; Some(r) }))
    }
  }

  def setup(): Unit = {
    val sb = new StringBuilder("id,a,b,g,s\n")
    base = (0 until rows).toVector.map { i =>
      val m = Map[String, Any]("id" -> i.toLong, "a" -> rng.nextLong(1000),
        "b" -> rng.nextLong(1000), "g" -> groups(rng.nextInt(groups.size)),
        "s" -> s"w${rng.nextInt(100000)}")
      sb.append(s"${m("id")},${m("a")},${m("b")},${m("g")},${m("s")}\n")
      m
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(input), sb.toString.getBytes("UTF-8"))
    children = (0 until rows / 2).toVector.map(_ =>
      (groups(rng.nextInt(groups.size - 2)), rng.nextLong(1000)))
    java.nio.file.Files.write(java.nio.file.Paths.get(childCsv),
      ("g,v\n" + children.map { case (g, v) => s"$g,$v\n" }.mkString).getBytes("UTF-8"))
    import env.spark.implicits._
    dimCodes.map(g => (g, dimWeight(g))).toDF("code", "weight").coalesce(1).write.parquet(dimPq)
    // warm-up: a few ops, so the JIT and the plan caches settle
    (-12 until -9).foreach { i =>
      prepare(i); op(i)
      require(check(i), s"config_storm: warm-up output check failed on op $i")
    }
  }

  override def prepare(i: Int): Unit = {
    val steps = instantiate(shapeOf(content(i)))
    val json = s"""{
      "source": {"file": {"path": ${Json.str(input)}}},
      "extractor": {"row": {}},
      "transformers": [
        {"csv": {"columns": ["id:long", "a:long", "b:long", "g:string", "s:string"]}},
        ${steps.map(_.json).mkString(",\n        ")}
      ],
      "loader": {"memory": {"name": "storm_out"}}
    }"""
    val expected = base.flatMap { b =>
      steps.foldLeft(Option(mutable.Map.from(b): Rec)) { (r, st) => r.flatMap(st.model) }
        .map(_.toMap)
    }
    current = (json, expected)
  }

  def op(i: Int): Long = {
    val ctx = new EtlContext(env.spark)
    env.tracer.foreach(_.attach(ctx))
    val spec = env.span("spec.parse")(PipelineSpec.parse(current._1))
    env.tracer.foreach(_.noteSpec(spec))
    val df = env.span("engine.run")(Engine.run(ctx, spec))
    outCols = df.columns
    output = df.collect()
    env.tracer.foreach { t => t.noteContext(ctx); t.rowsOut(output.length) }
    rows.toLong
  }

  def check(i: Int): Boolean = {
    val got = output.map(r => outCols.indices.map(j => outCols(j) -> norm(r.get(j))).toMap)
      .sortBy(_("id").asInstanceOf[Long])
    val exp = current._2.map(_.map { case (k, v) => k -> norm(v) })
    val perturbed =
      if (env.perturb && got.nonEmpty) got.updated(0, got(0).updated("a", -1L)) else got
    val ok = perturbed.toSeq == exp
    if (!ok) {
      val bad = perturbed.zip(exp).find { case (g, e) => g != e }
      System.err.println(s"[perfbench] config_storm: op $i output differs " +
        s"(${perturbed.length} rows vs ${exp.length} expected; first diff $bad)")
    }
    ok
  }
}

object ConfigStorm {
  sealed trait Kind
  case object FieldArith extends Kind
  case object FieldIf extends Kind
  case object FieldStr extends Kind
  case object Rename extends Kind
  case object Skip extends Kind
  case object Link extends Kind
  case object Merge extends Kind
  case object Etl extends Kind
  case object Let extends Kind
  case object Command extends Kind

  private def long(v: Any): Long = v.asInstanceOf[Number].longValue

  /** Spark and model values in one comparable form. */
  private def norm(v: Any): Any = v match {
    case null => null
    case n: java.lang.Number => n.longValue
    case s: scala.collection.Seq[_] => s.map(norm).toVector
    case other => other
  }
}
