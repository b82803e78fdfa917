package graft.stages

import graft.engine.EtlContext
import graft.spec.ComponentSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spatial operators. The reference has no geo surface at all; a
  * training-data/analytics engine needs at least the radius join (POI
  * conflation, venue dedup, geo-tagged-corpus joins), and the naive
  * spelling is a cross join — quadratic, dead at scale.
  *
  * Scale shape (the minhash/semanticdedup banding recipe applied to
  * space): the plane is tiled into square CELLS of the search radius;
  * the right side replicates to its 3×3 cell neighborhood (a bounded
  * 9× explode of the smaller-by-contract side), both sides shuffle on
  * the cell id EQUI-key, and the exact distance predicate filters
  * within the co-partitioned cells. Any pair within `radius` shares
  * the left point's cell with one of the right point's nine replicas
  * (cell edge = radius), and each pair can meet only at the LEFT
  * point's single cell — so the result is exactly the cross join's,
  * with no duplicates and no N² exchange. Dense-cell skew is bounded
  * by a loud in-plan `maxCellRows` window guard riding the join's own
  * exchange (the semanticdedup pattern).
  */
object GeoStages {

  /** Floor-division cell index, integer-exact for NEGATIVE coordinates
    * too: truncating `div` rounds toward zero, so subtract the
    * non-negative pmod first (the numerator then divides exactly). */
  private def cellIdx(c: Column, cell: Long): Column =
    ((c.cast("long") - pmod(c.cast("long"), lit(cell))) / lit(cell)).cast("long")

  /** Coordinates are integer micro-degrees BY CONTRACT — a
    * plain-degree double column would silently truncate under
    * cast("long") (52.52 → 52) and return confidently wrong cells and
    * distances, so non-integral inputs fail loud by name instead. */
  private def requireIntegral(df: DataFrame, c: String, stage: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case t => sys.error(s"$stage: coordinate column '$c' is " +
        s"${t.simpleString} — coordinates must be INTEGER micro-degrees " +
        "(degrees x 1e6); cast upstream (a plain-degree double would " +
        "silently truncate)")
    }
  }

  /** `geocell`: attach the square-grid cell indices of each point —
    * the binning half of [[geojoin]] exposed on its own, for density
    * rollups, per-cell sampling caps, and cell-keyed repartitioning
    * (group/join on `cell_y, cell_x` downstream; the same floor-div
    * arithmetic guarantees geocell output co-keys with geojoin's
    * banding at the same cell size). Options: `cellMicroDeg`
    * (required), `latField`/`lonField` (default `lat`/`lon`),
    * `cellXField`/`cellYField` (default `cell_x`/`cell_y`). Pure
    * per-row projection — no shuffle, no UDF. */
  def geocell(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val cell = spec.long("cellMicroDeg").getOrElse(
        sys.error("geocell: `cellMicroDeg` required"))
      require(cell > 0, s"geocell: cellMicroDeg must be > 0, got $cell")
      val latF = spec.strOr("latField", "lat")
      val lonF = spec.strOr("lonField", "lon")
      val xF = spec.strOr("cellXField", "cell_x")
      val yF = spec.strOr("cellYField", "cell_y")
      Seq(latF, lonF).foreach(c => require(df.columns.contains(c),
        s"geocell: no column '$c'"))
      Seq(latF, lonF).foreach(requireIntegral(df, _, "geocell"))
      Seq(xF, yF).foreach(c => require(!df.columns.contains(c),
        s"geocell: output column '$c' exists — set cellXField/cellYField"))
      df.withColumn(xF, cellIdx(col(lonF), cell))
        .withColumn(yF, cellIdx(col(latF), cell))
    }

  /** `geojoin`: radius (distance-band) join of the stream against a
    * `right` table or SELECT.
    *
    * Coordinates are INTEGER MICRO-DEGREES (lat/lon × 10⁶ — the
    * OpenStreetMap/telemetry fixed-point convention): `metric:
    * "planar"` (default) computes the exact squared Euclidean distance
    * in micro-degrees as `dist2` (BIGINT — integer-exact, no floating
    * point anywhere), the local-tangent-plane approximation every
    * venue-dedup pipeline uses at city scale. `metric: "haversine"`
    * computes great-circle meters as `dist_m` (DOUBLE) and requires an
    * explicit `cellMicroDeg` band ≥ the worst-case radius in
    * longitude micro-degrees over the data's latitude range (lon
    * degrees shrink by cos(lat) — the engine cannot pick a band
    * without knowing the corpus extent; documented contract).
    *
    * Options: `right` (required), `radius` (required — µdeg for
    * planar, meters for haversine), `latField`/`lonField` (default
    * `lat`/`lon`), `rightLatField`/`rightLonField` (default: same),
    * `rightPrefix` (default `r_` — every right column arrives
    * prefixed), `maxCellRows` (default 1,000,000; <= 0 disables) —
    * a cell holding more right rows than this fails loud: the
    * within-cell compare is |cell_l|×|cell_r|, and a degenerate
    * all-points-one-cell config must surface, not quietly go
    * quadratic. */
  def geojoin(spec: ComponentSpec, ctx: EtlContext): DataFrame => DataFrame =
    { df =>
      val right0 = ctx.tableOrSql(spec.str("right").getOrElse(
        sys.error("geojoin: `right` (table or SELECT) required")))
      val radius = spec.long("radius").getOrElse(
        sys.error("geojoin: `radius` required (micro-degrees for planar, " +
          "meters for haversine)"))
      require(radius > 0, s"geojoin: radius must be > 0, got $radius")
      // radius*radius is the planar filter literal: past ~3.04e9 the
      // square overflows Long to a NEGATIVE bound and the join would
      // silently return nothing — and 4e8 µdeg already exceeds the
      // whole globe, so a bigger radius is a unit error, not a need
      require(radius <= 400000000L,
        s"geojoin: radius $radius exceeds 4e8 (the whole globe in " +
        "micro-degrees) — check the unit (micro-degrees for planar, " +
        "meters for haversine)")
      val metric = spec.strOr("metric", "planar")
      val latF = spec.strOr("latField", "lat")
      val lonF = spec.strOr("lonField", "lon")
      val rLatF = spec.strOr("rightLatField", latF)
      val rLonF = spec.strOr("rightLonField", lonF)
      val prefix = spec.strOr("rightPrefix", "r_")
      val maxCellRows = spec.int("maxCellRows", 1000000)
      val distCol = metric match {
        case "planar" => "dist2"
        case "haversine" => "dist_m"
        case other => sys.error(s"geojoin: metric must be planar|haversine, got '$other'")
      }
      val cell: Long = metric match {
        case "planar" => radius
        case _ => spec.long("cellMicroDeg").getOrElse(sys.error(
          "geojoin: haversine needs an explicit `cellMicroDeg` band — " +
          "it must cover the radius in LONGITUDE micro-degrees at the " +
          "data's extreme latitude (µdeg/m grows as 1/cos(lat)); e.g. " +
          "radius_m * 8.983 / cos(maxAbsLatRadians), rounded up"))
      }
      require(cell > 0, s"geojoin: cell size must be > 0, got $cell")
      Seq(latF, lonF).foreach(c => require(df.columns.contains(c),
        s"geojoin: no left column '$c'"))
      Seq(rLatF, rLonF).foreach(c => require(right0.columns.contains(c),
        s"geojoin: no right column '$c'"))
      Seq(latF, lonF).foreach(requireIntegral(df, _, "geojoin"))
      Seq(rLatF, rLonF).foreach(requireIntegral(right0, _, "geojoin"))
      if (df.columns.contains(distCol)) sys.error(
        s"geojoin: left column '$distCol' collides with the output " +
        "distance column — rename it upstream")
      right0.columns.map(prefix + _).foreach { c =>
        if (df.columns.contains(c)) sys.error(
          s"geojoin: right column '$c' collides with a left column — " +
          "set `rightPrefix` or alias it in the `right` SELECT")
      }

      def cellOf(c: Column): Column = cellIdx(c, cell)

      val left = df
        .withColumn("__gcx", cellOf(col(lonF)))
        .withColumn("__gcy", cellOf(col(latF)))
      val right1 = right0.select(right0.columns.map(c =>
          col(c).as(prefix + c)).toIndexedSeq: _*)
        .withColumn("__rcx0", cellOf(col(prefix + rLonF)))
        .withColumn("__rcy0", cellOf(col(prefix + rLatF)))
        // one generator for the whole 3x3 neighborhood (a generator
        // cannot nest inside arithmetic): explode the 9 offset pairs,
        // then shift — each replica lands in a distinct cell, so a
        // pair can only meet at the left point's single cell
        .withColumn("__off", explode(array((for {
          dy <- -1 to 1; dx <- -1 to 1
        } yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))).toIndexedSeq: _*)))
        .withColumn("__gcx", col("__rcx0") + col("__off.dx"))
        .withColumn("__gcy", col("__rcy0") + col("__off.dy"))
        .drop("__rcx0", "__rcy0", "__off")
      // dense-cell contract enforced IN-PLAN (the semanticdedup
      // pattern): a window count over the same (cx, cy) key the join
      // shuffles on — the exchange is shared, the guard adds no pass
      val guarded =
        if (maxCellRows <= 0) right1
        else right1
          .withColumn("__celln", count(lit(1)).over(
            Window.partitionBy("__gcx", "__gcy")))
          .where(coalesce(
            when(col("__celln") > maxCellRows, raise_error(concat(
              lit("geojoin: cell ("), col("__gcx").cast("string"), lit(","),
              col("__gcy").cast("string"), lit(") holds "),
              col("__celln").cast("string"),
              lit(s" right rows > maxCellRows=$maxCellRows — the " +
                "within-cell compare is |cell_l|x|cell_r|; shrink " +
                "`radius`/`cellMicroDeg` (smaller cells) or raise " +
                "maxCellRows if the cost is intended")))),
            lit(true)))
          .drop("__celln")

      val dLat = col(latF).cast("long") - col(prefix + rLatF).cast("long")
      val dLon = col(lonF).cast("long") - col(prefix + rLonF).cast("long")
      val joined = left.join(guarded, Seq("__gcx", "__gcy"))
      val withDist = metric match {
        case "planar" =>
          joined.withColumn(distCol, dLat * dLat + dLon * dLon)
            .where(col(distCol) <= lit(radius * radius))
        case _ =>
          // haversine over micro-degree fixed-point: exactness is not
          // claimed (IEEE trig) — the banding above is the contract
          val toRad = lit(math.Pi / 180.0e6)
          val phi1 = col(latF).cast("double") * toRad
          val phi2 = col(prefix + rLatF).cast("double") * toRad
          val dPhi = (col(prefix + rLatF).cast("double") - col(latF).cast("double")) * toRad / lit(2.0)
          val dLam = (col(prefix + rLonF).cast("double") - col(lonF).cast("double")) * toRad / lit(2.0)
          val a = sin(dPhi) * sin(dPhi) + cos(phi1) * cos(phi2) * sin(dLam) * sin(dLam)
          joined.withColumn(distCol,
              lit(2.0 * 6371000.0) * asin(sqrt(least(a, lit(1.0)))))
            .where(col(distCol) <= lit(radius.toDouble))
      }
      withDist.drop("__gcx", "__gcy")
    }
}
