package graft.geo

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry

/**
 * Native Catalyst `Expression` implementations of the hot ST_* functions
 * (SURVEY.md §2.9: "UDF v0 → Expression v1"). Compared to Scala UDFs these
 * avoid the UDF serialization boundary (no Row → Scala conversion, no
 * closure dispatch) and participate in null-intolerant short-circuiting;
 * evaluation stays `CodegenFallback` (a hand-written doGenCode would only
 * wrap the same JTS call).
 *
 * The expressions that take numbers declare their input types, so an
 * integral or decimal argument is cast to the declared type at analysis.
 *
 * Registered for SQL by [[GraftExtensions]]; Column-API wrappers in
 * [[GeoFunctions]].
 */
object GeoExpressions {

  @inline private def geom(a: Any): Geometry = Geo.fromWkb(a.asInstanceOf[Array[Byte]])

  case class StGeomFromWkt(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(wkt: Any): Any =
      Geo.tryFromWkt(wkt.asInstanceOf[UTF8String].toString).map(Geo.toWkb).orNull
    override protected def withNewChildInternal(c: Expression): StGeomFromWkt = copy(c)
    override def prettyName: String = "st_geomfromwkt"
  }

  case class StAsWkt(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(b: Any): Any = UTF8String.fromString(Geo.toWkt(geom(b)))
    override protected def withNewChildInternal(c: Expression): StAsWkt = copy(c)
    override def prettyName: String = "st_aswkt"
  }

  case class StPoint(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def dataType: DataType = BinaryType
    override def nullSafeEval(lon: Any, lat: Any): Any =
      Geo.toWkb(Geo.point(lon.asInstanceOf[Double], lat.asInstanceOf[Double]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StPoint =
      copy(l, r)
    override def prettyName: String = "st_point"
  }

  case class StIntersects(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any, b: Any): Any = geom(a).intersects(geom(b))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StIntersects =
      copy(l, r)
    override def prettyName: String = "st_intersects"
  }

  case class StWithin(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any, b: Any): Any = geom(a).within(geom(b))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StWithin =
      copy(l, r)
    override def prettyName: String = "st_within"
  }

  case class StContains(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any, b: Any): Any = geom(a).contains(geom(b))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StContains =
      copy(l, r)
    override def prettyName: String = "st_contains"
  }

  case class StAreaM2(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(b: Any): Any = Geo.areaM2(geom(b))
    override protected def withNewChildInternal(c: Expression): StAreaM2 = copy(c)
    override def prettyName: String = "st_area_m2"
  }

  case class StCentroid(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(b: Any): Any = Geo.toWkb(Geo.centroid(geom(b)))
    override protected def withNewChildInternal(c: Expression): StCentroid = copy(c)
    override def prettyName: String = "st_centroid"
  }

  case class StBufferMeters(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType)
    override def dataType: DataType = BinaryType
    override def nullSafeEval(b: Any, m: Any): Any =
      // dateline-aware: identity vs bufferMeters away from ±180°
      Geo.toWkb(Geo.bufferMetersDateline(geom(b), m.asInstanceOf[Double]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StBufferMeters =
      copy(l, r)
    override def prettyName: String = "st_buffer_m"
  }

  case class StDistanceMeters(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any = Geo.distanceMeters(geom(a), geom(b))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StDistanceMeters =
      copy(l, r)
    override def prettyName: String = "st_distance_m"
  }

  case class StDWithinMeters(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType, DoubleType)
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any, b: Any, m: Any): Any =
      Geo.distanceMeters(geom(a), geom(b)) <= m.asInstanceOf[Double]
    override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                   t: Expression): StDWithinMeters = copy(f, s, t)
    override def prettyName: String = "st_dwithin_m"
  }

  case class StMakeValid(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(b: Any): Any = Geo.toWkb(Geo.makeValid(geom(b)))
    override protected def withNewChildInternal(c: Expression): StMakeValid = copy(c)
    override def prettyName: String = "st_make_valid"
  }

  case class StIntersection(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(a: Any, b: Any): Any = Geo.toWkb(geom(a).intersection(geom(b)))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StIntersection =
      copy(l, r)
    override def prettyName: String = "st_intersection"
  }

  case class StX(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(b: Any): Any = geom(b).getCoordinate.x
    override protected def withNewChildInternal(c: Expression): StX = copy(c)
    override def prettyName: String = "st_x"
  }

  case class StY(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(b: Any): Any = geom(b).getCoordinate.y
    override protected def withNewChildInternal(c: Expression): StY = copy(c)
    override def prettyName: String = "st_y"
  }

  /** First vertex of a geometry as a Point (standard ST_StartPoint,
    * generalized to any geometry's first coordinate). Coordinates pass
    * through UNTOUCHED — no arithmetic — so oracle comparisons against the
    * values that built the geometry are bit-exact. */
  case class StStartPoint(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(b: Any): Any = {
      val c = geom(b).getCoordinate
      Geo.toWkb(Geo.point(c.x, c.y))
    }
    override protected def withNewChildInternal(c: Expression): StStartPoint = copy(c)
    override def prettyName: String = "st_start_point"
  }

  /** Last vertex of a geometry as a Point (standard ST_EndPoint). */
  case class StEndPoint(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(b: Any): Any = {
      val cs = geom(b).getCoordinates
      val c = cs(cs.length - 1)
      Geo.toWkb(Geo.point(c.x, c.y))
    }
    override protected def withNewChildInternal(c: Expression): StEndPoint = copy(c)
    override def prettyName: String = "st_end_point"
  }

  /** Line between the first coordinates of two (point) geometries. */
  case class StMakeLine(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val (ga, gb) = (geom(a), geom(b))
      Geo.toWkb(Geo.line(Seq((ga.getCoordinate.x, ga.getCoordinate.y),
                             (gb.getCoordinate.x, gb.getCoordinate.y))))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): StMakeLine =
      copy(l, r)
    override def prettyName: String = "st_make_line"
  }

  case class StBox(first: Expression, second: Expression, third: Expression, fourth: Expression)
      extends QuaternaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq.fill(4)(DoubleType)
    override def dataType: DataType = BinaryType
    override def nullSafeEval(minLon: Any, minLat: Any, maxLon: Any, maxLat: Any): Any =
      Geo.toWkb(Geo.box(minLon.asInstanceOf[Double], minLat.asInstanceOf[Double],
        maxLon.asInstanceOf[Double], maxLat.asInstanceOf[Double]))
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression,
                                                   q: Expression): StBox = copy(f, s, t, q)
    override def prettyName: String = "st_box"
  }

  case class StQuadkeyPolygon(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(qk: Any): Any =
      Geo.toWkb(Quadkey.quadkeyPolygon(qk.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression): StQuadkeyPolygon = copy(c)
    override def prettyName: String = "st_quadkey_polygon"
  }

  /** Quadkey cell id of a (lon, lat) at a zoom — pure arithmetic. */
  case class StQuadkey(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType)
    override def dataType: DataType = StringType
    override def nullSafeEval(lon: Any, lat: Any, zoom: Any): Any =
      UTF8String.fromString(Quadkey.quadkeyForLonLat(
        lon.asInstanceOf[Double], lat.asInstanceOf[Double], zoom.asInstanceOf[Int]))
    override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                   t: Expression): StQuadkey = copy(f, s, t)
    override def prettyName: String = "st_quadkey"
  }

  /** Function registry entries: name -> builder. */
  /** Fold coordinates overflowing ±180° back into the canonical frame,
    * splitting at the antimeridian ([[Geo.splitAntimeridian]] —
    * main_pipeline.py:211-214's dateline rule as an expression). */
  case class StSplitAntimeridian(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(b: Any): Any = Geo.toWkb(Geo.splitAntimeridian(geom(b)))
    override protected def withNewChildInternal(c: Expression): StSplitAntimeridian = copy(c)
    override def prettyName: String = "st_split_antimeridian"
  }

  /** Envelope bounds as [minx, miny, maxx, maxy] (geopandas `.bounds`). */
  case class StBounds(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType)
    override def nullSafeEval(b: Any): Any = {
      val e = geom(b).getEnvelopeInternal
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
    }
    override protected def withNewChildInternal(c: Expression): StBounds = copy(c)
    override def prettyName: String = "st_bounds"
  }

  /** Component count of a (multi-)geometry. */
  case class StNumGeoms(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(b: Any): Any = geom(b).getNumGeometries
    override protected def withNewChildInternal(c: Expression): StNumGeoms = copy(c)
    override def prettyName: String = "st_num_geoms"
  }

  /** Planar (coordinate-unit) area — degrees² on lon/lat input; the
    * equal-area metric variant is [[StAreaM2]]. */
  case class StAreaPlanar(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(b: Any): Any = geom(b).getArea
    override protected def withNewChildInternal(c: Expression): StAreaPlanar = copy(c)
    override def prettyName: String = "st_area_planar"
  }

  val registry: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "st_split_antimeridian" -> (es => StSplitAntimeridian(es.head)),
    "st_bounds" -> (es => StBounds(es.head)),
    "st_num_geoms" -> (es => StNumGeoms(es.head)),
    "st_area_planar" -> (es => StAreaPlanar(es.head)),
    "st_geomfromwkt" -> (es => StGeomFromWkt(es.head)),
    "st_aswkt" -> (es => StAsWkt(es.head)),
    "st_point" -> (es => StPoint(es(0), es(1))),
    "st_intersects" -> (es => StIntersects(es(0), es(1))),
    "st_within" -> (es => StWithin(es(0), es(1))),
    "st_contains" -> (es => StContains(es(0), es(1))),
    "st_area_m2" -> (es => StAreaM2(es.head)),
    "st_centroid" -> (es => StCentroid(es.head)),
    "st_buffer_m" -> (es => StBufferMeters(es(0), es(1))),
    "st_distance_m" -> (es => StDistanceMeters(es(0), es(1))),
    "st_dwithin_m" -> (es => StDWithinMeters(es(0), es(1), es(2))),
    "st_make_valid" -> (es => StMakeValid(es.head)),
    "st_intersection" -> (es => StIntersection(es(0), es(1))),
    "st_x" -> (es => StX(es.head)),
    "st_y" -> (es => StY(es.head)),
    "st_make_line" -> (es => StMakeLine(es(0), es(1))),
    "st_start_point" -> (es => StStartPoint(es.head)),
    "st_end_point" -> (es => StEndPoint(es.head)),
    "st_box" -> (es => StBox(es(0), es(1), es(2), es(3))),
    "st_quadkey_polygon" -> (es => StQuadkeyPolygon(es.head)),
    "st_quadkey" -> (es => StQuadkey(es(0), es(1), es(2))))
}

/**
 * SparkSessionExtensions installer: injects everything the library adds
 * to a session, into that session and all its `newSession()` siblings:
 * the ST_ geometry family, the native text kernels
 * (ws_token_count/simhash64/winnow_keys/normalize_text/jaro_winkler/
 * aho_first/aho_count), and the broadcast spatial-join planner strategy.
 * `graft.EngineSession.builder` installs it on every engine session. An
 * application that builds its own session adds
 * `.withExtensions(new GraftExtensions)`, or
 * `--conf spark.sql.extensions=graft.geo.GraftExtensions` on spark-submit
 * (README "Deploying on a real cluster").
 */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft.geo.GeoExpressions", name),
        builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.SpatialJoinStrategy)
  }
}

object GraftExtensions {
  /** Every function the extension injects: name -> builder. */
  val functions: Seq[(String, Seq[Expression] => Expression)] =
    GeoExpressions.registry ++ graft.llm.TextExpressions.registry
}
