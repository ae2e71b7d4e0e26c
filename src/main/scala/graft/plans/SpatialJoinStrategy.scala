package graft.plans

import graft.geo.{Geo, GeoExpressions}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.internal.SQLConf
import org.locationtech.jts.index.strtree.STRtree

/**
 * Planner integration for spatial joins (SURVEY.md §4 "custom join
 * strategy"): an inner join whose condition is `st_intersects(a, b)` (the
 * native expression from [[GeoExpressions]]) is planned as
 * [[BroadcastSpatialJoinExec]] — the smaller side is collected, broadcast,
 * and indexed with an STRtree per executor thread; the streamed side probes
 * the index per row. Without this, Catalyst can only pick
 * BroadcastNestedLoopJoin, which evaluates the predicate (deserializing
 * both WKB geometries) for every row pair; the indexed exec prunes
 * candidates by envelope first and reuses prepared geometries.
 *
 * The broadcast is GATED on logical-plan statistics: a side is eligible to
 * be built only if `stats.sizeInBytes <= spark.sql.autoBroadcastJoinThreshold`
 * (the same knob that gates Catalyst's own broadcast joins, so turning it
 * down/off applies here too). The smaller eligible side is built; if
 * NEITHER side qualifies the strategy declines (returns Nil) and planning
 * falls through to Catalyst — at that scale use
 * [[graft.ops.SpatialJoin.quadkeyRefineJoin]], the shuffle-based
 * filter-refine join for two large sides.
 *
 * Installed by [[graft.geo.GraftExtensions]], which every
 * `graft.EngineSession` session and its `newSession()` siblings carry.
 */
object SpatialJoinStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Join(left, right, Inner, Some(cond), _) =>
      // supported predicates; each maps to "does build-side geometry BG
      // relate to streamed-side geometry SG". For st_within(a, b): a within
      // b ≡ b contains a, so the containment test flips with operand order.
      val matched: Option[(Expression, Expression, SpatialPredicate)] = cond match {
        case GeoExpressions.StIntersects(a, b) => Some((a, b, IntersectsPred))
        case GeoExpressions.StContains(a, b) => Some((a, b, ContainsPred))
        case GeoExpressions.StWithin(a, b) => Some((a, b, WithinPred))
        case _ => None
      }
      matched.toSeq.flatMap { case (a, b, pred) =>
        // normalize operand order so `lg` refers to the left plan's geometry
        val normalized: Option[(Expression, Expression, SpatialPredicate)] =
          if (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
            Some((a, b, pred))
          else if (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet))
            Some((b, a, pred.flipped))
          else None
        normalized match {
          case Some((lg, rg, p)) =>
            chooseBuildSide(left, right) match {
              case Some(side) =>
                BroadcastSpatialJoinExec(planLater(left), planLater(right), lg, rg, p, side) :: Nil
              case None => Nil // neither side small enough — let Catalyst plan it
            }
          case None => Nil
        }
      }
    case _ => Nil
  }

  /** Smaller side whose estimated size fits under autoBroadcastJoinThreshold;
    * None (= decline) when the threshold is disabled (<0) or neither fits. */
  private def chooseBuildSide(left: LogicalPlan, right: LogicalPlan): Option[BroadcastSide] = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    if (threshold < 0) return None
    def fits(p: LogicalPlan): Boolean = p.stats.sizeInBytes <= BigInt(threshold)
    (fits(left), fits(right)) match {
      case (true, true) =>
        Some(if (right.stats.sizeInBytes <= left.stats.sizeInBytes) BuildRightSide else BuildLeftSide)
      case (false, true) => Some(BuildRightSide)
      case (true, false) => Some(BuildLeftSide)
      case _ => None
    }
  }
}

/** Which child of the join is collected + broadcast. */
sealed trait BroadcastSide extends Serializable
case object BuildLeftSide extends BroadcastSide
case object BuildRightSide extends BroadcastSide

/** How the build side's prepared geometry relates to a streamed probe.
  * `eval(prepared_build_geom, streamed_geom)`, with the predicate expressed
  * relative to build=RIGHT; building the left side uses `flipped`. */
sealed trait SpatialPredicate extends Serializable {
  def eval(b: org.locationtech.jts.geom.prep.PreparedGeometry,
           s: org.locationtech.jts.geom.Geometry): Boolean
  def flipped: SpatialPredicate
}
case object IntersectsPred extends SpatialPredicate {
  def eval(b: org.locationtech.jts.geom.prep.PreparedGeometry,
           s: org.locationtech.jts.geom.Geometry): Boolean = b.intersects(s)
  def flipped: SpatialPredicate = this
}
/** original condition was st_contains(streamed, build)… after operand
  * swap this evaluates build-within-streamed = streamed contains build. */
case object ContainsPred extends SpatialPredicate {
  // condition st_contains(L, R): streamed L contains build R
  def eval(b: org.locationtech.jts.geom.prep.PreparedGeometry,
           s: org.locationtech.jts.geom.Geometry): Boolean = b.within(s)
  def flipped: SpatialPredicate = WithinPred
}
case object WithinPred extends SpatialPredicate {
  // condition st_within(L, R): streamed L within build R
  def eval(b: org.locationtech.jts.geom.prep.PreparedGeometry,
           s: org.locationtech.jts.geom.Geometry): Boolean = b.contains(s)
  def flipped: SpatialPredicate = ContainsPred
}

/**
 * Broadcast spatial inner join: collects + broadcasts the BUILD side
 * (chosen by the strategy from plan statistics, never larger than
 * autoBroadcastJoinThreshold), streams the other. The index is built once
 * per executor thread (STRtree + prepared geometries); probes are
 * envelope-pruned before the exact JTS test. Output column order is always
 * left.output ++ right.output regardless of which side is built.
 */
case class BroadcastSpatialJoinExec(left: SparkPlan, right: SparkPlan,
                                    leftGeom: Expression, rightGeom: Expression,
                                    predicate: SpatialPredicate = IntersectsPred,
                                    buildSide: BroadcastSide = BuildRightSide)
    extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(left = l, right = r)

  override protected def doExecute(): RDD[InternalRow] = {
    val buildRight = buildSide == BuildRightSide
    val (buildPlan, streamPlan) = if (buildRight) (right, left) else (left, right)
    val (buildGeom, streamGeom) = if (buildRight) (rightGeom, leftGeom) else (leftGeom, rightGeom)
    // predicate is authored as eval(prepared RIGHT, streamed LEFT)
    val effPred = if (buildRight) predicate else predicate.flipped

    val boundB = BindReferences.bindReference(buildGeom, buildPlan.output)
    val buildRows: Array[(Array[Byte], Array[Byte])] = buildPlan.executeCollect().map { row =>
      val g = boundB.eval(row).asInstanceOf[Array[Byte]]
      // keep rows as serialized copies; UnsafeRow.copy().getBytes is not
      // directly portable, so re-project to unsafe and copy
      (UnsafeProjection.create(buildPlan.output, buildPlan.output)(row).copy().getBytes, g)
    }
    val buildSchema = buildPlan.output
    val bc = sparkContext.broadcast(buildRows)
    val tl = new graft.util.ThreadLocalCache[(STRtree, Array[(InternalRow, org.locationtech.jts.geom.prep.PreparedGeometry)])](() => {
      val rows = bc.value.map { case (bytes, g) =>
        val r = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(buildSchema.size)
        r.pointTo(bytes, bytes.length)
        val geom = if (g == null) null
          else org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(Geo.fromWkb(g))
        (r: InternalRow, geom)
      }
      val tree = new STRtree()
      rows.zipWithIndex.foreach { case ((_, pg), i) =>
        if (pg != null) tree.insert(pg.getGeometry.getEnvelopeInternal, Integer.valueOf(i))
      }
      tree.build()
      (tree, rows)
    })

    val streamOut = streamPlan.output
    val allOut = output
    streamPlan.execute().mapPartitions { iter =>
      val boundS = BindReferences.bindReference(streamGeom, streamOut)
      val (tree, rows) = tl.get
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(allOut, allOut)
      iter.flatMap { srow =>
        val gBytes = boundS.eval(srow).asInstanceOf[Array[Byte]]
        if (gBytes == null) Iterator.empty
        else {
          val g = Geo.fromWkb(gBytes)
          import scala.jdk.CollectionConverters._
          tree.query(g.getEnvelopeInternal).asScala.iterator
            .map(_.asInstanceOf[Integer].intValue)
            .filter(i => effPred.eval(rows(i)._2, g))
            .map { i =>
              // output order is (left, right) regardless of build side
              if (buildRight) proj(joined(srow, rows(i)._1))
              else proj(joined(rows(i)._1, srow))
            }
        }
      }
    }
  }
}
