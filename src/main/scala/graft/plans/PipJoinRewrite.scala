package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import graft.cell.CellIndex
import graft.functions.{GraftFunctions, RayCastContains}

/** Catalyst optimizer rule: a point-in-polygon THETA join written
  * declaratively as
  *
  *   probes.join(polys, ray_cast_contains(rings, lat, lon))
  *
  * would execute as BroadcastNestedLoopJoin — every probe row against every
  * polygon. This rule rewrites it by plan surgery into the cell-indexed
  * form SpatialJoin builds by hand (SURVEY.md §4 item 1):
  *
  *   probe side:   + __graft_cell   = cellOf(lat, lon, res)
  *   polygon side: Generate(explode(coverCells(rings, res)))
  *   Join(..., __graft_cell = __graft_cover_cell, BROADCAST build side)
  *   Filter(ray_cast_contains(...))        — exact refine, same expression
  *
  * Semantics preserved exactly: cover is a superset of cells containing any
  * polygon point and each probe has one cell, so the equi-join loses no
  * candidate pair and duplicates none; the original predicate refines.
  * Resolution from `spark.graft.pip.res` (default 7).
  */
object PipJoinRewrite extends Rule[LogicalPlan] {

  /** Install on a LIVE session (extensions configs only apply at session
    * construction; `getOrCreate` silently ignores them on reuse). Idempotent.
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.functions.GraftFunctions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(PipJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PipJoinRewrite
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(rc: RayCastContains), hint) =>
      val res = conf.getConfString("spark.graft.pip.res", "7").toInt
      val ringsRefs = rc.rings.references
      val probeRefs = rc.lat.references ++ rc.lon.references
      val rewritten =
        if (ringsRefs.subsetOf(right.outputSet) && probeRefs.subsetOf(left.outputSet))
          Some((left, right, false))
        else if (ringsRefs.subsetOf(left.outputSet) && probeRefs.subsetOf(right.outputSet))
          Some((right, left, true))
        else None
      rewritten match {
        case None => j
        case Some((probe, polys, swapped)) =>
          def dbl(e: Expression) = if (e.dataType == DoubleType) e else Cast(e, DoubleType)
          val cellAlias = Alias(GraftFunctions.cellOfExpr(dbl(rc.lat), dbl(rc.lon), res), "__graft_cell")()
          val probeProj = Project(probe.output :+ cellAlias, probe)
          val coverAttr = AttributeReference("__graft_cover_cell", LongType, nullable = false)()
          val genNode = Generate(
            Explode(CoverCellsExpr(rc.rings, Literal(res))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(coverAttr), child = polys)
          val cond = EqualTo(cellAlias.toAttribute, coverAttr)
          val newHint = JoinHint(hint.leftHint,
            Some(hint.rightHint.getOrElse(HintInfo()).copy(strategy = Some(BROADCAST))))
          val join = Join(probeProj, genNode, Inner, Some(cond), newHint)
          // original output order (probe/poly sides may have been swapped)
          Project(j.output, Filter(rc, join))
      }
  }
}

/** coverCells(rings, res) → array<long> of cells the polygon touches. */
case class CoverCellsExpr(rings: Expression, resE: Expression)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = rings
  override def right: Expression = resE
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cover_cells"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val r = rings.eval(input)
    if (r == null) return new GenericArrayData(Array.emptyLongArray)
    val arr = r.asInstanceOf[ArrayData]
    val parsed = (0 until arr.numElements()).map { i =>
      val ring = arr.getArray(i)
      (0 until ring.numElements()).map { k =>
        val p = ring.getStruct(k, 2)
        graft.geom.Pt(p.getFloat(0), p.getFloat(1))
      }
    }
    val res = resE.eval(input).asInstanceOf[Number].intValue()
    new GenericArrayData(CellIndex.cover(parsed, res, maxCells = 1 << 20).toArray)
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression): Expression =
    copy(rings = a, resE = b)
}

/** Session extensions: inject the PIP rewrite + register engine functions.
  * Use via `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => PipJoinRewrite)
    e.injectFunction(
      (new org.apache.spark.sql.catalyst.FunctionIdentifier("ray_cast_contains"),
        new ExpressionInfo("graft.functions.RayCastContains", "ray_cast_contains"),
        (exprs: Seq[Expression]) => RayCastContains(exprs(0), exprs(1), exprs(2))))
  }
}
