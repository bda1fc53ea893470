package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.SegmentJoin

/** The grid + reference-point plan must equal a brute-force O(n²) pass of
  * the same integer predicate — on planted shapes that force every branch
  * (proper cross, endpoint touch, collinear overlap, disjoint) and on
  * random layers spanning negative coordinates and cell borders.
  */
class SegmentJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private type Seg = (Long, Long, Long, Long, Long) // id, x1, y1, x2, y2

  /** Scala-side ground truth: same predicate, exact integer math. */
  private def bruteIntersects(a: Seg, b: Seg): Boolean = {
    def orient(ax: Long, ay: Long, bx: Long, by: Long, px: Long, py: Long): Long =
      java.lang.Long.signum((bx - ax) * (py - ay) - (by - ay) * (px - ax))
    def onSeg(ax: Long, ay: Long, bx: Long, by: Long, px: Long, py: Long): Boolean =
      px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
        py >= math.min(ay, by) && py <= math.max(ay, by)
    val (_, ax1, ay1, ax2, ay2) = a
    val (_, bx1, by1, bx2, by2) = b
    val d1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    val d2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    val d3 = orient(bx1, by1, bx2, by2, ax1, ay1)
    val d4 = orient(bx1, by1, bx2, by2, ax2, ay2)
    (d1 * d2 < 0 && d3 * d4 < 0) ||
      (d1 == 0 && onSeg(ax1, ay1, ax2, ay2, bx1, by1)) ||
      (d2 == 0 && onSeg(ax1, ay1, ax2, ay2, bx2, by2)) ||
      (d3 == 0 && onSeg(bx1, by1, bx2, by2, ax1, ay1)) ||
      (d4 == 0 && onSeg(bx1, by1, bx2, by2, ax2, ay2))
  }

  private def run(as: Seq[Seg], bs: Seq[Seg], cell: Long): Set[(Long, Long)] =
    SegmentJoin.intersectingPairs(
        as.toDF("id", "x1", "y1", "x2", "y2"),
        bs.toDF("id", "x1", "y1", "x2", "y2"), cell)
      .as[(Long, Long)].collect().toSet

  private def expect(as: Seq[Seg], bs: Seq[Seg]): Set[(Long, Long)] =
    (for (a <- as; b <- bs if bruteIntersects(a, b)) yield (a._1, b._1)).toSet

  test("hand cases: cross, T-touch, collinear overlap, parallel disjoint, point") {
    val as = Seq[Seg](
      (0L, 0L, 0L, 10L, 10L),    // crosses b0
      (1L, 0L, 5L, 10L, 5L),     // b1 T-touches its interior
      (2L, 0L, 20L, 10L, 20L),   // collinear with b2, overlapping
      (3L, 0L, 30L, 10L, 30L),   // parallel to b3, disjoint
      (4L, 50L, 50L, 50L, 50L))  // degenerate point, lies on b4
    val bs = Seq[Seg](
      (100L, 0L, 10L, 10L, 0L),
      (101L, 5L, 5L, 5L, 15L),
      (102L, 5L, 20L, 15L, 20L),
      (103L, 0L, 31L, 10L, 31L),
      (104L, 40L, 40L, 60L, 60L))
    val got = run(as, bs, cell = 8L)
    assert(got === expect(as, bs))
    // cross-layer extras are real: b0 crosses a1 at (5,5)'s row and a0
    // passes through b1's lower endpoint (5,5) — touch counts
    assert(got === Set((0L, 100L), (1L, 101L), (2L, 102L), (4L, 104L),
      (1L, 100L), (0L, 101L)))
  }

  private def ringEdges(pts: Seq[(Long, Long)], ringId: Long = 7L) = {
    val n = pts.length
    (0 until n).map { i =>
      val (x1, y1) = pts(i); val (x2, y2) = pts((i + 1) % n)
      (ringId, i.toLong, n.toLong, x1, y1, x2, y2)
    }.toDF("ring_id", "idx", "n", "x1", "y1", "x2", "y2")
  }
  private def audit(pts: Seq[(Long, Long)], cell: Long = 8L): Set[(Long, Long)] =
    SegmentJoin.selfIntersections(ringEdges(pts), cell)
      .as[(Long, Long, Long)].collect().map(r => (r._2, r._3)).toSet

  test("ring audit: square and convex octagon are clean (adjacent touch allowed)") {
    assert(audit(Seq((0L, 0L), (10L, 0L), (10L, 10L), (0L, 10L))) === Set.empty)
    assert(audit(Seq((2L, 0L), (4L, 0L), (6L, 2L), (6L, 4L), (4L, 6L),
      (2L, 6L), (0L, 4L), (0L, 2L))) === Set.empty)
  }

  test("ring audit: bowtie flags exactly its crossing diagonals") {
    // A(0,0) B(10,0) D(0,10) C(10,10): edges 1 (B→D) and 3 (C→A) cross
    assert(audit(Seq((0L, 0L), (10L, 0L), (0L, 10L), (10L, 10L))) ===
      Set((1L, 3L)))
  }

  test("ring audit: pinch (shared vertex between non-adjacent edges) flags") {
    // hourglass pinched at (5,5): two triangles sharing one vertex
    val got = audit(Seq((0L, 0L), (10L, 0L), (5L, 5L), (10L, 10L), (0L, 10L), (5L, 5L)))
    // every non-adjacent pair meeting at the doubled vertex must flag;
    // the adjacent pairs around each copy must NOT (they only touch at M)
    assert(got.nonEmpty && got.forall { case (i, j) => j - i > 1 && !(i == 0 && j == 5) })
    assert(got === Set((1L, 4L), (1L, 5L), (2L, 4L), (2L, 5L)))
  }

  test("ring audit: collinear spike flags the retracing adjacent pair, wrap included") {
    // spike at vertex 2: path goes ...B(10,0), out to (20,0), straight back
    // through B's row — edge 1 (B→S) and edge 2 (S→C with C behind) retrace
    val got = audit(Seq((0L, 0L), (10L, 0L), (20L, 0L), (15L, 0L), (15L, 10L), (0L, 10L)))
    assert(got.contains((1L, 2L)), s"spike pair missing from $got")
    // wrap spike: the closing edge comes into v0 and edge 0 retraces it
    val wrap = audit(Seq((0L, 0L), (10L, 0L), (10L, 10L), (20L, 0L)))
    assert(wrap.contains((0L, 3L)), s"wrap spike missing from $wrap")
    // straight collinear CONTINUATION through a vertex is clean geometry
    val straight = audit(Seq((0L, 0L), (5L, 0L), (10L, 0L), (10L, 10L), (0L, 10L)))
    assert(straight === Set.empty, s"straight vertex wrongly flagged: $straight")
  }

  test("random layers incl. negative coords: grid plan equals brute force at several cell sizes") {
    val rnd = new scala.util.Random(20260818L)
    def layer(idBase: Long, n: Int): Seq[Seg] = (0 until n).map { i =>
      val x1 = rnd.nextInt(4000) - 2000L
      val y1 = rnd.nextInt(4000) - 2000L
      (idBase + i, x1, y1, x1 + rnd.nextInt(801) - 400L, y1 + rnd.nextInt(801) - 400L)
    }
    val as = layer(0L, 150)
    val bs = layer(10000L, 150)
    val want = expect(as, bs)
    assert(want.nonEmpty) // the layers must actually intersect to test anything
    for (cell <- Seq(64L, 500L, 10000L)) // sub-segment, comparable, whole-world
      assert(run(as, bs, cell) === want, s"cell=$cell")
  }
}
