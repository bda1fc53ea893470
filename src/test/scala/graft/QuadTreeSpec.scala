package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cell.QuadTree

/** QuadTree.leaves pins: brute-force recursive splitter parity on a
  * skewed deterministic scene, the coverage/disjointness/cap
  * invariants, the depth-capped leaf rule, and the in-plan domain
  * guard.
  */
class QuadTreeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Reference splitter: recursive, exactly the PR-quadtree bulk-load
    * semantics the operator claims.
    */
  private def brute(pts: Seq[(Long, Long)], res: Int, cap: Long,
      maxDepth: Int): Set[(Int, Long, Long, Long)] = {
    def go(level: Int, qx: Long, qy: Long,
        in: Seq[(Long, Long)]): Set[(Int, Long, Long, Long)] =
      if (in.isEmpty) Set.empty
      else if (in.size <= cap || level == maxDepth)
        Set((level, qx, qy, in.size.toLong))
      else {
        val shift = res - (level + 1)
        in.groupBy { case (x, y) => (x >> shift, y >> shift) }
          .flatMap { case ((cx, cy), sub) => go(level + 1, cx, cy, sub) }
          .toSet
      }
    go(0, 0L, 0L, pts)
  }

  /** Skewed deterministic scene: a dense knot, a medium cluster, a
    * diagonal scatter — splitmix-free integer arithmetic only.
    */
  private def scene: Seq[(Long, Long)] =
    (0 until 90).map(i => (100L + i % 10, 200L + i / 10)) ++
      (0 until 30).map(i => (3000L + (i * 37) % 80, 500L + (i * 53) % 80)) ++
      (0 until 25).map(i => (i * 157L % 4096, i * 211L % 4096))

  test("leaves match the recursive reference splitter on a skewed scene") {
    val got = QuadTree.leaves(scene.toDF("x", "y"), res = 12, cap = 8L, maxDepth = 6)
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(got === brute(scene, 12, 8L, 6))
  }

  test("coverage, disjointness, and the cap/depth invariants") {
    val leaves = QuadTree.leaves(scene.toDF("x", "y"), res = 12, cap = 8L, maxDepth = 6)
      .as[(Int, Long, Long, Long)].collect()
    // every point in exactly one leaf
    assert(leaves.map(_._4).sum == scene.size.toLong)
    for ((x, y) <- scene) {
      val owners = leaves.filter { case (l, qx, qy, _) =>
        (x >> (12 - l)) == qx && (y >> (12 - l)) == qy }
      assert(owners.length == 1, s"point ($x,$y) owned by ${owners.length} leaves")
    }
    // above maxDepth every leaf respects the cap
    assert(leaves.filter(_._1 < 6).forall(_._4 <= 8L))
    // no leaf is an ancestor of another
    for (a <- leaves; b <- leaves if a._1 < b._1)
      assert(!((b._2 >> (b._1 - a._1)) == a._2 && (b._3 >> (b._1 - a._1)) == a._3))
  }

  test("an over-cap root at maxDepth 0 is still the single leaf") {
    val got = QuadTree.leaves(scene.toDF("x", "y"), res = 12, cap = 8L, maxDepth = 0)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got === Seq((0, 0L, 0L, scene.size.toLong)))
  }

  test("an out-of-domain coordinate fails the job in-plan") {
    val bad = Seq((5L, 3L), (4096L, 0L)).toDF("x", "y")
    val e = intercept[Exception] {
      QuadTree.leaves(bad, res = 12, cap = 8L, maxDepth = 2).collect()
    }
    assert(e.getMessage != null)
  }
}
