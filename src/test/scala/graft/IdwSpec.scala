package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.Idw

/** Idw.interpolate pins: brute-force quadratic parity, the exact-hit
  * (dist 0) weight, empty-target zeros, and the in-plan value guard.
  */
class IdwSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val samples: Seq[(Long, Long, Long, Long)] = Seq(
    (1L, 0L, 0L, 10L), (2L, 30L, 0L, 20L), (3L, 0L, 40L, 30L),
    (4L, 500L, 500L, 40L), (5L, 25L, 25L, 50L), (6L, -20L, 10L, 60L))

  private val targets: Seq[(Long, Long, Long)] = Seq(
    (100L, 0L, 0L),      // exact hit on sample 1
    (101L, 10L, 10L),    // several in radius
    (102L, 1000L, 1000L) // nothing in radius
  )

  test("brute-force quadratic parity including the dist-0 weight") {
    val d2 = 2500L
    val got = Idw.interpolate(targets.toDF("id", "x", "y"),
        samples.toDF("id", "x", "y", "v"), d2)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, n, num, den) => id -> ((n, num, den)) }.toMap
    val want = targets.map { case (tid, tx, ty) =>
      val nb = samples.map { case (_, sx, sy, v) =>
        (v, (tx - sx) * (tx - sx) + (ty - sy) * (ty - sy))
      }.filter(_._2 <= d2)
      tid -> ((nb.size.toLong,
        nb.map { case (v, dd) => v * (d2 - dd) }.sum,
        nb.map { case (_, dd) => d2 - dd }.sum))
    }.toMap
    assert(got === want)
    // the exact hit contributes weight d2 itself (no 1/0 singularity)
    assert(got(100L)._3 >= d2)
    // the far target is (0, 0, 0), present
    assert(got(102L) === ((0L, 0L, 0L)))
  }

  test("a value past the 2^20 bound fails the job in-plan") {
    val bad = Seq((9L, 0L, 0L, 1L << 21)).toDF("id", "x", "y", "v")
    val e = intercept[Exception] {
      Idw.interpolate(targets.toDF("id", "x", "y"), bad, 100L).collect()
    }
    assert(e.getMessage != null)
  }
}
