package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.img.{Blobs, ImageTable}

/** Labeling semantics pinned by hand-drawn masks (the cases where CCL
  * implementations disagree), then the planted mask table against its
  * bit-derived closed form — the same arithmetic the q119 oracle runs.
  */
class BlobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val W = 0xFFFFFF
  private def img(rows: String*): (Array[Int], Int, Int) = {
    val h = rows.length; val w = rows.head.length
    val px = rows.flatMap(_.map(c => if (c == '#') W else 0)).toArray
    (px, w, h)
  }
  private def stats(rows: String*): (Long, Long, Long) = {
    val (px, w, h) = img(rows: _*)
    Blobs.labelStats(px, w, h, 128)
  }

  test("single rect, L-shape, and full frame are one blob each") {
    assert(stats("....", ".##.", ".##.", "....") === ((1L, 4L, 4L)))
    assert(stats("#...", "#...", "###.") === ((1L, 5L, 5L)))
    assert(stats("##", "##") === ((1L, 4L, 4L)))
  }

  test("diagonal touch is NOT connected (4-connectivity)") {
    assert(stats("#.", ".#") === ((2L, 1L, 2L)))
    // but an orthogonal bridge joins them
    assert(stats("##", ".#") === ((1L, 3L, 3L)))
  }

  test("a donut is one blob; its hole is not a blob and not coverage") {
    assert(stats("###", "#.#", "###") === ((1L, 8L, 8L)))
  }

  test("threshold boundary: luma 128 is on, 127 is off") {
    // gray pixel with r=g=b=v has luma exactly v
    def one(v: Int) = Blobs.labelStats(Array((v << 16) | (v << 8) | v), 1, 1, 128)
    assert(one(128) === ((1L, 1L, 1L)))
    assert(one(127) === ((0L, 0L, 0L)))
  }

  test("mask table: decode through real codecs matches the bit closed form") {
    val got = Blobs.blobStats(spark, Blobs.maskTable(spark, 50))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    for (i <- 0L until 50L) {
      val z = ImageTable.splitmix64(i)
      val quads = (0 until 4).filter(q => ((z >>> q) & 1L) == 1L).map { q =>
        (8L + ((z >>> (4 + 2 * q)) & 3L)) * (8L + ((z >>> (12 + 2 * q)) & 3L))
      }
      val want = (quads.size.toLong,
        if (quads.isEmpty) 0L else quads.max, quads.sum)
      assert(got(f"img_$i%09d") === want, s"i=$i z=$z")
    }
  }

  test("labelStats agrees with an independent BFS flood fill on random noise") {
    val rnd = new scala.util.Random(7L)
    for (_ <- 0 until 20) {
      val w = 1 + rnd.nextInt(24); val h = 1 + rnd.nextInt(24)
      val on = Array.fill(w * h)(rnd.nextBoolean())
      val px = on.map(b => if (b) W else 0)
      // BFS reference
      val seen = new Array[Boolean](w * h)
      var blobs = 0; var maxA = 0L; var cover = 0L
      for (s0 <- 0 until w * h if on(s0) && !seen(s0)) {
        blobs += 1
        var a = 0L
        val q = scala.collection.mutable.Queue(s0)
        seen(s0) = true
        while (q.nonEmpty) {
          val c = q.dequeue(); a += 1
          val (cx, cy) = (c % w, c / w)
          for ((nx, ny) <- Seq((cx - 1, cy), (cx + 1, cy), (cx, cy - 1), (cx, cy + 1))
               if nx >= 0 && nx < w && ny >= 0 && ny < h) {
            val n = ny * w + nx
            if (on(n) && !seen(n)) { seen(n) = true; q.enqueue(n) }
          }
        }
        maxA = math.max(maxA, a); cover += a
      }
      assert(Blobs.labelStats(px, w, h, 128) === ((blobs.toLong, maxA, cover)),
        s"w=$w h=$h")
    }
  }
}
