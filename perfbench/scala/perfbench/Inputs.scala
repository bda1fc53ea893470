package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import graft.fixtures.OsmScenes.{Member, NodeRow, RelationRow, Scene, WayRow}
import graft.geom.{PolygonRow, Pt}
import graft.img.ImageTable

/** Seeded input generators. Every input a workload hands the library is
  * made here from the run's seed; the same seed gives the same inputs.
  */
object Inputs {

  def mix(a: Long, b: Long): Long = ImageTable.splitmix64(a * 0x9E3779B97F4A7C15L ^ b)

  // ---- grid_tiles: the image table ------------------------------------

  /** First image index of the table. Image ids keep nine digits. */
  def imageOffset(seed: Long): Long = Math.floorMod(seed, 900L) * 1000000L

  /** `n` images from `offset` on, with their index, written as Parquet. */
  def writeImages(spark: SparkSession, path: String, offset: Long, n: Long, parts: Int): Unit = {
    import spark.implicits._
    spark.range(offset, offset + n, 1, parts)
      .map { i =>
        val r = ImageTable.makeRow(i)
        (i.longValue, r.image_id, r.bytes, r.w, r.h, r.fmt)
      }
      .toDF("idx", "image_id", "bytes", "w", "h", "fmt")
      .write.mode("overwrite").parquet(path)
  }

  // ---- osm_join: polygons and probes -----------------------------

  /** `count` star-shaped polygons of `verts` vertices (plus the closing
    * vertex) on a square layout over [-60,60]°lat × [-120,120]°lon. The
    * radius wobbles with three harmonics and per-vertex jitter, so each ring
    * is simple but far from its bounding box. The geometry is the same for
    * every seed: cover and refine work would otherwise change with it.
    */
  def detailedPolygons(count: Int, verts: Int): Seq[PolygonRow] = {
    val rnd = new SplittableRandom(1L)
    val side = math.ceil(math.sqrt(count.toDouble)).toInt
    val dLat = 120.0 / side; val dLon = 240.0 / side
    (0 until count).map { k =>
      val cLat = -60.0 + (k / side + 0.5) * dLat + (rnd.nextDouble() - 0.5) * 0.1 * dLat
      val cLon = -120.0 + (k % side + 0.5) * dLon + (rnd.nextDouble() - 0.5) * 0.1 * dLon
      val ph = Array.fill(3)(rnd.nextDouble() * 2 * math.Pi)
      val pts = (0 until verts).map { j =>
        val t = 2 * math.Pi * j / verts
        val f = 1.0 + 0.18 * math.sin(3 * t + ph(0)) + 0.08 * math.sin(7 * t + ph(1)) +
          0.04 * math.sin(17 * t + ph(2)) + 0.02 * (rnd.nextDouble() - 0.5)
        Pt((cLat + 0.4 * dLat * f * math.sin(t)).toFloat, (cLon + 0.4 * dLon * f * math.cos(t)).toFloat)
      }
      PolygonRow(s"detailed_$k", Seq(pts :+ pts.head), 4000000L + k, 8L)
    }
  }

  /** Bounds (lat0, lon0, lat1, lon1) of the res-`res` cell holding a point. */
  def cellBounds(lat: Double, lon: Double, res: Int): Array[Double] = {
    val n = 1L << res
    val x = math.min(math.max(math.floor((lon + 180.0) / 360.0 * n), 0.0), n - 1.0)
    val y = math.min(math.max(math.floor((lat + 90.0) / 180.0 * n), 0.0), n - 1.0)
    Array(y * 180.0 / n - 90.0, x * 360.0 / n - 180.0, (y + 1) * 180.0 / n - 90.0, (x + 1) * 360.0 / n - 180.0)
  }

  /** Eight hot cells, each around a seeded vertex of a different polygon,
    * so every hot cell straddles a polygon edge.
    */
  def hotCells(seed: Long, polys: Seq[PolygonRow], res: Int): Array[Array[Double]] = {
    val rnd = new SplittableRandom(mix(seed, 2L))
    (0 until 8).map { h =>
      val ring = polys((h * 9) % polys.size).rings.head
      val v = ring(rnd.nextInt(ring.size - 1))
      cellBounds(v.lat.toDouble, v.lon.toDouble, res)
    }.toArray
  }

  /** Probe `id` of `n`: the first half uniform over ±85°lat × ±180°lon,
    * the second half spread over the eight hot cells.
    */
  def probe(seed: Long, id: Long, n: Long, hot: Array[Array[Double]]): (Double, Double) = {
    val r = new SplittableRandom(mix(seed, 3L + id))
    if (id < n / 2) (r.nextDouble() * 170.0 - 85.0, r.nextDouble() * 360.0 - 180.0)
    else {
      val b = hot((id % hot.length).toInt)
      (b(0) + r.nextDouble() * (b(2) - b(0)), b(1) + r.nextDouble() * (b(3) - b(1)))
    }
  }

  def writeProbes(spark: SparkSession, path: String, seed: Long, n: Long,
      hot: Array[Array[Double]], parts: Int): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, parts)
      .map { id => val (la, lo) = probe(seed, id, n, hot); (id.longValue, la, lo) }
      .toDF("id", "lat", "lon")
      .write.mode("overwrite").parquet(path)
  }

  // ---- osm_join: detailed boundaries as an OSM scene ---------------------

  val FillerNode = 50000000L
  val FillerWay = 60000000L

  /** The polygons of [[detailedPolygons]] as admin-8 relations, each ring
    * cut into four ways with seeded orientation flips and a seeded member
    * rotation, with seeded node ids, then padded with untagged filler nodes and ways (one way per
    * ten filler entities, 2-9 nodes each) to `total` entities.
    */
  def detailedScene(seed: Long, count: Int, verts: Int, total: Int): Scene = {
    val rnd = new SplittableRandom(mix(seed, 4L))
    val dm = (d: Float) => math.round(d.toDouble * 1e7).toInt
    val nodes = ArrayBuffer.empty[NodeRow]
    val ways = ArrayBuffer.empty[WayRow]
    val rels = ArrayBuffer.empty[RelationRow]
    val idBase = 100000000L + Math.floorMod(seed, 1000L) * 1000000L
    detailedPolygons(count, verts).zipWithIndex.foreach { case (p, k) =>
      val ring = p.rings.head.dropRight(1)
      val ids = ring.indices.map(j => idBase + k * 10000L + j)
      ring.zip(ids).foreach { case (pt, id) => nodes += NodeRow(id, dm(pt.lat), dm(pt.lon), Map.empty) }
      val cut = (0 to 4).map(q => q * ring.size / 4)
      val parts = (0 until 4).map { q =>
        val seg = (cut(q) to cut(q + 1)).map(j => ids(j % ring.size))
        WayRow(2000000L + k * 4L + q, if (rnd.nextBoolean()) seg.reverse else seg, Map.empty)
      }
      ways ++= parts
      val rot = rnd.nextInt(4)
      rels += RelationRow(p.relation_id, (parts.drop(rot) ++ parts.take(rot)).map(w => Member("way", w.id, "outer")),
        Map("boundary" -> "administrative", "admin_level" -> "8", "name" -> p.name))
    }
    val fill = math.max(0, total - nodes.size - ways.size - rels.size)
    val nWays = fill / 10; val nNodes = math.max(1, fill - nWays)
    nodes ++= (0 until nNodes).map(j => NodeRow(FillerNode + j,
      rnd.nextInt(-850000000, 850000000), rnd.nextInt(-1800000000, 1800000000), Map.empty))
    ways ++= (0 until nWays).map(j => WayRow(FillerWay + j,
      Seq.fill(2 + rnd.nextInt(8))(FillerNode + rnd.nextInt(nNodes)), Map.empty))
    Scene(nodes.toSeq, ways.toSeq, rels.toSeq)
  }
}
