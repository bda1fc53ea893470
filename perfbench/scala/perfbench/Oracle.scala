package perfbench

import graft.fixtures.OsmScenes.Scene
import graft.geom.PolygonRow

/** Expected outputs computed in the harness, outside Spark: brute-force
  * ray casting over `Array` copies of the rings, and tile pyramid counts
  * from the image sizes alone.
  */
object Oracle {

  /** One polygon as parallel float arrays per ring, with its bbox. */
  final class Poly(val id: Long, rings: Seq[(Array[Float], Array[Float])]) {
    private val lats = rings.flatMap(_._1); private val lons = rings.flatMap(_._2)
    private val minLat = lats.min.toDouble; private val maxLat = lats.max.toDouble
    private val minLon = lons.min.toDouble; private val maxLon = lons.max.toDouble

    /** Even-odd crossing test, union over rings (the engine's semantics). */
    def contains(lat: Double, lon: Double): Boolean =
      lat >= minLat && lat <= maxLat && lon >= minLon && lon <= maxLon &&
        rings.exists { case (la, lo) => inRing(la, lo, lat, lon) }
  }

  def inRing(la: Array[Float], lo: Array[Float], lat: Double, lon: Double): Boolean = {
    val n = la.length
    if (n < 3) return false
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val yi = la(i).toDouble; val xi = lo(i).toDouble
      val yj = la(j).toDouble; val xj = lo(j).toDouble
      if (((yi > lat) != (yj > lat)) && (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  def polysOf(rows: Seq[PolygonRow]): Seq[Poly] = rows.map(p =>
    new Poly(p.relation_id, p.rings.map(r => (r.map(_.lat).toArray, r.map(_.lon).toArray))))

  /** Rings of a grid scene straight from its nodes and ways: member ways in
    * order, each walked in whichever direction continues the ring, with the
    * float conversion of decimicro degrees the format defines.
    */
  def polysOfScene(s: Scene): Seq[Poly] = {
    val node = s.nodes.map(n => n.id -> n).toMap
    val way = s.ways.map(w => w.id -> w.node_ids).toMap
    s.relations.map { r =>
      val segs = r.members.map(m => way(m.member_id))
      val ring = segs.tail.foldLeft(segs.head) { (acc, seg) =>
        if (seg.head == acc.last) acc ++ seg.tail
        else if (seg.last == acc.last) acc ++ seg.reverse.tail
        else if (seg.last == acc.head) seg ++ acc.tail
        else seg.reverse ++ acc.tail
      }
      val la = ring.map(id => (node(id).decimicro_lat.toDouble / 1e7).toFloat).toArray
      val lo = ring.map(id => (node(id).decimicro_lon.toDouble / 1e7).toFloat).toArray
      new Poly(r.id, Seq((la, lo)))
    }
  }

  /** Geotag of image key `i` (FIXTURES.md §2 arithmetic). */
  def keyLat(i: Long): Double = (math.abs(i * 9973L + 12345L) % 170000L).toDouble / 1000.0 - 85.0
  def keyLon(i: Long): Double = (math.abs(i * 7919L + 54321L) % 360000L).toDouble / 1000.0 - 180.0

  /** Tiles in the pyramid of a w×h image: 16-pixel tiles per level, each
    * level halving (rounding up) until one tile holds it.
    */
  def pyramidTiles(w0: Int, h0: Int): Long = {
    var w = w0; var h = h0; var n = 0L
    var done = false
    while (!done) {
      n += ((w + 15) / 16).toLong * ((h + 15) / 16)
      if (w <= 16 && h <= 16) done = true
      else { w = (w + 1) / 2; h = (h + 1) / 2 }
    }
    n
  }
}
