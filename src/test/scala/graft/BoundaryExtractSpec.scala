package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.OsmScenes
import graft.osm.BoundaryExtract
import graft.geom.PolygonRow

/** End-to-end pipeline tests on the golden scenes S1–S7 (FIXTURES.md §1).
  * Expected ring sequences are derived BY HAND from the reference algorithm
  * (`/root/reference/src/converter.rs:35-105` greedy stitch with swap_remove)
  * — comments show the trace.
  */
class BoundaryExtractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val result: Map[Long, PolygonRow] = {
    val (n, w, r) = OsmScenes.golden.toDFs(spark)
    BoundaryExtract.extract(spark, r, w, n, 8, 8).collect().map(p => p.relation_id -> p).toMap
  }

  private def ringIds(p: PolygonRow): Seq[Seq[(Float, Float)]] =
    p.rings.map(_.map(pt => (pt.lat, pt.lon)))

  test("only admin-8 administrative relations survive (S7 + F1/F2)") {
    assert(result.keySet == Set(11L, 12L, 13L, 14L, 15L, 161L, 162L, 163L, 164L, 165L, 173L))
  }

  test("S1 pre-ordered 3-way ring stitches closed with junction dups") {
    // trace: seed A=[1000,1001,1002]; swap_remove → nodes=[C,B];
    // head 1000 matches C's tail → [1003,1000]++path; head 1003 matches
    // B=[1002,1003] tail → [1002,1003]++path
    val p = result(11L)
    assert(p.name == "Alpha" && p.admin_level == 8L)
    assert(ringIds(p) == Seq(Seq(
      (48.1f, 8.1f), (48.1f, 8.0f), (48.1f, 8.0f), (48.0f, 8.0f),
      (48.0f, 8.0f), (48.0f, 8.1f), (48.1f, 8.1f))))
  }

  test("S2 shuffled + reversed members stitch to one closed ring") {
    val p = result(12L)
    val ring = p.rings.head
    // closed: first point == last point; all 4 corners present
    assert(p.rings.length == 1)
    assert(ring.head == ring.last)
    assert(ring.map(pt => (pt.lat, pt.lon)).distinct.toSet ==
      Set((49.0f, 9.0f), (49.0f, 9.1f), (49.1f, 9.1f), (49.1f, 9.0f)))
    // exact trace: [2000,2001,2002,2002,2003,2003,2000]
    assert(ring.map(pt => (pt.lat, pt.lon)) == Seq(
      (49.0f, 9.0f), (49.0f, 9.1f), (49.1f, 9.1f), (49.1f, 9.1f),
      (49.1f, 9.0f), (49.1f, 9.0f), (49.0f, 9.0f)))
  }

  test("S3 two disjoint rings both emitted; node/relation members ignored") {
    val p = result(13L)
    assert(p.rings.length == 2)
    assert(p.rings.forall(r => r.head == r.last)) // both arrived closed
    val js = graft.emit.Emitters.geoJson(p).get
    assert(js.contains("MultiPolygon"))
  }

  test("S4 dangling way + dangling nodes dropped; empty segment dropped") {
    val p = result(14L)
    // segments after joins: [4000,4001,4002], [4002,4003,4000]; stitch:
    // head 4000 matches B tail → reversed-prepend → [4002,4003,4000,4000,4001,4002]
    assert(ringIds(p) == Seq(Seq(
      (51.1f, 11.1f), (51.1f, 11.0f), (51.0f, 11.0f), (51.0f, 11.0f),
      (51.0f, 11.1f), (51.1f, 11.1f))))
  }

  test("S5 missing name → prefix_UNKNOWN_NAME; garbage/missing admin_level filtered") {
    assert(result(15L).name == "Stadt_UNKNOWN_NAME")
    assert(!result.contains(151L) && !result.contains(152L))
  }

  test("S6 dedup: case-insensitive duplicates suffixed, forbidden chars stripped") {
    val (n, w, r) = OsmScenes.golden.toDFs(spark)
    val df = BoundaryExtract.extractWithSinks(spark, r, w, n, 8, 8)
    val names = df.select("relation_id", "out_name").collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    assert(names(161L) == "Vimianzo_161")
    assert(names(162L) == "vimianzo_162")
    assert(names(163L) == "Vimianzo_163")
    assert(names(164L) == "Unique")
    assert(names(165L) == "abc")
  }

  test("poly_text and geojson columns are the exact reference file contents") {
    val (n, w, r) = OsmScenes.golden.toDFs(spark)
    val df = BoundaryExtract.extractWithSinks(spark, r, w, n, 8, 8)
    val row = df.filter(df("relation_id") === 11L).select("poly_text", "geojson").head()
    assert(row.getString(0) ==
      "Alpha\narea_1\n\t8.1 \t48.1\n\t8 \t48.1\n\t8 \t48.1\n\t8 \t48\n\t8 \t48\n\t8.1 \t48\n\t8.1 \t48.1\nEND\nEND\n")
    assert(row.getString(1).startsWith("""{"geometry":{"coordinates":[[[8.1,48.1],"""))
    assert(row.getString(1).contains("\"name\":\"Alpha\""))
  }

  test("plan: member list is broadcast into both big-side joins") {
    val (n, w, r) = OsmScenes.golden.toDFs(spark)
    val plan = BoundaryExtract.extract(spark, r, w, n, 8, 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join in plan:\n$plan")
  }

  test("deterministic across partitionings (order-preservation under shuffle)") {
    val (n, w, r) = OsmScenes.golden.toDFs(spark)
    val a = BoundaryExtract.extract(spark, r.repartition(7), w.repartition(5), n.repartition(3), 8, 8)
      .collect().map(p => p.relation_id -> p).toMap
    assert(a == result)
  }

  test("admin range spanning levels includes 7..9; degenerate min==max excludes neighbors") {
    val (n, w, r) = OsmScenes.golden.toDFs(spark)
    val wide = BoundaryExtract.extract(spark, r, w, n, 7, 9)
      .collect().map(_.relation_id).toSet
    assert(wide.contains(171L) && wide.contains(172L) && wide.contains(173L)) // 7, 9, 8
    assert(!wide.contains(151L)) // garbage level → 127, outside 7..9
    val exact = BoundaryExtract.extract(spark, r, w, n, 9, 9)
      .collect().map(_.relation_id).toSet
    assert(exact == Set(172L))
    // degenerate empty range
    assert(BoundaryExtract.extract(spark, r, w, n, 50, 60).count() == 0)
    // max 127 admits parse-failures (the reference default)
    val all = BoundaryExtract.extract(spark, r, w, n, 1, 127)
      .collect().map(_.relation_id).toSet
    assert(all.contains(151L) && all.contains(152L))
  }

  test("grid scene: every relation yields one closed ring; scales linearly in rows") {
    val (n, w, r) = OsmScenes.grid(8, 4).toDFs(spark)
    val polys = BoundaryExtract.extract(spark, r, w, n, 8, 8).collect()
    assert(polys.length == 32)
    polys.foreach { p =>
      assert(p.rings.length == 1, s"rel ${p.relation_id}: ${p.rings.length} rings")
      val ring = p.rings.head
      assert(ring.head == ring.last, s"rel ${p.relation_id} not closed")
    }
  }
}
