package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Evidence for the scale patterns the 100 TB design leans on: salting
  * spreads a hot cell across partitions; bucketing co-locates a join with
  * no exchange on the bucketed side; AQE is on in bench sessions. Also
  * pins the one session factory and the host-derived N→4N scaling pair.
  */
class ScalePatternsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("salted spatial join spreads one hot cell over multiple shuffle partitions") {
    // every probe in the SAME cell → unsalted shuffle join puts every row in
    // one partition; salt S=8 must spread them
    // per-row (non-constant) coordinates inside ONE cell — constant lat/lon
    // would be constant-folded into a pushed filter and skip the shuffle
    val probes = spark.range(0, 2000).select(
      col("id").as("pid"),
      (lit(10.01) + col("id") * 1e-7).as("lat"),
      (lit(10.01) + col("id") * 1e-7).as("lon"))
    val poly = graft.geom.PolygonRow("hot", Seq(Seq(
      graft.geom.Pt(9f, 9f), graft.geom.Pt(9f, 12f),
      graft.geom.Pt(12f, 12f), graft.geom.Pt(12f, 9f))), 1L, 8L)
    val polys = spark.createDataset(Seq(poly))

    def occupancy(useSalt: Int): Int = {
      val assigned = graft.join.SpatialJoin.assign(spark, probes, polys, res = 8,
        idCol = "pid", useBroadcast = false, saltBuckets = useSalt)
      assigned.rdd.mapPartitions(it => Iterator.single(it.size)).collect().count(_ > 0)
    }
    // force the real shuffle-join path (Catalyst would auto-broadcast the
    // tiny build side here, which is exactly what we DON'T get at 100 TB
    // when the polygon side outgrows broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(occupancy(1) == 1, "unsalted hot cell should land in one partition")
      assert(occupancy(8) >= 4, "explicit salting should spread the hot cell")
      // with AQE back on: the skew-join split also spreads it, salt-free.
      // (thresholds lowered to make a 2000-row fixture "skewed" — production
      // defaults are 256MB partitions, the same mechanism at 100 TB)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      assert(occupancy(1) >= 2, "AQE skew split should spread the hot cell")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
    // and the salted result is still correct
    val n = graft.join.SpatialJoin.assign(spark, probes, polys, res = 8,
      idCol = "pid", useBroadcast = false, saltBuckets = 8).count()
    assert(n == 2000)
  }

  test("bucketed tables join without a shuffle exchange on the bucketed sides") {
    val dir = java.nio.file.Files.createTempDirectory("graft-buckets").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/li").saveAsTable("li_bkt")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/o").saveAsTable("o_bkt")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("li_bkt")
        .join(spark.table("o_bkt"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      // only the final groupBy may shuffle — the join itself is co-located
      assert(exchanges <= 1, s"join should be exchange-free on bucketed sides:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS o_bkt")
    }
  }

  test("BoundaryExtract auto-switches broadcast→shuffle at the member threshold, same output") {
    val (n, w, r) = graft.fixtures.OsmScenes.grid(8, 4).toDFs(spark)
    def rows(maxBroadcastMembers: Long) = {
      val ds = graft.osm.BoundaryExtract.extract(spark, r, w, n, 8, 8,
        maxBroadcastMembers = maxBroadcastMembers)
      val plan = ds.queryExecution.executedPlan.toString
      (ds.collect().map(p => (p.relation_id, p.name, p.rings)).sortBy(_._1).toSeq, plan)
    }
    // disable Catalyst's size-based auto-broadcast so the engine's own
    // threshold decision is what the plan shows (at 100 TB the stats-based
    // estimate can't see through the filter either — the explicit count can)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (bRows, bPlan) = rows(Long.MaxValue) // force broadcast
      val (sRows, sPlan) = rows(0L)            // force shuffle
      assert(bPlan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$bPlan")
      assert(!sPlan.contains("BroadcastHashJoin"), s"expected shuffle joins:\n$sPlan")
      assert(sPlan.contains("SortMergeJoin") || sPlan.contains("ShuffledHashJoin"),
        s"expected a shuffle join:\n$sPlan")
      assert(bRows == sRows, "broadcast and shuffle paths must produce identical polygons")
      // auto path: the grid scene's member list is far under 10M → broadcast
      val (aRows, aPlan) = rows(10000000L)
      assert(aPlan.contains("BroadcastHashJoin"))
      assert(aRows == bRows)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("the session factory sets UTC, cpus shuffle partitions and the PIP rewrite") {
    // SparkTestSession is Bench.session(4). PIP joins go through
    // SpatialJoin.assign, so the factory installs no optimizer rewrite; it
    // registers the engine functions, ray_cast_contains among them.
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("ray_cast_contains")))
  }

  test("the scaling pair is N→4N from the host CPU count, none below 4 CPUs") {
    assert(Bench.scalingPair(4).contains((1, 4)))
    assert(Bench.scalingPair(32).contains((8, 32)))
    assert(Bench.scalingPair(6).contains((1, 4)))
    assert(Bench.scalingPair(3).isEmpty)
  }
}
