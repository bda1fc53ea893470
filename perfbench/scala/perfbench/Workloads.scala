package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.emit.BoundaryWriter
import graft.fixtures.OsmScenes
import graft.functions.GraftFunctions
import graft.geom.PolygonRow
import graft.img.ImageTable
import graft.join.SpatialJoin
import graft.osm.BoundaryExtract
import graft.osm.pbf.PbfSource
import graft.tile.Tiling

/** One benchmark workload: inputs made in `setup`, a job timed from
  * outside, and checks that do not rely on the code under test.
  */
trait Workload {
  /** What `items` counts, for the human-readable summary. */
  def itemName: String
  /** Input items one job processes. */
  def items: Long
  /** Generate and write the inputs under `dir`; derive expected outputs. */
  def setup(dir: String): Unit
  /** Digest of what `seed` generates, to show that the seed reaches it. */
  def fingerprint(seed: Long): Long
  /** Run one job; the result is what `check` inspects. */
  def job(): Any
  /** Failed checks of one job's result (empty when it passed). */
  def check(result: Any): Seq[String]
  /** Workload-level figures of a checked job for the summary; frees what
    * the job left behind.
    */
  def finish(result: Any): Map[String, Double]
  /** One traced pass: phases forced one at a time inside spans. Returns
    * layer figures and failed checks.
    */
  def traced(t: Tracer): (Map[String, Double], Seq[String])
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, nproc: Int): Workload = name match {
    case "grid_tiles"    => new GridTiles(spark, seed, nproc)
    case "osm_join"      => new OsmJoin(spark, seed, nproc)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Candidate pairs of the cell equi-join, before ray-cast refine: the
    * probe encodes one cell per cover resolution and meets the cover rows
    * on the cell id.
    */
  def candidates(spark: SparkSession, probes: DataFrame, cells: Array[SpatialJoin.CellPoly],
      idCol: String): DataFrame = {
    import spark.implicits._
    val resList = cells.map(c => (c.cell >>> 58).toInt).distinct.sorted.toSeq
    val p = probes.select(col(idCol), explode(array(resList.map(r =>
      GraftFunctions.cellOfCol(col("lat"), col("lon"), r)): _*)).as("cell"))
    p.join(broadcast(spark.createDataset(cells.toIndexedSeq).toDF()), Seq("cell"))
      .select(col(idCol), col("cell"), col("relation_id"))
  }

  /** Share of candidate rows in the eight most loaded cells. */
  def hotShare(cands: DataFrame): Double = {
    val counts = cands.groupBy("cell").count().orderBy(desc("count")).limit(8)
      .collect().map(_.getLong(1))
    val total = cands.count()
    if (total == 0) 0.0 else counts.sum.toDouble / total
  }

  def sortedPairs(rows: Iterable[Row]): Seq[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** Input files per task thread: small scan tasks keep the threads
    * evenly loaded, so one slow task does not set a stage's time.
    */
  val FilesPerCore = 4

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Headline path: the 512 grid rectangles through boundary extraction,
  * an image table scanned from Parquet, the cell join and the tile pyramid.
  */
final class GridTiles(spark: SparkSession, seed: Long, nproc: Int) extends Workload {
  import GridTiles._
  import Workload._

  private val offset = Inputs.imageOffset(seed)
  private var scene: OsmScenes.Scene = _
  private var dir = ""
  private var bytesIn = 0L
  private var expectTiles = 0L
  private var expectSample = Seq.empty[(Long, Long)]
  private var first: Option[(Long, Long)] = None

  def itemName = "images"
  def items: Long = Images
  def fingerprint(s: Long): Long = Inputs.imageOffset(s)

  def setup(d: String): Unit = {
    dir = d
    scene = OsmScenes.grid(Nx, Ny)
    Inputs.writeImages(spark, s"$d/images", offset, Images, FilesPerCore * nproc)
    bytesIn = spark.read.parquet(s"$d/images").agg(sum(length(col("bytes")))).head.getLong(0)
    val polys = Oracle.polysOfScene(scene)
    var tiles = 0L
    val sample = ArrayBuffer.empty[(Long, Long)]
    var i = offset
    while (i < offset + Images) {
      val la = Oracle.keyLat(i); val lo = Oracle.keyLon(i)
      polys.foreach { p =>
        if (p.contains(la, lo)) {
          tiles += Oracle.pyramidTiles(ImageTable.widthOf(i), ImageTable.heightOf(i))
          if (i % SampleMod == 0) sample += ((i, p.id))
        }
      }
      i += 1
    }
    expectTiles = tiles
    expectSample = sample.toSeq.sorted
  }

  private def polygons(): Dataset[PolygonRow] = {
    val (n, w, r) = scene.toDFs(spark)
    BoundaryExtract.extract(spark, r, w, n, 8, 8)
  }

  private def images(): DataFrame = spark.read.parquet(s"$dir/images")
    .withColumn("lat", GraftFunctions.latOfKey(col("idx")))
    .withColumn("lon", GraftFunctions.lonOfKey(col("idx")))

  /** Tile count, tile bytes, bytes checksum and the sampled assignments,
    * in one aggregation over the tile rows.
    */
  private def aggregate(tiles: Dataset[Tiling.TileRow]): Out = {
    val idx = substring(col("image_id"), 5, 9).cast("long")
    val r = tiles.agg(count(lit(1)), sum(length(col("tile_bytes"))), bit_xor(xxhash64(col("tile_bytes"))),
      collect_list(when(col("level") === 0 && col("tx") === 0 && col("ty") === 0 &&
        idx % SampleMod === 0, struct(idx, col("relation_id"))))).head
    Out(r.getLong(0), r.getLong(1), r.getLong(2), sortedPairs(r.getSeq[Row](3)))
  }

  def job(): Any = {
    val assigned = SpatialJoin.assign(spark, images(), polygons(), res = Res)
    aggregate(Tiling.tile(spark, assigned))
  }

  def check(result: Any): Seq[String] = {
    val o = result.asInstanceOf[Out]
    val errs = ArrayBuffer.empty[String]
    if (o.tiles != expectTiles) errs += s"tiles ${o.tiles} != pyramid count $expectTiles"
    if (o.sample != expectSample)
      errs += s"sampled assignments (${o.sample.size}) differ from ray casting (${expectSample.size})"
    first match {
      case None => first = Some((o.bytes, o.checksum))
      case Some(f) => if (f != ((o.bytes, o.checksum))) errs += "tile bytes differ from the first job"
    }
    errs.toSeq
  }

  def finish(result: Any): Map[String, Double] = {
    val o = result.asInstanceOf[Out]
    Map("tile_bytes_ratio" -> o.bytes.toDouble / bytesIn, "tiles" -> o.tiles.toDouble)
  }

  def traced(t: Tracer): (Map[String, Double], Seq[String]) = {
    val (nPolys, imgs, cells, nCand, nAssigned, out) = t.span("job") {
      val (polys, nPolys) = t.span("osm.extract") {
        val p = polygons().persist(StorageLevel.MEMORY_AND_DISK); (p, p.count())
      }
      val imgs = t.span("img.scan") {
        val df = images().persist(StorageLevel.MEMORY_AND_DISK); df.count(); df
      }
      val cells = t.span("cell.cover") { SpatialJoin.polygonCells(spark, polys, Res).collect() }
      val nCand = t.span("join.candidate") { candidates(spark, imgs, cells, "image_id").count() }
      val (assigned, nAssigned) = t.span("join.assign") {
        val a = SpatialJoin.assign(spark, imgs, polys, Res).persist(StorageLevel.MEMORY_AND_DISK)
        (a, a.count())
      }
      val out = t.span("tile.tile") { aggregate(Tiling.tile(spark, assigned)) }
      (nPolys, imgs, cells, nCand, nAssigned, out)
    }
    val hot = hotShare(candidates(spark, imgs, cells, "image_id"))
    val errs = check(out)
    spark.catalog.clearCache()
    (Map(
      "osm.relations_kept" -> nPolys.toDouble,
      "img.bytes_in" -> bytesIn.toDouble,
      "cell.cover_cells" -> cells.length.toDouble,
      "join.candidates" -> nCand.toDouble,
      "join.assigned" -> nAssigned.toDouble,
      "join.accept_ratio" -> nAssigned.toDouble / nCand,
      "join.hot_share" -> hot,
      "tile.tiles" -> out.tiles.toDouble,
      "tile.bytes_out" -> out.bytes.toDouble,
      "tile.bytes_ratio" -> out.bytes.toDouble / bytesIn), errs)
  }
}

object GridTiles {
  val Nx = 32
  val Ny = 16
  val Images = 20000L
  val Res = 7
  val SampleMod = 97L
  final case class Out(tiles: Long, bytes: Long, checksum: Long, sample: Seq[(Long, Long)])
}

/** The reference's whole program on detailed boundaries (PBF read, boundary
  * extraction with its text sinks, one `.poly` file per boundary), then the
  * join alone: the extracted polygons against lat/lon probes, half uniform
  * and half in eight hot cells on polygon edges. No images, no tiles.
  */
final class OsmJoin(spark: SparkSession, seed: Long, nproc: Int) extends Workload {
  import OsmJoin._
  import Workload._
  import spark.implicits._

  private var oracle = Seq.empty[Oracle.Poly]
  private var hot = Array.empty[Array[Double]]
  private var entities = 0L
  private var dir = ""
  private var pbf = ""
  private var expectSample = Seq.empty[(Long, Long)]
  private var first: Option[Long] = None
  private var jobNo = 0

  def itemName = "probes"
  def items: Long = Probes
  def fingerprint(s: Long): Long = {
    val hotS = Inputs.hotCells(s, Inputs.detailedPolygons(Polygons, 16), Res)
    Inputs.detailedScene(s, 1, 16, 40).nodes.map(n => n.id * 31 + n.decimicro_lat + n.decimicro_lon).sum ^
      Inputs.probe(s, Probes - 1, Probes, hotS).hashCode
  }

  def setup(d: String): Unit = {
    dir = d
    val scene = Inputs.detailedScene(seed, Polygons, Vertices, Entities)
    oracle = Oracle.polysOfScene(scene)
    hot = Inputs.hotCells(seed, Inputs.detailedPolygons(Polygons, Vertices), Res)
    entities = (scene.nodes.size + scene.ways.size + scene.relations.size).toLong
    Files.createDirectories(Paths.get(d))
    pbf = s"$d/scene.osm.pbf"
    PbfSource.writeFixture(pbf, scene.nodes, scene.ways, scene.relations)
    Inputs.writeProbes(spark, s"$d/probes", seed, Probes, hot, FilesPerCore * nproc)
    expectSample = (0L until Probes by SampleMod).flatMap { id =>
      val (la, lo) = Inputs.probe(seed, id, Probes, hot)
      oracle.filter(_.contains(la, lo)).map(p => (id, p.id))
    }.sorted
  }

  private def probes(): DataFrame = spark.read.parquet(s"$dir/probes")

  private def freshDir(): String = { jobNo += 1; s"$dir/out/job-$jobNo" }

  private def polygonsOf(sinks: DataFrame): Dataset[PolygonRow] =
    sinks.select("name", "rings", "relation_id", "admin_level").as[PolygonRow]

  /** Assigned rows and the sampled assignments, in one aggregation. */
  private def assignAndCount(probeDf: DataFrame, polys: Dataset[PolygonRow]): (Long, Seq[(Long, Long)]) = {
    val r = SpatialJoin.assign(spark, probeDf, polys, Res, idCol = "id")
      .agg(count(lit(1)), collect_list(when(col("id") % SampleMod === 0,
        struct(col("id"), col("relation_id"))))).head
    (r.getLong(0), sortedPairs(r.getSeq[Row](1)))
  }

  /** Extraction feeds both the files and the join, so it is kept once. */
  def job(): Any = {
    val (r, w, n) = PbfSource.readTriple(spark, pbf, nproc)
    val sinks = BoundaryExtract.extractWithSinks(spark, r, w, n).persist(StorageLevel.MEMORY_AND_DISK)
    val out = freshDir()
    val written = BoundaryWriter.write(sinks, out, BoundaryWriter.OverwriteAll)
    val (assigned, sample) = assignAndCount(probes(), polygonsOf(sinks))
    sinks.unpersist()
    Out(out, written, assigned, sample)
  }

  /** Reads the `.poly` files back (one per boundary, closed rings) and
    * compares the sampled assignments with ray casting.
    */
  def check(result: Any): Seq[String] = {
    val o = result.asInstanceOf[Out]
    val files = listPoly(o.dir)
    var rings = 0; var open = 0
    files.foreach { f =>
      var ring = ArrayBuffer.empty[String]
      Files.readAllLines(f).asScala.foreach { l =>
        if (l.startsWith("area_")) ring = ArrayBuffer.empty
        else if (l.startsWith("\t")) ring += l.trim
        else if (l == "END" && ring.nonEmpty) {
          rings += 1
          if (ring.size < 4 || ring.head != ring.last) open += 1
          ring = ArrayBuffer.empty
        }
      }
    }
    val errs = ArrayBuffer.empty[String]
    if (o.written != Polygons) errs += s"writer reported ${o.written} files, expected $Polygons"
    if (files.size != Polygons) errs += s"${files.size} .poly files, expected $Polygons"
    if (rings != Polygons) errs += s"$rings rings, expected $Polygons"
    if (open > 0) errs += s"$open rings are not closed"
    if (o.sample != expectSample)
      errs += s"sampled assignments (${o.sample.size}) differ from ray casting (${expectSample.size})"
    first match {
      case None => first = Some(o.assigned)
      case Some(f) => if (f != o.assigned) errs += s"assigned ${o.assigned} != first job's $f"
    }
    errs.toSeq
  }

  def finish(result: Any): Map[String, Double] = {
    val o = result.asInstanceOf[Out]
    val bytes = bytesOf(o.dir)
    delete(o.dir)
    Map("assigned" -> o.assigned.toDouble, "poly_bytes" -> bytes.toDouble, "entities" -> entities.toDouble)
  }

  def traced(t: Tracer): (Map[String, Double], Seq[String]) = {
    val out = freshDir()
    val (nRead, nKept, written, probeDf, cells, nCand, (assigned, sample)) = t.span("job") {
      val (r, w, n, nRead) = t.span("osm.pbf_read") {
        val (r, w, n) = PbfSource.readTriple(spark, pbf, nproc)
        val ps = Seq(r, w, n).map(_.persist(StorageLevel.MEMORY_AND_DISK))
        (ps(0), ps(1), ps(2), ps.map(_.count()).sum)
      }
      val (sinks, nKept) = t.span("osm.extract") {
        val df = BoundaryExtract.extractWithSinks(spark, r, w, n).persist(StorageLevel.MEMORY_AND_DISK)
        (df, df.count())
      }
      val written = t.span("emit.sinks") { BoundaryWriter.write(sinks, out, BoundaryWriter.OverwriteAll) }
      val probeDf = t.span("probe.scan") {
        val df = probes().persist(StorageLevel.MEMORY_AND_DISK); df.count(); df
      }
      val polys = polygonsOf(sinks)
      val cells = t.span("cell.cover") { SpatialJoin.polygonCells(spark, polys, Res).collect() }
      val nCand = t.span("join.candidate") { candidates(spark, probeDf, cells, "id").count() }
      val res = t.span("join.assign") { assignAndCount(probeDf, polys) }
      (nRead, nKept, written, probeDf, cells, nCand, res)
    }
    val cands = candidates(spark, probeDf, cells, "id")
    val hotShareOf = hotShare(cands)
    // sampled candidates the refine rejected must lie outside by ray casting
    val byId = oracle.map(p => p.id -> p).toMap
    val accepted = sample.toSet
    val wrongRejects = sortedPairs(cands.filter(col("id") % SampleMod === 0)
        .select("id", "relation_id").distinct().collect())
      .filterNot(accepted).count { case (id, rel) =>
        val (la, lo) = Inputs.probe(seed, id, Probes, hot)
        byId(rel).contains(la, lo)
      }
    val errs = check(Out(out, written, assigned, sample)) ++
      (if (nRead != entities) Seq(s"read $nRead entities, wrote $entities") else Nil) ++
      (if (wrongRejects > 0) Seq(s"$wrongRejects sampled rejected candidates lie inside") else Nil)
    val bytes = bytesOf(out)
    delete(out)
    spark.catalog.clearCache()
    (Map(
      "osm.pbf_entities" -> nRead.toDouble,
      "osm.relations_kept" -> nKept.toDouble,
      "emit.files_written" -> written.toDouble,
      "emit.bytes_written" -> bytes.toDouble,
      "cell.cover_cells" -> cells.length.toDouble,
      "join.candidates" -> nCand.toDouble,
      "join.assigned" -> assigned.toDouble,
      "join.accept_ratio" -> assigned.toDouble / nCand,
      "join.hot_share" -> hotShareOf), errs)
  }

  private def listPoly(d: String): Seq[Path] = {
    val s = Files.list(Paths.get(d))
    try s.iterator().asScala.filter(_.toString.endsWith(".poly")).toSeq finally s.close()
  }

  private def bytesOf(d: String): Long = listPoly(d).map(Files.size).sum

  private def delete(d: String): Unit = {
    val s = Files.walk(Paths.get(d))
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

object OsmJoin {
  val Polygons = 32
  val Vertices = 256
  val Entities = 40000
  val Probes = 300000L
  val Res = 7
  val SampleMod = 499L
  final case class Out(dir: String, written: Long, assigned: Long, sample: Seq[(Long, Long)])
}
