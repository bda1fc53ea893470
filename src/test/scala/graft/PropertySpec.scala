package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.ring.RingAssembler
import graft.ring.RingAssembler.SegNode
import graft.cell.CellIndex
import graft.emit.FloatFmt
import graft.geom.{Geom, Pt}

/** ScalaCheck properties (SURVEY.md §5 test plan): ring reassembly under
  * random segmentation/reversal/shuffle, cell-index invariants, float
  * round-trip, PIP vs cover consistency.
  */
object RingProperties extends Properties("RingAssembler") {

  private val ringGen: Gen[Seq[SegNode]] = for {
    n <- Gen.choose(3, 24)
  } yield (1L to n.toLong).map(i => SegNode(i, (i * 31 % 997).toInt, -(i * 17 % 991).toInt))

  private def segmented(full: Seq[SegNode], seed: Long): Seq[Seq[SegNode]] = {
    val rnd = new scala.util.Random(seed)
    val closed = full :+ full.head
    val cuts = (1 until closed.length - 1).filter(_ => rnd.nextBoolean())
    val bounds = (0 +: cuts :+ (closed.length - 1)).distinct.sorted
    val segs = bounds.sliding(2).map { case Seq(a, b) => closed.slice(a, b + 1) }.toSeq
    rnd.shuffle(segs).map(s => if (rnd.nextBoolean()) s.reverse else s)
  }

  property("random segmentation reassembles to one closed ring over the same ids") =
    forAll(ringGen, Gen.choose(0L, 10000L)) { (ring, seed) =>
      val out = RingAssembler.assemble(segmented(ring, seed))
      out.length == 1 &&
        out.head.head.id == out.head.last.id &&
        out.head.map(_.id).toSet == ring.map(_.id).toSet
    }

  property("assembly is deterministic for a fixed segment order") =
    forAll(ringGen, Gen.choose(0L, 10000L)) { (ring, seed) =>
      val segs = segmented(ring, seed)
      RingAssembler.assemble(segs) == RingAssembler.assemble(segs)
    }

  property("two disjoint rings come back as two paths") =
    forAll(ringGen, Gen.choose(0L, 1000L)) { (ring, seed) =>
      val other = ring.map(n => n.copy(id = n.id + 1000))
      val segs = segmented(ring, seed) ++ segmented(other, seed + 1)
      RingAssembler.assemble(segs).length == 2
    }
}

object CellProperties extends Properties("CellIndex") {
  private val latGen = Gen.choose(-89.999, 89.999)
  private val lonGen = Gen.choose(-179.999, 179.999)
  private val resGen = Gen.choose(1, 20)

  property("point lies inside its own cell bounds") =
    forAll(latGen, lonGen, resGen) { (lat, lon, res) =>
      val (la0, lo0, la1, lo1) = CellIndex.bounds(CellIndex.cellOf(lat, lon, res))
      lat >= la0 && lat <= la1 && lon >= lo0 && lon <= lo1
    }

  property("parent contains child") =
    forAll(latGen, lonGen, resGen) { (lat, lon, res) =>
      val c = CellIndex.cellOf(lat, lon, res)
      CellIndex.parent(c) == CellIndex.cellOf(lat, lon, res - 1)
    }

  property("kRing contains the center and is symmetric in size away from poles") =
    forAll(latGen, lonGen, Gen.choose(1, 4)) { (lat, lon, k) =>
      val c = CellIndex.cellOf(lat, lon, 8)
      CellIndex.kRing(c, k).contains(c)
    }

  property("cover contains the cell of every vertex") =
    forAll(latGen, lonGen, Gen.choose(0.01, 2.0)) { (lat, lon, s) =>
      val la1 = math.min(lat + s, 89.999); val lo1 = math.min(lon + s, 179.999)
      val ring = Seq(Pt(lat.toFloat, lon.toFloat), Pt(lat.toFloat, lo1.toFloat),
        Pt(la1.toFloat, lo1.toFloat), Pt(la1.toFloat, lon.toFloat))
      val cov = CellIndex.cover(Seq(ring), 7).toSet
      ring.forall(p => cov.contains(CellIndex.cellOf(p.lat, p.lon, 7)))
    }
}

object FloatFmtProperties extends Properties("FloatFmt") {
  property("rendered value parses back bit-identical (coordinate range)") =
    forAll(Gen.choose(-180.0, 180.0)) { d =>
      val f = d.toFloat
      java.lang.Float.parseFloat(FloatFmt.fmtF32(f)) == f
    }
  property("rendering arbitrary finite floats round-trips") =
    forAll { (f: Float) =>
      !java.lang.Float.isFinite(f) || java.lang.Float.parseFloat(FloatFmt.fmtF32(f)) == f
    }
}

object GeomProperties extends Properties("Geom") {
  property("ray cast agrees with rectangle membership for axis-aligned boxes") =
    forAll(Gen.choose(-80.0, 70.0), Gen.choose(-170.0, 160.0),
      Gen.choose(0.5, 9.0), Gen.choose(-89.0, 89.0), Gen.choose(-179.0, 179.0)) {
      (la0, lo0, s, pla, plo) =>
        val ring = Seq(Pt(la0.toFloat, lo0.toFloat), Pt(la0.toFloat, (lo0 + s).toFloat),
          Pt((la0 + s).toFloat, (lo0 + s).toFloat), Pt((la0 + s).toFloat, lo0.toFloat))
        val onBoundary = // skip undefined boundary cases
          math.abs(pla - la0) < 1e-6 || math.abs(pla - (la0 + s)) < 1e-6 ||
            math.abs(plo - lo0) < 1e-6 || math.abs(plo - (lo0 + s)) < 1e-6
        val expected = pla > ring.head.lat && pla < ring(2).lat &&
          plo > ring.head.lon && plo < ring(2).lon
        onBoundary || Geom.rayCastContainsRing(ring, pla, plo) == expected
    }
}

object PbfProperties extends Properties("OsmPbf") {
  import graft.fixtures.OsmScenes.{Member, NodeRow, RelationRow, WayRow}
  import graft.osm.pbf.OsmPbf

  private val tagGen: Gen[Map[String, String]] = Gen.oneOf(
    Gen.const(Map.empty[String, String]),
    Gen.mapOfN(2, Gen.zip(Gen.alphaStr.map("k" + _.take(6)), Gen.alphaStr.map("v" + _.take(6)))))

  private val nodeGen: Gen[NodeRow] = for {
    id <- Gen.choose(0L, 1L << 40)
    la <- Gen.choose(-900000000, 900000000)
    lo <- Gen.choose(-1800000000, 1800000000)
    tags <- tagGen
  } yield NodeRow(id, la, lo, tags)

  private val wayGen: Gen[WayRow] = for {
    id <- Gen.choose(0L, 1L << 40)
    refs <- Gen.listOfN(4, Gen.choose(0L, 1L << 40))
    tags <- tagGen
  } yield WayRow(id, refs, tags)

  private val relGen: Gen[RelationRow] = for {
    id <- Gen.choose(0L, 1L << 40)
    ms <- Gen.listOfN(3, for {
      t <- Gen.oneOf("node", "way", "relation")
      m <- Gen.choose(0L, 1L << 40)
      r <- Gen.oneOf("", "outer", "inner", "role x")
    } yield Member(t, m, r))
    tags <- tagGen
  } yield RelationRow(id, ms, tags)

  property("encode → decode round-trips arbitrary triples (zlib + chunked)") =
    forAll(Gen.listOfN(5, nodeGen), Gen.listOfN(4, wayGen), Gen.listOfN(3, relGen),
      Gen.oneOf(true, false), Gen.choose(1, 4)) { (ns, ws, rs, zlib, chunk) =>
      val bytes = OsmPbf.encode(ns, ws, rs, zlib, chunk)
      // walk frames in-memory: 4-byte BE len + header + blob
      var pos = 0
      val blocks = scala.collection.mutable.ArrayBuffer.empty[OsmPbf.Block]
      while (pos < bytes.length) {
        val hlen = ((bytes(pos) & 0xFF) << 24) | ((bytes(pos + 1) & 0xFF) << 16) |
          ((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF)
        val hr = new graft.osm.pbf.PbfReader(java.util.Arrays.copyOfRange(bytes, pos + 4, pos + 4 + hlen))
        var htype = ""; var dsize = 0
        while (hr.hasRemaining) hr.readTag() match {
          case (1, 2) => htype = hr.readString()
          case (3, 0) => dsize = hr.readVarint().toInt
          case (_, w) => hr.skipField(w)
        }
        val blob = java.util.Arrays.copyOfRange(bytes, pos + 4 + hlen, pos + 4 + hlen + dsize)
        if (htype == "OSMData") blocks += OsmPbf.decodePrimitiveBlock(OsmPbf.decodeBlob(blob))
        pos += 4 + hlen + dsize
      }
      blocks.flatMap(_.nodes).toList == ns &&
        blocks.flatMap(_.ways).toList == ws &&
        blocks.flatMap(_.relations).toList == rs
    }
}

/** Star-contraction CC properties (VERDICT r2 #7): distributed
  * large-star/small-star labels must equal min-reachable on arbitrary
  * graphs, within a logarithmic round budget. Spark-backed, so the sample
  * count is kept small — the deterministic 10k-path test in DedupSpec
  * covers the adversarial-diameter case at scale.
  */
object StarContractionProperties extends Properties("StarContraction") {
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(8)

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.groupBy(find).values.flatMap(ns => { val m = ns.min; ns.map(_ -> m) }).toMap
  }

  private val edgesGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 40)
    m <- Gen.choose(1, 60)
    es <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n - 1L)
      b <- Gen.choose(0L, n - 1L)
    } yield (a, b))
  } yield es.filter(e => e._1 != e._2)

  property("labels equal min-reachable within a log-round budget") =
    forAll(edgesGen) { edges =>
      edges.isEmpty || {
        val spark = SparkTestSession.spark
        import spark.implicits._
        val (labels, rounds) =
          graft.dedup.Dedup.starContraction(spark, edges.toDF("src", "dst"), maxIter = 30)
        val got = labels.as[(Long, Long)].collect().toMap
        got == unionFind(edges) && rounds <= 30
      }
    }
}

object FlacProperties extends Properties("Flac") {
  import graft.img.{Flac, ImageTable}

  private val pcmGen: Gen[(Array[Short], Int)] = for {
    n <- Gen.choose(1, 12000)
    mode <- Gen.choose(0, 2)
    seed <- Gen.choose(0L, 1000000L)
    rate <- Gen.oneOf(8000, 16000, 44100)
  } yield {
    val pcm = mode match {
      case 0 => // white noise — verbatim territory
        Array.tabulate(n)(k => ((ImageTable.splitmix64(seed * 31 + k) & 0xFFFF) - 32768).toShort)
      case 1 => // random walk — fixed-predictor territory
        var v = 0
        Array.tabulate(n) { k =>
          v = math.max(-32768, math.min(32767,
            v + ((ImageTable.splitmix64(seed * 13 + k) & 0xFF) - 128).toInt))
          v.toShort
        }
      case _ => // long constant runs — constant-subframe territory
        Array.tabulate(n)(k => ((ImageTable.splitmix64(seed + k / 500) & 0xFFFF) - 32768).toShort)
    }
    (pcm, rate)
  }

  property("encode → decode round-trips ARBITRARY pcm bit-exactly at any rate") =
    forAll(pcmGen) { case (pcm, rate) =>
      val (dec, r) = Flac.decode(Flac.encode(pcm, rate))
      r == rate && java.util.Arrays.equals(dec, pcm)
    }

  property("block size never changes the decoded stream") =
    forAll(Gen.choose(0L, 100000L), Gen.oneOf(192, 576, 1000, 4096)) { (seed, bs) =>
      val pcm = Array.tabulate(5000)(k =>
        ((ImageTable.splitmix64(seed * 7 + k / 50) & 0xFFFF) - 32768).toShort)
      java.util.Arrays.equals(Flac.decode(Flac.encode(pcm, 16000, bs))._1, pcm)
    }

  property("stereo round-trips ARBITRARY channel pairs bit-exactly") =
    forAll(Gen.choose(1, 9000), Gen.choose(0L, 100000L), Gen.choose(0, 3)) { (n, seed, corr) =>
      // corr sweeps the decorrelation regimes: independent noise, equal,
      // near-equal, inverted — steering the encoder across assignments
      val l = Array.tabulate(n)(k =>
        ((ImageTable.splitmix64(seed * 31 + k / 20) & 0xFFFF) - 32768).toShort)
      val r = corr match {
        case 0 => Array.tabulate(n)(k =>
          ((ImageTable.splitmix64(seed * 77 + k / 20) & 0xFFFF) - 32768).toShort)
        case 1 => l.clone()
        case 2 => l.map(v => (v + 7).toShort)
        case _ => l.map(v => (-v).toShort)
      }
      val (chans, _) = Flac.decodeMulti(Flac.encodeStereo(l, r, 16000))
      java.util.Arrays.equals(chans(0), l) && java.util.Arrays.equals(chans(1), r)
    }
}

object JpegProperties extends Properties("Jpeg") {
  import graft.img.{ImageTable, Jpeg}

  private val imgGen: Gen[(Array[Int], Int, Int)] = for {
    w <- Gen.choose(1, 40)
    h <- Gen.choose(1, 40)
    seed <- Gen.choose(0L, 1000000L)
  } yield (Array.tabulate(w * h)(i =>
    (ImageTable.splitmix64(seed * 7919 + i) & 0xFFFFFF).toInt), w, h)

  property("round trip preserves dimensions and stays sane on ARBITRARY pixels") =
    forAll(imgGen) { case (px, w, h) =>
      // random noise is JPEG's worst case — the 40 dB invariant applies to
      // the image corpus, but any input must round-trip structurally and
      // not collapse (>= 20 dB holds with margin even for noise at q97)
      val (back, bw, bh) = Jpeg.decode(Jpeg.encode(px, w, h))
      bw == w && bh == h && ImageTable.psnrDb(back, px) >= 20.0
    }

  property("every quality level produces a valid stream ImageIO also accepts") =
    forAll(Gen.choose(1, 100), Gen.choose(0L, 1000L)) { (q, seed) =>
      val w = 24; val h = 16
      val px = ImageTable.renderPixels(seed, w, h)
      val bytes = Jpeg.encode(px, w, h, quality = q)
      val (ours, bw, bh) = Jpeg.decode(bytes)
      val (ref, rw, rh) = ImageTable.decodeViaImageIO(bytes)
      // the two decoders read the same stream: close agreement at any q
      bw == w && bh == h && rw == w && rh == h &&
        ImageTable.psnrDb(ours, ref) >= 40.0
    }
}
