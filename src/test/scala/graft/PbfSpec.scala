package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.OsmScenes
import graft.fixtures.OsmScenes.{NodeRow, RelationRow, WayRow}
import graft.osm.pbf.{OsmPbf, PbfReader, PbfSource, PbfWriter}

class PbfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("wire: varint/zigzag round-trip at the edges") {
    val vals = Seq(0L, 1L, -1L, 127L, 128L, 300L, Int.MaxValue.toLong,
      Long.MaxValue, Long.MinValue, -1234567890123L)
    val w = new PbfWriter
    vals.foreach(w.writeVarint)
    vals.foreach(w.writeZigzagVal)
    val r = new PbfReader(w.result())
    vals.foreach(v => assert(r.readVarint() == v, s"varint $v"))
    vals.foreach(v => assert(r.readZigzag() == v, s"zigzag $v"))
    assert(!r.hasRemaining)
  }

  private def roundTrip(scene: OsmScenes.Scene, zlib: Boolean, chunk: Int):
      (Seq[NodeRow], Seq[WayRow], Seq[RelationRow]) = {
    val bytes = OsmPbf.encode(scene.nodes, scene.ways, scene.relations, zlib, chunk)
    val f = java.io.File.createTempFile("graft", ".osm.pbf")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    val idx = PbfSource.blobIndex(f.getPath)
    val blocks = idx.map(ref => OsmPbf.decodePrimitiveBlock(OsmPbf.decodeBlob({
      val raf = new java.io.RandomAccessFile(ref.path, "r")
      try { raf.seek(ref.offset); val b = new Array[Byte](ref.length); raf.readFully(b); b }
      finally raf.close()
    })))
    (blocks.flatMap(_.nodes), blocks.flatMap(_.ways), blocks.flatMap(_.relations))
  }

  test("encode → decode round-trips the golden scene exactly (zlib and raw)") {
    val scene = OsmScenes.golden
    for (zlib <- Seq(true, false)) {
      val (n, w, r) = roundTrip(scene, zlib, chunk = 8000)
      assert(n == scene.nodes, s"nodes zlib=$zlib")
      assert(w == scene.ways, s"ways zlib=$zlib")
      assert(r == scene.relations, s"relations zlib=$zlib")
    }
  }

  test("multi-blob chunking preserves content and order; negative coords survive") {
    val scene = OsmScenes.grid(6, 5) // includes negative lat/lon corners
    assert(scene.nodes.exists(_.decimicro_lat < 0))
    assert(scene.nodes.exists(_.decimicro_lon < 0))
    val (n, w, r) = roundTrip(scene, zlib = true, chunk = 7) // many tiny blobs
    assert(n == scene.nodes)
    assert(w == scene.ways)
    assert(r == scene.relations)
    val bytes = OsmPbf.encode(scene.nodes, scene.ways, scene.relations, zlib = true, chunk = 7)
    val f = java.io.File.createTempFile("graft-chunk", ".osm.pbf")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    val expectBlobs = Seq(scene.nodes, scene.ways, scene.relations)
      .map(s => (s.size + 6) / 7).sum
    assert(PbfSource.blobIndex(f.getPath).size == expectBlobs)
  }

  test("plain (non-dense) Node messages decode too") {
    // hand-encode a PrimitiveGroup with a plain Node (field 1): the fixture
    // writer only emits DenseNodes, but real files may carry either
    val block = new PbfWriter
    block.message(1) { st => Seq("", "k", "v").foreach(s => st.string(1, s)) }
    block.message(2) { grp =>
      grp.message(1) { n =>
        n.zigzag(1, 42L)           // id
        n.packedVarints(2, Seq(1L)) // keys
        n.packedVarints(3, Seq(2L)) // vals
        n.zigzag(8, -123456789L)   // lat (granularity units of nano)
        n.zigzag(9, 987654321L)    // lon
      }
    }
    block.int(17, 100L)
    val b = OsmPbf.decodePrimitiveBlock(block.result())
    assert(b.nodes == Seq(NodeRow(42L, -123456789, 987654321, Map("k" -> "v"))))
  }

  test("Want selection wire-skips the other kinds") {
    val scene = OsmScenes.golden
    val bytes = OsmPbf.encode(scene.nodes, scene.ways, scene.relations)
    val f = java.io.File.createTempFile("graft-want", ".osm.pbf")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    val onlyRels = PbfSource.blobIndex(f.getPath).map { ref =>
      val raf = new java.io.RandomAccessFile(ref.path, "r")
      val b = try { raf.seek(ref.offset); val x = new Array[Byte](ref.length); raf.readFully(x); x }
      finally raf.close()
      OsmPbf.decodePrimitiveBlock(OsmPbf.decodeBlob(b),
        OsmPbf.Want(nodes = false, ways = false, relations = true))
    }
    assert(onlyRels.flatMap(_.nodes).isEmpty)
    assert(onlyRels.flatMap(_.ways).isEmpty)
    assert(onlyRels.flatMap(_.relations) == scene.relations)
  }

  test("directory input: blobs fan out across multiple .pbf files") {
    val a = OsmScenes.grid(3, 3)
    val b = OsmScenes.golden
    val dir = java.nio.file.Files.createTempDirectory("graft-pbf-dir").toFile
    dir.deleteOnExit()
    PbfSource.writeFixture(new java.io.File(dir, "a.osm.pbf").getPath,
      a.nodes, a.ways, a.relations, chunk = 8)
    PbfSource.writeFixture(new java.io.File(dir, "b.osm.pbf").getPath,
      b.nodes, b.ways, b.relations, chunk = 8)
    val (r, w, n) = PbfSource.readTriple(spark, dir.getPath, partitions = 4)
    assert(n.count() == a.nodes.size + b.nodes.size)
    assert(w.count() == a.ways.size + b.ways.size)
    assert(r.count() == a.relations.size + b.relations.size)
  }

  test("PBF decode survives corruption fuzzing: clean failure or success, never a crash") {
    // ingest-robustness pin (same contract as the image-codec fuzz pins in
    // CodecsSpec): a 4000-seed offline sweep found raw DataFormatException
    // escapes, unvalidated string-table indices, and non-parallel dense-
    // node/relation-member streams indexing out of bounds — all now clean
    // IllegalArgument/IOException failures. Deterministic 1500-seed slice.
    val scene = OsmScenes.grid(4, 4)
    val base = OsmPbf.encode(scene.nodes, scene.ways, scene.relations, zlib = true)
    for (seed <- 0L until 1500L) {
      val b = base.clone()
      val k = 1 + (graft.img.ImageTable.splitmix64(seed) & 3).toInt
      for (j <- 0 until k) {
        val p = Math.floorMod(graft.img.ImageTable.splitmix64(seed * 7 + j), b.length.toLong).toInt
        b(p) = (graft.img.ImageTable.splitmix64(seed * 13 + j) & 0xFF).toByte
      }
      val f = java.io.File.createTempFile("graft-fuzz", ".osm.pbf")
      try {
        java.nio.file.Files.write(f.toPath, b)
        try {
          PbfSource.blobIndex(f.getPath).foreach { ref =>
            val raf = new java.io.RandomAccessFile(ref.path, "r")
            try {
              raf.seek(ref.offset)
              val buf = new Array[Byte](ref.length)
              raf.readFully(buf)
              OsmPbf.decodePrimitiveBlock(OsmPbf.decodeBlob(buf))
            } finally raf.close()
          }
        } catch {
          case _: IllegalArgumentException | _: java.io.IOException => ()
        } // anything else fails the test
      } finally { f.delete(); () }
    }
  }

  test("corrupt input fails loudly, never decodes garbage") {
    val scene = OsmScenes.golden
    val good = OsmPbf.encode(scene.nodes, scene.ways, scene.relations, zlib = true)
    // truncate mid-stream: the blob walk or zlib inflate must throw, and a
    // corrupted length field must not let the reader run into sibling bytes
    val truncated = java.util.Arrays.copyOfRange(good, 0, good.length / 2)
    val f = java.io.File.createTempFile("graft-corrupt", ".osm.pbf")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, truncated)
    intercept[Exception] {
      PbfSource.blobIndex(f.getPath).foreach { ref =>
        val raf = new java.io.RandomAccessFile(ref.path, "r")
        try {
          raf.seek(ref.offset)
          val b = new Array[Byte](ref.length)
          raf.readFully(b)
          OsmPbf.decodePrimitiveBlock(OsmPbf.decodeBlob(b))
        } finally raf.close()
      }
    }
    // flip a length byte inside a raw (uncompressed) block: bounds checks
    // must reject it rather than mis-frame the following fields
    val raw = OsmPbf.encode(scene.nodes, Nil, Nil, zlib = false)
    var failures = 0
    for (i <- 60 until math.min(raw.length, 90)) {
      val bad = raw.clone()
      bad(i) = (bad(i) ^ 0x7F).toByte
      val g = java.io.File.createTempFile("graft-flip", ".osm.pbf")
      g.deleteOnExit()
      java.nio.file.Files.write(g.toPath, bad)
      try {
        PbfSource.blobIndex(g.getPath).foreach { ref =>
          val raf = new java.io.RandomAccessFile(ref.path, "r")
          try {
            raf.seek(ref.offset)
            val b = new Array[Byte](ref.length)
            raf.readFully(b)
            OsmPbf.decodePrimitiveBlock(OsmPbf.decodeBlob(b))
          } finally raf.close()
        }
      } catch { case _: Exception => failures += 1 }
    }
    // most random flips land in payload values (legal, just different
    // data); the point is that NO flip crashes the JVM or loops forever —
    // reaching here at all is the assertion, plus some flips must have
    // been caught by the framing/bounds checks
    assert(failures > 0, "no corruption was ever detected by bounds checks")
  }

  test("OSMHeader with an unsupported required feature is rejected at index time") {
    val scene = OsmScenes.grid(2, 2)
    val f = java.io.File.createTempFile("graft-histfeat", ".osm.pbf")
    f.deleteOnExit()
    PbfSource.writeFixture(f.getPath, scene.nodes, scene.ways, scene.relations,
      requiredFeatures = Seq("OsmSchema-V0.6", "DenseNodes", "HistoricalInformation"))
    val e = intercept[IllegalArgumentException](PbfSource.blobIndex(f.getPath))
    assert(e.getMessage.contains("HistoricalInformation"), e.getMessage)
    // supported features (even a subset) still pass
    val g = java.io.File.createTempFile("graft-okfeat", ".osm.pbf")
    g.deleteOnExit()
    PbfSource.writeFixture(g.getPath, scene.nodes, scene.ways, scene.relations,
      requiredFeatures = Seq("OsmSchema-V0.6"))
    assert(PbfSource.blobIndex(g.getPath).nonEmpty)
  }

  test("corrupt frame lengths are rejected before any allocation") {
    val scene = OsmScenes.grid(2, 2)
    val good = OsmPbf.encode(scene.nodes, scene.ways, scene.relations)
    // negative 4-byte BlobHeader length
    val neg = good.clone()
    neg(0) = 0xFF.toByte; neg(1) = 0xFF.toByte; neg(2) = 0xFF.toByte; neg(3) = 0xFF.toByte
    val f1 = java.io.File.createTempFile("graft-neglen", ".osm.pbf")
    f1.deleteOnExit()
    java.nio.file.Files.write(f1.toPath, neg)
    val e1 = intercept[IllegalArgumentException](PbfSource.blobIndex(f1.getPath))
    assert(e1.getMessage.contains("BlobHeader length"), e1.getMessage)
    // absurdly large header length (over the 64 KiB spec cap)
    val big = good.clone()
    big(0) = 0x7F.toByte; big(1) = 0xFF.toByte; big(2) = 0xFF.toByte; big(3) = 0xFF.toByte
    val f2 = java.io.File.createTempFile("graft-biglen", ".osm.pbf")
    f2.deleteOnExit()
    java.nio.file.Files.write(f2.toPath, big)
    val e2 = intercept[IllegalArgumentException](PbfSource.blobIndex(f2.getPath))
    assert(e2.getMessage.contains("BlobHeader length"), e2.getMessage)
  }

  test("CLI end-to-end: --input <file.osm.pbf> writes boundary files") {
    val _ = spark.sparkContext // active session up front: Main must reuse it
    val scene = OsmScenes.grid(3, 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-pbf").toFile
    dir.deleteOnExit()
    val pbf = new java.io.File(dir, "scene.osm.pbf").getPath
    PbfSource.writeFixture(pbf, scene.nodes, scene.ways, scene.relations)
    val out = new java.io.File(dir, "out").getPath
    graft.Main.main(Array("--input", pbf, "--path", out, "--geojson"))
    val boundaries = spark.read.parquet(s"$out/boundaries.parquet")
    assert(boundaries.count() == scene.relations.size)
    val files = new java.io.File(s"$out/files").listFiles()
    assert(files.exists(_.getName.endsWith(".poly")))
    assert(files.exists(_.getName.endsWith(".geojson")))
  }

  test("end-to-end: PBF file → PbfSource triple → extract equals direct extract") {
    val scene = OsmScenes.grid(5, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-pbf").toFile
    dir.deleteOnExit()
    val path = new java.io.File(dir, "scene.osm.pbf").getPath
    PbfSource.writeFixture(path, scene.nodes, scene.ways, scene.relations, chunk = 16)

    val (rp, wp, np) = PbfSource.readTriple(spark, path, partitions = 4)
    val (nd, wd, rd) = scene.toDFs(spark)

    def polys(r: org.apache.spark.sql.DataFrame, w: org.apache.spark.sql.DataFrame,
        n: org.apache.spark.sql.DataFrame) =
      graft.osm.BoundaryExtract.extract(spark, r, w, n, 8, 8)
        .collect().map(p => (p.relation_id, p.name, p.rings)).sortBy(_._1).toSeq

    assert(polys(rp, wp, np) == polys(rd, wd, nd))

    // member order, roles, and tags survive the container byte-exactly
    val relsBack = rp.orderBy("id").collect()
    val relsDirect = rd.orderBy("id").collect()
    assert(relsBack.toSeq == relsDirect.toSeq)
  }
}
