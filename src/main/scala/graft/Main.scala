package graft

import org.apache.spark.sql.SparkSession
import graft.emit.BoundaryWriter

/** spark-submit entry point with the reference CLI's semantics
  * (`/root/reference/src/main.rs:21-133`):
  *
  *   --input DIR         directory with nodes/ways/relations parquet, OR a
  *                       .osm.pbf file / directory of .pbf files (the
  *                       reference's own input container, read by
  *                       graft.osm.pbf.PbfSource — reference -f)
  *   --min-admin N       default 8   (reference -m)
  *   --max-admin N       default 8   (reference -x)
  *   --path DIR          output dir, default "{input}_polygons" (main.rs:131)
  *   --overwrite | --skip  mutually exclusive (main.rs:109-112); with
  *                       neither flag the reference ASKS per conflicting
  *                       file (file_creator.rs:32-63) — mirrored here when
  *                       a console is attached; headless (spark-submit in
  *                       batch, CI) falls back to skip with a notice
  *   --geojson           also write .geojson (reference -g)
  *
  * Validation mirrors the reference: min > max is an error (main.rs:98-104);
  * --overwrite with --skip is an error. Output: one .poly (+.geojson) file
  * per boundary plus a parquet table of all columns.
  */
object Main {

  final case class Config(input: String = "", minAdmin: Int = 8, maxAdmin: Int = 8,
      path: Option[String] = None, overwrite: Boolean = false, skip: Boolean = false,
      geojson: Boolean = false)

  def parse(args: List[String], c: Config = Config()): Either[String, Config] = args match {
    case Nil =>
      if (c.input.isEmpty) Left("--input is required")
      else if (c.minAdmin > c.maxAdmin)
        Left(s"min admin level (${c.minAdmin}) > max admin level (${c.maxAdmin})") // main.rs:98-104
      else if (c.overwrite && c.skip)
        Left("--overwrite and --skip are mutually exclusive") // main.rs:109-112
      else Right(c)
    case "--input" :: v :: rest      => parse(rest, c.copy(input = v))
    case "--min-admin" :: v :: rest  => parse(rest, c.copy(minAdmin = v.toInt))
    case "--max-admin" :: v :: rest  => parse(rest, c.copy(maxAdmin = v.toInt))
    case "--path" :: v :: rest       => parse(rest, c.copy(path = Some(v)))
    case "--overwrite" :: rest       => parse(rest, c.copy(overwrite = true))
    case "--skip" :: rest            => parse(rest, c.copy(skip = true))
    case "--geojson" :: rest         => parse(rest, c.copy(geojson = true))
    case other :: _                  => Left(s"unknown argument: $other")
  }

  def main(args: Array[String]): Unit = {
    parse(args.toList) match {
      case Left(err) =>
        System.err.println(s"error: $err")
        sys.exit(2)
      case Right(c) =>
        // under spark-submit there is no session yet and we own the one we
        // build; embedded in a host app (or a test), reuse and DON'T stop
        val hadActive = SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession).isDefined
        val spark = SparkSession.builder()
          .appName("graft-boundary-extract")
          .config("spark.sql.session.timeZone", "UTC")
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        val out = c.path.getOrElse(
          s"${c.input.stripSuffix("/").stripSuffix(".osm.pbf").stripSuffix(".pbf")}_polygons")
        val isPbf = c.input.endsWith(".pbf") || {
          val f = new java.io.File(c.input)
          f.isDirectory && f.listFiles().exists(_.getName.endsWith(".pbf"))
        }
        val (rel, ways, nodes) =
          if (isPbf) graft.osm.pbf.PbfSource.readTriple(spark, c.input)
          else (
            spark.read.parquet(s"${c.input}/relations.parquet"),
            spark.read.parquet(s"${c.input}/ways.parquet"),
            spark.read.parquet(s"${c.input}/nodes.parquet"))
        val t0 = System.nanoTime()
        val df = graft.osm.BoundaryExtract
          .extractWithSinks(spark, rel, ways, nodes, c.minAdmin, c.maxAdmin)
          .cache()
        val nBoundaries = df.count()
        df.write.mode("overwrite").parquet(s"$out/boundaries.parquet")
        val mode: BoundaryWriter.OverwriteMode =
          if (c.overwrite) BoundaryWriter.OverwriteAll
          else if (c.skip) BoundaryWriter.SkipAll
          else if (System.console() != null) BoundaryWriter.Ask()
          else {
            System.err.println("no console attached: defaulting --skip " +
              "(pass --overwrite or --skip explicitly for headless runs)")
            BoundaryWriter.SkipAll
          }
        val files = BoundaryWriter.write(df, s"$out/files", mode, c.geojson)
        println(f"$nBoundaries boundaries, $files files written in ${(System.nanoTime() - t0) / 1e9}%.1f s → $out")
        if (!hadActive) spark.stop()
    }
  }
}
