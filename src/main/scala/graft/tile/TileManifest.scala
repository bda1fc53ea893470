package graft.tile

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lineage.Lineage

/** Checkpoint-resumable tiling job (north rule).
  *
  * The image set is split into `nBatches` deterministic batches
  * (`pmod(hash(image_id), n)` — the same split at any cluster size). Each
  * batch is tiled and written to `outDir/tiles/batch=<b>/`, then a manifest
  * entry `outDir/_manifest/batch-<b>.json` is committed atomically
  * (temp-file + rename). Restart skips every batch with a committed
  * manifest entry — Iceberg-snapshot-like semantics on plain Parquet
  * (no Iceberg runtime in the sandbox, SURVEY.md §7.1). Per-batch lineage
  * rows (task-level IO/timing) append to `outDir/_lineage/`.
  */
object TileManifest {

  final case class BatchResult(batch: Int, images: Long, tiles: Long, skipped: Boolean)

  def completedBatches(outDir: String): Set[Int] = {
    val dir = Paths.get(outDir, "_manifest")
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir) // close the directory stream — fd leak otherwise
      try {
        val it = s.iterator()
        val out = scala.collection.mutable.Set.empty[Int]
        while (it.hasNext) {
          val f = it.next().getFileName.toString
          if (f.startsWith("batch-") && f.endsWith(".json"))
            out += f.stripPrefix("batch-").stripSuffix(".json").toInt
        }
        out.toSet
      } finally s.close()
    }
  }

  private def commitManifest(outDir: String, batch: Int, images: Long, tiles: Long): Unit = {
    val dir = Paths.get(outDir, "_manifest")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".batch-$batch.json.tmp")
    val fin = dir.resolve(s"batch-$batch.json")
    Files.writeString(tmp,
      s"""{"batch":$batch,"images":$images,"tiles":$tiles,"schema_v":1}""")
    // REPLACE: a refresh re-commits an existing batch's entry
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Run (or resume) the tiling job. `assigned` needs image_id, relation_id,
    * bytes. Returns per-batch results including skips.
    *
    * Scale shape: the input is scanned ONCE for the whole run — `assigned`
    * is persisted (memory-and-disk) before the batch loop, each batch
    * filter reads the cache, and per-batch image counts are derived from
    * the tiles that were just written (every image emits exactly one
    * level-0 origin tile) instead of a separate `count()` over the input.
    * The r2 version re-ran the full upstream join twice per batch (one
    * count + one tile pass × nBatches ≈ 16 input scans at 8 batches — a
    * genuine 100 TB scale-killer hiding behind resumability). For inputs
    * too large to cache — or when resume must survive a JVM crash — use
    * [[runStaged]], which materializes the joined frame once as
    * batch-partitioned parquet and lets partition pruning serve each batch.
    */
  def run(spark: SparkSession, assigned: DataFrame, outDir: String,
      nBatches: Int = 8): Seq[BatchResult] = {
    val done = completedBatches(outDir)
    val todo = (0 until nBatches).filterNot(done.contains)
    if (todo.isEmpty) return (0 until nBatches).map(BatchResult(_, 0, 0, skipped = true))
    val withBatch = assigned
      .withColumn("batch", pmod(hash(col("image_id")), lit(nBatches)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (0 until nBatches).map { b =>
        if (done.contains(b)) BatchResult(b, 0, 0, skipped = true)
        else tileBatch(spark, withBatch.filter(col("batch") === b).drop("batch"), outDir, b)
      }
    } finally withBatch.unpersist(blocking = false)
  }

  /** One batch: tile + write with observed counts, commit. The counts
    * ride the WRITE job via `observe` (Iceberg's writer-reported commit
    * stats) — they count the rows actually streamed to the writer, in
    * the same job, where the previous shape paid two extra read-back
    * jobs per batch (full count + origin-tile count).
    */
  private def tileBatch(spark: SparkSession, slice: DataFrame, outDir: String,
      b: Int): BatchResult = {
    val ((nImages, nTiles), lineage) = Lineage.capture(spark, s"tile-batch-$b") {
      val obs = org.apache.spark.sql.Observation(s"tile-batch-$b-${System.nanoTime()}")
      Tiling.tile(spark, slice)
        .observe(obs, count(lit(1)).as("tiles"),
          count(when(col("level") === 0 && col("tx") === 0 && col("ty") === 0, 1))
            .as("images"))
        .write.mode("overwrite").parquet(s"$outDir/tiles/batch=$b")
      val m = obs.get
      (m("images").asInstanceOf[Long], m("tiles").asInstanceOf[Long])
    }
    // batch-keyed overwrite (not append): a batch replayed after a
    // crash between this write and commitManifest stays idempotent.
    // Partition column `lineage_batch` is shared with TileIngest's
    // streaming writer so both can land in one _lineage dir — two
    // different partition-column names under one root would make
    // spark.read.parquet(_lineage) throw on partition discovery.
    lineage.write.mode("overwrite").parquet(s"$outDir/_lineage/lineage_batch=batch-$b")
    commitManifest(outDir, b, nImages, nTiles)
    BatchResult(b, nImages, nTiles, skipped = false)
  }

  /** Durable variant for genuinely huge inputs: materialize `assigned` ONCE
    * as parquet partitioned by `batch` (skipped when already staged), then
    * each batch reads its slice back with partition pruning — the filter
    * becomes a directory prune, never a scan of other batches.
    *
    * vs `run`: the in-memory persist dies with the JVM, so a CRASHED run
    * re-executes the upstream join for the remaining batches on restart;
    * the staging survives, making resume zero-upstream-cost — at 100 TB
    * (where the upstream is a multi-hour join) this is the shape that
    * matters, at the price of one durable copy of the joined frame.
    */
  def runStaged(spark: SparkSession, assigned: DataFrame, outDir: String,
      nBatches: Int = 8): Seq[BatchResult] = {
    val done = completedBatches(outDir)
    val stagedDir = s"$outDir/_staged"
    val metaPath = Paths.get(outDir, "_staged_meta.json")
    if (!Files.exists(Paths.get(stagedDir, "_SUCCESS"))) {
      assigned.withColumn("batch", pmod(hash(col("image_id")), lit(nBatches)))
        .write.mode("overwrite").partitionBy("batch").parquet(stagedDir)
      val tmp = Paths.get(outDir, "._staged_meta.json.tmp")
      Files.writeString(tmp, s"""{"n_batches":$nBatches,"schema_v":1}""")
      Files.move(tmp, metaPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else {
      // the batch split is baked into the staging — a resume with a
      // different nBatches would silently never tile the extra batches
      val meta = Files.readString(metaPath)
      val staged = """"n_batches":(\d+)""".r.findFirstMatchIn(meta)
        .map(_.group(1).toInt)
        .getOrElse(sys.error(s"unreadable $metaPath: $meta"))
      require(staged == nBatches,
        s"$outDir was staged with n_batches=$staged but resumed with " +
          s"n_batches=$nBatches — delete $stagedDir to restage, or resume " +
          "with the original batch count")
    }
    val staged = spark.read.parquet(stagedDir)
    (0 until nBatches).map { b =>
      if (done.contains(b)) BatchResult(b, 0, 0, skipped = true)
      else tileBatch(spark, staged.filter(col("batch") === b).drop("batch"), outDir, b)
    }
  }

  /** Incremental refresh of a completed [[runStaged]] output: apply an
    * image-level delta (upserts carry the full assigned row; deletes just
    * image_ids) by re-tiling ONLY the batches containing a changed image
    * — the CDC-driven maintenance path, O(changed batches) like the
    * snapshot table's merge, against O(corpus) for a rebuild.
    *
    * Per affected batch: the old slice reads back partition-PRUNED from
    * the staging, changed ids anti-join out, upserts union in; the new
    * slice is eagerly localCheckpointed BEFORE the staging partition is
    * overwritten (the read and the write touch the same directory — the
    * checkpoint is what makes the swap safe), then the batch re-tiles and
    * re-commits its manifest entry. Untouched batches: zero reads, zero
    * writes. The staging swap is not atomic; the manifest entry remains
    * the commit point, and a crashed refresh is safe to re-run with the
    * same (deterministic) delta.
    */
  def refreshStaged(spark: SparkSession, upserts: DataFrame, deleteIds: DataFrame,
      outDir: String): Seq[BatchResult] = {
    val stagedDir = s"$outDir/_staged"
    val metaPath = Paths.get(outDir, "_staged_meta.json")
    require(Files.exists(metaPath), s"no staged tiling run at $outDir to refresh")
    val nBatches = """"n_batches":(\d+)""".r
      .findFirstMatchIn(Files.readString(metaPath))
      .map(_.group(1).toInt)
      .getOrElse(sys.error(s"unreadable $metaPath"))
    def batched(df: DataFrame) =
      df.withColumn("batch", pmod(hash(col("image_id")), lit(nBatches)))
    val up = batched(upserts)
    val del = batched(deleteIds.select(col("image_id")))
    // metadata-sized by construction: ≤ nBatches values
    val affected = up.select(col("batch")).union(del.select(col("batch")))
      .distinct().collect().map(_.getInt(0)).sorted
    if (affected.isEmpty)
      return (0 until nBatches).map(BatchResult(_, 0, 0, skipped = true))
    val changedIds = up.select(col("image_id"))
      .union(del.select(col("image_id"))).distinct()
    val oldSlices = spark.read.parquet(stagedDir)
      .filter(col("batch").isin(affected.map(Int.box).toIndexedSeq: _*)) // partition prune
    val newSlices = oldSlices.join(changedIds, Seq("image_id"), "left_anti")
      .unionByName(up)
      .localCheckpoint(true) // delta-sized; severs lineage from stagedDir
    try {
      val res = affected.toSeq.map { b =>
        val slice = newSlices.filter(col("batch") === b).drop("batch")
        slice.write.mode("overwrite").parquet(s"$stagedDir/batch=$b")
        // a delta can drain a batch completely: the staging partition
        // then holds only _SUCCESS, and both the staging read-back and
        // tileBatch's written-tiles read-back would fail schema
        // inference — short-circuit: drop the batch's stale tiles and
        // commit an empty manifest entry
        val walk = Files.walk(Paths.get(s"$stagedDir/batch=$b"))
        val hasFiles =
          try walk.anyMatch(p => p.toString.endsWith(".parquet"))
          finally walk.close()
        if (hasFiles)
          tileBatch(spark, spark.read.parquet(s"$stagedDir/batch=$b"), outDir, b)
        else {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
          }
          rm(new java.io.File(s"$outDir/tiles/batch=$b"))
          commitManifest(outDir, b, 0, 0)
          BatchResult(b, 0, 0, skipped = false)
        }
      }
      res ++ (0 until nBatches).filterNot(affected.contains)
        .map(BatchResult(_, 0, 0, skipped = true))
    } finally newSlices.unpersist(blocking = false)
  }
}
