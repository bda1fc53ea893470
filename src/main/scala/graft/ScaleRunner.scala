package graft

/** One "cluster" of the scaling experiment: a fresh JVM pinned (by the
  * parent, via taskset) to `cores` CPUs, running the north-rule spatial-join
  * + tile job. Separate JVMs per cluster size keep GC/JIT/thread-pool
  * ergonomics sized to the core count — flipping affinity inside one JVM
  * leaves 32-CPU-sized GC thrashing an 8-CPU mask (measured 10x slowdowns).
  *
  * args: <cores> <nImages> [reps]; prints one JSON line.
  */
object ScaleRunner {

  /** Pure-register arithmetic throughput across `threads` threads — the
    * host's parallel-CPU ceiling, free of memory/GC effects. Reported next
    * to the job number so the scaling efficiency can be read against what
    * this (shared, virtualized) host physically delivers.
    */
  def spinThroughput(threads: Int): Double = {
    val perThread = 2000000000L / threads
    def work(iters: Long): Long = {
      var x = 1469598103934665603L; var i = 0L
      while (i < iters) { x = x * 1099511628211L + i; i += 1 }
      x
    }
    work(100000000L) // JIT warmup
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val t0 = System.nanoTime()
    val fs = (0 until threads).map(_ => pool.submit(
      new java.util.concurrent.Callable[Long] { def call(): Long = work(perThread) }))
    fs.foreach(_.get())
    pool.shutdown()
    2.0e9 / ((System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val n = args(1).toLong
    val reps = if (args.length > 2) args(2).toInt else 3
    // spin measured BEFORE and AFTER the Spark reps: a background tenant
    // spike during either window shows up as a depressed reading, and the
    // parent takes the max (least-loaded) of the two per side so one spike
    // can no longer fabricate a >1.0 "ceiling" (r1 recorded 1.798)
    val spinBefore = spinThroughput(cores)
    val spark = Bench.session(cores)
    // the polygon index is a fixed once-per-run build (identical at both
    // cluster sizes); materialize it outside the timed reps so the
    // measured quantity is the throughput that scales — images streamed
    // through join + tiling
    val polys = Bench.buildPolys(spark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    polys.count()
    Bench.spatialTilePhase(spark, polys, 2000, cores) // warmup: JIT + codegen
    // 128 partitions at BOTH cluster sizes (identical input, identical
    // plan): fine granularity keeps all cores busy through stragglers —
    // at 16 cores, 32 partitions is 2 task waves and one background-load
    // hiccup idles half the cluster for the rest of the wave
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Bench.spatialTilePhase(spark, polys, n, 128)
      (System.nanoTime() - t0) / 1e9
    }
    val best = times.min
    val spinAfter = spinThroughput(cores)
    println(f"""{"cores":$cores,"images":$n,"sec":$best%.3f,"images_per_sec":${n / best}%.1f,"spin_before":$spinBefore%.3e,"spin_after":$spinAfter%.3e,"spin_ops_per_sec":${math.max(spinBefore, spinAfter)}%.3e,"runs":[${times.map(t => f"$t%.3f").mkString(",")}]}""")
    spark.stop()
  }
}
