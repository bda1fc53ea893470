package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** One benchmark run in one JVM. Prints a single JSON line of raw
  * measurements; `perfbench/run.py` turns it into the reported metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --nproc P --work DIR
  *
  * Order: session start; input generation `SetupReps` times (the last copy
  * stays live); `WarmupJobs` warm-up jobs; untraced jobs until `seconds` have passed
  * (at least `MinJobs`). With trace 1, two traced passes follow.
  */
object Main {
  val SetupReps = 3
  /** Untimed jobs first: the JIT keeps speeding jobs up for the first few. */
  val WarmupJobs = 3
  val MinJobs = 3
  val TracedPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val nproc = opt("nproc").toInt
    val work = opt("work")
    Files.createDirectories(Paths.get(work))

    HeapPeak.install()
    val (spark, sessionS) = Workload.timed(Session.start(nproc, work))
    val listener = new PhaseListener
    spark.sparkContext.addSparkListener(listener)
    val wl = Workload(name, spark, seed, nproc)
    val setupFailures = ArrayBuffer.empty[String]
    if (wl.fingerprint(seed) == wl.fingerprint(seed + 1))
      setupFailures += s"seeds $seed and ${seed + 1} generate the same inputs"

    // each repetition regenerates every input into a fresh directory
    val setupReps = (1 to (if (trace) 1 else SetupReps)).map { r =>
      Workload.timed(wl.setup(s"$work/inputs-$r"))._2
    }
    val (summaries, warmupS) = Workload.timed((1 to WarmupJobs).map { _ =>
      val warm = wl.job()
      setupFailures ++= wl.check(warm).map("warm-up job: " + _)
      try wl.finish(warm) finally settle(spark)
    })
    val summary = summaries.last

    val jobS = ArrayBuffer.empty[Double]
    val jobErrors = ArrayBuffer.empty[Seq[String]]
    HeapPeak.open()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (jobS.size < MinJobs || System.nanoTime() < deadline) {
      val (res, s) = Workload.timed(try Right(wl.job()) catch { case e: Exception => Left(e) })
      jobS += s
      jobErrors += res.fold(e => Seq(s"job threw $e"), r => { val e = wl.check(r); wl.finish(r); e })
      settle(spark)
    }
    val peakHeapMb = HeapPeak.close()

    val traced = if (!trace) Nil else (1 to TracedPasses).map { run =>
      listener.reset()
      val t = new Tracer(spark, run)
      val (layers, errs) = try wl.traced(t) catch { case e: Exception => (Map.empty[String, Double], Seq(s"traced pass threw $e")) }
      settle(spark)
      Map("spans" -> t.toJson, "layers" -> layers, "counters" -> listener.snapshot(), "errors" -> errs)
    }

    val out = Map(
      "workload" -> name, "seed" -> seed, "nproc" -> nproc,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "items" -> wl.items, "item_name" -> wl.itemName,
      "session_s" -> sessionS, "setup_reps_s" -> setupReps, "warmup_s" -> warmupS,
      "setup_failures" -> setupFailures, "job_s" -> jobS, "job_errors" -> jobErrors,
      "peak_heap_mb" -> peakHeapMb, "summary" -> summary, "traced" -> traced)
    println(Json(out))
    spark.stop()
  }

  /** Between jobs, outside any timer: drop cached frames the job left and
    * collect, so each job starts from the same heap.
    */
  private def settle(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }
}
