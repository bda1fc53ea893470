package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dev harness: time SparkEntry queries in a fresh, warmed session on
  * every CPU of the host — the single-shot number the bench sweep charges
  * each query (fresh plan + codegen compile included), split into
  * build / plan / exec. With `planDir`, also writes `<q>.txt` there with
  * the query's `explain("formatted")`. Iterative queries execute their
  * driver loop during construction, so their file pins the FINAL stage
  * plan (the localCheckpoint-truncated frame), same convention as
  * PlanAuditSpec. Usage:
  * `runMain graft.QueryOnce <q1,q2,...> [sfDir] [reps] [planDir]`.
  */
object QueryOnce {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: QueryOnce <queryName[,queryName...]> [sfDir] [reps] [planDir]")
      sys.exit(2)
    }
    val names = args(0).split(',') // comma-separated: earlier names warm shared infra
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val planDir = args.lift(3).map(Paths.get(_))
    planDir.foreach(Files.createDirectories(_))
    val spark = Bench.session()
    Bench.warmUp(spark, sfDir)
    for (name <- names; i <- 1 to reps) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis+optimization+planning
      val t2 = System.nanoTime()
      for (dir <- planDir if i == 1) Files.writeString(dir.resolve(s"$name.txt"),
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      val t3 = System.nanoTime()
      val n = df.count()
      val t4 = System.nanoTime()
      println(f"$name rep=$i build=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f " +
        f"exec=${(t4 - t3) / 1e9}%.3f rows=$n")
    }
    spark.stop()
  }
}
