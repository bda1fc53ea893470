package graft

import org.apache.spark.sql.SparkSession

object SparkTestSession {
  lazy val spark: SparkSession = Bench.session(4)
}
