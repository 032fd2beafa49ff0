package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // a fixed local[4], not the host's cpu count: plan-shape assertions
    // and partition counts in the suites must not depend on the machine
    val s = GraftSession(cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
