package graft

import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** One shared local session for all suites (ScalaTest runs suites in one
  * JVM; getOrCreate returns the same session). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.build(GraftSession.Role.Test)
  val sf: String = "/root/testdata/sf0.001"
}
