package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM, on the gate's
  * session profile ([[GraftSession.local]]) at a fixed 8 cores.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("graft-test", 8)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
