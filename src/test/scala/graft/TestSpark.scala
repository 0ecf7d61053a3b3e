package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local session for specs (one JVM-wide session, tests reuse). */
trait TestSpark { self: Suite =>
  lazy val spark: SparkSession = TestSpark.session
}

object TestSpark {
  lazy val session: SparkSession = GraftSession.local(4)
}
