package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local session for specs (one JVM-wide session, tests reuse). */
trait TestSpark { self: Suite =>
  lazy val spark: SparkSession = TestSpark.session
}

object TestSpark {
  lazy val session: SparkSession = GraftSession.local(4)

  /** Empties Spark's codegen cache, so the next run's compiles count
    * every cache entry it needs. */
  def emptyCodegenCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val field = gen.getClass.getDeclaredField("cache")
    field.setAccessible(true)
    val cache = field.get(gen)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }
}
