package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite with TestSpark {

  test("positiveInt: unset takes the default; anything but a positive Int names the variable") {
    def parse(env: Map[String, String]) =
      GraftSession.positiveInt("SPARK_GRAFT_CPUS", 5, env)
    assert(parse(Map.empty) === 5)
    assert(parse(Map("SPARK_GRAFT_CPUS" -> "8")) === 8)
    Seq("0", "-3", "abc", "32,4").foreach { v =>
      val e = intercept[IllegalArgumentException](parse(Map("SPARK_GRAFT_CPUS" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$v'"), v)
    }
  }

  test("Counts.compiles counts the generated classes compiled since reset") {
    val counts = new GraftSession.Counts
    // a literal inlined into the generated code: a class no run compiled yet
    val q = spark.range(3).selectExpr(s"id * ${System.nanoTime()}L + 7 AS v")
    counts.reset()
    assert(counts.compiles === 0L)
    q.collect()
    assert(counts.compiles >= 1L, counts.toString)
    assert(counts.toString.contains(s"compiles=${counts.compiles}"))
    // the same plan again is served from the codegen cache
    counts.reset()
    q.collect()
    assert(counts.compiles === 0L, counts.toString)
  }

  test("the test session has the local policy: UTC, 4 shuffle partitions, AQE on") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.sparkContext.master === "local[4]")
  }
}
