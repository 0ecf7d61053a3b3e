package graft.operators

import graft.GraftSession

/** Same-JVM A/B of the CC engines on the Bench soak graph
  * (`ConnectedComponents.soakEdges`: 996,000 edges, 1,112,000 nodes).
  * Arms alternate their order each rep; each prints wall seconds and the
  * Spark work it ran (`GraftSession.Counts`). `ParentCC` is the parent
  * commit's `ConnectedComponents.scala` with its object renamed, copied
  * next to this file into `src/main/scala/graft/operators/` of a scratch
  * checkout (see README.md). Not part of the build.
  *
  * Usage: runMain graft.operators.CcAB <reps>
  */
object CcAB {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(4)
    val spark = GraftSession.local()
    val counts = new GraftSession.Counts
    spark.sparkContext.addSparkListener(counts)
    val edges = ConnectedComponents.soakEdges(spark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    def arm(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      GraftSession.drain(spark.sparkContext); counts.reset()
      var out: org.apache.spark.sql.DataFrame = null
      val d = GraftSession.clock { out = f; out.count(): Unit }
      GraftSession.drain(spark.sparkContext)
      println(f"AB $name%-8s $d%.2f s $counts")
      while (!counts.stageLog.isEmpty) println(s"ST $name " + counts.stageLog.poll())
    }
    val arms = Seq("parent", "change")
    (1 to reps).foreach { r =>
      (arms.drop(r % 2) ++ arms.take(r % 2)).foreach {
        case "parent" => arm("parent")(ParentCC.runStarsCounted(edges)._1)
        case "change" => arm("change")(ConnectedComponents.run(edges))
      }
    }
    spark.stop()
  }
}
