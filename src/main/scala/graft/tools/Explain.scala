package graft.tools

import graft.core.Session

/** Print formatted physical plans for selected oracle queries (dev tool):
  * `sbt "runMain graft.tools.Explain q1_pricing a1_ring_outlier"` */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder("graft-explain", logLevel = "ERROR")
      .getOrCreate()
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
