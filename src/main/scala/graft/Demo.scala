package graft

import graft.core.Session

/** Runs the flagship per-frame pipeline (SparkEntry.entry) standalone and
  * prints the integral table head — the same call the driver smoke-checks.
  * `sbt "runMain graft.Demo"` */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder("graft-demo").getOrCreate()
    val df = SparkEntry.entry(spark)
    df.printSchema()
    val n = df.count()
    df.show(10, truncate = false)
    println(s"ENTRY_ROWS=$n")
    if (args.contains("--explain")) df.explain("formatted")
    spark.stop()
  }
}
