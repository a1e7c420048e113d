package graft
import graft.core.Session
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder("graft-verify").getOrCreate()
    new java.io.File(outDir).mkdirs()
    // raw-hash aux tables for the minhash/simhash/LSH oracles (DuckDB has
    // no xxhash64; the aggregation/banding logic is verified over these).
    // The dir derives from outDir so concurrent Verify runs cannot clobber
    // each other and a failed run cannot leave stale tables behind.
    val auxDir = new java.io.File(outDir, "oracle_aux").getAbsolutePath
    queries.OracleQueries.writeOracleAux(spark, sfDir, auxDir)
    // local-iteration filter (comma-separated names); the driver never
    // sets it, so the full dump remains the default contract
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // A row that throws is named at the end and fails the run, after
    // oracle_sql.json is written (the compare still covers the rest).
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = queries.OracleQueries.oracleSqlFor(auxDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} rows failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
