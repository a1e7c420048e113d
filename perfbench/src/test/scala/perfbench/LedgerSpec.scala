package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A rerun of a seed whose sink tables differ in one count must fail the
  * ledger the first run recorded, the way a second benchmark run in the
  * same checkout does. */
class LedgerSpec extends AnyFunSuite {

  test("a rerun whose integrals lost one pixel count fails the seed's ledger") {
    val spark = SparkSession.builder().master("local[1]").appName("ledger-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1").getOrCreate()
    try {
      import spark.implicits._
      val root = Files.createTempDirectory("perfbench-ledger")
      def run(name: String, nBase: Int): String = {
        val tables = root.resolve(name).resolve("tables")
        Seq((1, 0, nBase, 2.5), (1, 1, 7, 3.5), (2, 0, 5, 1.0))
          .toDF("frame_no", "tth_bin", "n_base", "i_base")
          .write.parquet(tables.resolve("integrals").toString)
        Seq((1, 0), (1, 1), (2, 0)).toDF("frame_no", "spot_stat_label")
          .write.parquet(tables.resolve("spot_stats").toString)
        Frames.digest(spark, tables.toString)
      }
      val ledger: Path = root.resolve("ledger")
      val key = "frames_backfill-1-8-256"
      assert(Checks.ledger(ledger, key, run("first", 40)).isEmpty)
      assert(Checks.ledger(ledger, key, run("same", 40)).isEmpty)
      val changed = Checks.ledger(ledger, key, run("changed", 39))
      assert(changed.size == 1 && changed.head.contains("outputs differ"))
    } finally spark.stop()
  }
}
