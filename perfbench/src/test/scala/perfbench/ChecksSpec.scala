package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("perfbench-checks")

  private def writeFrame(out: Path, ds: String, no: Int): Unit =
    Checks.frameFiles(ds, no).foreach { f =>
      val p = out.resolve(f)
      Files.createDirectories(p.getParent)
      Files.writeString(p, "x")
    }

  test("every frame leaves eleven files") {
    val fs = Checks.frameFiles("bf", 7)
    assert(fs.size == 11 && fs.distinct.size == 11)
    assert(fs.count(_.endsWith(".chi")) == 4)
    assert(fs.count(_.endsWith(".tif")) == 4)
    assert(fs.count(_.endsWith(".csv")) == 2)
    assert(fs.contains("stats/bf-00007_csim.txt"))
  }

  test("a complete frame set passes") {
    val out = tmp()
    (1 to 3).foreach(writeFrame(out, "bf", _))
    assert(Checks.missingFrameFiles(out, "bf", 1 to 3).isEmpty)
  }

  test("a deleted or emptied output file fails its frame") {
    val out = tmp()
    (1 to 3).foreach(writeFrame(out, "bf", _))
    Files.delete(out.resolve("masks/bf-00002_spots.tif"))
    Files.writeString(out.resolve("integrals/bf-00003_om.chi"), "")
    val missing = Checks.missingFrameFiles(out, "bf", 1 to 3)
    assert(missing == Map(2 -> Seq("masks/bf-00002_spots.tif"),
      3 -> Seq("integrals/bf-00003_om.chi")))
  }

  private val row = Map("frame_no" -> 1, "tth_bin" -> 5, "n_base" -> 40L,
    "i_base" -> 150.25)

  test("rows equal up to the float tolerance pass") {
    val near = row.updated("i_base", 150.25 * (1 + 5e-7))
    assert(Checks.compareRows(Seq(row), Seq(near), Seq("frame_no", "tth_bin"),
      Set("i_base")).isEmpty)
  }

  test("a corrupted float, a changed count, a lost or an extra row fail") {
    val keys = Seq("frame_no", "tth_bin")
    val floats = Set("i_base")
    assert(Checks.compareRows(Seq(row), Seq(row.updated("i_base", 150.26)),
      keys, floats).exists(_.contains("column i_base")))
    assert(Checks.compareRows(Seq(row), Seq(row.updated("n_base", 41L)),
      keys, floats).exists(_.contains("column n_base")))
    assert(Checks.compareRows(Seq(row), Nil, keys, floats)
      .exists(_.startsWith("missing row")))
    assert(Checks.compareRows(Seq(row), Seq(row, row.updated("tth_bin", 6)),
      keys, floats).exists(_.startsWith("unexpected row")))
  }

  test("the ledger records a seed's digest once, then demands it") {
    val dir = tmp()
    assert(Checks.ledger(dir, "w-1", "a=1").isEmpty)
    assert(Checks.ledger(dir, "w-1", "a=1").isEmpty)
    assert(Checks.ledger(dir, "w-1", "a=2").nonEmpty)
    assert(Checks.ledger(dir, "w-2", "a=2").isEmpty)
  }
}
