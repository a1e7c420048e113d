package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.{Calibration, SyntheticFrame}
import graft.sources.FrameSource

/** Seeded inputs, rendered to files before any clock starts. The engine
  * only ever sees the files. */
object Inputs {

  /** Spot and arc placement of one frame, drawn from (seed, frame). */
  def framePlan(seed: Long, frameNo: Int, size: Int)
      : (Seq[(Int, Int, Double, Double)], Seq[(Double, Double, Double, Double)]) = {
    val r = new scala.util.Random(seed * 1000003L + frameNo)
    val spots = Seq.fill(1 + r.nextInt(3)) {
      (size / 8 + r.nextInt(size * 3 / 4), size / 8 + r.nextInt(size * 3 / 4),
        20000.0 + r.nextInt(20000), 2.0 + r.nextDouble() * 2.0)
    }
    val rings = Seq(3.0, 5.5, 8.0, 11.0)
    val arcs = Seq.fill(1 + r.nextInt(2)) {
      val lo = r.nextInt(300).toDouble
      (rings(r.nextInt(rings.size)), lo, lo + 40 + r.nextInt(80),
        5000.0 + r.nextInt(7000))
    }
    (spots, arcs)
  }

  /** Render frames 1 to `n` of dataset `ds` as TIFFs into
    * `dir` (written beside it, then renamed in atomically). Frames render
    * on at most `threads` driver threads. */
  def renderFrames(spark: SparkSession, cal: Calibration, seed: Long,
                   ds: String, n: Int, dir: Path,
                   threads: Int): Unit = {
    val (h, w) = cal.imageSize
    Files.createDirectories(dir)
    val staging = Files.createDirectories(dir.resolveSibling(
      dir.getFileName.toString + ".staging"))
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val names = (1 to n).map { no =>
        Future {
          val (spots, arcs) = framePlan(seed, no, w)
          val m = Array.ofDim[Int](h, w)
          SyntheticFrame.frame(spark, cal, no, nHotPer10k = 2, spots = spots,
              arcs = arcs)
            .select(col("y"), col("x"), col("intensity"))
            .collect().foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getInt(2))
          val name = f"$ds-$no%05d.tif"
          val tmp = staging.resolve(name)
          Files.write(tmp, FrameSource.encodeTiff(m))
          Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          name
        }
      }
      stampInOrder(dir, names.map(Await.result(_, Duration.Inf)))
    } finally pool.shutdown()
  }

  /** File sources take the oldest files first: stamp modification times
    * one second apart in the given order, so batch contents repeat. */
  private def stampInOrder(dir: Path, names: Seq[String]): Unit = {
    val base = System.currentTimeMillis() - 3600 * 1000L
    names.zipWithIndex.foreach { case (n, i) =>
      Files.setLastModifiedTime(dir.resolve(n), FileTime.fromMillis(base + 1000L * i))
    }
  }

  /** Documents `ScaleGen.documents(seed)` rendered as JSONL, split into
    * `files` files of consecutive doc ids. Returns the document count. */
  def renderDocs(spark: SparkSession, n: Int, seed: Long, files: Int,
                 dir: Path): Long = {
    Files.createDirectories(dir)
    val rows = graft.tools.ScaleGen.documents(spark, n, seed)
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy(col("doc_id")).collect()
    val per = (rows.length + files - 1) / files
    val names = rows.grouped(per).zipWithIndex.map { case (part, i) =>
      val sb = new StringBuilder
      part.foreach { r =>
        sb.append(Main.Json.writeValueAsString(collection.immutable.ListMap(
          "doc_id" -> r.getLong(0), "lang" -> r.getString(1),
          "text" -> r.getString(2)))).append('\n')
      }
      val tmp = dir.resolveSibling(f"part-$i%05d.jsonl.tmp")
      Files.writeString(tmp, sb.toString)
      val name = f"part-$i%05d.jsonl"
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      name
    }.toSeq
    stampInOrder(dir, names)
    rows.length.toLong
  }
}
