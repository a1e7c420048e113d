package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Output checks. Each returns the list of problems found (empty = ok). */
object Checks {

  /** The reference-shaped files one frame must leave under the output
    * directory: four .chi integrals, four mask TIFFs, the two per-frame
    * stats CSVs and the csim text file. */
  def frameFiles(ds: String, no: Int): Seq[String] = {
    val stem = f"$ds-$no%05d"
    Seq("base", "om", "spotsmasked", "arcsmasked")
      .map(v => s"integrals/${stem}_$v.chi") ++
    Seq("base", "outliermask", "spots", "arcs")
      .map(m => s"masks/${stem}_$m.tif") ++
    Seq(s"stats/${stem}_spots_stats_df.csv",
      s"stats/${stem}_spots_stats_grad.csv", s"stats/${stem}_csim.txt")
  }

  /** Frames (of `frames`) missing any of their files, with what is
    * missing or empty. */
  def missingFrameFiles(outDir: Path, ds: String,
                        frames: Seq[Int]): Map[Int, Seq[String]] =
    frames.map { no =>
      no -> frameFiles(ds, no).filterNot { f =>
        val p = outDir.resolve(f)
        Files.isRegularFile(p) && Files.size(p) > 0
      }
    }.filter(_._2.nonEmpty).toMap

  def relClose(a: Double, b: Double, tol: Double): Boolean =
    a == b || (a.isNaN && b.isNaN) ||
      math.abs(a - b) <= tol * math.max(math.abs(a), math.abs(b))

  /** Compare two tables row by row on `keys`: floating-point columns
    * within `tol` relative, every other column exactly. */
  def compareRows(expected: Seq[Map[String, Any]], actual: Seq[Map[String, Any]],
                  keys: Seq[String], floats: Set[String],
                  tol: Double = 1e-6): Seq[String] = {
    def key(r: Map[String, Any]) = keys.map(r(_))
    val act = actual.groupBy(key)
    val missing = expected.filterNot(r => act.contains(key(r)))
      .map(r => s"missing row ${key(r).mkString(",")}")
    val extra = actual.size - actual.map(key).distinct.size
    val dupes = if (extra > 0) Seq(s"$extra duplicate rows") else Nil
    val exp = expected.map(key).toSet
    val unexpected = actual.filterNot(r => exp.contains(key(r)))
      .map(r => s"unexpected row ${key(r).mkString(",")}")
    val diffs = expected.flatMap { e =>
      act.get(key(e)).toSeq.flatMap(_.headOption).flatMap { a =>
        e.keys.toSeq.sorted.filterNot(keys.contains).flatMap { c =>
          val (x, y) = (e(c), a.getOrElse(c, null))
          val same =
            if (floats(c) && x != null && y != null)
              relClose(x.asInstanceOf[Number].doubleValue,
                y.asInstanceOf[Number].doubleValue, tol)
            else x == y
          if (same) None
          else Some(s"row ${key(e).mkString(",")} column $c: expected $x, got $y")
        }
      }
    }
    missing ++ unexpected ++ dupes ++ diffs
  }

  /** A DataFrame's rows as column maps, with its floating-point columns. */
  def rowsOf(df: DataFrame): (Seq[Map[String, Any]], Set[String]) = {
    val names = df.columns.toSeq
    val floats = df.schema.fields.filter(f =>
      f.dataType == DoubleType || f.dataType == FloatType).map(_.name).toSet
    (df.collect().toSeq.map((r: Row) =>
      names.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap), floats)
  }

  /** Compare two DataFrames with the same columns (see [[compareRows]]). */
  def compareFrames(expected: DataFrame, actual: DataFrame, keys: Seq[String],
                    tol: Double = 1e-6): Seq[String] = {
    val cols = expected.columns.toSeq
    val (e, floats) = rowsOf(expected.select(cols.map(expected(_)): _*))
    val (a, _) = rowsOf(actual.select(cols.map(actual(_)): _*))
    compareRows(e, a, keys, floats, tol)
  }

  /** Outputs that must repeat exactly for a seed: the first run of a
    * (workload, seed, size) key in a checkout records its digest, and
    * every later run with the same key must reproduce it. */
  def ledger(dir: Path, key: String, digest: String): Seq[String] = {
    Files.createDirectories(dir)
    val f = dir.resolve(key.replaceAll("[^A-Za-z0-9_.-]", "_") + ".txt")
    if (!Files.exists(f)) { Files.writeString(f, digest); Nil }
    else {
      val prior = Files.readString(f)
      if (prior == digest) Nil
      else Seq(s"outputs differ from an earlier run with the same seed " +
        s"($key): was [$prior], now [$digest]")
    }
  }
}
