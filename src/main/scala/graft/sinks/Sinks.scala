package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Output writers. Parquet tables are canonical (transactional commits make
  * the reference's mtime-debounce and drop-last-file hacks obsolete —
  * SURVEY §2.11); the `.chi` / csv text formats are compatibility codecs
  * for the reference's UI (Export_chi pipeline.py:44-52).
  */
object Sinks extends Serializable {

  /** Canonical sink: partitioned parquet per table. Partitioning by
    * dataset keeps 100 TB of output prunable by the UI's standing
    * queries. */
  def writeTable(df: DataFrame, outDir: String, name: String,
                 partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$outDir/$name")
  }

  /** `.chi` text codec (reference Export_chi pipeline.py:44-52): header of
    * 4 lines, then "% .7e  % .7e" (2-theta, intensity) rows. Returns the
    * file body; caller writes it next to the frame outputs. */
  def chiBody(sourceName: String, rows: Seq[(Double, Double)]): String = {
    val sb = new StringBuilder
    sb.append(s"$sourceName Azm= 0.00\n")
    sb.append("2-Theta Angle (Degrees)\n")
    sb.append("Intensity\n")
    sb.append(f"${rows.length}%11d\n")
    rows.foreach { case (t, i) =>
      sb.append(f" $t%.7e   $i%.7e\n")
    }
    sb.toString
  }

  /** Write one `.chi` file per (frame, variant) from the integral table.
    * When `dense` gives (nChannels, tthLo, tthStep), empty channels are
    * emitted as zeros so every file has exactly nChannels rows (the
    * reference's bincount output is dense, pipeline.py:69-72).
    *
    * `dataset` is the acquisition stem: files are named
    * `<dataset>-<number>_<variant>.chi` and the header line carries
    * `<dataset>-<number>.tif`, exactly like the reference
    * (pipeline.py:416-449 joins name+"-"+number regardless of whether the
    * source file used `-` or `_`), so the reference UI's stem-glob
    * (mainUI/contour.py:170-186) groups the files correctly.
    *
    * EXECUTOR-SIDE: the table is hash-partitioned on frame_no and each
    * task writes its frames' files directly — the driver never sees
    * integral rows, so a 10k-frame backfill batch writes with full
    * cluster parallelism. Paths resolve through the Hadoop filesystem
    * ([[graft.core.Fs]]), so `outDir` may be a shared posix dir (the
    * reference's NFS posture), `hdfs://` or `s3a://` alike. */
  def writeChi(integrals: DataFrame, outDir: String, variant: String,
               dense: Option[(Int, Double, Double)] = None,
               dataset: String = "frame"): Unit =
    writeChiAll(integrals, outDir, Seq(variant), dense, dataset)

  /** [[writeChi]] for several variants in ONE pass: one exchange and one
    * sort of the integral table write every variant's file of a frame
    * from the same rows (the streaming batch writes all four). */
  def writeChiAll(integrals: DataFrame, outDir: String, variants: Seq[String],
                  dense: Option[(Int, Double, Double)] = None,
                  dataset: String = "frame"): Unit = {
    import graft.core.Fs
    Fs.mkdirs(outDir, Fs.conf(integrals.sparkSession))
    val hc = Fs.onExecutors(integrals.sparkSession)
    val dir = outDir; val vNames = variants.toArray; val denseOpt = dense
    val ds = dataset
    val iCols = variants.map(v => s"i_$v")
    integrals
      .select(Seq(col("frame_no").cast("int"), col("tth_bin"), col("tth")) ++
        iCols.map(col): _*)
      .na.fill(0.0, iCols)
      .repartition(col("frame_no"))
      .sortWithinPartitions(col("frame_no"), col("tth_bin"))
      .foreachPartition { (it: Iterator[Row]) =>
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Double, Array[Double])] // (bin, tth, intensities)
        var cur = Int.MinValue
        def flush(): Unit = if (cur != Int.MinValue)
          vNames.indices.foreach { v =>
            val series = denseOpt match {
              case Some((n, lo, step)) =>
                val present = buf.iterator.map(t => t._1 -> t._3(v)).toMap
                (0 until n).map(b => (lo + (b + 0.5) * step,
                  present.getOrElse(b, 0.0)))
              case None => buf.toSeq.map(t => (t._2, t._3(v)))
            }
            graft.core.Fs.writeString(f"$dir/$ds-$cur%05d_${vNames(v)}.chi",
              chiBody(f"$ds-$cur%05d.tif", series), hc.value)
          }
        it.foreach { r =>
          val f = r.getInt(0)
          if (f != cur) { flush(); cur = f; buf.clear() }
          buf += ((r.getInt(1), r.getDouble(2),
            Array.tabulate(vNames.length)(v => r.getDouble(3 + v))))
        }
        flush()
      }
  }

  /** S11 — mask TIFF sink (reference pipeline.py:152-332 writes
    * `_base/_outliermask/_spots/_arcs.tif` per frame for the UI). One
    * single-band TIFF per (frame, mask), pixel value 1 where the mask
    * column is true. Same executor-side shape as [[writeChi]]: partition
    * on frame_no, each task densifies and encodes its own frames —
    * per-task memory is one frame's matrices, independent of batch size.
    *
    * Only SET pixels cross the exchange: the matrices start zeroed, so
    * rows where every mask is false carry no information — filtering
    * them map-side cuts the shuffle and the per-frame row iteration from
    * frame size to mask population (measured 8.3 M → ~10-100 k rows per
    * frame for spot/arc masks; was ~50 s/frame of boxed-Row iteration at
    * 2880², SCALE_r06.md). A per-frame sentinel row (y = -1, skipped by
    * the fill loop) keeps all-zero masks producing their files.
    */
  def writeMaskTiffs(pixels: DataFrame, width: Int, height: Int,
                     outDir: String,
                     masks: Seq[(String, org.apache.spark.sql.Column)],
                     dataset: String = "frame")
      : Unit = {
    import graft.core.Fs
    Fs.mkdirs(outDir, Fs.conf(pixels.sparkSession))
    val hc = Fs.onExecutors(pixels.sparkSession)
    val names = masks.map(_._1)
    val dir = outDir; val w = width; val h = height
    val ds = dataset
    val anySet = masks
      .map { case (_, c) => coalesce(c.cast("boolean"), lit(false)) }
      .reduce(_ || _)
    val set = pixels.where(anySet)
      .select(Seq(col("frame_no").cast("int").as("frame_no"),
        col("y").cast("int"), col("x").cast("int")) ++
        masks.map { case (n, c) => c.cast("boolean").as(s"m_$n") }: _*)
    val sentinels = pixels
      .select(col("frame_no").cast("int").as("frame_no")).distinct()
      .select(Seq(col("frame_no"), lit(-1).as("y"), lit(-1).as("x")) ++
        names.map(n => lit(false).as(s"m_$n")): _*)
    set.unionByName(sentinels)
      .repartition(col("frame_no"))
      .sortWithinPartitions(col("frame_no"))
      .foreachPartition { (it: Iterator[Row]) =>
        var cur = Int.MinValue
        var mats: Array[Array[Array[Int]]] = null
        def flush(): Unit = if (mats != null) {
          names.zipWithIndex.foreach { case (n, i) =>
            graft.core.Fs.write(f"$dir/$ds-$cur%05d_$n.tif",
              graft.sources.FrameSource.encodeTiff(mats(i)), hc.value)
          }
        }
        it.foreach { r =>
          val f = r.getInt(0)
          if (f != cur) {
            flush(); cur = f
            mats = Array.fill(names.length)(Array.ofDim[Int](h, w))
          }
          val y = r.getInt(1); val x = r.getInt(2)
          if (y >= 0) {
            var i = 0
            while (i < names.length) {
              if (!r.isNullAt(3 + i) && r.getBoolean(3 + i)) mats(i)(y)(x) = 1
              i += 1
            }
          }
        }
        flush()
      }
  }

  /** `.xye` legacy export codec (reference Export_xye pipeline.py:28-41):
    * a three-line block-comment header carrying the source name, then
    * x TAB y TAB esd rows. Rows without a per-point esd write a literal
    * `0` like the reference's `error=False` path. Pure codec — only
    * legacy tooling consumes it; chi/parquet are the production sinks.
    * Values print via Double.toString (shortest decimal, like Python's
    * repr for the magnitudes these files carry). */
  def xyeBody(sourceName: String,
              rows: Seq[(Double, Double, Option[Double])]): String = {
    val sb = new StringBuilder
    sb.append("/*\n# ").append(sourceName).append("\n*/\n")
    rows.foreach { case (x, y, e) =>
      sb.append(x).append('\t').append(y).append('\t')
        .append(e.map(_.toString).getOrElse("0")).append('\n')
    }
    sb.toString
  }

  /** S13 — CSV stats codec (reference pipeline.py:491-492 writes the
    * spot/grad stats tables as CSV for the UI). Parquet stays canonical;
    * this is the compatibility format. One header line, one dir per
    * table. */
  def writeCsv(df: DataFrame, outDir: String, name: String,
               partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("append").option("header", "true")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .csv(s"$outDir/$name")
  }

  /** Per-frame stats CSVs in the reference stats/ tree
    * (pipeline.py:491-492 dumps `<name>-<number>_spots_stats_df.csv` and
    * `_spots_stats_grad.csv` per frame via pandas to_csv). One CSV per
    * frame, pandas shape: header row with a leading empty index cell,
    * then 0-based index + values. Executor-side like [[writeChi]].
    *
    * `orderCols` fixes the row order (and therefore the 0-based index
    * column) inside each frame's file. The reference's pandas `to_csv`
    * preserves the stats dataframe's groupby order — its group key,
    * ascending — so callers pass that key (label / Qbin) to match the
    * reference files byte-wise; the default sorts on every data column,
    * which is deterministic but can index rows differently. */
  def writeFrameCsv(df: DataFrame, outDir: String, suffix: String,
                    dataset: String, allFrames: Seq[Int] = Nil,
                    orderCols: Seq[String] = Nil): Unit = {
    import graft.core.Fs
    Fs.mkdirs(outDir, Fs.conf(df.sparkSession))
    val hc = Fs.onExecutors(df.sparkSession)
    val cols = df.columns.filterNot(_ == "frame_no").toSeq
    val ord = if (orderCols.nonEmpty) orderCols else cols
    val dir = outDir; val ds = dataset; val sfx = suffix
    df.select(col("frame_no").cast("int") +: cols.map(col): _*)
      .repartition(col("frame_no"))
      .sortWithinPartitions(col("frame_no") +: ord.map(col): _*)
      .foreachPartition { (it: Iterator[Row]) =>
        var cur = Int.MinValue
        var sb: StringBuilder = null
        var idx = 0
        def flush(): Unit = if (sb != null)
          graft.core.Fs.writeString(f"$dir/$ds%s-$cur%05d$sfx%s.csv",
            sb.toString, hc.value)
        it.foreach { r =>
          val f = r.getInt(0)
          if (f != cur) {
            flush(); cur = f; idx = 0
            sb = new StringBuilder(
              cols.mkString(",", ",", "\n"))
          }
          sb.append(idx)
          var i = 1
          while (i <= cols.length) {
            sb.append(',')
            if (!r.isNullAt(i)) sb.append(r.get(i))
            i += 1
          }
          sb.append('\n')
          idx += 1
        }
        flush()
      }
    // frames with zero stat rows still get their header-only CSV, like
    // pandas to_csv of an empty table (a spotless frame is normal)
    allFrames.foreach { no =>
      val p = f"$dir/$ds%s-$no%05d$sfx%s.csv"
      if (!Fs.exists(p, hc.value))
        Fs.writeString(p, cols.mkString(",", ",", "\n"), hc.value)
    }
  }

  /** csim text sink: "%0.9f\t%0.9f" per frame (reference
    * pipeline.py:554-557). */
  def csimBody(vsFirst: Double, vsPrev: Double): String =
    f"$vsFirst%.9f\t$vsPrev%.9f"

  /** S15 — per-frame csim text files the reference UI plots
    * (pipeline.py:554-557 writes `stats/<name>-<number>_csim.txt`;
    * mainUI/csim.py:48-64 globs `<stem>*_csim.txt` and vstacks them).
    * Input: (dataset, frame_no, csim_first, csim_prev) rows. Executor-side
    * like [[writeChi]] — one tiny file per row, written by the task that
    * holds it. */
  def writeCsimTxt(series: DataFrame, outDir: String): Unit = {
    import graft.core.Fs
    Fs.mkdirs(outDir, Fs.conf(series.sparkSession))
    val hc = Fs.onExecutors(series.sparkSession)
    val dir = outDir
    series
      .select(col("dataset"), col("frame_no").cast("int"),
        col("csim_first"), col("csim_prev"))
      .foreachPartition { (it: Iterator[Row]) =>
        it.foreach { r =>
          Fs.writeString(
            f"$dir/${r.getString(0)}%s-${r.getInt(1)}%05d_csim.txt",
            csimBody(r.getDouble(2), r.getDouble(3)) + "\n", hc.value)
        }
      }
  }

  /** Per-calibration geometry map TIFFs — the reference's `maps/` tree
    * (cache_creation.py:66-84 saves float32 TIFFs of the five pixel maps;
    * the UI globs `_2thetamap.tif` under `maps/` for cursor readouts,
    * mainUI/main_image.py:239). Input is the [[graft.geometry.Geometry]]
    * table; each map densifies on an executor and writes one
    * single-strip float32 TIFF named `<stem>_<map>.tif`. Written once
    * per calibration — the maps are a function of geometry only. The
    * reference's `_predef`/`_flatfield` files are copies of user inputs,
    * not derived maps, so they are not re-emitted here.
    *
    * One exchange keyed on the map name: per-task memory is one float
    * frame (~33 MB at 2880²) per map that hashes to the task. */
  def writeMapTiffs(geometry: DataFrame, width: Int, height: Int,
                    outDir: String, stem: String): Unit = {
    import graft.core.Fs
    Fs.mkdirs(outDir, Fs.conf(geometry.sparkSession))
    val hc = Fs.onExecutors(geometry.sparkSession)
    val dir = outDir; val st = stem; val w = width; val h = height
    val maps = Seq("2thetamap" -> "tth", "azmmap" -> "azim",
      "pixelsampledistmap" -> "dist_sq", "polscalemap" -> "pol",
      "qmap" -> "q")
    geometry.select(col("y").cast("int"), col("x").cast("int"),
        explode(array(maps.map { case (n, c) =>
          struct(lit(n).as("m"), col(c).cast("float").as("v")) }: _*))
          .as("e"))
      .select(col("e.m").as("m"), col("y"), col("x"), col("e.v").as("v"))
      .repartition(col("m"))
      .foreachPartition { (it: Iterator[Row]) =>
        // a task may receive several maps (hash partitioning): bucket rows
        // into per-map matrices locally
        val mats = scala.collection.mutable.Map
          .empty[String, Array[Array[Float]]]
        it.foreach { r =>
          val mat = mats.getOrElseUpdate(r.getString(0),
            Array.ofDim[Float](h, w))
          mat(r.getInt(1))(r.getInt(2)) = r.getFloat(3)
        }
        mats.foreach { case (nm, mat) =>
          Fs.write(s"$dir/${st}_$nm.tif",
            graft.sources.FrameSource.encodeTiffFloat(mat), hc.value)
        }
      }
  }

  /** Q-bin-edges dimension table, once per dataset (reference S14:
    * `<dataset>_qbinedges.npy`, pipeline.py:493-497). */
  def writeQBinEdges(spark: org.apache.spark.sql.SparkSession,
                     cal: graft.core.Calibration, outDir: String,
                     dataset: String): Unit = {
    import spark.implicits._
    cal.qBinEdges.zipWithIndex
      .map { case (q, i) => (dataset, i, q) }.toSeq
      .toDF("dataset", "edge_idx", "q")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/q_bin_edges/dataset=$dataset")
  }
}
