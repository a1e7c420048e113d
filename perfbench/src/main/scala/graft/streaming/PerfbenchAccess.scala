package graft.streaming

import org.apache.spark.sql.DataFrame

/** The streaming pipeline's csim step is package-private; the benchmark's
  * layer pass calls it through here, so the traced step is the engine's
  * own code rather than a copy. */
object PerfbenchAccess {
  def writeCsimStateful(vecs: DataFrame, outDir: String, ds: String): Unit =
    StreamingPipeline.writeCsimStateful(vecs, outDir, ds)
}
