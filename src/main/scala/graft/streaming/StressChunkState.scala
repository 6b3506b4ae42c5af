package graft.streaming

import java.nio.file.{Files, Paths}

/** Forked-JVM worker for the bucketed chunk-state kill test (r8): runs
  * the pre-staged batches under `inDir/batch-<i>` through
  * `chunkDedupBatchBucketed` in order, writing a `done-<i>` marker
  * after each completed batch and SKIPPING already-marked batches — so
  * a parent can kill it mid-prune and fork a fresh worker to resume
  * exactly like a restarted streaming driver replaying from its
  * checkpoint. Lives in this package for access to the
  * private[streaming] batch function.
  *
  * args: inDir outPath statePath nBatches delayMs
  */
object StressChunkState {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outPath, statePath, nBatches, delayMs) = args
    val spark = graft.Sessions.local(2)
    (0 until nBatches.toInt).foreach { i =>
      val marker = Paths.get(inDir, s"done-$i")
      if (!Files.exists(marker)) {
        val batch = spark.read.parquet(s"$inDir/batch-$i")
        StreamingIngest.chunkDedupBatchBucketed(spark, outPath, statePath,
          batch, delayMs.toLong, numBuckets = 4)
        Files.writeString(marker, "ok\n"): Unit
      }
    }
    spark.stop()
  }
}
