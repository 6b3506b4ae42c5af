package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Scale-curve probe (r13 verdict #4): run named registry queries
  * against a given SF dir and report wall time plus the listener-
  * measured shuffle volume — the two numbers the 100 TB posture
  * argument needs at more than one corpus size. One JSON line per
  * query on stdout:
  *   {"query":…,"sec":…,"shuffle_write_bytes":…,"shuffle_read_bytes":…}
  *
  * Usage: runMain graft.tools.ScaleProbe <sfDir> <query> [query …]
  *
  * Unlike Bench (min-of-N wall clock for round-over-round drift), this
  * is single-shot per query after an untimed warm-up of the session —
  * the object of interest is the RATIO between two fixture sizes on the
  * same box, where the shuffle byte counts are exact (task metrics) and
  * wall time is secondary. Driver-side diagnostics; the engine never
  * calls this.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleProbe <sfDir> <query> [query …]")
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = graft.Sessions.local()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    @volatile var shufWrite = 0L
    @volatile var shufRead = 0L
    @volatile var jobs = 0L
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shufWrite += m.shuffleWriteMetrics.bytesWritten
          shufRead += m.shuffleReadMetrics.totalBytesRead
        }
      }
      // job count per timed run — the within-run drift-adjudication
      // signal (a hidden driver-side action shows up here even when
      // wall time is inside the noise band)
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs += 1L
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val run = graft.SparkEntry.queries(name)
      // warm-up: JIT, codegen caches, file footers (untimed, unmeasured)
      run(spark, sfDir).write.format("noop").mode("overwrite").save()
      Thread.sleep(200) // drain late task-end events from the warm-up
      shufWrite = 0L; shufRead = 0L; jobs = 0L
      val t0 = System.nanoTime()
      run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // listener events are async; let them land
      println(f"""{"query":"$name","sec":$sec%.3f,""" +
        s""""shuffle_write_bytes":$shufWrite,""" +
        s""""shuffle_read_bytes":$shufRead,"jobs":$jobs,""" +
        s""""sf_dir":"$sfDir"}""")
    }
    spark.stop()
  }
}
