package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Optimization-round measurement harness (guide §1): for each named
  * registry query, capture — under the SAME session config as Bench —
  * the min-of-N wall time plus the listener-measured job / stage / task
  * counts, total task time, and shuffle bytes, and optionally dump the
  * `.explain("formatted")` plan to `<planDir>/<query>_<tag>.txt`. One
  * JSON line per query on stdout.
  *
  * Usage: runMain graft.tools.PerfProbe <sfDir> <planDir|-> <tag> <query…>
  *        (planDir "-" skips the plan dump; query "ALL" = all three
  *        bench tiers)
  *
  * Driver-side diagnostics only; the engine never calls this.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PerfProbe <sfDir> <planDir|-> <tag> <query …>")
    val sfDir = args(0)
    val planDir = args(1)
    val tag = args(2)
    val names0 = args.drop(3).toSeq
    val spark = graft.Sessions.local()
    val names =
      if (names0 == Seq("ALL"))
        (graft.SparkEntry.benchQueries ++ graft.SparkEntry.heavyQueries ++
          graft.SparkEntry.freshQueries).distinct
      else names0

    @volatile var shufWrite = 0L
    @volatile var shufRead = 0L
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var taskMs = 0L
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shufWrite += m.shuffleWriteMetrics.bytesWritten
          shufRead += m.shuffleReadMetrics.totalBytesRead
          taskMs += m.executorRunTime
        }
        tasks += 1L
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1L
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages += 1L
    }
    spark.sparkContext.addSparkListener(listener)
    if (planDir != "-") Files.createDirectories(Paths.get(planDir))

    // listener events are async; a FIXED sleep let task-end events
    // arriving later than the window bleed into the next repeat's
    // counters (r20 advice). Poll the counters to quiescence instead:
    // done when two consecutive 100 ms snapshots are identical (cap 5 s).
    def drainListener(): Unit = {
      var prev = (-1L, -1L, -1L, -1L, -1L, -1L)
      var waited = 0
      while (waited < 5000 && {
        val cur = (jobs, stages, tasks, taskMs, shufRead, shufWrite)
        val changed = cur != prev
        prev = cur
        changed
      }) { Thread.sleep(100); waited += 100 }
    }

    val repeats = sys.env.get("SPARK_GRAFT_PROBE_REPEATS")
      .flatMap(_.trim.toIntOption).getOrElse(3).max(1)
    names.foreach { name =>
      val run = graft.SparkEntry.queries(name)
      if (planDir != "-") {
        val df = run(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(planDir, s"${name}_$tag.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
      }
      // warm-up: JIT, codegen caches, file footers (untimed, unmeasured)
      run(spark, sfDir).write.format("noop").mode("overwrite").save()
      drainListener() // late task-end events must not bleed into repeat 1
      val runs = (1 to repeats).map { _ =>
        shufWrite = 0L; shufRead = 0L; jobs = 0L
        stages = 0L; tasks = 0L; taskMs = 0L
        val t0 = System.nanoTime()
        run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        drainListener() // snapshot only once the bus has gone quiet
        (sec, jobs, stages, tasks, taskMs, shufRead, shufWrite)
      }
      val best = runs.minBy(_._1)
      println(f"""{"query":"$name","sec":${best._1}%.3f,""" +
        s""""jobs":${best._2},"stages":${best._3},"tasks":${best._4},""" +
        s""""task_ms":${best._5},"shuffle_read":${best._6},""" +
        s""""shuffle_write":${best._7},"sf_dir":"$sfDir","tag":"$tag"}""")
    }
    spark.stop()
  }
}
