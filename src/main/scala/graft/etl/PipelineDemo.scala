package graft.etl

import java.time.Instant

/** Runnable demo of the full ETL DAG over envelope fixtures:
  * `sbt "runMain graft.etl.PipelineDemo <sourceDir> <targetDir>"`.
  * Prints each step outcome, the audit counts, and the resulting state
  * tables — the library's end-to-end usage example.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val Array(sourceDir, targetDir) = args
    val spark = graft.Sessions.local()

    val report = Pipeline.run(spark, sourceDir, targetDir, Instant.now())
    report.steps.foreach(s => println(s"[step] ${s.process}: ${s.outcome}"))
    report.audit.toSeq.sortBy(_._1)
      .foreach { case (t, n) => println(s"[audit] $t: $n rows") }
    val store = new graft.state.StateStore(s"$targetDir/_state")
    Seq("produtos", "estoques", "pedidos").foreach { p =>
      println(s"[state] $p watermark=${store.rawWatermark(p)} " +
        s"progress=${store.getProgress(p)}")
    }
    spark.stop()
  }
}
