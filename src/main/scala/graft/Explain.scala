package graft

/** Plan inspector: prints the formatted physical plan of selected queries —
  * `sbt "runMain graft.Explain <sfDir> [query ...]"`. Used to audit
  * pushdown (PushedFilters), pruning (ReadSchema), join strategies and
  * WholeStageCodegen spans per SURVEY.md §4.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.benchQueries
    val spark = Sessions.local()
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
