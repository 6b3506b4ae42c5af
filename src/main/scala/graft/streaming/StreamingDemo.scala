package graft.streaming

import graft.etl.Pipeline

/** Runnable demo of the streaming ingest path:
  * `sbt "runMain graft.streaming.StreamingDemo <pageDir> <targetTable> <checkpoint>"`.
  * Processes whatever envelope page files are in <pageDir> (AvailableNow),
  * upserting into <targetTable> (read back resolved); re-runs resume from
  * the checkpoint and only touch new files — the streaming twin of the s5
  * page checkpoint.
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val Array(pageDir, targetTable, checkpoint) = args
    val spark = graft.Sessions.local()

    val stream = StreamingIngest.pageStream(spark, pageDir, "produtos",
      "produto", Pipeline.produtoSchema)
    val q = StreamingIngest.incrementalSink(stream, spark, targetTable,
      Seq("id"), checkpoint).start()
    q.awaitTermination()
    val result = Pipeline.readTable(spark, targetTable)
    println(s"[stream] table rows: ${result.count()}")
    result.orderBy("id").select("id", "nome", "preco")
      .collect().foreach(r => println(s"[stream] ${r.mkString(" | ")}"))
    spark.stop()
  }
}
