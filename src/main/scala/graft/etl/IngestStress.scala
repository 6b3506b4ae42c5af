package graft.etl

import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._

/** Ingest stress harness: synthesizes an N-page produtos source and runs
  * the full incremental step, timing the per-page commit path. Usage:
  *
  *   runMain graft.etl.IngestStress <pages> <recordsPerPage> <groupK>
  *
  * Each flush commits through `Pipeline.mergeInto`, the one commit
  * protocol: a versioned delta append, O(page) however large the table
  * grows, with the per-bucket compaction run on the commit path once a
  * bucket reaches its file threshold. The run prints the per-page commit
  * time, the table's file count (which that compaction bounds) and the
  * resolved-read time.
  */
object IngestStress {
  def main(args: Array[String]): Unit = {
    val pages = if (args.length > 0) args(0).toInt else 200
    val perPage = if (args.length > 1) args(1).toInt else 100
    val groupK = if (args.length > 2) args(2).toInt else 1

    val spark = graft.Sessions.local(8)

    val src = Files.createTempDirectory("stress-src").toString
    val tgt = Files.createTempDirectory("stress-tgt").toString
    Files.createDirectories(Paths.get(s"$src/produtos"))

    // synthesize page files in the Tiny envelope shape (FIXTURES.md §3.2)
    (1 to pages).foreach { p =>
      val itens = (1 to perPage).map { i =>
        val id = (p - 1) * perPage + i
        s"""{"produto":{"id":"$id","nome":"Produto $id","codigo":"SKU$id",
           |"preco":"${(id % 500)},90","preco_promocional":"",
           |"preco_custo":"${(id % 300)},10","data_criacao":"15/03/2024 10:22:01"}}"""
          .stripMargin.replace("\n", "")
      }.mkString(",")
      val env = s"""{"retorno":{"status":"OK","status_processamento":"3",
        |"pagina":$p,"numero_paginas":$pages,"produtos":[$itens]}}"""
        .stripMargin.replace("\n", "")
      Files.writeString(Paths.get(s"$src/produtos/page-$p.json"), env): Unit
    }

    val store = new graft.state.StateStore(s"$tgt/_state")
    val table = s"$tgt/produtos"
    val gc = new GroupCommit(spark, s"$tgt/_staging/produtos", groupK, "id",
      batch => Pipeline.mergeInto(spark, table,
        batch.selectExpr("cast(id as int) as id_produto",
          "nome as nome_produto", "codigo as codigo_produto"),
        Seq("id_produto")))
    gc.recover()
    val t0 = System.nanoTime()
    val outcome = IncrementalStep.run(
      store, "produtos",
      Pipeline.filePageFetcher(spark, s"$src/produtos", "produtos",
        "produto", Pipeline.produtoSchema),
      gc.stage, Instant.now())
    gc.flush(): Unit
    val sec = (System.nanoTime() - t0) / 1e9

    val s = Files.walk(Paths.get(table))
    val files = try s.iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")) finally s.close()
    val r0 = System.nanoTime()
    val rows = Pipeline.readTable(spark, table).count()
    println(f"[stress] pages=$pages perPage=$perPage groupK=$groupK " +
      f"outcome=$outcome rows=$rows total=${sec}%.1fs " +
      f"perPage=${sec / pages}%.3fs files=$files " +
      f"read=${(System.nanoTime() - r0) / 1e9}%.2fs")
    spark.stop()
  }
}
