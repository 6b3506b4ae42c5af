package graft.etl

import java.nio.file.{Files, Paths}
import java.time.Instant

/** Ingest stress harness: synthesizes an N-page produtos source and runs
  * the full incremental step, timing the per-page commit path. Usage:
  *
  *   runMain graft.etl.IngestStress <pages> <recordsPerPage> <groupK> [mode]
  *
  * mode `merge` (default): per-flush bucket REWRITE (PartitionedMerge
  * .mergeInto) — commit cost grows with bucket size as the table grows.
  * mode `append`: per-flush delta APPEND (PartitionedMerge.appendInto) —
  * commit cost O(page) forever; files accumulate until the per-bucket
  * compaction runs, so this mode also measures read cost before/after
  * compact and the file counts it bounds (PERFORMANCE.md round-3 table).
  *
  * Round-1 finding (PERFORMANCE.md): plain merge-by-union rewrites the
  * whole table per page — O(P²) rows over a P-page run. Round 2 bounds it
  * with PartitionedMerge (touched buckets only) + GroupCommit (merge every
  * K pages); this main exists to measure that claim.
  */
object IngestStress {
  def main(args: Array[String]): Unit = {
    val pages = if (args.length > 0) args(0).toInt else 200
    val perPage = if (args.length > 1) args(1).toInt else 100
    val groupK = if (args.length > 2) args(2).toInt else 1
    val mode = if (args.length > 3) args(3) else "merge"

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
    def mapped(batch: org.apache.spark.sql.DataFrame) =
      batch.selectExpr("cast(id as int) as id_produto",
        "nome as nome_produto", "codigo as codigo_produto")
    val commit: org.apache.spark.sql.DataFrame => Long =
      if (mode == "append")
        batch => PartitionedMerge.appendInto(
          spark, table, mapped(batch), Seq("id_produto"), Pipeline.TableBuckets)
      else
        batch => Pipeline.mergeInto(spark, table, mapped(batch),
          Seq("id_produto"))
    val gc = new GroupCommit(spark, s"$tgt/_staging/produtos", groupK, "id",
      commit)
    gc.recover()
    val t0 = System.nanoTime()
    val outcome = IncrementalStep.run(
      store, "produtos",
      Pipeline.filePageFetcher(spark, s"$src/produtos", "produtos",
        "produto", Pipeline.produtoSchema),
      gc.stage, Instant.now())
    gc.flush(): Unit
    val sec = (System.nanoTime() - t0) / 1e9

    def countFiles(): Long = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(Paths.get(table))
      try s.iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    def timedRead(): (Long, Double) = {
      val r0 = System.nanoTime()
      val n =
        if (mode == "append")
          PartitionedMerge.readResolved(spark, table, Seq("id_produto")).count()
        else Pipeline.readTable(spark, table).count()
      (n, (System.nanoTime() - r0) / 1e9)
    }
    val files0 = countFiles()
    val (rows, read0) = timedRead()
    println(f"[stress] mode=$mode pages=$pages perPage=$perPage " +
      f"groupK=$groupK outcome=$outcome rows=$rows total=${sec}%.1fs " +
      f"perPage=${sec / pages}%.3fs files=$files0 read=${read0}%.2fs")
    if (mode == "append") {
      val c0 = System.nanoTime()
      val compacted = PartitionedMerge.compact(spark, table, Seq("id_produto"))
      val csec = (System.nanoTime() - c0) / 1e9
      val (rows2, read1) = timedRead()
      println(f"[stress] compact buckets=${compacted.size} " +
        f"filesBefore=$files0 filesAfter=${countFiles()} " +
        f"compact=${csec}%.1fs readAfter=${read1}%.2fs rowsAfter=$rows2")
    }
    spark.stop()
  }
}
