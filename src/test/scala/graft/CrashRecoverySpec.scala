package graft

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.etl.{GroupCommit, IncrementalStep, PartitionedMerge, Pipeline}
import graft.state.StateStore
import graft.util.Fs

/** Crash-consistency property: a paged run that fails at random pages and
  * resumes (ERRO → resume at saved+1, ref :194-196) must converge to the
  * SAME table as a clean run — across the full stack: IncrementalStep
  * resume, GroupCommit staging/recovery, PartitionedMerge upserts. */
class CrashRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val nPages = 9
  private def pageBatch(p: Int): DataFrame =
    // overlapping keys across pages: later pages must win
    (0 until 20).map { i =>
      val id = (p - 1) * 10 + i
      (id.toString, s"page${p}_row$i")
    }.toDF("id", "v")

  private def fetcher(failAt: Set[(Int, Int)], attempts: scala.collection.mutable.Map[Int, Int])
      : (Instant, Int) => Either[String, Option[IncrementalStep.FetchedPage]] =
    (_, page) => {
      val a = attempts.getOrElse(page, 0) + 1
      attempts(page) = a
      if (failAt.contains((page, a))) Left(s"injected failure p$page a$a")
      else if (page > nPages) Right(None)
      else Right(Some(IncrementalStep.FetchedPage(pageBatch(page), nPages)))
    }

  private def runToCompletion(root: String, failAt: Set[(Int, Int)]): Long = {
    val store = new StateStore(s"$root/_state")
    val attempts = scala.collection.mutable.Map[Int, Int]()
    val now = Instant.parse("2024-06-15T08:00:00Z")
    var outcome: IncrementalStep.Outcome = null
    var runs = 0
    while (!outcome.isInstanceOf[IncrementalStep.Completed] && runs < 20) {
      runs += 1
      val gc = new GroupCommit(spark, s"$root/_staging", 3, "id",
        b => PartitionedMerge.mergeInto(spark, s"$root/t", b, Seq("id"), 8))
      gc.recover()
      outcome = IncrementalStep.run(store, "proc",
        fetcher(failAt, attempts), gc.stage, now)
      gc.flush(): Unit
    }
    assert(outcome.isInstanceOf[IncrementalStep.Completed],
      s"never completed: $outcome")
    runs
  }

  private def table(root: String): Seq[(String, String)] =
    PartitionedMerge.read(spark, s"$root/t")
      .as[(String, String)].collect().sortBy(_._1).toSeq

  test("runs with injected page failures converge to the clean-run table") {
    val clean = tmpDir("crash-clean")
    assert(runToCompletion(clean, Set.empty) === 1)
    val expected = table(clean)
    assert(expected.nonEmpty)

    val rnd = new Random(99)
    for (trial <- 1 to 3) {
      // fail 2-4 random pages on their first attempt (occasionally the
      // same page twice: ERRO → resume → ERRO again → resume)
      val fails = (0 until 2 + rnd.nextInt(3)).flatMap { _ =>
        val p = 1 + rnd.nextInt(nPages)
        if (rnd.nextBoolean()) Seq((p, 1)) else Seq((p, 1), (p, 2))
      }.toSet
      val dir = tmpDir(s"crash-$trial")
      val runs = runToCompletion(dir, fails)
      assert(runs > 1, s"trial $trial: failures $fails did not interrupt")
      assert(table(dir) === expected, s"trial $trial diverged (fails=$fails)")
    }
  }

  // ---- the pedidos step's flush: two appends, then the page delete ----

  /** A decoded pedidos page: (order id, its items' product ids). */
  private def pedidosPage(dir: String, orders: Seq[(Int, Seq[Int])]): DataFrame = {
    val lines = orders.map { case (id, items) =>
      val its = items.map(p => s"""{"item": {"id_produto": "$p", """ +
        s""""codigo": "C$p", "quantidade": "$id,00", "valor_unitario": "1,00"}}""")
      s"""{"id": "$id", "numero": "$id", "valor": "$id,50", "nome": "C$id", """ +
        s""""itens": [${its.mkString(", ")}]}"""
    }
    Files.write(Paths.get(dir, "page.json"), lines.asJava)
    spark.read.schema(Pipeline.pedidoSchema).json(s"$dir/page.json")
  }

  private def pedidosTables(root: String): Seq[Seq[String]] =
    Seq("pedidos", "pedido_itens").map(t =>
      Pipeline.readTable(spark, s"$root/$t").collect().map(_.toString).sorted.toSeq)

  private class Killed extends RuntimeException("killed")

  test("pedidos flush killed between its appends or before the page " +
      "delete: recover converges to the clean run, and a re-run of the " +
      "batch changes no resolved row") {
    val base = pedidosPage(tmpDir("ped-base"),
      Seq(1 -> Seq(10, 11), 2 -> Seq(12), 3 -> Seq(13, 14)))
    // order 1 drops to zero items, 2 changes, 3 loses its last item, 4 is new
    val refresh = pedidosPage(tmpDir("ped-refresh"),
      Seq(1 -> Nil, 2 -> Seq(15), 3 -> Seq(13), 4 -> Seq(16, 17)))
    def load(root: String): Unit =
      Pipeline.commitPedidos(spark, root, base): Unit
    def gc(root: String, merge: DataFrame => Long) =
      new GroupCommit(spark, s"$root/_staging/pedidos", 1, "id", merge)
    def commit(root: String): DataFrame => Long =
      Pipeline.commitPedidos(spark, root, _)
    def staged(root: String): Int =
      Fs.list(Paths.get(s"$root/_staging/pedidos"))
        .count(_.getFileName.toString.startsWith("p="))

    val clean = tmpDir("ped-clean")
    load(clean)
    gc(clean, commit(clean)).stage(refresh)
    val expected = pedidosTables(clean)
    assert(expected(1).size === 4) // items of orders 2, 3 and 4

    // kill 1: the header append lands, the items append fails (its
    // version-number directory is unwritable), the page stays staged
    val k1 = tmpDir("ped-kill1")
    load(k1)
    val seqDir = Paths.get(k1, "pedido_itens", "_seq")
    val aside = Paths.get(k1, "seq-aside")
    Files.move(seqDir, aside)
    Files.createFile(seqDir)
    intercept[Exception](gc(k1, commit(k1)).stage(refresh))
    assert(Pipeline.readTable(spark, s"$k1/pedidos").count() === 4L)
    assert(staged(k1) === 1)
    Files.delete(seqDir)
    Files.move(aside, seqDir)
    gc(k1, commit(k1)).recover()

    // kill 2: both appends land, the process dies before the flush
    // deletes the staged page
    val k2 = tmpDir("ped-kill2")
    load(k2)
    intercept[Killed](gc(k2, b => { commit(k2)(b); throw new Killed })
      .stage(refresh))
    assert(staged(k2) === 1)
    gc(k2, commit(k2)).recover()

    for (root <- Seq(k1, k2)) {
      assert(pedidosTables(root) === expected, s"$root diverged from the clean run")
      assert(staged(root) === 0, s"$root: page left staged")
      // idempotence: the same batch committed again changes no resolved row
      commit(root)(refresh): Unit
      assert(pedidosTables(root) === expected, s"$root: re-run changed rows")
    }
  }
  // ---- crash and resume across the concurrent steps of Pipeline.run ----

  private val dagTableNames = Seq("categorias", "produtos",
    "produto_estoque_total", "produto_estoque_depositos", "pedidos",
    "pedido_itens")

  /** The golden Tiny-API source with pedidos spread over two pages. */
  private def dagSource(): String = {
    val src = tmpDir("dag-src")
    Seq("categorias.json", "produtos/page-1.json", "produtos/page-2.json",
      "estoques/page-1.json", "pedidos/page-1.json").foreach { rel =>
      val to = Paths.get(src, rel)
      Files.createDirectories(to.getParent)
      Files.copy(Paths.get(resource(s"tinyapi/$rel")), to)
    }
    val p1 = Paths.get(src, "pedidos", "page-1.json")
    val page1 = Files.readString(p1)
      .replace("\"numero_paginas\": \"1\"", "\"numero_paginas\": \"2\"")
    Files.writeString(p1, page1)
    Files.writeString(Paths.get(src, "pedidos", "page-2.json"), page1
      .replace("\"pagina\": \"1\"", "\"pagina\": \"2\"")
      .replace("\"id\": \"9001\"", "\"id\": \"9002\""))
    src
  }

  private def dagTables(root: String): Map[String, Seq[String]] =
    dagTableNames.map(t => t -> Pipeline.readTable(spark, s"$root/$t")
      .collect().map(_.toString).sorted.toSeq).toMap

  /** Watermarks and page checkpoints, without the filter string: a step
    * that completed before the re-run starts its next window at its new
    * watermark, so only the filter text differs from a single clean run. */
  private def dagState(root: String) = {
    val st = new StateStore(s"$root/_state")
    Seq("produtos", "estoques", "pedidos").map(p => (p, st.rawWatermark(p),
      st.getProgress(p).map(g => (g.page, g.totalPages, g.records, g.status))))
  }

  test("a pedidos page corrupted while the other steps run concurrently: " +
      "the re-run resumes to the clean run's tables and state, and a " +
      "further re-run changes no resolved row") {
    val now = Instant.parse("2024-06-15T08:00:00Z")
    def completed(r: Pipeline.RunReport) =
      r.steps.forall(_.outcome.isInstanceOf[IncrementalStep.Completed])
    val clean = tmpDir("dag-clean")
    val cleanRun = Pipeline.run(spark, dagSource(), clean, now)
    assert(completed(cleanRun), cleanRun.steps.toString)
    val expected = dagTables(clean)
    assert(expected("pedidos").size === 2)

    val src = dagSource()
    val page2 = Paths.get(src, "pedidos", "page-2.json")
    val good = Files.readString(page2)
    Files.writeString(page2, good.take(good.length / 2)) // torn page
    val tgt = tmpDir("dag-crash")
    val r1 = Pipeline.run(spark, src, tgt, now)
    assert(r1.steps.take(3).forall(_.outcome.isInstanceOf[IncrementalStep.Completed]),
      r1.steps.toString)
    assert(r1.steps(3).outcome match {
      case IncrementalStep.Failed(2, _) => true
      case _ => false
    }, r1.steps.toString)
    assert(new StateStore(s"$tgt/_state").getProgress("pedidos")
      .map(p => (p.page, p.status)) === Some((1, StateStore.StatusError)))

    Files.writeString(page2, good) // restore, re-run: pedidos resumes at page 2
    val r2 = Pipeline.run(spark, src, tgt, now)
    assert(completed(r2), r2.steps.toString)
    assert(r2.steps(3).outcome === IncrementalStep.Completed(1, 2L))
    assert(dagTables(tgt) === expected)
    assert(r2.audit === cleanRun.audit)
    assert(dagState(tgt) === dagState(clean))
    assert(Fs.list(Paths.get(s"$tgt/_staging/pedidos"))
      .count(_.getFileName.toString.startsWith("p=")) === 0)

    val r3 = Pipeline.run(spark, src, tgt, now.plusSeconds(86400))
    assert(completed(r3), r3.steps.toString)
    assert(dagTables(tgt) === expected, "the further re-run changed rows")
    assert(r3.audit === cleanRun.audit)
  }
}
