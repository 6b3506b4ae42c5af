package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.etl.{IncrementalStep, Pipeline}

/** End-to-end pipeline test (SURVEY.md §5.4): full 4-step DAG over the JSON
  * fixtures → table contents + state assertions; second overlapping run →
  * idempotent upsert + watermark advance. */
class PipelineSpec extends SparkSpec {

  private def stageSource(): String = {
    val src = tmpDir("pipe-src")
    def cp(rel: String): Unit = {
      val to = Paths.get(src, rel)
      Files.createDirectories(to.getParent)
      Files.copy(Paths.get(resource(s"tinyapi/$rel")), to,
        StandardCopyOption.REPLACE_EXISTING)
    }
    cp("categorias.json")
    cp("produtos/page-1.json"); cp("produtos/page-2.json")
    cp("estoques/page-1.json")
    cp("pedidos/page-1.json")
    src
  }

  test("full DAG run loads all tables; re-run is idempotent and advances state") {
    val src = stageSource()
    val tgt = tmpDir("pipe-tgt")
    val now1 = Instant.parse("2024-06-15T08:00:00Z")

    val r1 = Pipeline.run(spark, src, tgt, now1)
    assert(r1.steps.forall(_.outcome.isInstanceOf[IncrementalStep.Completed]),
      r1.steps.toString)
    assert(r1.audit === Map(
      "categorias" -> 5L, "produtos" -> 3L, "produto_estoque_total" -> 2L,
      "produto_estoque_depositos" -> 3L, "pedidos" -> 1L,
      "pedido_itens" -> 2L))

    val depots = Pipeline.readTable(spark, s"$tgt/produto_estoque_depositos")
      .orderBy("id_produto", "nome_deposito").collect()
    assert(depots.map(r => (r.getInt(0), r.getString(1),
      r.getAs[Double]("saldo"))).toSeq
      === Seq((101, "Filial", 2.0), (101, "Matriz", 10.5),
              (102, "Matriz", 7.0)))

    // coercions landed: comma decimals became doubles, br dates parsed
    val prod = Pipeline.readTable(spark, s"$tgt/produtos")
      .orderBy("id_produto").collect()
    assert(prod(0).getAs[Double]("preco") === 49.90)
    assert(prod(2).getAs[Double]("preco") === 0.0) // "invalid" -> default
    assert(prod(0).getAs[java.sql.Timestamp]("data_criacao").toInstant
      === Instant.parse("2024-03-15T10:22:01Z"))

    val itens = Pipeline.readTable(spark, s"$tgt/pedido_itens")
      .orderBy("id_produto_tiny").collect()
    assert(itens.map(_.getAs[Double]("quantidade")).toSeq === Seq(2.0, 1.0))

    // second run later, overlapping data: idempotent, watermark advances
    val now2 = now1.plusSeconds(86400)
    val r2 = Pipeline.run(spark, src, tgt, now2)
    assert(r2.steps.forall(_.outcome.isInstanceOf[IncrementalStep.Completed]))
    assert(r2.audit === r1.audit) // same keys re-upserted, no duplicates

    val store = new graft.state.StateStore(s"$tgt/_state")
    assert(store.rawWatermark("produtos") === Some(now2)) // start-time semantics
    assert(store.rawWatermark("pedidos") === Some(now2))
    assert(store.getProgress("produtos").get.status
      === graft.state.StateStore.StatusDone)
  }

  test("group-commit run (K=3) produces the same tables as per-page (K=1)") {
    val src = stageSource()
    val now = Instant.parse("2024-06-15T08:00:00Z")
    val tgt1 = tmpDir("pipe-k1")
    val tgt3 = tmpDir("pipe-k3")
    val r1 = Pipeline.run(spark, src, tgt1, now, groupCommitPages = 1)
    val r3 = Pipeline.run(spark, src, tgt3, now, groupCommitPages = 3)
    assert(r3.steps.forall(_.outcome.isInstanceOf[IncrementalStep.Completed]))
    assert(r3.audit === r1.audit)
    for (tbl <- r1.audit.keys) {
      val a = Pipeline.readTable(spark, s"$tgt1/$tbl")
      val b = Pipeline.readTable(spark, s"$tgt3/$tbl")
      assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
        s"table $tbl differs between K=1 and K=3")
    }
    // no staged PAGES left behind after a completed run (the staging
    // root may persist since the r7 concurrent-flush fix — flush
    // deletes exactly the page dirs it merged)
    val stagingRoot = Paths.get(s"$tgt3/_staging/produtos")
    if (Files.exists(stagingRoot)) {
      val s = Files.list(stagingRoot)
      val left = try s.iterator().asScala
        .count(_.getFileName.toString.startsWith("p="))
      finally s.close()
      assert(left === 0)
    }
  }

  /** A one-page pedidos envelope: (order id, its items as
    * (id_produto, quantidade)). */
  private def pedidosPage(orders: Seq[(Int, Seq[(Int, String)])]): String = {
    val ps = orders.map { case (id, items) =>
      val its = items.map { case (prod, q) =>
        s"""{"item": {"id_produto": "$prod", "codigo": "C$prod", """ +
          s""""descricao": "d", "quantidade": "$q", "valor_unitario": "1,00"}}"""
      }.mkString(", ")
      s"""{"pedido": {"id": "$id", "numero": "$id", "data_pedido": """ +
        s""""01/04/2024", "nome": "C", "valor": "10,00", "id_vendedor": "7", """ +
        s""""nome_vendedor": "V", "situacao": "Aberto", """ +
        s""""codigo_rastreamento": "", "itens": [$its]}}"""
    }.mkString(", ")
    s"""{"retorno": {"status_processamento": "3", "status": "OK", "pagina": """ +
      s""""1", "numero_paginas": "1", "pedidos": [$ps]}}"""
  }

  test("refresh: an order dropped to zero items and an order that lost its " +
      "last item resolve to their new item sets") {
    val src = stageSource()
    val tgt = tmpDir("pipe-zero")
    val page = Paths.get(src, "pedidos", "page-1.json")
    val now = Instant.parse("2024-06-15T08:00:00Z")
    Files.writeString(page, pedidosPage(Seq(
      9001 -> Seq(101 -> "1,00", 102 -> "2,00"),
      9002 -> Seq(101 -> "3,00", 102 -> "4,00", 103 -> "5,00"),
      9003 -> Seq(103 -> "6,00"))))
    val r1 = Pipeline.run(spark, src, tgt, now)
    assert(r1.audit("pedidos") === 3L && r1.audit("pedido_itens") === 6L)
    // 9001 now has no items, 9002 lost its last one, 9003 is not in the
    // refresh and keeps its item
    Files.writeString(page, pedidosPage(Seq(
      9001 -> Seq(),
      9002 -> Seq(101 -> "3,00", 102 -> "4,00"))))
    val r2 = Pipeline.run(spark, src, tgt, now.plusSeconds(86400))
    assert(r2.steps.forall(_.outcome.isInstanceOf[IncrementalStep.Completed]),
      r2.steps.toString)
    def itens() = Pipeline.readTable(spark, s"$tgt/pedido_itens")
      .orderBy("id_pedido", "id_produto_tiny").collect()
      .map(r => (r.getAs[Int]("id_pedido"), r.getAs[Int]("id_produto_tiny"),
        r.getAs[Double]("quantidade"))).toSeq
    val want = Seq((9002, 101, 3.0), (9002, 102, 4.0), (9003, 103, 6.0))
    assert(itens() === want)
    assert(Pipeline.readTable(spark, s"$tgt/pedido_itens").columns.toSeq ===
      Seq("id_pedido", "id_produto_tiny", "codigo_produto", "quantidade",
        "valor_unitario_pedido"))
    assert(Pipeline.readTable(spark, s"$tgt/pedidos").count() === 3L)
    assert(r2.audit("pedidos") === 3L && r2.audit("pedido_itens") === 3L)
    // the same refresh again changes no resolved row
    val r3 = Pipeline.run(spark, src, tgt, now.plusSeconds(2 * 86400))
    assert(r3.audit === r2.audit)
    assert(itens() === want)
  }

  test("a failing step leaves the concurrent others complete, equal to a " +
      "clean run, with steps in DAG order") {
    val now = Instant.parse("2024-06-15T08:00:00Z")
    val cleanTgt = tmpDir("pipe-clean")
    val clean = Pipeline.run(spark, stageSource(), cleanTgt, now)
    def assertClean(tgt: String, tables: Iterable[String]): Unit =
      for (t <- tables) {
        val a = Pipeline.readTable(spark, s"$tgt/$t")
        val b = Pipeline.readTable(spark, s"$cleanTgt/$t")
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"$tgt: $t differs from the clean run")
      }
    // pedidos announces two pages but page 2 is missing: that step stops
    // with ERRO after committing page 1
    val src = stageSource()
    val page1 = Paths.get(src, "pedidos", "page-1.json")
    Files.writeString(page1, Files.readString(page1)
      .replace("\"numero_paginas\": \"1\"", "\"numero_paginas\": \"2\""))
    val tgt = tmpDir("pipe-fail")
    val r = Pipeline.run(spark, src, tgt, now)
    assert(r.steps.map(_.process) ===
      Seq("categorias", "produtos", "estoques", "pedidos"))
    assert(r.steps.take(3).forall(_.outcome.isInstanceOf[IncrementalStep.Completed]),
      r.steps.toString)
    assert(r.steps(3).outcome match {
      case IncrementalStep.Failed(2, reason) => reason.contains("page-2.json")
      case _ => false
    }, r.steps.toString)
    assert(r.audit === clean.audit) // page 1 holds every order
    assertClean(tgt, Seq("categorias", "produtos", "produto_estoque_total",
      "produto_estoque_depositos"))
    val store = new graft.state.StateStore(s"$tgt/_state")
    assert(store.getProgress("pedidos").map(p => (p.page, p.status)) ===
      Some((1, graft.state.StateStore.StatusError)))
    assert(store.rawWatermark("pedidos") === None)
    assert(store.rawWatermark("produtos") === Some(now))

    // a step that throws (malformed category tree) is isolated the same way
    val bad = stageSource()
    Files.writeString(Paths.get(bad, "categorias.json"), "{ \"retorno\": [")
    val tgtBad = tmpDir("pipe-throw")
    val rb = Pipeline.run(spark, bad, tgtBad, now)
    assert(rb.steps.head.outcome.isInstanceOf[IncrementalStep.Failed])
    assert(rb.steps.tail.forall(_.outcome.isInstanceOf[IncrementalStep.Completed]),
      rb.steps.toString)
    assert(rb.audit === clean.audit - "categorias")
    assertClean(tgtBad, rb.audit.keys)
  }

  /** Call site of every job started while registered: the SQL
    * execution's description when the job belongs to one (adaptive
    * execution submits stage jobs from its own threads), else the result
    * stage's name — `count at Pipeline.scala:239`. */
  private class JobSites extends SparkListener {
    private val execs = mutable.Map[Long, String]()
    private val started = mutable.ArrayBuffer[(Int, String)]()
    private val ended = mutable.Set[Int]()
    @volatile private var last = System.nanoTime()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        last = System.nanoTime(); execs(x.executionId) = x.description }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      last = System.nanoTime()
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => execs.get(id.toLong))
      started += e.jobId -> exec.getOrElse(
        e.stageInfos.maxBy(_.stageId).name)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      last = System.nanoTime(); ended += e.jobId }

    /** The sites of the jobs seen so far, once every started job has ended
      * and the (asynchronous) bus has been quiet for 300 ms. */
    def drain(): Seq[String] = {
      val deadline = System.nanoTime() + 30000000000L
      def quiet = synchronized(started.forall(j => ended(j._1)) &&
        System.nanoTime() - last > 300000000L)
      while (!quiet && System.nanoTime() < deadline) Thread.sleep(20)
      synchronized { val s = started.map(_._2).toSeq; started.clear(); s }
    }
  }

  test("job budget: state launches no Spark job; a re-run stays within its pin") {
    val src = stageSource()
    val tgt = tmpDir("pipe-jobs")
    val now = Instant.parse("2024-06-15T08:00:00Z")
    val sites = new JobSites
    spark.sparkContext.addSparkListener(sites)
    try {
      sites.drain()
      Pipeline.run(spark, src, tgt, now)
      val first = sites.drain()
      val r2 = Pipeline.run(spark, src, tgt, now.plusSeconds(86400))
      val second = sites.drain()
      assert(r2.steps.forall(_.outcome.isInstanceOf[IncrementalStep.Completed]))
      val state = (first ++ second).filter(_.contains("StateStore.scala"))
      assert(state.isEmpty, state.mkString("\n"))
      // Pinned job count of the second (incremental) run. Before the state
      // tables moved to the driver and each merge batch was evaluated once,
      // this run took 157 jobs (34 of them state reads and writes); with
      // the touched-bucket rewrite in place of versioned delta appends it
      // took 99; while the group-commit flush inferred the staged pages'
      // schema with a Spark job (mergeSchema) it took 50. The four steps
      // run concurrently, which adds no job. Re-pin only together with the
      // plan change that moves it.
      assert(second.size <= JobBudget,
        second.groupBy(identity).view.mapValues(_.size).toSeq
          .sortBy(-_._2).mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(sites)
  }

  private val JobBudget = 46
}
