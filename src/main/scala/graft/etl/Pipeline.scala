package graft.etl

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.state.StateStore
import graft.types.Coercions

/** s7_dag_order + per-entity loads (SURVEY.md §2.7/§3.1): the four-step DAG
  * categorias → produtos → estoques → pedidos (dimensions before facts,
  * ref tiny_api_v2_cliente.py:378-393; the steps are independent and run
  * concurrently, see `run`), each step independently failure-tolerant,
  * with the sink_audit_counts audit (ref :395-402).
  *
  * Source layout (the batch stand-in for the paginated REST API):
  *   sourceDir/categorias.json          — tree envelope (FIXTURES.md §3.1)
  *   sourceDir/<entity>/page-N.json     — one envelope per page (§3.2/3.4)
  * Target layout: targetDir/<table> parquet dirs, merged by natural key.
  */
object Pipeline {

  val produtoSchema: StructType = StructType.fromDDL(
    "id STRING, nome STRING, codigo STRING, preco STRING, " +
    "preco_promocional STRING, preco_custo STRING, preco_custo_medio STRING, " +
    "unidade STRING, situacao STRING, data_criacao STRING")

  val estoqueSchema: StructType = StructType.fromDDL(
    "id STRING, nome STRING, saldo STRING, saldoReservado STRING, " +
    "depositos ARRAY<STRUCT<deposito: STRUCT<nome: STRING, saldo: STRING, " +
    "desconsiderar: STRING, empresa: STRING>>>")

  val pedidoSchema: StructType = StructType.fromDDL(
    "id STRING, numero STRING, data_pedido STRING, nome STRING, " +
    "valor STRING, id_vendedor STRING, nome_vendedor STRING, " +
    "situacao STRING, codigo_rastreamento STRING, " +
    "itens ARRAY<STRUCT<item: STRUCT<id_produto: STRING, codigo: STRING, " +
    "descricao: STRING, quantidade: STRING, valor_unitario: STRING>>>")

  case class StepReport(process: String, outcome: IncrementalStep.Outcome)
  case class RunReport(steps: Seq[StepReport], audit: Map[String, Long])

  /** Target tables are bucket-partitioned on their natural key (parent key
    * for pedido_itens), and each commit appends a versioned delta file per
    * touched bucket (PartitionedMerge). Small ERP-scale bucket count; at
    * 100 TB raise it so a bucket stays executor-memory-sized. */
  val TableBuckets = 16

  /** Upsert a page batch into a bucket-partitioned parquet table by natural
    * key, as one versioned delta append. Applies additive schema evolution
    * on the way in — the load-time analog of the reference's
    * `ADD COLUMN IF NOT EXISTS` migration (ref :93,:97-99). */
  def mergeInto(spark: SparkSession, path: String, updates: DataFrame,
                keys: Seq[String]): Long =
    PartitionedMerge.mergeInto(spark, path, updates, keys, TableBuckets)

  /** Read a target table resolved to the newest version of every key, with
    * the engine-internal bucket and version columns dropped. The stored
    * files hold every committed version: read them only through here. */
  def readTable(spark: SparkSession, path: String): DataFrame =
    PartitionedMerge.read(spark, path)

  /** The pedidos step's commit of one flushed batch: the headers are
    * upserted into `pedidos`, then their items become the orders' new
    * child sets in `pedido_itens` (FK CASCADE analog), bucketed and
    * resolved on the PARENT key. Both appends read the batch: it is pinned
    * once. Returns the header count. */
  def commitPedidos(spark: SparkSession, targetDir: String,
                    staged: DataFrame): Long = {
    val batch = staged.localCheckpoint()
    val headers = batch.select(col("id").cast("int").as("id_pedido"),
      col("numero").as("numero_pedido"),
      col("data_pedido"),
      col("nome").as("nome_cliente"),
      Coercions.coerceBrFloat(col("valor")).as("valor_pedido"),
      col("nome_vendedor"), col("situacao").as("situacao_pedido"))
    val n = mergeInto(spark, s"$targetDir/pedidos", headers, Seq("id_pedido"))
    val items = batch
      .select(col("id").cast("int").as("id_pedido"),
        explode(col("itens")).as("it"))
      .select(col("id_pedido"),
        col("it.item.id_produto").cast("int").as("id_produto_tiny"),
        col("it.item.codigo").as("codigo_produto"),
        Coercions.coerceBrFloat(col("it.item.quantidade")).as("quantidade"),
        Coercions.coerceBrFloat(col("it.item.valor_unitario"))
          .as("valor_unitario_pedido"))
    PartitionedMerge.replaceChildren(spark, s"$targetDir/pedido_itens",
      items, headers.select("id_pedido"), "id_pedido", TableBuckets)
    n
  }

  /** Page fetcher over page-N.json envelope files. Missing page-1 file ⇒
    * empty result; envelope errors run through RetryPolicy exactly like
    * the reference's request loop (codigo 35 retries with backoff, codigo
    * 2 and 4xx-class errors abort immediately). `sleeper` is injectable —
    * file-backed sources pass a no-op since a file won't change between
    * retries; a network client keeps the real sleep. */
  private[etl] def filePageFetcher(spark: SparkSession, dir: String,
      entityField: String, itemWrapper: String, itemSchema: StructType,
      sleeper: Int => Unit = _ => ())
      : (Instant, Int) => Either[String, Option[IncrementalStep.FetchedPage]] =
    (_, page) => {
      val path = s"$dir/page-$page.json"
      if (!Files.exists(Paths.get(path))) {
        if (page == 1) Right(None)
        else Left(s"missing page file $path")
      } else {
        RetryPolicy.retrying[Option[IncrementalStep.FetchedPage]](
          _ => {
            val raw = EnvelopeReader.readRaw(spark, path, entityField,
              itemWrapper, itemSchema)
            EnvelopeReader.classify(raw) match {
              case EnvelopeReader.PageOk(total) =>
                Right(Some(IncrementalStep.FetchedPage(
                  EnvelopeReader.entities(raw, entityField, itemWrapper),
                  total)))
              case EnvelopeReader.PageEmpty => Right(None)
              case e: EnvelopeReader.PageError =>
                Left(
                  if (e.retryable) RetryPolicy.ApiCodigo("35")
                  else if (e.fatal) RetryPolicy.ApiCodigo("2")
                  else RetryPolicy.Http(400))
            }
          }, sleeper)
          .left.map(f => s"page $page failed after retry policy: $f")
      }
    }

  /** Full DAG run: the four steps run concurrently, one driver thread per
    * step, and `run` returns when all four have.
    *
    * Why that is safe: no step reads another step's table, every step
    * writes only its own tables and its own `_staging/<process>`
    * directory, and the only cross-table link, `pedido_itens.id_produto_tiny
    * → produtos`, is a soft FK with no constraint (SURVEY.md §1), so the
    * order in which the steps commit changes no table. The steps share the
    * two state tables, whose upserts `StateStore` serializes under a lock.
    * Why it pays: a refresh is many small Spark jobs with driver planning
    * between them; while one step plans, another's jobs use the cores.
    *
    * Each step catches its own failure (ref :378-393 wraps every PASSO in
    * try/except and continues): an exception becomes its `Failed` outcome
    * and never cancels the other steps. When its step returns, each thread
    * counts the step's tables for the audit (ref :395-402), so the
    * resolved-table counts overlap with the other steps' work too.
    * `RunReport.steps` stays in DAG order (categorias → produtos → estoques
    * → pedidos, ref :378-393). An exception outside a step (an audit
    * count) is rethrown once every step has finished; the pool is shut
    * down before `run` returns or throws.
    *
    * `groupCommitPages` = K in the GroupCommit staging scheme: pages stay
    * durable per page, merges run every K pages (K=1 ⇒ the reference's
    * literal per-page commit). */
  def run(spark: SparkSession, sourceDir: String, targetDir: String,
          now: Instant, groupCommitPages: Int = 1): RunReport = {
    val store = new StateStore(s"$targetDir/_state")
    Files.createDirectories(Paths.get(targetDir))

    // group-commit wrapper: stage raw pages durably, merge every K pages;
    // raw envelope records key on "id", later pages win per key — the
    // exact outcome replaying the per-page upserts would produce
    def grouped(process: String)(load: DataFrame => Long)
        (body: (DataFrame => Long) => IncrementalStep.Outcome)
        : IncrementalStep.Outcome = {
      val gc = new GroupCommit(spark, s"$targetDir/_staging/$process",
        groupCommitPages, "id", load)
      gc.recover() // pages staged by a crashed/aborted previous run
      val outcome = body(gc.stage)
      gc.flush(): Unit
      outcome
    }

    // PASSO 1: categorias — full tree refresh (ref :379)
    def categorias(): IncrementalStep.Outcome =
      try {
        val cats = TreeFlatten
          .flattenCategoryTree(spark, s"$sourceDir/categorias.json")
        IncrementalStep.Completed(1, mergeInto(spark,
          s"$targetDir/categorias", cats, Seq("id_categoria")))
      } catch {
        case e: Exception => IncrementalStep.Failed(1, e.getMessage)
      }

    // PASSO 2: produtos (ref :384) — incremental, 60 d window
    def produtos(): IncrementalStep.Outcome = grouped("produtos")(batch =>
      mergeInto(spark, s"$targetDir/produtos",
        batch.select(col("id").cast("int").as("id_produto"),
          col("nome").as("nome_produto"),
          col("codigo").as("codigo_produto"),
          Coercions.coerceBrFloat(col("preco")).as("preco"),
          Coercions.coerceBrFloat(col("preco_promocional"))
            .as("preco_promocional"),
          Coercions.coerceBrFloat(col("preco_custo")).as("preco_custo"),
          Coercions.parseBrDate(col("data_criacao")).as("data_criacao")),
        Seq("id_produto"))) { sink =>
      IncrementalStep.run(
        store, "produtos",
        filePageFetcher(spark, s"$sourceDir/produtos", "produtos", "produto",
          produtoSchema),
        sink, now)
    }

    // PASSO 3: estoques (ref :388) — fixed 29 d window, no watermark read
    // the batch feeds two merges: pinned, so the staging read and the
    // flush's dedupe run once
    def estoques(): IncrementalStep.Outcome = grouped("estoques")(staged => {
      val batch = staged.localCheckpoint()
      val n = mergeInto(spark, s"$targetDir/produto_estoque_total",
        batch.select(col("id").cast("int").as("id_produto"),
          Coercions.coerceBrFloat(col("saldo")).as("saldo_total_api"),
          Coercions.coerceBrFloat(col("saldoReservado"))
            .as("saldo_reservado_api")),
        Seq("id_produto"))
      // j2 1:N fan-out: per-depot rows, natural key
      // (id_produto, nome_deposito) — the reference's UNIQUE (ref :87)
      mergeInto(spark, s"$targetDir/produto_estoque_depositos",
        batch.select(col("id").cast("int").as("id_produto"),
            explode(col("depositos")).as("dep"))
          .select(col("id_produto"),
            col("dep.deposito.nome").as("nome_deposito"),
            Coercions.coerceBrFloat(col("dep.deposito.saldo")).as("saldo"),
            col("dep.deposito.desconsiderar").as("desconsiderar_deposito"),
            col("dep.deposito.empresa").as("empresa")),
        Seq("id_produto", "nome_deposito"))
      n
    }) { sink =>
      IncrementalStep.run(
        store, "estoques",
        filePageFetcher(spark, s"$sourceDir/estoques", "produtos", "produto",
          estoqueSchema),
        sink, now, fixedWindowDays = Some(29))
    }

    // PASSO 4: pedidos + fan-out itens (ref :392; header-detail j1)
    def pedidos(): IncrementalStep.Outcome = grouped("pedidos")(
        commitPedidos(spark, targetDir, _)) { sink =>
      IncrementalStep.run(
        store, "pedidos",
        filePageFetcher(spark, s"$sourceDir/pedidos", "pedidos", "pedido",
          pedidoSchema),
        sink, now)
    }

    // (process, its body, the tables it loads), in DAG order
    val dag: Seq[(String, () => IncrementalStep.Outcome, Seq[String])] = Seq(
      ("categorias", () => categorias(), Seq("categorias")),
      ("produtos", () => produtos(), Seq("produtos")),
      ("estoques", () => estoques(),
        Seq("produto_estoque_total", "produto_estoque_depositos")),
      ("pedidos", () => pedidos(), Seq("pedidos", "pedido_itens")))

    val pool = Executors.newFixedThreadPool(dag.size)
    val done = try {
      pool.invokeAll(dag.map { case (process, body, tables) =>
        (() => {
          // failure isolation per PASSO (ref :378-393): an uncaught
          // exception is the step's Failed outcome, the others go on
          val outcome =
            try body()
            catch { case e: Exception =>
              IncrementalStep.Failed(-1, s"uncaught: ${e.getMessage}") }
          // audit: COUNT(*) per loaded table over its resolved rows
          // (ref :395-402), whatever the step's outcome
          val counts = tables.map(t => t -> s"$targetDir/$t")
            .filter { case (_, p) => Files.exists(Paths.get(p)) }
            .map { case (t, p) => t -> readTable(spark, p).count() }
          (StepReport(process, outcome), counts)
        }): Callable[(StepReport, Seq[(String, Long)])]
      }.asJava).asScala.toSeq
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS): Unit
    }
    val results =
      done.map(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
    RunReport(results.map(_._1), results.flatMap(_._2).toMap)
  }
}
