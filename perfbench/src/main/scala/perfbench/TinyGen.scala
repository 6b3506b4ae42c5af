package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.util.Random

/** Seeded Tiny-API source generator (FIXTURES.md §3).
  *
  * Turns fixture rows (`part`, `orders`, `lineitem`) into the envelope page
  * files `Pipeline.run` reads, and keeps its own plain-Scala model of what
  * the target tables must hold afterwards. The model never goes through
  * `Coercions` or Spark: it parses the Brazilian number and date formats it
  * wrote itself, so a coercion or merge bug in the program shows up as a
  * fingerprint mismatch. Everything depends only on the fixture and the
  * seed: collections are ordered, and every random draw comes from a
  * `Random` seeded from (seed, purpose, run).
  */
object TinyGen {

  final case class Part(key: Long, name: String, retailPrice: Double)
  final case class Order(key: Long, custKey: Long, totalPrice: Double,
                         date: LocalDate)
  final case class Line(orderKey: Long, partKey: Long, quantity: Double,
                        extendedPrice: Double)
  final case class Fixture(parts: IndexedSeq[Part], orders: IndexedSeq[Order],
                           lines: Map[Long, IndexedSeq[Line]])

  final case class Categoria(id: Int, descricao: String,
                             nodes: Seq[Categoria])
  final case class Produto(id: Long, nome: String, codigo: String,
                           preco: String, promo: String, custo: String,
                           criacao: String)
  final case class Deposito(nome: String, saldo: String,
                            desconsiderar: String, empresa: String)
  final case class Estoque(id: Long, nome: String, saldo: String,
                           reservado: String, depositos: Seq[Deposito])
  final case class Item(idProduto: Long, codigo: String, descricao: String,
                        quantidade: String, valorUnitario: String)
  final case class Pedido(id: Long, numero: String, data: String,
                          nome: String, valor: String, idVendedor: String,
                          vendedor: String, situacao: String,
                          rastreio: String, itens: Seq[Item])

  /** One source snapshot: what the API would return for one run. */
  final case class Source(categorias: Seq[Categoria], produtos: Seq[Produto],
                          estoques: Seq[Estoque], pedidos: Seq[Pedido])

  /** API page size (records per envelope page). */
  val PageSize = 100

  private val Depots = IndexedSeq("Matriz", "Filial Norte", "Filial Sul")
  private val Situacoes = IndexedSeq("Aberto", "Aprovado", "Faturado",
    "Enviado", "Entregue", "Cancelado")
  private val BrDateTime = DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm:ss")
  private val BrDate = DateTimeFormatter.ofPattern("dd/MM/yyyy")

  private def rng(seed: Long, purpose: Int, run: Int): Random =
    new Random(seed * 1000003L + purpose * 7919L + run)

  /** Brazilian decimal text with two places: 1234.5 → "1234,50". */
  def br(v: Double): String = {
    val cents = math.round(v * 100)
    val sign = if (cents < 0) "-" else ""
    val a = math.abs(cents)
    f"$sign${a / 100}%d,${a % 100}%02d"
  }

  private def cents(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  // ---- entity builders ------------------------------------------------

  def tree(seed: Long, run: Int, nodes: Int): Seq[Categoria] = {
    val r = rng(seed, 1, run)
    // node i >= roots hangs under a random earlier node less than 4 levels
    // deep, well inside TreeFlatten's depth bound
    val roots = 4
    val parent = Array.fill(nodes)(-1)
    val depth = Array.fill(nodes)(0)
    (roots until nodes).foreach { i =>
      val shallow = (0 until i).filter(depth(_) < 4)
      parent(i) = shallow(r.nextInt(shallow.size))
      depth(i) = depth(parent(i)) + 1
    }
    val name = (0 until nodes).map(i => s"Categoria ${i + 1}-${r.nextInt(90) + 10}")
    def build(i: Int): Categoria =
      Categoria(i + 1, name(i),
        (0 until nodes).filter(parent(_) == i).map(build))
    (0 until roots).map(build)
  }

  def produto(p: Part, r: Random): Produto = {
    val preco = cents(r, 0.8, 1.2) * p.retailPrice
    Produto(p.key, p.name, s"SKU-${p.key}", br(preco),
      if (r.nextInt(4) == 0) br(preco * 0.9) else "",
      br(preco * 0.6),
      LocalDateTime.of(2020 + r.nextInt(4), 1 + r.nextInt(12),
        1 + r.nextInt(28), r.nextInt(24), r.nextInt(60), r.nextInt(60))
        .format(BrDateTime))
  }

  def estoque(p: Part, r: Random): Estoque = {
    val deps = r.shuffle(Depots).take(1 + r.nextInt(3)).map { d =>
      Deposito(d, br(cents(r, 0, 500)), if (r.nextInt(5) == 0) "S" else "N",
        s"Loja${1 + r.nextInt(3)}")
    }
    val total = deps.map(d => parseBr(d.saldo)).sum
    Estoque(p.key, p.name, br(total), br(cents(r, 0, 20)), deps)
  }

  def pedido(o: Order, lines: Seq[Line], r: Random): Pedido = {
    val vend = 1 + r.nextInt(12)
    Pedido(o.key, s"${o.key}", o.date.format(BrDate), s"Cliente ${o.custKey}",
      br(o.totalPrice), s"$vend", s"Vendedor $vend",
      Situacoes(r.nextInt(Situacoes.size)), s"BR${r.nextInt(1000000)}",
      lines.map(l => Item(l.partKey, s"SKU-${l.partKey}", s"Item ${l.partKey}",
        br(l.quantity), br(l.extendedPrice / math.max(l.quantity, 1.0)))))
  }

  // ---- workload sources -------------------------------------------------

  /** Preload source: every part and order of `fx`. */
  def full(fx: Fixture, seed: Long): Source = {
    val r = rng(seed, 3, 0)
    Source(tree(seed, 0, 60), fx.parts.map(produto(_, r)),
      fx.parts.map(estoque(_, r)),
      fx.orders.map(o => pedido(o, fx.lines.getOrElse(o.key, IndexedSeq()), r)))
  }

  /** Incremental delta `run` (1-based): about `changedShare` of the parts
    * and orders of `fx` change, plus 5 new parts and 20 new orders keyed
    * above `fx`'s range. New orders reference parts of `fx`. */
  def delta(fx: Fixture, seed: Long, run: Int, changedShare: Double): Source = {
    val r = rng(seed, 4, run)
    def pick[A](xs: IndexedSeq[A]): IndexedSeq[A] =
      r.shuffle(xs).take(math.max(1, (xs.size * changedShare).round.toInt))
    val maxPart = fx.parts.map(_.key).max
    val maxOrder = fx.orders.map(_.key).max
    val newParts = (1 to 5).map { i =>
      val k = maxPart + (run - 1) * 5 + i
      Part(k, s"novo produto $k", cents(r, 10, 2000))
    }
    val parts = (pick(fx.parts) ++ newParts).sortBy(_.key)
    val newOrders = (1 to 20).map { i =>
      val k = maxOrder + (run - 1) * 20 + i
      val ls = (1 to 1 + r.nextInt(7)).map { _ =>
        val p = fx.parts(r.nextInt(fx.parts.size))
        val q = (1 + r.nextInt(50)).toDouble
        Line(k, p.key, q, cents(r, 0.9, 1.1) * q * p.retailPrice)
      }
      Order(k, 1 + r.nextInt(1000), ls.map(_.extendedPrice).sum,
        LocalDate.of(2024, 6, 1).plusDays(run.toLong)) -> ls
    }
    val changed = pick(fx.orders).map { o =>
      val ls = fx.lines.getOrElse(o.key, IndexedSeq())
      // a changed order drops its last item or changes quantities
      val ls2 =
        if (ls.size > 1 && r.nextBoolean()) ls.init
        else ls.map(l => l.copy(quantity = l.quantity + 1))
      o.copy(totalPrice = o.totalPrice * cents(r, 0.9, 1.1)) -> ls2
    }
    val orders = (changed ++ newOrders).sortBy(_._1.key)
    Source(tree(seed, run, 60), parts.map(produto(_, r)),
      parts.map(estoque(_, r)), orders.map { case (o, ls) => pedido(o, ls, r) })
  }

  // ---- page files -------------------------------------------------------

  private def q(s: String): String = Json.str(s)

  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private def catJson(c: Categoria): String =
    obj("id" -> q(c.id.toString), "descricao" -> q(c.descricao),
      "nodes" -> c.nodes.map(catJson).mkString("[", ",", "]"))

  def produtoJson(p: Produto): String =
    obj("produto" -> obj("id" -> q(p.id.toString), "nome" -> q(p.nome),
      "codigo" -> q(p.codigo), "preco" -> q(p.preco),
      "preco_promocional" -> q(p.promo), "preco_custo" -> q(p.custo),
      "unidade" -> q("UN"), "situacao" -> q("A"),
      "data_criacao" -> q(p.criacao)))

  def estoqueJson(e: Estoque): String =
    obj("produto" -> obj("id" -> q(e.id.toString), "nome" -> q(e.nome),
      "saldo" -> q(e.saldo), "saldoReservado" -> q(e.reservado),
      "depositos" -> e.depositos.map(d => obj("deposito" -> obj(
        "nome" -> q(d.nome), "saldo" -> q(d.saldo),
        "desconsiderar" -> q(d.desconsiderar),
        "empresa" -> q(d.empresa)))).mkString("[", ",", "]")))

  def pedidoJson(p: Pedido): String =
    obj("pedido" -> obj("id" -> q(p.id.toString), "numero" -> q(p.numero),
      "data_pedido" -> q(p.data), "nome" -> q(p.nome), "valor" -> q(p.valor),
      "id_vendedor" -> q(p.idVendedor), "nome_vendedor" -> q(p.vendedor),
      "situacao" -> q(p.situacao), "codigo_rastreamento" -> q(p.rastreio),
      "itens" -> p.itens.map(i => obj("item" -> obj(
        "id_produto" -> q(i.idProduto.toString), "codigo" -> q(i.codigo),
        "descricao" -> q(i.descricao), "quantidade" -> q(i.quantidade),
        "valor_unitario" -> q(i.valorUnitario)))).mkString("[", ",", "]")))

  private def writePages(dir: Path, field: String, recs: Seq[String],
                         pageSize: Int): Int = {
    Files.createDirectories(dir)
    val pages = recs.grouped(pageSize).toSeq
    pages.zipWithIndex.foreach { case (page, i) =>
      val env = obj("retorno" -> obj("status_processamento" -> q("3"),
        "status" -> q("OK"), "pagina" -> q(s"${i + 1}"),
        "numero_paginas" -> q(s"${pages.size}"),
        field -> page.mkString("[", ",", "]")))
      Files.write(dir.resolve(s"page-${i + 1}.json"), (env + "\n").getBytes(UTF_8))
    }
    pages.size
  }

  /** Write `src` as a Pipeline source directory; returns pages per step. */
  def write(src: Source, dir: Path, pageSize: Int = PageSize): Map[String, Int] = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("categorias.json"),
      obj("retorno" -> src.categorias.map(catJson).mkString("[", ",", "]"))
        .getBytes(UTF_8))
    Map(
      "produtos" -> writePages(dir.resolve("produtos"), "produtos",
        src.produtos.map(produtoJson), pageSize),
      "estoques" -> writePages(dir.resolve("estoques"), "produtos",
        src.estoques.map(estoqueJson), pageSize),
      "pedidos" -> writePages(dir.resolve("pedidos"), "pedidos",
        src.pedidos.map(pedidoJson), pageSize))
  }

  // ---- independent expectation model ------------------------------------

  /** Plain parse of the generator's own Brazilian decimals; the program's
    * coercion turns an empty field into its 0.0 default. */
  def parseBr(s: String): Double =
    if (s.isEmpty) 0.0 else s.replace(',', '.').toDouble

  private def micros(s: String): Long = {
    val t = LocalDateTime.parse(s, BrDateTime).toInstant(ZoneOffset.UTC)
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  /** Expected target contents after a sequence of runs: upsert by natural
    * key, pedido_itens replaced per order. Rows are field lists in
    * target column order, as `Fingerprint.table` hashes them. */
  final class Model {
    val categorias = collection.mutable.Map[Int, Seq[Any]]()
    val produtos = collection.mutable.Map[Long, Seq[Any]]()
    val estoqueTotal = collection.mutable.Map[Long, Seq[Any]]()
    val depositos = collection.mutable.Map[(Long, String), Seq[Any]]()
    val pedidos = collection.mutable.Map[Long, Seq[Any]]()
    val itens = collection.mutable.Map[Long, Seq[Seq[Any]]]()

    def apply(src: Source): Unit = {
      def cats(c: Categoria, parent: Any): Unit = {
        categorias(c.id) = Seq[Any](c.id, c.descricao, parent)
        c.nodes.foreach(cats(_, c.id))
      }
      src.categorias.foreach(cats(_, null))
      src.produtos.foreach { p =>
        produtos(p.id) = Seq[Any](p.id.toInt, p.nome, p.codigo, parseBr(p.preco),
          parseBr(p.promo), parseBr(p.custo), micros(p.criacao))
      }
      src.estoques.foreach { e =>
        estoqueTotal(e.id) = Seq[Any](e.id.toInt, parseBr(e.saldo),
          parseBr(e.reservado))
        e.depositos.foreach { d =>
          depositos((e.id, d.nome)) = Seq[Any](e.id.toInt, d.nome, parseBr(d.saldo),
            d.desconsiderar, d.empresa)
        }
      }
      src.pedidos.foreach { p =>
        pedidos(p.id) = Seq[Any](p.id.toInt, p.numero, p.data, p.nome,
          parseBr(p.valor), p.vendedor, p.situacao)
        itens(p.id) = p.itens.map(i => Seq[Any](p.id.toInt, i.idProduto.toInt,
          i.codigo, parseBr(i.quantidade), parseBr(i.valorUnitario)))
      }
    }

    /** table → rows, the same set `Pipeline.run`'s audit counts. */
    def tables: Map[String, Iterable[Seq[Any]]] = Map(
      "categorias" -> categorias.values,
      "produtos" -> produtos.values,
      "produto_estoque_total" -> estoqueTotal.values,
      "produto_estoque_depositos" -> depositos.values,
      "pedidos" -> pedidos.values,
      "pedido_itens" -> itens.values.flatten)
  }

  /** Target column order per table, as `Pipeline.run` writes them. */
  val Columns: Map[String, Seq[String]] = Map(
    "categorias" -> Seq("id_categoria", "descricao_categoria",
      "id_categoria_pai"),
    "produtos" -> Seq("id_produto", "nome_produto", "codigo_produto", "preco",
      "preco_promocional", "preco_custo", "data_criacao"),
    "produto_estoque_total" -> Seq("id_produto", "saldo_total_api",
      "saldo_reservado_api"),
    "produto_estoque_depositos" -> Seq("id_produto", "nome_deposito", "saldo",
      "desconsiderar_deposito", "empresa"),
    "pedidos" -> Seq("id_pedido", "numero_pedido", "data_pedido",
      "nome_cliente", "valor_pedido", "nome_vendedor", "situacao_pedido"),
    "pedido_itens" -> Seq("id_pedido", "id_produto_tiny", "codigo_produto",
      "quantidade", "valor_unitario_pedido"))

  /** Wall-clock of incremental run `run`: an hour apart, fixed origin. */
  def runInstant(run: Int): Instant =
    Instant.parse("2024-06-01T00:00:00Z").plusSeconds(3600L * run)
}
