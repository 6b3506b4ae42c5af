package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class TinyGenSpec extends AnyFunSuite {

  private val fx = {
    val parts = (1L to 300L).map(k => TinyGen.Part(k, s"part $k", 10.0 + k))
    val orders = (1L to 400L).map(k =>
      TinyGen.Order(k, k % 37, 100.0 * k, LocalDate.of(1996, 1, 1).plusDays(k)))
    val lines = orders.map(o => o.key -> (1 to (o.key % 5).toInt + 1).map(i =>
      TinyGen.Line(o.key, (o.key * i) % 300 + 1, i.toDouble, 12.5 * i)).toIndexedSeq).toMap
    TinyGen.Fixture(parts, orders, lines)
  }

  /** relative path → bytes of every file under `dir`. */
  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def pages(seed: Long, run: Int): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("tinygen")
    val src = if (run == 0) TinyGen.full(fx, seed)
      else TinyGen.delta(fx, seed, run, 0.01)
    TinyGen.write(src, dir, if (run == 0) 500 else TinyGen.PageSize)
    files(dir)
  }

  test("the same seed writes byte-identical page files") {
    assert(pages(7, 0) == pages(7, 0))
    assert(pages(7, 3) == pages(7, 3))
  }

  test("another seed or run writes a different delta") {
    assert(pages(7, 3) != pages(8, 3))
    assert(pages(7, 3) != pages(7, 4))
  }

  test("a delta changes about the requested share plus new keys") {
    val d = TinyGen.delta(fx, 7, 1, 0.01)
    val baseParts = fx.parts.map(_.key).toSet
    assert(d.produtos.count(p => baseParts(p.id)) == 3)
    assert(d.produtos.count(p => !baseParts(p.id)) == 5)
    assert(d.pedidos.size == 4 + 20)
  }

  test("the model applies upserts and replaces an order's items") {
    val m = new TinyGen.Model
    m.apply(TinyGen.full(fx, 7))
    val d = TinyGen.delta(fx, 7, 1, 0.01)
    m.apply(d)
    assert(m.produtos.size == 300 + 5)
    assert(m.pedidos.size == 400 + 20)
    val changed = d.pedidos.head
    assert(m.itens(changed.id).size == changed.itens.size)
    assert(m.tables("pedido_itens").size == m.itens.values.map(_.size).sum)
  }
}
