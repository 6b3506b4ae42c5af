package graft

import java.time.Instant

import org.apache.spark.sql.DataFrame

import graft.etl.IncrementalStep
import graft.etl.IncrementalStep._
import graft.state.StateStore
import graft.state.StateStore._

/** s6_step_driver golden tests: start-time watermark commit, resume on same
  * filter, reset on new filter, ERRO abort, page budget (SURVEY.md §2.7). */
class IncrementalStepSpec extends SparkSpec {

  private val now = Instant.parse("2024-06-15T08:00:00Z")

  private def page(n: Int): DataFrame = {
    import spark.implicits._
    Seq((n, s"row-$n")).toDF("id", "v")
  }

  private def fetcherOf(pages: Int, failAt: Int = -1)
      : (Instant, Int) => Either[String, Option[FetchedPage]] =
    (_, p) =>
      if (p == failAt) Left(s"boom at page $p")
      else if (p > pages) Right(None)
      else Right(Some(FetchedPage(page(p), pages)))

  test("complete run: CONCLUIDO + watermark = step START time") {
    val store = new StateStore(tmpDir("step"))
    var sunk = Vector.empty[Int]
    val out = IncrementalStep.run(store, "produtos", fetcherOf(3),
      b => { sunk :+= b.count().toInt; b.count() }, now)
    assert(out === Completed(3, 3L))
    assert(sunk === Vector(1, 1, 1))
    assert(store.getProgress("produtos").get.status === StatusDone)
    // the watermark is the run START, not completion time (ref :326,363)
    assert(store.rawWatermark("produtos") === Some(now))
  }

  test("failure mid-run: ERRO recorded, watermark NOT advanced") {
    val store = new StateStore(tmpDir("step"))
    val out = IncrementalStep.run(store, "pedidos", fetcherOf(5, failAt = 3),
      _.count(), now)
    assert(out === Failed(3, "boom at page 3"))
    assert(store.getProgress("pedidos").get.status === StatusError)
    assert(store.rawWatermark("pedidos") === None)
  }

  test("resume: same filter + ERRO resumes at saved page + 1") {
    val store = new StateStore(tmpDir("step"))
    assert(IncrementalStep.run(store, "pedidos", fetcherOf(5, failAt = 3),
      _.count(), now).isInstanceOf[Failed])
    // second run, same now => same filter => resume at page 3
    var fetched = Vector.empty[Int]
    val out2 = IncrementalStep.run(store, "pedidos",
      (f, p) => { fetched :+= p; fetcherOf(5)(f, p) }, _.count(), now)
    assert(out2 === Completed(3, 5L)) // pages 3,4,5; records accumulate to 5
    assert(fetched === Vector(3, 4, 5))
  }

  test("reset: a different filter restarts from page 1") {
    val store = new StateStore(tmpDir("step"))
    assert(IncrementalStep.run(store, "pedidos", fetcherOf(5, failAt = 3),
      _.count(), now).isInstanceOf[Failed])
    // watermark-less second run at a later 'now' => different filter => reset
    var fetched = Vector.empty[Int]
    val later = now.plusSeconds(3600)
    val out2 = IncrementalStep.run(store, "pedidos",
      (f, p) => { fetched :+= p; fetcherOf(2)(f, p) }, _.count(), later)
    assert(fetched.head === 1)
    assert(out2 === Completed(2, 2L))
  }

  test("empty result set completes immediately and still advances watermark") {
    val store = new StateStore(tmpDir("step"))
    val out = IncrementalStep.run(store, "estoques", (_, _) => Right(None),
      _.count(), now, fixedWindowDays = Some(29))
    assert(out === Completed(0, 0L))
    assert(store.rawWatermark("estoques") === Some(now))
  }

  test("budget is per-RUN: resume past maxPages still gets a fresh budget") {
    // regression: bounding the absolute page number instead of pages
    // processed this run made any resume past maxPages a permanent no-op
    val store = new StateStore(tmpDir("step"))
    assert(IncrementalStep.run(store, "produtos", fetcherOf(10),
      _.count(), now, maxPages = 4) === BudgetExhausted(4, 4L))
    var fetched = Vector.empty[Int]
    val out2 = IncrementalStep.run(store, "produtos",
      (f, p) => { fetched :+= p; fetcherOf(10)(f, p) }, _.count(), now,
      maxPages = 4)
    assert(fetched === Vector(5, 6, 7, 8)) // fresh 4-page budget
    assert(out2 === BudgetExhausted(8, 8L))
    val out3 = IncrementalStep.run(store, "produtos", fetcherOf(10),
      _.count(), now, maxPages = 4)
    assert(out3 === Completed(2, 10L)) // pages 9, 10 complete the extract
    assert(store.rawWatermark("produtos") === Some(now))
  }

  test("page budget exhaustion leaves EM_ANDAMENTO for next-run resume") {
    val store = new StateStore(tmpDir("step"))
    val out = IncrementalStep.run(store, "produtos", fetcherOf(100),
      _.count(), now, maxPages = 4)
    assert(out === BudgetExhausted(4, 4L))
    assert(store.getProgress("produtos").get.status === StatusRunning)
    assert(store.rawWatermark("produtos") === None)
    // next run with the same filter resumes at page 5
    var fetched = Vector.empty[Int]
    IncrementalStep.run(store, "produtos",
      (f, p) => { fetched :+= p; fetcherOf(6)(f, p) }, _.count(), now)
    assert(fetched.head === 5)
  }
}
