package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.Row

import graft.state.{FilterResolver, StateStore}
import graft.state.FilterResolver._
import graft.state.StateStore._

/** Golden tests for the reference's hardest semantics (SURVEY.md §7.4):
  * exclusive +1 s watermark bound, start-time watermark, 60 d clamp,
  * synthetic bootstrap, fixed estoques window, page-checkpoint state
  * machine; and the store's driver-side commit (absent store, crashed
  * writer's temp file, atomic replace, concurrent writers, timestamp
  * precision). */
class StateSpec extends SparkSpec {

  private val now = Instant.parse("2024-06-15T08:00:00Z")

  test("s1: watermark read applies the exclusive +1 s bound") {
    val store = new StateStore(tmpDir("state"))
    store.setWatermark("pedidos", Instant.parse("2024-06-10T12:00:00Z"))
    assert(store.watermarkExclusive("pedidos")
      === Some(Instant.parse("2024-06-10T12:00:01Z")))
    assert(store.rawWatermark("pedidos")
      === Some(Instant.parse("2024-06-10T12:00:00Z")))
  }

  test("s2: watermark upsert is last-writer-wins per process") {
    val store = new StateStore(tmpDir("state"))
    store.setWatermark("a", Instant.parse("2024-01-01T00:00:00Z"))
    store.setWatermark("b", Instant.parse("2024-02-01T00:00:00Z"))
    store.setWatermark("a", Instant.parse("2024-03-01T00:00:00Z"))
    assert(store.rawWatermark("a") === Some(Instant.parse("2024-03-01T00:00:00Z")))
    assert(store.rawWatermark("b") === Some(Instant.parse("2024-02-01T00:00:00Z")))
  }

  test("s4: fresh watermark is used as-is") {
    val wm = Some(Instant.parse("2024-06-10T12:00:01Z"))
    val r = decide(wm, None, now)
    assert(r.filter === wm.get && r.source === FromWatermark
      && r.persistSynthetic.isEmpty)
  }

  test("w3: stale watermark clamps to now - 60 d") {
    val wm = Some(Instant.parse("2023-01-01T00:00:00Z"))
    val r = decide(wm, None, now)
    assert(r.filter === Instant.parse("2024-04-16T08:00:00Z")) // now-60d
    assert(r.source === FromWatermark)
  }

  test("s3: no watermark + data present => synthetic next-midnight, persisted") {
    val maxData = Some(Instant.parse("2024-06-01T17:30:45Z"))
    val r = decide(None, maxData, now)
    assert(r.filter === Instant.parse("2024-06-02T00:00:00Z"))
    assert(r.source === SyntheticFromData)
    assert(r.persistSynthetic === Some(Instant.parse("2024-06-02T00:00:00Z")))
  }

  test("s4: no watermark, no data => now - 60 d default") {
    val r = decide(None, None, now)
    assert(r.filter === Instant.parse("2024-04-16T08:00:00Z"))
    assert(r.source === DefaultWindow)
  }

  test("s4: estoques fixed window ignores watermark entirely") {
    val wm = Some(Instant.parse("2024-06-14T00:00:00Z"))
    val r = decide(wm, None, now, fixedWindowDays = Some(29))
    assert(r.filter === Instant.parse("2024-05-17T08:00:00Z")) // now-29d
    assert(r.source === FixedWindow)
  }

  test("s4 resolve: synthetic watermark is committed to the store") {
    val store = new StateStore(tmpDir("state"))
    val maxData = Some(Instant.parse("2024-06-01T17:30:45Z"))
    val r = FilterResolver.resolve(store, "produtos", maxData, now)
    assert(r.source === SyntheticFromData)
    assert(store.rawWatermark("produtos")
      === Some(Instant.parse("2024-06-02T00:00:00Z")))
  }

  test("s5: progress upsert + state machine fields round-trip") {
    val store = new StateStore(tmpDir("state"))
    store.upsertProgress(Progress("pedidos", "f1", 3, 10, 250L, StatusRunning))
    store.upsertProgress(Progress("produtos", "f1", 1, 2, 100L, StatusDone))
    store.upsertProgress(Progress("pedidos", "f1", 4, 10, 300L, StatusRunning))
    assert(store.getProgress("pedidos")
      === Some(Progress("pedidos", "f1", 4, 10, 300L, StatusRunning)))
    assert(store.getProgress("produtos")
      === Some(Progress("produtos", "f1", 1, 2, 100L, StatusDone)))
    assert(store.getProgress("nope") === None)
  }

  test("store: an absent store reads as empty and reading creates nothing") {
    val dir = Paths.get(tmpDir("state"), "never-written")
    val store = new StateStore(dir.toString)
    assert(store.rawWatermark("pedidos") === None)
    assert(store.watermarkExclusive("pedidos") === None)
    assert(store.getProgress("pedidos") === None)
    assert(!Files.exists(dir))
  }

  test("store: a crashed writer's leftover .tmp is ignored, then replaced") {
    val dir = tmpDir("state")
    val store = new StateStore(dir)
    val t1 = Instant.parse("2024-06-10T12:00:00Z")
    store.setWatermark("a", t1)
    store.upsertProgress(Progress("a", "f1", 1, 2, 10L, StatusRunning))
    // a writer that died mid-write left a torn copy next to each table
    graft.util.Fs.list(Paths.get(dir)).foreach { f =>
      val body = Files.readString(f)
      Files.writeString(f.resolveSibling(s"${f.getFileName}.tmp"),
        body.take(body.length / 2))
    }
    val fresh = new StateStore(dir)
    assert(fresh.rawWatermark("a") === Some(t1))
    assert(fresh.getProgress("a")
      === Some(Progress("a", "f1", 1, 2, 10L, StatusRunning)))
    fresh.setWatermark("b", t1.plusSeconds(60))
    fresh.upsertProgress(Progress("a", "f1", 2, 2, 20L, StatusDone))
    assert(fresh.rawWatermark("a") === Some(t1))
    assert(fresh.rawWatermark("b") === Some(t1.plusSeconds(60)))
    assert(fresh.getProgress("a")
      === Some(Progress("a", "f1", 2, 2, 20L, StatusDone)))
  }

  test("store: a replace is atomic — a concurrent reader never sees a torn table") {
    val dir = tmpDir("state")
    val writer = new StateStore(dir)
    // enough rows that one table write spans several write(2) calls
    (1 to 200).foreach(i =>
      writer.upsertProgress(Progress(s"proc-$i", "f" * 80, i, 200, i.toLong,
        StatusRunning)))
    val done = new AtomicBoolean(false)
    val t = new Thread(() => {
      try (1 to 400).foreach(i =>
        writer.upsertProgress(Progress("proc-1", "f" * 80, i, 400, i.toLong,
          StatusRunning)))
      finally done.set(true)
    })
    t.start()
    val reader = new StateStore(dir)
    var reads = 0
    var torn = List.empty[String]
    while (!done.get || reads == 0) {
      val seen =
        try (reader.getProgress("proc-1"), reader.getProgress("proc-200"))
        catch { case e: Exception => (None, None) }
      if (seen._1.isEmpty || seen._2.isEmpty) torn ::= s"read $reads: $seen"
      reads += 1
    }
    t.join()
    assert(torn.isEmpty,
      s"${torn.size} of $reads reads saw a torn table, e.g. ${torn.take(2)}")
    assert(reader.getProgress("proc-1").map(_.page) === Some(400))
  }

  test("store: concurrent writers of distinct processes lose no row") {
    val dir = tmpDir("state")
    val threads = 4
    val perThread = 25
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def proc(t: Int, i: Int) = s"t$t-p$i"
    val writers = (1 to threads).map { t =>
      val th = new Thread(() => {
        // one store per thread, as each step of a run could hold its own
        val store = new StateStore(dir)
        start.await()
        try (1 to perThread).foreach { i =>
          store.setWatermark(proc(t, i), now.plusSeconds(i.toLong))
          store.upsertProgress(Progress(proc(t, i), "f", i, perThread,
            i.toLong, StatusRunning))
        } catch { case e: Throwable => errors.add(e): Unit }
      })
      th.start()
      th
    }
    start.countDown()
    writers.foreach(_.join())
    assert(errors.isEmpty, s"writer failed: ${errors.peek()}")
    val store = new StateStore(dir)
    val missing = for {
      t <- 1 to threads; i <- 1 to perThread
      if store.rawWatermark(proc(t, i)) != Some(now.plusSeconds(i.toLong)) ||
        store.getProgress(proc(t, i)) != Some(Progress(proc(t, i), "f", i,
          perThread, i.toLong, StatusRunning))
    } yield proc(t, i)
    assert(missing.isEmpty,
      s"${missing.size} of ${threads * perThread} processes lost a row, e.g. " +
        missing.take(3).mkString(", "))
    // no lock or temp file is left behind
    assert(graft.util.Fs.list(Paths.get(dir)).map(_.getFileName.toString)
      .sorted === Seq("progress.jsonl", "watermarks.jsonl"))
  }

  test("store: a watermark keeps microseconds exactly like a parquet TimestampType") {
    val dir = tmpDir("state")
    val store = new StateStore(dir)
    val ts = Seq(Instant.parse("2024-06-10T12:00:00.123456789Z"),
      Instant.parse("1969-12-31T23:59:59.999999999Z"),
      Instant.parse("2024-06-10T12:00:00Z"))
    ts.zipWithIndex.foreach { case (t, i) => store.setWatermark(s"p$i", t) }
    // the same rows through the parquet column the store's schema names
    val pq = s"$dir/parquet"
    spark.createDataFrame(
      java.util.Arrays.asList(ts.zipWithIndex.map { case (t, i) =>
        Row(s"p$i", Timestamp.from(t)) }: _*), wmSchema)
      .write.parquet(pq)
    val viaParquet = spark.read.schema(wmSchema).parquet(pq).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).toInstant).toMap
    ts.indices.foreach(i =>
      assert(store.rawWatermark(s"p$i") === viaParquet.get(s"p$i")))
    assert(store.rawWatermark("p0")
      === Some(Instant.parse("2024-06-10T12:00:00.123456Z")))
    assert(store.rawWatermark("p1")
      === Some(Instant.parse("1969-12-31T23:59:59.999999Z")))
  }
}
