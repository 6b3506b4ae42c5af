package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

import graft.etl.{GroupCommit, PartitionedMerge, Upsert}

/** Group commit: per-page durability with one merge per K pages. */
class GroupCommitSpec extends SparkSpec {
  import spark.implicits._

  private def table(path: String): Seq[(String, String)] =
    if (Files.exists(Paths.get(path)))
      PartitionedMerge.read(spark, path)
        .orderBy("id").as[(String, String)].collect().toSeq
    else Seq.empty

  private def pages(staging: String): Seq[String] =
    graft.util.Fs.list(Paths.get(staging)).map(_.getFileName.toString)
      .filter(_.startsWith("p=")).sorted

  private def gc(staging: String, path: String, every: Int): GroupCommit =
    new GroupCommit(spark, staging, every, "id",
      (b: DataFrame) =>
        PartitionedMerge.mergeInto(spark, path, b, Seq("id"), 8))

  test("K=3: pages stage durably, merge fires on the 3rd; later page wins") {
    val root = tmpDir("gc")
    val g = gc(s"$root/staging", s"$root/t", 3)

    assert(g.stage(Seq(("1", "a"), ("2", "b")).toDF("id", "v")) === 2L)
    assert(g.stage(Seq(("2", "b2")).toDF("id", "v")) === 1L)
    // nothing merged yet, but both pages are durable on disk
    assert(table(s"$root/t").isEmpty)
    assert(Files.list(Paths.get(s"$root/staging")).count() === 2)

    assert(g.stage(Seq(("3", "c")).toDF("id", "v")) === 1L)
    // 3rd page triggers the merge; page order wins for key 2
    assert(table(s"$root/t") === Seq(("1", "a"), ("2", "b2"), ("3", "c")))
    // cleared: no PAGE dirs remain (the staging root itself persists —
    // flush deletes exactly what it merged)
    val s = Files.list(Paths.get(s"$root/staging"))
    val left = try s.iterator().asScala
      .count(_.getFileName.toString.startsWith("p="))
    finally s.close()
    assert(left === 0)
  }

  test("recover() merges pages a previous run staged but never flushed") {
    val root = tmpDir("gc")
    val g1 = gc(s"$root/staging", s"$root/t", 10)
    g1.stage(Seq(("1", "a")).toDF("id", "v"))
    g1.stage(Seq(("2", "b")).toDF("id", "v"))
    assert(table(s"$root/t").isEmpty) // crash before flush

    val g2 = gc(s"$root/staging", s"$root/t", 10) // next run
    g2.recover()
    assert(table(s"$root/t") === Seq(("1", "a"), ("2", "b")))
  }

  test("pages staged across an additive schema change still merge") {
    val root = tmpDir("gc")
    val g = gc(s"$root/staging", s"$root/t", 10)
    g.stage(Seq(("1", "a")).toDF("id", "v"))
    g.stage(Seq(("2", "b", "extra")).toDF("id", "v", "note")) // drifted page
    g.flush()
    val got = PartitionedMerge.read(spark, s"$root/t")
      .orderBy("id").collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.getAs[String]("note")))).toSeq
    assert(got === Seq(("1", "a", None), ("2", "b", Some("extra"))))
  }

  test("2 concurrent stagers claim distinct pages; flush sees both (x20)") {
    // Regression for the claim race: Overwrite-mode writes used to delete
    // the claimed p=<n> dir before recreating it, letting a concurrent
    // stager re-claim the same page number mid-write. With tmp+atomic-move
    // the claim dir never disappears, so two racing stagers must land on
    // distinct pages and flush must see every staged row.
    (1 to 20).foreach { i =>
      val root = tmpDir(s"gcrace$i")
      val g = gc(s"$root/staging", s"$root/t", 100)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq(("a", s"va$i"), ("b", s"vb$i")).map { case (k, v) =>
        new Thread(() =>
          try { g.stage(Seq((k, v)).toDF("id", "v")): Unit }
          catch { case t: Throwable => errs.add(t): Unit })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"iter $i: ${errs.asScala.map(_.toString)}")
      val pageDirs = Files.list(Paths.get(s"$root/staging"))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("p=")).toSeq.sorted
      assert(pageDirs === Seq("p=1", "p=2"), s"iter $i staged $pageDirs")
      g.flush()
      assert(table(s"$root/t") === Seq(("a", s"va$i"), ("b", s"vb$i")),
        s"iter $i flush lost a page")
    }
  }

  test("final flush merges a partial group; K=1 is per-page commit") {
    val root = tmpDir("gc")
    val g = gc(s"$root/staging", s"$root/t", 5)
    g.stage(Seq(("1", "a")).toDF("id", "v"))
    g.flush()
    assert(table(s"$root/t") === Seq(("1", "a")))

    val g1 = gc(s"$root/staging1", s"$root/t1", 1)
    g1.stage(Seq(("9", "z")).toDF("id", "v"))
    assert(table(s"$root/t1") === Seq(("9", "z"))) // merged immediately
  }

  test("duplicate ids in one page: the winner does not depend on row " +
      "order and is Upsert.merge's") {
    val rows = Seq(("1", "a"), ("2", "b"), ("1", "z"), ("2", "c"))
    // one file per page keeps the row order into the flush's window
    val got = Seq(rows, rows.reverse).map { page =>
      val root = tmpDir("gcdup")
      gc(s"$root/staging", s"$root/t", 1).stage(page.toDF("id", "v").coalesce(1))
      table(s"$root/t")
    }
    val want = Upsert.merge(Seq.empty[(String, String)].toDF("id", "v"),
      rows.toDF("id", "v"), Seq("id"))
      .orderBy("id").as[(String, String)].collect().toSeq
    assert(want === Seq(("1", "z"), ("2", "c")))
    assert(got === Seq(want, want))
  }

  test("flush leaves the pages staged while another flusher holds the lock") {
    val root = tmpDir("gclock")
    val g = gc(s"$root/staging", s"$root/t", 10)
    g.stage(Seq(("1", "a")).toDF("id", "v"))
    val lock = Paths.get(s"$root/staging/_flush_lock")
    Files.createFile(lock)
    assert(g.flush() === 0L)
    assert(table(s"$root/t").isEmpty)
    assert(pages(s"$root/staging") === Seq("p=1"))
    assert(Files.exists(lock), "a live holder's lock must not be removed")
  }

  test("flush breaks a lock older than 10 min and merges") {
    val root = tmpDir("gclock")
    val g = gc(s"$root/staging", s"$root/t", 10)
    g.stage(Seq(("1", "a")).toDF("id", "v"))
    val lock = Paths.get(s"$root/staging/_flush_lock")
    Files.createFile(lock)
    Files.setLastModifiedTime(lock,
      FileTime.fromMillis(System.currentTimeMillis - 11 * 60 * 1000L))
    assert(g.flush() === 1L)
    assert(table(s"$root/t") === Seq(("1", "a")))
    assert(pages(s"$root/staging").isEmpty)
    assert(!Files.exists(lock))
  }
}
