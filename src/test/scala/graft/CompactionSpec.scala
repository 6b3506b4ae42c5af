package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.etl.PartitionedMerge

/** Delta-append commit + per-bucket compaction (round 3): O(page)
  * appends with merge-on-read must equal the rewrite-merge semantics,
  * and compaction must bound file growth without changing reads. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(root: String): Seq[Path] = {
    def walk(p: Path): Seq[Path] =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        val cs = try s.iterator().asScala.toList finally s.close()
        cs.flatMap(walk)
      } else Seq(p)
    walk(Paths.get(root)).filter(_.getFileName.toString.endsWith(".parquet"))
  }

  test("append + merge-on-read equals rewrite-merge; compact bounds files") {
    val dir = tmpDir("compact")
    val appendT = s"$dir/appended"
    val mergeT = s"$dir/merged"
    // 10 key-unique batches with overlapping keys — later batches win
    val batches = (1 to 10).map { b =>
      (1 to 40).map(i => (((b * 7 + i) % 60) + 1, s"v$b-$i"))
        .groupBy(_._1).map(_._2.last).toSeq  // key-unique within batch
        .toDF("id", "name")
    }
    batches.foreach { df =>
      PartitionedMerge.mergeInto(spark, appendT, df, Seq("id"), 8)
      PartitionedMerge.mergeInto(spark, mergeT, df, Seq("id"), 8)
    }
    def resolved() = PartitionedMerge.read(spark, appendT)
      .orderBy("id").as[(Int, String)].collect().toSeq
    val viaMerge = PartitionedMerge.read(spark, mergeT)
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(resolved() === viaMerge)

    // appends accumulated delta files; compaction collapses each bucket
    val before = parquetFiles(appendT).size
    assert(before > 8, s"expected delta fragmentation, got $before files")
    val compacted = PartitionedMerge.compact(spark, appendT)
    assert(compacted.nonEmpty)
    val after = parquetFiles(appendT).size
    assert(after <= 8, s"expected <=1 file per bucket, got $after")
    assert(resolved() === viaMerge) // reads unchanged by compaction

    // idempotent: nothing left to compact
    assert(PartitionedMerge.compact(spark, appendT).isEmpty)

    // appends after compaction still win over the compacted base
    PartitionedMerge.mergeInto(spark, appendT,
      Seq((5, "post-compact")).toDF("id", "name"), Seq("id"), 8)
    val got = PartitionedMerge.read(spark, appendT)
      .filter($"id" === 5).as[(Int, String)].collect().toSeq
    assert(got === Seq((5, "post-compact")))
  }

  test("compaction never drops rows landed by a concurrent appender (x20)") {
    // Regression for the read-then-swap race: a delta committed between
    // compaction's snapshot read and its directory swap used to vanish
    // with the old bucket dir. numBuckets=1 forces every append and every
    // compaction onto the same directory; each append carries a DISTINCT
    // key so a dropped delta stays visible in the final resolved read
    // (same-key appends would mask the loss). The appender runs with a
    // low auto-compact threshold too, so the compactor try-lock is also
    // exercised from both sides.
    (1 to 20).foreach { i =>
      val path = tmpDir(s"ccomp$i") + "/t"
      // seed enough fragmentation that the first compact has work
      (1 to 3).foreach { s =>
        PartitionedMerge.mergeInto(spark, path,
          Seq((100 + s, s"seed$s")).toDF("id", "name"), Seq("id"),
          numBuckets = 1, compactThreshold = 0)
      }
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      @volatile var appending = true
      val appender = new Thread(() =>
        try (1 to 5).foreach { a =>
          PartitionedMerge.mergeInto(spark, path,
            Seq((a, s"it$i-a$a")).toDF("id", "name"), Seq("id"),
            numBuckets = 1, compactThreshold = 2): Unit
        } catch { case t: Throwable => errs.add(t): Unit }
        finally appending = false)
      val compactor = new Thread(() =>
        try while (appending) {
          PartitionedMerge.compact(spark, path): Unit
        } catch { case t: Throwable => errs.add(t): Unit })
      appender.start(); compactor.start()
      appender.join(); compactor.join()
      assert(errs.isEmpty, s"iter $i: ${errs.asScala.map(_.toString)}")
      PartitionedMerge.compact(spark, path)
      val got = PartitionedMerge.read(spark, path)
        .orderBy("id").as[(Int, String)].collect().toSeq
      val want = (1 to 5).map(a => (a, s"it$i-a$a")) ++
        (1 to 3).map(s => (100 + s, s"seed$s"))
      assert(got === want, s"iter $i dropped a concurrently-appended row")
    }
  }

  test("auto-compaction bounds delta files from the commit path") {
    val path = tmpDir("autocompact") + "/t"
    // 30 appends at threshold 4: without the trigger each bucket would
    // accumulate ~30 files; the commit path must keep every bucket below
    // the threshold WITHOUT any manual compact() call
    (1 to 30).foreach { b =>
      val df = (1 to 20).map(i => (((b + i) % 25) + 1, s"v$b-$i"))
        .groupBy(_._1).map(_._2.last).toSeq.toDF("id", "name")
      PartitionedMerge.mergeInto(spark, path, df, Seq("id"),
        numBuckets = 4, compactThreshold = 4)
      val worst = parquetFiles(path)
        .groupBy(_.getParent.getFileName.toString).values.map(_.size).max
      assert(worst <= 4, s"bucket exceeded threshold after append $b: $worst")
    }
    // merge-on-read semantics unchanged: latest append wins per key
    val mergeT = tmpDir("autocompact-ref") + "/t"
    (1 to 30).foreach { b =>
      val df = (1 to 20).map(i => (((b + i) % 25) + 1, s"v$b-$i"))
        .groupBy(_._1).map(_._2.last).toSeq.toDF("id", "name")
      PartitionedMerge.mergeInto(spark, mergeT, df, Seq("id"), 4)
    }
    val got = PartitionedMerge.read(spark, path)
      .orderBy("id").as[(Int, String)].collect().toSeq
    val want = PartitionedMerge.read(spark, mergeT)
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(got === want)
  }

  test("bucket count is table metadata: persisted on create, reused on " +
      "mismatched calls") {
    val path = tmpDir("meta") + "/t"
    val base = (1 to 40).map(i => (i, s"base$i")).toDF("id", "name")
    PartitionedMerge.mergeInto(spark, path, base, Seq("id"), numBuckets = 4)
    assert(PartitionedMerge.persistedBuckets(path) === Some(4))
    def bucketDirs(): Set[String] = {
      val s = Files.list(Paths.get(path))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("gbucket=")).toSet
      finally s.close()
    }
    assert(bucketDirs().size <= 4)
    // an append that LIES about the bucket count must still land keys in
    // the persisted layout — the mismatch used to split a key across two
    // bucket directories and break latest-wins after compaction
    PartitionedMerge.mergeInto(spark, path,
      Seq((7, "delta7")).toDF("id", "name"), Seq("id"), numBuckets = 16)
    PartitionedMerge.mergeInto(spark, path,
      Seq((8, "merge8")).toDF("id", "name"), Seq("id"), numBuckets = 32)
    assert(bucketDirs().size <= 4, "mismatched call created new bucket dirs")
    PartitionedMerge.compact(spark, path)
    val got = PartitionedMerge.read(spark, path)
      .filter($"id".isin(7, 8)).orderBy("id").as[(Int, String)].collect().toSeq
    assert(got === Seq((7, "delta7"), (8, "merge8")))
  }

  test("seq allocation is marker-atomic and survives compaction") {
    val path = tmpDir("seq") + "/t"
    def seqs(): Seq[Long] =
      spark.read.option("mergeSchema", "true").parquet(path)
        .select("gseq").filter($"gseq".isNotNull).distinct()
        .as[Long].collect().toSeq.sorted
    PartitionedMerge.mergeInto(spark, path,
      Seq((1, "a")).toDF("id", "name"), Seq("id"), 4)
    PartitionedMerge.mergeInto(spark, path,
      Seq((2, "b")).toDF("id", "name"), Seq("id"), 4)
    assert(seqs() === Seq(1L, 2L))
    // a concurrent appender already claimed marker 3 → this writer must
    // skip to 4, never reusing a claimed version
    Files.createFile(Paths.get(path, "_seq", "3"))
    PartitionedMerge.mergeInto(spark, path,
      Seq((3, "c")).toDF("id", "name"), Seq("id"), 4)
    assert(seqs() === Seq(1L, 2L, 4L))
    // compaction prunes spent markers but keeps the max: allocation stays
    // monotone afterwards
    PartitionedMerge.compact(spark, path)
    PartitionedMerge.mergeInto(spark, path,
      Seq((1, "a2")).toDF("id", "name"), Seq("id"), 4)
    assert(seqs().max === 5L)
    val resolved = PartitionedMerge.read(spark, path)
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(resolved === Seq((1, "a2"), (2, "b"), (3, "c")))
  }

  test("an empty commit keeps its claimed marker: pruning around it " +
      "never restarts the version counter") {
    val path = tmpDir("seq-empty") + "/t"
    def marker(n: Int) = Files.exists(Paths.get(path, "_seq", n.toString))
    PartitionedMerge.mergeInto(spark, path,
      Seq((1, "a")).toDF("id", "name"), Seq("id"), 4)
    PartitionedMerge.mergeInto(spark, path,
      Seq((1, "a2")).toDF("id", "name"), Seq("id"), 4)
    // the empty batch claims version 3, which is now the max marker
    assert(PartitionedMerge.mergeInto(spark, path,
      Seq.empty[(Int, String)].toDF("id", "name"), Seq("id"), 4) === 0L)
    assert(marker(3), "an empty commit deleted its claimed marker")
    // a compactor prunes every marker below the max, the empty commit's
    // among the survivors: the next commit must still stamp version 4
    PartitionedMerge.compact(spark, path)
    assert(!marker(1) && !marker(2) && marker(3))
    PartitionedMerge.mergeInto(spark, path,
      Seq((1, "a3")).toDF("id", "name"), Seq("id"), 4)
    assert(marker(4))
    assert(PartitionedMerge.read(spark, path).as[(Int, String)].collect()
      .toSeq === Seq((1, "a3")))
  }

  test("crashed-run leftovers are inert: orphan tmp dirs never surface " +
      "in reads, and the next locked compaction sweeps dead compact tmps") {
    val dir = tmpDir("compact-orphan") + "/t"
    PartitionedMerge.mergeInto(spark, dir,
      Seq((1, "a"), (2, "b")).toDF("id", "name"), Seq("id"), 4)
    PartitionedMerge.mergeInto(spark, dir,
      Seq((1, "a2"), (3, "c")).toDF("id", "name"), Seq("id"), 4)
    def resolved() = PartitionedMerge.read(spark, dir)
      .orderBy("id").as[(Int, String)].collect().toSeq
    val want = Seq((1, "a2"), (2, "b"), (3, "c"))
    assert(resolved() === want)
    // a crashed append's private staging and a crashed compaction's tmp:
    // unique sibling names, so neither is ever read as table data
    val orphanA = Paths.get(dir + ".tmp-append-999")
    Files.createDirectories(orphanA.resolve("gbucket=0"))
    Files.write(orphanA.resolve("gbucket=0/junk.parquet"),
      "not-parquet".getBytes): Unit
    val orphanC = Paths.get(dir + ".tmp-compact-123")
    Files.createDirectories(orphanC)
    Files.write(orphanC.resolve("junk"), "x".getBytes): Unit
    assert(resolved() === want)
    // the next locked compaction sweeps the dead compact tmp (its run is
    // over by definition — unique names are never referenced again) and
    // leaves the append tmp alone (an appender holds no compactor lock,
    // so compaction cannot know the append is dead)
    PartitionedMerge.compact(spark, dir): Unit
    assert(!Files.exists(orphanC))
    assert(Files.exists(orphanA))
    assert(resolved() === want)
  }

  test("append composes with a mergeInto-created base") {
    val path = tmpDir("compact2") + "/t"
    val base = (1 to 50).map(i => (i, s"base$i")).toDF("id", "name")
    PartitionedMerge.mergeInto(spark, path, base, Seq("id"), 8)
    PartitionedMerge.mergeInto(spark, path,
      Seq((7, "delta7"), (51, "delta51")).toDF("id", "name"), Seq("id"), 8)
    val got = PartitionedMerge.read(spark, path)
    assert(got.count() === 51)
    assert(got.filter($"id" === 7).as[(Int, String)].collect().toSeq
      === Seq((7, "delta7")))
    assert(got.filter($"id" === 51).as[(Int, String)].collect().toSeq
      === Seq((51, "delta51")))
  }
}
