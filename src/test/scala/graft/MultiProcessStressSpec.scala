package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.etl.PartitionedMerge

/** Multi-PROCESS stress for the filesystem-based coordination protocols
  * (r7, the r6 verdict's #6): the r6 x20 specs race threads inside one
  * JVM, but the GroupCommit page claim and the compaction lock are
  * directory/rename protocols whose honest adversary is a separate
  * process. Each test forks real JVMs (same classpath and add-opens as
  * this forked test JVM) running the graft.tools.Stress* mains against
  * shared directories, then asserts the merged end state from here.
  */
class MultiProcessStressSpec extends SparkSpec {

  /** Fork a JVM on the test classpath, forwarding this JVM's
    * --add-opens (Spark 4 on JDK 17 needs them outside spark-submit). */
  private def forkJava(mainClass: String, args: Seq[String]): Process = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toVector
    val opens = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < jvmArgs.length) {
      val a = jvmArgs(i)
      if (a == "--add-opens" && i + 1 < jvmArgs.length) {
        opens += a; opens += jvmArgs(i + 1); i += 2
      } else {
        if (a.startsWith("--add-opens=")) opens += a
        i += 1
      }
    }
    val cmd = Seq(java) ++ opens ++ Seq("-Xmx2g",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), mainClass) ++ args
    new ProcessBuilder(cmd.asJava).inheritIO().start()
  }

  private def awaitOk(ps: Seq[Process]): Unit = ps.foreach { p =>
    assert(p.waitFor(300, TimeUnit.SECONDS), "forked worker timed out")
    assert(p.exitValue() === 0, "forked worker failed")
  }

  test("two JVMs staging into one GroupCommit dir claim disjoint pages; " +
      "every page lands exactly once") {
    val staging = tmpDir("mp-gc") + "/staging"
    awaitOk(Seq(0, 1).map(w =>
      forkJava("graft.tools.StressGroupCommit",
        Seq(staging, "-", w.toString, "10", "0"))))
    val staged = spark.read.parquet(staging)
    // 20 one-row pages: no page number claimed twice (distinct p), no
    // row lost or duplicated (distinct k), no torn page dirs
    assert(staged.count() === 20)
    assert(staged.select("k").distinct().count() === 20)
    assert(staged.select("p").distinct().count() === 20)
  }

  test("two JVMs staging WITH auto-flush into one shared table: flushes " +
      "racing stages lose no acknowledged page") {
    val root = tmpDir("mp-gcf")
    val staging = s"$root/staging"
    val table = s"$root/table"
    // every=3: each worker's 10 stages interleave ~3 flushes with the
    // other worker's stages and flushes — the whole-dir clear this spec
    // regressed against destroyed pages staged mid-flush
    awaitOk(Seq(0, 1).map(w =>
      forkJava("graft.tools.StressGroupCommit",
        Seq(staging, table, w.toString, "10", "3"))))
    // mop up what stayed staged, exactly as a step's recover() would
    import org.apache.spark.sql.DataFrame
    val gc = new graft.etl.GroupCommit(spark, staging, Int.MaxValue, "k",
      (df: DataFrame) => PartitionedMerge.mergeInto(spark, table, df,
        Seq("k"), numBuckets = 4, compactThreshold = 0))
    gc.recover()
    val got = PartitionedMerge.read(spark, table)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val expected = (for { w <- Seq(0, 1); i <- 0 until 10 }
      yield (w * 1000 + i) -> s"w$w-p$i").toMap
    assert(got === expected)
  }

  test("compactor JVM killed mid-compaction: reads stay correct at " +
      "whatever step the kill landed, and a later compactor takes over " +
      "past the stale lock (x3)") {
    import spark.implicits._
    (1 to 3).foreach { rep =>
      val table = tmpDir(s"mp-kill$rep") + "/table"
      // fragment 2 buckets with 12 key-overlapping delta appends
      (0 until 12).foreach { i =>
        PartitionedMerge.mergeInto(spark, table,
          Seq((i % 6, s"r$rep-v$i")).toDF("k", "v"), Seq("k"),
          numBuckets = 2, compactThreshold = 0): Unit
      }
      val expected = PartitionedMerge.read(spark, table)
        .orderBy("k").as[(Int, String)].collect().toSeq
      val p = forkJava("graft.tools.StressCompactAppend",
        Seq(table, "compact", "9", "1"))
      // kill once the forked compactor is INSIDE compactLocked (its
      // lock file exists), at a rep-varied offset to sample different
      // protocol steps; tolerate the fast case where it already finished
      val lock = Paths.get(s"$table/_compact_lock")
      val deadline = System.currentTimeMillis + 60000
      while (!Files.exists(lock) && p.isAlive &&
        System.currentTimeMillis < deadline) Thread.sleep(10)
      Thread.sleep(rep * 700L)
      p.destroyForcibly(); p.waitFor()
      // invariant: a crash at ANY step leaves merge-on-read correct
      val afterKill = PartitionedMerge.read(spark, table)
        .orderBy("k").as[(Int, String)].collect().toSeq
      assert(afterKill === expected, s"rep $rep: reads changed by the kill")
      // the killed run's lock must not fence compaction forever: a new
      // compactor breaks it once stale and completes the fold
      PartitionedMerge.compact(spark, table,
        staleLockMs = 1L): Unit
      val afterTakeover = PartitionedMerge
        .read(spark, table)
        .orderBy("k").as[(Int, String)].collect().toSeq
      assert(afterTakeover === expected, s"rep $rep: takeover changed reads")
    }
  }

  test("chunk-state worker JVM killed during the amortized prune: state " +
      "recovers (displaced table adopted), a resumed worker finishes, " +
      "survivors match an unkilled reference run") {
    import spark.implicits._
    def doc(tag: String): String =
      (0 until 6).flatMap(b => (0 until 25).map(i => s"$tag${b}x$i"))
        .mkString(" ")
    def swapped(tag: String): String = {
      val blocks = (0 until 6).map(b => (0 until 25).map(i => s"$tag${b}x$i"))
      (blocks.drop(3) ++ blocks.take(3)).flatten.mkString(" ")
    }
    // 4 batches, 2 h apart (delay 1 h -> EVERY batch triggers the
    // amortized prune, maximizing the kill window); each batch is a
    // (doc, section-swapped near-dup 10 min later) pair -> survivor =
    // first doc of each pair
    val root = tmpDir("mp-chunk")
    val inDir = s"$root/in"
    Files.createDirectories(Paths.get(inDir))
    val batches = (0 until 4).map { k =>
      Seq((2L * k + 1, java.sql.Timestamp.valueOf(
             s"2024-01-01 ${10 + 2 * k}:00:00"), doc(s"g$k")),
          (2L * k + 2, java.sql.Timestamp.valueOf(
             s"2024-01-01 ${10 + 2 * k}:10:00"), swapped(s"g$k")))
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "ts", "text").write.parquet(s"$inDir/batch-$i")
    }
    val expected = Seq(1L, 3L, 5L, 7L)
    val out = s"$root/out"
    val state = s"$root/state"
    val args = Seq(inDir, out, state, "4", (3600L * 1000).toString)
    val p = forkJava("graft.streaming.StressChunkState", args)
    // kill the instant a prune is in flight (its tmp table exists);
    // tolerate the fast case where the worker finishes first
    val tmpPrune = Paths.get(state + ".tmp-prune")
    val deadline = System.currentTimeMillis + 120000
    while (!Files.exists(tmpPrune) && p.isAlive &&
      System.currentTimeMillis < deadline) Thread.sleep(2)
    val killed = p.isAlive
    p.destroyForcibly(); p.waitFor()
    // whatever the kill left behind, a FRESH worker (the restarted
    // streaming driver) must recover the state and finish the batches
    awaitOk(Seq(forkJava("graft.streaming.StressChunkState", args)))
    val survivors = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(survivors === expected,
      s"killed=$killed: survivors $survivors != $expected")
    // the recovered state is a readable bucketed table whose window
    // holds only the final pair's fingerprints
    val minTs = graft.etl.PartitionedMerge
      .read(spark, state)
      .agg(org.apache.spark.sql.functions.min(
        org.apache.spark.sql.functions.col("ts")))
      .collect()(0).getTimestamp(0)
    assert(minTs.after(java.sql.Timestamp.valueOf("2024-01-01 15:09:59")),
      s"killed=$killed: expired fingerprints survived: min ts $minTs")
    assert(!Files.exists(tmpPrune), "stale prune tmp not cleaned up")
  }

  test("two appender JVMs + a compactor JVM on one delta table: " +
      "latest-wins survives concurrent compaction, no acknowledged row lost") {
    val table = tmpDir("mp-ca") + "/table"
    awaitOk(Seq(
      forkJava("graft.tools.StressCompactAppend",
        Seq(table, "append", "1", "10")),
      forkJava("graft.tools.StressCompactAppend",
        Seq(table, "append", "2", "10")),
      forkJava("graft.tools.StressCompactAppend",
        Seq(table, "compact", "0", "10"))))
    // each appender wrote keys w*1000+(0..4) twice (values i and i+5);
    // the second write's gseq is higher, so the resolved value is r+5 —
    // for every key, through whatever compactions interleaved
    val got = PartitionedMerge.read(spark, table)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val expected = (for { w <- Seq(1, 2); r <- 0 until 5 }
      yield (w * 1000 + r) -> (r + 5)).toMap
    assert(got === expected)
  }
}
