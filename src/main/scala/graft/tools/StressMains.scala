package graft.tools

/* Forked-JVM workers for MultiProcessStressSpec (r7): the GroupCommit
 * page claim and the PartitionedMerge compact/append protocols are
 * FILESYSTEM-based, so in-JVM thread stress (the r6 x20 specs) shares
 * one NIO view and one process identity — the honest test races two
 * separate JVMs against the same directories. Each main is one worker;
 * the spec forks several and asserts the end state. */

/** args: stagingDir tableDir workerId nPages every — stage nPages
  * one-row pages into a shared staging dir. `every <= 0` disables
  * auto-flush (the claim-only race); otherwise every K-th stage
  * triggers a flush whose merge delta-appends into the shared
  * `tableDir` — racing the OTHER worker's stages and flushes, the
  * scenario where a whole-dir clear loses acknowledged pages. Pass
  * tableDir `-` with auto-flush off. */
object StressGroupCommit {
  def main(args: Array[String]): Unit = {
    val Array(stagingDir, tableDir, workerId, nPages, every) = args
    val spark = graft.Sessions.local(2)
    import spark.implicits._
    val e = every.toInt
    val merge: org.apache.spark.sql.DataFrame => Long =
      if (tableDir == "-") _ => 0L
      else df => graft.etl.PartitionedMerge.mergeInto(spark, tableDir,
        df, Seq("k"), numBuckets = 4, compactThreshold = 0)
    val gc = new graft.etl.GroupCommit(spark, stagingDir,
      if (e <= 0) Int.MaxValue else e, "k", merge)
    val w = workerId.toInt
    (0 until nPages.toInt).foreach { i =>
      gc.stage(Seq((w * 1000 + i, s"w$w-p$i")).toDF("k", "v")): Unit
    }
    spark.stop()
  }
}

/** args: tableDir role workerId nOps — role `append`: nOps one-row
  * delta appends cycling 5 keys (later values must win through any
  * compaction), with a low auto-compact threshold so appenders contend
  * on the compaction lock too; role `compact`: nOps explicit compaction
  * attempts, paced to overlap the appenders. */
object StressCompactAppend {
  def main(args: Array[String]): Unit = {
    val Array(tableDir, role, workerId, nOps) = args
    val spark = graft.Sessions.local(2)
    import spark.implicits._
    val w = workerId.toInt
    role match {
      case "append" =>
        (0 until nOps.toInt).foreach { i =>
          graft.etl.PartitionedMerge.mergeInto(spark, tableDir,
            Seq((w * 1000 + i % 5, i)).toDF("k", "v"), Seq("k"),
            numBuckets = 2, compactThreshold = 4): Unit
        }
      case "compact" =>
        (0 until nOps.toInt).foreach { _ =>
          graft.etl.PartitionedMerge.compact(spark, tableDir): Unit
          Thread.sleep(300)
        }
    }
    spark.stop()
  }
}
