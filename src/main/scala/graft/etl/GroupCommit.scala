package graft.etl

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType

import graft.model.SchemaEvolution
import graft.util.Fs

/** Group commit: bound the number of downstream merges to one per K pages
  * while keeping the reference's per-page durability
  * (tiny_api_v2_cliente.py:352-353 — commit after every page).
  *
  * Each page is durably staged as plain parquet under
  * `stagingDir/p=<seq>/` BEFORE the step's progress row advances — a crash
  * never loses an acknowledged page. Every K staged pages (and at the end
  * of the step, and on recovery at the start of the next run) the staged
  * pages are collapsed to the latest version per record (`p` ascending =
  * page order, later pages win — exactly what replaying the per-page
  * upserts would produce; duplicates within one page fall to
  * `Upsert.dedupe`'s tie rule) and handed to `merge` ONCE.
  *
  * Cost: per-page work drops from O(table) merge to O(page) append; the
  * merge runs P/K times instead of P (with the bucket-partitioned merge it
  * touches only affected buckets too). K=1 degenerates to the reference's
  * literal per-page commit.
  */
class GroupCommit(spark: org.apache.spark.sql.SparkSession,
                  stagingDir: String, every: Int, key: String,
                  merge: DataFrame => Long) {
  require(every >= 1, s"group size must be >=1, got $every")

  private val root = Paths.get(stagingDir)

  private def stagedPages(): Seq[Long] =
    Fs.list(root).map(_.getFileName.toString)
      .collect { case n if n.startsWith("p=") => n.drop(2).toLong }
      .sorted

  /** Durable per-page commit; triggers a merge every K pages. Returns the
    * page's row count (the step's progress accounting, ref :208).
    *
    * The page number is claimed by atomically creating its directory
    * (`Fs.claimNext`), so an overlapping stager skips to the next slot
    * instead of colliding mid-write. */
  def stage(batch: DataFrame): Long = {
    val pages = stagedPages()
    Files.createDirectories(root)
    val next = Fs.claimNext(pages.lastOption.getOrElse(0L) + 1L)(n =>
      Files.createDirectory(Paths.get(s"$stagingDir/p=$n")))
    // Write AROUND the claim, not over it: Overwrite semantics would delete
    // the claimed directory before the committer recreates it, and in that
    // window a concurrent stager could re-claim the same page number. Stage
    // into a hidden tmp dir (leading "." — invisible to both stagedPages()
    // and Spark's partition discovery) and atomically rename onto the
    // claimed dir; rename(2) replaces an empty target directory, so the
    // claim is continuously present from createDirectory to data.
    val tmp = Paths.get(s"$stagingDir/.tmp_p=$next")
    batch.write.mode("overwrite").parquet(tmp.toString)
    Files.move(tmp, Paths.get(s"$stagingDir/p=$next"),
      StandardCopyOption.ATOMIC_MOVE)
    // count the staged files (never the decode lineage) from their
    // footers: no Spark job
    val n = PartitionedMerge.footerRows(
      PartitionedMerge.dataFiles(Paths.get(s"$stagingDir/p=$next")))
    if (pages.size + 1 >= every) flush()
    n
  }

  /** Merge all staged pages (latest page wins per `key`) and clear
    * exactly those pages. Safe to call with nothing staged. Idempotent
    * in effect: the downstream merge is last-writer-wins by natural key,
    * so a crash between merge and clear just re-merges the same rows on
    * recovery.
    *
    * Concurrent stagers: flushers mutually exclude via a try-lock (busy →
    * return 0; the running flusher merges what it listed, later pages
    * wait for the next flush or recover(); a lock older than 10 min is a
    * crashed flusher's and is broken). The read covers EXACTLY the listed
    * page dirs and only those dirs are deleted, so a page landing
    * mid-flush is neither read nor touched. */
  def flush(): Long =
    if (!Files.exists(root)) 0L
    else Fs.withLock(root.resolve("_flush_lock"), 10 * 60 * 1000L) {
      // a claimed-but-empty dir is a stage() mid-write (claim placed,
      // data not yet renamed in): not this flush's to read OR delete
      val pages = stagedPages().map(p => s"$stagingDir/p=$p")
        .map(d => d -> PartitionedMerge.dataFiles(Paths.get(d)))
        .filter(_._2.nonEmpty)
      val dirs = pages.map(_._1)
      if (dirs.isEmpty) 0L
      else {
        // the read schema is the union of the pages' footer schemas (one
        // footer per page: a page's files come from one write), so pages
        // staged across an additive schema change still union, with NULL
        // where a page lacks a column, and no job infers it
        val schema = pages.map(pg => PartitionedMerge.footerSchema(pg._2.head))
          .reduce(SchemaEvolution.mergeAdditive)
        // explicit page paths + basePath (→ `p` partition column), so a
        // page committed after the listing is out of scope
        val all = spark.read.schema(schema.add("p", LongType))
          .option("basePath", stagingDir).parquet(dirs: _*)
        val n = merge(Upsert.dedupe(all, Seq(key), Seq("p")).drop("p"))
        dirs.foreach(d => Fs.deleteRec(Paths.get(d)))
        n
      }
    }.getOrElse(0L)

  /** Run at step start: merge any pages a previous run staged but did not
    * flush (crash between stage and flush, or a Failed/BudgetExhausted
    * step) so the table catches up before new pages arrive. */
  def recover(): Unit = { flush(): Unit }
}
