package graft.etl

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SchemaEvolution
import graft.util.Fs

/** Bucket-partitioned merge: the bounded-cost realization of the
  * reference's per-page `INSERT ... ON CONFLICT DO UPDATE` commit
  * (tiny_api_v2_cliente.py:122-123,198) for tables too large to rewrite
  * per batch.
  *
  * Layout: `path/gbucket=N/part-*.parquet`, N = pmod(hash(keys), buckets).
  * A merge computes the buckets its update batch touches, reads ONLY those
  * partitions (directory-pruned scan), merges by natural key, and swaps
  * ONLY those bucket directories. Untouched buckets see zero I/O, so the
  * per-batch cost is O(touched buckets × bucket size), not O(table) — at
  * 100 TB with thousands of buckets an incremental page rewrites a few
  * buckets, and the write itself runs one task per touched bucket instead
  * of a single coalesce(1) task. A missing table is an empty existing
  * side: the first merge creates it through the same rewrite.
  *
  * The same deterministic key→bucket function every batch means a key
  * always lives in exactly one bucket directory — merge correctness needs
  * no cross-bucket reconciliation.
  */
object PartitionedMerge {

  /** Partition-directory column. Spark reads it back as an int partition
    * column; `read` drops it so downstream schemas are unchanged. */
  val BucketCol = "gbucket"

  def bucketExpr(keys: Seq[String], numBuckets: Int): Column =
    pmod(hash(keys.map(col): _*), lit(numBuckets))

  // ---- table metadata -------------------------------------------------
  //
  // The bucket count is a TABLE property, not a call-site parameter: an
  // append hashing with a different count than the base puts the same key
  // in two bucket directories, and compaction (which drops gseq) then
  // silently breaks latest-wins. First write persists the count in
  // `_graft_meta.json`; every later write resolves against it and IGNORES
  // a mismatched caller parameter — the persisted layout is the truth.

  private def metaFile(path: String) = Paths.get(path, "_graft_meta.json")

  /** Bucket count recorded in the table's metadata file, if any. */
  def persistedBuckets(path: String): Option[Int] = {
    val f = metaFile(path)
    if (!Files.exists(f)) None
    else "\"numBuckets\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
      .map(_.group(1).toInt)
  }

  /** Persisted count wins over the requested parameter; tables created
    * before metadata existed fall back to the parameter (unchanged
    * behavior) and get the file stamped on their next write. */
  private def resolveBuckets(path: String, requested: Int): Int =
    persistedBuckets(path).getOrElse(requested)

  /** Called after a write has created the table root. */
  private def stampMeta(path: String, numBuckets: Int): Unit =
    if (persistedBuckets(path).isEmpty)
      Files.write(metaFile(path),
        s"""{"numBuckets":$numBuckets}""".getBytes("UTF-8")): Unit

  // ---- bucket directories (driver-side listings, never a Spark job) ----

  private def bucketDir(path: String, b: Int): Path =
    Paths.get(s"$path/$BucketCol=$b")

  /** Bucket numbers present under a table (or tmp table) root. */
  private def buckets(path: String): Seq[Int] =
    Fs.list(Paths.get(path)).map(_.getFileName.toString)
      .collect { case d if d.startsWith(s"$BucketCol=") =>
        d.stripPrefix(s"$BucketCol=").toInt }
      .sorted

  /** Parquet data files in one directory. */
  private[etl] def dataFiles(dir: Path): List[Path] =
    Fs.list(dir).filter(_.getFileName.toString.endsWith(".parquet"))

  /** Move the data files of `from` into the live directory `to` under
    * fresh names `<prefix>-<i>.parquet`: the directory never vanishes, and
    * concurrent writers' files never collide. */
  private def moveDataFiles(from: Path, to: Path, prefix: String): Unit = {
    Files.createDirectories(to)
    dataFiles(from).zipWithIndex.foreach { case (f, i) =>
      Files.move(f, to.resolve(s"$prefix-$i.parquet")): Unit
    }
  }

  // ---- reads and writes (Spark jobs stay in this file) ------------------

  private def scan(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** The table's rows, bucket column included; a missing table is an
    * empty frame shaped like `like`. */
  private def existing(spark: SparkSession, path: String,
                       like: DataFrame): DataFrame =
    if (Files.exists(Paths.get(path))) scan(spark, path) else like.limit(0)

  /** Row count and sorted distinct buckets of `df` from one aggregate: a
    * ≤numBuckets-int driver collect, never data rows. */
  private def countAndBuckets(df: DataFrame): (Long, Seq[Int]) = {
    val r = df.agg(count(lit(1)), sort_array(collect_set(col(BucketCol))))
      .head()
    (r.getLong(0), r.getSeq[Int](1))
  }

  /** Partition pruning keeps the scan to the touched directories only. */
  private def inBuckets(df: DataFrame, touched: Seq[Int]): DataFrame =
    df.filter(col(BucketCol).isin(touched.map(Integer.valueOf): _*))

  /** The one bucketed writer: rows laid out as `dir/gbucket=N/`, one
    * task (so one file) per bucket. */
  private def writeBuckets(rows: DataFrame, dir: String): Unit =
    rows.repartition(col(BucketCol))
      .write.partitionBy(BucketCol).mode(SaveMode.Overwrite).parquet(dir)

  /** Replace the `touched` buckets of the table at `path` with `rows`:
    * write them to a tmp table, swap each touched bucket directory in
    * (`Fs.swapInto`), delete the tmp table. A touched bucket `rows` leaves
    * empty becomes an empty directory (kept so the partitioned read keeps
    * working). A missing table is created. */
  private def rewrite(path: String, rows: DataFrame, touched: Seq[Int],
                      numBuckets: Int): Unit = {
    if (touched.isEmpty) return
    val tmp = path + ".tmp"
    writeBuckets(rows, tmp)
    Files.createDirectories(Paths.get(path))
    touched.foreach { b =>
      if (Files.exists(bucketDir(tmp, b)))
        Fs.swapInto(bucketDir(tmp, b), bucketDir(path, b))
      else {
        Fs.deleteRec(bucketDir(path, b))
        Files.createDirectories(bucketDir(path, b)): Unit
      }
    }
    Fs.deleteRec(Paths.get(tmp))
    stampMeta(path, numBuckets) // also migrates pre-metadata tables
  }

  /** Read a bucketed table with the engine-internal bucket column dropped.
    * `mergeSchema` because additive evolution only rewrites touched
    * buckets — after an evolving merge, untouched bucket files still carry
    * the old schema and their rows surface the new columns as NULL (same
    * observable result as the flat rewrite). At 100 TB the footer-sampling
    * cost goes away by pinning the table schema from the catalog
    * (model/Schemas) instead. */
  def read(spark: SparkSession, path: String): DataFrame =
    scan(spark, path).drop(BucketCol)

  /** Merge `updates` into the bucketed table at `path` by natural key,
    * rewriting only the buckets the batch touches. Applies additive schema
    * evolution (SchemaEvolution) like the flat merge. Returns the batch
    * row count. Idempotent: re-merging the same batch is a no-op. */
  def mergeInto(spark: SparkSession, path: String, updates: DataFrame,
                keys: Seq[String], numBuckets: Int = 16): Long = {
    // referenced three times (count and buckets, anti-join keys, merge
    // union): pin once so the caller's lineage doesn't re-run per reference
    val nb = resolveBuckets(path, numBuckets)
    val batch = updates.withColumn(BucketCol, bucketExpr(keys, nb))
      .localCheckpoint()
    val (n, touched) = countAndBuckets(batch)
    if (n == 0) return 0L
    val table = existing(spark, path, batch)
    val evolved = SchemaEvolution.mergeAdditive(table.schema, batch.schema)
    val conformed = SchemaEvolution.conform(batch, evolved)
    // the key set comes from the pinned batch, so the dedupe runs once
    rewrite(path, Upsert.replaceKeys(
      inBuckets(SchemaEvolution.conform(table, evolved), touched),
      Upsert.dedupe(conformed, keys), conformed, keys), touched, nb)
    n
  }

  // ---- delta-append commit + per-bucket compaction ----------------------
  //
  // mergeInto bounds each commit to the touched buckets, but a touched
  // bucket is REWRITTEN whole — over weeks of cron runs against a grown
  // table, per-commit cost creeps toward O(bucket size) even for a tiny
  // page. The LSM-shaped alternative: append the batch as per-bucket
  // DELTA files (O(page) per commit, flat forever), resolve
  // latest-per-key at read time, and run a per-bucket compaction on a
  // schedule to bound the file count the reader merges. Growth is
  // bounded by compaction cadence, and compaction itself rewrites one
  // bucket at a time (independently parallelizable, never the table).

  /** Version column embedded in delta files; base files carry none and
    * resolve as version 0 (oldest). */
  val SeqCol = "gseq"

  private def seqDir(path: String) = Paths.get(path, "_seq")

  /** Claim markers `_seq/<n>` by number. */
  private def markers(path: String): Map[Long, Path] =
    Fs.list(seqDir(path)).map(p => p.getFileName.toString -> p)
      .collect { case (n, p) if n.nonEmpty && n.forall(_.isDigit) =>
        n.toLong -> p }
      .toMap

  /** Atomically allocate the next batch version by claiming `_seq/<n>`
    * (`Fs.claimNext` over `Files.createFile`): two concurrent appenders
    * never stamp the same gseq on different batches. Allocation happens
    * BEFORE the data write, so a crash mid-append burns a seq number (a
    * gap — harmless) instead of ever reusing one. */
  private def allocSeq(path: String): Long = {
    Files.createDirectories(seqDir(path))
    Fs.claimNext(markers(path).keys.maxOption.getOrElse(0L) + 1L)(n =>
      Files.createFile(seqDir(path).resolve(n.toString)))
  }

  /** Delete claim markers strictly below the current max (compaction
    * housekeeping — the max stays so allocation remains monotone). */
  private def pruneMarkers(path: String): Unit = {
    val ms = markers(path)
    ms.keys.maxOption.foreach(keep =>
      ms.foreach { case (n, p) => if (n < keep) Files.deleteIfExists(p) })
  }

  /** A scan of base and delta files with every row's version in `gseq`. */
  private def versioned(all: DataFrame): DataFrame =
    all.withColumn(SeqCol,
      if (all.columns.contains(SeqCol)) coalesce(col(SeqCol), lit(0L))
      else lit(0L))

  /** Latest version per key (merge-on-read), `gseq` dropped. */
  private def latest(versioned: DataFrame, keys: Seq[String]): DataFrame =
    Upsert.dedupe(versioned, keys, Seq(SeqCol)).drop(SeqCol)

  /** Append `updates` as delta files into the bucket layout at `path` —
    * cost O(batch), independent of table size. Batches must be key-unique
    * (GroupCommit.flush hands exactly that); later appends win per key.
    * Composes with a mergeInto-created base: base rows have no gseq and
    * lose to any delta. Returns the batch row count.
    *
    * Auto-compaction: after the append, any bucket whose data-file count
    * reached `compactThreshold` is compacted in place, so the commit path
    * itself bounds merge-on-read cost and unattended cron appends cannot
    * degrade readers. Amortized cost per append stays
    * O(page + bucket/threshold); pass `compactThreshold = 0` to disable
    * and schedule `compact` manually. Single-writer per table is assumed
    * for the mergeInto rewrite; appends and compactions may overlap. */
  def appendInto(spark: SparkSession, path: String, updates: DataFrame,
                 keys: Seq[String], numBuckets: Int = 16,
                 compactThreshold: Int = 32): Long = {
    val flat = updates.localCheckpoint()
    val n = flat.count()
    if (n == 0) return 0L
    val nb = resolveBuckets(path, numBuckets)
    val seq = allocSeq(path)
    // Stage in a PRIVATE per-append dir, then move files into the live
    // bucket dirs: a direct SaveMode.Append from two JVMs shares one
    // FileOutputCommitter `_temporary/0` under the table root, and
    // whichever job commits first deletes the other's staging. Per-file
    // moves carry the allocated seq in the name and never collide.
    // Crash model: before any move, only an unreferenced unique tmp
    // remains (the seq number burns); a crash MID-move leaves a torn,
    // UNACKNOWLEDGED batch visible — harmless under the step driver's
    // retry contract (CrashRecoverySpec): the re-run re-appends the same
    // page under a higher seq, whose rows win per key at read time.
    val tmp = path + s".tmp-append-$seq"
    writeBuckets(flat.withColumn(BucketCol, bucketExpr(keys, nb))
      .withColumn(SeqCol, lit(seq)), tmp)
    buckets(tmp).foreach(b =>
      moveDataFiles(bucketDir(tmp, b), bucketDir(path, b), s"delta-$seq"))
    Fs.deleteRec(Paths.get(tmp))
    stampMeta(path, nb)
    if (compactThreshold > 0) {
      val frag = buckets(path)
        .filter(b => dataFiles(bucketDir(path, b)).size >= compactThreshold)
      if (frag.nonEmpty)
        compact(spark, path, keys, only = Some(frag.toSet)): Unit
    }
    n
  }

  /** Read a delta-append table resolved to the latest version per key
    * (merge-on-read). Engine-internal bucket/version columns dropped. */
  def readResolved(spark: SparkSession, path: String,
                   keys: Seq[String]): DataFrame =
    latest(versioned(read(spark, path)), keys)

  /** Per-bucket compaction: every bucket directory holding more than one
    * data file (restricted to `only` when given) is collapsed to its
    * resolved rows (latest gseq per key) in a single base file; buckets
    * already compact see zero I/O. Returns (bucket, filesBefore) for the
    * buckets it rewrote. Idempotent, and read results are unchanged by
    * construction — the spec asserts both.
    *
    * Concurrent appends: the rewrite never moves a directory (a bucket
    * directory that briefly does not exist breaks a concurrent appender's
    * listing of the table). (1) The bucket's data files are SNAPSHOTTED
    * and exactly those files are read and resolved — a delta landing later
    * is simply not part of this compaction; (2) the resolved base FILE
    * is moved into the live directory under a fresh name; (3) the
    * snapshot files are deleted in increasing version order (base files
    * first, then deltas oldest-gseq-first). Every intermediate state
    * resolves correctly at read time: until a key's newest snapshot
    * delta is deleted it keeps winning over the new base (same value,
    * higher gseq), and once it is deleted every older carrier of that
    * key is already gone, so the base's folded value wins; deltas landed
    * mid-compaction are never deleted and resolve above the base. A
    * crash at any step leaves base + leftover snapshot files — readers
    * stay correct and the next compaction folds again. This is also the
    * object-store-shaped commit: per-file puts and deletes, no atomic
    * directory rename required.
    *
    * Compactors mutually exclude via `Fs.withLock` (two appenders crossing
    * the auto-compact threshold together must not both rewrite): busy →
    * empty result, the running compactor covers the work. A lock older
    * than `staleLockMs` is a crashed compactor's and is broken. */
  def compact(spark: SparkSession, path: String, keys: Seq[String],
              only: Option[Set[Int]] = None,
              staleLockMs: Long = 10 * 60 * 1000L): Seq[(Int, Int)] =
    if (!Files.exists(Paths.get(path))) Seq.empty
    else Fs.withLock(Paths.get(path, "_compact_lock"), staleLockMs)(
      compactLocked(spark, path, keys, only)).getOrElse(Seq.empty)

  private def compactLocked(spark: SparkSession, path: String,
                            keys: Seq[String],
                            only: Option[Set[Int]]): Seq[(Int, Int)] = {
    // under the compactor lock: sweep tmp dirs of dead runs (crashed
    // before their own cleanup) — unique names make them unreferenced
    val abs = Paths.get(path).toAbsolutePath
    Fs.list(abs.getParent)
      .filter(_.getFileName.toString.startsWith(s"${abs.getFileName}.tmp-compact-"))
      .foreach(Fs.deleteRec)
    // snapshot the exact file set this compaction owns; deltas landing
    // after this listing are neither read nor deleted
    val snapshot = buckets(path).filter(b => only.forall(_.contains(b)))
      .map(b => b -> dataFiles(bucketDir(path, b)))
      .filter(_._2.size > 1)
    if (snapshot.isEmpty) return Seq.empty
    val withSeq = versioned(spark.read.option("mergeSchema", "true")
      .option("basePath", path)
      .parquet(snapshot.flatMap(_._2).map(_.toString): _*))
    // per-file max version — the DELETION ORDER below depends on it
    val fileRe = (java.util.regex.Pattern.quote(s"$BucketCol=") +
      "(\\d+)/([^/]+)$").r.unanchored
    val fileVer: Map[(Int, String), Long] = withSeq
      .groupBy(input_file_name().as("f"))
      .agg(max(col(SeqCol)).as("v"))
      .collect().flatMap { r =>
        r.getString(0) match {
          case fileRe(b, f) => Some((b.toInt, f) -> r.getLong(1))
          case _ => None
        }
      }.toMap
    // unique per-run tmp dir: a crashed run's leftovers are inert to
    // every later run (and cleaned up by the next locked compactor)
    val tmp = path + s".tmp-compact-${System.nanoTime}"
    writeBuckets(latest(withSeq, keys), tmp)
    snapshot.foreach { case (b, files) =>
      // 1. commit the new base file(s) into the LIVE directory
      moveDataFiles(bucketDir(tmp, b), bucketDir(path, b),
        s"base-${System.nanoTime}")
      // 2. delete this compaction's snapshot files, lowest version first
      //    (see scaladoc invariant); files a concurrent appender landed
      //    meanwhile are not in the snapshot and are untouched
      files.map(_.getFileName.toString)
        .sortBy(f => (fileVer.getOrElse((b, f), 0L), f))
        .foreach(f => Files.deleteIfExists(bucketDir(path, b).resolve(f)): Unit)
    }
    Fs.deleteRec(Paths.get(tmp))
    pruneMarkers(path)
    snapshot.map { case (b, files) => b -> files.size }
  }

  /** Replace-children merge for header-detail fan-out (ref FK CASCADE,
    * tiny_api_v2_cliente.py:89): all detail rows of the `parents` in this
    * batch are replaced by `children`, other parents' rows are kept.
    * `parents` is passed explicitly — a parent updated to ZERO children
    * must still have its stale children cleared. Buckets on the PARENT key
    * so a parent's children co-locate in one bucket, and only the buckets
    * whose parents appear in the batch are rewritten. */
  def replaceChildren(spark: SparkSession, path: String, children: DataFrame,
                      parents: DataFrame, parentKey: String,
                      numBuckets: Int = 16): Unit = {
    val nb = resolveBuckets(path, numBuckets)
    // children are read once (the write); the parent keys twice (touched
    // buckets, anti join), so only they are pinned
    val batch = children.withColumn(BucketCol, bucketExpr(Seq(parentKey), nb))
    val parentKeys = parents.select(col(parentKey))
      .withColumn(BucketCol, bucketExpr(Seq(parentKey), nb))
      .localCheckpoint()
    val touched = countAndBuckets(parentKeys)._2
    val kept = inBuckets(existing(spark, path, batch), touched)
      .join(parentKeys.select(parentKey), Seq(parentKey), "left_anti")
    rewrite(path, kept.unionByName(batch, allowMissingColumns = true),
      touched, nb)
  }
}
