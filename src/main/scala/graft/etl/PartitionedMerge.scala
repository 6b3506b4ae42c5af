package graft.etl

import java.io.{ByteArrayInputStream, RandomAccessFile}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.parquet.format.{FileMetaData, KeyValue, Util}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

import graft.model.SchemaEvolution
import graft.util.Fs

/** Bucketed, versioned table: the bounded-cost realization of the
  * reference's per-page `INSERT ... ON CONFLICT DO UPDATE` commit
  * (tiny_api_v2_cliente.py:122-123,198), shaped like a log-structured
  * merge tree (O'Neil et al. 1996).
  *
  * Layout: `path/gbucket=N/<file>.parquet`, N = pmod(hash(partition key),
  * buckets). There is one commit protocol: every write (`mergeInto`,
  * `replaceChildren`) claims the next version number `gseq`
  * and adds its rows as one delta file per bucket it touches, so a commit
  * costs O(batch) however large the table is. Reads resolve: per partition
  * key (the natural key of an upsert table, the parent key of a child
  * table) they keep the rows of the key's newest version. A bucket that
  * reaches `compactThreshold` files is folded back to one resolved base
  * file by `compact`, on the commit path, so read cost stays bounded.
  *
  * The same deterministic key→bucket function every commit means a key
  * always lives in exactly one bucket directory: resolution and compaction
  * never reconcile across buckets.
  */
object PartitionedMerge {

  /** Partition-directory column. Spark reads it back as an int partition
    * column; `read` drops it so downstream schemas are unchanged. */
  val BucketCol = "gbucket"

  /** Version column of every delta row; rows without one (compacted base
    * files) resolve as version 0, the oldest. */
  val SeqCol = "gseq"

  /** Set (true) only on the one marker row a `replaceChildren` commit
    * writes per batch parent: it makes the parent's new version exist even
    * when it has no children, and the resolved read drops it. */
  val MarkCol = "gmark"

  def bucketExpr(keys: Seq[String], numBuckets: Int): Column =
    pmod(hash(keys.map(col): _*), lit(numBuckets))

  // ---- table metadata -------------------------------------------------
  //
  // Bucket count, partition key and stored schema are TABLE properties,
  // kept in `_graft_meta.json`. An append hashing with a different count
  // than the base would put one key in two bucket directories, so every
  // later write uses the persisted count and IGNORES a mismatched caller
  // parameter. `read(spark, path)` takes no keys: it resolves by the
  // recorded key, and reads under the recorded schema, so neither a read
  // nor a commit infers a schema with a Spark job. A table whose data has
  // no such record (written before versioned commits) is rejected.

  private def metaFile(path: String) = Paths.get(path, "_graft_meta.json")

  private val Json = new ObjectMapper()

  private case class Meta(numBuckets: Int, keys: Seq[String],
                          schema: StructType)

  private def unrecorded(path: String) = new IllegalStateException(
    s"table $path records no bucket count, key and schema in " +
      "_graft_meta.json: it was written before versioned commits; " +
      "rebuild it with a full run into an empty target")

  private def meta(path: String): Option[Meta] =
    Some(metaFile(path)).filter(Files.exists(_)).map { f =>
      val j = Json.readTree(Files.readAllBytes(f))
      if (!j.has("keys") || !j.has("schema")) throw unrecorded(path)
      Meta(j.get("numBuckets").asInt,
        j.get("keys").elements.asScala.map(_.asText).toSeq,
        DataType.fromJson(j.get("schema").toString).asInstanceOf[StructType])
    }

  private def recorded(path: String): Meta =
    meta(path).getOrElse(throw unrecorded(path))

  /** Bucket count recorded in the table's metadata file, if any. */
  def persistedBuckets(path: String): Option[Int] = meta(path).map(_.numBuckets)

  /** Record `schema`'s columns in the table's metadata. Under the
    * metadata lock the record is re-read, merged and replaced atomically
    * (`Fs.replace`), so two writers that each add a column both land, and
    * a concurrent reader sees the old or the new record. */
  private def recordSchema(path: String, numBuckets: Int, keys: Seq[String],
                           schema: StructType): Unit =
    Fs.awaitLock(Paths.get(path, "_meta_lock"), 60 * 1000L) {
      val cur = meta(path)
      cur.foreach(m => require(m.numBuckets == numBuckets && m.keys == keys,
        s"table $path was concurrently created with another layout"))
      val merged = cur.fold(schema)(m =>
        nullable(SchemaEvolution.mergeAdditive(m.schema, schema)))
      if (!cur.exists(_.schema == merged))
        Fs.replace(metaFile(path), s"""{"numBuckets":$numBuckets,"keys":""" +
          s"""${Json.writeValueAsString(keys.asJava)},"schema":${merged.json}}""")
    }

  private def nullable(s: StructType) =
    StructType(s.map(_.copy(nullable = true)))

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

  /** A parquet file's footer, decoded on the driver: no Spark job. A file
    * ends in its thrift-encoded footer, the footer's 4-byte little-endian
    * length and the magic `PAR1`. */
  private def footer(p: Path): FileMetaData = {
    val f = new RandomAccessFile(p.toFile, "r")
    try {
      f.seek(f.length - 8)
      val bytes = new Array[Byte](Integer.reverseBytes(f.readInt()))
      f.seek(f.length - 8 - bytes.length)
      f.readFully(bytes)
      Util.readFileMetaData(new ByteArrayInputStream(bytes), true)
    } finally f.close()
  }

  /** Row count of parquet files, summed from their footers. */
  private[etl] def footerRows(files: Seq[Path]): Long =
    files.map(footer(_).getNum_rows).sum

  /** The Spark schema Spark's parquet writer records in a file's footer. */
  private[etl] def footerSchema(file: Path): StructType =
    Option(footer(file).getKey_value_metadata).fold(Seq.empty[KeyValue])(_.asScala.toSeq)
      .find(_.getKey == "org.apache.spark.sql.parquet.row.metadata")
      .map(kv => DataType.fromJson(kv.getValue).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"$file records no Spark schema in its footer"))

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

  /** Every stored row with its bucket column, of the whole table or of
    * `files` only, under the recorded `schema` plus `gseq`: a column a
    * file lacks reads as NULL. */
  private def scan(spark: SparkSession, path: String, schema: StructType,
                   files: Seq[Path] = Nil): DataFrame = {
    val r = spark.read.schema(
      schema.add(SeqCol, LongType).add(BucketCol, IntegerType))
    if (files.isEmpty) r.parquet(path)
    else r.option("basePath", path).parquet(files.map(_.toString): _*)
  }

  /** A row's version: its `gseq`, 0 for a compacted base row. */
  private val version: Column = coalesce(col(SeqCol), lit(0L))

  /** The one resolution rule: per partition key, the rows of its newest
    * version — the highest `gseq`, and of that version one file. Two files
    * hold the same version only between a compaction's base move-in and
    * its delete of the older copy (or after a crash there); both copies
    * carry the same rows, so taking the rows of one keeps a parent's child
    * set whole and never doubles it. Parent markers, `gseq` and `gmark`
    * are dropped; the bucket column is kept. */
  private def latest(stored: DataFrame, keys: Seq[String]): DataFrame = {
    val top = stored
      .withColumn("__v", struct(version, xxhash64(input_file_name())))
      .withColumn("__top",
        max(col("__v")).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__v") === col("__top"))
    val live =
      if (stored.columns.contains(MarkCol)) top.filter(col(MarkCol).isNull)
      else top
    live.drop("__v", "__top", SeqCol, MarkCol)
  }

  /** The table resolved to its newest version per recorded key, bucket
    * column dropped. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val m = recorded(path)
    latest(scan(spark, path, m.schema), m.keys).drop(BucketCol)
  }

  /** Upsert `updates` into the table at `path` by natural key: the batch,
    * collapsed to one row per key by `Upsert.dedupe` inside the write plan,
    * becomes the keys' newest version. Additive schema evolution
    * (SchemaEvolution): new columns land, older rows read them as NULL, a
    * type change is rejected. Returns the number of rows written.
    * Idempotent: re-merging the same batch changes no resolved row.
    * `compactThreshold`: see `commit`. */
  def mergeInto(spark: SparkSession, path: String, updates: DataFrame,
                keys: Seq[String], numBuckets: Int = 16,
                compactThreshold: Int = 32): Long =
    commit(spark, path, updates, keys, numBuckets, compactThreshold,
      dedupe = true)

  /** Replace-children commit for header-detail fan-out (ref FK CASCADE,
    * tiny_api_v2_cliente.py:89): the children of every parent in `parents`
    * become `children`; other parents' children are untouched. The table is
    * bucketed and resolved on the PARENT key, so a parent's version is its
    * whole child set. Each batch parent also gets one marker row (NULL
    * child columns, `gmark` true): a parent updated to ZERO children still
    * has a new, empty version that shadows its old children. */
  def replaceChildren(spark: SparkSession, path: String, children: DataFrame,
                      parents: DataFrame, parentKey: String,
                      numBuckets: Int = 16): Unit =
    commit(spark, path,
      children.unionByName(
        parents.select(col(parentKey), lit(true).as(MarkCol)),
        allowMissingColumns = true),
      Seq(parentKey), numBuckets, compactThreshold = 32, dedupe = false): Unit

  /** The one commit: append `rows` as version `gseq` of the table at
    * `path`, one delta file per touched bucket — cost O(batch), independent
    * of table size. `dedupe` collapses the batch to one row per key in the
    * write plan (an upsert); without it every row of a key is its version (a
    * child set). Returns the row count, summed from the written files'
    * footers.
    *
    * Auto-compaction: after the append, any bucket whose data-file count
    * reached `compactThreshold` is compacted in place, so the commit path
    * itself bounds merge-on-read cost and unattended cron appends cannot
    * degrade readers. Amortized cost per append stays
    * O(page + bucket/threshold); pass `compactThreshold = 0` to disable
    * and schedule `compact` manually. Appends, compactions and additive
    * schema changes may overlap, from any number of processes.
    *
    * An empty batch still claims its version (a gap no row carries) and
    * records the table's schema, so a table first committed empty exists
    * and reads as empty. */
  private def commit(spark: SparkSession, path: String, rows: DataFrame,
                     keys: Seq[String], numBuckets: Int,
                     compactThreshold: Int, dedupe: Boolean): Long = {
    val m0 = meta(path)
    if (m0.isEmpty && buckets(path).nonEmpty) throw unrecorded(path)
    m0.foreach(m => require(m.keys == keys,
      s"table $path is keyed on ${m.keys.mkString(",")}, not ${keys.mkString(",")}"))
    val nb = m0.fold(numBuckets)(_.numBuckets)
    // a type change is rejected here, before anything is written
    val schema = nullable(m0.fold(rows.schema)(m =>
      SchemaEvolution.mergeAdditive(m.schema, rows.schema)))
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
    val n = try {
      writeBuckets(rows.withColumn(SeqCol, lit(seq))
        .withColumn(BucketCol, bucketExpr(keys, nb)), tmp,
        dedupeOn = if (dedupe) keys else Nil)
      val staged = buckets(tmp)
      val written = footerRows(staged.flatMap(b => dataFiles(bucketDir(tmp, b))))
      // the schema is recorded before any file of this version is visible;
      // the record only grows, so one already covering `schema` stays
      if (!m0.exists(_.schema == schema)) recordSchema(path, nb, keys, schema)
      staged.foreach(b =>
        moveDataFiles(bucketDir(tmp, b), bucketDir(path, b), s"delta-$seq"))
      written
    } finally Fs.deleteRec(Paths.get(tmp))
    if (compactThreshold > 0 && n > 0) {
      val frag = buckets(path)
        .filter(b => dataFiles(bucketDir(path, b)).size >= compactThreshold)
      if (frag.nonEmpty) compact(spark, path, only = Some(frag.toSet)): Unit
    }
    n
  }

  /** The one bucketed writer: rows laid out as `dir/gbucket=N/`, one
    * task (so one file) per bucket. The partition count is explicit so a
    * small batch is still written by every core, not coalesced into one
    * task that writes every bucket's file in turn. `dedupeOn` keys are
    * deduped (`Upsert.dedupe`) after that one shuffle: a key's rows share
    * its bucket, so they already share a task. */
  private def writeBuckets(rows: DataFrame, dir: String,
                           dedupeOn: Seq[String] = Nil): Unit = {
    val spread = rows.repartition(
      rows.sparkSession.sparkContext.defaultParallelism, col(BucketCol))
    (if (dedupeOn.isEmpty) spread
     else Upsert.dedupe(spread, BucketCol +: dedupeOn))
      .write.partitionBy(BucketCol).mode(SaveMode.Overwrite).parquet(dir)
  }

  // ---- version numbers -------------------------------------------------

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

  // ---- per-bucket compaction --------------------------------------------

  /** Per-bucket compaction: every bucket directory holding more than one
    * data file (restricted to `only` when given) is collapsed to its
    * resolved rows in a single base file; buckets already compact see zero
    * I/O. Resolves by the recorded key. Returns (bucket, filesBefore) for
    * the buckets it rewrote.
    * Idempotent, and read results are unchanged by construction — the
    * spec asserts both.
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
    * delta is deleted it keeps winning over the new base (same rows,
    * higher gseq), and once it is deleted every older carrier of that
    * key is already gone, so the base's folded rows win; an older base
    * still present holds the same version as the new one, and the read
    * takes one file's copy; deltas landed mid-compaction are never deleted
    * and resolve above the base. A crash at any step leaves base +
    * leftover snapshot files — readers stay correct and the next
    * compaction folds again. This is also the object-store-shaped commit:
    * per-file puts and deletes, no atomic directory rename required.
    *
    * Compactors mutually exclude via `Fs.withLock` (two appenders crossing
    * the auto-compact threshold together must not both rewrite): busy →
    * empty result, the running compactor covers the work. A lock older
    * than `staleLockMs` is a crashed compactor's and is broken. */
  def compact(spark: SparkSession, path: String,
              only: Option[Set[Int]] = None,
              staleLockMs: Long = 10 * 60 * 1000L): Seq[(Int, Int)] =
    if (!Files.exists(Paths.get(path))) Seq.empty
    else Fs.withLock(Paths.get(path, "_compact_lock"), staleLockMs)(
      compactLocked(spark, path, only)).getOrElse(Seq.empty)

  private def compactLocked(spark: SparkSession, path: String,
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
    val m = recorded(path)
    val stored = scan(spark, path, m.schema, snapshot.flatMap(_._2))
    // per-file max version — the DELETION ORDER below depends on it
    val fileRe = (java.util.regex.Pattern.quote(s"$BucketCol=") +
      "(\\d+)/([^/]+)$").r.unanchored
    val fileVer: Map[(Int, String), Long] = stored
      .groupBy(input_file_name().as("f"))
      .agg(max(version).as("v"))
      .collect().flatMap { r =>
        r.getString(0) match {
          case fileRe(b, f) => Some((b.toInt, f) -> r.getLong(1))
          case _ => None
        }
      }.toMap
    // unique per-run tmp dir: a crashed run's leftovers are inert to
    // every later run (and cleaned up by the next locked compactor)
    val tmp = path + s".tmp-compact-${System.nanoTime}"
    writeBuckets(latest(stored, m.keys), tmp)
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
}
