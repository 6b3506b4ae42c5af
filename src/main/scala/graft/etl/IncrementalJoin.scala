package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-JOIN maintenance (round 11) — the delta-join
  * algebra complement to IncrementalAgg/SketchMaintenance: a materialized
  * inner equi-join J = R ⋈_k S kept current as EITHER side receives new
  * rows, via the classic insert-only IVM identity
  *
  *   ΔJ = (ΔR ⋈ S_old) ∪ (R_old ⋈ ΔS) ∪ (ΔR ⋈ ΔS)
  *
  * so each refresh joins only the deltas against the other side's
  * accumulated state — the join HISTORY is never rescanned, and the
  * per-refresh cost is O(Δ · matching state), not O(|R|·|S| history).
  * Insert-only is the reference's append-style ingest posture; updates/
  * deletes are the natural-key upsert sink's domain (etl.Upsert), not
  * this module's.
  *
  * Crash safety is a VERSIONED COMMIT, not swap-per-table: a refresh
  * touches three tables (R, S, J) and three independent swaps can be
  * interrupted between any two, leaving states that double- or
  * half-apply a redelivered batch. Instead every refresh writes all
  * three tables under a fresh `v<epoch>/` directory and then commits by
  * atomically replacing the single `_current` pointer file — a reader or
  * a crashed-and-restarted refresh either sees the complete old version
  * or the complete new one, never a mix. Redelivery is idempotent by
  * epoch: a refresh whose epoch is ≤ the committed epoch is a no-op
  * (the driver's page-checkpoint discipline, s5, applied to IVM).
  *
  * Scale posture: the version write rewrites R ∪ ΔR and S ∪ ΔS — at
  * 100 TB those become PartitionedMerge bucketed-delta tables (append
  * O(Δ) into hash buckets; the amortized-prune pattern of
  * chunkDedupBatchBucketed) with the SAME pointer-commit on top; the
  * delta-join shape — the part that matters — is unchanged: ΔR joins
  * S's buckets on the join key with the big side never re-shuffled.
  */
object IncrementalJoin {

  private def pointer(base: String) = Paths.get(base, "_current")

  /** Committed epoch, or None before the first refresh. */
  def committedEpoch(base: String): Option[Long] = {
    val p = pointer(base)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
  }

  private def vdir(base: String, epoch: Long, table: String): String =
    Paths.get(base, s"v$epoch", table).toString

  /** The materialized join as of the last committed refresh. Fails with a
    * descriptive error (not a bare None.get) before the first commit. */
  def readJoin(spark: SparkSession, base: String): DataFrame = {
    val epoch = committedEpoch(base).getOrElse(sys.error(
      s"IncrementalJoin: no committed version at $base (run refresh first)"))
    spark.read.parquet(vdir(base, epoch, "J"))
  }

  /** Fold one batch (either or both sides' new rows) into the
    * materialized join. `epoch` must increase strictly across refreshes;
    * a redelivered (≤ committed) epoch is a no-op. Returns true if the
    * refresh applied.
    *
    * Writer contract: SINGLE WRITER. The pointer commit is guarded by a
    * `_refresh.lock` file (created atomically, re-checks the committed
    * epoch inside the critical section), so a concurrent refresh that
    * loses the race aborts loudly instead of moving the pointer backward
    * and GC-ing the winner's version. Readers are protected by a GC
    * delete-lag of 1: the previous committed version's files survive one
    * refresh, so a DataFrame obtained from readJoin just before a refresh
    * can still complete its action against the old version. */
  def refresh(spark: SparkSession, base: String, key: String,
              deltaR: DataFrame, deltaS: DataFrame, epoch: Long): Boolean = {
    val committed = committedEpoch(base)
    if (committed.exists(epoch <= _)) return false // redelivery: no-op
    // the three ΔJ legs union BY NAME: non-key column names must be
    // disjoint across sides or the join output would alias them
    require((deltaR.columns.toSet - key)
      .intersect(deltaS.columns.toSet - key).isEmpty,
      "IncrementalJoin: R and S must have disjoint non-key column names")
    val (rOld, sOld, jOld) = committed match {
      case Some(e) => (
        Some(spark.read.parquet(vdir(base, e, "R"))),
        Some(spark.read.parquet(vdir(base, e, "S"))),
        Some(spark.read.parquet(vdir(base, e, "J"))))
      case None => (None, None, None)
    }
    // localCheckpoint the deltas: each participates in three joins below
    // and must not re-read (or re-randomize) its source plan
    val dR = deltaR.localCheckpoint()
    val dS = deltaS.localCheckpoint()
    def j(l: DataFrame, r: DataFrame): DataFrame = l.join(r, key)
    val deltaJ = Seq(
      sOld.map(j(dR, _)).getOrElse(j(dR, dS).limit(0)), // ΔR ⋈ S_old
      rOld.map(j(_, dS)).getOrElse(j(dR, dS).limit(0)), // R_old ⋈ ΔS
      j(dR, dS) // ΔR ⋈ ΔS
    ).reduce(_ unionByName _)
    val rNew = rOld.map(_.unionByName(dR)).getOrElse(dR)
    val sNew = sOld.map(_.unionByName(dS)).getOrElse(dS)
    val jNew = jOld.map(_.unionByName(deltaJ)).getOrElse(deltaJ)
    rNew.write.mode(SaveMode.Overwrite).parquet(vdir(base, epoch, "R"))
    sNew.write.mode(SaveMode.Overwrite).parquet(vdir(base, epoch, "S"))
    jNew.write.mode(SaveMode.Overwrite).parquet(vdir(base, epoch, "J"))
    // commit: take the writer lock, re-check the committed epoch inside
    // the critical section (a concurrent refresh may have won since the
    // optimistic check at entry), then atomically replace the pointer
    Files.createDirectories(Paths.get(base))
    // a held lock is never broken (staleMs = MaxValue): single writer,
    // so a leftover lock needs an operator, not a takeover
    graft.util.Fs.withLock(Paths.get(base, "_refresh.lock"), Long.MaxValue) {
      // fresh read inside the critical section: both the lost-race check
      // AND the GC keep-set below must see the epoch committed by any
      // refresh that won between our optimistic entry read and the lock —
      // building keep from the stale entry-time `committed` would delete
      // the immediately-previous version and break the delete-lag of 1
      val cur = committedEpoch(base)
      if (cur.exists(epoch <= _)) {
        // lost the race: a concurrent refresh committed ≥ our epoch.
        // Abort without touching the pointer; drop our orphan version —
        // unless the winner committed this exact epoch (its v-dir is live)
        if (cur.exists(epoch < _))
          graft.util.Fs.deleteRec(Paths.get(base, s"v$epoch"))
        false
      } else {
        graft.util.Fs.replace(pointer(base), epoch.toString)
        // GC with a delete-lag of 1: keep the new AND the previous
        // committed version so in-flight readers of the old pointer
        // finish cleanly
        val keep = Set(s"v$epoch") ++ cur.map(e => s"v$e")
        graft.util.Fs.list(Paths.get(base)).filter { p =>
          val n = p.getFileName.toString
          n.startsWith("v") && !keep.contains(n)
        }.foreach(graft.util.Fs.deleteRec)
        true
      }
    }.getOrElse(sys.error(
      s"IncrementalJoin: concurrent refresh detected at $base " +
        "(single-writer contract violated; stale _refresh.lock?)"))
  }
}
