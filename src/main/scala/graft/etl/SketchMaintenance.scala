package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{cmsDot, cmsMerge, cmsProbe}

/** Incremental Count-Min sketch maintenance — IncrementalAgg's twin for
  * APPROXIMATE statistics: a materialized frequency sketch over the full
  * ingest history, kept current by merging in only each new batch's
  * sketch. CMS merge is element-wise counter addition (exact, commutative,
  * associative), so the incrementally maintained sketch is bit-identical
  * to one built over the whole history — IncrementalSketchSpec proves the
  * equality on random batch splits.
  *
  * Scale posture: each refresh aggregates O(batch) rows into one sketch
  * binary (mergeable partial aggregate, map-side combined), then merges
  * two single-row binaries — O(sketch bytes), independent of history
  * size. Probing the materialized sketch answers per-key frequency
  * estimates with zero scans (a8_cms_freq's cmsProbe).
  */
object SketchMaintenance {
  val Eps = 0.001
  val Confidence = 0.99
  val Seed = 42

  /** One-row sketch of `keyCol` over the batch. */
  def sketchOf(batch: DataFrame, keyCol: String): DataFrame =
    batch.agg(
      expr(s"count_min_sketch($keyCol, ${Eps}d, ${Confidence}d, $Seed)")
        .as("sk"))

  /** Fold a new batch into the materialized sketch at `path`. */
  def refresh(spark: SparkSession, path: String, newRows: DataFrame,
              keyCol: String): Unit = {
    val delta = sketchOf(newRows, keyCol)
    val merged =
      if (!Files.exists(Paths.get(path))) delta
      else spark.read.parquet(path).select(col("sk").as("stored"))
        .crossJoin(delta)
        .select(cmsMerge(col("stored"), col("sk")).as("sk"))
    val tmp = path + ".tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    graft.util.Fs.swapInto(Paths.get(tmp), Paths.get(path))
  }

  /** Frequency estimates for `probes` against the materialized sketch. */
  def probe(spark: SparkSession, path: String, probes: DataFrame,
            keyCol: String): DataFrame =
    probes.crossJoin(spark.read.parquet(path))
      .select(col(keyCol),
        cmsProbe(col("sk"), col(keyCol)).as("est_freq"))

  /** Join-size estimate between two MAINTAINED sketches (r11): the CM
    * inner product (cmsDot, x_cms_join_estimate's operator) over
    * two materialized sketch tables kept fresh by [[refresh]]. This is
    * the continuous-monitoring form: two ingest streams each fold their
    * join key into a sketch per batch, and the estimated size of their
    * join is answerable at any moment in O(sketch) — no scan of either
    * history, no shuffle — e.g. to warn when a fact⋈fact join a
    * downstream job runs nightly is about to double. Both sketches must
    * share eps/confidence/seed (this module pins all three); the merge
    * path preserves them, and cmsDot rejects mismatches. */
  def joinSizeEstimate(spark: SparkSession, path1: String,
                       path2: String): Long = {
    spark.read.parquet(path1).select(col("sk").as("sk1"))
      .crossJoin(spark.read.parquet(path2).select(col("sk").as("sk2")))
      .select(cmsDot(col("sk1"), col("sk2")).as("est"))
      .collect()(0).getLong(0)
  }
}
