package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.topK

/** Scale-path join utilities (SURVEY.md §4, PERFORMANCE.md):
  *
  *  - **bucketed co-location**: the fact⋈fact join (orders⋈lineitem at
  *    100 TB) shuffles both sides on every query unless the tables are
  *    written bucketed on the join key — then sort-merge join reads
  *    bucket-aligned files with NO Exchange. `writeBucketed` is the write
  *    side of that contract.
  *  - **salting**: a skewed hot key overwhelms one reducer in a shuffle
  *    join. `saltedJoin` spreads the big side's rows across `buckets`
  *    sub-keys and replicates the small side per sub-key, trading a
  *    bounded small-side blowup for even task sizes. (AQE's skew-join
  *    split handles moderate skew automatically; salting is the explicit
  *    tool for pathological keys.)
  */
object ScaleJoins {

  /** Per-key top-k via the GraftTopK bounded-heap aggregate — the scale
    * replacement for `row_number().over(partitionBy(keys).orderBy(score
    * DESC, id ASC)) <= k`: map-side partials ship at most k entries per
    * key (shuffle O(partitions·k), not O(rows)) and no group is sorted.
    * Identical answer to the rank window, including the id tie-break.
    * Output: keys ++ (id, score, rank). Works on any session: the
    * aggregate is built by the typed `graft.functions.topK` builder. */
  def topKPerKey(df: DataFrame, keys: Seq[String], scoreCol: String,
                 idCol: String, k: Int): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(topK(col(scoreCol), col(idCol), k).as("__top"))
      .select(keys.map(col) :+ posexplode(col("__top")): _*)
      .select(keys.map(col) ++ Seq(
        col("col.id").as(idCol), col("col.score").as(scoreCol),
        (col("pos") + 1).cast("long").as("rank")): _*)

  /** Write `df` as a bucketed+sorted managed table so later equi-joins on
    * `key` against an identically-bucketed table are shuffle-free. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Equi-join `big ⋈ small` on `key` with salt-spread skew mitigation.
    * Deterministic: the big side's salt derives from a row hash, not rand().
    * Result equals the plain inner join. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 buckets: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(hash(big.columns.map(col): _*), lit(buckets)))
    val saltedSmall = small.withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** All unordered id pairs (a < b) sharing equal `keyCols`, with the
    * pair GENERATION chunk-salted — the skew answer for self-join
    * candidate enumeration (the LSH band join's failure mode: one
    * boilerplate band bucket holding 50% of docs makes O(|B|²) pairs in
    * ONE reducer task; no plain salt fixes a self-join, because pairs
    * within the bucket must still meet).
    *
    * Rows are chunked by id hash into `chunks` sub-keys; the shuffle key
    * becomes (key, chunk_i, chunk_j) and every pair {x, y} meets in
    * EXACTLY one of the chunks(chunks+1)/2 cells (x's and y's chunk ids,
    * ordered), so a hot bucket's quadratic work spreads across that many
    * independent tasks instead of one straggler. Replication cost is
    * ≤ (chunks+1)/2 copies per row on average, linear and bounded —
    * choose chunks ≈ sqrt(|hot bucket| / target-cell-rows). Result
    * equals the naive `x.key = y.key AND x.id < y.id` self-join exactly.
    * Output columns: keyCols ++ (a, b). */
  def chunkedSelfPairs(df: DataFrame, keyCols: Seq[String], idCol: String,
                       chunks: Int): DataFrame = {
    require(chunks >= 1, s"chunks must be >=1, got $chunks")
    val withChunk = df.withColumn("__c", pmod(hash(col(idCol)), lit(chunks)))
    // a row of chunk c sits on the LEFT of cells (c, j ≥ c) and on the
    // RIGHT of cells (i ≤ c, c); pair {x,y} with cx ≤ cy meets once in
    // cell (cx, cy) (both orientations exist only on the diagonal, which
    // the a<b filter dedups; off-diagonal cells see one orientation, so
    // least/greatest normalizes the output order)
    val left = withChunk
      .withColumn("__j", explode(expr(s"sequence(__c, ${chunks - 1})")))
      .select(keyCols.map(col) ++ Seq(col(idCol).as("a"),
        col("__c").as("__i"), col("__j")): _*)
    val right = withChunk
      .withColumn("__i", explode(expr("sequence(0, __c)")))
      .select(keyCols.map(col) ++ Seq(col(idCol).as("b"),
        col("__i"), col("__c").as("__j")): _*)
    left.join(right, keyCols ++ Seq("__i", "__j"))
      .filter(col("a") =!= col("b") &&
        (col("__i") =!= col("__j") || col("a") < col("b")))
      .select(keyCols.map(col) ++ Seq(
        least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")): _*)
  }
}
