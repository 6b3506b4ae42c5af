package graft

import org.apache.spark.sql.functions._

import graft.functions.topK

/** graft_topk bounded-heap aggregate: exact equivalence with the rank
  * window it replaces, across repartitionings (partial-merge path). */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  private def randomScores(n: Int, groups: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    // duplicate scores on purpose: the tie-break (lowest id wins) is the
    // part a heap implementation most easily gets wrong
    (0 until n).map(i =>
      (rnd.nextInt(groups).toLong, (rnd.nextInt(50) / 10.0), i.toLong))
      .toDF("g", "score", "id")
  }

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(desc("score"), asc("id"))
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("g", "id", "score", "rank")
  }

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) = {
    df.groupBy("g")
      .agg(topK(col("score"), col("id"), k).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.id").as("id"), col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  test("graft_topk equals the rank window, ties broken identically") {
    val df = randomScores(5000, 37, seed = 11)
    val a = viaAgg(df, 5).orderBy("g", "rank").collect().toSeq
    val w = viaWindow(df, 5).orderBy("g", "rank").collect().toSeq
    assert(a === w)
  }

  test("result is invariant under repartitioning (partial merges)") {
    val df = randomScores(3000, 7, seed = 23)
    val one = viaAgg(df.repartition(1), 4).orderBy("g", "rank").collect().toSeq
    val many = viaAgg(df.repartition(16), 4).orderBy("g", "rank").collect().toSeq
    assert(one === many)
  }

  test("groups smaller than k return all rows, still ordered") {
    val df = Seq((1L, 1.0, 10L), (1L, 3.0, 11L)).toDF("g", "score", "id")
    val got = viaAgg(df, 5).orderBy("rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got === Seq((1L, 11L, 3.0, 1), (1L, 10L, 1.0, 2)))
  }
}
