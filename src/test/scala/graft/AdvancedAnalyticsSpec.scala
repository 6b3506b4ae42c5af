package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.SketchMaintenance
import graft.functions.cmsProbe
import graft.queries.AdvancedAnalytics

/** Round-2 analytical surface: shapes the oracle can't fully pin down
  * (HLL bound) plus sanity invariants for the new window/set operators.
  * Full value-level equivalence runs through Verify + the DuckDB oracle. */
class AdvancedAnalyticsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("a6_approx_distinct stays within the configured 2% rsd of exact") {
    // independent raw-estimate bound (the query itself now folds this
    // comparison into its hash-checked flag — recompute it here so the
    // flag logic can't go vacuously green)
    val raw = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("ap"),
           countDistinct(col("o_custkey")).as("ex"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(raw.nonEmpty)
    raw.foreach { case (k, ap, ex) =>
      // HLL++ rsd 0.02 ⇒ ±3σ = 6%; generous but non-vacuous bound
      assert(math.abs(ap.toDouble - ex) <= math.max(1.0, ex * 0.06),
        s"status $k: approx $ap vs exact $ex")
    }
    // and the gauge query reports every group inside the bound
    val flags = AdvancedAnalytics.queries("a6_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(3))
    assert(flags.map(_._1).toSet === raw.map(_._1).toSet)
    flags.foreach { case (k, ok) => assert(ok === 1L, s"status $k flag") }
  }

  test("a7_approx_percentile stays close to the exact interpolated percentile") {
    val approx = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(expr("approx_percentile(o_totalprice, 0.5, 10000)").as("p50"),
           expr("approx_percentile(o_totalprice, 0.9, 10000)").as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val exact = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
           expr("percentile(o_totalprice, 0.9)").as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, (e50, e90)) =>
      val (a50, a90) = approx(k)
      // accuracy 10000 ⇒ rank error ~1e-4·n; 2% value slack is generous
      assert(math.abs(a50 - e50) <= e50 * 0.02, s"$k p50: $a50 vs $e50")
      assert(math.abs(a90 - e90) <= e90 * 0.02, s"$k p90: $a90 vs $e90")
    }
    // the gauge query's rank-space flags are all green
    val rows = AdvancedAnalytics.queries("a7_approx_percentile")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSet === exact.keySet)
    rows.foreach { case (k, ok50, ok90) =>
      assert(ok50 === 1L, s"$k p50 rank flag")
      assert(ok90 === 1L, s"$k p90 rank flag")
    }
  }

  test("a8_cms_freq overestimates only, within the eps·N bound") {
    val li = graft.util.Tables.t(spark, sf, "lineitem")
    val sk = li.agg(
      expr("count_min_sketch(l_partkey, 0.001d, 0.99d, 42)").as("sk"))
    val est = li.select(col("l_partkey")).distinct()
      .filter(col("l_partkey") <= 100).crossJoin(sk)
      .select(col("l_partkey"),
        cmsProbe(col("sk"), col("l_partkey")).as("est_freq"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.nonEmpty)
    val exact = li.filter(col("l_partkey") <= 100)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = li.count()
    assert(est.keySet === exact.keySet)
    exact.foreach { case (k, ex) =>
      val e = est(k)
      // CMS never undercounts; overshoot ≤ eps·N with confidence 0.99
      // (eps = 0.001; deterministic here — fixed seed, merge is addition)
      assert(e >= ex, s"partkey $k: est $e < exact $ex")
      assert(e <= ex + math.ceil(total * 0.001).toLong * 3,
        s"partkey $k: est $e too far above exact $ex")
    }
    // the gauge query's flags agree
    val flags = AdvancedAnalytics.queries("a8_cms_freq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(flags.map(_._1).toSet === exact.keySet)
    flags.foreach { case (k, ge, within) =>
      assert(ge === 1L && within === 1L, s"partkey $k flags")
    }
  }

  test("a8_cms_freq is invariant under repartitioning (sketch merge is exact)") {
    val base = AdvancedAnalytics.queries("a8_cms_freq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val li = graft.util.Tables.t(spark, sf, "lineitem").repartition(13)
    val sk = li.agg(
      expr("count_min_sketch(l_partkey, 0.001d, 0.99d, 42)").as("sk"))
    val reparted = li.select(col("l_partkey")).distinct()
      .filter(col("l_partkey") <= 100)
      .crossJoin(sk)
      .select(col("l_partkey"),
        cmsProbe(col("sk"), col("l_partkey")).as("est_freq"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(reparted === base)
  }

  test("j7_bloom_prejoin plans the bloom predicate and equals the plain join") {
    val df = AdvancedAnalytics.queries("j7_bloom_prejoin")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "bloom predicate missing from the physical plan")
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val li = graft.util.Tables.t(spark, sf, "lineitem")
    val sel = graft.util.Tables.t(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val plain = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
      .groupBy(date_format(date_trunc("month", col("o_orderdate")),
        "yyyy-MM-dd").as("month"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double").as("revenue"))
      .orderBy("month")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === plain)
  }

  // A newSession() shares nothing registered on the shared session, so
  // each case below fails if a graft function still needs registering.
  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("ScaleJoins.topKPerKey runs on a fresh session") {
    def top(s: SparkSession) = rows(
      graft.util.ScaleJoins.topKPerKey(
        s.range(0, 500).select((col("id") % 7).as("g"),
          ((col("id") * 37) % 11).cast("double").as("score"), col("id")),
        Seq("g"), "score", "id", 3).orderBy("g", "rank"))
    assert(top(spark.newSession()) === top(spark))
  }

  test("SketchMaintenance refresh and probe run on a fresh session") {
    val base = tmpDir("sketch-fresh")
    val fresh = spark.newSession()
    def keys(s: SparkSession, lo: Long, hi: Long) =
      s.range(lo, hi).select((col("id") % 37).as("k"))
    // a probe frame from another session than the sketch table's, as a
    // foreachBatch micro-batch's is
    SketchMaintenance.refresh(spark, s"$base/shared", keys(spark, 0, 500), "k")
    def probeShared(s: SparkSession) = rows(SketchMaintenance.probe(spark,
      s"$base/shared", keys(s, 0, 40).distinct(), "k").orderBy("k"))
    assert(probeShared(fresh) === probeShared(spark))
    // the whole refresh (with a merge) and probe cycle on one session
    def cycle(s: SparkSession, path: String) = {
      SketchMaintenance.refresh(s, path, keys(s, 0, 500), "k")
      SketchMaintenance.refresh(s, path, keys(s, 500, 900), "k")
      rows(SketchMaintenance.probe(s, path, keys(s, 0, 40).distinct(), "k")
        .orderBy("k"))
    }
    assert(cycle(fresh, s"$base/f") === cycle(spark, s"$base/s"))
  }

  test("graft-function registry entries match on a fresh session") {
    val fresh = spark.newSession()
    Seq("x_sim_topk", "x_ann_multiprobe", "j7_bloom_prejoin", "a8_cms_freq",
      "x_cms_join_estimate").foreach { name =>
      val q = SparkEntry.queries(name)
      assert(rows(q(fresh, sf)) === rows(q(spark, sf)), name)
    }
  }

  test("w4 moving average window agrees with a hand-rolled frame") {
    val rows = AdvancedAnalytics.queries("w4_moving_avg")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // recompute each frame average from the revenue column itself
    rows.zipWithIndex.foreach { case ((_, _, avg3), i) =>
      val frame = rows.slice(math.max(0, i - 2), i + 1).map(_._2)
      val expected = math.floor(frame.sum / frame.size * 1e4 + 0.5) / 1e4
      assert(math.abs(avg3 - expected) < 1e-6)
    }
  }

  test("j6 set ops partition cleanly: both ∩ only_1996 = ∅") {
    val df = AdvancedAnalytics.queries("j6_set_ops")(spark, sf)
    val both = df.filter(col("tag") === "both").select("o_custkey")
    val only = df.filter(col("tag") === "only_1996").select("o_custkey")
    assert(both.intersect(only).count() === 0)
    assert(df.count() === df.dropDuplicates("tag", "o_custkey").count())
  }

  test("q_sales_cube contains all four grouping sets") {
    val df = AdvancedAnalytics.queries("q_sales_cube")(spark, sf).cache()
    val all = df.filter(col("segment") === "ALL" && col("status") === "ALL")
    assert(all.count() === 1)
    val totalOrders = graft.util.Tables.t(spark, sf, "orders").count()
    assert(all.select("n_orders").first().getLong(0) === totalOrders)
    assert(df.filter(col("segment") === "ALL" && col("status") =!= "ALL")
      .count() > 0)
    assert(df.filter(col("segment") =!= "ALL" && col("status") === "ALL")
      .count() > 0)
    df.unpersist(): Unit
  }
}
