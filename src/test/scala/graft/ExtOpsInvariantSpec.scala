package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.to_date
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ext.StatsOps

/** Structural invariants of the r8 extension ops — properties the DuckDB
  * hash-compare cannot express (it proves value equality, not that the
  * values obey the operator's contract). All at sf0.001.
  */
class ExtOpsInvariantSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  // plain-Scala Hill (1970) Algorithm 396, two-tailed — an independent
  // transcription shared by the Grubbs and generalized-ESD replays
  def invnorm(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val dd = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    if (p < 0.02425) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q +
        c(5)) / ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
    } else {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r +
        a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    }
  }
  def hill396(p: Double, n: Long): Double = {
    if (n == 1) { val p2 = p * math.Pi / 2; math.cos(p2) / math.sin(p2) }
    else if (n == 2) math.sqrt(2.0 / (p * (2.0 - p)) - 2.0)
    else {
      val a = 1.0 / (n - 0.5); val b = 48.0 / (a * a)
      var c = ((20700.0 * a / b - 98.0) * a - 16.0) * a + 96.36
      val d = ((94.5 / (b + c) - 3.0) / b + 1.0) *
        math.sqrt(a * math.Pi / 2.0) * n
      var x = d * p
      var y = math.pow(x, 2.0 / n)
      if (y > 0.05 + a) {
        x = invnorm(p * 0.5)
        y = x * x
        if (n < 5) c = c + 0.3 * (n - 4.5) * (x + 0.6)
        c = (((0.05 * d * x - 5.0) * x - 7.0) * x - 2.0) * x + b + c
        y = (((((0.4 * y + 6.3) * y + 36.0) * y + 94.5) / c - y - 3.0)
          / b + 1.0) * x
        y = a * y * y
        y = if (y > 0.002) math.exp(y) - 1.0 else 0.5 * y * y + y
      } else {
        y = ((1.0 / (((n + 6.0) / (n * y) - 0.089 * d - 0.822) *
          (n + 2.0) * 3.0) + 0.5 / (n + 4.0)) * y - 1.0) *
          (n + 1.0) / (n + 2.0) + 1.0 / y
      }
      math.sqrt(n * y)
    }
  }

  test("x_shapley_attribution: efficiency identity holds (credits sum to " +
      "v(full) - v(empty)) and shares sum to 1") {
    import org.apache.spark.sql.functions._
    val phi = run("x_shapley_attribution").collect()
      .map(r => r.getAs[String]("channel") -> r.getAs[Double]("phi")).toMap
    assert(phi.keySet === Set("view", "click", "signup"))
    // brute-force v(S) at the lattice corners from the raw events
    val ev = graft.util.Tables.t(spark, sf, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime, r.getDouble(3)))
    val byUser = ev.groupBy(_._1)
    val stats = byUser.values.map { es =>
      val fp = es.filter(_._2 == "purchase").map(_._3)
        .sorted.headOption
      val mask = es.filter(e =>
          Seq("view", "click", "signup").contains(e._2) &&
            fp.forall(t => e._3 < t))
        .map(e => e._2 match {
          case "view" => 1; case "click" => 2; case _ => 4
        }).toSet.sum
      val cents = es.filter(_._2 == "purchase")
        .map(e => math.floor(e._4 * 100 + 0.5).toLong).sum
      (mask, cents)
    }.toSeq
    def v(mask: Int): Double = {
      val g = stats.filter(_._1 == mask)
      if (g.isEmpty) 0.0 else g.map(_._2).sum.toDouble / g.size / 100.0
    }
    val sumPhi = phi.values.sum
    assert(math.abs(sumPhi - (v(7) - v(0))) < 1e-4,
      s"efficiency: sum(phi)=$sumPhi vs v(7)-v(0)=${v(7) - v(0)}")
    val shares = run("x_shapley_attribution").collect()
      .map(_.getAs[Double]("share"))
    if (!shares.exists(s => s.isNaN))
      assert(math.abs(shares.sum - 1.0) < 1e-5)
  }

  test("x_isotonic_calibration: the max-min closed form equals classic " +
      "sequential pool-adjacent-violators and is nondecreasing") {
    val rows = run("x_isotonic_calibration").collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_pos"), r.getAs[Double]("iso_rate")))
      .sortBy(_._1)
    // classic PAV: scan left to right, pooling while the left block
    // mean exceeds the right block mean
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    rows.foreach { case (_, n, k, _) =>
      blocks += ((n, k, 1))
      while (blocks.length >= 2 && {
        val (nb, kb, _) = blocks(blocks.length - 2)
        val (na, ka, _) = blocks.last
        kb.toDouble / nb > ka.toDouble / na
      }) {
        val (na, ka, ca) = blocks.remove(blocks.length - 1)
        val (nb, kb, cb) = blocks.remove(blocks.length - 1)
        blocks += ((na + nb, ka + kb, ca + cb))
      }
    }
    val expect = blocks.flatMap { case (n, k, c) =>
      Seq.fill(c)(k.toDouble / n)
    }
    assert(rows.length === expect.length)
    rows.map(_._4).zip(expect).foreach { case (got, exp) =>
      assert(math.abs(got - exp) < 1e-6, s"iso $got vs PAV $exp")
    }
    assert(rows.map(_._4).sliding(2).forall(p =>
      p.length < 2 || p(0) <= p(1) + 1e-12), "iso fit must be monotone")
  }

  test("x_frequent_itemsets: downward closure holds (every subset of a " +
      "frequent itemset is itself frequent) and supports are exact " +
      "brute-force basket counts") {
    val rows = run("x_frequent_itemsets").collect()
      .map(r => (r.getAs[Long]("size"), r.getAs[String]("itemset"),
        r.getAs[Long]("support_count")))
    val bySet = rows.map(x => x._2 -> x._3).toMap
    // downward closure: each frequent pair's items and each triple's
    // sub-pairs must appear at the level below
    rows.filter(_._1 == 2L).foreach { case (_, is, _) =>
      val Array(a, b) = is.split('|')
      assert(bySet.contains(a) && bySet.contains(b), s"pair $is orphaned")
    }
    rows.filter(_._1 == 3L).foreach { case (_, is, _) =>
      val Array(a, b, c) = is.split('|')
      Seq(s"$a|$b", s"$a|$c", s"$b|$c").foreach(p =>
        assert(bySet.contains(p), s"triple $is missing sub-pair $p"))
    }
    // brute-force support check over the collected baskets
    val baskets = graft.util.Tables.t(spark, sf, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_orderkey").as("oid"),
        org.apache.spark.sql.functions.col("l_partkey"))
      .join(graft.util.Tables.t(spark, sf, "part")
        .select(org.apache.spark.sql.functions.col("p_partkey"),
          org.apache.spark.sql.functions.col("p_brand").as("item")),
        org.apache.spark.sql.functions.col("l_partkey") ===
          org.apache.spark.sql.functions.col("p_partkey"))
      .select("oid", "item").distinct().collect()
      .map(r => (r.getAs[Long](0), r.getString(1)))
      .groupBy(_._1).map { case (_, xs) => xs.map(_._2).toSet }.toSeq
    val nb = baskets.size
    rows.foreach { case (_, is, cnt) =>
      val items = is.split('|').toSet
      val brute = baskets.count(b => items.subsetOf(b))
      assert(cnt === brute.toLong, s"support($is): engine $cnt vs $brute")
      assert(cnt.toDouble / nb >= 0.005, s"$is below minsup")
    }
  }

  test("x_max_concurrency: output matches a full driver-side sweep-line " +
      "replay over sessionized events") {
    import spark.implicits._
    val DayUs = 86400000000L
    val evs = graft.util.Tables.t(spark, sf, "events")
      .select($"user_id",
        org.apache.spark.sql.functions.unix_micros($"ts").as("us"),
        $"event_id")
      .as[(Long, Long, Long)].collect()
    // sessionize: 30-min gap per user over (ts, event_id) order
    val intervals = evs.groupBy(_._1).values.flatMap { rs =>
      val sorted = rs.sortBy(r => (r._2, r._3)).map(_._2)
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for (u <- sorted) {
        if (sessions.nonEmpty && u - sessions.last._2 <= 1800L * 1000000L)
          sessions(sessions.size - 1) = (sessions.last._1, u)
        else sessions += ((u, u))
      }
      sessions
    }.toSeq
    val segs = intervals.flatMap { case (su, eu) =>
      (su / DayUs to eu / DayUs).map { di =>
        (di, math.max(su, di * DayUs), math.min(eu, di * DayUs + DayUs - 1))
      }
    }
    val expected = segs.groupBy(_._1).map { case (di, ss) =>
      val bounds = ss.flatMap { case (_, g, l) =>
        Seq((g, 1L), (l + 1, -1L)) }
      val byTs = bounds.groupBy(_._1).view
        .mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
      val sweep = byTs.scanLeft((0L, 0L)) { case ((_, acc), (ts, dl)) =>
        (ts, acc + dl) }.tail
      val peak = sweep.map(_._2).max
      val peakTs = sweep.filter(_._2 == peak).map(_._1).min
      val day = java.time.LocalDate.ofEpochDay(di).toString
      (day, ss.size.toLong, peak, peakTs)
    }.toSet
    val got = run("x_max_concurrency").collect().map { r =>
      (r.getAs[String]("day"), r.getAs[Long]("n_active"),
        r.getAs[Long]("peak_concurrency"), r.getAs[Long]("peak_us"))
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty && got.forall(_._3 >= 1))
  }

  test("x_mann_kendall: S and tie-corrected variance match a pairwise " +
      "driver-side replay; trend flag is consistent with z") {
    import spark.implicits._
    val daily = graft.util.Tables.t(spark, sf, "orders")
      .groupBy($"o_orderpriority".as("p"),
        org.apache.spark.sql.functions.date_trunc("day", $"o_orderdate")
          .cast("string").as("day"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("y"))
      .as[(String, String, Long)].collect()
    val expected = daily.groupBy(_._1).map { case (p, rs) =>
      val ys = rs.sortBy(_._2).map(_._3)
      val n = ys.length.toLong
      val sStat = (for {
        i <- ys.indices; j <- (i + 1) until ys.length
      } yield java.lang.Long.signum(ys(j) - ys(i)).toLong).sum
      val tieTerm = ys.groupBy(identity).values
        .map(g => { val t = g.size.toLong; t * (t - 1) * (2 * t + 5) }).sum
      val varNum = n * (n - 1) * (2 * n + 5) - tieTerm
      (p, n, sStat, varNum)
    }.toSet
    val rows = run("x_mann_kendall").collect()
    val got = rows.map { r =>
      (r.getAs[String]("priority"), r.getAs[Long]("n_days"),
        r.getAs[Long]("s_stat"), r.getAs[Long]("var_num"))
    }.toSet
    assert(got == expected)
    rows.foreach { r =>
      val (s, v) = (r.getAs[Long]("s_stat"), r.getAs[Long]("var_num"))
      val n = r.getAs[Long]("n_days")
      assert(math.abs(s) <= n * (n - 1) / 2)
      val zr = if (s > 0) (s - 1) / math.sqrt(v / 18.0)
        else if (s < 0) (s + 1) / math.sqrt(v / 18.0) else 0.0
      val trend = if (zr > 1.96) "increasing"
        else if (zr < -1.96) "decreasing" else "no_trend"
      assert(r.getAs[String]("trend") == trend)
    }
  }

  test("x_seasonal_mann_kendall: S and the additive tie-corrected " +
      "variance match a per-season pairwise driver-side replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count => fcount, lit => flit,
      date_trunc, month}
    val daily = graft.util.Tables.t(spark, sf, "orders")
      .groupBy($"o_orderpriority".as("p"),
        date_trunc("day", $"o_orderdate").cast("string").as("day"))
      .agg(fcount(flit(1)).as("y"))
      .as[(String, String, Long)].collect()
    val expected = daily.groupBy(_._1).map { case (p, rs) =>
      // season = month-of-year from the day string (yyyy-MM-dd...)
      val bySeason = rs.groupBy(_._2.substring(5, 7))
      val sStat = bySeason.values.map { srs =>
        val ys = srs.sortBy(_._2).map(_._3)
        (for {
          i <- ys.indices; j <- (i + 1) until ys.length
        } yield java.lang.Long.signum(ys(j) - ys(i)).toLong).sum
      }.sum
      val varNum = bySeason.values.map { srs =>
        val ys = srs.map(_._3)
        val n = ys.length.toLong
        val tieTerm = ys.groupBy(identity).values
          .map(g => { val t = g.size.toLong; t * (t - 1) * (2 * t + 5) })
          .sum
        n * (n - 1) * (2 * n + 5) - tieTerm
      }.sum
      (p, rs.size.toLong, bySeason.size.toLong, sStat, varNum)
    }.toSet
    val rows = run("x_seasonal_mann_kendall").collect()
    val got = rows.map { r =>
      (r.getAs[String]("priority"), r.getAs[Long]("n_days"),
        r.getAs[Long]("n_seasons"), r.getAs[Long]("s_stat"),
        r.getAs[Long]("var_num"))
    }.toSet
    assert(got == expected)
    rows.foreach { r =>
      val (s, v) = (r.getAs[Long]("s_stat"), r.getAs[Long]("var_num"))
      if (v > 0) {
        val zr = if (s > 0) (s - 1) / math.sqrt(v / 18.0)
          else if (s < 0) (s + 1) / math.sqrt(v / 18.0) else 0.0
        assert(math.abs(r.getAs[Double]("z") - math.floor(zr * 1e4 + 0.5)
          / 1e4) < 1e-9)
        val trend = if (zr > 1.96) "increasing"
          else if (zr < -1.96) "decreasing" else "no_trend"
        assert(r.getAs[String]("trend") == trend)
      }
    }
  }

  test("x_brown_forsythe: the per-group median is the exact rank-picked " +
      "order statistic and W equals a plain-double ANOVA on " +
      "median-centered absolute deviations") {
    val rows = graft.util.Tables.t(spark, sf, "orders")
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val byGrp = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(_._2).toSeq
    }
    // median: first cent value whose 2*cum >= n+1 off the sorted cents
    val meds = byGrp.map { case (g, ys) =>
      val cents = ys.map(y => math.floor(y * 100 + 0.5).toLong).sorted
      val idx = math.ceil((cents.length + 1) / 2.0).toInt - 1
      g -> cents(idx) / 100.0
    }
    val zs = byGrp.map { case (g, ys) =>
      g -> ys.map(y => math.abs(y - meds(g)))
    }
    val k = zs.size
    val nn = zs.values.map(_.size).sum
    val gm = zs.values.flatten.sum / nn
    val ssb = zs.values.map { z =>
      val zm = z.sum / z.size
      z.size * (zm - gm) * (zm - gm)
    }.sum
    val ssw = zs.values.map { z =>
      val zm = z.sum / z.size
      z.map(v => (v - zm) * (v - zm)).sum
    }.sum
    val wExp = (ssb / (k - 1)) / (ssw / (nn - k))
    val got = run("x_brown_forsythe").collect()
    assert(got.length === k)
    got.foreach { r =>
      val g = r.getAs[String]("grp")
      assert(r.getAs[Double]("median") === meds(g), s"$g median")
      val zm = zs(g).sum / zs(g).size
      assert(math.abs(r.getAs[Double]("mean_absdev") - zm) < 1e-3)
      assert(math.abs(r.getAs[Double]("bf_w") - wExp) < 1e-3,
        s"W: ${r.getAs[Double]("bf_w")} vs $wExp")
      assert(r.getAs[Boolean]("reject_equal_var_05") === (wExp > 2.372)
        || math.abs(wExp - 2.372) < 1e-3)
    }
  }

  test("x_grubbs_outlier: the in-engine Hill-396 t-quantile matches a " +
      "plain-Scala replay pinned to incomplete-beta references, and G, " +
      "the extreme pick and the critical value match a brute-force walk") {
    // pins vs an offline incomplete-beta bisection reference (the
    // documented |rel err| <= 4e-6 bound)
    val refs = Seq((0.05, 1L, 12.706204736), (0.05, 2L, 4.302652730),
      (0.05, 10L, 2.228138852), (0.05, 30L, 2.042272456),
      (0.001, 100L, 3.390491311), (2e-5, 1500L, 4.278569384))
    refs.foreach { case (p, n, ref) =>
      val h = hill396(p, n)
      assert(math.abs(h - ref) / ref < 4e-6, s"hill($p, $n)=$h vs $ref")
    }
    // brute-force Grubbs walk per priority
    val daily = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(org.apache.spark.sql.functions.col("o_orderpriority")
          .as("p"),
        org.apache.spark.sql.functions.date_trunc("day",
          org.apache.spark.sql.functions.col("o_orderdate"))
          .cast("string").as("day"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("y"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rows = run("x_grubbs_outlier").collect()
    assert(rows.length === daily.map(_._1).distinct.length)
    rows.foreach { r =>
      val p = r.getAs[String]("priority")
      val ys = daily.filter(_._1 == p)
      val n = ys.length.toLong
      assert(r.getAs[Long]("n_days") === n)
      val mean = ys.map(_._3).sum.toDouble / n
      val vr = ys.map(x => (x._3 - mean) * (x._3 - mean)).sum / (n - 1)
      val sd = math.sqrt(vr)
      val ext = ys.maxBy(x => (math.abs(x._3 - mean), x._2.substring(0,
        10))) // max deviation; the engine tiebreaks by EARLIEST day
      val cands = ys.filter(x =>
        math.abs(math.abs(x._3 - mean) - math.abs(ext._3 - mean)) < 1e-12)
      val pick = cands.minBy(_._2)
      assert(r.getAs[String]("extreme_day") === pick._2.substring(0, 10))
      assert(r.getAs[Long]("extreme_count") === pick._3)
      val g = math.abs(pick._3 - mean) / sd
      assert(math.abs(r.getAs[Double]("g_stat") - g) < 1e-4, s"$p G")
      val t = hill396(0.05 / n, n - 2)
      assert(math.abs(r.getAs[Double]("t_quantile") - t) < 1e-5, s"$p t")
      val crit = (n - 1) / math.sqrt(n.toDouble) *
        math.sqrt(t * t / (n - 2 + t * t))
      assert(math.abs(r.getAs[Double]("g_crit") - crit) < 1e-4, s"$p crit")
      assert(r.getAs[Boolean]("is_outlier") === (g > crit) ||
        math.abs(g - crit) < 1e-4)
    }
  }

  test("x_image_dhash: every planted replica is recovered and the " +
      "counts nest (candidates >= verified >= replicas found)") {
    val r = run("x_image_dhash").collect().head
    val (nRepl, nCand, nVer, nFound) = (r.getAs[Long]("n_replicas"),
      r.getAs[Long]("n_band_candidates"), r.getAs[Long]("n_verified_d3"),
      r.getAs[Long]("n_replica_found"))
    assert(nFound == nRepl, "a last-byte substitution moved the aHash " +
      "beyond hamming 3 — the perceptual-hash premise failed")
    assert(r.getAs[Double]("recall") == 1.0)
    assert(nCand >= nVer && nVer >= nFound)
    assert(r.getAs[Long]("n_docs") > nRepl)
  }

  test("x_forecast_backtest: per-method MAE matches a driver-side replay " +
      "over the observed daily series") {
    import spark.implicits._
    val daily = graft.util.Tables.t(spark, sf, "orders")
      .groupBy($"o_orderpriority".as("p"),
        org.apache.spark.sql.functions.date_trunc("day", $"o_orderdate")
          .cast("string").as("day"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("y"))
      .as[(String, String, Long)].collect()
    val expected = daily.groupBy(_._1).flatMap { case (p, rs) =>
      val ys = rs.sortBy(_._2).map(_._3)
      val idx = ys.indices.filter(i => i >= 7 && i >= ys.length - 28)
      if (idx.isEmpty) Nil
      else {
        val n = idx.size
        val eN = idx.map(i => math.abs(ys(i) - ys(i - 1))).sum
        val eS = idx.map(i => math.abs(ys(i) - ys(i - 7))).sum
        val eM = idx.map(i =>
          math.abs(7L * ys(i) - (i - 7 until i).map(ys).sum)).sum
        val nums = Map("naive" -> eN * 7, "snaive" -> eS * 7,
          "mean7" -> eM)
        val best = nums.toSeq.minBy { case (m, v) => (v, m) }._1
        nums.map { case (m, v) =>
          (p, m, n.toLong,
            math.floor(v / (7.0 * n) * 1e4 + 0.5) / 1e4, m == best)
        }
      }
    }.toSet
    val got = run("x_forecast_backtest").collect().map { r =>
      (r.getAs[String]("priority"), r.getAs[String]("method"),
        r.getAs[Long]("n_days"), r.getAs[Double]("mae"),
        r.getAs[Boolean]("is_best"))
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("x_naive_bayes: perfect positive recall (the chi2-selected token " +
      "IS the label), matrix covers every held-out doc") {
    import spark.implicits._
    val rows = run("x_naive_bayes").collect()
    val cells = rows.map(r => ((r.getAs[Long]("true_label"),
      r.getAs[Long]("pred_label")), r.getAs[Long]("n_docs"))).toMap
    // every true-positive doc carries the literal 'spark' token, which
    // chi2 selection must surface — misclassifying any of them would
    // mean selection lost the signal
    assert(cells.getOrElse((1L, 0L), 0L) == 0L,
      "a doc containing the label token was predicted negative")
    assert(cells.getOrElse((1L, 1L), 0L) > 0L)
    val nOdd = graft.util.Tables.t(spark, sf, "documents")
      .filter($"doc_id" % 2 === 1).count()
    assert(cells.values.sum == nOdd)
    // better than always-predict-majority on the held-out half
    val acc = (cells.getOrElse((1L, 1L), 0L) +
      cells.getOrElse((0L, 0L), 0L)).toDouble / nOdd
    val majority = cells.filter(_._1._1 == 1L).values.sum.toDouble / nOdd
    assert(acc > majority)
  }

  test("x_seasonal_decompose: seasonal indices and peak residuals match " +
      "a driver-side decomposition replay") {
    import spark.implicits._
    val daily = graft.util.Tables.t(spark, sf, "events")
      .groupBy(to_date($"ts").cast("string").as("day"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val days = (0 until 30).map(java.time.LocalDate.of(2024, 1, 1)
      .plusDays(_))
    val y = days.map(dd => daily.getOrElse(dd.toString, 0L))
    val full = (3 until 27).map { i =>
      val d7 = 7L * y(i) - (i - 3 to i + 3).map(y).sum
      (days(i), d7, days(i).getDayOfWeek.getValue % 7 + 1) // Sun=1..Sat=7
    }
    val expected = full.groupBy(_._3).map { case (dow, rs) =>
      val sd7 = rs.map(_._2).sum
      val n = rs.size
      val seasonal = math.floor(sd7 / (7.0 * n) * 1e4 + 0.5) / 1e4
      val peak = rs.map { case (dd, d7, _) =>
        val rq = math.floor((d7 / 7.0 - sd7 / (7.0 * n)) * 1e6 + 0.5).toLong
        (dd.toString, rq)
      }.minBy { case (dd, rq) => (-math.abs(rq), dd) }
      (dow.toLong, n.toLong, seasonal, peak._1, peak._2 / 1e6)
    }.toSet
    val got = run("x_seasonal_decompose").collect().map { r =>
      (r.getAs[Long]("dow"), r.getAs[Long]("n_days"),
        r.getAs[Double]("seasonal"), r.getAs[String]("peak_resid_day"),
        r.getAs[Double]("peak_resid"))
    }.toSet
    assert(got == expected)
    // 30 spine days minus 6 edge days (seq, not set: n_days repeat)
    assert(full.size == 24)
  }

  test("x_seq_patterns: pair supports match a driver-side existence " +
      "replay over per-user event histories") {
    import spark.implicits._
    val ev = graft.util.Tables.t(spark, sf, "events")
      .select($"user_id", $"event_type",
        org.apache.spark.sql.functions.unix_micros($"ts").as("us"))
      .as[(Long, String, Long)].collect()
    val byUser = ev.groupBy(_._1)
    val types = ev.map(_._2).distinct
    val expected = (for {
      a <- types; b <- types if a != b
      users = byUser.filter { case (_, rs) =>
        rs.exists(_._2 == a) && rs.exists(_._2 == b)
      }
      if users.nonEmpty
    } yield {
      val seq = users.count { case (_, rs) =>
        val aTs = rs.filter(_._2 == a).map(_._3)
        val bTs = rs.filter(_._2 == b).map(_._3)
        aTs.min < bTs.max
      }
      (a, b, users.size.toLong, seq.toLong)
    }).toSet
    val got = run("x_seq_patterns").collect().map { r =>
      (r.getAs[String]("type_a"), r.getAs[String]("type_b"),
        r.getAs[Long]("n_users_both"), r.getAs[Long]("n_users_seq"))
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("x_ols_multi: fitted residuals satisfy the normal equations " +
      "(sum zero and orthogonal to both features)") {
    import spark.implicits._
    val row = run("x_ols_multi").collect().head
    val (b0, b1, b2) = (row.getAs[Double]("b0_cents"),
      row.getAs[Double]("b1_cents_per_line"),
      row.getAs[Double]("b2_cents_per_qty"))
    val r2 = row.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0)
    val li = graft.util.Tables.t(spark, sf, "lineitem")
      .groupBy($"l_orderkey")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("x1"),
        org.apache.spark.sql.functions.sum($"l_quantity").cast("long")
          .as("x2"))
    val data = graft.util.Tables.t(spark, sf, "orders")
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
      .join(li, "l_orderkey")
      .select($"o_totalprice", $"x1", $"x2")
      .as[(Double, Long, Long)].collect()
      .map { case (tp, x1, x2) =>
        (math.floor(tp * 100 + 0.5), x1.toDouble, x2.toDouble) }
    val res = data.map { case (y, x1, x2) => (y - b0 - b1 * x1 - b2 * x2,
      x1, x2) }
    val n = data.length.toDouble
    val yScale = data.map(_._1).sum / n
    // rounding b to 4 dp perturbs each residual by ≤ 1e-4·(x1+x2);
    // compare means at a tolerance scaled to y's magnitude
    assert(math.abs(res.map(_._1).sum / n) < 1e-3 * yScale)
    assert(math.abs(res.map(r => r._1 * r._2).sum / n)
      < 1e-2 * yScale * res.map(_._2).max)
    assert(math.abs(res.map(r => r._1 * r._3).sum / n)
      < 1e-2 * yScale * res.map(_._3).max)
  }

  test("x_user_streaks: per-user longest run matches a driver-side " +
      "consecutive-day replay") {
    import spark.implicits._
    val days = graft.util.Tables.t(spark, sf, "events")
      .select($"user_id", to_date($"ts").cast("string").as("day"))
      .distinct().as[(Long, String)].collect()
      .groupBy(_._1).map { case (u, rs) =>
        u -> rs.map(r => java.time.LocalDate.parse(r._2).toEpochDay)
          .sorted.toList
      }
    val expected = days.map { case (u, ds) =>
      // longest run of consecutive epoch days, ties -> earliest start
      val runs = ds.foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: tl, d) if d == e0 + 1 => (s0, d) :: tl
        case (acc, d) => (d, d) :: acc
      }.reverse
      val best = runs.maxBy { case (s0, e0) => (e0 - s0, -s0) }
      (u, best._2 - best._1 + 1,
        java.time.LocalDate.ofEpochDay(best._1).toString,
        java.time.LocalDate.ofEpochDay(best._2).toString)
    }.toSet
    val got = run("x_user_streaks").collect().map { r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("longest_streak_days"),
        r.getAs[String]("streak_start"), r.getAs[String]("streak_end"))
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("x_corpus_mix: weights capped at 1, budgets never upsample, " +
      "shares sum to 1") {
    val rows = run("x_corpus_mix").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTokens, weight, expected) =
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("weight"),
          r.getAs[Long]("expected_tokens"))
      assert(weight > 0.0 && weight <= 1.0)
      assert(expected <= nTokens, "a capped weight must never upsample")
    }
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
  }

  test("x_source_quality_filter: the mean-of-averages split always " +
      "blocks at least one source and never all of them") {
    val blocked = run("x_source_quality_filter").collect()
      .map(_.getAs[Boolean]("blocked"))
    assert(blocked.count(identity) >= 1)
    assert(blocked.count(!_) >= 1)
  }

  test("x_embedding_outliers: counts bounded, sentinel id consistent " +
      "with the outlier count") {
    run("x_embedding_outliers").collect().foreach { r =>
      val (n, out, id) = (r.getAs[Long]("n_vecs"),
        r.getAs[Long]("n_outliers"), r.getAs[Long]("max_outlier_id"))
      assert(out >= 0 && out <= n)
      assert((out == 0) == (id == -1L),
        s"sentinel/count mismatch: n_outliers=$out max_outlier_id=$id")
    }
  }

  test("x_ngram_novelty: averages in [0, 1] and some phrasing is shared " +
      "(novelty strictly below 1 somewhere)") {
    val avgs = run("x_ngram_novelty").collect()
      .map(_.getAs[Double]("avg_novelty"))
    assert(avgs.nonEmpty)
    avgs.foreach(a => assert(a >= 0.0 && a <= 1.0))
    assert(avgs.exists(_ < 1.0))
  }

  test("x_span_dedup: every constructed plagiarism receiver is flagged, " +
      "spans bounded by doc length, coverage >= the injected excerpt's " +
      "duplicated window") {
    val rows = run("x_span_dedup").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.nonEmpty)
    rows.values.foreach { r =>
      val (n, spans, dup) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_dup_spans"), r.getAs[Long]("dup_tokens"))
      assert(dup >= 0 && dup <= n, s"coverage $dup outside [0, $n]")
      // a maximal merged span is >= the window width (8) and disjoint
      // spans each cover >= 8 tokens: dup >= 8 * spans is the island
      // invariant (equality only for isolated single windows)
      assert(spans == 0 || dup >= 8 * spans,
        s"islands too small: $spans spans, $dup tokens")
    }
    // receivers got a 12-token donor excerpt appended; with k=8 the
    // excerpt carries 5 duplicated windows merging into >= 12 covered
    // tokens (more if the receiver also shares natural spans)
    rows.keys.filter(id => id >= 25 && id % 5 == 0).foreach { id =>
      val r = rows(id)
      assert(r.getAs[Long]("n_dup_spans") >= 1, s"receiver $id not flagged")
      assert(r.getAs[Long]("dup_tokens") >= 12,
        s"receiver $id covers only ${r.getAs[Long]("dup_tokens")}")
    }
    // receivers have doc_id % 5 == 0 and copy donor doc_id % 25, so
    // only donors at ids 0/5/10/15/20 actually get excerpted; those
    // with >= 12 tokens share their prefix and are flagged too
    rows.keys.filter(id => id < 25 && id % 5 == 0).foreach { id =>
      val r = rows(id)
      if (r.getAs[Long]("n_tokens") >= 12)
        assert(r.getAs[Long]("n_dup_spans") >= 1, s"donor $id not flagged")
    }
  }

  test("x_lm_score: held-out docs carry OOV mass, training docs none, " +
      "and held-out mean NLL exceeds training mean NLL") {
    val rows = run("x_lm_score").collect()
    val (train, held) = rows.partition(_.getAs[String]("split") == "train")
    assert(train.nonEmpty && held.nonEmpty)
    train.foreach(r => assert(r.getAs[Double]("oov_frac") == 0.0,
      "training tokens are in the model by construction"))
    held.foreach { r =>
      assert(r.getAs[Double]("oov_frac") > 0.0,
        "every held-out doc has its synthesized unique token")
      assert(r.getAs[Double]("nll") > 0.0)
    }
    def meanNll(rs: Array[Row]) =
      rs.map(_.getAs[Double]("nll")).sum / rs.length
    assert(meanNll(held) > meanNll(train),
      "held-out text must score worse than the text the model saw")
  }

  test("x_dsir_weights: target docs average a higher importance weight " +
      "than raw docs, and kept agrees with the weight's sign") {
    val rows = run("x_dsir_weights").collect()
    val (tgt, raw) = rows.partition(_.getAs[Boolean]("is_target"))
    assert(tgt.nonEmpty && raw.nonEmpty)
    rows.foreach { r =>
      val (w, kept) = (r.getAs[Double]("avg_logratio"),
        r.getAs[Boolean]("kept"))
      // detRound(4) can round a tiny positive sum to 0.0, so only
      // check strict sign agreement away from the rounding boundary
      if (math.abs(w) > 1e-3) assert(kept == (w > 0),
        s"kept=$kept disagrees with avg_logratio=$w")
    }
    def mean(rs: Array[Row]) =
      rs.map(_.getAs[Double]("avg_logratio")).sum / rs.length
    assert(mean(tgt) > mean(raw),
      "importance weights must separate the target domain from the pool")
  }

  test("x_bpe_merges: six ranked merges with weakly decreasing counts, " +
      "and later merges compose symbols built by earlier ones") {
    val rows = run("x_bpe_merges").collect().sortBy(_.getAs[Long]("rank"))
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to 6L))
    val counts = rows.map(_.getAs[Long]("pair_count"))
    counts.sliding(2).foreach { case Array(a, b) =>
      // merging can only create pairs bounded by the merged pair's
      // count, so the argmax sequence never increases
      assert(a >= b, s"counts increased: ${counts.mkString(", ")}")
    }
    val merged = rows.map(r =>
      r.getAs[String]("left") + r.getAs[String]("right")).toSet
    val laterSides = rows.drop(1).flatMap(r =>
      Seq(r.getAs[String]("left"), r.getAs[String]("right")))
    assert(laterSides.exists(merged.contains),
      "no later merge built on an earlier merge's symbol — BPE " +
        "composition is the point of iterating")
    rows.foreach { r =>
      assert(r.getAs[String]("left").nonEmpty &&
        r.getAs[String]("right").nonEmpty && r.getAs[Long]("pair_count") > 0)
    }
  }

  test("x_temperature_sampling: temperature flattens the head — the " +
      "largest language is downweighted hardest, the smallest keeps " +
      "everything, and the temperature shares still sum to 1") {
    val rows = run("x_temperature_sampling").collect()
    assert(rows.length > 1)
    val tsum = rows.map(_.getAs[Double]("tshare")).sum
    assert(math.abs(tsum - 1.0) < 1e-2, s"tshares sum to $tsum")
    rows.foreach { r =>
      val kp = r.getAs[Double]("keep_prob")
      assert(kp > 0.0 && kp <= 1.0)
      val (sh, ts) = (r.getAs[Double]("share"), r.getAs[Double]("tshare"))
      // alpha < 1 pulls every share toward uniform: big shrinks,
      // small grows
      if (sh > 1.0 / rows.length) assert(ts < sh) else assert(ts > sh)
    }
    val byShare = rows.sortBy(_.getAs[Double]("share"))
    assert(byShare.head.getAs[Double]("keep_prob") == 1.0,
      "the most-boosted (smallest) language anchors keep_prob at 1")
    assert(byShare.last.getAs[Double]("keep_prob") ==
      rows.map(_.getAs[Double]("keep_prob")).min,
      "the largest language must be kept least")
  }

  test("x_bpe_fertility: every language needs more than one subword per " +
      "word at 6 merges, and subword counts bound word counts") {
    val rows = run("x_bpe_fertility").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("fertility") > 1.0)
      assert(r.getAs[Long]("n_subwords") >= r.getAs[Long]("n_words"))
    }
  }

  test("x_curation_pipeline: the funnel only shrinks, every stage drops " +
      "something, and the splits partition the final survivors") {
    val rows = run("x_curation_pipeline").collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    val funnel = Seq("1_input", "2_lang", "3_repetition", "4_spandedup",
      "5_dsir").map(rows)
    funnel.sliding(2).foreach { case Seq((d1, t1), (d2, t2)) =>
      assert(d2 <= d1 && t2 <= t1, s"funnel grew: $rows")
    }
    assert(funnel.last._1 > 0, "an empty corpus out of the funnel means " +
      "a gate threshold no longer matches the fixture")
    assert(funnel.head._1 > funnel.last._1, "no gate dropped anything")
    val splits = Seq("6_train", "7_valid", "8_test").map(rows)
    assert(splits.map(_._1).sum == rows("5_dsir")._1)
    assert(splits.map(_._2).sum == rows("5_dsir")._2)
  }

  test("x_lm_bigram: training docs never back off, held-out docs do and " +
      "score worse, and the bigram model beats the unigram model on " +
      "the text it was trained on") {
    val rows = run("x_lm_bigram").collect()
    val (train, held) = rows.partition(_.getAs[String]("split") == "train")
    assert(train.nonEmpty && held.nonEmpty)
    train.foreach(r => assert(r.getAs[Double]("backoff_frac") == 0.0,
      "every training bigram is in the model by construction"))
    assert(held.forall(_.getAs[Double]("backoff_frac") > 0.0),
      "the synthesized unique token forces at least one backoff")
    def meanNll(rs: Array[Row]) =
      rs.map(_.getAs[Double]("nll")).sum / rs.length
    assert(meanNll(held) > meanNll(train))
    // context helps: on the same training text, conditioning on the
    // previous token must fit better than the unigram bag model
    val uniTrain = run("x_lm_score").collect()
      .filter(_.getAs[String]("split") == "train")
    assert(meanNll(train) < meanNll(uniTrain),
      "bigram NLL should undercut unigram NLL on seen text")
  }

  test("x_bpe_tokenize: applying the merges strictly compresses the " +
      "corpus and the subword vocab stays near chars + merges") {
    val r = run("x_bpe_tokenize").collect()(0)
    val (before, after) = (r.getAs[Long]("tokens_before"),
      r.getAs[Long]("tokens_after"))
    assert(after < before, "six merges must remove corpus tokens")
    val c = r.getAs[Double]("compression")
    assert(c > 0.0 && c < 1.0)
    // every merge adds at most one new symbol; chars + '</w>' bound the
    // start. Merged-away symbols may also vanish entirely, so only the
    // upper bound is tight.
    assert(r.getAs[Long]("subword_vocab") <= 26 + 1 + 6)
  }

  test("x_cdc_chunks: content-defined boundaries resynchronize after a " +
      "leading insertion; fixed-width chunking loses everything") {
    val rows = run("x_cdc_chunks").collect()
      .map(r => r.getAs[String]("strategy") -> r).toMap
    assert(rows.keySet == Set("cdc", "fixed"))
    val (cdc, fixed) = (rows("cdc"), rows("fixed"))
    assert(cdc.getAs[Double]("avg_shared_frac") > 0.5,
      "CDC must re-share most chunks after a one-token shift")
    // a one-token shift misaligns EVERY fixed-width chunk; the only
    // possible survivors are coincidental content collisions
    assert(fixed.getAs[Double]("avg_shared_frac") < 0.05,
      "fixed-width chunking should lose (nearly) all chunks")
    assert(cdc.getAs[Long]("chunks_shared") > fixed.getAs[Long]("chunks_shared"))
  }

  test("x_containment: every constructed quote pair scores high " +
      "containment while Jaccard stays strictly below it") {
    val rows = run("x_containment").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (c, j) = (r.getAs[Double]("containment"), r.getAs[Double]("jaccard"))
      assert(c >= 0.5, s"constructed quote pair scored containment $c")
      assert(c > j, "containment must exceed resemblance on a strict " +
        s"quote (c=$c j=$j) — the asymmetry is the measure's point")
    }
  }

  test("x_quality_classifier: training separates both classes well " +
      "above their base rates and the class scores order correctly") {
    val rows = run("x_quality_classifier").collect()
      .map(r => r.getAs[Int]("y") -> r).toMap
    assert(rows.keySet == Set(0, 1))
    val (neg, pos) = (rows(0), rows(1))
    // degenerate all-one-class predictors score 0 on the other class;
    // a trained model must be clearly right on BOTH
    Seq(neg, pos).foreach { r =>
      val (n, c) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_correct"))
      assert(c.toDouble / n > 0.6,
        s"class ${r.getAs[Int]("y")}: $c/$n correct")
    }
    assert(pos.getAs[Double]("avg_score") > neg.getAs[Double]("avg_score"),
      "positive class must average a higher predicted score")
    // predicted-positive counts are consistent with correctness counts:
    // for y=1, n_correct IS n_pred_pos; for y=0 it's the complement
    assert(pos.getAs[Long]("n_correct") == pos.getAs[Long]("n_pred_pos"))
    assert(neg.getAs[Long]("n_correct") ==
      neg.getAs[Long]("n_docs") - neg.getAs[Long]("n_pred_pos"))
  }

  test("x_pca_embeddings: unit-norm eigenvector, and the top component " +
      "explains far more variance than the isotropic floor") {
    val rows = run("x_pca_embeddings").collect()
    assert(rows.length == 64)
    val norm2 = rows.map(r => math.pow(r.getAs[Double]("loading"), 2)).sum
    assert(math.abs(norm2 - 1.0) < 1e-3, s"eigenvector norm^2 = $norm2")
    val vf = rows.head.getAs[Double]("var_frac")
    assert(vf > 0.0 && vf <= 1.0)
    // 40 cluster centers dominate the fixture's spread; an isotropic
    // cloud would put ~1/64 of the variance on every direction
    assert(vf > 3.0 / 64,
      s"var_frac $vf does not reflect the fixture's cluster structure")
    assert(rows.head.getAs[Double]("eigenvalue") > 0.0)
  }

  test("x_semdedup: groups are the constructed (orig, copy) pairs that " +
      "share a cell, keepers come from their own group, and the " +
      "cell-boundary miss stays bounded") {
    val rows = run("x_semdedup").collect()
    // every dup group is one constructed pair: the original and its
    // +1000 perturbed copy (no natural pair clears the 0.99 threshold)
    rows.foreach { r =>
      val (cluster, n, keeper, dropped) = (r.getAs[Long]("cluster"),
        r.getAs[Long]("n_members"), r.getAs[Long]("keeper"),
        r.getAs[Long]("n_dropped"))
      assert(n == 2 && dropped == 1, s"group $cluster has $n members")
      assert(keeper == cluster || keeper == cluster + 1000,
        s"keeper $keeper outside group $cluster")
    }
    // 150 pairs were constructed; within-cell search misses only those
    // whose copy crossed a cell boundary — the documented SemDeDup
    // approximation. It must catch most pairs but is allowed misses.
    assert(rows.length > 100 && rows.length <= 150,
      s"${rows.length} groups found")
  }

  test("x_ann_ivfpq_residual_recall: deeper rerank never loses recall " +
      "(exact top-10 from a shortlist superset is monotone)") {
    val rows = run("x_ann_ivfpq_residual_recall").collect()
      .map(r => r.getAs[String]("config") -> r.getAs[Double]("recall"))
      .toMap
    assert(rows("ivfpq_res_np1_m8k64_rerank128") >=
      rows("ivfpq_res_np1_m8k64_rerank32"))
    rows.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

  // ---- r17 additions -------------------------------------------------

  test("x_generalized_esd: a sequential plain-Scala Rosner replay " +
      "matches every round's pick, statistic and critical value, the " +
      "ESD largest-exceeding-i verdict holds, and round 1 equals the " +
      "Grubbs entry bit-for-bit (the r = 1 regression pin)") {
    import org.apache.spark.sql.functions._
    val daily = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(col("o_orderpriority").as("p"),
        date_trunc("day", col("o_orderdate")).cast("string").as("day"))
      .agg(count(lit(1)).as("y"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rows = run("x_generalized_esd").collect()
    val grubbs = run("x_grubbs_outlier").collect()
      .map(r => r.getAs[String]("priority") -> r).toMap
    daily.map(_._1).distinct.foreach { p =>
      var ys = daily.filter(_._1 == p).toSeq
      val ers = rows.filter(_.getAs[String]("priority") == p)
        .sortBy(_.getAs[Long]("round_i"))
      assert(ers.length == 5)
      var nOutExp = 0L
      for (i <- 1 to 5) {
        val n = ys.length.toLong
        val mean = ys.map(_._3).sum.toDouble / n
        val vr = ys.map(x => (x._3 - mean) * (x._3 - mean)).sum / (n - 1)
        val sd = math.sqrt(vr)
        // engine order exactly (r17 advice #3): (adev DESC, day ASC) on
        // RAW doubles — a tolerance-grouped tie pick could diverge from
        // the engine on deviations within 1e-9 but not bit-equal
        val pick = ys.minBy(x => (-math.abs(x._3 - mean), x._2))
        val rStat = math.abs(pick._3 - mean) / sd
        val tq = hill396(0.05 / n, n - 2)
        val lam = (n - 1) / math.sqrt(n.toDouble) *
          math.sqrt(tq * tq / (n - 2 + tq * tq))
        val er = ers(i - 1)
        assert(er.getAs[String]("extreme_day") == pick._2.substring(0, 10),
          s"$p round $i pick")
        assert(er.getAs[Long]("extreme_count") == pick._3)
        assert(er.getAs[Long]("n_remaining") == n)
        assert(math.abs(er.getAs[Double]("r_stat") - rStat) < 1e-4,
          s"$p round $i R")
        assert(math.abs(er.getAs[Double]("lambda_crit") - lam) < 1e-4,
          s"$p round $i lambda")
        if (rStat > lam) nOutExp = i.toLong
        ys = ys.filterNot(_._2 == pick._2)
        if (i == 1) {
          // round 1 IS Grubbs: identical arithmetic, identical rounding
          val g = grubbs(p)
          assert(er.getAs[Double]("r_stat") ==
            g.getAs[Double]("g_stat"), s"$p ESD r1 vs Grubbs G")
          assert(er.getAs[Double]("lambda_crit") ==
            g.getAs[Double]("g_crit"), s"$p ESD r1 vs Grubbs crit")
        }
      }
      assert(ers.head.getAs[Long]("n_outliers") == nOutExp,
        s"$p ESD verdict (largest exceeding i, not first failure)")
      // masking premise: ESD must flag at least as much as Grubbs
      assert(nOutExp >= (if (grubbs(p).getAs[Boolean]("is_outlier")) 1L
        else 0L))
    }
  }

  test("x_tukey_fences: quartile picks, fences and outlier counts " +
      "match a sorted-vector recompute per priority") {
    import org.apache.spark.sql.functions._
    val cents = graft.util.Tables.t(spark, sf, "orders")
      .select(col("o_orderpriority").as("p"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("yc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val rows = run("x_tukey_fences").collect()
    assert(rows.length == cents.map(_._1).distinct.length)
    rows.foreach { r =>
      val p = r.getAs[String]("priority")
      val ys = cents.filter(_._1 == p).map(_._2).sorted
      val n = ys.length
      // first value with 4·cum >= n is the element at rank ceil(n/4)
      val q1c = ys(((n + 3) / 4) - 1)
      val q3c = ys(((3 * n + 3) / 4) - 1)
      val iqrc = q3c - q1c
      val lo2 = 2 * q1c - 3 * iqrc
      val hi2 = 2 * q3c + 3 * iqrc
      assert(r.getAs[Long]("n") == n.toLong)
      assert(math.abs(r.getAs[Double]("q1") - q1c / 100.0) < 1e-6)
      assert(math.abs(r.getAs[Double]("q3") - q3c / 100.0) < 1e-6)
      assert(math.abs(r.getAs[Double]("iqr") - iqrc / 100.0) < 1e-6)
      assert(math.abs(r.getAs[Double]("fence_lo") - lo2 / 200.0) < 1e-4)
      assert(math.abs(r.getAs[Double]("fence_hi") - hi2 / 200.0) < 1e-4)
      assert(r.getAs[Long]("n_outliers_below") ==
        ys.count(_ * 2 < lo2).toLong)
      assert(r.getAs[Long]("n_outliers_above") ==
        ys.count(_ * 2 > hi2).toLong)
      assert(lo2 <= 2 * q1c && hi2 >= 2 * q3c,
        "fences must sit outside the box")
    }
  }

  test("x_theil_inequality: T, between and within match a plain-double " +
      "recompute and the decomposition identity T = between + within " +
      "holds in both the replay and the engine output") {
    import org.apache.spark.sql.functions._
    val pc = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
        .as("r"))
      .join(graft.util.Tables.t(spark, sf, "customer")
        .select(col("c_custkey").as("ck"),
          col("c_nationkey").cast("long").as("nk")), "ck")
      .collect().map(x => (x.getAs[Double]("r"), x.getAs[Long]("nk")))
      .filter(_._1 > 0)
    val n = pc.length
    val tt = pc.map(_._1).sum
    val tTot = pc.map { case (r, _) => r / tt * math.log(r / tt * n) }.sum
    val byN = pc.groupBy(_._2)
    val tBet = byN.values.map { xs =>
      val rg = xs.map(_._1).sum
      rg / tt * math.log(rg / tt * n / xs.length)
    }.sum
    val tWit = byN.values.map { xs =>
      val rg = xs.map(_._1).sum
      val tg = xs.map { case (r, _) =>
        r / rg * math.log(r / rg * xs.length) }.sum
      rg / tt * tg
    }.sum
    val got = run("x_theil_inequality").collect().head
    assert(got.getAs[Long]("n_customers") == n.toLong)
    assert(got.getAs[Long]("n_nations") == byN.size.toLong)
    assert(math.abs(got.getAs[Double]("theil_total") - tTot) < 1e-6)
    assert(math.abs(got.getAs[Double]("theil_between") - tBet) < 1e-6)
    assert(math.abs(got.getAs[Double]("theil_within") - tWit) < 1e-6)
    assert(math.abs(tTot - (tBet + tWit)) < 1e-9,
      "plain-double decomposition identity")
    assert(math.abs(got.getAs[Double]("theil_total") -
      (got.getAs[Double]("theil_between") +
        got.getAs[Double]("theil_within"))) < 1e-5,
      "engine decomposition identity (to the quantizer)")
  }

  test("x_page_trend: L equals a plain-Scala average-rank recompute " +
      "over complete month blocks and mu/sigma/z follow the exact " +
      "moment formulas") {
    import org.apache.spark.sql.functions._
    val cells = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("string")
          .as("m"),
        col("o_orderpriority").as("p"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[java.math.BigDecimal]("rev")))
    val k = cells.map(_._2).distinct.length
    val full = cells.groupBy(_._1).filter(_._2.length == k)
    var l = 0.0
    full.values.foreach { blk =>
      blk.foreach { c =>
        val less = blk.count(_._3.compareTo(c._3) < 0)
        val eq = blk.count(_._3.compareTo(c._3) == 0)
        val avgRank = less + (eq + 1) / 2.0
        l += c._2.substring(0, 1).toInt * avgRank
      }
    }
    val b = full.size
    val k3 = k.toDouble * k * k - k
    val mu = b.toDouble * k * (k + 1) * (k + 1) / 4.0
    val sg = math.sqrt(b.toDouble * k3 * k3 / (144.0 * (k - 1)))
    val z = (l - mu) / sg
    val got = run("x_page_trend").collect().head
    assert(got.getAs[Long]("n_blocks") == b.toLong)
    assert(got.getAs[Long]("k_treatments") == k.toLong)
    assert(math.abs(got.getAs[Double]("l_stat") - l) < 1e-6)
    assert(math.abs(got.getAs[Double]("mu_l") - mu) < 1e-6)
    assert(math.abs(got.getAs[Double]("sigma_l") - sg) < 1e-3)
    assert(math.abs(got.getAs[Double]("z") - z) < 1e-3)
    assert(got.getAs[Boolean]("increasing_05") == (z > 1.645))
    assert(got.getAs[Boolean]("decreasing_05") == (z < -1.645))
  }

  test("x_cochran_q: Q equals a brute-force integer recompute of the " +
      "above-pooled binary table over complete blocks") {
    import org.apache.spark.sql.functions._
    val cells = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("string")
          .as("m"),
        col("o_orderpriority").as("p"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .as("cf"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val k = cells.map(_._2).distinct.length
    val full = cells.groupBy(_._1).filter(_._2.length == k)
      .values.flatten.toSeq
    val tn = full.map(_._3).sum
    val tk = full.map(_._4).sum
    val x = full.map(c => (c._1, c._2,
      if (BigInt(c._4) * tn > BigInt(c._3) * tk) 1L else 0L))
    val cj = x.groupBy(_._2).values.map(_.map(_._3).sum).toSeq
    val ri = x.groupBy(_._1).values.map(_.map(_._3).sum).toSeq
    val nTot = cj.sum
    val num = (k - 1).toLong * (k * cj.map(c => c * c).sum - nTot * nTot)
    val den = k * nTot - ri.map(r2 => r2 * r2).sum
    val got = run("x_cochran_q").collect().head
    assert(got.getAs[Long]("n_blocks") == ri.size.toLong)
    assert(got.getAs[Long]("k_treatments") == k.toLong)
    assert(got.getAs[Long]("n_success_total") == nTot)
    if (den > 0) {
      val q = num.toDouble / den
      assert(math.abs(got.getAs[Double]("q_stat") - q) < 1e-3)
      assert(q >= 0.0)
    } else assert(got.isNullAt(got.fieldIndex("q_stat")))
  }

  test("x_kendalls_w: W equals a plain-Scala average-rank recompute, " +
      "sits in [0, 1], and the identity chi2_F(tie-corrected) = " +
      "b(k-1)W holds against x_friedman_test's own output") {
    import org.apache.spark.sql.functions._
    val cells = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("string")
          .as("m"),
        col("o_orderpriority").as("p"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[java.math.BigDecimal]("rev")))
    val k = cells.map(_._2).distinct.length
    val full = cells.groupBy(_._1).filter(_._2.length == k)
    val b = full.size
    // average-rank sums per treatment + per-block tie cubes
    val rj = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    var st3 = 0L
    full.values.foreach { blk =>
      blk.foreach { c =>
        val less = blk.count(_._3.compareTo(c._3) < 0)
        val eq = blk.count(_._3.compareTo(c._3) == 0)
        rj(c._2) += less + (eq + 1) / 2.0
      }
      blk.groupBy(_._3).values.foreach { g =>
        val t = g.length.toLong; st3 += t * t * t - t
      }
    }
    val s = rj.values.map(r2 => {
      val d = r2 - b * (k + 1) / 2.0; d * d
    }).sum
    val den = b.toDouble * b * k * (k * k - 1) - b.toDouble * st3
    val w = 12.0 * s / den
    val got = run("x_kendalls_w").collect().head
    assert(got.getAs[Long]("n_blocks") == b.toLong)
    assert(got.getAs[Long]("k_treatments") == k.toLong)
    val gw = got.getAs[Double]("kendalls_w")
    assert(gw >= 0.0 && gw <= 1.0)
    assert(math.abs(gw - w) < 1e-6, s"W $gw vs brute $w")
    assert(math.abs(got.getAs[Double]("chi2_from_w") - b * (k - 1) * w)
      < 1e-3)
    // the Friedman link: chi2_F(tie-corrected) = b(k-1)·W
    val fr = run("x_friedman_test").collect().head
    assert(math.abs(fr.getAs[Double]("q_tie_corrected") -
      got.getAs[Double]("chi2_from_w")) < 2e-3,
      "Kendall-Friedman identity")
    assert(fr.getAs[Boolean]("reject_05") ==
      got.getAs[Boolean]("reject_05"))
  }

  test("x_eoq_policy: EOQ, buffer and cadence columns match a " +
      "plain-double recompute from raw rows; orders_per_year × " +
      "cycle_days = 365 (the EOQ identity)") {
    import org.apache.spark.sql.functions._
    val daily = graft.util.Tables.t(spark, sf, "lineitem")
      .join(graft.util.Tables.t(spark, sf, "part")
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("b"),
        date_trunc("day", col("l_shipdate")).cast("string").as("day"),
        col("l_quantity").cast("double").as("q"))
      .collect()
      .map(r => (r.getString(0), r.getString(1).substring(0, 10),
        r.getDouble(2)))
    val allDays = daily.map(_._2).distinct.sorted
    val span = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(allDays.head),
      java.time.LocalDate.parse(allDays.last)) + 1
    val rows = run("x_eoq_policy").collect()
    assert(rows.length == daily.map(_._1).distinct.length)
    rows.foreach { r =>
      val b = r.getAs[String]("brand")
      assert(r.getAs[Long]("n_span_days") == span)
      val byDay = daily.filter(_._1 == b).groupBy(_._2).values
        .map(xs => xs.map(x => math.floor(x._3 * 1e4 + 0.5)).sum / 1e4)
        .toSeq
      val sy = byDay.sum
      val dann = sy * 365.0 / span
      val eoq = math.sqrt(2.0 * dann * 50.0 / 2.0)
      assert(math.abs(r.getAs[Double]("annual_demand") - dann) < 0.02)
      assert(math.abs(r.getAs[Double]("eoq_units") - eoq) < 0.02)
      // zero-inclusive buffer moments (n = span; zero days add nothing)
      val mu = sy / span
      val vr = (byDay.map(q => q * q).sum - sy * sy / span) / (span - 1)
      val ss = 1.6448536269514722 * math.sqrt(vr) * math.sqrt(7.0)
      assert(math.abs(r.getAs[Double]("safety_stock") - ss) < 0.01)
      assert(math.abs(r.getAs[Double]("reorder_point") - (mu * 7 + ss))
        < 0.01)
      val opy = r.getAs[Double]("orders_per_year")
      val cyc = r.getAs[Double]("cycle_days")
      assert(math.abs(opy * cyc - 365.0) < 0.01,
        s"$b cadence identity: $opy x $cyc")
    }
  }

  // ---- r18 additions -------------------------------------------------

  test("x_quade_test: A, B and F match a plain-double average-rank " +
      "recompute (float ranks, not the engine's doubled-integer form), " +
      "and A >= B >= 0") {
    import org.apache.spark.sql.functions._
    val cells = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("string")
          .as("m"),
        col("o_orderpriority").as("p"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[java.math.BigDecimal]("rev")))
    val k = cells.map(_._2).distinct.length
    val full = cells.groupBy(_._1).filter(_._2.length == k)
    val b = full.size
    def avgRank[T](vals: Seq[T], x: T)(cmp: (T, T) => Int): Double = {
      val less = vals.count(v => cmp(v, x) < 0)
      val eq = vals.count(v => cmp(v, x) == 0)
      less + (eq + 1) / 2.0
    }
    val ranges = full.view.mapValues { blk =>
      val vs = blk.map(_._3)
      vs.max.subtract(vs.min)
    }.toMap
    val rvals = ranges.values.toSeq
    var a = 0.0
    val sj = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    full.foreach { case (m, blk) =>
      val qi = avgRank(rvals, ranges(m))(_.compareTo(_))
      val vs = blk.map(_._3).toSeq
      blk.foreach { c =>
        val rij = avgRank(vs, c._3)(_.compareTo(_))
        val sij = qi * (rij - (k + 1) / 2.0)
        a += sij * sij
        sj(c._2) += sij
      }
    }
    val bb = sj.values.map(x => x * x).sum / b
    val got = run("x_quade_test").collect().head
    assert(got.getAs[Long]("n_blocks") == b.toLong)
    assert(got.getAs[Long]("k_treatments") == k.toLong)
    assert(a >= bb && bb >= 0.0)
    assert(math.abs(got.getAs[Double]("quade_a") - a) < 1e-3,
      s"A ${got.getAs[Double]("quade_a")} vs brute $a")
    assert(math.abs(got.getAs[Double]("quade_b") - bb) < 1e-3,
      s"B ${got.getAs[Double]("quade_b")} vs brute $bb")
    assert(got.getAs[Long]("df1") == (k - 1).toLong)
    assert(got.getAs[Long]("df2") == ((b - 1) * (k - 1)).toLong)
    if (a > bb) {
      val f = (b - 1) * bb / (a - bb)
      assert(math.abs(got.getAs[Double]("f_stat") - f) < 1e-5,
        s"F ${got.getAs[Double]("f_stat")} vs brute $f")
    } else assert(got.isNullAt(got.fieldIndex("f_stat")))
  }

  test("x_lorenz_curve: cumulative shares match a sorted-vector " +
      "recompute, the curve is monotone, convex, below the diagonal, " +
      "and ends at exactly 1.0") {
    import org.apache.spark.sql.functions._
    val rq = graft.util.Tables.t(spark, sf, "lineitem")
      .groupBy(col("l_suppkey").cast("long").as("sk"))
      .agg(sum(graft.types.Coercions.revenue(
        col("l_extendedprice"), col("l_discount")))
        .cast("double").as("rev"))
      .collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 1e4 + 0.5)
        .toLong))
      .sortBy(x => (x._2, x._1))
    val n = rq.length
    val tot = rq.map(_._2).sum
    val rows = run("x_lorenz_curve").collect()
    assert(rows.length == 10)
    var prevShare = 0.0
    var prevInc = -1.0
    rows.sortBy(_.getAs[Long]("decile")).foreach { r =>
      val d = r.getAs[Long]("decile").toInt
      val idx = n * d / 10
      assert(r.getAs[Long]("n_cum_suppliers") == idx.toLong)
      val share = rq.take(idx).map(_._2).sum.toDouble / tot
      val gs = r.getAs[Double]("cum_share")
      assert(math.abs(gs - share) < 1e-6, s"decile $d: $gs vs $share")
      assert(gs >= prevShare, s"monotone at $d")
      val inc = gs - prevShare
      // convexity: each decile's increment is >= the previous one's
      // (suppliers are sorted ascending, so later slices are richer)
      assert(inc >= prevInc - 1e-9, s"convex at $d")
      assert(gs <= d / 10.0 + 1e-9, s"below diagonal at $d")
      prevShare = gs; prevInc = inc
    }
    assert(rows.map(_.getAs[Double]("cum_share")).max == 1.0)
  }

  test("x_hoover_index: H matches a plain-double recompute over " +
      "per-customer revenue and sits in [0, 1)") {
    import org.apache.spark.sql.functions._
    val rv = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .collect()
      .map(_.getAs[java.math.BigDecimal]("rev").doubleValue())
    val n = rv.length
    val tt = rv.sum
    val h = 0.5 * rv.map(v => math.abs(v / tt - 1.0 / n)).sum
    val got = run("x_hoover_index").collect().head
    assert(got.getAs[Long]("n_customers") == n.toLong)
    val gh = got.getAs[Double]("hoover_index")
    assert(gh >= 0.0 && gh < 1.0)
    assert(math.abs(gh - h) < 1e-6, s"H $gh vs brute $h")
  }

  test("x_tsb_demand: p-hat and z-hat match a sequential plain-Scala " +
      "TSB recompute, p-hat is a probability, the rate identity " +
      "rate = p*z holds, and z-hat equals Croston's size estimate " +
      "bit-for-bit (same ladder)") {
    import org.apache.spark.sql.functions._
    val daily = graft.util.Tables.t(spark, sf, "lineitem")
      .join(graft.util.Tables.t(spark, sf, "part")
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("b"),
        date_trunc("day", col("l_shipdate")).cast("string").as("day"))
      .agg(sum(floor(col("l_quantity") * 1e4 + lit(0.5))
        .cast("long")).as("qq"))
      .collect()
      .map(r => (r.getString(0), r.getString(1).substring(0, 10),
        r.getLong(2) / 1e4))
    val dmax = daily.map(_._2).max
    def lagDays(from: String, to: String): Long =
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(from), java.time.LocalDate.parse(to))
    val denP = (0 until 40).map(j => math.pow(0.8, j)).sum
    val rows = run("x_tsb_demand").collect()
    assert(rows.length == daily.map(_._1).distinct.length)
    val croston = run("x_croston_demand").collect()
      .map(r => r.getAs[String]("brand") -> r.getAs[Double]("size_hat"))
      .toMap
    rows.foreach { r =>
      val b = r.getAs[String]("brand")
      val xs = daily.filter(_._1 == b).sortBy(_._2)
      // probability: beta-ladder over calendar lags < 40 from dmax
      val pN = xs.filter(x => lagDays(x._2, dmax) < 40)
        .map(x => math.pow(0.8, lagDays(x._2, dmax).toDouble)).sum
      val p = pN / denP
      // size: croston ladder over the last <= 40 demand days
      val zs = xs.map(_._3).takeRight(40).reverse // most recent first
      val ws = zs.indices.map(j => math.pow(0.8, j))
      val z = zs.zip(ws).map { case (q, w) => q * w }.sum / ws.sum
      val gp = r.getAs[Double]("p_hat")
      val gz = r.getAs[Double]("z_hat")
      assert(gp >= 0.0 && gp <= 1.0, s"$b p-hat range")
      assert(math.abs(gp - p) < 1e-4, s"$b p-hat $gp vs $p")
      assert(math.abs(gz - z) < 1e-4, s"$b z-hat $gz vs $z")
      // gp/gz are 6-dp-rounded outputs while tsb_rate rounds the RAW
      // product, so the identity holds to z·1e-6 ≈ 1e-4, not 1e-6
      assert(math.abs(r.getAs[Double]("tsb_rate") - gp * gz) < 1e-4,
        s"$b rate identity")
      // same ladder, same rounding: TSB's size estimate IS Croston's
      assert(gz == croston(b), s"$b z-hat vs croston size_hat")
    }
  }

  test("x_theil_u_forecast: U2 matches a sequential plain-Scala " +
      "SES-ladder-vs-naive recompute over the last 12 months and the " +
      "beats-naive verdict is consistent") {
    import org.apache.spark.sql.functions._
    val ys = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("string")
        .as("m"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .collect()
      .map(r => (r.getString(0),
        r.getAs[java.math.BigDecimal]("rev").doubleValue() / 1e6))
      .sortBy(_._1).map(_._2)
    val tN = ys.length
    var num = 0.0; var den = 0.0
    for (t <- (tN - 12) until tN) {
      val lags = (1 to 40).filter(i => t - i >= 0)
      val w = lags.map(i => math.pow(0.7, i))
      val f = lags.zip(w).map { case (i, wi) => ys(t - i) * wi }.sum /
        w.sum
      num += (f - ys(t)) * (f - ys(t))
      den += (ys(t - 1) - ys(t)) * (ys(t - 1) - ys(t))
    }
    val u2 = math.sqrt(num / den)
    val got = run("x_theil_u_forecast").collect().head
    assert(got.getAs[Long]("n_months") == tN.toLong)
    assert(got.getAs[Long]("n_scored") == 12L)
    val gu = got.getAs[Double]("u2_stat")
    assert(math.abs(gu - u2) < 1e-5, s"U2 $gu vs brute $u2")
    assert(got.getAs[Boolean]("beats_naive") == (gu < 1.0))
    assert(math.abs(got.getAs[Double]("rmse_model_mil")
      - math.sqrt(num / 12)) < 1e-5)
    assert(math.abs(got.getAs[Double]("rmse_naive_mil")
      - math.sqrt(den / 12)) < 1e-5)
  }

  test("x_atkinson_index: A(0.5) and A(1) match plain-double " +
      "recomputes, sit in [0, 1), and A is nondecreasing in the " +
      "aversion parameter") {
    import org.apache.spark.sql.functions._
    val rv = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .collect()
      .map(_.getAs[java.math.BigDecimal]("rev").doubleValue())
      .filter(_ > 0)
    val n = rv.length
    val mu = rv.sum / n
    val a05 = 1.0 - math.pow(rv.map(math.sqrt).sum / n, 2) / mu
    val a1 = 1.0 - math.exp(rv.map(math.log).sum / n) / mu
    val got = run("x_atkinson_index").collect().head
    assert(got.getAs[Long]("n_customers") == n.toLong)
    val g05 = got.getAs[Double]("atkinson_05")
    val g1 = got.getAs[Double]("atkinson_1")
    assert(g05 >= 0.0 && g05 < 1.0 && g1 >= 0.0 && g1 < 1.0)
    assert(g05 <= g1 + 1e-9, "A nondecreasing in aversion")
    assert(math.abs(g05 - a05) < 1e-6, s"A(0.5) $g05 vs brute $a05")
    assert(math.abs(g1 - a1) < 1e-6, s"A(1) $g1 vs brute $a1")
  }

  test("x_palma_ratio: tail shares match a sorted-vector recompute " +
      "with exact integer thresholds, and the two tails plus the " +
      "middle sum to the whole") {
    import org.apache.spark.sql.functions._
    val rq = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(col("o_custkey").cast("long").as("ck"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)"))
        .cast("double").as("rv"))
      .collect()
      .map(r => (r.getLong(0),
        math.floor(r.getDouble(1) * 1e4 + 0.5).toLong))
      .sortBy(x => (x._2, x._1))
    val n = rq.length
    val tot = rq.map(_._2).sum
    val bot = rq.take(4 * n / 10).map(_._2).sum
    val top = rq.drop(n - n / 10).map(_._2).sum
    val got = run("x_palma_ratio").collect().head
    assert(got.getAs[Long]("n_customers") == n.toLong)
    val gb = got.getAs[Double]("bottom40_share")
    val gt = got.getAs[Double]("top10_share")
    assert(math.abs(gb - bot.toDouble / tot) < 1e-6)
    assert(math.abs(gt - top.toDouble / tot) < 1e-6)
    assert(gb > 0.0 && gt > 0.0 && gb + gt < 1.0)
    assert(math.abs(got.getAs[Double]("palma_ratio")
      - top.toDouble / bot) < 1e-5)
  }

  test("x_mase_forecast: MASE matches a sequential recompute (ladder " +
      "forecasts on the last 12, naive scale on the train prefix), " +
      "the ratio identity holds, and the month count agrees with " +
      "x_theil_u_forecast's") {
    import org.apache.spark.sql.functions._
    val ys = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("string")
        .as("m"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .collect()
      .map(r => (r.getString(0),
        r.getAs[java.math.BigDecimal]("rev").doubleValue() / 1e6))
      .sortBy(_._1).map(_._2)
    val tN = ys.length
    var num = 0.0
    for (t <- (tN - 12) until tN) {
      val lags = (1 to 40).filter(i => t - i >= 0)
      val w = lags.map(i => math.pow(0.7, i))
      val f = lags.zip(w).map { case (i, wi) => ys(t - i) * wi }.sum /
        w.sum
      num += math.abs(f - ys(t))
    }
    val mm = num / 12
    val steps = (1 until (tN - 12)).map(t => math.abs(ys(t) - ys(t - 1)))
    val ms = steps.sum / steps.length
    val got = run("x_mase_forecast").collect().head
    assert(got.getAs[Long]("n_months") == tN.toLong)
    assert(got.getAs[Long]("n_scored") == 12L)
    assert(got.getAs[Long]("n_train_steps") == steps.length.toLong)
    assert(math.abs(got.getAs[Double]("mae_model_mil") - mm) < 1e-5)
    assert(math.abs(got.getAs[Double]("scale_naive_mil") - ms) < 1e-5)
    val gm = got.getAs[Double]("mase")
    assert(math.abs(gm - mm / ms) < 1e-5)
    assert(got.getAs[Boolean]("beats_naive") == (gm < 1.0))
    val tu = run("x_theil_u_forecast").collect().head
    assert(tu.getAs[Long]("n_months") == got.getAs[Long]("n_months"))
  }

  test("x_nemenyi_posthoc: every pair's rank difference and critical " +
      "difference match a plain-double average-rank recompute, the " +
      "pair count is k(k-1)/2, and rank_a/rank_b agree with the " +
      "per-treatment averages") {
    import org.apache.spark.sql.functions._
    val cells = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("string")
          .as("m"),
        col("o_orderpriority").as("p"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[java.math.BigDecimal]("rev")))
    val k = cells.map(_._2).distinct.length
    val full = cells.groupBy(_._1).filter(_._2.length == k)
    val b = full.size
    val rbar = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    full.values.foreach { blk =>
      blk.foreach { c =>
        val less = blk.count(_._3.compareTo(c._3) < 0)
        val eq = blk.count(_._3.compareTo(c._3) == 0)
        rbar(c._2) += less + (eq + 1) / 2.0
      }
    }
    val avg = rbar.map { case (p, s) => p -> s / b }
    val qTab = Map(2 -> 1.959964, 3 -> 2.343701, 4 -> 2.569032,
      5 -> 2.727747, 6 -> 2.849705)
    val cd = qTab(k) * math.sqrt(k * (k + 1) / (6.0 * b))
    val rows = run("x_nemenyi_posthoc").collect()
    assert(rows.length == k * (k - 1) / 2)
    rows.foreach { r =>
      val ta = r.getAs[String]("trt_a")
      val tb = r.getAs[String]("trt_b")
      assert(ta < tb)
      assert(r.getAs[Long]("n_blocks") == b.toLong)
      assert(math.abs(r.getAs[Double]("rank_a") - avg(ta)) < 1e-6)
      assert(math.abs(r.getAs[Double]("rank_b") - avg(tb)) < 1e-6)
      val diff = math.abs(avg(ta) - avg(tb))
      assert(math.abs(r.getAs[Double]("rank_diff") - diff) < 1e-6)
      assert(math.abs(r.getAs[Double]("crit_diff") - cd) < 1e-6)
      assert(r.getAs[Boolean]("significant") == (diff > cd))
    }
  }

  test("x_rank_biased_overlap: rbo matches a plain-double recompute " +
      "via the max-rank identity, the bracket width is exactly p^D, " +
      "and the formula machinery pins self-agreement at 1 - p^D") {
    import org.apache.spark.sql.functions._
    val base = graft.util.Tables.t(spark, sf, "lineitem")
      .groupBy(col("l_suppkey").cast("long").as("sk"))
      .agg(sum(graft.types.Coercions.revenue(
        col("l_extendedprice"), col("l_discount")))
        .cast("double").as("rev"),
        (sum(floor(col("l_quantity") * 1e4 + lit(0.5))
          .cast("decimal(38,0)")).cast("double") / 1e4).as("qty"))
      .collect()
      .map(r => (r.getLong(0),
        math.floor(r.getDouble(1) * 1e4 + 0.5).toLong,
        math.floor(r.getDouble(2) * 1e4 + 0.5).toLong))
    val ra = base.sortBy(x => (-x._2, x._1)).map(_._1).zipWithIndex
      .map { case (s, i) => s -> (i + 1) }.toMap
    val rb = base.sortBy(x => (-x._3, x._1)).map(_._1).zipWithIndex
      .map { case (s, i) => s -> (i + 1) }.toMap
    val m = base.map(x => math.max(ra(x._1), rb(x._1)))
    val p = 0.98
    def rboOf(ov: Int => Int): Double =
      (1 to 100).map(d => (1 - p) * math.pow(p, d - 1) * ov(d) / d).sum
    val rbo = rboOf(d => m.count(_ <= d))
    // formula sanity: a list compared with itself overlaps fully at
    // every depth, so truncated RBO must be exactly 1 - p^D
    assert(math.abs(rboOf(d => d) - (1.0 - math.pow(p, 100))) < 1e-12)
    val got = run("x_rank_biased_overlap").collect().head
    assert(got.getAs[Long]("n_suppliers") == base.length.toLong)
    val lo = got.getAs[Double]("rbo_lo")
    val hi = got.getAs[Double]("rbo_hi")
    assert(lo >= 0.0 && lo <= hi && hi <= 1.0 + 1e-9)
    assert(math.abs(lo - rbo) < 1e-6, s"rbo_lo $lo vs brute $rbo")
    assert(math.abs((hi - lo) - math.pow(p, 100)) < 2e-6,
      "bracket width must be the unseen tail mass p^D")
  }

  // ---- r19 additions -------------------------------------------------

  /** Daily order counts per priority, the grain four r19 ops share. */
  private def dailyCounts(): Map[String, Seq[(String, Long)]] = {
    import org.apache.spark.sql.functions._
    graft.util.Tables.t(spark, sf, "orders")
      .groupBy(col("o_orderpriority").as("p"),
        date_trunc("day", col("o_orderdate")).cast("string").as("day"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("y"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (p, v) =>
        p -> v.map(x => (x._2, x._3)).sortBy(_._1).toSeq
      }
  }

  test("x_jarque_bera: skewness, kurtosis and JB match a direct " +
      "central-moment recompute (sum of (y-mean)^k / n, NOT the " +
      "engine's sufficient-statistics expansion), and the verdict is " +
      "the chi-square(2) comparison") {
    val daily = dailyCounts()
    val rows = run("x_jarque_bera").collect()
    assert(rows.length == daily.size)
    rows.foreach { r =>
      val p = r.getAs[String]("priority")
      val ys = daily(p).map(_._2.toDouble)
      val n = ys.length.toDouble
      assert(r.getAs[Long]("n_days") == ys.length.toLong)
      val mean = ys.sum / n
      def cm(k: Int) = ys.map(y => math.pow(y - mean, k)).sum / n
      val (m2, m3, m4) = (cm(2), cm(3), cm(4))
      val skew = m3 / (m2 * math.sqrt(m2))
      val kurt = m4 / (m2 * m2)
      val jb = n / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
      // engine outputs are 4-dp rounded; the direct-vs-expansion float
      // gap is orders below the grid, so one grid step bounds both
      assert(math.abs(r.getAs[Double]("skewness") - skew) < 1e-4, p)
      assert(math.abs(r.getAs[Double]("kurtosis") - kurt) < 1e-4, p)
      assert(math.abs(r.getAs[Double]("jb_stat") - jb) < 1e-3, p)
      assert(r.getAs[Boolean]("reject_normal_05") == (jb > 5.991465), p)
      assert(r.getAs[Double]("jb_stat") >= 0.0, "JB is a sum of squares")
    }
  }

  test("x_dunn_posthoc: pairwise z statistics match a classic " +
      "average-rank recompute (sort-and-average-ties, NOT the " +
      "histogram-cumsum recipe), the critical value is the Bonferroni " +
      "normal quantile at the data-decided pair count, and the pair " +
      "grid is complete") {
    import org.apache.spark.sql.functions._
    val vals = graft.util.Tables.t(spark, sf, "orders")
      .select(col("o_orderpriority").as("g"),
        floor(col("o_totalprice") * 100 + org.apache.spark.sql.functions
          .lit(0.5)).cast("long").as("qv"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // classic pooled average ranks: sort, then each tie group gets the
    // mean of the positions it occupies
    val sorted = vals.map(_._2).sorted
    val avgRank: Map[Long, Double] = sorted.zipWithIndex
      .groupBy(_._1)
      .map { case (v, xs) =>
        v -> (xs.map(_._2 + 1).sum.toDouble / xs.length)
      }
    val byG = vals.groupBy(_._1)
    val meanRank = byG.map { case (g, vs) =>
      g -> vs.map(x => avgRank(x._2)).sum / vs.length }
    val nG = byG.map { case (g, vs) => g -> vs.length.toLong }
    val nn = vals.length.toDouble
    val st3 = sorted.groupBy(identity).values
      .map(t => t.length.toDouble * t.length * t.length - t.length).sum
    val varbase = nn * (nn + 1) / 12.0 - st3 / (12.0 * (nn - 1))
    val k = byG.size
    val m = k * (k - 1) / 2
    // Φ⁻¹(1 − q) = −Φ⁻¹(q): the spec's invnorm transcription carries
    // only the lower/central Acklam branches, and q = 0.025/m is small
    val crit = -invnorm(0.025 / m)
    val rows = run("x_dunn_posthoc").collect()
    assert(rows.length == m, "complete pair grid k(k-1)/2")
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("grp_a"), r.getAs[String]("grp_b"))
      assert(a < b)
      assert(r.getAs[Long]("n_a") == nG(a) && r.getAs[Long]("n_b") == nG(b))
      val z = (meanRank(a) - meanRank(b)) /
        math.sqrt(varbase * (1.0 / nG(a) + 1.0 / nG(b)))
      assert(math.abs(r.getAs[Double]("mean_rank_a") - meanRank(a)) < 2e-6)
      assert(math.abs(r.getAs[Double]("mean_rank_b") - meanRank(b)) < 2e-6)
      assert(math.abs(r.getAs[Double]("var_base") - varbase) < 0.01)
      assert(math.abs(r.getAs[Double]("z_stat") - z) < 2e-4, s"$a|$b")
      assert(math.abs(r.getAs[Double]("crit_bonf") - crit) < 1e-6)
      assert(r.getAs[Long]("n_groups") == k.toLong)
      assert(r.getAs[Long]("n_pairs") == m.toLong)
      assert(r.getAs[Boolean]("significant") == (math.abs(z) > crit))
    }
  }

  test("x_pettitt_test: K, the break day and the p-value match a " +
      "sequential classic-rank replay (U_t = 2*cumsum(avg ranks) - " +
      "t(n+1)) on every series including the pooled one, and the " +
      "pooled series is present") {
    val daily = dailyCounts()
    val pooled = daily.values.flatten
      .groupBy(_._1).map { case (d, v) => (d, v.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    val series = daily + ("ALL" -> pooled)
    val rows = run("x_pettitt_test").collect()
      .map(r => r.getAs[String]("series") -> r).toMap
    assert(rows.keySet == series.keySet)
    series.foreach { case (name, ser) =>
      val n = ser.length
      val sorted = ser.map(_._2).sorted
      val avgRank: Map[Long, Double] = sorted.zipWithIndex
        .groupBy(_._1)
        .map { case (v, xs) =>
          v -> (xs.map(_._2 + 1).sum.toDouble / xs.length)
        }
      var cum = 0.0
      var bestK = -1L
      var bestDay: String = null
      ser.zipWithIndex.foreach { case ((day, y), i) =>
        val t = i + 1
        cum += avgRank(y)
        if (t < n) {
          val u = math.round(2.0 * cum - t.toDouble * (n + 1))
          if (math.abs(u) > bestK) { bestK = math.abs(u); bestDay = day }
        }
      }
      val p = math.min(1.0,
        2.0 * math.exp(-6.0 * bestK * bestK /
          (n.toDouble * n * n + n.toDouble * n)))
      val r = rows(name)
      assert(r.getAs[Long]("n_days") == n.toLong, name)
      assert(r.getAs[Long]("k_stat") == bestK, s"$name K")
      assert(r.getAs[String]("change_day") == bestDay.substring(0, 10),
        s"$name t*")
      assert(math.abs(r.getAs[Double]("p_value") - p) < 2e-4, s"$name p")
      assert(r.getAs[Boolean]("significant_05") == (p < 0.05), name)
    }
  }

  test("x_damped_trend_forecast: the 40-weight ladder reproduces the " +
      "exact Gardner-McKenzie recursion's one-step forecast on a " +
      "deterministic random walk (the backlog's validation, re-run), " +
      "and the engine's top-10 rows match a plain-Scala ladder replay " +
      "bit-for-bit") {
    // independent weight derivation: iterate the state recursion on a
    // unit impulse — the weight on lag i IS the forecast response
    val (al, bs, ph) = (0.3, 0.1, 0.9)
    def weights(nw: Int): Array[Double] = {
      val out = Array.ofDim[Double](nw + 1)
      var (v0, v1) = (al, al * bs)
      for (i <- 1 to nw) {
        out(i) = v0 + ph * v1
        val t0 = (1.0 - al) * v0 + (1.0 - al) * ph * v1
        val t1 = -al * bs * v0 + (1.0 - al * bs) * ph * v1
        v0 = t0; v1 = t1
      }
      out
    }
    val w = weights(40)
    // exact recursion vs the normalized truncated ladder on a seeded
    // LCG random walk — the read-only prototype validation, pinned
    val ys = Array.ofDim[Double](200)
    ys(0) = 100.0
    var seed = 14L
    for (i <- 1 until 200) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val u = (seed >>> 11).toDouble / (1L << 53).toDouble
      ys(i) = ys(i - 1) + (u - 0.5) * 10.0
    }
    var (l, b) = (ys(0), 0.0)
    for (t <- 1 until 200) {
      val lp = l
      l = al * ys(t) + (1.0 - al) * (l + ph * b)
      b = bs * (l - lp) + (1.0 - bs) * ph * b
    }
    val fExact = l + ph * b
    val fLadder = (1 to 40).map(i => w(i) * ys(200 - i)).sum /
      (1 to 40).map(w).sum
    assert(math.abs(fLadder - fExact) / math.abs(fExact) < 1e-5,
      "normalized truncated-40 ladder must reproduce the recursion")
    assert(w.slice(1, 41).min < 0.0,
      "the damped-oscillatory weights genuinely dip negative")
    assert(math.abs(w.slice(1, 41).sum - 0.999859) < 1e-5)
    // engine replay: quantized ladder over the fixture's daily series
    val daily = dailyCounts()
    val qw = (1 to 40).map(i => math.floor(w(i) * 1e9 + 0.5).toLong)
    val all = daily.toSeq.flatMap { case (p, ser) =>
      val ysr = ser.map(_._2).toArray
      ser.indices.flatMap { t =>
        val lags = (1 to 40).filter(i => t - i >= 0)
        val dq = lags.map(i => qw(i - 1)).sum
        if (lags.isEmpty || dq <= 0) None
        else {
          val nq = lags.map(i =>
            math.floor(ysr(t - i) * w(i) * 1e9 + 0.5).toLong).sum
          val f = nq.toDouble / dq.toDouble
          val resid = ysr(t) - f
          Some((p, ser(t)._1.substring(0, 10), ysr(t), f, resid,
            math.floor(math.abs(resid) * 1e6 + 0.5).toLong))
        }
      }
    }
    val expect = all.sortBy(x => (-x._6, x._1, x._2)).take(10)
      .map(x => (x._1, x._2, x._3,
        math.floor(x._4 * 1e6 + 0.5) / 1e6,
        math.floor(x._5 * 1e6 + 0.5) / 1e6))
    val got = run("x_damped_trend_forecast").collect()
      .map(r => (r.getAs[String]("priority"), r.getAs[String]("day"),
        r.getAs[Long]("y"), r.getAs[Double]("forecast"),
        r.getAs[Double]("resid")))
    assert(got.toSeq == expect, s"engine $got vs replay $expect")
  }

  /** Pooled (all-priorities) daily counts, day-sorted. */
  private def pooledDaily(): Seq[(String, Long)] =
    dailyCounts().values.flatten
      .groupBy(_._1).map { case (d, v) => (d, v.map(_._2).sum) }
      .toSeq.sortBy(_._1)

  test("x_snht_changepoint: the statistic and break day match a " +
      "sequential per-element z-score replay (classic formulation, " +
      "not the integer-cumsum identity), and T is the max over t < n") {
    val ser = pooledDaily()
    val ys = ser.map(_._2.toDouble)
    val n = ys.length
    val mean = ys.sum / n
    val sd = math.sqrt(ys.map(y => (y - mean) * (y - mean)).sum / (n - 1))
    val zs = ys.map(y => (y - mean) / sd)
    var cum = 0.0
    var bestT = -1.0
    var bestDay: String = null
    for (t <- 1 until n) {
      cum += zs(t - 1)
      val z1 = cum / t
      val z2 = (zs.sum - cum) / (n - t)
      val tt = t * z1 * z1 + (n - t) * z2 * z2
      if (tt > bestT + 1e-12) { bestT = tt; bestDay = ser(t - 1)._1 }
    }
    val r = run("x_snht_changepoint").collect().head
    assert(r.getAs[Long]("n_days") == n.toLong)
    assert(math.abs(r.getAs[Double]("t_stat") - bestT) < 1e-3)
    assert(r.getAs[String]("change_day") == bestDay.substring(0, 10))
    assert(r.getAs[Double]("t_stat") >= 0.0)
  }

  test("x_buishand_range: R/sqrt(n), the candidate day and the " +
      "Brownian-bridge p match a per-element cumulative-deviation " +
      "replay with a 50-term tail (5x the engine's ladder)") {
    val ser = pooledDaily()
    val ys = ser.map(_._2.toDouble)
    val n = ys.length
    val mean = ys.sum / n
    val sd = math.sqrt(ys.map(y => (y - mean) * (y - mean)).sum / (n - 1))
    var c = 0.0
    val sk = ys.map { y => c += y - mean; c }
    val x = (sk.max - sk.min) / sd / math.sqrt(n.toDouble)
    // earliest argmax |S_k| for k < n
    val bestK = sk.init.zipWithIndex
      .maxBy { case (s, i) => (math.abs(s), -i) }._2
    val p = math.min(1.0, 2.0 * (1 to 50).map(k =>
      (4.0 * k * k * x * x - 1.0) *
        math.exp(-2.0 * k * k * x * x)).sum)
    val r = run("x_buishand_range").collect().head
    assert(r.getAs[Long]("n_days") == n.toLong)
    assert(math.abs(r.getAs[Double]("r_over_sqrt_n") - x) < 1e-3)
    assert(r.getAs[String]("change_day") ==
      ser(bestK)._1.substring(0, 10))
    assert(math.abs(r.getAs[Double]("p_value") - p) < 2e-4,
      s"p ${r.getAs[Double]("p_value")} vs brute $p")
    assert(r.getAs[Boolean]("significant_05") == (p < 0.05))
  }

  test("x_kpss_test: eta matches a classic raw-double replay (per-" +
      "element partial sums and autocovariances, pow instead of " +
      "nested sqrt) and the bandwidth follows the 4(n/100)^0.25 rule") {
    val ys = pooledDaily().map(_._2.toDouble)
    val n = ys.length
    val mean = ys.sum / n
    val e = ys.map(_ - mean)
    var c = 0.0
    val s = e.map { x => c += x; c }
    val q = math.floor(4.0 * math.pow(n / 100.0, 0.25)).toInt
    val g0 = e.map(x => x * x).sum / n
    val s2lr = g0 + 2.0 * (1 to q).map { j =>
      (1.0 - j.toDouble / (q + 1)) *
        (j until n).map(i => e(i) * e(i - j)).sum / n
    }.sum
    val eta = s.map(x => x * x).sum / (n.toDouble * n * s2lr)
    val r = run("x_kpss_test").collect().head
    assert(r.getAs[Long]("n_days") == n.toLong)
    assert(r.getAs[Long]("q_lags") == q.toLong)
    assert(math.abs(r.getAs[Double]("s2_longrun") - s2lr) < 1e-3)
    assert(math.abs(r.getAs[Double]("eta_stat") - eta) < 1e-4)
    assert(r.getAs[Boolean]("level_stationary_05") == (eta <= 0.463))
    assert(r.getAs[Double]("eta_stat") > 0.0)
  }

  test("x_fligner_killeen: the statistic matches a classic replay " +
      "(raw per-row deviations from the group median, sort-and-" +
      "average-ties pooled ranks, float normal scores) and the " +
      "verdict is the chi-square comparison") {
    import org.apache.spark.sql.functions._
    val vals = graft.util.Tables.t(spark, sf, "orders")
      .select(col("o_orderpriority").as("g"),
        floor(col("o_totalprice") * 100
          + org.apache.spark.sql.functions.lit(0.5))
          .cast("long").as("qv"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byG = vals.groupBy(_._1)
    val devs: Seq[(String, Long)] = byG.toSeq.flatMap { case (g, vs) =>
      val sortedV = vs.map(_._2).sorted
      val med = sortedV((sortedV.length + 1) / 2 - 1)
      vs.map(v => (g, math.abs(v._2 - med)))
    }
    val nT = devs.length
    val sortedD = devs.map(_._2).sorted
    val avgRank: Map[Long, Double] = sortedD.zipWithIndex
      .groupBy(_._1)
      .map { case (v, xs) =>
        v -> (xs.map(_._2 + 1).sum.toDouble / xs.length)
      }
    // Φ⁻¹(½ + r/(2(N+1))); arg ≥ ½, so use symmetry against the
    // spec invnorm's lower/central branches
    val scores = devs.map { case (g, d) =>
      (g, -invnorm(0.5 - avgRank(d) / (2.0 * (nT + 1)))) }
    val abar = scores.map(_._2).sum / nT
    val v = scores.map(x => (x._2 - abar) * (x._2 - abar)).sum / (nT - 1)
    val fk = scores.groupBy(_._1).map { case (_, xs) =>
      val aj = xs.map(_._2).sum / xs.length
      xs.length * (aj - abar) * (aj - abar)
    }.sum / v
    val r = run("x_fligner_killeen").collect().head
    assert(r.getAs[Long]("n_groups") == byG.size.toLong)
    assert(r.getAs[Long]("n_obs") == nT.toLong)
    assert(math.abs(r.getAs[Double]("fk_stat") - fk) < 1e-3,
      s"FK ${r.getAs[Double]("fk_stat")} vs brute $fk")
    assert(r.getAs[Boolean]("reject_05") ==
      (r.getAs[Double]("fk_stat") > 9.488))
  }

  test("x_cramers_v: chi-square, V and the Bergsma-corrected V match " +
      "a direct contingency-table replay over raw rows, and the " +
      "correction never goes negative") {
    import org.apache.spark.sql.functions.col
    val rows = graft.util.Tables.t(spark, sf, "orders")
      .select(col("o_orderpriority"), col("o_orderstatus"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toDouble
    val rm = rows.groupBy(_._1).map { case (k, v) => k -> v.length }
    val cm = rows.groupBy(_._2).map { case (k, v) => k -> v.length }
    val obs = rows.groupBy(identity).map { case (k, v) => k -> v.length }
    val chi2 = (for { rr <- rm.keys; cc <- cm.keys } yield {
      val e = rm(rr) * cm(cc) / n
      val o = obs.getOrElse((rr, cc), 0)
      (o - e) * (o - e) / e
    }).sum
    val (r0, k0) = (rm.size, cm.size)
    val v = math.sqrt(chi2 / (n * (math.min(r0, k0) - 1)))
    val phi2c = math.max(0.0, chi2 / n - (r0 - 1.0) * (k0 - 1) / (n - 1))
    val rc = r0 - (r0 - 1.0) * (r0 - 1) / (n - 1)
    val kc = k0 - (k0 - 1.0) * (k0 - 1) / (n - 1)
    val vc = math.sqrt(phi2c / math.min(rc - 1, kc - 1))
    val r = run("x_cramers_v").collect().head
    assert(r.getAs[Long]("n_obs") == rows.length.toLong)
    assert(r.getAs[Long]("n_rows") == r0.toLong &&
      r.getAs[Long]("n_cols") == k0.toLong)
    assert(r.getAs[Long]("df") == ((r0 - 1) * (k0 - 1)).toLong)
    assert(math.abs(r.getAs[Double]("chi2") - chi2) < 1e-3)
    assert(math.abs(r.getAs[Double]("cramers_v") - v) < 1e-5)
    assert(math.abs(r.getAs[Double]("cramers_v_corrected") - vc) < 1e-5)
    assert(r.getAs[Double]("cramers_v_corrected") >= 0.0)
    assert(r.getAs[Double]("cramers_v") >= 0.0 &&
      r.getAs[Double]("cramers_v") <= 1.0)
  }

  test("x_theta_forecast: OLS trend, theta-2 SES and the combined " +
      "forecast match a sequential plain-Scala replay of the monthly " +
      "series, and the forecast is exactly the component average") {
    import org.apache.spark.sql.functions._
    val monthly = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
      .agg((sum(col("o_totalprice").cast("decimal(18,4)"))
        .cast("double") / 1e6).as("r"))
      .orderBy("mth").collect().map(_.getDouble(1))
    val n = monthly.length
    val qy = monthly.map(r => math.floor(r * 1e6 + 0.5).toLong)
    val sx = (1 to n).map(_.toLong).sum
    val sy = qy.sum
    val sxy = qy.zipWithIndex.map { case (y, i) => (i + 1) * y }.sum
    val sxx = (1 to n).map(i => i.toLong * i).sum
    val b = (n.toDouble * sxy - sx.toDouble * sy) /
      (n.toDouble * sxx - sx.toDouble * sx) / 1e6
    val a = (sy.toDouble / 1e6 - b * sx) / n
    val qq = monthly.zipWithIndex.map { case (y, i) =>
      2.0 * y - (a + b * (i + 1)) }
    val w = (0 until 40).map(i => math.pow(0.7, i))
    val num = (0 until 40).map(i =>
      math.floor(qq(n - 1 - i) * w(i) * 1e9 + 0.5).toLong).sum
    val den = (0 until 40).map(i =>
      math.floor(w(i) * 1e9 + 0.5).toLong).sum
    val ses = num.toDouble / den.toDouble
    val trendNext = a + b * (n + 1)
    val r = run("x_theta_forecast").collect().head
    assert(r.getAs[Long]("n_months") == n.toLong)
    assert(math.abs(r.getAs[Double]("trend_intercept") - a) < 1e-3)
    assert(math.abs(r.getAs[Double]("trend_slope") - b) < 1e-5)
    assert(math.abs(r.getAs[Double]("ses_theta2") - ses) < 1e-3)
    assert(math.abs(r.getAs[Double]("trend_next") - trendNext) < 1e-3)
    assert(math.abs(r.getAs[Double]("theta_forecast")
      - 0.5 * (ses + trendNext)) < 1e-3)
    assert(math.abs(r.getAs[Double]("theta_forecast")
      - 0.5 * (r.getAs[Double]("ses_theta2")
        + r.getAs[Double]("trend_next"))) < 2e-4,
      "the forecast is exactly the component average")
  }

  /** Pooled daily counts with the plain-double OLS trend residuals —
    * shared by the DW / BP / Chow replays. */
  private def trendResiduals(): (Seq[(String, Long)], Array[Double]) = {
    val ser = pooledDaily()
    val ys = ser.map(_._2.toDouble).toArray
    val n = ys.length
    val sx = (1 to n).map(_.toDouble).sum
    val sy = ys.sum
    val sxy = ys.zipWithIndex.map { case (y, i) => (i + 1) * y }.sum
    val sxx = (1 to n).map(i => i.toDouble * i).sum
    val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val a = (sy - b * sx) / n
    (ser, ys.zipWithIndex.map { case (y, i) => y - a - b * (i + 1) })
  }

  test("x_durbin_watson: the statistic matches a sequential raw-" +
      "double replay of the residual difference quotient, sits in " +
      "[0, 4], and the flag is the stated screening band") {
    val (_, e) = trendResiduals()
    val dw = (1 until e.length).map(i =>
      (e(i) - e(i - 1)) * (e(i) - e(i - 1))).sum /
      e.map(x => x * x).sum
    val r = run("x_durbin_watson").collect().head
    assert(r.getAs[Long]("n_days") == e.length.toLong)
    assert(math.abs(r.getAs[Double]("dw_stat") - dw) < 1e-3)
    assert(r.getAs[Double]("dw_stat") >= 0.0 &&
      r.getAs[Double]("dw_stat") <= 4.0)
    assert(r.getAs[Boolean]("autocorr_suspect") ==
      (math.abs(r.getAs[Double]("dw_stat") - 2.0) > 0.5))
  }

  test("x_breusch_pagan: the LM statistic matches n times the " +
      "squared correlation of the squared residuals with time, " +
      "computed the centered-moments way (not the engine's raw " +
      "sufficient sums)") {
    val (_, e) = trendResiduals()
    val n = e.length
    val e2 = e.map(x => x * x)
    val tm = (n + 1) / 2.0
    val em = e2.sum / n
    val cov = e2.zipWithIndex.map { case (v, i) =>
      (i + 1 - tm) * (v - em) }.sum
    val vt = (1 to n).map(i => (i - tm) * (i - tm)).sum
    val ve = e2.map(v => (v - em) * (v - em)).sum
    val lm = n * (cov * cov / (vt * ve))
    val r = run("x_breusch_pagan").collect().head
    assert(r.getAs[Long]("n_days") == n.toLong)
    assert(math.abs(r.getAs[Double]("lm_stat") - lm) < 1e-3,
      s"LM ${r.getAs[Double]("lm_stat")} vs brute $lm")
    assert(r.getAs[Boolean]("heteroskedastic_05") == (lm > 3.841))
  }

  test("x_chow_test: the cut day is the Buishand cumulative-deviation " +
      "argmax, both segment fits reproduce a per-element least-" +
      "squares replay, and F is their ratio") {
    val (ser, _) = trendResiduals()
    val ys = ser.map(_._2.toDouble).toArray
    val n = ys.length
    val mean = ys.sum / n
    var c = 0.0
    val sk = ys.map { y => c += y - mean; c }
    val cut = sk.init.zipWithIndex
      .maxBy { case (s, i) => (math.abs(s), -i) }._2
    def ssrSeg(lo: Int, hi: Int): Double = { // inclusive 0-based range
      val m = hi - lo + 1
      val xs = (lo + 1 to hi + 1).map(_.toDouble)
      val seg = ys.slice(lo, hi + 1)
      val bx = (m * xs.zip(seg).map { case (x, y) => x * y }.sum
        - xs.sum * seg.sum) / (m * xs.map(x => x * x).sum
        - xs.sum * xs.sum)
      val ax = (seg.sum - bx * xs.sum) / m
      xs.zip(seg).map { case (x, y) =>
        (y - ax - bx * x) * (y - ax - bx * x) }.sum
    }
    val (ssrp, ssr1, ssr2) =
      (ssrSeg(0, n - 1), ssrSeg(0, cut), ssrSeg(cut + 1, n - 1))
    val f = ((ssrp - ssr1 - ssr2) / 2.0) / ((ssr1 + ssr2) / (n - 4))
    val r = run("x_chow_test").collect().head
    assert(r.getAs[Long]("n_days") == n.toLong)
    assert(r.getAs[String]("cut_day") == ser(cut)._1.substring(0, 10))
    assert(r.getAs[Long]("n_seg1") == (cut + 1).toLong)
    assert(r.getAs[Long]("n_seg2") == (n - cut - 1).toLong)
    assert(math.abs(r.getAs[Double]("ssr_pooled") - ssrp) < 0.1)
    assert(math.abs(r.getAs[Double]("ssr_split") - (ssr1 + ssr2)) < 0.1)
    assert(math.abs(r.getAs[Double]("f_stat") - f) < 1e-3)
    assert(r.getAs[Boolean]("break_05") == (f > 2.9957))
    assert(r.getAs[Double]("ssr_split") <=
      r.getAs[Double]("ssr_pooled") + 1e-6,
      "two free fits can never lose to one")
  }

  test("x_friedman_aligned: the aligned-ranks statistic matches a " +
      "classic float replay (align on block means, pool, sort-and-" +
      "average-ties, Hodges-Lehmann formula)") {
    import org.apache.spark.sql.functions._
    val cells = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("blk"),
        col("o_orderpriority").as("trt"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)"))
        .cast("double").as("rev"))
      .collect()
      .map(r => (r.get(0).toString, r.getString(1), r.getDouble(2)))
    val k = cells.map(_._2).distinct.length
    val full = cells.groupBy(_._1).filter(_._2.length == k)
    val aligned = full.toSeq.flatMap { case (blk, vs) =>
      val m = vs.map(_._3).sum / k
      vs.map(v => (blk, v._2, v._3 - m))
    }
    val nb = full.size
    val sorted = aligned.map(_._3).sorted
    val avgRank: Map[Double, Double] = sorted.zipWithIndex
      .groupBy(_._1)
      .map { case (v, xs) =>
        v -> (xs.map(_._2 + 1).sum.toDouble / xs.length) }
    val rj = aligned.groupBy(_._2).map { case (_, xs) =>
      xs.map(x => avgRank(x._3)).sum }
    val ri = aligned.groupBy(_._1).map { case (_, xs) =>
      xs.map(x => avgRank(x._3)).sum }
    val kb = k * nb
    val num = (k - 1) * (rj.map(x => x * x).sum -
      k.toDouble * nb * nb * (kb + 1) * (kb + 1) / 4.0)
    val den = kb.toDouble * (kb + 1) * (2 * kb + 1) / 6.0 -
      ri.map(x => x * x).sum / k
    val tExp = num / den
    val r = run("x_friedman_aligned").collect().head
    assert(r.getAs[Long]("n_blocks") == nb.toLong)
    assert(r.getAs[Long]("k_treatments") == k.toLong)
    assert(math.abs(r.getAs[Double]("t_stat") - tExp) < 1e-3,
      s"T ${r.getAs[Double]("t_stat")} vs brute $tExp")
    assert(r.getAs[Boolean]("reject_05") ==
      (r.getAs[Double]("t_stat") > 9.488))
  }

  /** Pooled daily (count, revenue-in-millions) pairs, day-ordered —
    * the r20 Granger replay's grain. */
  private def dailyCntRev(): Array[(Long, Double)] = {
    import org.apache.spark.sql.functions._
    graft.util.Tables.t(spark, sf, "orders")
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        (sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double") / 1e6).as("revm"))
      .orderBy("day").collect()
      .map(r => (r.getAs[Long]("cnt"), r.getAs[Double]("revm")))
  }

  /** Centered two-regressor OLS — deliberately NOT the engine's
    * Cramer-on-raw-sums recipe: demean everything, solve the 2×2
    * slope system, recover the intercept. Returns (a, b, c, ssr,
    * s11c, s22c, s12c) with s**c the centered slope moments. */
  private def ols2c(y: Array[Double], x1: Array[Double],
      x2: Array[Double])
      : (Double, Double, Double, Double, Double, Double, Double) = {
    val m = y.length
    val (my, m1, m2) = (y.sum / m, x1.sum / m, x2.sum / m)
    def c1(i: Int) = x1(i) - m1
    def c2(i: Int) = x2(i) - m2
    val s11 = (0 until m).map(i => c1(i) * c1(i)).sum
    val s22 = (0 until m).map(i => c2(i) * c2(i)).sum
    val s12 = (0 until m).map(i => c1(i) * c2(i)).sum
    val s1y = (0 until m).map(i => c1(i) * (y(i) - my)).sum
    val s2y = (0 until m).map(i => c2(i) * (y(i) - my)).sum
    val det = s11 * s22 - s12 * s12
    val b = (s1y * s22 - s12 * s2y) / det
    val c = (s11 * s2y - s1y * s12) / det
    val a = my - b * m1 - c * m2
    val ssr = (0 until m).map(i =>
      math.pow(y(i) - a - b * x1(i) - c * x2(i), 2)).sum
    (a, b, c, ssr, s11, s22, s12)
  }

  test("x_granger_causality: both directions' coefficients, SSRs and " +
      "F match a centered-OLS replay (demean + 2x2 slope solve, not " +
      "the engine's Cramer-on-raw-sums), and the restricted fit never " +
      "beats the unrestricted one") {
    val ser = dailyCntRev()
    val n = ser.length
    val cnt = ser.map(_._1.toDouble)
    val rev = ser.map(_._2)
    def fOf(y: Array[Double], own: Array[Double], oth: Array[Double])
        : (Double, Double, Double, Double, Double) = {
      val m = y.length
      val (_, b, c, ssrU, _, _, _) = ols2c(y, own, oth)
      // restricted: own lag only, textbook centered simple regression
      val my = y.sum / m; val mo = own.sum / m
      val soo = own.map(x => (x - mo) * (x - mo)).sum
      val soy = own.zip(y).map { case (x, v) => (x - mo) * (v - my) }.sum
      val bR = soy / soo; val aR = my - bR * mo
      val ssrR = own.zip(y).map { case (x, v) =>
        math.pow(v - aR - bR * x, 2) }.sum
      (b, c, ssrR, ssrU, (ssrR - ssrU) / (ssrU / (m - 3)))
    }
    val (bRev, cRev, srR, suR, fRev) =
      fOf(rev.drop(1), rev.dropRight(1), cnt.dropRight(1))
    val (bCnt, cCnt, srC, suC, fCnt) =
      fOf(cnt.drop(1), cnt.dropRight(1), rev.dropRight(1))
    val rows = run("x_granger_causality").collect()
      .map(r => r.getAs[String]("direction") -> r).toMap
    val rv = rows("count->revenue"); val rc = rows("revenue->count")
    assert(rv.getAs[Long]("n_scored") == (n - 1).toLong)
    assert(math.abs(rv.getAs[Double]("own_lag_b") - bRev) < 1e-4)
    assert(math.abs(rv.getAs[Double]("cross_lag_b") - cRev) < 1e-4)
    assert(math.abs(rv.getAs[Double]("ssr_restricted") - srR) < 1e-2)
    assert(math.abs(rv.getAs[Double]("ssr_unrestricted") - suR) < 1e-2)
    assert(math.abs(rv.getAs[Double]("f_stat") - fRev) < 1e-2,
      s"F(count->revenue) ${rv.getAs[Double]("f_stat")} vs brute $fRev")
    assert(math.abs(rc.getAs[Double]("own_lag_b") - bCnt) < 1e-4)
    assert(math.abs(rc.getAs[Double]("cross_lag_b") - cCnt) < 1e-4)
    assert(math.abs(rc.getAs[Double]("f_stat") - fCnt) < 1e-2,
      s"F(revenue->count) ${rc.getAs[Double]("f_stat")} vs brute $fCnt")
    Seq(rv, rc).foreach { r =>
      assert(r.getAs[Double]("ssr_unrestricted") <=
        r.getAs[Double]("ssr_restricted") + 1e-6,
        "adding a regressor can never raise the SSR")
      assert(r.getAs[Boolean]("causal_05") ==
        (r.getAs[Double]("f_stat") > 3.841))
    }
  }

  test("x_dickey_fuller: gamma, its standard error and tau match a " +
      "centered-OLS replay with the variance from the centered slope " +
      "block inverse, and the implied rho is consistent with the " +
      "lag-1 autocorrelation sign") {
    val ys = pooledDaily().map(_._2.toDouble).toArray
    val n = ys.length
    val dy = (1 until n).map(i => ys(i) - ys(i - 1)).toArray
    val tt = (2 to n).map(_.toDouble).toArray // t = rn of the scored row
    val yl = ys.dropRight(1)
    val (a, b, g, ssr, s11, s22, s12) = ols2c(dy, tt, yl)
    val m = dy.length
    val s2 = ssr / (m - 3)
    // var(gamma) = s^2 * S11c / (S11c*S22c - S12c^2): the (2,2) entry
    // of the centered slope-block inverse
    val se = math.sqrt(s2 * s11 / (s11 * s22 - s12 * s12))
    val tau = g / se
    val r = run("x_dickey_fuller").collect().head
    assert(r.getAs[Long]("n_scored") == m.toLong)
    assert(math.abs(r.getAs[Double]("intercept") - a) < 1e-3)
    assert(math.abs(r.getAs[Double]("trend_b") - b) < 1e-5)
    assert(math.abs(r.getAs[Double]("gamma") - g) < 1e-4)
    assert(math.abs(r.getAs[Double]("se_gamma") - se) < 1e-4)
    assert(math.abs(r.getAs[Double]("tau_stat") - tau) < 1e-2,
      s"tau ${r.getAs[Double]("tau_stat")} vs brute $tau")
    assert(r.getAs[Boolean]("unit_root_rejected_05") == (tau < -3.41))
    assert(r.getAs[Boolean]("unit_root_rejected_01") == (tau < -3.96))
    // rho = 1 + gamma should carry the same sign structure as the
    // lag-1 ACF of the series (both near 0 on a white-noise fixture)
    val mu = ys.sum / n
    val acf1 = (1 until n).map(i =>
      (ys(i) - mu) * (ys(i - 1) - mu)).sum /
      ys.map(y => (y - mu) * (y - mu)).sum
    assert(math.abs((1.0 + r.getAs[Double]("gamma")) - acf1) < 0.05,
      "implied rho tracks the lag-1 autocorrelation")
  }

  test("x_partial_autocorr: the unrolled closed form matches the " +
      "direct Durbin-Levinson recursion run on a plain-double ACF " +
      "replay, with pacf(1) = acf(1)") {
    val ys = pooledDaily().map(_._2.toDouble).toArray
    val n = ys.length
    val mu = ys.sum / n
    val e = ys.map(_ - mu)
    val den = e.map(x => x * x).sum
    val rho = (1 to 5).map(j =>
      (j until n).map(t => e(t) * e(t - j)).sum / den).toArray
    // direct recursion (the prototype's loop, not the engine's
    // unrolled projection chain)
    val phi = Array.ofDim[Double](6, 6)
    phi(1)(1) = rho(0)
    var v = 1 - rho(0) * rho(0)
    val pacf = scala.collection.mutable.ArrayBuffer(rho(0))
    for (k <- 2 to 5) {
      val num = rho(k - 1) -
        (1 until k).map(j => phi(k - 1)(j) * rho(k - 1 - j)).sum
      val pk = num / v
      phi(k)(k) = pk
      for (j <- 1 until k)
        phi(k)(j) = phi(k - 1)(j) - pk * phi(k - 1)(k - j)
      v = v * (1 - pk * pk)
      pacf += pk
    }
    val rows = run("x_partial_autocorr").collect()
      .map(r => r.getAs[Long]("lag") -> r).toMap
    assert(rows.size == 5)
    (1 to 5).foreach { j =>
      val r = rows(j.toLong)
      assert(r.getAs[Long]("n_days") == n.toLong)
      assert(math.abs(r.getAs[Double]("acf") - rho(j - 1)) < 1e-4,
        s"acf($j) ${r.getAs[Double]("acf")} vs brute ${rho(j - 1)}")
      assert(math.abs(r.getAs[Double]("pacf") - pacf(j - 1)) < 1e-4,
        s"pacf($j) ${r.getAs[Double]("pacf")} vs brute ${pacf(j - 1)}")
      assert(math.abs(r.getAs[Double]("wn_band")
        - 1.96 / math.sqrt(n.toDouble)) < 1e-5)
      assert(r.getAs[Boolean]("outside_band") ==
        (math.abs(r.getAs[Double]("pacf")) >
          r.getAs[Double]("wn_band")))
    }
    assert(rows(1L).getAs[Double]("acf") == rows(1L).getAs[Double]("pacf"),
      "pacf at lag 1 IS the lag-1 autocorrelation")
  }

  test("x_mincer_zarnowitz: coefficients, SSRs and F match a plain-" +
      "double replay (unquantized ladder, centered OLS), and the " +
      "unrestricted fit never loses to the (0,1) line") {
    import org.apache.spark.sql.functions._
    val mrev = graft.util.Tables.t(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
      .agg((sum(col("o_totalprice").cast("decimal(18,4)"))
        .cast("double") / 1e6).as("r"))
      .orderBy("mth").collect().map(_.getDouble(1))
    val nM = mrev.length
    val w = (1 to 40).map(i => 0.3 * math.pow(0.7, i - 1))
    val scored = (1 until nM).map { t =>
      val lags = (1 to math.min(40, t))
      val num = lags.map(i => w(i - 1) * mrev(t - i)).sum
      val den = lags.map(i => w(i - 1)).sum
      (mrev(t), num / den)
    }
    val y = scored.map(_._1).toArray
    val f = scored.map(_._2).toArray
    val m = y.length
    val (my, mf) = (y.sum / m, f.sum / m)
    val sff = f.map(x => (x - mf) * (x - mf)).sum
    val sfy = f.zip(y).map { case (x, v) => (x - mf) * (v - my) }.sum
    val b = sfy / sff; val a = my - b * mf
    val ssrU = f.zip(y).map { case (x, v) =>
      math.pow(v - a - b * x, 2) }.sum
    val ssrR = f.zip(y).map { case (x, v) => math.pow(v - x, 2) }.sum
    val fStat = ((ssrR - ssrU) / 2.0) / (ssrU / (m - 2))
    val r = run("x_mincer_zarnowitz").collect().head
    assert(r.getAs[Long]("n_scored") == m.toLong)
    assert(math.abs(r.getAs[Double]("intercept") - a) < 1e-2)
    assert(math.abs(r.getAs[Double]("slope") - b) < 1e-3)
    assert(math.abs(r.getAs[Double]("ssr_restricted") - ssrR) < 0.1)
    assert(math.abs(r.getAs[Double]("ssr_unrestricted") - ssrU) < 0.1)
    assert(math.abs(r.getAs[Double]("f_stat") - fStat) < 1e-2,
      s"F ${r.getAs[Double]("f_stat")} vs brute $fStat")
    assert(r.getAs[Double]("ssr_unrestricted") <=
      r.getAs[Double]("ssr_restricted") + 1e-6,
      "the free fit can never lose to the restricted (0,1) line")
    assert(r.getAs[Boolean]("efficient_05") ==
      (r.getAs[Double]("f_stat") <= 2.9957))
  }

  /** High-accuracy Φ by Simpson integration of the normal density —
    * an independent reference for the A-S 7.1.26 builder (≈1e-10 at
    * the fixture's z range, far under the replay tolerances). */
  private def phiRef(z: Double): Double = {
    if (z < -12) return 0.0
    if (z > 12) return 1.0
    val lo = -12.0
    val steps = 4000 // even
    val h = (z - lo) / steps
    def f(x: Double) = math.exp(-x * x / 2.0)
    val s = f(lo) + f(z) +
      (1 until steps).map(i =>
        (if (i % 2 == 1) 4.0 else 2.0) * f(lo + i * h)).sum
    s * h / 3.0 / math.sqrt(2.0 * math.Pi)
  }

  test("x_anderson_darling: every scope's statistic matches a per-" +
      "element sorted replay against a numeric-integration normal " +
      "CDF (not the engine's histogram identity or its A-S " +
      "approximation), and the small-sample factor inflates A2") {
    val byScope: Map[String, Array[Double]] =
      dailyCounts().map { case (p, vs) =>
        p -> vs.map(_._2.toDouble).toArray } ++
        Map("ALL" -> pooledDaily().map(_._2.toDouble).toArray)
    val rows = run("x_anderson_darling").collect()
      .map(r => r.getAs[String]("scope") -> r).toMap
    assert(rows.keySet == byScope.keySet)
    byScope.foreach { case (scope, vs) =>
      val n = vs.length
      val mu = vs.sum / n
      val sd = math.sqrt(vs.map(v => (v - mu) * (v - mu)).sum / (n - 1))
      val zs = vs.map(v => (v - mu) / sd).sorted
      val s = (1 to n).map { i =>
        (2 * i - 1).toDouble * (math.log(phiRef(zs(i - 1)))
          + math.log(1.0 - phiRef(zs(n - i))))
      }.sum
      val a2 = -n - s / n
      val a2s = a2 * (1 + 0.75 / n + 2.25 / (n.toDouble * n))
      val r = rows(scope)
      assert(r.getAs[Long]("n_days") == n.toLong)
      assert(math.abs(r.getAs[Double]("mean_daily") - mu) < 1e-3)
      assert(math.abs(r.getAs[Double]("sd_daily") - sd) < 1e-3)
      assert(math.abs(r.getAs[Double]("a2_stat") - a2) < 1e-2,
        s"$scope A2 ${r.getAs[Double]("a2_stat")} vs brute $a2")
      assert(math.abs(r.getAs[Double]("a2_star") - a2s) < 1e-2)
      assert(r.getAs[Double]("a2_star") > r.getAs[Double]("a2_stat"),
        "the small-sample factor inflates a positive A2")
      assert(r.getAs[Boolean]("normal_05") ==
        (r.getAs[Double]("a2_star") <= 0.752))
    }
  }

  // ---- shared StatsOps kernels on degenerate inputs -----------------------
  // Tie-heavy (grp, value) frames drawn from a small value range, plus the
  // shapes the registry run never produces: one group, every value tied,
  // a single row.

  private def sample[A](gen: Gen[A], n: Int): List[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(31L + i))).toList

  private val tieFrames: List[Seq[(String, Long)]] = {
    val row = for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.chooseNum(0L, 6L)
    } yield (g, v)
    val gen = Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, row))
    List(Seq("a" -> 5L), Seq.fill(7)("a" -> 3L),
      Seq("a" -> 1L, "b" -> 1L, "c" -> 1L),
      Seq("a" -> 2L, "a" -> 9L, "a" -> 2L, "a" -> 4L)) ++ sample(gen, 20)
  }

  test("doubledRanks: per-group r2g and the tie term equal a plain-Scala " +
      "average-rank recompute") {
    import org.apache.spark.sql.functions.{count, lit}
    import spark.implicits._
    tieFrames.foreach { rows =>
      val hist = rows.toDF("grp", "v").groupBy("grp", "v")
        .agg(count(lit(1)).as("c"))
      val (_, gsum, ties) = StatsOps.doubledRanks(hist, "grp", "v")
      // average rank of a value = mean of its 1-based sorted positions
      val sorted = rows.map(_._2).sorted.zipWithIndex
      val r2 = sorted.groupBy(_._1).map { case (v, ps) =>
        val twice = 2 * ps.map(_._2 + 1L).sum
        assert(twice % ps.size == 0)
        v -> twice / ps.size
      }
      val expect = rows.groupBy(_._1).map { case (g, rs) =>
        g -> (rs.size.toLong, BigDecimal(rs.map(r => r2(r._2)).sum))
      }
      val got = gsum.collect().map(r => r.getString(0) ->
        (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
      assert(got == expect, s"rows $rows")
      val st3 = rows.groupBy(_._2).values
        .map(ts => ts.size.toLong * ts.size * ts.size - ts.size).sum
      assert(BigDecimal(ties.collect().head.getDecimal(0)) == BigDecimal(st3),
        s"rows $rows")
    }
  }

  test("exclusiveCum: equals a plain-Scala exclusive prefix sum, pooled " +
      "and per partition") {
    import org.apache.spark.sql.functions.sum
    import spark.implicits._
    tieFrames.foreach { rows =>
      // a histogram has one row per (part, key): exactly the kernel's input
      val hist = rows.groupBy(identity).map { case ((g, v), rs) =>
        (g, v, rs.size.toLong)
      }.toSeq
      val df = hist.toDF("p", "k", "c")
      def prefix(xs: Seq[(String, Long, Long)]) = {
        val byK = xs.sortBy(_._2)
        byK.map(_._3).scanLeft(0L)(_ + _).zip(byK)
          .map { case (s0, (g, v, _)) => (g, v) -> s0 }
      }
      val perPart = hist.groupBy(_._1).values.flatMap(prefix).toMap
      val gotPart = StatsOps.exclusiveCum(df, "k", "c", "s0", "p").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
      assert(gotPart == perPart, s"rows $rows")
      val pooledHist = hist.groupBy(_._2).map { case (v, xs) =>
        ("", v, xs.map(_._3).sum)
      }.toSeq
      val pooled = prefix(pooledHist).map { case ((_, v), s0) => v -> s0 }
      val gotPooled = StatsOps.exclusiveCum(
          df.groupBy("k").agg(sum("c").as("c")), "k", "c", "s0").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(gotPooled == pooled.toMap, s"rows $rows")
    }
  }

  test("chi2Crit05: the table for k = 2..6 groups (df 1..5), NULL for " +
      "any other k") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val got = (-1L to 9L).toDF("k")
      .select(col("k"), StatsOps.chi2Crit05(col("k")).as("crit"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val table = Map(2L -> 3.841459, 3L -> 5.991465, 4L -> 7.814728,
      5L -> 9.487729, 6L -> 11.070498)
    (-1L to 9L).foreach(k => assert(got(k) == table.get(k), s"k=$k"))
  }
}
