package graft

/** Benchmark main — runs the headline query set on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}. Each query is fully
  * materialized via a noop-format write (count() would let Catalyst elide
  * the final sort / column evaluation and under-report).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // A failed query must not contribute a bogus "time-to-crash" to the
    // totals (r7: the broken x_sessionize recorded 0.195 s and silently
    // flattered the registry total) — once() reports success, timed runs
    // are dropped from the JSON, and failures get their own output field.
    def once(name: String): Boolean =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        false
      }
    // explicit args time just those queries (iteration diagnostics);
    // SPARK_GRAFT_BENCH_ALL=1 times the complete registry;
    // default: the headline subset the driver grades
    val names =
      if (args.nonEmpty) args.toSeq
      else if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1"))
        SparkEntry.queries.keys.toSeq.sorted
      else SparkEntry.benchQueries
    // warm-up pass: JIT/codegen caches and file-footer reads, untimed
    names.foreach(n => { once(n): Unit })
    // min-of-N timing: the box shows up to 2x run-to-run noise on an identical
    // binary (r04 vs r05 swung -7.6% with zero code change), so a single timed
    // shot cannot distinguish noise from regression. Min over repeats is the
    // standard noise-floor estimator; the first shot is kept for reference.
    // defensive parse: a malformed env value falls back to 3 instead of
    // crashing the whole bench run
    val repeats = sys.env.get("SPARK_GRAFT_BENCH_REPEATS")
      .flatMap(_.trim.toIntOption).getOrElse(3).max(1)
    def timed(name: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = once(name)
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    def bench(tier: Seq[String]) = tier.map { name =>
      val runs = Seq.fill(repeats)(timed(name))
      (name, runs.map(_._1).min, runs.head._1, runs.forall(_._2))
    }
    val all = bench(names)
    // second pinned tier (r9 verdict #6): the expensive PQ/graph family,
    // benched alongside the stable headline set so a regression there
    // gets the same round-over-round early warning. Skipped when timing
    // explicit args / the full registry (both already cover it), or via
    // SPARK_GRAFT_BENCH_HEAVY=0 for quick local iteration.
    val skipTiers =
      args.nonEmpty || sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1") ||
        sys.env.get("SPARK_GRAFT_BENCH_HEAVY").contains("0")
    val heavyNames =
      if (skipTiers) Seq.empty
      else SparkEntry.heavyQueries.filterNot(names.contains)
    heavyNames.foreach(n => { once(n): Unit }) // warm-up, untimed
    val heavyAll = bench(heavyNames)
    // third pinned tier (r12 verdict #6): the newer causal/corpus
    // families, same min-of-N protocol, reported separately so the two
    // existing tiers stay comparable round-over-round
    val freshNames =
      if (skipTiers) Seq.empty
      else SparkEntry.freshQueries.filterNot(names.contains)
    freshNames.foreach(n => { once(n): Unit }) // warm-up, untimed
    val freshAll = bench(freshNames)
    val (results, failed0) = all.partition(_._4)
    val (heavyResults, heavyFailed) = heavyAll.partition(_._4)
    val (freshResults, freshFailed) = freshAll.partition(_._4)
    val failed = failed0 ++ heavyFailed ++ freshFailed
    def obj(rs: Seq[(String, Double, Double, Boolean)],
            f: ((String, Double, Double, Boolean)) => Double): String =
      rs.map { case r @ (k, _, _, _) => "\"" + k + "\":" + f(r) }
        .mkString("{", ",", "}")
    val qs = obj(results, _._2)
    val qsSingle = obj(results, _._3)
    val total = results.map(_._2).sum
    // value_single_shot keeps totals like-for-like against pre-r6 bench
    // files, whose "value" was a single-shot sum
    val totalSingle = results.map(_._3).sum
    val heavyQs = obj(heavyResults, _._2)
    val heavyTotal = heavyResults.map(_._2).sum
    val freshQs = obj(freshResults, _._2)
    val freshTotal = freshResults.map(_._2).sum
    // per-entry wall-time budget (r9 verdict #7): any single query over
    // budget at sf0.1 is named loudly instead of drowning in the total.
    // Budgets are PER TIER (r12 verdict #1): the heavy tier's production
    // PQ gauge (x_ann_ivfpq256_recall) intrinsically costs ~19-20 s —
    // the N·M·256 ADC encode is the quantity being measured — and sat
    // exactly on the old flat 20 s line, crossing it on driver-box noise
    // while quiet-box runs passed. A budget a known-good query crosses
    // on box noise is a broken alarm, so the heavy tier gets 25 s
    // (headroom ~25 % over its most expensive member's quiet-box time)
    // while headline + fresh tiers keep the tight 20 s line.
    val budgetSec = 20.0
    val heavyBudgetSec = 25.0
    val overBudget =
      ((results ++ freshResults).filter(_._2 > budgetSec) ++
        heavyResults.filter(_._2 > heavyBudgetSec))
        .map { case (k, v, _, _) => "\"" + k + "\"" }.mkString("[", ",", "]")
    val failedArr = failed.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","timing":"min-of-$repeats","value_single_shot":$totalSingle,"queries":$qs,"queries_single_shot":$qsSingle,"heavy_total":$heavyTotal,"heavy":$heavyQs,"fresh_total":$freshTotal,"fresh":$freshQs,"budget_sec":{"headline":$budgetSec,"heavy":$heavyBudgetSec,"fresh":$budgetSec},"over_budget":$overBudget,"failed":$failedArr,"sf":"$sfDir"}"""
    println(line)
    // sbt wraps stdout in `[info]` prefixes, which broke the driver's JSON
    // parse (BENCH_r02.parsed = null) — also emit the line to a BARE file
    // so rounds are machine-comparable.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
