package graft.util

import org.apache.spark.sql.functions._

/** Skew stress for self-join candidate generation (PERFORMANCE.md round
  * 3, extended round 4): one band bucket holding half the corpus — the
  * LSH dedup worst case (boilerplate documents). Measures the naive band
  * self-join (AQE off), the same join under AQE's skew-join split (default
  * and fixture-tuned thresholds), and chunkedSelfPairs: wall time, the
  * per-task share of produced pairs, and whether AQE's split actually
  * fired (`skew=true` in the final adaptive plan).
  *
  * The round-4 question this answers (PERFORMANCE.md table): AQE detects
  * skew by MAP-OUTPUT PARTITION BYTES, so it can rebalance a join whose
  * hot key is big on disk — but a self-join PAIR GENERATION explodes a
  * small input into a quadratic output (8 k hot rows ≈ a few hundred KB in
  * ≫ 32 M pairs out), which input-byte accounting cannot see. Chunking
  * salts by OUTPUT cells; that is the tool for pair generation.
  *
  *   runMain graft.util.SkewStress <hotRows> <coldRows> <chunks>
  */
object SkewStress {
  def main(args: Array[String]): Unit = {
    val hot = if (args.length > 0) args(0).toInt else 8000
    val cold = if (args.length > 1) args(1).toInt else 8000
    val chunks = if (args.length > 2) args(2).toInt else 16

    val spark = graft.Sessions.local(8)
    // shuffle joins only: broadcast would hide the skew being measured
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    import spark.implicits._

    // pad adds realistic row weight so AQE's byte-based detector has
    // something to see at the tuned thresholds — INCOMPRESSIBLE bytes
    // (repeated md5), because shuffle blocks are compressed and AQE
    // reads the compressed sizes: a run of 'x's vanishes under lz4 and
    // hides the skew from the detector entirely
    val df = ((1 to hot).map(i => ("HOT", i.toLong)) ++
        (1 to cold).map(i => (s"band-${i % 997}", (hot + i).toLong)))
      .toDF("band", "id")
      .withColumn("pad", repeat(md5(col("id").cast("string")), 4))
      .repartition(8).cache()
    df.count()

    def naivePairs = df.alias("x").join(df.alias("y"),
        col("x.band") === col("y.band") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))

    def measure(label: String,
                pairs: org.apache.spark.sql.DataFrame): Unit = {
      // count pairs per OUTPUT partition via a partial agg on
      // spark_partition_id — .rdd would drive the separate
      // rddQueryExecution and leave the adaptive plan (and the skew
      // marker below) unfinalized
      val agg = pairs.groupBy(spark_partition_id().as("pid"))
        .agg(count(lit(1)).as("n"))
      val t0 = System.nanoTime()
      val counts = agg.collect().map(_.getLong(1))
      val sec = (System.nanoTime() - t0) / 1e9
      val total = counts.sum
      val skewSplit =
        agg.queryExecution.executedPlan.toString.contains("skew=true")
      println(f"[skew] $label%-12s pairs=$total tasks=${counts.length} " +
        f"maxTaskShare=${counts.max.toDouble / math.max(total, 1)}%.3f " +
        f"time=${sec}%.1fs aqeSkewSplit=$skewSplit")
    }

    def withConf(kv: (String, String)*)(body: => Unit): Unit = {
      val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    measure("naive", naivePairs)

    // AQE at stock thresholds: the hot band's MAP OUTPUT is far below the
    // 256 MB skewedPartitionThresholdInBytes, so no split fires — the
    // quadratic pair generation stays in one task
    withConf("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true") {
      measure("aqe-default", naivePairs)
    }

    // AQE tuned to the fixture (thresholds scaled to the padded input):
    // the split fires and spreads the JOIN INPUT — but each split still
    // carries the full opposite hot side, so pair OUTPUT spread is capped
    // by input granularity, not by the output cell count chunking gives
    withConf("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32768",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384") {
      measure("aqe-tuned", naivePairs)
    }

    measure("chunked",
      ScaleJoins.chunkedSelfPairs(df.select("band", "id"),
        Seq("band"), "id", chunks).select("a", "b"))
    spark.stop()
  }
}
