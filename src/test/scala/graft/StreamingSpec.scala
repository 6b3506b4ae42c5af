package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.etl.Pipeline
import graft.streaming.StreamingIngest

/** Streaming twins of s5/s6 (SURVEY.md §2.8): checkpointed file-source
  * ingest with idempotent foreachBatch upsert, and event-time windows. */
class StreamingSpec extends SparkSpec {

  test("page-file stream upserts incrementally; checkpoint resumes like s5") {
    val src = tmpDir("stream-src")
    val tgt = tmpDir("stream-tgt") + "/produtos"
    val ckpt = tmpDir("stream-ckpt")

    def land(page: String): Unit =
      Files.copy(Paths.get(resource(s"tinyapi/produtos/$page")),
        Paths.get(src, page), StandardCopyOption.REPLACE_EXISTING)

    def runOnce(): Unit = {
      val stream = StreamingIngest.pageStream(spark, src, "produtos",
        "produto", Pipeline.produtoSchema)
      val q = StreamingIngest.incrementalSink(stream, spark, tgt,
        Seq("id"), ckpt).start()
      q.awaitTermination()
    }

    land("page-1.json")
    runOnce()
    assert(Pipeline.readTable(spark, tgt).count() === 2)

    // second page lands; the checkpoint's offset log (s5 analog) must make
    // the next run process ONLY the new file, and the merge stays idempotent
    land("page-2.json")
    runOnce()
    val rows = Pipeline.readTable(spark, tgt).orderBy("id").collect()
    assert(rows.length === 3)
    assert(rows.map(_.getAs[String]("id")).toSeq === Seq("101", "102", "103"))

    // re-run with nothing new: no-op
    runOnce()
    assert(Pipeline.readTable(spark, tgt).count() === 3)
  }

  test("event-time tumbling window with watermark aggregates by hour") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val events = mem.toDF().toDF("ts", "value")
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), 4.0))
    val q = StreamingIngest.hourlyCounts(events)
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("hourly").orderBy("hour_start")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1),
        r.getDouble(2))).toSeq
    assert(got === Seq(
      ("2024-01-01 10:00:00.0", 2L, 3.0),
      ("2024-01-01 11:00:00.0", 1L, 4.0)))
  }

  test("flatMapGroupsWithState sessionizer closes sessions past the gap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamingIngest.Ev]
    mem.addData(
      StreamingIngest.Ev(1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      StreamingIngest.Ev(1L, Timestamp.valueOf("2024-01-01 10:10:00")),
      StreamingIngest.Ev(1L, Timestamp.valueOf("2024-01-01 11:00:00")),
      StreamingIngest.Ev(2L, Timestamp.valueOf("2024-01-01 09:00:00")),
      StreamingIngest.Ev(2L, Timestamp.valueOf("2024-01-01 12:00:00")))
    val q = StreamingIngest.sessionizeWithState(mem.toDS())
      .writeStream.format("memory").queryName("fmgs_sessions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // gap-closed sessions, plus tails the event-time timeout can already
    // prove closed: the final watermark is 12:00 − 10 min = 11:50, past
    // user 1's 11:00 tail + 30 min gap — so the no-data batch emits it.
    // User 2's 12:00 tail (deadline 12:30) is still open and stays in
    // state — the churn test below covers the full expiry lifecycle.
    val got = spark.table("fmgs_sessions").orderBy("user_id", "start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getInt(2))).toSeq
    assert(got === Seq(
      (1L, "2024-01-01 10:00:00.0", 2),   // closed by the 11:00 event
      (1L, "2024-01-01 11:00:00.0", 1),   // tail, closed by the watermark
      (2L, "2024-01-01 09:00:00.0", 1)))  // closed by the 12:00 event
  }

  test("session windows split on the 30-minute gap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val events = mem.toDF().toDF("user_id", "ts")
    mem.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:10:00")), // same session
      (1L, Timestamp.valueOf("2024-01-01 11:00:00")), // gap > 30 min: new
      (2L, Timestamp.valueOf("2024-01-01 10:00:00")))
    val q = StreamingIngest.sessionCounts(events)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sessions").orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got === Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("streaming agg sink keeps the materialized aggregate fresh per batch") {
    val src = tmpDir("aggsink-src")
    val tbl = tmpDir("aggsink") + "/t"
    val ckpt = tmpDir("aggsink-ckpt")
    def land(name: String, rows: Seq[(String, Double)]): Unit =
      Files.writeString(Paths.get(src, name),
        rows.map { case (k, v) => s"""{"k":"$k","v":$v}""" }.mkString("\n"))
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("k STRING, v DOUBLE").json(src)
      val q = StreamingIngest.aggSink(stream, spark, tbl, "k", "v", ckpt)
        .start()
      q.awaitTermination()
    }
    land("b1.json", Seq(("a", 1.0), ("b", 2.0)))
    runOnce()
    land("b2.json", Seq(("b", 3.0), ("c", 4.0)))
    runOnce() // offset log: only b2 folds in
    val got = graft.etl.IncrementalAgg.read(spark, tbl)
      .select("k", "sum_value", "n").orderBy("k")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got === Seq(("a", 1.0, 1L), ("b", 5.0, 2L), ("c", 4.0, 1L)))
  }

  test("streaming sketch sink folds each batch into the stored CMS once") {
    val src = tmpDir("sksink-src")
    val skp = tmpDir("sksink") + "/cms.parquet"
    val ckpt = tmpDir("sksink-ckpt")
    def land(name: String, keys: Seq[Long]): Unit =
      Files.writeString(Paths.get(src, name),
        keys.map(k => s"""{"k":$k}""").mkString("\n"))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema("k BIGINT").json(src)
      val q = StreamingIngest.sketchSink(stream, spark, skp, "k", ckpt).start()
      q.awaitTermination()
    }
    land("b1.json", Seq(7L, 7L, 8L))
    runOnce()
    land("b2.json", Seq(7L, 9L))
    runOnce() // offset log: only b2 folds in
    import spark.implicits._
    val probes = Seq(7L, 8L, 9L).toDF("k")
    val got = graft.etl.SketchMaintenance.probe(spark, skp, probes, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // tiny key set, wide sketch ⇒ the estimates are exact here
    assert(got === Seq((7L, 3L), (8L, 1L), (9L, 1L)))
  }

  test("streaming SRM sink: one verdict per trigger, cumulative counts " +
      "equal the batch recompute, chi2 equals the three-term closed form, " +
      "and a replayed batch does not double-count") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tmpDir("srm-out")
    val state = tmpDir("srm-state") + "/_srm.json"
    val ck = tmpDir("srm-ck")
    val mem = MemoryStream[Long]
    val docs = mem.toDF().toDF("doc_id")
    mem.addData(1L to 300L: _*)
    val q1 = StreamingIngest.srmSink(docs, spark, out, state, ck).start()
    q1.awaitTermination()
    mem.addData(301L to 500L: _*)
    val q2 = StreamingIngest.srmSink(docs, spark, out, state, ck).start()
    q2.awaitTermination()

    val verdicts = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("batch_id") -> r).toMap
    assert(verdicts.size === 2, s"expected 2 trigger verdicts")
    // brute-force the arm of every doc_id with the same md5 coin
    def armOf(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = f"${(h(0) >> 4) & 0xf}%x${h(0) & 0xf}%x"
      if (hex < "cc") "train" else if (hex < "e6") "valid" else "test"
    }
    def expect(ids: Seq[Long]): (Long, Long, Long, Double) = {
      val byArm = ids.groupBy(armOf).view.mapValues(_.size.toLong).toMap
      val (t, v, s) = (byArm.getOrElse("train", 0L),
        byArm.getOrElse("valid", 0L), byArm.getOrElse("test", 0L))
      val n = (t + v + s).toDouble
      def term(o: Long, p: Double) = { val e = n * p; (o - e) * (o - e) / e }
      (t, v, s, term(t, 204.0 / 256) + term(v, 26.0 / 256) +
        term(s, 26.0 / 256))
    }
    val last = verdicts.keys.max
    val (t, v, s, chi2) = expect(1L to 500L)
    val r = verdicts(last)
    assert(r.getAs[Long]("n_train") === t)
    assert(r.getAs[Long]("n_valid") === v)
    assert(r.getAs[Long]("n_test") === s)
    assert(math.abs(r.getAs[Double]("chi2") - chi2) < 1e-9)
    assert(r.getAs[Boolean]("srm_flag") === (chi2 > 5.991464547107979))
    // replay guard: re-running an already-folded batchId is a state no-op
    val before = StreamingIngest.srmState.read(state)
    StreamingIngest.srmBatch(spark, out, state,
      Seq(9999L).toDF("doc_id"), batchId = 0L)
    assert(StreamingIngest.srmState.read(state) === before,
      "replayed batchId must not re-fold into the cumulative state")
  }

  test("streaming UCB sink: one decision per trigger, cumulative arm " +
      "state equals the batch recompute, and a replayed batch does not " +
      "double-count") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tmpDir("ucb-out")
    val state = tmpDir("ucb-state") + "/_ucb.json"
    val ck = tmpDir("ucb-ck")
    val mem = MemoryStream[(String, Double)]
    val events = mem.toDF().toDF("event_type", "value")
    // batch 1: arm A pulls well-rewarded, B sparse (optimism should
    // pick B next); batch 2 fills B in with poor rewards -> A wins
    mem.addData(Seq.fill(20)(("A", 2.0)) ++ Seq(("B", 1.0)): _*)
    val q1 = StreamingIngest.ucbSink(events, spark, out, state, ck).start()
    q1.awaitTermination()
    mem.addData(Seq.fill(30)(("B", 0.2)): _*)
    val q2 = StreamingIngest.ucbSink(events, spark, out, state, ck).start()
    q2.awaitTermination()
    val rows = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("batch_id") -> r).toMap
    assert(rows.size === 2)
    // reference arithmetic on the full history, same quantization
    def ucb(n: Long, q: Long, nn: Long, qvmax: Long): Double =
      q.toDouble / (n * qvmax) + math.sqrt(2.0 * math.log(nn.toDouble) / n)
    val first = rows(rows.keys.min)
    // after batch 1: A has n=20 mean 1.0 (normalized), B n=1 -> the
    // under-explored arm's radius dominates
    assert(first.getAs[String]("allocate_arm") === "B")
    assert(math.abs(first.getAs[Double]("best_ucb")
      - ucb(1, 100, 21, 200)) < 1e-12)
    val last = rows(rows.keys.max)
    // full history: A (20 pulls, mean 1.0) vs B (31 pulls, mean ~0.11)
    assert(last.getAs[Long]("n_pulls_total") === 51L)
    assert(last.getAs[String]("allocate_arm") === "A")
    assert(math.abs(last.getAs[Double]("best_ucb")
      - ucb(20, 20 * 200, 51, 200)) < 1e-12)
    // replay guard: re-running an already-folded batchId is a no-op
    val before = StreamingIngest.ucbState.read(state)
    StreamingIngest.ucbBatch(spark, out, state,
      Seq(("A", 9.0)).toDF("event_type", "value"), batchId = 0L)
    assert(StreamingIngest.ucbState.read(state) === before,
      "replayed batchId must not re-fold into the cumulative state")
  }

  test("UCB sink edge cases: an empty micro-batch on fresh state emits no " +
      "decision but advances the cursor; all-zero quantized rewards score " +
      "finite (mean 0), not NaN") {
    import spark.implicits._
    val out = tmpDir("ucb-edge-out") + "/decisions"
    val state = tmpDir("ucb-edge-state") + "/_ucb.json"
    // empty batch, fresh state: must not throw, must bump lastBatch so
    // the replay guard holds, must append nothing
    StreamingIngest.ucbBatch(spark, out, state,
      spark.emptyDataFrame
        .withColumn("event_type", org.apache.spark.sql.functions.lit("x"))
        .withColumn("value", org.apache.spark.sql.functions.lit(0.0))
        .limit(0),
      batchId = 0L)
    assert(StreamingIngest.ucbState.read(state)._1 === 0L)
    assert(!new java.io.File(out).exists() ||
      spark.read.parquet(out).isEmpty)
    // rewards all < 0.005 quantize to qv = 0 -> qvmax = 0; means must be
    // 0 and the UCB radius finite, so a deterministic arm is allocated
    StreamingIngest.ucbBatch(spark, out, state,
      Seq(("A", 0.001), ("B", 0.002)).toDF("event_type", "value"),
      batchId = 1L)
    val row = spark.read.parquet(out).collect().head
    assert(row.getAs[String]("allocate_arm") === "A") // tie -> lex-min
    val u = row.getAs[Double]("best_ucb")
    assert(!u.isNaN && !u.isInfinite)
    assert(math.abs(u - math.sqrt(2.0 * math.log(2.0))) < 1e-12)
  }

  test("UCB sink state keeps arms whose names need JSON escaping: a " +
      "quote, a backslash and the empty name fold cumulatively across " +
      "triggers") {
    import spark.implicits._
    val out = tmpDir("ucb-esc-out") + "/decisions"
    val state = tmpDir("ucb-esc-state") + "/_ucb.json"
    val arms = Seq("a\"b", "c\\d", "")
    StreamingIngest.ucbBatch(spark, out, state,
      arms.map(a => (a, 1.0)).toDF("event_type", "value"), batchId = 0L)
    StreamingIngest.ucbBatch(spark, out, state,
      (arms.map(a => (a, 2.0)) :+ (("c\\d", 0.5)))
        .toDF("event_type", "value"), batchId = 1L)
    // rewards quantize to cents: 1.0 -> 100, 2.0 -> 200, 0.5 -> 50
    assert(StreamingIngest.ucbState.read(state) === ((1L, Map(
      "a\"b" -> ((2L, 300L, 200L)),
      "c\\d" -> ((3L, 350L, 200L)),
      "" -> ((2L, 300L, 200L))))))
    val last = spark.read.parquet(out).collect()
      .filter(_.getAs[Long]("batch_id") == 1L).head
    assert(last.getAs[Long]("n_pulls_total") === 7L)
    assert(last.getAs[Int]("n_arms") === 3)
  }

  test("streaming exact dedup drops same-content docs within the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    mem.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "alpha beta"),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"), "alpha beta"), // dup
      (3L, Timestamp.valueOf("2024-01-01 10:02:00"), "gamma delta"))
    val q = StreamingIngest.dedupStream(docs)
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 3L))
  }

  test("exact-dedup sink: durable content-hash store catches dups across " +
      "checkpoint resets, state row count stays bounded through watermark " +
      "expiry, expired hashes forgotten (the documented trade)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sc = spark.sqlContext
    val out = tmpDir("exdedup-out") + "/docs"
    val state = tmpDir("exdedup-state") + "/hashes"
    val mem = MemoryStream[(Long, Timestamp, String)]
    var ckptN = 0
    def run(freshCheckpoint: Boolean = false): Unit = {
      if (freshCheckpoint) ckptN += 1
      val q = StreamingIngest.exactDedupSink(
        mem.toDF().toDF("doc_id", "ts", "text"), spark, out, state,
        tmpDir(s"exdedup-ckpt") + s"/c$ckptN").start()
      q.awaitTermination()
    }
    def survivors(): Seq[Long] = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().sorted.toSeq
    def stateRows(): Long = spark.read.parquet(state).count()
    // batch 1: an in-batch dup (collapsed by the upstream watermark
    // operator) + a distinct doc
    mem.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "alpha beta"),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"), "alpha beta"), // dup
      (3L, Timestamp.valueOf("2024-01-01 10:02:00"), "gamma delta"))
    run()
    assert(survivors() === Seq(1L, 3L))
    assert(stateRows() === 2L) // one row per distinct in-window hash
    // batch 2 on a FRESH checkpoint (dropDuplicatesWithinWatermark state
    // gone): the durable store still catches the cross-trigger dup
    mem.addData(
      (4L, Timestamp.valueOf("2024-01-01 10:20:00"), "alpha beta"), // dup
      (5L, Timestamp.valueOf("2024-01-01 10:21:00"), "epsilon zeta"))
    run(freshCheckpoint = true)
    assert(survivors() === Seq(1L, 3L, 5L))
    assert(stateRows() === 3L)
    // TTL expiry: a distinct doc far past the 1 h window advances the
    // prune cutoff and drops every prior hash — state stays bounded
    mem.addData(
      (6L, Timestamp.valueOf("2024-01-01 14:00:00"), "eta theta"))
    run(freshCheckpoint = true)
    assert(survivors() === Seq(1L, 3L, 5L, 6L))
    assert(stateRows() === 1L,
      "state must hold only the in-window hash after expiry")
    assert(spark.read.parquet(state)
      .agg(org.apache.spark.sql.functions.min(col("ts")))
      .collect()(0).getTimestamp(0)
      .after(Timestamp.valueOf("2024-01-01 12:59:59")))
    // the flip side of bounded state, asserted not just documented: a
    // late duplicate of doc 1 finds its hash expired and SURVIVES
    mem.addData(
      (7L, Timestamp.valueOf("2024-01-01 14:10:00"), "alpha beta"))
    run(freshCheckpoint = true)
    assert(survivors() === Seq(1L, 3L, 5L, 6L, 7L))
    assert(stateRows() === 2L)
    // the batch-side owner rule, exercised directly (a batch loader or a
    // sink used WITHOUT the upstream operator sees raw same-hash rows):
    // (ts, doc_id)-min wins regardless of row order
    val out2 = tmpDir("exdedup-out2") + "/docs"
    val state2 = tmpDir("exdedup-state2") + "/hashes"
    def rawBatch(rows: Seq[(Long, Timestamp, String)]) =
      rows.toDF("doc_id", "ts", "text")
        .withColumn(
          "content_hash",
          org.apache.spark.sql.functions.sha2(col("text"), 256))
    val b0 = Seq(
      (12L, Timestamp.valueOf("2024-01-01 10:01:00"), "alpha beta"),
      (11L, Timestamp.valueOf("2024-01-01 10:00:00"), "alpha beta"),
      (13L, Timestamp.valueOf("2024-01-01 10:02:00"), "gamma delta"))
    StreamingIngest.exactDedupBatch(spark, out2, state2, rawBatch(b0),
      batchId = 0L, lineage = "ckA", delayMs = 3600L * 1000)
    def docs2(): Seq[Long] = spark.read.parquet(out2).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(docs2() === Seq(11L, 13L))
    // replay of the SAME (lineage, batchId) is a no-op: the cursor
    // swapped in with the state, so the earlier append stands untouched
    StreamingIngest.exactDedupBatch(spark, out2, state2, rawBatch(b0),
      batchId = 0L, lineage = "ckA", delayMs = 3600L * 1000)
    assert(docs2() === Seq(11L, 13L),
      "replayed batch must not duplicate survivor rows")
    assert(StreamingIngest.dedupCursor(state2) === (("ckA", 0L)))
    // a NEW stream (different checkpoint lineage) restarting at batch 0
    // is NOT a replay: it processes against the durable store and its
    // cross-stream duplicate is caught there
    StreamingIngest.exactDedupBatch(spark, out2, state2, rawBatch(Seq(
        (14L, Timestamp.valueOf("2024-01-01 10:05:00"), "alpha beta"),
        (15L, Timestamp.valueOf("2024-01-01 10:06:00"), "iota kappa"))),
      batchId = 0L, lineage = "ckB", delayMs = 3600L * 1000)
    assert(docs2() === Seq(11L, 13L, 15L))
    assert(StreamingIngest.dedupCursor(state2) === (("ckB", 0L)))
  }

  test("minhash near-dup sink: banded signature store catches near-dups " +
      "across checkpoint resets, state stays bounded by survivors and " +
      "TTL, band-miss and expiry trades asserted") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sc = spark.sqlContext
    // fixture texts chosen so band collisions are DETERMINISTIC facts of
    // the md5 family (pre-computed): near1/near2 share band 0 with base,
    // near3 shares NO band (the LSH recall trade), distinct shares none
    val base =
      "the quick brown fox jumps over the lazy dog near the river bank today"
    val near1 = base.replace("today", "tonight")
    val near2 = "a " + base
    val near3 = base.replace("quick", "swift")
    val distinct = "completely different words about spark streaming " +
      "dedup state machines and bounded windows"
    val out = tmpDir("mhdedup-out") + "/docs"
    val state = tmpDir("mhdedup-state") + "/bands"
    // each run is a brand-NEW stream (fresh MemoryStream + fresh
    // checkpoint = a new lineage) over the same durable band store —
    // the exact claim the sink makes: dedup horizon lives in the
    // store, not in any one stream's checkpoint. (The sink is
    // stateless upstream, so an AvailableNow run never source-commits
    // its last block; reusing one MemoryStream across fresh
    // checkpoints would replay old blocks and test Spark's commit
    // timing, not the sink.)
    var ckptN = 0
    def run(rows: (Long, Timestamp, String)*): Unit = {
      ckptN += 1
      val mem = MemoryStream[(Long, Timestamp, String)]
      mem.addData(rows: _*)
      val q = StreamingIngest.minhashDedupSink(
        mem.toDF().toDF("doc_id", "ts", "text"), spark, out, state,
        tmpDir("mhdedup-ckpt") + s"/c$ckptN").start()
      q.awaitTermination()
    }
    def survivors(): Seq[Long] = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().sorted.toSeq
    def stateRows(): Long = spark.read.parquet(state).count()
    // batch 1: an in-batch near-dup + a distinct doc
    run(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), base),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"), near1), // nd of 1
      (3L, Timestamp.valueOf("2024-01-01 10:02:00"), distinct))
    assert(survivors() === Seq(1L, 3L))
    assert(stateRows() === 4L) // 2 bands x 2 survivors, never dup bands
    // a NEW stream: the durable band store still catches the
    // cross-stream near-dup; the band-missing true near-dup (near3)
    // SURVIVES — LSH recall is banded, not exact, asserted as the
    // documented trade
    run(
      (4L, Timestamp.valueOf("2024-01-01 10:20:00"), near2), // nd of 1
      (5L, Timestamp.valueOf("2024-01-01 10:21:00"), near3)) // band miss
    assert(survivors() === Seq(1L, 3L, 5L))
    assert(stateRows() === 6L)
    // TTL expiry bounds the state; a sub-shingle-width doc (< 3 tokens)
    // has no bands: always survives, contributes no state rows
    run(
      (6L, Timestamp.valueOf("2024-01-01 14:00:00"),
        "eta theta iota kappa lambda mu"),
      (8L, Timestamp.valueOf("2024-01-01 14:01:00"), "two tokens"))
    assert(survivors() === Seq(1L, 3L, 5L, 6L, 8L))
    assert(stateRows() === 2L,
      "state must hold only the in-window survivor bands after expiry")
    // flip side of bounded state: a late near-dup of doc 1 finds the
    // bands expired and survives
    run((7L, Timestamp.valueOf("2024-01-01 14:10:00"), base))
    assert(survivors() === Seq(1L, 3L, 5L, 6L, 7L, 8L))
    assert(stateRows() === 4L)
    // the batch-side owner rule, replay no-op, and cross-lineage
    // restart — exercised directly like exactDedupBatch
    val out2 = tmpDir("mhdedup-out2") + "/docs"
    val state2 = tmpDir("mhdedup-state2") + "/bands"
    def rawBatch(rows: Seq[(Long, Timestamp, String)]) =
      rows.toDF("doc_id", "ts", "text")
    val b0 = Seq(
      (12L, Timestamp.valueOf("2024-01-01 10:01:00"), near1),
      (11L, Timestamp.valueOf("2024-01-01 10:00:00"), base),
      (13L, Timestamp.valueOf("2024-01-01 10:02:00"), distinct))
    StreamingIngest.minhashDedupBatch(spark, out2, state2, rawBatch(b0),
      batchId = 0L, lineage = "ckA", delayMs = 3600L * 1000)
    def docs2(): Seq[Long] = spark.read.parquet(out2).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(docs2() === Seq(11L, 13L)) // (ts, doc_id)-min owns the band
    StreamingIngest.minhashDedupBatch(spark, out2, state2, rawBatch(b0),
      batchId = 0L, lineage = "ckA", delayMs = 3600L * 1000)
    assert(docs2() === Seq(11L, 13L),
      "replayed batch must not duplicate survivor rows")
    assert(StreamingIngest.dedupCursor(state2) === (("ckA", 0L)))
    StreamingIngest.minhashDedupBatch(spark, out2, state2, rawBatch(Seq(
        (14L, Timestamp.valueOf("2024-01-01 10:05:00"), near2),
        (15L, Timestamp.valueOf("2024-01-01 10:06:00"),
          "totally new sentence with many different tokens indeed"))),
      batchId = 0L, lineage = "ckB", delayMs = 3600L * 1000)
    assert(docs2() === Seq(11L, 13L, 15L))
    assert(StreamingIngest.dedupCursor(state2) === (("ckB", 0L)))
  }

  test("streaming near-dup dedup drops bag-equal (reordered) docs exact " +
      "hashing misses; row-fold fingerprint equals the batch SWAR path") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    mem.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"),
        "alpha beta gamma delta epsilon"),
      // same token BAG, different order: content hash differs, SimHash
      // (order-invariant) is identical — only near-dup dedup drops it
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"),
        "epsilon delta gamma beta alpha"),
      (3L, Timestamp.valueOf("2024-01-01 10:02:00"),
        "zeta eta theta iota kappa"))
    val q = StreamingIngest.nearDupStream(docs)
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("neardup").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 3L))
    // the exact-dedup twin would keep all three (hashes all differ)
    val hashes = Seq("alpha beta gamma delta epsilon",
      "epsilon delta gamma beta alpha", "zeta eta theta iota kappa")
    assert(hashes.map(t => java.security.MessageDigest.getInstance("SHA-256")
      .digest(t.getBytes).toSeq).distinct.size === 3)
    // twin check: the stateless row fold produces the SAME fingerprints
    // as the batch explode+SWAR aggregation on a static frame
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "epsilon delta gamma beta alpha"),
      (3L, "zeta eta theta iota kappa"),
      (4L, "alpha"), (5L, "x y z w " * 50 + "tail")
    ).toDF("doc_id", "text")
    val batch = graft.ext.DedupOps.simhashFps64From(corpus)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    val rowFold = corpus
      .withColumn("sw",
        org.apache.spark.sql.functions.expr(
          graft.ext.DedupOps.simhashRowFoldSql))
      .select($"doc_id", graft.ext.DedupOps.simhashRowHalf(0).as("fp0"),
        graft.ext.DedupOps.simhashRowHalf(32).as("fp1"))
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(rowFold === batch)
  }

  test("oversized doc is flagged overflow, not silently lane-corrupted; " +
      "normal docs unaffected") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // 65,536 tokens saturates a 16-bit SWAR lane — the fp is garbage, so
    // the stream must FLAG the doc and fall back to exact-hash dedup for
    // it, never conflating two distinct oversized docs or killing the
    // query (the batch path raise_errors here by design).
    val big1 = (1 to 65536).map(i => s"t${i % 97}").mkString(" ")
    val big2 = (1 to 65536).map(i => s"u${i % 89}").mkString(" ")
    val mem = MemoryStream[(Long, Timestamp, String)]
    mem.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), big1),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"), big2),
      (3L, Timestamp.valueOf("2024-01-01 10:02:00"),
        "alpha beta gamma delta epsilon"),
      (4L, Timestamp.valueOf("2024-01-01 10:03:00"),
        "epsilon delta gamma beta alpha")) // near-dup of 3, still dropped
    val q = StreamingIngest.nearDupStream(
        mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("neardup_ovf")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("neardup_ovf").select("doc_id", "overflow")
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, true), (2L, true), (3L, false)))
  }

  test("overflow docs routed through the chunk-state sink: a reordered " +
      ">65,536-token near-dup is caught (within and across batches), " +
      "distinct oversized docs survive, state is watermark-pruned") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min}
    implicit val sc = spark.sqlContext
    // 2,700 blocks of 25 tokens = 67,500 tokens — above the 65,536 lane
    // bound, so these docs are `overflow` upstream. Block content is
    // position-independent, so a SECTION swap preserves every 50-token
    // stride-25 chunk except the two at the section boundary — the
    // "boilerplate moved" near-dup shape chunk fingerprints exist for.
    def block(tag: String, b: Int): Seq[String] =
      (0 until 25).map(i => s"$tag${b}x$i")
    val s1 = (0 until 1350).flatMap(block("a", _))
    val s2 = (1350 until 2700).flatMap(block("a", _))
    val big1 = (s1 ++ s2).mkString(" ")
    val big2 = (s2 ++ s1).mkString(" ") // section-swapped near-dup of big1
    val big3 = (0 until 2700).flatMap(block("c", _)).mkString(" ")
    val out = tmpDir("chunkdedup-out") + "/docs"
    val state = tmpDir("chunkdedup-state") + "/fps"
    val ckpt = tmpDir("chunkdedup-ckpt")
    val mem = MemoryStream[(Long, Timestamp, String)]
    def run(): Unit = {
      val flagged = StreamingIngest.nearDupStream(
          mem.toDF().toDF("doc_id", "ts", "text"))
        .filter(col("overflow"))
      val q = StreamingIngest.chunkDedupSink(flagged, spark, out, state,
        ckpt).start()
      q.awaitTermination()
    }
    mem.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), big1),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"), big2),
      (3L, Timestamp.valueOf("2024-01-01 10:02:00"), big3))
    run()
    // the overflow fallback alone emits big2 (exact hash differs, fp is
    // garbage) — the chunk sink is what catches it; big3 shares nothing
    assert(spark.read.parquet(out).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    // a LATER batch: a different permutation (rotate s1 by 100 blocks) —
    // caught against the persisted fingerprint state, not batch-local
    val big4 = (s1.drop(2500) ++ s1.take(2500) ++ s2).mkString(" ")
    mem.addData((4L, Timestamp.valueOf("2024-01-01 10:10:00"), big4))
    run()
    assert(spark.read.parquet(out).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    // watermark pruning: a batch far past the 1 h delay drops the old
    // fingerprints, so state stays bounded (the documented trade — dups
    // arriving later than the delay are not caught)
    val big5 = (0 until 2700).flatMap(block("e", _)).mkString(" ")
    mem.addData((5L, Timestamp.valueOf("2024-01-01 14:00:00"), big5))
    run()
    assert(spark.read.parquet(out).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 3L, 5L))
    assert(spark.read.parquet(state).agg(min(col("ts")))
      .collect()(0).getTimestamp(0)
      .after(Timestamp.valueOf("2024-01-01 12:59:59")))
  }

  test("chunk-state sink over many triggers: state row/file counts stay " +
      "bounded through repeated watermark expiry; in-window near-dups " +
      "caught, expired fingerprints forgotten (the documented trade)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sc = spark.sqlContext
    // drive the sink directly with SMALL docs (the sink chunks whatever
    // arrives; the overflow routing is the previous test's concern) so
    // the state machine can be cycled through several full watermark
    // windows cheaply: 6 sections of 25 tokens = 150 tokens -> 5 chunks
    def doc(tag: String): String =
      (0 until 6).flatMap(b => (0 until 25).map(i => s"$tag${b}x$i"))
        .mkString(" ")
    def swapped(tag: String): String = { // section-swapped near-dup
      val blocks = (0 until 6).map(b => (0 until 25).map(i => s"$tag${b}x$i"))
      (blocks.drop(3) ++ blocks.take(3)).flatten.mkString(" ")
    }
    val out = tmpDir("chunkprune-out") + "/docs"
    val state = tmpDir("chunkprune-state") + "/fps"
    val ckpt = tmpDir("chunkprune-ckpt")
    val mem = MemoryStream[(Long, Timestamp, String)]
    def run(): Unit = {
      val q = StreamingIngest.chunkDedupSink(
        mem.toDF().toDF("doc_id", "ts", "text"), spark, out, state, ckpt)
        .start()
      q.awaitTermination()
    }
    def stateRows(): Long = spark.read.parquet(state).count()
    def stateFiles(): Int =
      new java.io.File(state).listFiles().count(_.getName.endsWith(".parquet"))
    // three pairs, each pair 2 h after the last (full window expiry between
    // pairs, 1 h default delay); within each pair the second doc is a
    // section-swapped near-dup 10 min later (inside the window -> dropped)
    val counts = (0 until 3).map { k =>
      val t0 = Timestamp.valueOf(s"2024-01-01 ${10 + 2 * k}:00:00")
      val t1 = Timestamp.valueOf(s"2024-01-01 ${10 + 2 * k}:10:00")
      mem.addData((2L * k + 1, t0, doc(s"g$k")))
      run()
      mem.addData((2L * k + 2, t1, swapped(s"g$k")))
      run()
      (stateRows(), stateFiles())
    }
    // survivors: only the first doc of each pair
    assert(spark.read.parquet(out).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 3L, 5L))
    // bounded state: after each pair the window holds ONE pair's
    // fingerprints — identical counts each cycle, no growth across expiry
    assert(counts.map(_._1).distinct.size === 1,
      s"state row count grew across watermark cycles: $counts")
    assert(counts.map(_._2).max <= counts.map(_._2).head,
      s"state file count grew across watermark cycles: $counts")
    // the flip side of bounded state, asserted not just documented: a
    // duplicate of pair-0's doc arriving 8 h later finds its fingerprints
    // expired and SURVIVES
    mem.addData((7L, Timestamp.valueOf("2024-01-01 18:00:00"), doc("g0")))
    run()
    assert(spark.read.parquet(out).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 3L, 5L, 7L))
  }

  test("bucketed chunk-state sink (the O(batch) scale path): verdicts " +
      "match the rewrite layout, triggers append without rewriting " +
      "earlier delta files, amortized prune drops expired fingerprints") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sc = spark.sqlContext
    def doc(tag: String): String =
      (0 until 6).flatMap(b => (0 until 25).map(i => s"$tag${b}x$i"))
        .mkString(" ")
    def swapped(tag: String): String = {
      val blocks = (0 until 6).map(b => (0 until 25).map(i => s"$tag${b}x$i"))
      (blocks.drop(3) ++ blocks.take(3)).flatten.mkString(" ")
    }
    // the same event sequence drives BOTH layouts; survivors must agree
    val batches = Seq(
      Seq((1L, "2024-01-01 10:00:00", doc("g0"))),
      Seq((2L, "2024-01-01 10:10:00", swapped("g0")), // near-dup -> drop
          (3L, "2024-01-01 10:20:00", doc("g1"))),
      Seq((4L, "2024-01-01 10:30:00", swapped("g1"))), // near-dup -> drop
      // a full window later: cutoff advances past g0/g1 -> prune fires
      Seq((5L, "2024-01-01 12:30:00", doc("g2"))),
      // expired near-dups come back and SURVIVE under both layouts
      Seq((6L, "2024-01-01 12:40:00", swapped("g0"))))
    def drive(bucketed: Boolean): (String, String) = {
      val out = tmpDir(s"chunkb-out-$bucketed") + "/docs"
      val state = tmpDir(s"chunkb-state-$bucketed") + "/fps"
      val ckpt = tmpDir(s"chunkb-ckpt-$bucketed")
      val mem = MemoryStream[(Long, Timestamp, String)]
      var appendOnlyHeld = true
      var preservedChecks = 0
      def stateDeltaFiles(): Set[String] = {
        val root = new java.io.File(state)
        if (!root.exists()) Set.empty
        else root.listFiles().filter(_.isDirectory)
          .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => d.getName + "/" + f.getName)).toSet
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        val before = if (bucketed) stateDeltaFiles() else Set.empty[String]
        mem.addData(b.map { case (id, ts, tx) =>
          (id, Timestamp.valueOf(ts), tx) }: _*)
        val df = mem.toDF().toDF("doc_id", "ts", "text")
        val q = (if (bucketed)
          StreamingIngest.chunkDedupSinkBucketed(df, spark, out, state, ckpt)
        else
          StreamingIngest.chunkDedupSink(df, spark, out, state, ckpt)).start()
        q.awaitTermination()
        // triggers 2 and 3 (indexes 1, 2) stay inside the first watermark
        // window: the bucketed layout must not rewrite or drop any delta
        // file laid down before them — appends only
        if (bucketed && (i == 1 || i == 2)) {
          val after = stateDeltaFiles()
          appendOnlyHeld &&= before.subsetOf(after)
          preservedChecks += 1
        }
      }
      assert(!bucketed || (appendOnlyHeld && preservedChecks == 2),
        "bucketed layout rewrote pre-existing delta files inside a window")
      (out, state)
    }
    val (outRewrite, _) = drive(bucketed = false)
    val (outBucketed, stateB) = drive(bucketed = true)
    def survivors(p: String): Seq[Long] =
      spark.read.parquet(p).select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors(outRewrite) === Seq(1L, 3L, 5L, 6L))
    assert(survivors(outBucketed) === survivors(outRewrite))
    // amortized prune ran at trigger 4 (cutoff 11:30 >= lastPrune + 1 h):
    // expired g0/g1 fingerprints are physically gone from the state table
    val minTs = graft.etl.PartitionedMerge
      .read(spark, stateB)
      .agg(org.apache.spark.sql.functions.min(col("ts")))
      .collect()(0).getTimestamp(0)
    assert(minTs.after(Timestamp.valueOf("2024-01-01 11:29:59")),
      s"expired fingerprints survived the amortized prune: min ts $minTs")
  }

  test("stream-stream interval join attributes purchases to prior clicks") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val buys = MemoryStream[(Long, Timestamp, Double)]
    clicks.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 100L), // within 1 h
      (1L, Timestamp.valueOf("2024-01-01 08:00:00"), 101L), // too old
      (2L, Timestamp.valueOf("2024-01-01 10:20:00"), 102L)) // other user
    buys.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 9.99))
    val joined = StreamingIngest.purchaseAttribution(
      clicks.toDF().toDF("user_id", "click_ts", "click_id"),
      buys.toDF().toDF("user_id", "buy_ts", "value"))
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("attrib")
      .select("user_id", "click_id", "value")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 100L, 9.99)))
  }

  test("CDC chunk sink: a half-stride front insertion defeats the fixed " +
      "50/25 splitter (every window's bag churns 26%) but CDC " +
      "boundaries resynchronize and the near-dup is dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sc = spark.sqlContext
    // all-unique tokens, and a HALF-STRIDE (13-token) front insertion:
    // every fixed 50/25 window now differs by 13+ of its 50 tokens, so
    // every fixed chunk's SimHash flips (a 1-token shift left short
    // tail windows able to collide — 26% bag churn cannot); CDC
    // boundaries past the inserted head are content-identical, so
    // those chunks keep their fingerprints VERBATIM
    val orig = (0 until 325).map(i => s"w$i").mkString(" ")
    val shifted = (0 until 13).map(i => s"z$i").mkString(" ") + " " + orig
    def drive(cdc: Boolean): Seq[Long] = {
      val out = tmpDir(s"cdcchunk-out-$cdc") + "/docs"
      val state = tmpDir(s"cdcchunk-state-$cdc") + "/fps"
      val ckpt = tmpDir(s"cdcchunk-ckpt-$cdc")
      val mem = MemoryStream[(Long, Timestamp, String)]
      def run(): Unit = {
        val df = mem.toDF().toDF("doc_id", "ts", "text")
        val q = (if (cdc)
          StreamingIngest.cdcChunkDedupSink(df, spark, out, state, ckpt)
        else
          StreamingIngest.chunkDedupSink(df, spark, out, state, ckpt))
          .start()
        q.awaitTermination()
      }
      mem.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00"), orig))
      run()
      // the edited near-dup arrives in a LATER batch: the verdict must
      // come from the persisted fingerprint state, not batch-local dedup
      mem.addData((2L, Timestamp.valueOf("2024-01-01 10:10:00"), shifted))
      run()
      spark.read.parquet(out).select("doc_id")
        .as[Long].collect().sorted.toSeq
    }
    assert(drive(cdc = true) === Seq(1L),
      "CDC chunking must drop the front-edited near-dup")
    assert(drive(cdc = false) === Seq(1L, 2L),
      "the fixed splitter keeping the near-dup is the documented blind " +
        "spot this sink exists to close — if this starts passing, the " +
        "fixture stopped exercising it")
  }

  test("chunk-state sinks: a batch replayed after a crash between its " +
      "survivor write and its state swap writes its survivors once") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val sc = spark.sqlContext
    def doc(tag: String): String =
      (0 until 6).flatMap(b => (0 until 25).map(i => s"$tag${b}x$i"))
        .mkString(" ")
    def copyTree(from: String, to: String): Unit = {
      val src = Paths.get(from)
      val walk = Files.walk(src)
      try walk.iterator().asScala.foreach(p =>
        Files.copy(p, Paths.get(to).resolve(src.relativize(p))))
      finally walk.close()
    }
    type Sink = (org.apache.spark.sql.DataFrame, String, String, String) =>
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]
    Seq[(String, Sink)](
      "fixed" -> (StreamingIngest.chunkDedupSink(_, spark, _, _, _)),
      "cdc" -> (StreamingIngest.cdcChunkDedupSink(_, spark, _, _, _))
    ).foreach { case (name, sink) =>
      val out = tmpDir(s"chunkreplay-out-$name") + "/docs"
      val state = tmpDir(s"chunkreplay-state-$name") + "/fps"
      val saved = tmpDir(s"chunkreplay-saved-$name") + "/fps"
      val ckpt = tmpDir(s"chunkreplay-ckpt-$name")
      val mem = MemoryStream[(Long, Timestamp, String)]
      def run(): Unit = sink(mem.toDF().toDF("doc_id", "ts", "text"), out,
        state, ckpt).start().awaitTermination()
      def survivors(): Seq[Long] = spark.read.parquet(out).select("doc_id")
        .as[Long].collect().sorted.toSeq
      mem.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00"), doc("g0")))
      run()
      copyTree(state, saved)
      mem.addData((2L, Timestamp.valueOf("2024-01-01 10:10:00"), doc("g1")))
      run()
      assert(survivors() === Seq(1L, 2L))
      // the crash window: the second batch's survivors were written, but
      // neither its state swap nor its commit landed — restore the
      // pre-batch state and drop the batch's commit-log entry, so the
      // restarted query replays the batch
      graft.util.Fs.deleteRec(Paths.get(state))
      copyTree(saved, state)
      val commits = Paths.get(ckpt, "commits")
      val lastCommit = graft.util.Fs.list(commits).map(_.getFileName.toString)
        .filter(_.forall(_.isDigit)).maxBy(_.toLong)
      Files.delete(commits.resolve(lastCommit))
      Files.deleteIfExists(commits.resolve(s".$lastCommit.crc"))
      run()
      assert(survivors() === Seq(1L, 2L),
        s"$name: the replayed batch must not write its survivors twice")
      // survivors appended flat at the root (the layout before per-batch
      // directories) would be skipped by a read beside batch= directories,
      // so such an output is refused, not silently hidden
      val flat = tmpDir(s"chunkreplay-flat-$name") + "/docs"
      Seq((9L, Timestamp.valueOf("2024-01-01 09:00:00"), "x"))
        .toDF("doc_id", "ts", "text").write.parquet(flat)
      val fresh = MemoryStream[(Long, Timestamp, String)]
      fresh.addData((3L, Timestamp.valueOf("2024-01-01 10:20:00"), doc("g2")))
      val ex = intercept[Exception] {
        sink(fresh.toDF().toDF("doc_id", "ts", "text"), flat, state,
          tmpDir(s"chunkreplay-flatckpt-$name")).start().awaitTermination()
      }
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("batch=legacy")))
    }
  }

  test("streaming EWMA control chart equals the exact reference fold " +
      "and is batch-boundary invariant") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingIngest.DayRow
    // P1: flat baseline with one spike; P2: steady drift
    val p1 = (1L to 30L).map(d =>
      DayRow("P1", d, if (d == 20L) 60L else 5L + (d % 3)))
    val p2 = (1L to 30L).map(d => DayRow("P2", d, 10L + d))
    val rows = p1 ++ p2
    // exact reference fold — the same arithmetic the stream state runs
    def ref(all: Seq[DayRow]): Seq[(String, Long, Long, Double, Double)] =
      all.groupBy(_.priority).toSeq.flatMap { case (p, rs) =>
        var ws = 0.0; var e1 = 0.0; var e2 = 0.0
        rs.sortBy(_.epochDay).flatMap { r =>
          val hit = if (ws > 0) {
            val vr = math.max(e2 - e1 * e1, 0.0)
            val z = (r.y - e1) / math.sqrt(vr + 1.0)
            if (math.abs(z) >= 1.5) Some((p, r.epochDay, r.y, e1, z))
            else None
          } else None
          val w2 = 1.0 + 0.7 * ws
          val n1 = (r.y + 0.7 * ws * e1) / w2
          val n2 = (r.y.toDouble * r.y + 0.7 * ws * e2) / w2
          ws = w2; e1 = n1; e2 = n2
          hit
        }
      }.sortBy(t => (t._1, t._2))
    val expected = ref(rows)
    assert(expected.nonEmpty, "fixture must flag at least one day")
    assert(expected.exists(t => t._1 == "P1" && t._2 == 20L),
      "the injected spike must be flagged")
    def runStream(name: String, chunks: Seq[Seq[DayRow]])
        : Seq[(String, Long, Long, Double, Double)] = {
      val mem = MemoryStream[DayRow]
      chunks.foreach(c => mem.addData(c))
      val q = StreamingIngest.ewmaAnomalyStream(mem.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).orderBy("priority", "epochDay").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSeq
    }
    val oneBatch = runStream("ewma_one", Seq(rows))
    val threeBatches = runStream("ewma_three", Seq(
      rows.filter(_.epochDay <= 10),
      rows.filter(r => r.epochDay > 10 && r.epochDay <= 20),
      rows.filter(_.epochDay > 20)))
    assert(oneBatch === expected)   // bit-identical, not approximate
    assert(threeBatches === expected)
  }

  test("streaming CEP pattern twin: conversion counts equal the batch " +
      "x_event_pattern op and survive re-chunked micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingIngest.PatEv
    val sf = "/root/testdata/sf0.001"
    val evs = graft.util.Tables.t(spark, sf, "events")
      .selectExpr("user_id", "unix_micros(ts) AS tsMicros", "event_id",
        "event_type")
      .as[PatEv].collect().toSeq
    // the oracle-checked batch op is the reference
    val batch = SparkEntry.queries("x_event_pattern")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_conversions"))
      .toMap
    def runStream(name: String, chunks: Seq[Seq[PatEv]]): Map[Long, Long] = {
      val mem = MemoryStream[PatEv]
      chunks.foreach(c => mem.addData(c))
      val q = StreamingIngest.patternStream(mem.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).groupBy("user_id")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val sorted = evs.sortBy(e => (e.tsMicros, e.event_id))
    val oneBatch = runStream("cep_one", Seq(sorted))
    val third = sorted.length / 3
    val threeBatches = runStream("cep_three", Seq(
      sorted.take(third), sorted.slice(third, 2 * third),
      sorted.drop(2 * third)))
    assert(oneBatch === threeBatches)
    // every batch-op top-20 user's count must match the stream's
    batch.foreach { case (u, n) =>
      assert(oneBatch.getOrElse(u, 0L) == n,
        s"user $u: stream ${oneBatch.getOrElse(u, 0L)} vs batch $n")
    }
  }

  // ---- event-time timeout / bounded state under key churn (r9 #2) ------

  /** Final state-store row count of a finished query (the last progress
    * entry that carried state metrics). */
  private def finalStateRows(
      q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
      .lastOption.map(_.numRowsTotal).getOrElse(-1L)

  test("sessionizer: event-time timeout closes idle sessions exactly " +
      "once and state stays bounded under key churn") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingIngest.Ev
    def ts(s: String) = Timestamp.valueOf(s)
    val out = tmpDir("churn-sess-out") + "/sessions"
    val ckpt = tmpDir("churn-sess-ckpt")
    val mem = MemoryStream[Ev]
    var lastQ: org.apache.spark.sql.streaming.StreamingQuery = null
    // one AvailableNow run per wave: MemoryStream feeds each run's new
    // blocks as one micro-batch, so the watermark (persisted in the
    // checkpoint) advances run over run and timeouts actually fire
    def run(): Unit = {
      val q = StreamingIngest.sessionizeWithState(mem.toDS())
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); lastQ = q
    }
    // waves of FRESH users, 3 h apart — each wave's sessions can only
    // close via the watermark timeout (no later event ever shows a gap
    // for them). Under NoTimeout this accumulates 122 open sessions
    // forever and emits none of them.
    mem.addData((1L to 40L).map(Ev(_, ts("2024-01-01 10:00:00"))): _*); run()
    mem.addData((101L to 140L).map(Ev(_, ts("2024-01-01 13:00:00"))): _*); run()
    mem.addData((201L to 240L).map(Ev(_, ts("2024-01-01 16:00:00"))): _*); run()
    mem.addData(Ev(301L, ts("2024-01-01 19:00:00"))); run()
    mem.addData(Ev(401L, ts("2024-01-01 22:00:00"))); run()
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getInt(2))).toSeq
    // exactly once: one closed row per timed-out user, correct payload
    assert(got.map(_._1).distinct.length === got.length,
      s"a session was emitted more than once: $got")
    val byUser = got.map(t => t._1 -> ((t._2, t._3))).toMap
    (1L to 40L).foreach(u =>
      assert(byUser(u) === (("2024-01-01 10:00:00.0", 1)), s"user $u"))
    (101L to 140L).foreach(u =>
      assert(byUser(u) === (("2024-01-01 13:00:00.0", 1)), s"user $u"))
    (201L to 240L).foreach(u =>
      assert(byUser(u) === (("2024-01-01 16:00:00.0", 1)), s"user $u"))
    // the final wave(s) can still be open — but never the 120 closed ones
    val openAllowed = Set(301L, 401L)
    assert(got.map(_._1).toSet.subsetOf((1L to 240L).toSet ++ openAllowed))
    // bounded state: 122 users seen, at most the trailing 2 still held
    val rows = finalStateRows(lastQ)
    assert(rows >= 0 && rows <= 2,
      s"state store holds $rows rows — timeout pruning did not bound it")
  }

  test("EWMA chart: idle keys are dropped by event-time timeout — a " +
      "returning key restarts its baseline instead of scoring against " +
      "a months-stale one") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingIngest.DayRow
    val out = tmpDir("churn-ewma-out") + "/anom"
    val ckpt = tmpDir("churn-ewma-ckpt")
    val mem = MemoryStream[DayRow]
    var lastQ: org.apache.spark.sql.streaming.StreamingQuery = null
    def run(): Unit = {
      val q = StreamingIngest.ewmaAnomalyStream(mem.toDS(),
          idleTtlMs = 2L * 86400 * 1000, lateness = "1 day")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); lastQ = q
    }
    // key A: steady days 1-5 (baseline ~5); then churn keys advance the
    // watermark far past A's 2-day TTL; then A returns on day 25 with a
    // huge value — against the OLD baseline |z| would be enormous and
    // flagged; with the state correctly dropped, the first day of A's
    // new epoch has wsum=0 and scores nothing. B's own day-22 spike IS
    // flagged (in-TTL baseline) — proving the chart stayed live.
    mem.addData((1L to 5L).map(d => DayRow("A", d, 5L + (d % 2))): _*); run()
    mem.addData(DayRow("B", 20L, 7L), DayRow("B", 21L, 7L),
      DayRow("B", 22L, 100L)); run()
    mem.addData(DayRow("C", 23L, 7L)); run()
    mem.addData(DayRow("A", 25L, 1000L)); run()
    val anom = spark.read.parquet(out)
    assert(anom.filter($"priority" === "B" && $"epochDay" === 22L)
      .count() === 1L, "the in-TTL spike must still be flagged")
    assert(anom.filter($"priority" === "A" && $"epochDay" === 25L)
      .count() === 0L,
      "day 25 was scored against a baseline that should have expired")
    // state holds only the keys inside the TTL window at the end
    // (A's NEW epoch, B, C — never A's original expired entry as a 4th)
    val rows = finalStateRows(lastQ)
    assert(rows >= 0 && rows <= 3,
      s"state store holds $rows rows — idle keys were not dropped")
  }

  test("CEP automaton: idle user's funnel state expires — a purchase " +
      "after the TTL does not convert on the dead position") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingIngest.PatEv
    def us(s: String): Long = Timestamp.valueOf(s).getTime * 1000L
    val out = tmpDir("churn-cep-out") + "/conv"
    val ckpt = tmpDir("churn-cep-ckpt")
    val mem = MemoryStream[PatEv]
    var lastQ: org.apache.spark.sql.streaming.StreamingQuery = null
    def run(): Unit = {
      val q = StreamingIngest.patternStream(mem.toDS(),
          idleTtlMs = 2L * 3600 * 1000, lateness = "10 minutes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); lastQ = q
    }
    // user 1 reaches view→click (state 2), goes idle past the 2 h TTL
    // while user 9 advances the watermark, then purchases: with the
    // automaton correctly dropped the purchase finds state 0 → no
    // conversion. (Under NoTimeout this WOULD convert — the test pins
    // the bounded-state trade explicitly.) User 9's complete in-window
    // funnel still converts — the automaton itself stayed live.
    mem.addData(
      PatEv(1L, us("2024-01-01 10:00:00"), 1L, "view"),
      PatEv(1L, us("2024-01-01 10:01:00"), 2L, "click")); run()
    mem.addData(PatEv(9L, us("2024-01-01 15:00:00"), 3L, "view")); run()
    mem.addData(
      PatEv(9L, us("2024-01-01 16:00:00"), 4L, "click"),
      PatEv(9L, us("2024-01-01 16:01:00"), 5L, "purchase")); run()
    mem.addData(PatEv(1L, us("2024-01-01 18:00:00"), 6L, "purchase")); run()
    val conv = spark.read.parquet(out)
    assert(conv.filter($"user_id" === 9L).count() === 1L,
      "the live in-window funnel must still convert")
    assert(conv.filter($"user_id" === 1L).count() === 0L,
      "purchase converted on automaton state that should have expired")
    val rows = finalStateRows(lastQ)
    assert(rows >= 0 && rows <= 2,
      s"state store holds $rows rows — idle automata were not dropped")
  }

  test("EWMA chart: duplicate frontier replays do not refresh the idle " +
      "TTL — the deadline is measured from the key's frontier, so a key " +
      "replaying its last day still expires (ADVICE r10 #4)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingIngest.DayRow
    val out = tmpDir("stale-ewma-out") + "/anom"
    val ckpt = tmpDir("stale-ewma-ckpt")
    val mem = MemoryStream[DayRow]
    var lastQ: org.apache.spark.sql.streaming.StreamingQuery = null
    def run(): Unit = {
      val q = StreamingIngest.ewmaAnomalyStream(mem.toDS(),
          idleTtlMs = 2L * 86400 * 1000, lateness = "1 day")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); lastQ = q
    }
    // A's frontier is day 5 → deadline day 7. Each later wave REPLAYS
    // day 5 (a duplicate: above the lagging watermark, so the operator
    // IS invoked for A, but no row advances the frontier) while B walks
    // the watermark forward. The replays must not move A's deadline:
    // once the watermark passes day 7 the baseline is dropped, so A's
    // day-20 spike scores against an empty state and flags nothing.
    mem.addData((1L to 5L).map(d => DayRow("A", d, 5L + (d % 2))): _*); run()
    mem.addData(DayRow("A", 5L, 6L), DayRow("B", 6L, 7L)); run()
    mem.addData(DayRow("A", 5L, 6L), DayRow("B", 8L, 7L)); run()
    mem.addData(DayRow("B", 9L, 7L)); run()
    mem.addData(DayRow("A", 20L, 1000L)); run()
    val anom = spark.read.parquet(out)
    assert(anom.filter($"priority" === "A" && $"epochDay" === 20L)
      .count() === 0L,
      "day 20 scored against a baseline the replays should not have kept alive")
    val rows = finalStateRows(lastQ)
    assert(rows >= 0 && rows <= 2,
      s"state store holds $rows rows — replayed duplicates pinned state")
  }

  test("droppedByWatermark surfaces the silent late-row drop boundary") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingIngest.Ev
    def ts(s: String) = Timestamp.valueOf(s)
    val out = tmpDir("late-obs-out") + "/sessions"
    val ckpt = tmpDir("late-obs-ckpt")
    val mem = MemoryStream[Ev]
    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = StreamingIngest.sessionizeWithState(mem.toDS(),
          lateness = "10 minutes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    // advance the watermark to ~11:50, then send an event from 10:00 —
    // 100 minutes late against a 10-minute bound. The operator never
    // sees it (silent drop), but the progress metric must count it.
    mem.addData(Ev(1L, ts("2024-01-01 12:00:00")))
    val q1 = run()
    assert(StreamingIngest.droppedByWatermark(q1) === 0L)
    mem.addData(Ev(2L, ts("2024-01-01 10:00:00")),
      Ev(1L, ts("2024-01-01 12:01:00")))
    val q2 = run()
    assert(StreamingIngest.droppedByWatermark(q2) >= 1L,
      "the late row was dropped without appearing in the watermark metric")
  }

  test("streaming group-sequential monitor: per-trigger looks match the " +
      "exact cumulative z/boundary arithmetic and a crossing latches " +
      "the stopped flag") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingIngest.GsEv
    def ts(day: Int) = new Timestamp(day.toLong * 86400000L)
    val out = tmpDir("gs-out") + "/looks"
    val ckpt = tmpDir("gs-ckpt")
    val mem = MemoryStream[GsEv]
    def run(): Unit = {
      val q = StreamingIngest.groupSequentialStream(mem.toDS(), maxN = 400L)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def arm(n: Int, k: Int, treated: Long, day: Int): Seq[GsEv] =
      (1 to n).map(i =>
        GsEv("E", treated, if (i <= k) 1L else 0L, ts(day)))
    // look 1: balanced, identical rates -> z = 0, far under the early
    // (wide) boundary 2.04/sqrt(0.25) = 4.08
    mem.addData(arm(50, 10, 1L, 1) ++ arm(50, 10, 0L, 1): _*); run()
    // look 2: strong treatment effect -> cumulative z ~ 9.4 crosses the
    // t=0.75 boundary 2.355; the monitor must latch stopped
    mem.addData(arm(100, 90, 1L, 2) ++ arm(100, 10, 0L, 2): _*); run()
    // look 3: more balanced data; decision already made -> stopped=true
    mem.addData(arm(50, 25, 1L, 3) ++ arm(50, 25, 0L, 3): _*); run()
    val got = spark.read.parquet(out).as[StreamingIngest.GsLook]
      .collect().sortBy(_.look)
    assert(got.map(_.look).toSeq === Seq(1L, 2L, 3L))
    // reference arithmetic, computed independently here
    def zRef(n1: Long, k1: Long, n0: Long, k0: Long): Double = {
      val p1 = k1.toDouble / n1; val p0 = k0.toDouble / n0
      val pp = (k1 + k0).toDouble / (n1 + n0)
      (p1 - p0) / math.sqrt(pp * (1 - pp) * (1.0 / n1 + 1.0 / n0))
    }
    def bRef(n: Long): Double =
      2.04 / math.sqrt(math.min(1.0, n.toDouble / 400.0))
    val l1 = got(0)
    assert(l1.n_cum === 100L && l1.z_stat === zRef(50, 10, 50, 10) &&
      l1.obf_boundary === bRef(100) && !l1.crossed && !l1.stopped)
    val l2 = got(1)
    assert(l2.n_cum === 300L &&
      l2.z_stat === zRef(150, 100, 150, 20) &&
      l2.obf_boundary === bRef(300) && l2.crossed && l2.stopped)
    val l3 = got(2)
    assert(l3.n_cum === 400L &&
      l3.z_stat === zRef(200, 125, 200, 45) &&
      l3.obf_boundary === bRef(400) && l3.stopped,
      s"decision must stay latched after the crossing: $l3")
    assert(got.forall(!_.closed))
  }

  test("group-sequential monitor: an idle experiment is closed by " +
      "event-time timeout exactly once and its state is freed") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import StreamingIngest.GsEv
    def ts(day: Int) = new Timestamp(day.toLong * 86400000L)
    val out = tmpDir("gs-churn-out") + "/looks"
    val ckpt = tmpDir("gs-churn-ckpt")
    val mem = MemoryStream[GsEv]
    var lastQ: org.apache.spark.sql.streaming.StreamingQuery = null
    def run(): Unit = {
      val q = StreamingIngest.groupSequentialStream(mem.toDS(),
          maxN = 100L, idleTtlMs = 10L * 86400000L, lateness = "1 day")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); lastQ = q
    }
    // F gets one balanced look on day 1, then goes silent; E's later
    // events advance the watermark past F's day-11 deadline
    mem.addData(GsEv("F", 1L, 1L, ts(1)), GsEv("F", 0L, 0L, ts(1))); run()
    mem.addData(GsEv("E", 1L, 1L, ts(20)), GsEv("E", 0L, 1L, ts(20))); run()
    mem.addData(GsEv("E", 1L, 0L, ts(21)), GsEv("E", 0L, 0L, ts(21))); run()
    val rows = spark.read.parquet(out).as[StreamingIngest.GsLook].collect()
    val fClosed = rows.filter(r => r.experiment == "F" && r.closed)
    assert(fClosed.length === 1,
      s"exactly one closing row for the idle experiment, got: ${rows.toSeq}")
    assert(fClosed.head.n_cum === 2L && !fClosed.head.crossed)
    // E stays live (never closed), F's state is gone: at most E remains
    assert(rows.filter(r => r.experiment == "E").forall(!_.closed))
    val held = finalStateRows(lastQ)
    assert(held >= 0 && held <= 1,
      s"state store holds $held rows — the idle experiment was not freed")
  }

  test("streaming Page-Hinkley sink: per-type fold equals a sequential " +
      "replay, alarms at the injected drift, replayed batch is a no-op, " +
      "late hours are dropped and counted") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tmpDir("ph-out")
    val state = tmpDir("ph-state") + "/_ph.json"
    val ck = tmpDir("ph-ck")
    val mem = MemoryStream[(String, Timestamp)]
    val events = mem.toDF().toDF("event_type", "ts")
    def hr(i: Int): Timestamp = Timestamp.from(
      java.time.Instant.parse(f"2026-01-01T$i%02d:00:00Z"))
    def rows(tpe: String, hour: Int, n: Int) = Seq.fill(n)((tpe, hr(hour)))
    // type a: 6 quiet hours (2 events) then 6 hot hours (40) — the
    // increase side must alarm (lambda = 25); type b: flat 5s — never
    mem.addData((0 until 6).flatMap(h =>
      rows("a", h, 2) ++ rows("b", h, 5)): _*)
    val q1 = StreamingIngest.phDriftSink(events, spark, out, state, ck)
      .start()
    q1.awaitTermination()
    mem.addData((6 until 12).flatMap(h =>
      rows("a", h, 40) ++ rows("b", h, 5)): _*)
    val q2 = StreamingIngest.phDriftSink(events, spark, out, state, ck)
      .start()
    q2.awaitTermination()
    val fin = spark.read.parquet(out).collect()
      .filter(_.getAs[Long]("batch_id") == 1L)
      .map(r => r.getAs[String]("event_type") -> r).toMap
    // independent sequential replay over the FOLDED hours (hour 11
    // stays pending until a later hour arrives)
    def replay(cs: Seq[Long]): (Double, Double, Option[Int]) = {
      var p = 0L; var ci = 0L; var cd = 0L; var mni = 0L; var mxd = 0L
      var mxi = 0L; var mxdc = 0L; var alarm: Option[Int] = None
      cs.zipWithIndex.foreach { case (c, i) =>
        val t = i + 1; p += c
        ci += math.floor((c - p.toDouble / t - 0.5) * 1e9 + 0.5).toLong
        cd += math.floor((c - p.toDouble / t + 0.5) * 1e9 + 0.5).toLong
        mni = if (t == 1) ci else math.min(mni, ci)
        mxd = if (t == 1) cd else math.max(mxd, cd)
        mxi = math.max(mxi, ci - mni)
        mxdc = math.max(mxdc, mxd - cd)
        if (alarm.isEmpty && ci - mni > 25L * 1000000000L) alarm = Some(i)
      }
      (mxi / 1e9, mxdc / 1e9, alarm)
    }
    val (ea, _, alarmA) = replay(Seq.fill(6)(2L) ++ Seq.fill(5)(40L))
    val ra = fin("a")
    assert(ra.getAs[Long]("n_hours") == 11L)
    assert(math.abs(ra.getAs[Double]("max_ph_increase") - ea) < 1e-9,
      s"a: engine ${ra.getAs[Double]("max_ph_increase")} vs replay $ea")
    assert(ra.getAs[Boolean]("drift_flag"))
    assert(alarmA.isDefined)
    assert(ra.getAs[String]("first_alarm_up") ==
      f"2026-01-01 ${alarmA.get}%02d:00:00")
    val rb = fin("b")
    assert(!rb.getAs[Boolean]("drift_flag"))
    assert(rb.getAs[Long]("n_hours") == 11L)
    assert(rb.getAs[String]("first_alarm_up") == null)
    // replayed batchId must not re-fold into the state
    val before = StreamingIngest.phStates.read(state)
    StreamingIngest.phBatch(spark, out, state,
      Seq(("a", hr(3))).toDF("event_type", "ts"), batchId = 0L)
    assert(StreamingIngest.phStates.read(state) == before,
      "replayed batchId must be a no-op")
    // an hour below the pending hour is dropped and counted
    StreamingIngest.phBatch(spark, out, state,
      Seq(("a", hr(2))).toDF("event_type", "ts"), batchId = 2L)
    val (_, st) = StreamingIngest.phStates.read(state)
    assert(st("a").late == 1L && st("a").nh == 11L)
  }

  test("streaming CUSUM sink: burn-in freezes the reference, the " +
      "one-sided folds equal a sequential replay, the level shift " +
      "alarms, replayed batch is a no-op, state stays O(types)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tmpDir("cs-out")
    val state = tmpDir("cs-state") + "/_cs.json"
    val ck = tmpDir("cs-ck")
    val mem = MemoryStream[(String, Timestamp)]
    val events = mem.toDF().toDF("event_type", "ts")
    def hr(i: Int): Timestamp = Timestamp.from(
      java.time.Instant.parse(f"2026-01-01T$i%02d:00:00Z"))
    def rows(tpe: String, hour: Int, n: Int) = Seq.fill(n)((tpe, hr(hour)))
    // type a: 6 quiet hours (2 events) establish mu0 = 2, then 6 hot
    // hours (40) -> CU+ grows 37.5/hour, crossing h = 25 at the first
    // scored hot hour; type b: flat 5s -> mu0 = 5, never alarms
    mem.addData((0 until 6).flatMap(h =>
      rows("a", h, 2) ++ rows("b", h, 5)): _*)
    val q1 = StreamingIngest.cusumSink(events, spark, out, state, ck)
      .start()
    q1.awaitTermination()
    mem.addData((6 until 12).flatMap(h =>
      rows("a", h, 40) ++ rows("b", h, 5)): _*)
    val q2 = StreamingIngest.cusumSink(events, spark, out, state, ck)
      .start()
    q2.awaitTermination()
    val fin = spark.read.parquet(out).collect()
      .filter(_.getAs[Long]("batch_id") == 1L)
      .map(r => r.getAs[String]("event_type") -> r).toMap
    // sequential replay of the folded hours (hour 11 stays pending):
    // first 6 estimate mu0, the rest score
    def replay(cs: Seq[Long]): (Double, Double, Double, Option[Int]) = {
      val mu0q = math.floor(
        cs.take(6).sum.toDouble / 6 * 1e9 + 0.5).toLong
      var cu = 0L; var cd = 0L; var mxu = 0L; var mxd = 0L
      var alarm: Option[Int] = None
      cs.drop(6).zipWithIndex.foreach { case (c, i) =>
        cu = math.max(0L, cu + (c * 1000000000L - mu0q - 500000000L))
        cd = math.max(0L, cd + (mu0q - c * 1000000000L - 500000000L))
        mxu = math.max(mxu, cu); mxd = math.max(mxd, cd)
        if (alarm.isEmpty && cu > 25L * 1000000000L) alarm = Some(i + 6)
      }
      (mu0q / 1e9, mxu / 1e9, mxd / 1e9, alarm)
    }
    val (mu0A, mxuA, _, alarmA) =
      replay(Seq.fill(6)(2L) ++ Seq.fill(5)(40L))
    val ra = fin("a")
    assert(ra.getAs[Long]("n_hours") == 11L)
    assert(math.abs(ra.getAs[Double]("mu0") - mu0A) < 1e-9)
    assert(math.abs(ra.getAs[Double]("max_cusum_up") - mxuA) < 1e-9,
      s"a: engine ${ra.getAs[Double]("max_cusum_up")} vs replay $mxuA")
    assert(ra.getAs[Boolean]("shift_flag"))
    assert(alarmA.isDefined)
    assert(ra.getAs[String]("first_alarm_up") ==
      f"2026-01-01 ${alarmA.get}%02d:00:00")
    val rb = fin("b")
    assert(!rb.getAs[Boolean]("shift_flag"))
    assert(math.abs(rb.getAs[Double]("mu0") - 5.0) < 1e-9)
    assert(rb.getAs[Double]("max_cusum_up") == 0.0)
    assert(rb.getAs[String]("first_alarm_up") == null)
    // replayed batchId must not re-fold
    val before = StreamingIngest.csStates.read(state)
    StreamingIngest.csBatch(spark, out, state,
      Seq(("a", hr(3))).toDF("event_type", "ts"), batchId = 0L)
    assert(StreamingIngest.csStates.read(state) == before,
      "replayed batchId must be a no-op")
    // a late hour is dropped and counted; state rows stay O(types)
    StreamingIngest.csBatch(spark, out, state,
      Seq(("a", hr(2))).toDF("event_type", "ts"), batchId = 2L)
    val (_, st) = StreamingIngest.csStates.read(state)
    assert(st("a").late == 1L && st("a").nh == 11L)
    assert(st.size == 2)
  }

  test("streaming space-saving sink: both Metwally invariants hold " +
      "against an exact recount, every above-threshold user is " +
      "tracked, state is bounded at k, replayed batch is a no-op") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tmpDir("ss-out")
    val state = tmpDir("ss-state") + "/_ss.json"
    val ck = tmpDir("ss-ck")
    val mem = MemoryStream[(Long, String)]
    val events = mem.toDF().toDF("user_id", "event_type")
    // skewed stream over >k distinct users: 1 and 2 dominate, a long
    // tail of 12 singletons forces evictions
    def burst(u: Long, n: Int) = Seq.fill(n)((u, "click"))
    val b1 = burst(1L, 30) ++ burst(2L, 12) ++
      (10L to 15L).flatMap(u => burst(u, 2))
    val b2 = burst(1L, 20) ++ burst(2L, 18) ++ burst(3L, 9) ++
      (16L to 21L).flatMap(u => burst(u, 1))
    mem.addData(b1: _*)
    val q1 = StreamingIngest.spaceSavingSink(events, spark, out, state,
      ck).start()
    q1.awaitTermination()
    mem.addData(b2: _*)
    val q2 = StreamingIngest.spaceSavingSink(events, spark, out, state,
      ck).start()
    q2.awaitTermination()
    val truth = (b1 ++ b2).groupBy(_._1).map { case (u, xs) =>
      u -> xs.size.toLong }
    val n = (b1 ++ b2).size.toLong
    val fin = spark.read.parquet(out).collect()
      .filter(_.getAs[Long]("batch_id") == 1L)
    assert(fin.forall(_.getAs[String]("event_type") == "click"))
    assert(fin.length <= 8, "state must stay bounded at k counters")
    assert(fin.map(_.getAs[Long]("n_events")).distinct.toSeq == Seq(n))
    // invariant 1: est - err <= true <= est for every tracked user
    fin.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val est = r.getAs[Long]("est_count")
      val err = r.getAs[Long]("err_bound")
      val t = truth.getOrElse(u, 0L)
      assert(est - err <= t && t <= est,
        s"user $u: true $t outside [${est - err}, $est]")
      assert(r.getAs[Long]("guaranteed_min") == est - err)
    }
    // invariant 2: every user above n/k is tracked
    val tracked = fin.map(_.getAs[Long]("user_id")).toSet
    truth.filter(_._2 > n / 8).keys.foreach(u =>
      assert(tracked.contains(u), s"heavy user $u not tracked"))
    // ranking is est desc, user asc
    val ranked = fin.sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("est_count"), r.getAs[Long]("user_id")))
    assert(ranked.sortBy(x => (-x._1, x._2)).toSeq == ranked.toSeq)
    // replayed batchId must not re-fold
    val before = StreamingIngest.ssStates.read(state)
    StreamingIngest.ssBatch(spark, out, state,
      Seq((1L, "click")).toDF("user_id", "event_type"), batchId = 0L)
    assert(StreamingIngest.ssStates.read(state) == before,
      "replayed batchId must be a no-op")
  }

  test("streaming EWMA chart sink: the quantized level/variance folds " +
      "equal a sequential replay, a step change alarms once after " +
      "warm-up and the chart re-adapts, replayed batch is a no-op, " +
      "state stays O(types)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tmpDir("ew-out")
    val state = tmpDir("ew-state") + "/_ew.json"
    val ck = tmpDir("ew-ck")
    val mem = MemoryStream[(String, Timestamp)]
    val events = mem.toDF().toDF("event_type", "ts")
    def hr(i: Int): Timestamp = Timestamp.from(
      java.time.Instant.parse(f"2026-01-01T$i%02d:00:00Z"))
    def rows(tpe: String, hour: Int, n: Int) = Seq.fill(n)((tpe, hr(hour)))
    // type a: 8 noisy-flat hours (3/5 alternating), then a 40-event
    // step; type b: constant 4s — zero variance, zero alarms
    val aCounts = Seq(3, 5, 3, 5, 3, 5, 3, 5)
    mem.addData((0 until 8).flatMap(h =>
      rows("a", h, aCounts(h)) ++ rows("b", h, 4)): _*)
    val q1 = StreamingIngest.ewmaChartSink(events, spark, out, state, ck)
      .start()
    q1.awaitTermination()
    mem.addData((8 until 12).flatMap(h =>
      rows("a", h, 40) ++ rows("b", h, 4)): _*)
    val q2 = StreamingIngest.ewmaChartSink(events, spark, out, state, ck)
      .start()
    q2.awaitTermination()
    val fin = spark.read.parquet(out).collect()
      .filter(_.getAs[Long]("batch_id") == 1L)
      .map(r => r.getAs[String]("event_type") -> r).toMap
    // sequential replay with the sink's own quantization; hour 11
    // stays pending, so the folded series is hours 0..10
    def replay(cs: Seq[Long])
        : (Long, Double, Double, Long, Option[Int]) = {
      var nh = 0L; var eq = 0L; var vq = 0L; var na = 0L
      var af: Option[Int] = None
      cs.zipWithIndex.foreach { case (c, i) =>
        if (nh == 0) { nh = 1; eq = c * 1000000000L; vq = 0L }
        else {
          val e = eq / 1e9
          val dev = c - e
          val alarm = nh >= 6 && math.abs(dev) > 3.0 * math.sqrt(vq / 1e4)
          eq = math.floor(0.2 * c * 1e9 + 0.8 * eq + 0.5).toLong
          vq = math.floor(0.2 * dev * dev * 1e4 + 0.8 * vq + 0.5).toLong
          nh += 1
          if (alarm) { na += 1; if (af.isEmpty) af = Some(i) }
        }
      }
      (nh, eq / 1e9, math.sqrt(vq / 1e4), na, af)
    }
    val aSeries = aCounts.map(_.toLong) ++ Seq(40L, 40L, 40L)
    val (nhA, ewA, sgA, naA, afA) = replay(aSeries)
    val ra = fin("a")
    assert(ra.getAs[Long]("n_hours") == nhA && nhA == 11L)
    assert(math.abs(ra.getAs[Double]("ewma") - ewA) < 1e-9)
    assert(math.abs(ra.getAs[Double]("sigma") - sgA) < 1e-9)
    assert(ra.getAs[Long]("n_alarms") == naA)
    // the step hour alarms once; the chart then re-adapts (variance
    // absorbs the step) instead of alarming forever — the property
    // that distinguishes it from the frozen-baseline CUSUM
    assert(naA == 1L && afA.contains(8))
    assert(ra.getAs[String]("first_alarm") == "2026-01-01 08:00:00")
    val rb = fin("b")
    assert(rb.getAs[Long]("n_alarms") == 0L)
    assert(rb.getAs[String]("first_alarm") == null)
    assert(math.abs(rb.getAs[Double]("ewma") - 4.0) < 1e-9)
    // replayed batchId must not re-fold
    val before = StreamingIngest.ewStates.read(state)
    StreamingIngest.ewBatch(spark, out, state,
      Seq(("a", hr(3))).toDF("event_type", "ts"), batchId = 0L)
    assert(StreamingIngest.ewStates.read(state) == before,
      "replayed batchId must be a no-op")
    // a late hour is dropped and counted; state rows stay O(types)
    StreamingIngest.ewBatch(spark, out, state,
      Seq(("a", hr(2))).toDF("event_type", "ts"), batchId = 2L)
    val (_, st) = StreamingIngest.ewStates.read(state)
    assert(st("a").late == 1L && st("a").nh == 11L)
    assert(st.size == 2)
  }

  test("streaming histogram-quantile sink: running p50/p90/p99 equal " +
      "a batch rank-pick over the same folded counts, quantiles are " +
      "monotone, the clamp bucket is exported, replayed batch is a " +
      "no-op, and the crash window appends a bit-identical duplicate " +
      "verdict while state stays exactly-once") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tmpDir("hq-out")
    val state = tmpDir("hq-state") + "/_hq.json"
    val ck = tmpDir("hq-ck")
    val mem = MemoryStream[(String, Double)]
    val events = mem.toDF().toDF("event_type", "value")
    // type a: 1..100 units, then 101..150 plus one far-out-of-grid
    // value (clamps); type b: constant 7.5 — degenerate distribution
    val b1 = (1 to 100).map(i => ("a", i + 0.25)) ++
      Seq.fill(10)(("b", 7.5))
    val b2 = (101 to 150).map(i => ("a", i + 0.25)) ++
      Seq(("a", 9999.0)) ++ Seq.fill(5)(("b", 7.5))
    mem.addData(b1: _*)
    val q1 = StreamingIngest.histogramQuantileSink(events, spark, out,
      state, ck).start()
    q1.awaitTermination()
    mem.addData(b2: _*)
    val q2 = StreamingIngest.histogramQuantileSink(events, spark, out,
      state, ck).start()
    q2.awaitTermination()
    // batch rank-pick over the SAME bucketing of all folded values
    def bucket(v: Double): Int =
      math.min(math.max(
        math.floor(math.floor(v * 100 + 0.5) / 100.0), 0.0), 511.0).toInt
    def brute(vs: Seq[Double], num: Long, den: Long): Double = {
      val bs = Array.fill(512)(0L)
      vs.foreach(v => bs(bucket(v)) += 1)
      var cum = 0L
      var b = 0
      while (b < 512) {
        cum += bs(b)
        if (cum * den >= num * vs.size) return (b + 1) * 1.0
        b += 1
      }
      512.0
    }
    val allRows = spark.read.parquet(out).collect()
    def row(bid: Long, tpe: String) = allRows
      .filter(r => r.getAs[Long]("batch_id") == bid &&
        r.getAs[String]("event_type") == tpe).head
    // after batch 0: only b1's values folded
    val aVals1 = b1.filter(_._1 == "a").map(_._2)
    val r0 = row(0L, "a")
    assert(r0.getAs[Long]("n_events") == aVals1.size.toLong)
    assert(r0.getAs[Double]("p50_le") == brute(aVals1, 1L, 2L))
    assert(r0.getAs[Double]("p90_le") == brute(aVals1, 9L, 10L))
    assert(r0.getAs[Double]("p99_le") == brute(aVals1, 99L, 100L))
    // after batch 1: cumulative over both micro-batches
    val aVals = aVals1 ++ b2.filter(_._1 == "a").map(_._2)
    val r1 = row(1L, "a")
    assert(r1.getAs[Long]("n_events") == aVals.size.toLong)
    assert(r1.getAs[Double]("p50_le") == brute(aVals, 1L, 2L))
    assert(r1.getAs[Double]("p90_le") == brute(aVals, 9L, 10L))
    assert(r1.getAs[Double]("p99_le") == brute(aVals, 99L, 100L))
    assert(r1.getAs[Double]("p50_le") <= r1.getAs[Double]("p90_le") &&
      r1.getAs[Double]("p90_le") <= r1.getAs[Double]("p99_le"))
    // the 9999.0 value clamped into the last bucket — and is VISIBLE
    assert(r0.getAs[Long]("n_overflow") == 0L)
    assert(r1.getAs[Long]("n_overflow") == 1L)
    // degenerate type: every quantile is the one occupied bucket's edge
    val rb = row(1L, "b")
    assert(rb.getAs[Double]("p50_le") == 8.0 &&
      rb.getAs[Double]("p99_le") == 8.0)
    // replayed batchId must not re-fold
    val before = StreamingIngest.hqStates.read(state)
    StreamingIngest.hqBatch(spark, out, state,
      Seq(("a", 50.25)).toDF("event_type", "value"), batchId = 0L)
    assert(StreamingIngest.hqStates.read(state) == before,
      "replayed batchId must be a no-op")
    // crash window: verdict appended, state write lost -> the replay
    // re-folds from the OLD state and appends a bit-identical duplicate
    // verdict row; state lands exactly where the single fold put it
    val stateBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(state))
    val dfCrash = Seq(("a", 50.25)).toDF("event_type", "value")
    StreamingIngest.hqBatch(spark, out, state, dfCrash, batchId = 2L)
    val afterOnce = StreamingIngest.hqStates.read(state)
    java.nio.file.Files.write(java.nio.file.Paths.get(state), stateBytes)
    StreamingIngest.hqBatch(spark, out, state, dfCrash, batchId = 2L)
    assert(StreamingIngest.hqStates.read(state) == afterOnce,
      "state must be exactly-once under the batch cursor")
    val dup = spark.read.parquet(out).collect()
      .filter(r => r.getAs[Long]("batch_id") == 2L &&
        r.getAs[String]("event_type") == "a")
    assert(dup.length == 2, "at-least-once verdict: duplicate appended")
    assert(dup.map(_.toString).distinct.length == 1,
      "duplicate verdict rows must be bit-identical")
    // state stays O(types)
    assert(afterOnce._2.size == 2)
    // NULL values are counted and exported, never clamped into bucket
    // 0 (pre-seal review r18: greatest/least skip NULLs silently)
    val preNull = StreamingIngest.hqStates.read(state)._2("a")
    StreamingIngest.hqBatch(spark, out, state,
      Seq(("a", Option(50.25)), ("a", Option.empty[Double]))
        .toDF("event_type", "value"), batchId = 3L)
    val postNull = StreamingIngest.hqStates.read(state)._2("a")
    assert(postNull.nulls == preNull.nulls + 1)
    assert(postNull.n == preNull.n + 1, "only the non-null row folds")
    assert(postNull.buckets.head == preNull.buckets.head,
      "bucket 0 must not absorb the NULL")
    val nullRow = spark.read.parquet(out).collect()
      .filter(r => r.getAs[Long]("batch_id") == 3L &&
        r.getAs[String]("event_type") == "a").head
    assert(nullRow.getAs[Long]("n_null") == 1L)
    // below-grid values are counted into the exported n_underflow and
    // never folded into bucket 0 — the symmetric twin of the clamp
    // bucket (r18 advice #2)
    val preNeg = StreamingIngest.hqStates.read(state)._2("a")
    StreamingIngest.hqBatch(spark, out, state,
      Seq(("a", -3.25), ("a", 50.25)).toDF("event_type", "value"),
      batchId = 4L)
    val postNeg = StreamingIngest.hqStates.read(state)._2("a")
    assert(postNeg.under == preNeg.under + 1)
    assert(postNeg.n == preNeg.n + 1, "only the in-grid row folds")
    assert(postNeg.buckets.head == preNeg.buckets.head,
      "bucket 0 must not absorb the negative")
    val negRow = spark.read.parquet(out).collect()
      .filter(r => r.getAs[Long]("batch_id") == 4L &&
        r.getAs[String]("event_type") == "a").head
    assert(negRow.getAs[Long]("n_underflow") == 1L)
    // a type whose only events so far are NULL-valued reports NULL
    // quantiles with n_events = 0 — never a fabricated "p99 <= 1.0"
    // a monitor could read as real (r18 advice #1)
    StreamingIngest.hqBatch(spark, out, state,
      Seq(("c", Option.empty[Double])).toDF("event_type", "value"),
      batchId = 5L)
    val cRow = spark.read.parquet(out).collect()
      .filter(r => r.getAs[Long]("batch_id") == 5L &&
        r.getAs[String]("event_type") == "c").head
    assert(cRow.getAs[Long]("n_events") == 0L &&
      cRow.getAs[Long]("n_null") == 1L)
    Seq("p50_le", "p90_le", "p99_le").foreach { c =>
      assert(cRow.isNullAt(cRow.fieldIndex(c)),
        s"$c must be NULL when no value has folded")
    }
  }

  test("histogram-quantile state layout: a legacy [n, nulls, b0..] " +
      "file (written before the underflow counter) migrates with " +
      "under = 0 and unshifted buckets, resumes folding correctly, " +
      "and a malformed length fails loudly instead of shifting") {
    import spark.implicits._
    val out = tmpDir("hqm-out")
    val state = tmpDir("hqm-state") + "/_hq.json"
    // hand-write the pre-underflow 514-long layout: n = 3, nulls = 1,
    // buckets = [2, 0, 1, 0, ..., 0] (two in bucket 0, one in bucket 2)
    val legacyBuckets = 2L +: 0L +: 1L +: Seq.fill(509)(0L)
    val legacyVec = (3L +: 1L +: legacyBuckets).mkString(", ")
    java.nio.file.Files.write(java.nio.file.Paths.get(state),
      s"""{"lastBatch": 0, "types": [{"t": "a", "v": [$legacyVec]}]}"""
        .getBytes("UTF-8"))
    val (last, st) = StreamingIngest.hqStates.read(state)
    assert(last == 0L)
    val a = st("a")
    assert(a.n == 3L && a.nulls == 1L && a.under == 0L,
      "legacy layout must decode with under = 0, not eat bucket 0")
    assert(a.buckets.length == 512)
    assert(a.buckets(0) == 2L && a.buckets(2) == 1L,
      "buckets must not shift down by one on a legacy read")
    // resuming on the migrated state folds and round-trips the NEW
    // layout — including a clamp-bucket fold, the index that would
    // have thrown out-of-bounds on a blind shifted read
    StreamingIngest.hqBatch(spark, out, state,
      Seq(("a", 2.25), ("a", -1.0), ("a", 99999.0))
        .toDF("event_type", "value"), batchId = 1L)
    val resumed = StreamingIngest.hqStates.read(state)._2("a")
    assert(resumed.n == 5L && resumed.nulls == 1L && resumed.under == 1L)
    assert(resumed.buckets(2) == 2L && resumed.buckets(511) == 1L)
    // any other vector length is a loud failure, never a silent shift
    java.nio.file.Files.write(java.nio.file.Paths.get(state),
      """{"lastBatch": 0, "types": [{"t": "a", "v": [1, 2, 3]}]}"""
        .getBytes("UTF-8"))
    val ex = intercept[RuntimeException] { StreamingIngest.hqStates.read(state) }
    assert(ex.getMessage.contains("histogram-quantile state"))
  }

  test("histogram-quantile OUTPUT layout: appending onto a verdict " +
      "table written before the underflow counter fails loudly (a " +
      "plain read of a mixed-schema directory silently drops columns), " +
      "while a current-layout table keeps appending") {
    import spark.implicits._
    val out = tmpDir("hqo-out")
    val state = tmpDir("hqo-state") + "/_hq.json"
    // hand-write a pre-underflow verdict table (no n_underflow column)
    Seq((0L, "a", 3L, 0L, 1.0, 2.0, 3.0, 0L))
      .toDF("batch_id", "event_type", "n_events", "n_null",
        "p50_le", "p90_le", "p99_le", "n_overflow")
      .coalesce(1).write.mode("overwrite").parquet(out)
    val ex = intercept[RuntimeException] {
      StreamingIngest.hqBatch(spark, out, state,
        Seq(("a", 1.25)).toDF("event_type", "value"), batchId = 0L)
    }
    assert(ex.getMessage.contains("n_underflow"),
      "old-layout output must be rejected by name, not mixed into")
    // the state must not have advanced past the refused append
    assert(StreamingIngest.hqStates.read(state)._1 == -1L,
      "a refused append must not consume the batch id")
    // a current-layout table (or a fresh path) appends normally
    val out2 = tmpDir("hqo-out2")
    StreamingIngest.hqBatch(spark, out2, state,
      Seq(("a", 1.25)).toDF("event_type", "value"), batchId = 0L)
    StreamingIngest.hqBatch(spark, out2, state,
      Seq(("a", 2.25)).toDF("event_type", "value"), batchId = 1L)
    assert(spark.read.parquet(out2).count() == 2L)
  }

  test("min-k KMV estimate: a full sample whose k-th hash is exactly " +
      "zero falls back to the sample length instead of dividing by " +
      "zero (every-denominator-guarded discipline)") {
    // k = 128 all-zero-hash pairs: degenerate by construction (the md5
    // path makes this ~2^-60 per user, but the guard is uniform)
    val zeroSample = (1L to 128L).map(u => (0L, u)).toVector
    val est = StreamingIngest.mkEstimate(zeroSample)
    assert(!est.isInfinite && !est.isNaN)
    assert(est == 128.0, "fallback is the sample length, the same " +
      "degraded-but-finite reading the below-k branch gives")
  }

  test("streaming Bloom novelty sink: novelty is exact against a set " +
      "replay on the small fixture, the rate weights EVENTS not " +
      "users, and cumulative counters advance") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tmpDir("bn-out")
    val state = tmpDir("bn-state") + "/_bn.json"
    val ck = tmpDir("bn-ck")
    val mem = MemoryStream[(String, Long)]
    val events = mem.toDF().toDF("event_type", "user_id")
    // batch 0: type a = users 1..50 with TWO events each; type b =
    // users 1..10 once. batch 1: type a = users 26..75 once each
    // (25 seen, 25 novel — the filter is at fill ~0.003, so the set
    // replay is exact with overwhelming deterministic margin).
    val b1 = (1L to 50L).flatMap(u => Seq(("a", u), ("a", u))) ++
      (1L to 10L).map(u => ("b", u))
    val b2 = (26L to 75L).map(u => ("a", u))
    mem.addData(b1: _*)
    val q1 = StreamingIngest.bloomNoveltySink(events, spark, out,
      state, ck).start()
    q1.awaitTermination()
    mem.addData(b2: _*)
    val q2 = StreamingIngest.bloomNoveltySink(events, spark, out,
      state, ck).start()
    q2.awaitTermination()
    val rows = spark.read.parquet(out).collect()
    def row(bid: Long, tpe: String) = rows.filter(r =>
      r.getAs[Long]("batch_id") == bid &&
        r.getAs[String]("event_type") == tpe).head
    val a0 = row(0L, "a")
    assert(a0.getAs[Long]("batch_events") == 100L)
    assert(a0.getAs[Long]("batch_novel_events") == 100L)
    assert(a0.getAs[Double]("novelty_rate") == 1.0,
      "an empty filter makes every event novel")
    assert(a0.getAs[Long]("batch_users") == 50L &&
      a0.getAs[Long]("batch_novel_users") == 50L)
    assert(a0.getAs[Long]("novel_users_total") == 50L)
    assert(a0.getAs[Double]("fp_bound") == 0.0,
      "the pre-batch filter was empty — no false positive possible")
    val a1 = row(1L, "a")
    assert(a1.getAs[Long]("batch_users") == 50L)
    assert(a1.getAs[Long]("batch_novel_users") == 25L,
      "exactly the 25 unseen users are novel (set-replay exact)")
    assert(a1.getAs[Long]("batch_novel_events") == 25L)
    assert(a1.getAs[Double]("novelty_rate") == 0.5)
    assert(a1.getAs[Long]("novel_users_total") == 75L)
    assert(a1.getAs[Long]("n_events") == 150L)
    // type b untouched by batch 1 but still reported, with zero batch
    // activity and NULL rate (guarded denominator)
    val b1r = row(1L, "b")
    assert(b1r.getAs[Long]("batch_events") == 0L)
    assert(b1r.isNullAt(b1r.fieldIndex("novelty_rate")))
    assert(b1r.getAs[Long]("novel_users_total") == 10L)
  }

  test("streaming Bloom novelty sink: fill ratio tracks the 1-e^(-kn/m) " +
      "prediction at the calibration scale, the fp bound is the " +
      "pre-batch fill to the 4th, and a false positive can only " +
      "undercount novelty") {
    import spark.implicits._
    val out = tmpDir("bnc-out")
    val state = tmpDir("bnc-state") + "/_bn.json"
    // batch 0: 2000 distinct users; batch 1: 1000 seen + 1000 new
    StreamingIngest.bnBatch(spark, out, state,
      (1L to 2000L).map(u => ("big", u)).toDF("event_type", "user_id"),
      batchId = 0L)
    StreamingIngest.bnBatch(spark, out, state,
      (1001L to 3000L).map(u => ("big", u)).toDF("event_type", "user_id"),
      batchId = 1L)
    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("batch_id") -> r).toMap
    val r0 = rows(0L); val r1 = rows(1L)
    def predFill(n: Long): Double =
      1.0 - math.exp(-4.0 * n / 65536.0)
    assert(math.abs(r0.getAs[Double]("fill_ratio") - predFill(2000)) < 0.01,
      s"fill ${r0.getAs[Double]("fill_ratio")} vs ${predFill(2000)}")
    assert(math.abs(r1.getAs[Double]("fill_ratio") - predFill(3000)) < 0.012)
    // fp bound: the PRE-batch fill (batch 0's exported post-fill) ^ 4
    val f0 = r0.getAs[Double]("fill_ratio")
    assert(math.abs(r1.getAs[Double]("fp_bound") - math.pow(f0, 4)) < 1e-5)
    // exact novelty is 1000; false positives (bound 1.75e-4 per new
    // user, deterministic for fixed ids) can only undercount
    val bnu = r1.getAs[Long]("batch_novel_users")
    assert(bnu <= 1000L && bnu >= 998L,
      s"novel $bnu vs exact 1000 under fp bound " +
        s"${r1.getAs[Double]("fp_bound")}")
    assert(r1.getAs[Long]("batch_novel_events") == bnu)
  }

  test("streaming Bloom novelty sink: NULL users are counted and " +
      "never hashed, replayed batch ids are no-ops, the crash window " +
      "appends a bit-identical duplicate verdict, the bit-OR fold is " +
      "idempotent, and an unknown state layout fails loudly") {
    import spark.implicits._
    val out = tmpDir("bnr-out")
    val state = tmpDir("bnr-state") + "/_bn.json"
    StreamingIngest.bnBatch(spark, out, state,
      (Seq(("a", Option(1L)), ("a", Option(2L)),
        ("a", Option.empty[Long]))).toDF("event_type", "user_id"),
      batchId = 0L)
    val (last0, st0) = StreamingIngest.bnStates.read(state)
    assert(last0 == 0L)
    assert(st0("a").n == 2L && st0("a").nulls == 1L,
      "only non-null users fold; the NULL is counted")
    assert(st0("a").novel == 2L)
    // replayed batch id: no-op
    StreamingIngest.bnBatch(spark, out, state,
      Seq(("a", 99L)).toDF("event_type", "user_id"), batchId = 0L)
    assert(StreamingIngest.bnStates.read(state)._2("a").n == 2L)
    // crash window: verdict appended, state write lost → replay from
    // the OLD state appends a bit-identical duplicate verdict row
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(state))
    val dfC = Seq(("a", 3L)).toDF("event_type", "user_id")
    StreamingIngest.bnBatch(spark, out, state, dfC, batchId = 1L)
    val afterOnce = StreamingIngest.bnStates.read(state)
    java.nio.file.Files.write(java.nio.file.Paths.get(state), bytes)
    StreamingIngest.bnBatch(spark, out, state, dfC, batchId = 1L)
    assert(StreamingIngest.bnStates.read(state) == afterOnce,
      "state must be exactly-once under the batch cursor")
    val dup = spark.read.parquet(out).collect()
      .filter(r => r.getAs[Long]("batch_id") == 1L)
    assert(dup.length == 2 &&
      dup.map(_.toString).distinct.length == 1,
      "at-least-once verdicts, bit-identical duplicates")
    // OR idempotence: refolding the SAME users under a NEW batch id
    // leaves the filter words byte-identical and reports zero novelty
    val wordsBefore = StreamingIngest.bnStates.read(state)._2("a").words
    StreamingIngest.bnBatch(spark, out, state,
      Seq(("a", 1L), ("a", 2L), ("a", 3L)).toDF("event_type", "user_id"),
      batchId = 2L)
    val after = StreamingIngest.bnStates.read(state)._2("a")
    assert(after.words == wordsBefore,
      "bit-OR of already-present users must not change the filter")
    val r2 = spark.read.parquet(out).collect()
      .filter(r => r.getAs[Long]("batch_id") == 2L).head
    assert(r2.getAs[Long]("batch_novel_users") == 0L &&
      r2.getAs[Double]("novelty_rate") == 0.0)
    // layout guard: an unknown version or length fails loudly
    java.nio.file.Files.write(java.nio.file.Paths.get(state),
      """{"lastBatch": 2, "types": [{"t": "a", "v": [2, 0, 0, 0]}]}"""
        .getBytes("UTF-8"))
    val ex = intercept[RuntimeException] { StreamingIngest.bnStates.read(state) }
    assert(ex.getMessage.contains("bloom-novelty state"))
  }

  test("streaming HLL cardinality sink: registers equal an exact " +
      "md5-path replay, estimates land inside 3 standard errors of " +
      "the true distinct counts in BOTH regimes (linear counting and " +
      "raw), the fold is merge-idempotent, and replayed batch is a " +
      "no-op") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tmpDir("hll-out")
    val state = tmpDir("hll-state") + "/_hll.json"
    val ck = tmpDir("hll-ck")
    val mem = MemoryStream[(String, Long)]
    val events = mem.toDF().toDF("event_type", "user_id")
    // "big" exercises the raw-estimate regime, "small" the
    // linear-counting correction; batch 2 overlaps batch 1 so the
    // merge (register max) is what produces the union count
    val b1 = (1L to 1200L).map(u => ("big", u)) ++
      (1L to 30L).map(u => ("small", u))
    val b2 = (601L to 2000L).map(u => ("big", u)) ++
      (1L to 30L).map(u => ("small", u))
    mem.addData(b1: _*)
    val q1 = StreamingIngest.hllCardinalitySink(events, spark, out,
      state, ck).start()
    q1.awaitTermination()
    mem.addData(b2: _*)
    val q2 = StreamingIngest.hllCardinalitySink(events, spark, out,
      state, ck).start()
    q2.awaitTermination()
    // exact replay of the register path: md5 hex -> first 15 chars ->
    // 60-bit long -> (low 8 = register, high 52 = rank word)
    def regsOf(users: Seq[Long]): Vector[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      users.foldLeft(Vector.fill(256)(0L)) { (acc, u) =>
        val hex = md.digest(u.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
        val reg = (h % 256L).toInt
        val w = h / 256L
        val rho =
          if (w > 0) 53L - (64 - java.lang.Long.numberOfLeadingZeros(w))
          else 53L
        acc.updated(reg, math.max(acc(reg), rho))
      }
    }
    val (_, st) = StreamingIngest.hllStates.read(state)
    val trueBig = ((1L to 1200L) ++ (601L to 2000L)).distinct
    assert(st("big").regs == regsOf(trueBig),
      "big registers must equal the exact md5-path replay")
    assert(st("small").regs == regsOf((1L to 30L).toSeq))
    assert(st("big").n == b1.count(_._1 == "big") +
      b2.count(_._1 == "big"))
    // estimates vs truth, both regimes: 3 standard errors of HLL's
    // rsd 1.04/sqrt(256) = 6.5% -> 19.5%
    val fin = spark.read.parquet(out).collect()
      .filter(_.getAs[Long]("batch_id") == 1L)
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val estBig = fin("big").getAs[Double]("est_distinct")
    assert(math.abs(estBig - 2000.0) / 2000.0 < 0.195,
      s"big estimate $estBig vs true 2000")
    val estSmall = fin("small").getAs[Double]("est_distinct")
    assert(math.abs(estSmall - 30.0) / 30.0 < 0.195,
      s"small estimate $estSmall vs true 30 (linear counting)")
    // linear-counting regime proof: small still has zero registers
    assert(fin("small").getAs[Long]("n_zero_regs") > 0L)
    // merge idempotence: folding batch 2's users again cannot move
    // any register (max-merge), independent of the batch cursor
    assert(regsOf(trueBig ++ (601L to 2000L)) == regsOf(trueBig))
    // replayed batchId must not re-fold state (n_events would double)
    val before = StreamingIngest.hllStates.read(state)
    StreamingIngest.hllBatch(spark, out, state,
      Seq(("big", 1L)).toDF("event_type", "user_id"), batchId = 0L)
    assert(StreamingIngest.hllStates.read(state) == before,
      "replayed batchId must be a no-op")
    assert(before._2.size == 2, "state stays O(types)")
    // NULL user ids are counted and exported, never hashed (pre-seal
    // review r18: md5(NULL) would crash the long fold)
    StreamingIngest.hllBatch(spark, out, state,
      Seq(("big", Option(5L)), ("big", Option.empty[Long]))
        .toDF("event_type", "user_id"), batchId = 2L)
    val (_, st2) = StreamingIngest.hllStates.read(state)
    assert(st2("big").nulls == 1L && st2("big").n == before._2("big").n + 1)
    assert(st2("big").regs == regsOf(trueBig :+ 5L))
    val nullRow = spark.read.parquet(out).collect()
      .filter(r => r.getAs[Long]("batch_id") == 2L &&
        r.getAs[String]("event_type") == "big").head
    assert(nullRow.getAs[Long]("n_null") == 1L)
  }

  test("streaming min-k sample sink: the sample equals the exact " +
      "bottom-k md5 replay, below-k types report the EXACT count, " +
      "THREE estimators agree on one stream (exact vs KMV within " +
      "3/sqrt(k), vs the HLL sink's estimate), the fold is " +
      "merge-idempotent, replay is a no-op, and the crash window " +
      "appends a bit-identical duplicate verdict") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tmpDir("mk-out")
    val state = tmpDir("mk-state") + "/_mk.json"
    val ck = tmpDir("mk-ck")
    val hllOut = tmpDir("mkhll-out")
    val hllState = tmpDir("mkhll-state") + "/_hll.json"
    val hllCk = tmpDir("mkhll-ck")
    val mem = MemoryStream[(String, Long)]
    val events = mem.toDF().toDF("event_type", "user_id")
    // "big" exceeds k = 128 (KMV estimator regime), "small" stays
    // below it (exact regime); batch 2 overlaps batch 1 so the
    // union-keep-k-smallest merge is what produces the final sample
    val b1 = (1L to 1200L).map(u => ("big", u)) ++
      (1L to 30L).map(u => ("small", u))
    val b2 = (601L to 2000L).map(u => ("big", u)) ++
      (1L to 30L).map(u => ("small", u))
    mem.addData(b1: _*)
    StreamingIngest.minKSampleSink(events, spark, out, state, ck)
      .start().awaitTermination()
    mem.addData(b2: _*)
    StreamingIngest.minKSampleSink(events, spark, out, state, ck)
      .start().awaitTermination()
    // independent md5-path replay: bottom-128 distinct users by the
    // 60-bit hash, ties (impossible cross-user here) by user id
    def h60(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def bottomK(users: Seq[Long]): Seq[(Long, Long)] =
      users.distinct.map(u => (h60(u), u)).sorted.take(128)
    val trueBig = ((1L to 1200L) ++ (601L to 2000L)).distinct
    val (_, st) = StreamingIngest.mkStates.read(state)
    assert(st("big").sample == bottomK(trueBig).toVector,
      "big sample must equal the exact md5-path bottom-k replay")
    assert(st("small").sample == bottomK(1L to 30L).toVector)
    assert(st("big").n == b1.count(_._1 == "big") +
      b2.count(_._1 == "big"))
    val fin = spark.read.parquet(out).collect()
      .filter(_.getAs[Long]("batch_id") == 1L)
      .map(r => r.getAs[String]("event_type") -> r).toMap
    // exact regime: the sample IS the distinct set and says so
    val smallRow = fin("small")
    assert(smallRow.getAs[Long]("n_sample") == 30L)
    assert(smallRow.getAs[Boolean]("sample_is_exact"))
    assert(smallRow.getAs[Double]("kmv_estimate") == 30.0)
    assert(smallRow.getSeq[Long](smallRow.fieldIndex("sample_users"))
      .toSet == (1L to 30L).toSet)
    // estimator regime: (k-1)/h_(k) inside the 3/sqrt(k) = 0.265 band
    // pinned by the r19 calibration prototype
    val bigRow = fin("big")
    assert(bigRow.getAs[Long]("n_sample") == 128L)
    assert(!bigRow.getAs[Boolean]("sample_is_exact"))
    val kmv = bigRow.getAs[Double]("kmv_estimate")
    assert(math.abs(kmv - 2000.0) / 2000.0 < 0.265,
      s"KMV estimate $kmv vs true 2000")
    // the sample rides in the verdict row, in hash order
    assert(bigRow.getSeq[Long](bigRow.fieldIndex("sample_users"))
      .toSeq == bottomK(trueBig).map(_._2))
    // three-estimator cross-check on the SAME stream: exact, KMV, and
    // the HLL sink each land within their own bands of the truth
    val mem2 = MemoryStream[(String, Long)]
    val ev2 = mem2.toDF().toDF("event_type", "user_id")
    mem2.addData((b1 ++ b2): _*)
    StreamingIngest.hllCardinalitySink(ev2, spark, hllOut, hllState,
      hllCk).start().awaitTermination()
    val hllEst = spark.read.parquet(hllOut).collect()
      .filter(r => r.getAs[String]("event_type") == "big")
      .head.getAs[Double]("est_distinct")
    assert(math.abs(hllEst - 2000.0) / 2000.0 < 0.195,
      s"HLL $hllEst vs true 2000")
    assert(math.abs(kmv - hllEst) / 2000.0 < 0.265 + 0.195,
      "the two sketch estimates must agree within their joint bands")
    // merge idempotence: re-folding already-seen users cannot move the
    // sample, independent of the batch cursor
    assert(StreamingIngest.mkMerge(st("big").sample,
      bottomK((601L to 2000L).toSeq)) == st("big").sample)
    // replayed batchId must not re-fold (counters would double)
    val before = StreamingIngest.mkStates.read(state)
    StreamingIngest.mkBatch(spark, out, state,
      Seq(("big", 1L)).toDF("event_type", "user_id"), batchId = 0L)
    assert(StreamingIngest.mkStates.read(state) == before,
      "replayed batchId must be a no-op")
    // crash window: verdict appended, state write lost -> the replay
    // re-folds from the OLD state and appends a bit-identical
    // duplicate verdict row; state lands exactly where one fold put it
    val stateBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(state))
    val dfCrash = Seq(("big", Option(9999L)),
      ("big", Option.empty[Long])).toDF("event_type", "user_id")
    StreamingIngest.mkBatch(spark, out, state, dfCrash, batchId = 2L)
    val afterOnce = StreamingIngest.mkStates.read(state)
    java.nio.file.Files.write(java.nio.file.Paths.get(state), stateBytes)
    StreamingIngest.mkBatch(spark, out, state, dfCrash, batchId = 2L)
    assert(StreamingIngest.mkStates.read(state) == afterOnce,
      "state must be exactly-once under the batch cursor")
    val dup = spark.read.parquet(out).collect()
      .filter(r => r.getAs[Long]("batch_id") == 2L &&
        r.getAs[String]("event_type") == "big")
    assert(dup.length == 2, "at-least-once verdict: duplicate appended")
    assert(dup.map(_.toString).distinct.length == 1,
      "duplicate verdict rows must be bit-identical")
    // NULL user ids are counted and exported, never hashed
    assert(afterOnce._2("big").nulls == 1L)
    assert(afterOnce._2("big").n == before._2("big").n + 1)
    val nullRow2 = spark.read.parquet(out).collect()
      .filter(r => r.getAs[Long]("batch_id") == 2L &&
        r.getAs[String]("event_type") == "big").head
    assert(nullRow2.getAs[Long]("n_null") == 1L)
    // state stays O(types) and the sample never exceeds k
    assert(afterOnce._2.size == 2)
    assert(afterOnce._2.values.forall(_.sample.length <= 128))
  }

  test("state files in the earlier hand-written layout decode to the " +
      "same state: ucb arms, srm counts, space-saving counters, a long " +
      "vector with an escaped type name, and the bucketed watermark") {
    val dir = tmpDir("state-compat")
    def file(name: String, body: String): String = {
      val p = Paths.get(dir, name)
      Files.writeString(p, body)
      p.toString
    }
    val ucb = file("_ucb.json", """{"lastBatch": 4, "arms": [""" +
      """{"arm": "A", "n": 20, "q": 4000, "mx": 200}, """ +
      """{"arm": "B", "n": 31, "q": 700, "mx": 100}]}""")
    assert(StreamingIngest.ucbState.read(ucb) === ((4L,
      Map("A" -> ((20L, 4000L, 200L)), "B" -> ((31L, 700L, 100L))))))
    val srm = file("_srm.json",
      """{"lastBatch": 2, "train": 398, "valid": 51, "test": 51}""")
    assert(StreamingIngest.srmState.read(srm) === ((2L, (398L, 51L, 51L))))
    val ss = file("_ss.json", """{"lastBatch": 1, "types": [""" +
      """{"t": "click", "n": 12, "c": [[7, 5, 0], [3, 4, 1]]}, """ +
      """{"t": "q\"t", "n": 1, "c": [[9, 1, 0]]}]}""")
    assert(StreamingIngest.ssStates.read(ss) === ((1L, Map(
      "click" -> StreamingIngest.SsState(12L, List((7L, 5L, 0L), (3L, 4L, 1L))),
      "q\"t" -> StreamingIngest.SsState(1L, List((9L, 1L, 0L)))))))
    val ew = file("_ew.json", """{"lastBatch": 3, "types": [""" +
      """{"t": "a\\b\"c", "v": [7, 4000000000, 12000, 1, """ +
      """1767225600000000, 1767247200000000, 5, 2]}, """ +
      """{"t": "view", "v": [1, 3000000000, 0, 0, -1, -1, 0, 0]}]}""")
    assert(StreamingIngest.ewStates.read(ew) === ((3L, Map(
      "a\\b\"c" -> StreamingIngest.EwState(7L, 4000000000L, 12000L, 1L,
        1767225600000000L, 1767247200000000L, 5L, 2L),
      "view" -> StreamingIngest.EwState(1L, 3000000000L, 0L, 0L, -1L, -1L,
        0L, 0L)))))
    val wm = file("fps._watermark.json",
      """{"cutoff": 1704067200000, "lastPrune": 1704063600000}""")
    assert(StreamingIngest.watermark.read(wm) ===
      Some((1704067200000L, 1704063600000L)))
    // and each decoded state survives the codec's own write unchanged
    def roundTrip[S](st: StreamingIngest.JsonState[S], path: String): Unit = {
      val before = st.read(path)
      st.write(path, before)
      assert(st.read(path) === before, path)
    }
    roundTrip(StreamingIngest.ucbState, ucb)
    roundTrip(StreamingIngest.srmState, srm)
    roundTrip(StreamingIngest.ssStates, ss)
    roundTrip(StreamingIngest.ewStates, ew)
    roundTrip(StreamingIngest.watermark, wm)
  }

  test("sink crash between verdict append and state write: the replay " +
      "appends a DUPLICATE verdict row for the same (batch_id, " +
      "event_type) — the at-least-once contract documented at the " +
      "shared codec — while state stays exactly-once under the cursor") {
    import spark.implicits._
    val out = tmpDir("ew-dup-out") + "/verdicts"
    val state = tmpDir("ew-dup-state") + "/_ew.json"
    def hr(i: Int): Timestamp = Timestamp.from(
      java.time.Instant.parse(f"2026-02-01T$i%02d:00:00Z"))
    val b0 = (0 until 4).flatMap(h => Seq.fill(h + 2)(("a", hr(h))))
      .toDF("event_type", "ts")
    StreamingIngest.ewBatch(spark, out, state, b0, batchId = 0L)
    val sp = java.nio.file.Paths.get(state)
    val pre = java.nio.file.Files.readAllBytes(sp)
    val b1 = (4 until 8).flatMap(h => Seq.fill(3)(("a", hr(h))))
      .toDF("event_type", "ts")
    StreamingIngest.ewBatch(spark, out, state, b1, batchId = 1L)
    val post = java.nio.file.Files.readAllBytes(sp)
    // simulate the crash window: batch 1's verdict reached the output
    // but the state write was lost — restore pre-batch state, replay
    java.nio.file.Files.write(sp, pre)
    StreamingIngest.ewBatch(spark, out, state, b1, batchId = 1L)
    assert(java.nio.file.Files.readAllBytes(sp).sameElements(post),
      "a replayed fold from the restored state must reach the " +
        "identical state (exactly-once statistics)")
    val rows = spark.read.parquet(out).collect()
      .filter(r => r.getAs[Long]("batch_id") == 1L &&
        r.getAs[String]("event_type") == "a")
    assert(rows.length == 2,
      "the crash window must duplicate the verdict row, not lose it")
    // the duplicate is bit-identical, so the documented dedupe key
    // recovers the single verdict
    assert(rows.map(_.toString).distinct.length == 1)
    assert(spark.read.parquet(out)
      .dropDuplicates("batch_id", "event_type").count() == 2L)
  }
}
