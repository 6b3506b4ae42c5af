package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.{EnvelopeReader, Pipeline}
import graft.util.Fs

/** Structured Streaming realization of the incremental machinery
  * (SURVEY.md §2.8): the reference's page-checkpoint/watermark tables map
  * onto the streaming checkpoint's offset/commit logs, and its per-page
  * transactional commit onto an idempotent foreachBatch upsert.
  *
  *   reference concept               → streaming equivalent
  *   watermark table (+1 s excl.)    → source offsets in checkpointLocation
  *   page checkpoint / resume        → file-source offset log
  *   per-page commit (ref :352-353)  → foreachBatch + versioned upsert sink
  *   60 d late-data window           → withWatermark delayThreshold
  *
  * Every sink below is one `drain` trigger over a batch function. The
  * monitor sinks fold through `cursorFold` into a `JsonState` file; the
  * dedup sinks through `ownerDedup` into a state directory.
  *
  * At scale the file source is swapped for Kafka/event-hub; every transform
  * below is source-agnostic.
  */
object StreamingIngest {

  /** Streaming decode of envelope page files landing in `dir` — the
    * streaming twin of EnvelopeReader.entities. */
  def pageStream(spark: SparkSession, dir: String, entityField: String,
                 itemWrapper: String, itemSchema: StructType): DataFrame =
    spark.readStream
      .schema(EnvelopeReader.envelopeSchema(entityField, itemWrapper, itemSchema))
      .option("maxFilesPerTrigger", 10)
      .json(dir)
      .filter(col("_corrupt").isNull && col("retorno.status") === "OK")
      .select(explode(col(s"retorno.$entityField")).as("it"))
      .select(col(s"it.$itemWrapper.*"))

  /** The trigger every sink runs: drain what the source holds now
    * (AvailableNow), in append mode, through `fold(batch, batchId)`, with
    * the source offsets in `checkpoint`. */
  private def drain(stream: DataFrame, checkpoint: String)(
      fold: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(fold)

  // ---- JSON state files and the cursor-guarded fold -----------------------

  private val Json = new ObjectMapper()

  /** A sink's JSON state file: `fresh` while the file is absent, else the
    * `decode` of its one object. `write` replaces the file with the object
    * `encode` fills, atomically (Fs.replace), so a crash leaves the old
    * state or the new one, never a torn file. */
  private[graft] final class JsonState[S](fresh: S, decode: JsonNode => S,
      encode: (ObjectNode, S) => Unit) {
    def read(path: String): S = {
      val f = Paths.get(path)
      if (Files.exists(f)) decode(Json.readTree(f.toFile)) else fresh
    }

    def write(path: String, s: S): Unit = {
      val o = Json.createObjectNode()
      encode(o, s)
      Fs.replace(Paths.get(path), Json.writeValueAsString(o))
    }
  }

  /** A state behind a batch cursor: (lastBatch, state), (-1, fresh) when
    * the file is absent; the cursor is the object's "lastBatch" field. */
  private def cursored[S](fresh: S)(decode: JsonNode => S)(
      encode: (ObjectNode, S) => Unit): JsonState[(Long, S)] =
    new JsonState[(Long, S)]((-1L, fresh),
      j => (j.required("lastBatch").asLong, decode(j)),
      { case (o, (last, s)) => encode(o.put("lastBatch", last), s) })

  /** Per-key states under the array `list`: one object per key, the key
    * in its field `key`, written in key order. */
  private def keyed[S](list: String, key: String)(
      decode: (String, JsonNode) => S)(encode: (ObjectNode, S) => Unit) =
    cursored(Map.empty[String, S]) { j =>
      j.required(list).elements.asScala.map { e =>
        val k = e.required(key).asText
        k -> decode(k, e)
      }.toMap
    } { (o, m) =>
      val a = o.putArray(list)
      m.toSeq.sortBy(_._1).foreach { case (k, s) =>
        encode(a.addObject().put(key, k), s)
      }
    }

  /** Per-event-type long vectors: {"t": type, "v": [...]} under "types". */
  private def longVecs[S](decode: (String, Array[Long]) => S)(
      encode: S => Seq[Long]) =
    keyed[S]("types", "t") { (t, e) =>
      decode(t, e.required("v").elements.asScala.map(_.asLong).toArray)
    } { (o, s) =>
      val v = o.putArray("v")
      encode(s).foreach(x => v.add(x))
    }

  /** The fields of an all-Long state, in declaration order. */
  private def longs(s: Product): Seq[Long] =
    s.productIterator.map(_.asInstanceOf[Long]).toSeq

  /** The cursor-guarded fold every monitor sink runs per micro-batch:
    * read the state; skip a batch id the cursor already passed (a
    * replayed trigger); fold the batch into the state and its verdict
    * rows; append the rows, if any; write the state with the batch id as
    * the new cursor.
    *
    * Ordering contract: the verdict append PRECEDES the state write, so a
    * crash between the two re-folds the batch on replay from the old
    * state and appends its verdict rows a SECOND time, bit-identical.
    * State (and therefore every statistic) is exactly-once by the cursor;
    * the verdict TABLE is at-least-once, and readers dedupe on the natural
    * key each sink emits: (batch_id, event_type), or batch_id for the
    * one-row-per-trigger sinks (ucb, srm). The ordering is deliberate: a
    * written state with MISSING output would drop a verdict forever, while
    * a duplicate row is recoverable by its key. Pinned by the
    * duplicate-verdict replay cases in StreamingSpec. */
  private def cursorFold[S](state: JsonState[(Long, S)], statePath: String,
      outPath: String, batchId: Long)(
      fold: S => (S, Option[DataFrame])): Unit = {
    val (last, s0) = state.read(statePath)
    if (batchId > last) {
      val (s1, verdicts) = fold(s0)
      verdicts.foreach(_.coalesce(1).write.mode("append").parquet(outPath))
      state.write(statePath, (batchId, s1))
    }
  }

  // ---- table sinks ---------------------------------------------------------

  /** Idempotent incremental sink: each micro-batch is upserted into the
    * target table by natural key through `Pipeline.mergeInto` — deduped
    * per key inside the write plan (a micro-batch is not key-unique), then
    * committed as one versioned delta append; read the target with
    * `Pipeline.readTable`. Re-delivered batches change no resolved row —
    * the foreachBatch exactly-once recipe. */
  def incrementalSink(stream: DataFrame, spark: SparkSession,
                      targetPath: String, keys: Seq[String],
                      checkpoint: String): DataStreamWriter[Row] =
    drain(stream, checkpoint) { (batch, _) =>
      Pipeline.mergeInto(spark, targetPath, batch, keys): Unit
    }

  /** Streaming data-quality observation — the streaming twin of
    * GovernanceOps.x_dq_expectations' single-scan rule family, attached
    * with `observe()`: Spark evaluates the rule aggregates INSIDE the
    * existing micro-batch pass (no second scan, no state store) and
    * reports them per trigger in `StreamingQueryProgress.observedMetrics
    * ("dq")`. This is the idiomatic place for streaming expectations —
    * a violation spike is visible in the progress feed the trigger it
    * happens, without touching the data path; `dqViolations` below
    * extracts the counters. Referential rules are absent by design:
    * they need the other table and belong to the batch suite (or a
    * stream-static join upstream of this observe). */
  def dqObservedOrders(orders: DataFrame): DataFrame =
    orders.observe("dq",
      count(lit(1)).as("n_rows"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_null"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v_range"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
        .otherwise(0L)).as("v_set"))

  /** Per-rule violation counters from the LAST trigger that carried the
    * "dq" observation (name → count). Empty map before any data. */
  def dqViolations(
      q: org.apache.spark.sql.streaming.StreamingQuery): Map[String, Long] =
    q.recentProgress.toSeq.reverse
      .flatMap(p => Option(p.observedMetrics.get("dq")))
      .headOption.map { row =>
        row.schema.fieldNames.map(f =>
          f -> row.getAs[Long](row.fieldIndex(f))).toMap
      }.getOrElse(Map.empty)

  /** Event-time tumbling window aggregation with late-data watermark —
    * the streaming twin of EventOps.x_window_hourly. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("n"), col("sum_value"))

  /** Gap-based session windows — the streaming twin of EventOps
    * x_sessionize (session_window is the built-in replacement for a
    * flatMapGroupsWithState custom-state implementation). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))

  /** Streaming maintenance of a materialized aggregate: every micro-batch
    * folds its rows into the (key, sum, n) table via IncrementalAgg's
    * exact DECIMAL partials — a continuously fresh dashboard aggregate
    * whose cost per trigger is O(batch), not O(history). Exactly-once in
    * effect: the offset log ensures each file folds once. */
  def aggSink(stream: DataFrame, spark: SparkSession, tablePath: String,
              keyCol: String, valueCol: String,
              checkpoint: String): DataStreamWriter[Row] =
    drain(stream, checkpoint) { (batch, _) =>
      graft.etl.IncrementalAgg.refresh(
        spark, tablePath, batch, keyCol, valueCol): Unit
    }

  /** Streaming maintenance of the materialized frequency sketch
    * (SketchMaintenance): each micro-batch's keys fold into the stored
    * Count-Min sketch in O(sketch) — continuously fresh approximate
    * per-key frequencies over the whole ingest history, probed with
    * graft_cms_probe and never rescanning it. */
  def sketchSink(stream: DataFrame, spark: SparkSession, sketchPath: String,
                 keyCol: String,
                 checkpoint: String): DataStreamWriter[Row] =
    drain(stream, checkpoint) { (batch, _) =>
      graft.etl.SketchMaintenance.refresh(spark, sketchPath, batch, keyCol)
    }

  // ---- streaming UCB bandit sink -------------------------------------------

  /** Streaming twin of x_ucb_allocation — the form a bandit actually
    * runs in: per micro-batch the arms' pull counts and cent-quantized
    * reward sums fold into an O(arms) cumulative state (JSON beside the
    * decision table, behind the `cursorFold` batch cursor), and ONE
    * decision row per trigger names the arm UCB1 would allocate next —
    * mean/qvmax + √(2·ln N/n), the same arithmetic as the batch op on the
    * same exact integers. A crash between the decision append and the
    * state write appends a bit-identical duplicate row for the same
    * batch_id on replay; readers take the last row per batch_id. Arms
    * never expire (a bandit's history IS its state) but the key space is
    * the event-type enum — bounded by construction, so no TTL is needed
    * to bound state. */
  def ucbSink(events: DataFrame, spark: SparkSession, outPath: String,
              statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    drain(events, checkpoint)(ucbBatch(spark, outPath, statePath, _, _))

  /** (lastBatch, arm -> (n, qsum, qmax)): {"arm", "n", "q", "mx"} objects
    * under "arms". */
  private[graft] val ucbState = keyed[(Long, Long, Long)]("arms", "arm") {
    (_, e) =>
      (e.required("n").asLong, e.required("q").asLong,
        e.required("mx").asLong)
  } { case (o, (n, q, mx)) => o.put("n", n).put("q", q).put("mx", mx): Unit }

  private[graft] def ucbBatch(spark: SparkSession, outPath: String,
      statePath: String, batch: DataFrame, batchId: Long): Unit =
    cursorFold(ucbState, statePath, outPath, batchId) { st0 =>
      val batchAgg = batch
        .select(col("event_type").as("arm"),
          floor(col("value") * 100 + 0.5).cast("long").as("qv"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("qv")).as("q"),
          max(col("qv")).as("mx"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val st1 = (st0.keySet ++ batchAgg.keySet).map { a =>
        val (n0, q0, m0) = st0.getOrElse(a, (0L, 0L, 0L))
        val (n1, q1, m1) = batchAgg.getOrElse(a, (0L, 0L, 0L))
        a -> ((n0 + n1, q0 + q1, math.max(m0, m1)))
      }.toMap
      // an empty micro-batch on fresh state has no arms to score: no
      // decision row, but the cursor still advances
      (st1, Option.when(st1.nonEmpty) {
        val nn = st1.values.map(_._1).sum
        val qvmax = st1.values.map(_._3).max
        val scored = st1.toSeq.map { case (a, (n, q, _)) =>
          // qvmax == 0 means every observed reward quantized to zero (all
          // values < 0.005): the empirical means are all 0, not 0/0.
          val mean = if (qvmax == 0L) 0.0 else q.toDouble / (n * qvmax)
          (a, n, mean, mean + math.sqrt(2.0 * math.log(nn.toDouble) / n))
        }
        // deterministic argmax: highest ucb, ties to the lex-smaller arm
        val best = scored.minBy { case (a, _, _, u) => (-u, a) }
        import spark.implicits._
        Seq((batchId, nn, best._1, best._4, scored.size))
          .toDF("batch_id", "n_pulls_total", "allocate_arm", "best_ucb",
            "n_arms")
      })
    }

  // ---- streaming Page–Hinkley drift sink ------------------------------------

  // Same constants as the batch op (EventOps x_page_hinkley): δ = 0.5
  // tolerated per-hour drift, λ = 25 events in 1e9 fixed point.
  private val PhDelta = 0.5
  private val PhQLambda = 25L * 1000000000L

  /** Per-type Page–Hinkley fold state. nh = folded hours; p = folded
    * count sum; ci/cd = cumulative 1e9-quantized deviation sums
    * (increase/decrease sides); mni/mxd = their running extrema;
    * mxi/mxdc = max PH statistics seen; au/ad = first alarm hour
    * (epoch micros, -1 = none); pendH/pendC = the newest,
    * possibly-still-filling hour — folded only once a LATER hour
    * arrives for the type (the zero-delay-watermark finalization rule,
    * so a micro-batch boundary inside an hour never splits one
    * observation into two); late = dropped out-of-order hour rows. */
  private[graft] case class PhState(nh: Long, p: Long, ci: Long, cd: Long,
      mni: Long, mxd: Long, mxi: Long, mxdc: Long, au: Long, ad: Long,
      pendH: Long, pendC: Long, late: Long)

  private[graft] val phEmpty =
    PhState(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, -1L, -1L, -1L, 0L, 0L)

  /** Streaming twin of x_page_hinkley: the sequential mean-drift
    * detector run ON the ingest per event type, instead of over the
    * finished hourly table — PH is the stream-mining algorithm, so this
    * is its native form. Each micro-batch's (type, hour) counts fold
    * into an O(types) state with EXACTLY the batch op's arithmetic
    * (per-hour term x − P/t ∓ δ quantized to 1e9 fixed point before the
    * cumulative sums; running extrema compared as integers), and one
    * verdict row per type is appended per trigger so a monitor sees the
    * drift flag flip at the alarm hour, not at end-of-day. Crash/replay
    * contract: `cursorFold`'s. State is O(event types); per-batch cost is
    * one grouped count of the batch. Hours arriving out of order (below
    * the pending hour) are dropped and counted in late_hours — the
    * withWatermark drop semantic, made visible. */
  def phDriftSink(events: DataFrame, spark: SparkSession, outPath: String,
                  statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    drain(events, checkpoint)(phBatch(spark, outPath, statePath, _, _))

  /** Pending-hour advance shared by the PH, CUSUM and EWMA-chart folds:
    * fill the pending hour, fold it when a later hour opens, drop (and
    * count) out-of-order hours — the zero-delay-watermark finalization
    * rule. */
  private def advancePending[S](s: S, h: Long, c: Long,
      pend: S => (Long, Long),
      setPend: (S, Long, Long) => S,
      countLate: S => S,
      fold: (S, Long, Long) => S): S = {
    val (ph, pc) = pend(s)
    if (ph < 0) setPend(s, h, c)
    else if (h == ph) setPend(s, ph, pc + c)
    else if (h < ph) countLate(s)
    else setPend(fold(s, ph, pc), h, c)
  }

  /** Hourly collect-and-fold driver of the per-type monitor sinks (PH /
    * CUSUM / EWMA chart): ONE grouped count of the micro-batch, then each
    * type's (hour, count) observations fold in ascending hour order
    * through the sink's advance function. The collect is O(types ×
    * hours-in-batch) — bounded by the trigger interval, not the corpus. */
  private def foldHourly[S](batch: DataFrame, st0: Map[String, S],
      empty: S, advance: (S, Long, Long) => S): Map[String, S] = {
    val hourly = batch
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).cast("long").as("c"))
      .collect()
      .map(r => (r.getString(0),
        r.getAs[java.sql.Timestamp]("h").getTime * 1000L, r.getLong(2)))
    hourly.groupBy(_._1).foldLeft(st0) { case (acc, (tpe, obs)) =>
      val folded = obs.sortBy(_._2).foldLeft(acc.getOrElse(tpe, empty)) {
        case (s, (_, h, c)) => advance(s, h, c)
      }
      acc.updated(tpe, folded)
    }
  }

  /** (lastBatch, type -> PhState), the fields as one long vector. */
  private[graft] val phStates = longVecs[PhState] { (_, v) =>
    PhState(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9),
      v(10), v(11), v(12))
  }(longs)

  /** One PH step — the batch op's per-row arithmetic verbatim. */
  private def phFold(s: PhState, h: Long, c: Long): PhState = {
    val t = s.nh + 1
    val p = s.p + c
    val qi = math.floor((c - p.toDouble / t - PhDelta) * 1e9 + 0.5).toLong
    val qd = math.floor((c - p.toDouble / t + PhDelta) * 1e9 + 0.5).toLong
    val ci = s.ci + qi
    val cd = s.cd + qd
    val mni = if (t == 1) ci else math.min(s.mni, ci)
    val mxd = if (t == 1) cd else math.max(s.mxd, cd)
    val phi = ci - mni
    val phd = mxd - cd
    PhState(t, p, ci, cd, mni, mxd,
      math.max(s.mxi, phi), math.max(s.mxdc, phd),
      if (s.au >= 0) s.au else if (phi > PhQLambda) h else -1L,
      if (s.ad >= 0) s.ad else if (phd > PhQLambda) h else -1L,
      s.pendH, s.pendC, s.late)
  }

  private def phAdvance(s: PhState, h: Long, c: Long): PhState =
    advancePending[PhState](s, h, c, st => (st.pendH, st.pendC),
      (st, hh, cc) => st.copy(pendH = hh, pendC = cc),
      st => st.copy(late = st.late + 1), phFold)

  private def phFmt(micros: Long): String =
    if (micros < 0) null
    else java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(micros / 1000000L))

  private[graft] def phBatch(spark: SparkSession, outPath: String,
      statePath: String, batch: DataFrame, batchId: Long): Unit =
    cursorFold(phStates, statePath, outPath, batchId) { st0 =>
      val st1 = foldHourly(batch, st0, phEmpty, phAdvance)
      import spark.implicits._
      (st1, Option.when(st1.nonEmpty) {
        st1.toSeq.sortBy(_._1).map { case (tpe, s) =>
          (batchId, tpe, s.nh, s.mxi / 1e9, s.mxdc / 1e9,
            s.mxi > PhQLambda || s.mxdc > PhQLambda,
            phFmt(s.au), phFmt(s.ad), s.late)
        }.toDF("batch_id", "event_type", "n_hours", "max_ph_increase",
          "max_ph_decrease", "drift_flag", "first_alarm_up",
          "first_alarm_down", "late_hours")
      })
    }

  // ---- streaming CUSUM level-shift sink -------------------------------------

  // Tabular (decision-interval) CUSUM: the reference mean μ0 is FROZEN
  // after the first CusumBurn folded hours (burn-in estimates only, it
  // never feeds the statistic), then CU⁺/CU⁻ accumulate max(0, ·) of
  // the ±(x − μ0 ∓ k) deviations. k = 0.5 per-hour slack and h = 25
  // events decision interval are the Page–Hinkley constants, so the
  // two detectors are directly comparable on the same stream: PH
  // tracks drift against the RUNNING prefix mean (adapts, detects
  // slow drifts late), tabular CUSUM against a FROZEN baseline
  // (detects any sustained level shift, never adapts to it).
  private val CusumBurn = 6L
  private val CusumKQ = 500000000L // 0.5 in 1e9 fixed point
  private val CusumHQ = 25L * 1000000000L

  /** Per-type tabular-CUSUM fold state. nh = folded hours (incl.
    * burn-in); bn/bs = burn-in hour count and count sum; mu0q = frozen
    * reference in 1e9 fixed point (-1 while burning in); cu/cd =
    * one-sided CUSUM statistics; mxu/mxdn = their running maxima;
    * au/ad = first alarm hour (epoch micros, -1 none); pendH/pendC/
    * late = the phDriftSink pending-hour finalization contract. */
  private[graft] case class CsState(nh: Long, bn: Long, bs: Long,
      mu0q: Long, cu: Long, cd: Long, mxu: Long, mxdn: Long,
      au: Long, ad: Long, pendH: Long, pendC: Long, late: Long)

  private[graft] val csEmpty =
    CsState(0L, 0L, 0L, -1L, 0L, 0L, 0L, 0L, -1L, -1L, -1L, 0L, 0L)

  private def csFold(s: CsState, h: Long, c: Long): CsState =
    if (s.mu0q < 0) {
      val bn = s.bn + 1; val bs = s.bs + c
      s.copy(nh = s.nh + 1, bn = bn, bs = bs,
        mu0q = if (bn < CusumBurn) -1L
          else math.floor(bs.toDouble / bn * 1e9 + 0.5).toLong)
    } else {
      val t = s.nh + 1
      val xq = c * 1000000000L
      val cu = math.max(0L, s.cu + (xq - s.mu0q - CusumKQ))
      val cd = math.max(0L, s.cd + (s.mu0q - xq - CusumKQ))
      CsState(t, s.bn, s.bs, s.mu0q, cu, cd,
        math.max(s.mxu, cu), math.max(s.mxdn, cd),
        if (s.au >= 0) s.au else if (cu > CusumHQ) h else -1L,
        if (s.ad >= 0) s.ad else if (cd > CusumHQ) h else -1L,
        s.pendH, s.pendC, s.late)
    }

  private def csAdvance(s: CsState, h: Long, c: Long): CsState =
    advancePending[CsState](s, h, c, st => (st.pendH, st.pendC),
      (st, hh, cc) => st.copy(pendH = hh, pendC = cc),
      st => st.copy(late = st.late + 1), csFold)

  /** (lastBatch, type -> CsState), the fields as one long vector. */
  private[graft] val csStates = longVecs[CsState] { (_, v) =>
    CsState(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9),
      v(10), v(11), v(12))
  }(longs)

  private[graft] def csBatch(spark: SparkSession, outPath: String,
      statePath: String, batch: DataFrame, batchId: Long): Unit =
    cursorFold(csStates, statePath, outPath, batchId) { st0 =>
      val st1 = foldHourly(batch, st0, csEmpty, csAdvance)
      import spark.implicits._
      (st1, Option.when(st1.nonEmpty) {
        st1.toSeq.sortBy(_._1).map { case (tpe, s) =>
          (batchId, tpe, s.nh,
            if (s.mu0q >= 0) Some(s.mu0q / 1e9) else None,
            s.mxu / 1e9, s.mxdn / 1e9,
            s.mxu > CusumHQ || s.mxdn > CusumHQ,
            phFmt(s.au), phFmt(s.ad), s.late)
        }.toDF("batch_id", "event_type", "n_hours", "mu0",
          "max_cusum_up", "max_cusum_down", "shift_flag",
          "first_alarm_up", "first_alarm_down", "late_hours")
      })
    }

  /** Streaming tabular-CUSUM sink (the x_cusum_changepoint family's
    * ONLINE member): per event type, hourly counts fold into an
    * O(types) state — burn-in reference, two one-sided statistics,
    * extrema, alarms — with one verdict row per type appended per
    * trigger. Where the batch op retrospectively locates the single
    * most likely level shift (it needs the series total), the tabular
    * form answers the monitor's question — "has the level LEFT the
    * frozen baseline?" — with O(1) per-type arithmetic per hour. All
    * deviations are exact integers in 1e9 fixed point, so the fold is
    * replay-deterministic. Crash/replay/pending-hour/late-hour
    * contracts are phDriftSink's verbatim. */
  def cusumSink(events: DataFrame, spark: SparkSession, outPath: String,
                statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    drain(events, checkpoint)(csBatch(spark, outPath, statePath, _, _))

  // ---- streaming space-saving top-k sink ------------------------------------

  // Space-Saving (Metwally, Agrawal & El Abbadi, ICDT 2005): k counters
  // per event type; a tracked item's count increments, an untracked
  // item evicts the MINIMUM counter and inherits its count as the error
  // bound. Invariants, proven in the paper and pinned by the spec:
  // true(u) ∈ [est(u) − err(u), est(u)] for every tracked u, and every
  // item with true frequency > n/k is tracked. Both hold under weighted
  // (batch-aggregated) updates and any arrival order; the fold order is
  // nevertheless fixed (ascending user within a batch) so replays are
  // bit-deterministic.
  private val SsK = 8

  /** Per-type state: n = total folded events; cs = tracked counters
    * (user, est, err), unordered. */
  private[graft] case class SsState(n: Long, cs: List[(Long, Long, Long)])

  private def ssUpdate(s: SsState, u: Long, w: Long): SsState = {
    val n2 = s.n + w
    s.cs.find(_._1 == u) match {
      case Some((_, c, e)) =>
        SsState(n2, (u, c + w, e) :: s.cs.filterNot(_._1 == u))
      case None if s.cs.size < SsK => SsState(n2, (u, w, 0L) :: s.cs)
      case None =>
        // evict the minimum counter; smallest user on ties so replays
        // are deterministic
        val m = s.cs.minBy(x => (x._2, x._1))
        SsState(n2, (u, m._2 + w, m._2) :: s.cs.filterNot(_._1 == m._1))
    }
  }

  /** (lastBatch, type -> SsState): {"t", "n", "c": [[user, est, err]..]}
    * under "types", counters written by descending estimate. */
  private[graft] val ssStates = keyed[SsState]("types", "t") { (_, e) =>
    SsState(e.required("n").asLong,
      e.required("c").elements.asScala.map { c =>
        (c.get(0).asLong, c.get(1).asLong, c.get(2).asLong)
      }.toList)
  } { (o, s) =>
    val cs = o.put("n", s.n).putArray("c")
    s.cs.sortBy(x => (-x._2, x._1)).foreach { case (u, c, e) =>
      cs.addArray().add(u).add(c).add(e)
    }
  }

  private[graft] def ssBatch(spark: SparkSession, outPath: String,
      statePath: String, batch: DataFrame, batchId: Long): Unit =
    cursorFold(ssStates, statePath, outPath, batchId) { st0 =>
      val perUser = batch
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).cast("long").as("c"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val st1 = perUser.groupBy(_._1).foldLeft(st0) {
        case (acc, (tpe, us)) =>
          val folded = us.sortBy(_._2).foldLeft(
            acc.getOrElse(tpe, SsState(0L, Nil))) { case (s, (_, u, w)) =>
            ssUpdate(s, u, w)
          }
          acc.updated(tpe, folded)
      }
      import spark.implicits._
      (st1, Option.when(st1.nonEmpty) {
        st1.toSeq.sortBy(_._1).flatMap { case (tpe, s) =>
          s.cs.sortBy(x => (-x._2, x._1)).zipWithIndex.map {
            case ((u, c, e), i) =>
              (batchId, tpe, (i + 1).toLong, u, c, e, c - e, s.n)
          }
        }.toDF("batch_id", "event_type", "rank", "user_id", "est_count",
          "err_bound", "guaranteed_min", "n_events")
      })
    }

  /** Streaming space-saving heavy-hitter sink: the bounded top-k
    * complement of the batch CMS/top-k gauges — per event type, WHICH
    * users dominate the stream right now, in O(k) state per type with
    * per-item error bounds instead of an unbounded exact count table.
    * One row per tracked counter per trigger (rank, estimate, error
    * bound, guaranteed minimum), so a monitor reads both the ranking
    * and how trustworthy each entry is. Crash/replay contracts are
    * phDriftSink's verbatim; the spec checks the two Metwally
    * invariants against an exact batch recount. */
  def spaceSavingSink(events: DataFrame, spark: SparkSession,
      outPath: String, statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    drain(events, checkpoint)(ssBatch(spark, outPath, statePath, _, _))

  // ---- streaming EWMA control-chart sink ------------------------------------

  // EWMA chart (Roberts, Technometrics 1959) over hourly counts per
  // event type: the level-TRACKING monitor between the two other
  // detectors — PH compares against the running prefix mean (adapts
  // slowly, flags sustained drift), tabular CUSUM against a frozen
  // baseline (flags any level shift, never adapts); the EWMA chart
  // tracks a geometrically weighted level and flags hours that sit
  // more than L·σ̂ from it, so it recovers after a step change and
  // keeps monitoring at the new level. α = 0.2 (the classic chart
  // weight, its 1−α complement embedded as a separate literal per the
  // derived-constant rule), L = 3, and σ̂² is the EWMA of squared
  // deviations with the same α. Both recursions are integer folds —
  // ewma in 1e9 and variance in 1e4 fixed point, each step floored —
  // so replays are bit-deterministic. Alarms are gated on 6 warm-up
  // hours (the CusumBurn convention: the variance estimate starts at
  // 0 and would flag every second hour otherwise).
  private val EwAlpha = 0.2
  private val EwBeta = 0.8 // 1 − α, embedded (never computed inline)
  private val EwL = 3.0
  private val EwWarm = 6L

  /** Per-type EWMA-chart state. nh = folded hours; eq = ewma in 1e9
    * fixed point; vq = EWMA variance in 1e4 fixed point; na = alarm
    * count; af = first alarm hour (epoch micros, -1 none); pendH/
    * pendC/late = the phDriftSink pending-hour finalization contract. */
  private[graft] case class EwState(nh: Long, eq: Long, vq: Long,
      na: Long, af: Long, pendH: Long, pendC: Long, late: Long)

  private[graft] val ewEmpty =
    EwState(0L, 0L, 0L, 0L, -1L, -1L, 0L, 0L)

  private def ewFold(s: EwState, h: Long, c: Long): EwState =
    if (s.nh == 0)
      // first folded hour initializes the level at the observation
      s.copy(nh = 1L, eq = c * 1000000000L, vq = 0L)
    else {
      val e = s.eq / 1e9
      val dev = c - e
      val alarm = s.nh >= EwWarm &&
        math.abs(dev) > EwL * math.sqrt(s.vq / 1e4)
      val eq2 = math.floor(EwAlpha * c * 1e9 + EwBeta * s.eq + 0.5)
        .toLong
      val vq2 = math.floor(EwAlpha * dev * dev * 1e4 + EwBeta * s.vq
        + 0.5).toLong
      EwState(s.nh + 1, eq2, vq2,
        if (alarm) s.na + 1 else s.na,
        if (s.af >= 0) s.af else if (alarm) h else -1L,
        s.pendH, s.pendC, s.late)
    }

  private def ewAdvance(s: EwState, h: Long, c: Long): EwState =
    advancePending[EwState](s, h, c, st => (st.pendH, st.pendC),
      (st, hh, cc) => st.copy(pendH = hh, pendC = cc),
      st => st.copy(late = st.late + 1), ewFold)

  /** (lastBatch, type -> EwState), the fields as one long vector. */
  private[graft] val ewStates = longVecs[EwState] { (_, v) =>
    EwState(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7))
  }(longs)

  private[graft] def ewBatch(spark: SparkSession, outPath: String,
      statePath: String, batch: DataFrame, batchId: Long): Unit =
    cursorFold(ewStates, statePath, outPath, batchId) { st0 =>
      val st1 = foldHourly(batch, st0, ewEmpty, ewAdvance)
      import spark.implicits._
      (st1, Option.when(st1.nonEmpty) {
        st1.toSeq.sortBy(_._1).map { case (tpe, s) =>
          (batchId, tpe, s.nh, s.eq / 1e9, math.sqrt(s.vq / 1e4),
            s.na, phFmt(s.af), s.late)
        }.toDF("batch_id", "event_type", "n_hours", "ewma", "sigma",
          "n_alarms", "first_alarm", "late_hours")
      })
    }

  /** Streaming EWMA control-chart sink — x_ewma_anomaly's monitor-side
    * sibling (the mapGroupsWithState `ewmaAnomalyStream` is the per-KEY
    * daily operator; this is the per-TYPE hourly chart with the durable
    * O(types) state file the PH/CUSUM monitors use, so all three
    * detectors read the same stream with the same crash/replay/
    * pending-hour/late-hour contracts, including the at-least-once
    * verdict table documented at `cursorFold`: dedupe on (batch_id,
    * event_type)). One verdict row per type per trigger. */
  def ewmaChartSink(events: DataFrame, spark: SparkSession,
      outPath: String, statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    drain(events, checkpoint)(ewBatch(spark, outPath, statePath, _, _))

  // ---- streaming histogram-quantile sink ------------------------------------

  // Per-type fixed cent-bucket histogram of event VALUES — the QUANTILE
  // member of the monitor family (PH/CUSUM/EWMA watch the hourly COUNT
  // level; this watches the value DISTRIBUTION): p50/p90/p99 per
  // trigger as integer-cum rank picks over the folded bucket counts
  // (the newsvendor pick, online). State is O(bins) longs per type —
  // bounded forever, any corpus size — and the picks touch only the
  // O(types × bins) state, never history. Bucket = 100 cents (one
  // currency unit), 512 buckets with the last as the clamp bucket; the
  // clamp count is EXPORTED per row (n_overflow, the no-silent-caps
  // rule) so a monitor sees when the domain outgrows the grid rather
  // than silently reading a saturated p99. value→cents and
  // cents→bucket are SEPARATE scales that happen to both be 100: the
  // multiplier below converts currency units to integer cents,
  // HqBucketCents is the bucket width IN CENTS, so the buckets can widen
  // without skewing the cents quantization.
  private val HqCentsPerUnit = 100L
  private val HqBucketCents = 100L
  private val HqBuckets = 512

  /** Per-type histogram state: n = folded IN-GRID events; nulls =
    * dropped NULL-valued events (counted and exported, never folded:
    * greatest()/least() would clamp a NULL value into bucket 0); under =
    * below-grid (negative-cent) events, the symmetric twin of the
    * exported clamp bucket; buckets = cumulative per-bucket counts
    * (value-domain histogram, not hourly — no pending-hour machinery: a
    * value row folds the moment it arrives, nothing to finalize). */
  private[graft] case class HqState(n: Long, nulls: Long, under: Long,
      buckets: Vector[Long])

  private[graft] val hqEmpty =
    HqState(0L, 0L, 0L, Vector.fill(HqBuckets)(0L))

  /** Smallest bucket whose cumulative count reaches the qNum/qDen
    * rank — pure integer comparison (cum·qDen ≥ qNum·n), the
    * x_newsvendor_quantile discipline applied online. */
  private[graft] def hqPick(buckets: Vector[Long], n: Long,
      qNum: Long, qDen: Long): Long = {
    var cum = 0L
    var b = 0
    while (b < buckets.length) {
      cum += buckets(b)
      if (cum * qDen >= qNum * n) return b.toLong
      b += 1
    }
    (buckets.length - 1).toLong
  }

  /** (lastBatch, type -> HqState), vector [n, nulls, under, b0..]. The
    * layout is checked BEFORE decode: the underflow counter was inserted
    * at index 2 after the first release of this sink, so a state file
    * written by the older [n, nulls, b0..] layout read blindly through
    * the current one would shift every bucket down by one (quantile edges
    * silently off) until the next clamp-bucket fold throws out-of-bounds
    * — exactly the crash/replay-resume path the sink contracts promise.
    * The legacy length migrates (under = 0, the value the old layout
    * implied); any other length fails loudly. */
  private[graft] val hqStates = longVecs[HqState] { (t, v) =>
    if (v.length == 3 + HqBuckets)
      HqState(v.head, v(1), v(2), v.drop(3).toVector)
    else if (v.length == 2 + HqBuckets)
      HqState(v.head, v(1), 0L, v.drop(2).toVector)
    else sys.error(s"histogram-quantile state for type '$t' has " +
      s"${v.length} longs; expected ${3 + HqBuckets} " +
      s"(or legacy ${2 + HqBuckets})")
  }(s => s.n +: s.nulls +: s.under +: s.buckets)

  /** Output-side layout guard, mirroring the state-side migration in
    * [[hqStates]]: the verdict schema changed when the underflow counter
    * shipped (n_underflow inserted, quantiles now nullable), and a stream
    * resumed against a pre-change outPath would append new-schema parquet
    * into an old-schema directory — a plain spark.read.parquet then
    * resolves ONE footer and silently drops or nulls columns unless
    * mergeSchema is set. State files migrate in place (a counter the old
    * layout implied as 0); the OUTPUT table cannot (its old rows
    * genuinely lack the column), so the contract is fail-loudly: resume
    * against a fresh outPath or backfill the old table first. Checked
    * once per append, a driver-side footer read of the bounded verdict
    * table. */
  private def hqRequireOutLayout(spark: SparkSession,
      outPath: String): Unit = {
    val dir = new java.io.File(outPath)
    val hasParquet = dir.exists() && {
      val fs = dir.listFiles()
      fs != null && fs.exists(_.getName.endsWith(".parquet"))
    }
    if (hasParquet &&
      !spark.read.parquet(outPath).schema.fieldNames.contains("n_underflow"))
      sys.error(s"histogram-quantile verdict table at $outPath has the " +
        "pre-underflow-counter layout (no n_underflow column); appending " +
        "would mix schemas and a plain read silently drops columns — " +
        "resume against a fresh outPath or migrate the old table")
  }

  private[graft] def hqBatch(spark: SparkSession, outPath: String,
      statePath: String, batch: DataFrame, batchId: Long): Unit =
    cursorFold(hqStates, statePath, outPath, batchId) { st0 =>
      // one grouped count of the micro-batch onto the bounded bucket
      // grid — the collect is O(types × bins), never O(rows). NULL
      // values ride as the sentinel bucket −1 and below-grid (negative-
      // cent) values as −2; both are COUNTED, never folded:
      // greatest()/least() would otherwise clamp a NULL or a negative
      // silently into bucket 0.
      val cents = floor(col("value") * HqCentsPerUnit + 0.5)
      val hist = batch
        .groupBy(col("event_type"),
          when(col("value").isNull, lit(-1L))
            .when(cents < 0, lit(-2L))
            .otherwise(least(floor(cents / HqBucketCents),
              lit((HqBuckets - 1).toDouble)).cast("long")).as("b"))
        .agg(count(lit(1)).cast("long").as("c"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val st1 = hist.foldLeft(st0) { case (acc, (tpe, b, c)) =>
        val s = acc.getOrElse(tpe, hqEmpty)
        acc.updated(tpe,
          if (b == -1L) s.copy(nulls = s.nulls + c)
          else if (b == -2L) s.copy(under = s.under + c)
          else HqState(s.n + c, s.nulls, s.under,
            s.buckets.updated(b.toInt, s.buckets(b.toInt) + c)))
      }
      import spark.implicits._
      (st1, Option.when(st1.nonEmpty) {
        hqRequireOutLayout(spark, outPath)
        st1.toSeq.sortBy(_._1).map { case (tpe, s) =>
          def edge(p: Long): Double =
            (p + 1) * HqBucketCents.toDouble / HqCentsPerUnit
          // n = 0 → no folded values, so a rank pick has nothing to
          // select: the quantiles are NULL, not bucket 0's edge (a type
          // whose only events so far are NULL-valued must not read as
          // "p99 ≤ 1.0" on a monitor)
          def q(num: Long, den: Long): Option[Double] =
            if (s.n == 0L) None
            else Some(edge(hqPick(s.buckets, s.n, num, den)))
          (batchId, tpe, s.n, s.nulls, s.under,
            q(1L, 2L), q(9L, 10L), q(99L, 100L),
            s.buckets.last)
        }.toDF("batch_id", "event_type", "n_events", "n_null",
          "n_underflow", "p50_le", "p90_le", "p99_le", "n_overflow")
      })
    }

  /** Streaming histogram-quantile sink — the distribution monitor
    * beside the three level monitors, with the SAME crash/replay
    * contracts (`cursorFold`: batchId-guarded exactly-once state,
    * at-least-once verdict rows deduped on (batch_id, event_type)). One
    * row per type per trigger: running p50/p90/p99 upper edges over ALL
    * folded values plus the clamp-bucket count. */
  def histogramQuantileSink(events: DataFrame, spark: SparkSession,
      outPath: String, statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    drain(events, checkpoint)(hqBatch(spark, outPath, statePath, _, _))

  // ---- streaming HLL cardinality sink ---------------------------------------

  // HyperLogLog distinct-user monitor per event type (Flajolet et al.
  // 2007) — the CARDINALITY member that completes the monitor family
  // (PH/CUSUM/EWMA watch the count LEVEL, the histogram sink the value
  // DISTRIBUTION, space-saving the heavy hitters, SRM the arm RATIO;
  // none can answer "how many distinct users are we seeing?" in
  // bounded state). 256 max-of-rho registers per type — mergeable by
  // per-register max, so micro-batches fold associatively and a replay
  // leaves the REGISTERS (and every estimate read off them) unchanged
  // even before the batch-cursor guard; the n_events/n_null counters
  // are plain sums, so the guard is what makes THEM exactly-once.
  // Hashing is the repo's engine-portable md5 path (first 15 hex chars =
  // 60 bits: low 8 pick the register, the high 52 feed the leading-zero
  // rank), the per-batch aggregation is one grouped max onto the
  // O(types × 256) grid — never O(rows) on the driver.
  private val HllB = 8
  private val HllM = 256 // 2^HllB registers
  private val HllWBits = 52 // hash bits above the register index
  private val HllAlpha = 0.7213 / (1.0 + 1.079 / HllM)

  /** Standard HLL estimate with the small-range linear-counting
    * correction; returns (estimate, zero-register count). */
  private[graft] def hllEstimate(regs: Vector[Long]): (Double, Long) = {
    val v = regs.count(_ == 0L).toLong
    val z = regs.map(r => math.pow(2.0, -r.toDouble)).sum
    val raw = HllAlpha * HllM * HllM / z
    val est =
      if (raw <= 2.5 * HllM && v > 0) HllM * math.log(HllM.toDouble / v)
      else raw
    (est, v)
  }

  /** Per-type HLL state: n = folded NON-NULL events; nulls = dropped
    * NULL user ids (counted and exported — md5(NULL) would otherwise
    * propagate a NULL grouping key and crash the fold); regs = the 256
    * max-of-rho registers. */
  private[graft] case class HllState(n: Long, nulls: Long,
      regs: Vector[Long])

  /** (lastBatch, type -> HllState), vector [n, nulls, r0..r255]. */
  private[graft] val hllStates = longVecs[HllState] { (_, v) =>
    HllState(v.head, v(1), v.drop(2).toVector)
  }(s => s.n +: s.nulls +: s.regs)

  private[graft] def hllBatch(spark: SparkSession, outPath: String,
      statePath: String, batch: DataFrame, batchId: Long): Unit =
    cursorFold(hllStates, statePath, outPath, batchId) { st0 =>
      // one grouped max onto the bounded register grid; the 60-bit md5
      // prefix splits into (register, rank word) with integer ops only.
      // NULL user ids ride as the sentinel register −1, counted not
      // hashed (md5(NULL) is NULL and would crash the long fold).
      val hist = batch
        .select(col("event_type"),
          conv(substring(md5(col("user_id").cast("string")), 1, 15),
            16, 10).cast("long").as("h"))
        .withColumn("reg",
          coalesce(col("h") % HllM.toLong, lit(-1L)))
        .withColumn("w", coalesce(expr(s"h div $HllM"), lit(0L)))
        .withColumn("rho", when(col("w") > 0,
          lit(HllWBits + 1) - length(bin(col("w"))))
          .otherwise(lit(HllWBits + 1)).cast("long"))
        .groupBy(col("event_type"), col("reg"))
        .agg(max(col("rho")).cast("long").as("mx"),
          count(lit(1)).cast("long").as("c"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      val st1 = hist.foldLeft(st0) { case (acc, (tpe, reg, mx, c)) =>
        val s = acc.getOrElse(tpe, HllState(0L, 0L, Vector.fill(HllM)(0L)))
        acc.updated(tpe,
          if (reg < 0) s.copy(nulls = s.nulls + c)
          else HllState(s.n + c, s.nulls, s.regs.updated(reg.toInt,
            math.max(s.regs(reg.toInt), mx))))
      }
      import spark.implicits._
      (st1, Option.when(st1.nonEmpty) {
        st1.toSeq.sortBy(_._1).map { case (tpe, s) =>
          val (est, v) = hllEstimate(s.regs)
          (batchId, tpe, s.n, s.nulls,
            math.floor(est * 1e6 + 0.5) / 1e6, v, HllM.toLong)
        }.toDF("batch_id", "event_type", "n_events", "n_null",
          "est_distinct", "n_zero_regs", "m_registers")
      })
    }

  /** Streaming HLL cardinality sink — running distinct-user estimate
    * per event type in O(types × 256) state forever, with the
    * `cursorFold` crash/replay contracts (batchId-guarded exactly-once
    * state, at-least-once verdict rows deduped on (batch_id,
    * event_type)); the register fold is additionally idempotent by
    * construction (max-merge). */
  def hllCardinalitySink(events: DataFrame, spark: SparkSession,
      outPath: String, statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    drain(events, checkpoint)(hllBatch(spark, outPath, statePath, _, _))

  // ---- streaming min-k (KMV / bottom-k) sample sink -------------------------

  // Deterministic bottom-k distinct-user sample per event type via md5
  // priorities — the KMV sketch (Bar-Yossef et al. RANDOM 2002; the
  // (k−1)/h_(k) estimator analyzed by Beyer et al., SIGMOD 2007). The
  // monitor family's HLL answers "how many distinct users?"; this sink
  // answers "WHICH users — show me a stable, replayable sample" and
  // throws in a second, independent cardinality estimate for free. The
  // state is the k smallest (hash, user) pairs per type: union-keep-k-
  // smallest is associative, commutative and IDEMPOTENT like the HLL
  // register max, so micro-batches fold in any order and a replay
  // leaves the sample (and the estimate read off it) unchanged even
  // before the batch-cursor guard; the n_events/n_null counters are
  // plain sums — the guard is what makes them exactly-once. At k = 128
  // the frozen same-hash bias of the exact md5 path reads +9..14%
  // (inside the 3/√k = 0.265 theoretical band the spec pins); the HLL
  // sink stays the authoritative estimate on the same stream.
  private val MkK = 128
  private val MkHashSpan = math.pow(2.0, 60.0) // 60-bit md5 prefix

  /** Per-type bottom-k state: n = folded NON-NULL events, nulls =
    * dropped NULL user ids (counted, never hashed — md5(NULL) is NULL),
    * sample = ≤ k (hash, user) pairs, hash-distinct, sorted hash
    * ascending. */
  private[graft] case class MkState(n: Long, nulls: Long,
      sample: Vector[(Long, Long)])

  private[graft] val mkEmpty = MkState(0L, 0L, Vector.empty)

  /** Union-keep-k-smallest, hash-distinct (same user always rehashes
    * identically; a 60-bit cross-user collision keeps the smaller
    * user id — deterministic either way). */
  private[graft] def mkMerge(sample: Vector[(Long, Long)],
      add: Seq[(Long, Long)]): Vector[(Long, Long)] =
    (sample ++ add).groupBy(_._1)
      .map { case (h, xs) => (h, xs.map(_._2).min) }
      .toVector.sorted.take(MkK)

  /** KMV estimate off the sample: below k the sample IS the distinct
    * set (exact count); at k, (k−1)/h_(k) with the hash mapped to
    * (0, 1] over the 60-bit span. h_(k) = 0 (a full sample whose k-th
    * smallest 60-bit hash is exactly zero — ~2^−60 per user, but the
    * family guards EVERY denominator) falls back to the sample length,
    * the same degraded-but-finite reading the below-k branch gives. */
  private[graft] def mkEstimate(sample: Vector[(Long, Long)]): Double =
    if (sample.length < MkK || sample.last._1 == 0L)
      sample.length.toDouble
    else (MkK - 1).toDouble / (sample.last._1.toDouble / MkHashSpan)

  /** (lastBatch, type -> MkState), vector [n, nulls, (hash, user)*]. */
  private[graft] val mkStates = longVecs[MkState] { (_, v) =>
    MkState(v.head, v(1),
      v.drop(2).grouped(2).collect { case Array(h, u) => (h, u) }.toVector)
  }(s => s.n +: s.nulls +: s.sample.flatMap(p => Seq(p._1, p._2)))

  private[graft] def mkBatch(spark: SparkSession, outPath: String,
      statePath: String, batch: DataFrame, batchId: Long): Unit =
    cursorFold(mkStates, statePath, outPath, batchId) { st0 =>
      // one grouped count for the exactly-once counters …
      val counts = batch
        .groupBy(col("event_type"))
        .agg(sum(when(col("user_id").isNotNull, 1L).otherwise(0L))
            .cast("long").as("nv"),
          sum(when(col("user_id").isNull, 1L).otherwise(0L))
            .cast("long").as("nl"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // … and the batch's own bottom-k per type: distinct users, the
      // 60-bit md5 hash, a per-type rank pick. The window runs over the
      // micro-batch only and the collect is O(types × k).
      val bk = batch
        .filter(col("user_id").isNotNull)
        .select(col("event_type"), col("user_id").cast("long").as("u"))
        .distinct()
        .withColumn("h",
          conv(substring(md5(col("u").cast("string")), 1, 15), 16, 10)
            .cast("long"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("event_type").orderBy(col("h"), col("u"))))
        .filter(col("rn") <= MkK)
        .collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(1)))
      val withCounts = counts.foldLeft(st0) { case (acc, (tpe, nv, nl)) =>
        val s = acc.getOrElse(tpe, mkEmpty)
        acc.updated(tpe, s.copy(n = s.n + nv, nulls = s.nulls + nl))
      }
      val st1 = bk.groupBy(_._1).foldLeft(withCounts) {
        case (acc, (tpe, adds)) =>
          val s = acc.getOrElse(tpe, mkEmpty)
          acc.updated(tpe,
            s.copy(sample = mkMerge(s.sample, adds.map(x => (x._2, x._3)))))
      }
      import spark.implicits._
      (st1, Option.when(st1.nonEmpty) {
        st1.toSeq.sortBy(_._1).map { case (tpe, s) =>
          val est =
            if (s.sample.isEmpty) None
            else Some(math.floor(mkEstimate(s.sample) * 1e6 + 0.5) / 1e6)
          (batchId, tpe, s.n, s.nulls, s.sample.length.toLong,
            s.sample.length < MkK, est, s.sample.map(_._2))
        }.toDF("batch_id", "event_type", "n_events", "n_null",
          "n_sample", "sample_is_exact", "kmv_estimate", "sample_users")
      })
    }

  /** Streaming min-k sample sink — per event type, a deterministic
    * replay-stable bottom-k distinct-user sample plus the KMV
    * cardinality estimate, in O(types × k) state forever, with the
    * `cursorFold` crash/replay contracts (batchId-guarded exactly-once
    * state, at-least-once verdict rows deduped on (batch_id,
    * event_type)); the sample fold is additionally idempotent by
    * construction (union-keep-k-smallest). */
  def minKSampleSink(events: DataFrame, spark: SparkSession,
      outPath: String, statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    drain(events, checkpoint)(mkBatch(spark, outPath, statePath, _, _))

  // ---- streaming Bloom novelty sink -----------------------------------------

  // Per-type Bloom filter (Bloom, CACM 1970) of users seen so far; per
  // trigger the sink emits the batch's NOVELTY RATE — the share of
  // events from never-before-seen users — the drift signal a dedup
  // pipeline watches (novelty collapsing toward 0 = a re-crawl loop;
  // spiking = a new source came online). The monitor family's HLL
  // answers "how many distinct users"; this sink answers "how much of
  // the CURRENT batch is genuinely new". m = 2^16 bits per type,
  // k = 4 probes via the Kirsch–Mitzenmacher construction (h1 + i·h2,
  // ESA 2006) over the repo's engine-portable 60-bit md5 path split
  // 30 + 30 — fill 0.1147 measured at n = 2k distinct users (formula
  // 1 − e^(−kn/m) predicts 0.1150) with false-positive ≈ fill⁴ ≈ 2.0e−4,
  // capacity ≈ 3.2k users at FP ≤ 1e−3 (PERFORMANCE.md). Bit-OR merge is
  // idempotent like the HLL register max, so a replayed fold leaves
  // the filter unchanged even before the batch cursor; the counters
  // are plain sums — the cursor is what makes THEM exactly-once.
  // Novelty is judged against the PRE-batch filter at batch
  // granularity (a user's first batch counts ALL its events in that
  // batch as novel — deterministic and replay-stable). A false
  // positive can only UNDERCOUNT novelty, and the exported fill_ratio
  // + fp_bound make a saturating filter visible instead of silently
  // reading as "nothing new" (the no-silent-caps rule).
  private val BnM = 1 << 16 // filter bits per type
  private val BnWords = BnM / 64 // 1024 longs ≈ 8 KB per type
  private val BnK = 4 // probes per user
  private val BnSplit = 1L << 30 // 60-bit hash → (h1, h2) 30 + 30
  private val BnVersion = 1L

  /** Per-type Bloom novelty state, VERSION-TAGGED in its state vector:
    * any future layout change bumps the version and migrates explicitly;
    * a length or version this decoder does not know fails loudly, never
    * a silent bit shift. */
  private[graft] case class BnState(n: Long, nulls: Long, novel: Long,
      words: Vector[Long])

  private[graft] val bnEmpty =
    BnState(0L, 0L, 0L, Vector.fill(BnWords)(0L))

  /** Set-bit share of the filter — the saturation gauge every verdict
    * row exports. */
  private[graft] def bnFill(words: Vector[Long]): Double =
    words.map(w => java.lang.Long.bitCount(w).toLong).sum.toDouble / BnM

  /** (lastBatch, type -> BnState), vector
    * [version, n, nulls, novel, w0..w1023]. */
  private[graft] val bnStates = longVecs[BnState] { (t, v) =>
    if (v.length == 4 + BnWords && v.head == BnVersion)
      BnState(v(1), v(2), v(3), v.drop(4).toVector)
    else sys.error(s"bloom-novelty state for type '$t' has layout " +
      s"version ${v.headOption.getOrElse(-1L)} at length " +
      s"${v.length}; this build reads version $BnVersion at length " +
      s"${4 + BnWords} — refusing a blind decode")
  }(s => BnVersion +: s.n +: s.nulls +: s.novel +: s.words)

  private[graft] def bnBatch(spark: SparkSession, outPath: String,
      statePath: String, batch: DataFrame, batchId: Long): Unit =
    cursorFold(bnStates, statePath, outPath, batchId) { st0 =>
      import spark.implicits._
      // exactly-once event counters: one grouped count of the batch
      val counts = batch.groupBy(col("event_type"))
        .agg(sum(when(col("user_id").isNotNull, 1L).otherwise(0L))
            .cast("long").as("nv"),
          sum(when(col("user_id").isNull, 1L).otherwise(0L))
            .cast("long").as("nl"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // per-user probe positions: distinct users with their in-batch
      // event counts, the 60-bit md5 priority split into the
      // Kirsch–Mitzenmacher pair, k = 4 exploded probe rows per user
      val users = batch
        .filter(col("user_id").isNotNull)
        .groupBy(col("event_type"), col("user_id").cast("long").as("u"))
        .agg(count(lit(1)).cast("long").as("ec"))
        .withColumn("h",
          conv(substring(md5(col("u").cast("string")), 1, 15), 16, 10)
            .cast("long"))
        .withColumn("h1", expr(s"h div $BnSplit"))
        .withColumn("h2", col("h") % BnSplit)
      val pos = users.select(col("event_type"), col("u"), col("ec"),
          explode(array((0 until BnK).map(i =>
            (col("h1") + lit(i.toLong) * col("h2")) % BnM.toLong): _*))
            .as("p"))
        .withColumn("w", expr("p div 64"))
        .withColumn("bit", (col("p") % 64L).cast("int"))
      // membership against the PRE-batch filter: the state is tiny
      // (types × ≤1024 non-zero words), broadcast onto the probe rows —
      // a missing word is an unset bit. The novelty test itself is
      // distributed; only per-type aggregates and the word grid are
      // ever collected.
      val wordRows = st0.toSeq.flatMap { case (t, s) =>
        s.words.zipWithIndex.collect {
          case (wd, i) if wd != 0L => (t, i.toLong, wd)
        }
      }
      val checked = pos
        .join(broadcast(wordRows.toDF("event_type", "w", "bits")),
          Seq("event_type", "w"), "left")
        .withColumn("setb", coalesce(
          expr("shiftright(bits, bit) & CAST(1 AS BIGINT)"), lit(0L)))
      val perUser = checked
        .groupBy(col("event_type"), col("u"), col("ec"))
        .agg(sum(col("setb")).cast("long").as("hits"))
        .withColumn("novel", col("hits") < BnK.toLong)
      val typeAgg = perUser.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("bu"),
          sum(when(col("novel"), 1L).otherwise(0L)).cast("long").as("bnu"),
          sum(col("ec")).cast("long").as("be"),
          sum(when(col("novel"), col("ec")).otherwise(0L)).cast("long")
            .as("bne"))
        .collect()
        .map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      // the batch's new bits, OR-folded per word: the collect is
      // O(types × 1024) — grid-bounded like the HLL registers
      val newBits = pos.select(col("event_type"), col("w"), col("bit"))
        .distinct()
        .groupBy(col("event_type"), col("w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("orw"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val fillPre = st0.map { case (t, s) => t -> bnFill(s.words) }
      val withCounts = counts.foldLeft(st0) { case (acc, (tpe, nv, nl)) =>
        val s = acc.getOrElse(tpe, bnEmpty)
        acc.updated(tpe, s.copy(n = s.n + nv, nulls = s.nulls + nl))
      }
      val withNovel = typeAgg.foldLeft(withCounts) {
        case (acc, (tpe, (_, bnu, _, _))) =>
          val s = acc.getOrElse(tpe, bnEmpty)
          acc.updated(tpe, s.copy(novel = s.novel + bnu))
      }
      val st1 = newBits.foldLeft(withNovel) { case (acc, (tpe, w, orw)) =>
        val s = acc.getOrElse(tpe, bnEmpty)
        acc.updated(tpe, s.copy(words =
          s.words.updated(w.toInt, s.words(w.toInt) | orw)))
      }
      (st1, Option.when(st1.nonEmpty) {
        st1.toSeq.sortBy(_._1).map { case (tpe, s) =>
          val (bu, bnu, be, bne) =
            typeAgg.getOrElse(tpe, (0L, 0L, 0L, 0L))
          val rate =
            if (be > 0L) Some(math.floor(bne.toDouble / be * 1e6 + 0.5) / 1e6)
            else None
          val fpre = fillPre.getOrElse(tpe, 0.0)
          (batchId, tpe, s.n, s.nulls, be, bne, rate, bu, bnu, s.novel,
            math.floor(bnFill(s.words) * 1e6 + 0.5) / 1e6,
            math.floor(fpre * fpre * fpre * fpre * 1e9 + 0.5) / 1e9)
        }.toDF("batch_id", "event_type", "n_events", "n_null",
          "batch_events", "batch_novel_events", "novelty_rate",
          "batch_users", "batch_novel_users", "novel_users_total",
          "fill_ratio", "fp_bound")
      })
    }

  /** Streaming Bloom novelty sink — per event type, the share of each
    * micro-batch's events coming from never-before-seen users, in
    * O(types × 8 KB) state forever, with the `cursorFold` crash/replay
    * contracts (batchId-guarded exactly-once state, at-least-once
    * verdict rows deduped on (batch_id, event_type)); the filter fold is
    * additionally idempotent by construction (bit OR). Every verdict row
    * carries fill_ratio and the batch's false-positive bound fill⁴, so a
    * saturating filter is a visible condition, not a silent novelty
    * collapse. */
  def bloomNoveltySink(events: DataFrame, spark: SparkSession,
      outPath: String, statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    drain(events, checkpoint)(bnBatch(spark, outPath, statePath, _, _))

  // ---- streaming SRM gate ---------------------------------------------------

  /** Streaming twin of x_srm_check: the sample-ratio-mismatch gate run
    * CONTINUOUSLY over the ingest instead of at end-of-day audit. Per
    * micro-batch, the batch's three arm counts (same md5 coin as the
    * batch op) fold into an O(arms) cumulative state — a tiny JSON
    * beside the verdict table, behind the `cursorFold` batch cursor —
    * and ONE verdict row (cumulative counts, df=2 chi-square, flag) is
    * appended per trigger, so the experimenter sees the flag flip the
    * moment a splitter bias or a lost partition shows up. A crash
    * between the verdict append and the state write appends a
    * bit-identical duplicate verdict row for the same batch_id on
    * replay; readers take the last row per batch_id. Per-batch cost is
    * one 3-group count of the batch; state is O(1) regardless of
    * history. */
  def srmSink(docs: DataFrame, spark: SparkSession, outPath: String,
              statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    drain(docs, checkpoint)(srmBatch(spark, outPath, statePath, _, _))

  /** (lastBatch, (train, valid, test)) cumulative arm counts. */
  private[graft] val srmState = cursored((0L, 0L, 0L)) { j =>
    (j.required("train").asLong, j.required("valid").asLong,
      j.required("test").asLong)
  } { case (o, (t, v, s)) =>
    o.put("train", t).put("valid", v).put("test", s): Unit
  }

  private[graft] def srmBatch(spark: SparkSession, outPath: String,
      statePath: String, batch: DataFrame, batchId: Long): Unit =
    cursorFold(srmState, statePath, outPath, batchId) { case (t0, v0, s0) =>
      val h = substring(md5(col("doc_id").cast("string")), 1, 2)
      val counts = batch
        .select(when(h < "cc", "train").when(h < "e6", "valid")
          .otherwise("test").as("split"))
        .groupBy("split").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val t1 = t0 + counts.getOrElse("train", 0L)
      val v1 = v0 + counts.getOrElse("valid", 0L)
      val s1 = s0 + counts.getOrElse("test", 0L)
      val n = (t1 + v1 + s1).toDouble
      def term(o: Long, share: Double): Double = {
        val e = n * share
        (o - e) * (o - e) / e
      }
      val chi2 =
        if (n == 0) 0.0
        else term(t1, 204.0 / 256.0) + term(v1, 26.0 / 256.0) +
          term(s1, 26.0 / 256.0)
      import spark.implicits._
      ((t1, v1, s1), Some(Seq((batchId, t1, v1, s1, chi2,
        chi2 > 5.991464547107979))
        .toDF("batch_id", "n_train", "n_valid", "n_test", "chi2",
          "srm_flag")))
    }

  // ---- owner-rule dedup sinks -----------------------------------------------

  /** Streaming exact dedup — the streaming twin of DedupOps.x_dedup_exact:
    * content-hash dedup with state bounded by the watermark (duplicates
    * arriving later than the delay are not caught; that is the documented
    * trade for bounded state at 100 TB/day rates). */
  def dedupStream(docs: DataFrame, delay: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", sha2(col("text"), 256))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Collision-resistant per-lineage directory tag for survivor
    * subdirectories. SHA-256 prefix, not String.hashCode: two
    * checkpoint paths colliding on a 32-bit hash would share a
    * `batch=<tag>_<id>` path and the Overwrite would silently delete
    * the other stream's committed survivors. */
  private[graft] def lineageTag(lineage: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lineage.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString

  /** Cursor of the last folded batch, stored inside the state dir so it
    * swaps atomically with the state. Keyed by the CHECKPOINT path
    * (the stream lineage): a restart from the same checkpoint replays
    * monotone batchIds and must be skipped, while a NEW stream over the
    * same durable store restarts ids at 0 and must NOT be — the two are
    * distinguishable only by lineage. Returns (lineage, lastBatch);
    * ("", -1) when fresh. */
  private[graft] def dedupCursor(statePath: String): (String, Long) = {
    val f = Paths.get(statePath, "_last_batch")
    if (!Files.exists(f)) ("", -1L)
    else {
      val s = new String(Files.readAllBytes(f), "UTF-8").trim
      val i = s.lastIndexOf('|')
      (s.substring(0, i), s.substring(i + 1).toLong)
    }
  }

  private def emptyLike(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], df.schema)

  private def maxTsMs(docs: DataFrame): Long =
    docs.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime

  /** Doc ids the owner rule drops: a doc whose signature (the `keys`
    * columns of its `sigs` rows, which carry doc_id and ts) is in the
    * visible state, or is shared with an earlier ((ts, doc_id)-min) doc
    * of this batch — first writer wins, the stream operator's keep-first
    * rule. Per signature the owner is a min aggregation with map-side
    * partials, not a self-join, so a hot signature costs O(rows), never
    * O(n²). */
  private def dupDocIds(sigs: DataFrame, state: DataFrame,
      keys: Seq[String]): DataFrame = {
    val dupVsState = sigs.join(state, keys, "left_semi")
      .select("doc_id").distinct()
    val owners = sigs.groupBy(keys.map(col): _*)
      .agg(min(struct(col("ts"), col("doc_id"))).as("o"))
      .select(keys.map(col) :+ col("o.doc_id").as("owner_id"): _*)
    val dupInBatch = sigs.join(owners, keys)
      .filter(col("doc_id") =!= col("owner_id"))
      .select("doc_id").distinct()
    dupVsState.union(dupInBatch).distinct().localCheckpoint()
  }

  /** The owner-rule dedup batch of the exact, minhash and chunk sinks.
    * `sigsOf` maps the batch's docs to signature rows (doc_id, ts,
    * keys…); `dupDocIds` judges them against the (keys…, ts) parquet
    * state at `statePath`. The state then folds in every observed
    * signature, or with `survivorsOnly` just the survivors', keeps the
    * earliest ts per signature and is pruned to the `delayMs` window
    * behind the batch's newest ts.
    *
    * Replay contract: survivors land in a per-batch
    * `batch=<lineage tag>_<id>` subdirectory of `outPath` with
    * OVERWRITE, the batch cursor rides INSIDE the atomically-swapped
    * state directory, and a replayed batchId whose cursor already
    * advanced is a no-op — so a crash at any point yields exactly-once
    * survivor rows: before the append, nothing happened; between append
    * and swap, the replay recomputes the identical survivor set against
    * the unchanged state and overwrites the same subdirectory; after the
    * swap, the cursor short-circuits the replay and the earlier append
    * stands. The lineage tag keeps a NEW stream's batch 0 from
    * clobbering an old stream's batch 0. */
  private def ownerDedup(spark: SparkSession, outPath: String,
      statePath: String, batch: DataFrame, batchId: Long, lineage: String,
      delayMs: Long, keys: Seq[String], survivorsOnly: Boolean)(
      sigsOf: DataFrame => DataFrame): Unit = {
    val (curLineage, curId) = dedupCursor(statePath)
    if (curLineage == lineage && batchId <= curId) return // replayed
    val docs = batch.localCheckpoint()
    if (docs.head(1).isEmpty) return
    val sigs = sigsOf(docs)
    val stateCols = (keys :+ "ts").map(col)
    val state =
      if (Files.exists(Paths.get(statePath)))
        spark.read.parquet(statePath).select(stateCols: _*)
      else emptyLike(spark, sigs.select(stateCols: _*))
    val dupIds = dupDocIds(sigs, state, keys)
    // a read of `outPath` skips parquet files at its root once batch=
    // directories sit beside them: refuse such a table, never hide rows
    require(
      !Fs.list(Paths.get(outPath)).exists(_.toString.endsWith(".parquet")),
      s"survivor table $outPath holds parquet files outside its batch= " +
        s"directories; move them into $outPath/batch=legacy and resume")
    docs.join(dupIds, Seq("doc_id"), "left_anti")
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outPath/batch=${lineageTag(lineage)}_$batchId")
    val folded =
      if (survivorsOnly) sigs.join(dupIds, Seq("doc_id"), "left_anti")
      else sigs
    val cutoff = new java.sql.Timestamp(maxTsMs(docs) - delayMs)
    val newState = state
      .unionByName(folded.select(stateCols: _*))
      .groupBy(keys.map(col): _*).agg(min(col("ts")).as("ts"))
      .filter(col("ts") >= lit(cutoff))
    // the cursor joins the tmp dir BEFORE the swap, so state + cursor
    // become visible together
    val tmp = statePath + ".tmp"
    newState.write.mode(SaveMode.Overwrite).parquet(tmp)
    Files.writeString(Paths.get(tmp, "_last_batch"), s"$lineage|$batchId")
    Fs.swapInto(Paths.get(tmp), Paths.get(statePath))
  }

  /** Stateful streaming exact-dedup SINK — dedupStream composed with a
    * PERSISTENT content-hash store maintained foreachBatch, so the
    * streaming path and the batch dedup pipeline (x_dedup_exact) share
    * one dedup horizon. dropDuplicatesWithinWatermark alone forgets
    * everything on checkpoint reset and knows nothing about docs already
    * accepted by BATCH loads into `outPath`; this sink closes both gaps:
    * each micro-batch (already within-stream-deduped by dedupStream
    * upstream) is checked against the durable (content_hash, ts) store,
    * first-writer-wins within the batch by (ts, doc_id), survivors
    * append to the doc store, and ALL observed hashes merge into the
    * state pruned to the TTL window (state rows <= distinct in-window
    * hashes, by construction of the prune). A batch loader that appends
    * to the same store can union its hashes into `statePath` and the
    * stream picks them up next trigger. State is hash-keyed, so at
    * cluster scale the store buckets by hash prefix exactly like the
    * batch store (PartitionedMerge) — no skew, no unbounded growth.
    * Replay contract: `ownerDedup`'s. The TTL is ONE parameter
    * (milliseconds); the watermark string is derived from it so the two
    * windows cannot be set inconsistently. */
  def exactDedupSink(docs: DataFrame, spark: SparkSession, outPath: String,
                     statePath: String, checkpoint: String,
                     delayMs: Long = 3600L * 1000)
      : DataStreamWriter[Row] =
    drain(dedupStream(docs, s"${delayMs / 1000} seconds"), checkpoint)(
      exactDedupBatch(spark, outPath, statePath, _, _, checkpoint, delayMs))

  private[graft] def exactDedupBatch(spark: SparkSession,
      outPath: String, statePath: String, batch: DataFrame,
      batchId: Long, lineage: String, delayMs: Long): Unit =
    ownerDedup(spark, outPath, statePath, batch, batchId, lineage, delayMs,
      Seq("content_hash"), survivorsOnly = false)(
      _.select("doc_id", "ts", "content_hash"))

  /** Stateful streaming MinHash near-dup SINK — the near-dup twin of
    * exactDedupSink: banded-LSH dedup (DedupOps.bandTable — the exact
    * x_dedup_minhash hash family: 3-token shingles, 8 × 16-bit md5-slice
    * min-hashes, 2 bands of 4) against a PERSISTENT (band_idx, band_val,
    * ts) store maintained foreachBatch.
    *
    * Semantics: a doc is a duplicate iff any of its bands matches (i)
    * a band in the durable store or (ii) a band of a strictly earlier
    * doc of the same batch (first-writer-wins by (ts, doc_id), the
    * `dupDocIds` owner rule). Survivor bands only are folded into the
    * store — the keeper's signature represents its cluster, so state
    * rows ≤ 2 × distinct in-window survivors (asserted in spec),
    * matching the batch cluster-keeper rule (x_dedup_pipeline keeps the
    * cluster-min doc). Docs with < 3 tokens have no shingles, hence no
    * bands: they always survive and contribute no state — near-dup
    * semantics are undefined below shingle width (route them to
    * exactDedupSink).
    *
    * Replay contract: `ownerDedup`'s. Band misses (a true near-dup pair
    * sharing no band — LSH's recall trade, measured by
    * x_dedup_band_tuning) and TTL expiry both let a late duplicate
    * survive; both are the documented bounded-state trades, asserted in
    * spec rather than hidden. */
  def minhashDedupSink(docs: DataFrame, spark: SparkSession,
                       outPath: String, statePath: String,
                       checkpoint: String, delayMs: Long = 3600L * 1000)
      : DataStreamWriter[Row] =
    drain(docs, checkpoint)(
      minhashDedupBatch(spark, outPath, statePath, _, _, checkpoint, delayMs))

  private[graft] def minhashDedupBatch(spark: SparkSession,
      outPath: String, statePath: String, batch: DataFrame,
      batchId: Long, lineage: String, delayMs: Long): Unit =
    ownerDedup(spark, outPath, statePath, batch, batchId, lineage, delayMs,
      Seq("band_idx", "band_val"), survivorsOnly = true) { docs =>
      // band rows of THIS batch, carrying ts for the owner rule;
      // checkpointed because they feed three joins
      graft.ext.DedupOps.bandTable(docs.select("doc_id", "text"))
        .join(docs.select("doc_id", "ts"), "doc_id")
        .localCheckpoint()
    }

  /** Streaming NEAR-dup dedup — the streaming twin of x_dedup_simhash: a
    * per-row 64-bit SimHash fingerprint (the stateless fold twin of the
    * batch SWAR aggregation — DedupOps.simhashRowFoldSql) followed by
    * watermark-bounded dedup on the fingerprint. Catches bag-equal
    * duplicates (reordered tokens, the boilerplate-shuffle case) that
    * exact content hashing misses, while keeping fingerprinting
    * stateless so the ONLY stateful operator is the dedup itself.
    *
    * The SWAR lanes hold 16-bit counters, so a doc of >= 65,536 tokens
    * carries votes across lanes and its fingerprint is garbage. The
    * batch path raise_errors on that bound; a poison doc must not kill a
    * long-running stream, so here the doc is FLAGGED (`overflow`) and
    * its garbage fp is replaced by an exact content hash — oversized
    * docs degrade to exact dedup (reordered-token near-dups uncaught for
    * them, distinct docs never conflated on equal-garbage lanes), and
    * `overflow` joins the dedup key so they never cross-match a normal
    * doc. Route flagged docs to a chunker (TextOps.x_doc_chunks)
    * downstream for real near-dup coverage. */
  def nearDupStream(docs: DataFrame, delay: String = "1 hour"): DataFrame =
    docs
      .withColumn("sw", expr(graft.ext.DedupOps.simhashRowFoldSql))
      .withColumn("overflow", col("sw.n") >= 65536L)
      .withColumn("fp0", when(col("overflow"), xxhash64(col("text")))
        .otherwise(graft.ext.DedupOps.simhashRowHalf(0)))
      .withColumn("fp1", when(col("overflow"), lit(0L))
        .otherwise(graft.ext.DedupOps.simhashRowHalf(32)))
      .drop("sw")
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("fp0", "fp1", "overflow")

  /** The chunker composition nearDupStream's scaladoc promises:
    * oversized (`overflow`) docs degrade to exact dedup upstream, so a
    * REORDERED >65,536-token near-dup sails through — its exact hash
    * differs and its SimHash lanes are saturated garbage. This sink
    * gives flagged docs real near-dup coverage at chunk granularity:
    * each doc splits into the x_doc_chunks recipe's 50-token/stride-25
    * windows (far below the 16-bit lane bound, so per-chunk SimHash is
    * sound again), each chunk is fingerprinted, and a doc is dropped
    * when ANY of its chunk fingerprints was already seen — in the
    * persistent fingerprint state or on an earlier doc of the same
    * batch ((ts, doc_id) order). Survivors are written under `outPath`;
    * ALL observed fingerprints (kept or dropped docs alike, matching
    * dropDuplicatesWithinWatermark's state rule) merge into the state
    * table, pruned to the `delayMs` watermark window so state stays
    * bounded exactly like the built-in operator's. Replay contract:
    * `ownerDedup`'s.
    *
    * Chain it downstream of nearDupStream:
    * `chunkDedupSink(nearDupStream(docs).filter(col("overflow")), …)` —
    * normal docs keep the stateless-fp streaming path; only the rare
    * oversized docs pay the chunk fan-out (~n/25 chunks each). The
    * state is a (fp0, fp1, ts) parquet table maintained foreachBatch
    * like the other incremental sinks (IncrementalAgg, Sketch-
    * Maintenance). Cost note: the JOIN side is O(batch · chunks), but
    * the state REWRITE is O(state) per trigger — bounded by the
    * watermark window (only fps newer than `delayMs` survive), which is
    * the right trade while overflow docs are rare. If oversized docs
    * stop being rare, use `chunkDedupSinkBucketed`: the same verdict
    * logic over a PartitionedMerge bucketed delta state table —
    * O(batch) appends per trigger, physical pruning amortized to once
    * per watermark window. */
  def chunkDedupSink(flagged: DataFrame, spark: SparkSession,
                     outPath: String, statePath: String, checkpoint: String,
                     delayMs: Long = 3600L * 1000)
      : DataStreamWriter[Row] =
    drain(flagged, checkpoint)(
      chunkDedupBatch(spark, outPath, statePath, _, _, checkpoint, delayMs))

  /** chunkDedupSink with CONTENT-DEFINED chunk boundaries (x_cdc_chunks'
    * rolling-hash recipe at a 1/16 boundary rate, ~16-token expected
    * chunks) instead of the fixed 50/25 windows. The fixed splitter's
    * blind spot: a single token inserted near the front shifts EVERY
    * window, so every chunk fingerprint changes and a trivially edited
    * oversized near-dup sails through. CDC boundaries depend only on
    * local content and resynchronize right after the edit, so all
    * chunks outside the edited one keep their fingerprints and the
    * any-chunk-dup verdict still fires. Same state table, watermark
    * pruning, replay contract and batch semantics — only the chunker
    * differs. */
  def cdcChunkDedupSink(flagged: DataFrame, spark: SparkSession,
                        outPath: String, statePath: String,
                        checkpoint: String,
                        delayMs: Long = 3600L * 1000)
      : DataStreamWriter[Row] =
    drain(flagged, checkpoint)(
      chunkDedupBatch(spark, outPath, statePath, _, _, checkpoint, delayMs,
        cdcChunkFingerprints))

  /** Chunk fingerprints of a doc batch: the x_doc_chunks recipe (50-token
    * windows, stride 25) → per-chunk SimHash via the same row fold the
    * stream uses, distinct per doc (overlapping windows of a repetitive
    * doc may collide with THEMSELVES; a within-doc repeat must not read
    * as a duplicate). */
  private def chunkFingerprints(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("ts"), split(col("text"), " ").as("toks"))
    // chunk strings are built inside the array, so each exploded row
    // carries one 50-token chunk, not the doc's whole token array
    .select(col("doc_id"), col("ts"), explode(expr(
      "transform(sequence(0, CAST(greatest(0, " +
        "ceil((size(toks) - 25) / 25.0) - 1) AS INT)), " +
        "i -> array_join(slice(toks, i * 25 + 1, 50), ' '))")).as("text"))
    .withColumn("sw", expr(graft.ext.DedupOps.simhashRowFoldSql))
    .select(col("doc_id"), col("ts"),
      graft.ext.DedupOps.simhashRowHalf(0).as("fp0"),
      graft.ext.DedupOps.simhashRowHalf(32).as("fp1"))
    .distinct()
    .localCheckpoint()

  /** Content-defined chunk fingerprints (cdcChunkDedupSink): boundaries
    * where the md5 of the trailing 4-token window starts with nibble
    * '0' (rate 1/16, expected chunk ~16 tokens — well under the SWAR
    * lane bound), chunk text reassembled ORDER-PINNED, then the same
    * per-chunk SimHash and per-doc distinct as the fixed splitter. */
  private def cdcChunkFingerprints(docs: DataFrame): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"), col("ts"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("ts"), col("tk"), posexplode(col("tk")))
      .withColumn("b", when(col("pos") >= 3 && substring(md5(expr(
        "concat_ws(' ', slice(tk, pos - 2, 4))")), 1, 1) === "0", 1L)
        .otherwise(0L))
      .withColumn("nb", lag(col("b"), 1, 0L).over(wOrd))
      .withColumn("chunk", sum(col("nb")).over(wOrd.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("doc_id"), col("ts"), col("chunk"))
      .agg(expr("concat_ws(' ', transform(" +
        "array_sort(collect_list(struct(pos, col))), x -> x.col))")
        .as("text"))
      .withColumn("sw", expr(graft.ext.DedupOps.simhashRowFoldSql))
      .select(col("doc_id"), col("ts"),
        graft.ext.DedupOps.simhashRowHalf(0).as("fp0"),
        graft.ext.DedupOps.simhashRowHalf(32).as("fp1"))
      .distinct()
      .localCheckpoint()
  }

  private val FpKeys = Seq("fp0", "fp1")

  private[streaming] def chunkDedupBatch(spark: SparkSession,
      outPath: String, statePath: String, batch: DataFrame, batchId: Long,
      lineage: String, delayMs: Long,
      chunker: DataFrame => DataFrame = chunkFingerprints): Unit =
    ownerDedup(spark, outPath, statePath, batch, batchId, lineage, delayMs,
      FpKeys, survivorsOnly = false)(chunker)

  /** The scale path the rewrite layout's cost note promises: chunk-dedup
    * with the fingerprint state as a BUCKETED DELTA table
    * (PartitionedMerge.mergeInto on (fp0, fp1)), so the per-trigger
    * state write is O(batch) — new fingerprints append into their hash
    * buckets — instead of O(state) — the rewrite layout re-writes the
    * whole table every trigger. Use when oversized docs are NOT rare.
    *
    * Semantics match the rewrite layout: the dup check sees exactly the
    * fingerprints newer than the watermark cutoff AS OF THE PREVIOUS
    * trigger (the rewrite layout prunes physically at trigger N, so
    * trigger N+1 joins against cutoff_N state; here the same cutoff_N is
    * persisted in `_watermark.json` and applied as a read filter).
    * First-seen-wins on re-observed fingerprints (the append sends only
    * keys absent from the visible state), matching the rewrite layout's
    * min(ts) fold for in-order arrivals; an out-of-order duplicate
    * carrying an OLDER ts than its stored first sighting keeps the
    * stored ts here (the rewrite fold would lower it) — the fingerprint
    * then survives marginally longer, which only widens dup coverage.
    * Survivors append to `outPath` directly, before the state commit.
    *
    * Physical pruning of expired rows is AMORTIZED: a full filtered
    * rewrite runs only when the watermark has advanced a full delay
    * window past the last prune — O(state) once per window instead of
    * every trigger, with the read filter keeping verdicts exact in
    * between. Bucket compaction (mergeInto's threshold) bounds
    * per-bucket file counts independently. */
  def chunkDedupSinkBucketed(flagged: DataFrame, spark: SparkSession,
                             outPath: String, statePath: String,
                             checkpoint: String,
                             delayMs: Long = 3600L * 1000,
                             numBuckets: Int = 16)
      : DataStreamWriter[Row] =
    drain(flagged, checkpoint) { (batch, _) =>
      chunkDedupBatchBucketed(spark, outPath, statePath, batch, delayMs,
        numBuckets)
    }

  /** (cutoffMs, lastPruneMs) persisted beside the bucketed state table in
    * `<statePath>._watermark.json`; None before the first trigger. */
  private[graft] val watermark = new JsonState[Option[(Long, Long)]](None,
    j => Some((j.required("cutoff").asLong, j.required("lastPrune").asLong)),
    (o, w) => w.foreach { case (c, p) =>
      o.put("cutoff", c).put("lastPrune", p)
    })

  private[streaming] def chunkDedupBatchBucketed(
      spark: SparkSession, outPath: String, statePath: String,
      batch: DataFrame, delayMs: Long, numBuckets: Int): Unit = {
    // crash recovery (kill-tested): a kill between the prune swap's
    // two renames leaves the live table displaced (inside the tmp
    // tree's sibling) and the COMPLETE pruned table still at tmp-prune
    // — adopt it, otherwise the batch would see an empty state and
    // re-admit every in-window duplicate. A tmp-prune WITH the live
    // table intact is a crash before the swap began: stale, ignored
    // here and cleared by the next prune.
    val tmpPrunePath = Paths.get(statePath + ".tmp-prune")
    if (!Files.exists(Paths.get(statePath)) && Files.exists(tmpPrunePath))
      Files.move(tmpPrunePath, Paths.get(statePath)): Unit
    val docs = batch.localCheckpoint()
    if (docs.head(1).isEmpty) return
    val fps = chunkFingerprints(docs)
    val wmPath = statePath + "._watermark.json"
    val wm = watermark.read(wmPath)
    val stateAll =
      if (Files.exists(Paths.get(statePath)))
        graft.etl.PartitionedMerge.read(spark, statePath)
          .select("fp0", "fp1", "ts")
      else emptyLike(spark, fps.select("fp0", "fp1", "ts"))
    // visibility filter = previous trigger's cutoff, mirroring the
    // rewrite layout's physical prune-at-previous-trigger
    val state = wm.map { case (c, _) =>
      stateAll.filter(col("ts") >= lit(new java.sql.Timestamp(c)))
    }.getOrElse(stateAll).localCheckpoint()
    val dupIds = dupDocIds(fps, state, FpKeys)
    docs.join(dupIds, Seq("doc_id"), "left_anti")
      .write.mode(SaveMode.Append).parquet(outPath)
    // O(batch) state write: first sighting per fingerprint this batch,
    // minus keys the visible state already carries
    val newFps = fps.select("fp0", "fp1", "ts")
      .groupBy("fp0", "fp1").agg(min(col("ts")).as("ts"))
      .join(state.select("fp0", "fp1"), FpKeys, "left_anti")
    graft.etl.PartitionedMerge.mergeInto(spark, statePath, newFps, FpKeys,
      numBuckets): Unit
    val cutoffMs = maxTsMs(docs) - delayMs
    val lastPrune = wm.map(_._2).getOrElse(Long.MinValue)
    if (lastPrune == Long.MinValue || cutoffMs - lastPrune >= delayMs) {
      // amortized physical prune: filtered rewrite into a fresh bucketed
      // table, then swap — at most once per watermark window
      val live = graft.etl.PartitionedMerge.read(spark, statePath)
        .filter(col("ts") >= lit(new java.sql.Timestamp(cutoffMs)))
        .localCheckpoint()
      val tmp = statePath + ".tmp-prune"
      Fs.deleteRec(Paths.get(tmp))
      // clear crash-leftover asides from earlier interrupted prunes
      // (outside the live path, so they never affect reads — this is
      // housekeeping, not correctness)
      Option(Paths.get(tmp).getParent).foreach { parent =>
        val base = Paths.get(tmp).getFileName.toString + ".displaced-"
        Fs.list(parent)
          .filter(_.getFileName.toString.startsWith(base))
          .foreach(Fs.deleteRec)
      }
      graft.etl.PartitionedMerge.mergeInto(spark, tmp, live, FpKeys,
        numBuckets): Unit
      Fs.swapInto(Paths.get(tmp), Paths.get(statePath))
      watermark.write(wmPath, Some((cutoffMs, cutoffMs)))
    } else watermark.write(wmPath, Some((cutoffMs, lastPrune)))
  }

  /** Stream-stream interval join: each purchase joins the same user's
    * clicks from the preceding hour. Both sides carry watermarks so the
    * join state is GC'd once the interval can no longer match — the
    * streaming twin of EventOps.x_asof_lookup's point-in-time semantics.
    */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("click_ts", "2 hours")
      .select(col("user_id").as("c_user"), col("click_ts"),
        col("click_id"))
    val p = purchases.withWatermark("buy_ts", "2 hours")
      .select(col("user_id").as("p_user"), col("buy_ts"), col("value"))
    p.join(c, expr(
      """p_user = c_user AND
         click_ts >= buy_ts - INTERVAL 1 HOUR AND
         click_ts <= buy_ts"""))
      .select(col("p_user").as("user_id"), col("buy_ts"), col("value"),
        col("click_id"), col("click_ts"))
  }

  // ---- custom state: flatMapGroupsWithState ---------------------------
  //
  // LATENESS CONTRACT: every stateful operator below sits behind
  // `withWatermark(..., lateness)`, so an event arriving more than
  // `lateness` of event time behind the stream's maximum seen timestamp
  // is DROPPED BEFORE the operator — it is not
  // deduplicated, not folded, not counted. That drop is silent in the
  // output but NOT unobservable: Spark counts it per trigger in
  // `StreamingQueryProgress.stateOperators[i].numRowsDroppedByWatermark`;
  // `droppedByWatermark(query)` below sums it across a query's retained
  // progress so callers can alert on late-data loss. Pick `lateness` as
  // the real out-of-orderness bound of the source, not a small default.

  /** Total rows silently dropped by the event-time watermark across the
    * query's retained progress history (sum over all stateful operators
    * and triggers still in `recentProgress`). Pair any use of the
    * stateful operators below with a check of this counter — a non-zero
    * value means input arrived later than the `lateness` bound and was
    * discarded before the operator saw it. */
  def droppedByWatermark(
      q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq)
      .map(_.numRowsDroppedByWatermark)
      .sum

  case class Ev(user_id: Long, ts: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, n: Int)
  case class ClosedSession(user_id: Long, start: java.sql.Timestamp,
                           n_events: Int)

  case class DayRow(priority: String, epochDay: Long, y: Long)
  case class DayEv(priority: String, epochDay: Long, y: Long,
                   ts: java.sql.Timestamp)
  case class EwmaSt(wsum: Double, ewma: Double, ew2: Double, lastDay: Long)
  case class EwmaAnomaly(priority: String, epochDay: Long, y: Long,
                         ewma: Double, z: Double)

  /** Streaming twin of the batch `x_ewma_anomaly` control chart: per-key
    * EWMA forecast + EW variance held as O(1) state (three doubles + the
    * last seen day), each arriving daily count scored against the state
    * BEFORE folding itself in (one-step-ahead semantics, same as the
    * batch op). The recursion is the normalized infinite-window form —
    * wsum' = 1 + α·wsum, ewma' = (y + α·wsum·ewma)/wsum' — which the
    * batch op's 40-lag truncated ladder approximates to ~1e-5 at α=0.7
    * (0.7^40 ≈ 6e-7); the spec pins the stream to an exact reference
    * fold instead, and asserts batch-boundary invariance (the property
    * that actually matters in production: re-chunking the stream must
    * not change which days get flagged). Out-of-order or duplicate days
    * within a key are dropped rather than corrupting the recursion —
    * the upstream daily aggregate is watermark-complete by construction.
    * State per key is constant-size — but key CARDINALITY is not: months
    * of churn would accumulate dead keys' state forever under NoTimeout,
    * so the state runs under EventTimeTimeout and a key silent for
    * `idleTtlMs` of event time is DROPPED (its baseline restarts from
    * scratch if it ever returns — the right call for a control chart,
    * where a months-stale EWMA is a worse prior than none). The timeout
    * clock is the stream's own watermark (derived from epochDay), so
    * expiry needs no wall-clock and replays deterministically. */
  def ewmaAnomalyStream(daily: org.apache.spark.sql.Dataset[DayRow],
                        decay: Double = 0.7, zThresh: Double = 1.5,
                        idleTtlMs: Long = 45L * 86400 * 1000,
                        lateness: String = "7 days")
      : org.apache.spark.sql.Dataset[EwmaAnomaly] = {
    import daily.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    daily
      .withColumn("ts", timestamp_seconds(col("epochDay") * lit(86400L)))
      .withWatermark("ts", lateness)
      .as[DayEv]
      .groupByKey(_.priority)
      .flatMapGroupsWithState[EwmaSt, EwmaAnomaly](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (p: String, rows: Iterator[DayEv], state: GroupState[EwmaSt]) =>
          if (state.hasTimedOut) {
            state.remove() // idle key: drop the stale baseline
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer[EwmaAnomaly]()
            val prevLastDay =
              state.getOption.map(_.lastDay).getOrElse(Long.MinValue)
            var st = state.getOption
              .getOrElse(EwmaSt(0.0, 0.0, 0.0, Long.MinValue))
            rows.toSeq.sortBy(_.epochDay).foreach { r =>
              if (r.epochDay > st.lastDay) {
                if (st.wsum > 0) {
                  val vr = math.max(st.ew2 - st.ewma * st.ewma, 0.0)
                  val z = (r.y - st.ewma) / math.sqrt(vr + 1.0)
                  if (math.abs(z) >= zThresh)
                    out += EwmaAnomaly(p, r.epochDay, r.y, st.ewma, z)
                }
                val ws = 1.0 + decay * st.wsum
                val e1 = (r.y + decay * st.wsum * st.ewma) / ws
                val e2 = (r.y.toDouble * r.y + decay * st.wsum * st.ew2) / ws
                st = EwmaSt(ws, e1, e2, r.epochDay)
              }
            }
            // The idle TTL measures event time since the key's FRONTIER,
            // not since its last (possibly stale/duplicate) sighting: a
            // batch that applied no row — every epochDay <= lastDay —
            // must NOT refresh the deadline, or a key replaying old days
            // forever would never expire. Only a
            // frontier advance re-arms from the new frontier; otherwise
            // the deadline stays where the last real advance put it,
            // clamped just past the watermark (setTimeoutTimestamp
            // rejects values at or behind it — the clamp only engages
            // when the old deadline is about to fire anyway).
            val advanced = st.lastDay > prevLastDay
            if (advanced) state.update(st)
            val frontierMs =
              (if (advanced) st.lastDay else prevLastDay) * 86400000L
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1, frontierMs + idleTtlMs))
            out.iterator
          }
      }
  }

  case class PatEv(user_id: Long, tsMicros: Long, event_id: Long,
                   event_type: String)
  case class PatEvT(user_id: Long, tsMicros: Long, event_id: Long,
                    event_type: String, ts: java.sql.Timestamp)
  case class PatSt(state: Int, lastTs: Long, lastId: Long, total: Long)
  case class Conversion(user_id: Long, ts_micros: Long, n_so_far: Long)

  /** Streaming CEP twin of the batch `x_event_pattern` veto-funnel: the
    * same integer automaton (view → click → purchase, error vetoes) run
    * as per-user O(1) state across micro-batches, emitting a
    * `Conversion` row the moment a purchase completes the pattern —
    * the streaming form answers "alert me WHEN the path completes"
    * rather than "count the paths". Within a batch events sort by
    * (ts, event_id); across batches the state carries the automaton
    * position plus the last applied (ts, id) so a replayed or
    * out-of-order event older than the frontier is dropped instead of
    * corrupting the recursion (same discipline as ewmaAnomalyStream).
    * State per user is four scalars — corpus-length-free — and, like the
    * EWMA chart, expires under EventTimeTimeout: a user idle for
    * `idleTtlMs` of event time has their automaton dropped (an
    * abandoned funnel position is meaningless after weeks; the
    * conversion COUNTER resets with it, so `n_so_far` is per-activity-
    * epoch — documented, and the price of bounded state under
    * unbounded user churn). */
  def patternStream(events: org.apache.spark.sql.Dataset[PatEv],
                    idleTtlMs: Long = 45L * 86400 * 1000,
                    lateness: String = "1 hour")
      : org.apache.spark.sql.Dataset[Conversion] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", lateness)
      .as[PatEvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PatSt, Conversion](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, evsT: Iterator[PatEvT], state: GroupState[PatSt]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty } else {
          val evs: Iterator[PatEv] =
            evsT.map(e => PatEv(e.user_id, e.tsMicros, e.event_id, e.event_type))
          val prevFrontier = state.getOption
            .map(s => (s.lastTs, s.lastId)).getOrElse((Long.MinValue, Long.MinValue))
          var st = state.getOption.getOrElse(PatSt(0, Long.MinValue,
            Long.MinValue, 0L))
          val out = scala.collection.mutable.ArrayBuffer[Conversion]()
          evs.toSeq.sortBy(e => (e.tsMicros, e.event_id)).foreach { e =>
            val fresh = e.tsMicros > st.lastTs ||
              (e.tsMicros == st.lastTs && e.event_id > st.lastId)
            if (fresh) {
              val ns = e.event_type match {
                case "error" => 0
                case "view" => if (st.state == 0) 1 else st.state
                case "click" => if (st.state >= 1) 2 else st.state
                case "purchase" =>
                  if (st.state == 2) {
                    out += Conversion(u, e.tsMicros, st.total + 1)
                    -1 // sentinel: completed, reset below
                  } else st.state
                case _ => st.state
              }
              st = if (ns == -1)
                PatSt(0, e.tsMicros, e.event_id, st.total + 1)
              else PatSt(ns, e.tsMicros, e.event_id, st.total)
            }
          }
          // Same frontier-gated re-arm as ewmaAnomalyStream: a batch of
          // only replayed/out-of-order events — none fresh past
          // (lastTs, lastId) — must not refresh the idle TTL.
          val advanced = (st.lastTs, st.lastId) != prevFrontier
          if (advanced) state.update(st)
          val frontierTs = if (advanced) st.lastTs else prevFrontier._1
          state.setTimeoutTimestamp(math.max(
            state.getCurrentWatermarkMs() + 1, frontierTs / 1000L + idleTtlMs))
          out.iterator
          }
      }
  }

  /** Custom-state sessionizer over `KeyValueGroupedDataset` — the
    * hand-rolled equivalent of `session_window` for when session logic
    * outgrows the built-in (e.g., value-dependent gaps, early emission).
    * Emits a session whenever the incoming batch shows a gap > `gapMs`
    * for that user; the open tail session stays in state ONLY until the
    * event-time watermark passes its last event + gap — then the
    * EventTimeTimeout branch emits it as closed and removes the state.
    * Without that, every user who ever appeared would pin an open-tail
    * session forever (user churn at 100 TB makes key cardinality, not
    * per-key size, the state bound that matters). Because the timeout
    * clock is the watermark, a timed-out session is emitted exactly
    * once and the close/emit decision replays deterministically. */
  def sessionizeWithState(events: org.apache.spark.sql.Dataset[Ev],
                          gapMs: Long = 30L * 60 * 1000,
                          lateness: String = "10 minutes")
      : org.apache.spark.sql.Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap: the open tail can never grow
            // again — close it out and free the key's state
            val s = state.get
            state.remove()
            Iterator.single(
              ClosedSession(user, new java.sql.Timestamp(s.start), s.n))
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.user_id))
            var st = state.getOption.orNull
            val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
            sorted.foreach { e =>
              val t = e.ts.getTime
              st match {
                case null => st = SessionState(t, t, 1)
                case s if t - s.last > gapMs =>
                  closed += ClosedSession(user, new java.sql.Timestamp(s.start), s.n)
                  st = SessionState(t, t, 1)
                case s => st = SessionState(s.start, t, s.n + 1)
              }
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs() + 1, st.last + gapMs))
            }
            closed.iterator
          }
      }
  }

  case class GsEv(experiment: String, treated: Long, y: Long,
                  ts: java.sql.Timestamp)
  case class GsSt(look: Long, n1: Long, k1: Long, n0: Long, k0: Long,
                  stopped: Boolean, lastEventMs: Long)
  case class GsLook(experiment: String, look: Long, n_cum: Long,
                    z_stat: Double, obf_boundary: Double, crossed: Boolean,
                    stopped: Boolean, closed: Boolean)

  /** Streaming twin of the batch `x_group_sequential` monitor: the
    * O'Brien–Fleming-shaped interim analysis run
    * continuously over the ingest instead of at five fixed calendar
    * looks. Each micro-batch is one LOOK per experiment: the batch's
    * per-arm (n, successes) fold into O(arms) cumulative state — four
    * longs + a latch — and one `GsLook` row is emitted with the pooled
    * two-proportion z on the CUMULATIVE counts against the boundary
    * b = c/√t, t = min(1, n_cum/maxN) the realized information fraction
    * of the PLANNED max sample size (streaming cannot know the final N,
    * so the practitioner's pre-registered maxN supplies it — the
    * standard sequential-design contract; same c = 2.04 pinned at the
    * final look as the batch op). A crossing LATCHES `stopped`: the
    * decision is made once, and later looks report stopped=true rather
    * than re-deciding (data keeps arriving until the team turns the
    * experiment off — the monitor must not flip-flop). Degenerate looks
    * (an arm still empty, or a pooled rate of exactly 0/1) emit z = 0:
    * no evidence, never a crossing.
    *
    * State discipline: per-experiment state is O(1) but
    * experiment cardinality is unbounded, so the state runs under
    * EventTimeTimeout — an experiment silent for `idleTtlMs` of event
    * time is CLOSED: one final row with closed=true, then the state is
    * removed. The timeout clock re-arms from the experiment's event
    * frontier (max event ts folded so far), clamped past the watermark,
    * so expiry needs no wall-clock and replays deterministically. */
  def groupSequentialStream(events: org.apache.spark.sql.Dataset[GsEv],
                            maxN: Long, c: Double = 2.04,
                            idleTtlMs: Long = 45L * 86400 * 1000,
                            lateness: String = "7 days")
      : org.apache.spark.sql.Dataset[GsLook] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(maxN > 0, "groupSequentialStream: maxN must be positive")
    def score(exp: String, st: GsSt, closed: Boolean): GsLook = {
      val n = st.n1 + st.n0
      val z =
        if (st.n1 == 0 || st.n0 == 0) 0.0
        else {
          val p1 = st.k1.toDouble / st.n1
          val p0 = st.k0.toDouble / st.n0
          val pp = (st.k1 + st.k0).toDouble / n
          if (pp <= 0.0 || pp >= 1.0) 0.0
          else (p1 - p0) / math.sqrt(
            pp * (1.0 - pp) * (1.0 / st.n1 + 1.0 / st.n0))
        }
      val t = math.min(1.0, n.toDouble / maxN)
      val boundary = c / math.sqrt(t)
      GsLook(exp, st.look, n, z, boundary,
        crossed = math.abs(z) > boundary, stopped = st.stopped,
        closed = closed)
    }
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.experiment)
      .flatMapGroupsWithState[GsSt, GsLook](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (exp: String, rows: Iterator[GsEv], state: GroupState[GsSt]) =>
          if (state.hasTimedOut) {
            // idle experiment: emit the closing row, free the state
            val st = state.get
            state.remove()
            Iterator.single(score(exp, st, closed = true))
          } else {
            var st = state.getOption
              .getOrElse(GsSt(0L, 0L, 0L, 0L, 0L, stopped = false,
                lastEventMs = Long.MinValue))
            var n1 = 0L; var k1 = 0L; var n0 = 0L; var k0 = 0L
            var frontier = st.lastEventMs
            rows.foreach { r =>
              if (r.treated != 0L) { n1 += 1; k1 += r.y }
              else { n0 += 1; k0 += r.y }
              frontier = math.max(frontier, r.ts.getTime)
            }
            st = st.copy(look = st.look + 1, n1 = st.n1 + n1,
              k1 = st.k1 + k1, n0 = st.n0 + n0, k0 = st.k0 + k0,
              lastEventMs = frontier)
            val row = score(exp, st, closed = false)
            st = st.copy(stopped = st.stopped || row.crossed)
            state.update(st)
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1, frontier + idleTtlMs))
            Iterator.single(row.copy(stopped = st.stopped))
          }
      }
  }
}
