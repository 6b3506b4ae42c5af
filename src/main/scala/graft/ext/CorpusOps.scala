package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{dot, l2}
import graft.types.Coercions.detRound
import graft.util.Tables.t

/** Corpus-level diagnostics and retrieval scoring for training-data
  * pipelines (extension surface, same family as TextOps/DedupOps):
  * BM25 retrieval, PMI collocation mining, source-overlap estimation,
  * Johnson–Lindenstrauss projection quality, and Z-order data layout.
  *
  * Determinism discipline (established by the PCA/classifier/LM entries):
  * every cross-row floating sum is per-term fixed-point rounded
  * (floor(x·1e9..1e12) as BIGINT) before the integer aggregate; scalar
  * double expressions use literals parsed identically by both engines
  * (never driver-computed derived constants like 1.0-0.85).
  */
object CorpusOps {

  // ---- BM25 ---------------------------------------------------------------

  /** fixed query terms: df spread on the fixture vocabulary — 'spark' and
    * 'merge' are common (df ≈ 0.78N), 'dup' is the rare marker (df ≈ 0.05N)
    * so the idf contrast is exercised. */
  private val Bm25Terms = Seq("spark", "merge", "dup")
  private val bm25TermsSpark =
    Bm25Terms.map(w => s"'$w'").mkString("array(", ", ", ")")
  private val bm25TermsDuck =
    Bm25Terms.map(w => s"'$w'").mkString("[", ", ", "]")

  // ---- collocations -------------------------------------------------------
  // count threshold scales with the corpus (ceil(T_bi/1000)) so the op is
  // meaningful at every SF: a fixed absolute cut would return nothing at
  // sf0.001 and everything at sf10.

  // ---- source overlap -----------------------------------------------------

  private val OverlapK = 24 // minhash seeds

  // ---- random projection --------------------------------------------------

  private val RpOutDims = 8
  private val RpSeed = 11L

  private def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Achlioptas ±1 component for (output dim j, input dim d). */
  private def rpComp(j: Int, d: Int): Long =
    if ((splitmix64(RpSeed * 1000003L + j.toLong * 64L + d.toLong) & 1L) == 0L)
      1L else -1L

  private def rpVecSpark(j: Int): String =
    (0 until 64).map(d => s"CAST(${rpComp(j, d)} AS DOUBLE)")
      .mkString("array(", ", ", ")")

  private def rpVecDuck(j: Int): String =
    (0 until 64).map(d => rpComp(j, d).toString)
      .mkString("[", ", ", "]::DOUBLE[]")

  // ---- z-order ------------------------------------------------------------

  private val ZBits = 12 // 4096-cell domain per dimension
  private val ZFiles = 16
  // x_zonemap_prune: target rows per simulated file (row-group size)
  private val ZmapRowsPerFile = 2048L

  /** Morton interleave of two ZBits-wide nonneg ints (x even bits, y odd). */
  private def zvalSpark(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  private def zvalDuck(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"((($x) >> $i) & 1) * ${1L << (2 * i)}" +
        s" + ((($y) >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Okapi BM25 (Robertson & Walker 1994; the Lucene-variant idf with
    * the +1 inside the log so idf is never negative): score(D, q) =
    * Σ_t idf(t) · tf(t,D)(k1+1) / (tf + k1(1 - b + b·|D|/avgdl)),
    * k1 = 1.2, b = 0.75. Corpus stats (N, avgdl, df) are one grouped
    * pass each, broadcast onto the per-(doc, term) tf rows; at 100 TB
    * the stats tables are O(|vocab ∩ query|) rows — trivially
    * broadcastable, the scan stays a narrow map. Per-term scores are
    * fixed-point quantized before the per-doc sum (≤3 terms, but the
    * discipline is uniform). Shared by x_bm25 / x_ndcg_eval /
    * x_rrf_fusion: returns (doc_id, n_terms_matched, sq) with sq the
    * 1e9-quantized BIGINT score — the ranking key every consumer
    * orders by, so the three entries can never disagree on the list. */
  private def bm25TermScores(s: SparkSession, d: String): DataFrame = {
    val toks = t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .localCheckpoint()
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("long") / count(lit(1))).as("avgdl"))
    val qtoks = toks.filter(expr(s"array_contains($bm25TermsSpark, tok)"))
    val df = qtoks.groupBy("tok")
      .agg(countDistinct(col("doc_id")).as("df"))
    val tf = qtoks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    tf.join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("sc",
        col("idf") * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(0.25)
            + lit(0.75) * (col("dl") / col("avgdl")))))
      .withColumn("q", floor(col("sc") * 1e9 + 0.5).cast("long"))
      .select(col("doc_id"), col("tok"), col("q"))
  }

  private def bm25Scored(s: SparkSession, d: String): DataFrame =
    bm25TermScores(s, d)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_matched"),
        sum(col("q")).cast("long").as("sq"))

  /** DuckDB twin of [[bm25Scored]]: CTE chain ending in
    * bq(doc_id, n_terms_matched, sq). */
  private val bm25ScoredSql: String =
    s"""toks AS MATERIALIZED (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        dl AS MATERIALIZED (
          SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        stats AS (
          SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) / COUNT(*) AS avgdl FROM dl),
        qt AS (SELECT doc_id, tok FROM toks
               WHERE list_contains($bm25TermsDuck, tok)),
        dfq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df
                FROM qt GROUP BY 1),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
        scored AS (
          SELECT t.doc_id, t.tok,
                 CAST(floor(
                   ln((s.n_docs - f.df + CAST(0.5 AS DOUBLE))
                      / (f.df + CAST(0.5 AS DOUBLE))
                      + CAST(1.0 AS DOUBLE))
                   * (t.tf * CAST(2.2 AS DOUBLE))
                   / (t.tf + CAST(1.2 AS DOUBLE)
                      * (CAST(0.25 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * (l.dl / s.avgdl)))
                   * 1e9 + 0.5) AS BIGINT) AS q
          FROM tf t
          JOIN dfq f USING (tok)
          JOIN dl l USING (doc_id)
          CROSS JOIN stats s),
        bq AS (
          SELECT doc_id, COUNT(*) AS n_terms_matched,
                 CAST(SUM(q) AS BIGINT) AS sq
          FROM scored GROUP BY 1)"""

  /** 3-token-shingle frequency-of-frequencies table shared by
    * x_good_turing and x_chao1_vocab: (r, n_r) where n_r = number of
    * distinct shingle types occurring exactly r times. */
  private def shingleFof(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 3), i -> " +
          "concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("sp"))
      .groupBy("sp").agg(count(lit(1)).as("r"))
      .groupBy("r").agg(count(lit(1)).as("n_r"))

  /** DuckDB twin of shingleFof. */
  private val shingleFofSql: String =
    """ttk AS (SELECT string_split(text, ' ') AS tk FROM documents),
       sp AS (SELECT unnest(list_transform(range(0, len(tk) - 2),
                i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS sp
              FROM ttk WHERE len(tk) >= 3),
       cnt AS (SELECT sp, COUNT(*) AS r FROM sp GROUP BY 1),
       fof AS MATERIALIZED (
         SELECT r, COUNT(*) AS n_r FROM cnt GROUP BY 1)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "x_good_turing" -> ((s, d) => {
      // Good–Turing frequency smoothing over the token stream — the
      // estimator LM pipelines use to answer "how much probability mass
      // belongs to tokens we have NEVER seen" (Good 1953; the
      // Katz-backoff workhorse). Everything runs on the
      // frequency-of-frequencies table: r* = (r+1)·N_{r+1}/N_r for the
      // head counts r ≤ 10, plus the corpus-wide unseen mass N_1/N.
      // Two grouped counts (species → counts → count-of-counts) — the
      // second input is vocab-bounded, the third is bounded by the max
      // species frequency; the r+1 lookup is a self-join on the tiny
      // FoF table, window-free. The species unit is the 3-token
      // shingle, NOT the unigram: the fixture's unigram vocabulary is
      // 31 types all at ~900 occurrences (no tail at all — every
      // smoothed row would be empty), while trigram shingles show the
      // natural Zipf tail (9.4k singletons at sf0.01) the estimator
      // exists for. Real corpora need this too — GT smoothing is run
      // on n-gram tables, not just unigrams.
      val fof = shingleFof(s, d).localCheckpoint()
      val tot = fof.agg(
        sum(col("r") * col("n_r")).cast("long").as("n_tokens"),
        sum(when(col("r") === 1, col("n_r")).otherwise(0L))
          .cast("long").as("n1"))
      val nxt = fof.select((col("r") - 1).as("r"), col("n_r").as("n_next"))
      fof.filter(col("r") <= 10)
        .join(nxt, Seq("r"), "left")
        .crossJoin(broadcast(tot))
        .select(col("r"), col("n_r"),
          detRound((col("r") + 1) * col("n_next").cast("double") /
            col("n_r").cast("double"), 6).as("gt_r_star"),
          detRound(col("n1").cast("double") /
            col("n_tokens").cast("double"), 8).as("unseen_mass"))
        .orderBy("r")
    }),

    "x_chao1_vocab" -> ((s, d) => {
      // Chao1 species-richness estimate of the TRUE vocabulary size —
      // the companion dial to x_heaps_law: Heaps extrapolates growth,
      // Chao1 lower-bounds how much vocabulary exists at all, from just
      // the singleton/doubleton counts: V̂ = V + N₁(N₁−1)/(2(N₂+1))
      // (bias-corrected form, defined even when N₂ = 0), with Good's
      // sample coverage Ĉ = 1 − N₁/N alongside. One aggregate over the
      // same bounded frequency-of-frequencies table as x_good_turing
      // (same 3-token species — see that op for why unigrams degenerate
      // on this fixture).
      val fof = shingleFof(s, d)
      fof.agg(
          sum(col("n_r")).cast("long").as("v_obs"),
          sum(col("r") * col("n_r")).cast("long").as("n_tokens"),
          sum(when(col("r") === 1, col("n_r")).otherwise(0L))
            .cast("long").as("n1"),
          sum(when(col("r") === 2, col("n_r")).otherwise(0L))
            .cast("long").as("n2"))
        .select(col("v_obs"), col("n_tokens"), col("n1"), col("n2"),
          detRound(col("v_obs") +
            col("n1").cast("double") * (col("n1") - 1) /
              (lit(2.0) * (col("n2") + 1)), 2).as("chao1_vocab"),
          detRound(lit(1.0) - col("n1").cast("double") /
            col("n_tokens").cast("double"), 6).as("good_coverage"))
    }),

    "x_capture_recapture" -> ((s, d) => {
      // Chapman capture–recapture estimate of the true corpus size from
      // two overlapping crawls — the crawl-coverage readout: if crawl A
      // sees n_A docs, crawl B sees n_B, and m are in both (matched by
      // CONTENT hash, the dedup-grade identity), then
      // N̂ = (n_A+1)(n_B+1)/(m+1) − 1 estimates how many docs exist,
      // crawled or not. Crawls are deterministic doc_id slices with a
      // built-in overlap; the fixture's true N is known, so the row
      // carries estimate, standard error, and truth side by side. The
      // overlap is a sha256 equi-join (32-byte keys, never text) —
      // the exact-dedup plan shape.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .localCheckpoint()
      val a = docs.filter(col("doc_id") % 3 =!= 0).select(col("h"))
      val b = docs.filter(col("doc_id") % 2 === 0)
        .select(col("h").as("hb"))
      val na = a.agg(count(lit(1)).as("n_a"))
      val nb = b.agg(count(lit(1)).as("n_b"))
      val m = a.join(b, col("h") === col("hb"))
        .agg(count(lit(1)).as("m_overlap"))
      val truth = docs.agg(count(lit(1)).as("true_n"))
      na.crossJoin(nb).crossJoin(m).crossJoin(truth)
        .select(col("n_a"), col("n_b"), col("m_overlap"),
          detRound((col("n_a") + 1).cast("double") * (col("n_b") + 1) /
            (col("m_overlap") + 1) - 1.0, 2).as("chapman_nhat"),
          detRound(sqrt((col("n_a") + 1).cast("double") *
            (col("n_b") + 1) * (col("n_a") - col("m_overlap")) *
            (col("n_b") - col("m_overlap")) /
            ((col("m_overlap") + 1).cast("double") *
              (col("m_overlap") + 1) * (col("m_overlap") + 2))), 4)
            .as("chapman_se"),
          col("true_n"))
    }),

    "x_compaction_plan" -> ((s, d) => {
      // small-file compaction planner — the lakehouse maintenance step
      // that turns a manifest of small files into target-sized rewrite
      // bins while PRESERVING key order (so downstream zonemap pruning
      // keeps working, x_zonemap_prune): files sorted by id, running
      // byte total, bin = exclusive-prefix-sum div target — the sorted
      // first-fit plan whose bins can overshoot by at most one file
      // (the standard trade; fill_pct makes the overshoot visible).
      // The plan runs entirely on the MANIFEST (one row per file —
      // metadata-sized at any data scale, never the rows inside);
      // at real manifest cardinalities the prefix sum decomposes into
      // the two-pass partitioned form already used by x_zorder_layout.
      val target = 16384L
      val manifest = t(s, d, "documents")
        .groupBy(expr("doc_id div 20").as("file_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("bytes"))
      val w = Window.orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      manifest
        .withColumn("cum0", coalesce(sum(col("bytes")).over(w), lit(0L)))
        .withColumn("bin", expr(s"cum0 div ${target}L"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"),
          sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("bytes")).cast("long").as("bytes"),
          min(col("file_id")).as("first_file"),
          max(col("file_id")).as("last_file"))
        .select(col("bin").cast("long").as("bin"), col("n_files"),
          col("n_docs"), col("bytes"), col("first_file"),
          col("last_file"),
          detRound(col("bytes").cast("double") / target, 4)
            .as("fill_pct"))
        .orderBy("bin")
    }),

    "x_reservoir_sample" -> ((s, d) => {
      // fixed-size uniform sample via bottom-k hash priorities — the
      // DISTRIBUTED form of reservoir sampling: md5(doc_id) is each
      // row's priority, the k smallest win, and unlike a sequential
      // reservoir the result is (a) identical on every run and engine,
      // (b) MERGEABLE (bottom-k of a union = bottom-k of the per-
      // partition bottom-ks — map-side TakeOrderedAndProject, no
      // global sort), and (c) consistent under re-partitioning. The
      // complement to x_stratified_sample's quota rebalancing: this
      // one is unconditionally uniform. k = 100; per-lang counts of
      // the sample ride along as the uniformity eyeball.
      val k = 100
      val sample = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("doc_id").cast("string")).as("pri"))
        .orderBy("pri", "doc_id").limit(k)
      sample.select(col("doc_id"), col("lang"), col("source"),
          col("pri").as("priority"))
        .orderBy("priority", "doc_id")
    }),

    "x_token_budget" -> ((s, d) => {
      // training-run data-recipe table: given a token budget of 4× the
      // corpus (the compute-optimal-ish regime where small sources must
      // repeat) and a UNIFORM target mixture over sources, how many
      // epochs of each source does the run consume — and which sources
      // cross the ~4-epoch line beyond which repetition stops helping
      // (Muennighoff et al. 2023, "Scaling Data-Constrained LMs": value
      // decays fast after ~4 epochs). epochs_s = budget·w_s/tokens_s.
      // One grouped token count; everything after is O(sources).
      val perSrc = t(s, d, "documents")
        .select(col("source"), size(split(col("text"), " ")).cast("long")
          .as("ntok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).cast("long").as("tokens"))
      val tot = perSrc.agg(sum(col("tokens")).cast("long").as("tt"),
        count(lit(1)).as("k"))
      perSrc.crossJoin(broadcast(tot))
        .withColumn("budget", (col("tt") * 4).cast("long"))
        .withColumn("target_tokens",
          (col("budget").cast("double") / col("k")))
        .withColumn("epochs", col("target_tokens") / col("tokens"))
        .select(col("source"), col("n_docs"), col("tokens"),
          detRound(col("tokens").cast("double") /
            col("tt").cast("double"), 6).as("corpus_share"),
          detRound(col("target_tokens"), 2).as("target_tokens"),
          detRound(col("epochs"), 4).as("epochs"),
          (col("epochs") > 4.0).as("over_epoch_cap"))
        .orderBy("source")
    }),

    "x_bm25" -> ((s, d) => {
      bm25Scored(s, d)
        .select(col("doc_id"), col("n_terms_matched"),
          detRound(col("sq") / 1e9, 6).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(15)
    }),

    "x_ndcg_eval" -> ((s, d) => {
      // nDCG@10 of the BM25 ranking against a graded ground truth —
      // the offline ranking-quality gauge run when tuning retrieval for
      // RAG corpora. Relevance grade = tf of the rare query term 'dup'
      // capped at 3 (a deterministic text-derived truth, same spirit as
      // x_quality_classifier's label); gain 2^rel − 1 via an integer
      // CASE (no float pow), discount 1/ln(rank+1) quantized per term
      // before the sum. Both the actual and the ideal top-10 come from
      // orderBy().limit() — TakeOrderedAndProject, no global sort, so
      // the gauge costs two bounded top-k passes at any corpus size.
      val rel = t(s, d, "documents")
        .select(col("doc_id"),
          least(size(split(col("text"), " "))
            - size(array_remove(split(col("text"), " "), "dup")), lit(3))
            .cast("long").as("rel"))
        .localCheckpoint()
      val gain = expr(
        "CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END")
      def rankW(keys: Column*) = row_number()
        .over(Window.orderBy(keys: _*)).cast("long")
      val ranked = bm25Scored(s, d)
        .orderBy(desc("sq"), asc("doc_id")).limit(10)
        .withColumn("rank", rankW(desc("sq"), asc("doc_id")))
        .join(rel, Seq("doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
        .withColumn("g", gain)
      val qdcg = ranked.agg(sum(floor(col("g") / log(col("rank") + 1)
        * 1e9 + 0.5).cast("long")).as("qdcg"))
      val ideal = rel.orderBy(desc("rel"), asc("doc_id")).limit(10)
        .withColumn("rank", rankW(desc("rel"), asc("doc_id")))
        .withColumn("g", gain)
        .agg(sum(floor(col("g") / log(col("rank") + 1) * 1e9 + 0.5)
          .cast("long")).as("qidcg"))
      val nRel = rel.filter(col("rel") > 0)
        .agg(count(lit(1)).as("n_rel_docs"))
      nRel.crossJoin(broadcast(qdcg)).crossJoin(broadcast(ideal))
        .withColumn("dcg10", detRound(col("qdcg") / 1e9, 6))
        .withColumn("idcg10", detRound(col("qidcg") / 1e9, 6))
        .withColumn("ndcg10", when(col("qidcg") === 0, lit(0.0))
          .otherwise(detRound(col("qdcg").cast("double") / col("qidcg"), 6)))
        .select(col("n_rel_docs"), col("dcg10"), col("idcg10"),
          col("ndcg10"))
    }),

    "x_prf_expansion" -> ((s, d) => {
      // pseudo-relevance feedback (Rocchio 1971; the RM-style expansion
      // every classic IR stack ships): assume the BM25 top-5 are
      // relevant, mine their 3 highest tf·idf non-query terms, and
      // re-retrieve with the expanded 6-term query. The whole loop is
      // two bounded retrieval passes: the feedback set is 5 docs, the
      // expansion vocabulary O(feedback tokens), the expanded scorer
      // the same broadcast-stats shape as bm25Scored with the term set
      // joined as a table instead of a literal. Output: expanded top-10
      // with an in-original-top-10 flag per doc (the movement the
      // expansion caused) and the chosen expansion terms.
      import s.implicits._
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .localCheckpoint()
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("long") / count(lit(1))).as("avgdl"))
      def scoreWith(terms: DataFrame): DataFrame = {
        val qt = toks.join(broadcast(terms), "tok")
        val dfq = qt.groupBy("tok")
          .agg(countDistinct(col("doc_id")).as("df"))
        val tf = qt.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        tf.join(broadcast(dfq), "tok")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("idf",
            log((col("n_docs") - col("df") + lit(0.5))
              / (col("df") + lit(0.5)) + lit(1.0)))
          .withColumn("sc",
            col("idf") * (col("tf") * lit(2.2))
              / (col("tf") + lit(1.2) * (lit(0.25)
                + lit(0.75) * (col("dl") / col("avgdl")))))
          .withColumn("q", floor(col("sc") * 1e9 + 0.5).cast("long"))
          .groupBy("doc_id")
          .agg(sum(col("q")).cast("long").as("sq"))
      }
      val origTerms = Bm25Terms.toDF("tok")
      val origTop10Full = scoreWith(origTerms)
        .orderBy(desc("sq"), asc("doc_id")).limit(10)
        .localCheckpoint()
      val origTop10 = origTop10Full.select(col("doc_id"))
      // re-sort before taking 5: limit() after a checkpoint is
      // "any N rows", not "first N"
      val top5 = origTop10Full.orderBy(desc("sq"), asc("doc_id"))
        .limit(5).select(col("doc_id"))
      val ndocs = t(s, d, "documents").agg(count(lit(1)).as("nd"))
      val dfAll = toks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("dfa"))
      val fb = toks.join(broadcast(top5), "doc_id")
        .filter(!expr(s"array_contains($bm25TermsSpark, tok)"))
        .groupBy("tok").agg(count(lit(1)).as("ftf"))
        .join(dfAll, "tok").crossJoin(broadcast(ndocs))
        .withColumn("qw", col("ftf")
          * floor(log(col("nd").cast("double") / col("dfa")) * 1e9 + 0.5)
            .cast("long"))
      val exp3 = fb.orderBy(desc("qw"), asc("tok")).limit(3)
        .select(col("tok"), col("qw")).localCheckpoint()
      val expStr = exp3
        .agg(expr("array_join(transform(array_sort(" +
          "collect_list(struct(-qw AS nk, tok))), x -> x.tok), ',')")
          .as("expansion_terms"))
      val allTerms = origTerms.unionByName(exp3.select("tok"))
      val wRank = org.apache.spark.sql.expressions.Window
        .orderBy(desc("sq"), asc("doc_id"))
      scoreWith(allTerms)
        .orderBy(desc("sq"), asc("doc_id")).limit(10)
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .join(origTop10.withColumn("orig", lit(1L)), Seq("doc_id"),
          "left")
        .crossJoin(broadcast(expStr))
        .select(col("rank"), col("doc_id"),
          detRound(col("sq") / 1e9, 6).as("score"),
          coalesce(col("orig"), lit(0L)).as("in_orig_top10"),
          col("expansion_terms"))
        .orderBy(col("rank"))
    }),

    "x_maxscore_prune" -> ((s, d) => {
      // MaxScore/WAND-style top-k pruning (Turtle & Flood 1995; Broder
      // et al. 2003) — the reason full-text top-k survives 100 TB: most
      // matched documents can be PROVED unable to enter the top-10
      // without scoring them. Per-term upper bound ub(t) = max per-doc
      // contribution; seed floor θ = 10th exact score among docs
      // containing the highest-ub term; any doc whose Σ ub over ITS
      // matched terms is < θ has true score ≤ Σub < θ ≤ true 10th —
      // pruned soundly, ties kept by the >= survivor rule. Everything
      // compares QUANTIZED integer scores, so the proof is exact in
      // both engines and the top10_match flag is 1 by theorem, not
      // luck; the gauge reports the measured prune fraction. If the
      // seed term matches fewer than 10 docs there is no sound floor —
      // θ falls to -inf and nothing is pruned (correct, just useless).
      val ts = bm25TermScores(s, d).localCheckpoint()
      val docSq = ts.groupBy(col("doc_id"))
        .agg(sum(col("q")).cast("long").as("sq"))
        .localCheckpoint()
      val ub = ts.groupBy(col("tok"))
        .agg(max(col("q")).cast("long").as("ub"))
      val seedTerm = ub.orderBy(desc("ub"), asc("tok")).limit(1)
        .select(col("tok"))
      val seedDocs = ts.join(broadcast(seedTerm), "tok")
        .select(col("doc_id")).distinct()
      val theta = docSq.join(seedDocs, "doc_id")
        .orderBy(desc("sq"), asc("doc_id")).limit(10)
        .agg(count(lit(1)).as("n_seed_top"), min(col("sq")).as("mn"))
        .select(when(col("n_seed_top") < 10, lit(Long.MinValue))
          .otherwise(col("mn")).as("th"))
      val bound = ts.join(broadcast(ub), "tok")
        .groupBy(col("doc_id"))
        .agg(sum(col("ub")).cast("long").as("sub"))
      val survivors = bound.crossJoin(broadcast(theta))
        .filter(col("sub") >= col("th"))
        .select(col("doc_id"))
        .localCheckpoint()
      val fullTop = docSq.orderBy(desc("sq"), asc("doc_id")).limit(10)
        .select(col("doc_id")).localCheckpoint()
      val prunedTop = docSq.join(survivors, "doc_id")
        .orderBy(desc("sq"), asc("doc_id")).limit(10)
        .select(col("doc_id")).localCheckpoint()
      val missed = fullTop.join(prunedTop, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_missed"))
      val nm = docSq.agg(count(lit(1)).as("n_matched"))
      val nsd = seedDocs.agg(count(lit(1)).as("n_seed"))
      val nsv = survivors.agg(count(lit(1)).as("n_survivors"))
      nm.crossJoin(broadcast(nsd)).crossJoin(broadcast(nsv))
        .crossJoin(broadcast(theta)).crossJoin(broadcast(missed))
        .select(col("n_matched"), col("n_seed"), col("n_survivors"),
          detRound(lit(1.0) - col("n_survivors").cast("double")
            / col("n_matched"), 6).as("prune_frac"),
          detRound(col("th").cast("double") / 1e9, 6).as("theta_score"),
          when(col("n_missed") === 0, 1L).otherwise(0L)
            .as("top10_match"))
    }),

    "x_mrr_eval" -> ((s, d) => {
      // mean reciprocal rank of the BM25 ranking against the 'dup'
      // relevance set — the metric for known-item search (how deep must
      // a user scroll to the first relevant hit); complements nDCG's
      // graded view. Top-100 via TakeOrdered; the relevant set joins as
      // a semi-join; one min + one conditional count.
      def rankW = row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("sq"), asc("doc_id"))).cast("long")
      val rel = t(s, d, "documents")
        .filter(expr("array_contains(split(text, ' '), 'dup')"))
        .select(col("doc_id"))
      bm25Scored(s, d)
        .orderBy(desc("sq"), asc("doc_id")).limit(100)
        .withColumn("rank", rankW)
        .join(rel, Seq("doc_id"), "left_semi")
        .agg(min(col("rank")).as("first_rel_rank"),
          sum(when(col("rank") <= 10, 1L).otherwise(0L)).cast("long")
            .as("n_rel_top10"))
        .select(
          coalesce(col("first_rel_rank"), lit(0L)).as("first_rel_rank"),
          detRound(when(col("first_rel_rank").isNull, lit(0.0))
            .otherwise(lit(1.0) / col("first_rel_rank")), 6).as("mrr"),
          coalesce(col("n_rel_top10"), lit(0L)).as("n_rel_top10"))
    }),

    "x_err_eval" -> ((s, d) => {
      // ERR@10 (Chapelle, Metzler, Zhang & Grinspan, CIKM 2009) of the
      // BM25 ranking against x_ndcg_eval's graded 'dup' truth — the
      // CASCADE-model metric beside nDCG's positional discount: ERR
      // models a user who stops at the first satisfying result, so a
      // rank-1 hit shades everything below it where nDCG merely
      // discounts. ERR@10 = Σ_r (1/r)·R_r·Π_{i<r}(1 − R_i) with
      // R = (2^g − 1)/2^gmax; grades 0..3 give 8R ∈ {0, 1, 3, 7}.
      // EXACT integer form: the stop product Π(1 − R_i) =
      // Π(8 − 8R_i)/8^(r−1) keeps an integer numerator ≤ 8^9,
      // materialized as NINE unrolled lag products over the 10-row
      // top-k frame (no float cumprod — exp(Σln) is not portable);
      // each rank's term num·P/(r·8^r) is a ratio of exact integers
      // with the denominators embedded as 10 CASE literals,
      // 1e12-quantized before the single sum. Two bounded top-k
      // passes, the x_ndcg_eval cost shape.
      val rel = t(s, d, "documents")
        .select(col("doc_id"),
          least(size(split(col("text"), " "))
            - size(array_remove(split(col("text"), " "), "dup")), lit(3))
            .cast("long").as("rel"))
        .localCheckpoint()
      val g2 = expr(
        "CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END")
      val wR = Window.orderBy("rank")
      val ranked = bm25Scored(s, d)
        .orderBy(desc("sq"), asc("doc_id")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("sq"), asc("doc_id"))).cast("long"))
        .join(rel, Seq("doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
        .withColumn("num", g2.cast("long"))
        .withColumn("m8", lit(8L) - col("num"))
      val stopProd = (1 to 9)
        .map(j => coalesce(lag(col("m8"), j).over(wR), lit(1L)))
        .reduce(_ * _)
      val denomCase = (1 to 10).foldLeft(when(lit(false), lit(0L))) {
        (acc, r) =>
          acc.when(col("rank") === r,
            lit(r.toLong * math.pow(8.0, r.toDouble).toLong))
      }
      val nRel = rel.filter(col("rel") > 0)
        .agg(count(lit(1)).as("n_rel_docs"))
      val err = ranked
        .withColumn("pstop", stopProd)
        .withColumn("qterm",
          floor((col("num") * col("pstop")).cast("double")
            / denomCase * 1e12 + 0.5).cast("long"))
        .agg(sum(col("qterm")).cast("long").as("qerr"),
          sum(when(col("rel") > 0, 1L).otherwise(0L)).cast("long")
            .as("n_rel_top10"))
      nRel.crossJoin(broadcast(err))
        .select(col("n_rel_docs"), col("n_rel_top10"),
          detRound(col("qerr") / 1e12, 6).as("err10"))
    }),

    "x_map_eval" -> ((s, d) => {
      // AP@10 (the single-query cell of mean average precision —
      // Buckley & Voorhees' TREC workhorse) of the BM25 ranking
      // against the binary 'dup' truth: the ORDER-SENSITIVE summary
      // precision x_mrr_eval (first hit only) and x_ndcg_eval (graded
      // discount) bracket from either side. AP@10 =
      // Σ_{r ≤ 10, rel_r} P@r / min(n_rel, 10) with P@r the exact
      // integer ratio cumrel_r/r, each term 1e12-quantized; P@5 and
      // P@10 ride along. The binary truth is the HIGHLY-relevant
      // threshold (grade ≥ 2, i.e. ≥ 2 'dup' tokens) — at grade ≥ 1
      // every BM25 top-10 doc qualifies and AP degenerates to the
      // constant 1.0, a gauge that can never move. One bounded top-k
      // pass, integer windows over the 10-row frame only.
      val rel = t(s, d, "documents")
        .filter(size(split(col("text"), " "))
          - size(array_remove(split(col("text"), " "), "dup")) >= 2)
        .select(col("doc_id"), lit(1L).as("rel"))
        .localCheckpoint()
      val wR = Window.orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
      val ranked = bm25Scored(s, d)
        .orderBy(desc("sq"), asc("doc_id")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("sq"), asc("doc_id"))).cast("long"))
        .join(rel, Seq("doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
        .withColumn("cumrel", sum(col("rel")).over(wR))
      val nRel = rel.agg(count(lit(1)).cast("long").as("n_rel_docs"))
      val agg = ranked.agg(
        sum(when(col("rel") === 1L,
          floor(col("cumrel").cast("double") / col("rank") * 1e12 + 0.5)
            .cast("long")).otherwise(0L)).cast("long").as("qap"),
        max(when(col("rank") === 5, col("cumrel"))).as("c5"),
        max(when(col("rank") === 10, col("cumrel"))).as("c10"),
        sum(col("rel")).cast("long").as("n_rel_top10"))
      nRel.crossJoin(broadcast(agg))
        .withColumn("denom", least(col("n_rel_docs"), lit(10L)))
        .select(col("n_rel_docs"), col("n_rel_top10"),
          detRound(when(col("denom") === 0, lit(0.0))
            .otherwise(col("qap").cast("double") / 1e12 / col("denom")),
            6).as("ap10"),
          detRound(col("c5").cast("double") / 5.0, 6).as("p_at_5"),
          detRound(col("c10").cast("double") / 10.0, 6).as("p_at_10"))
    }),

    "x_rrf_fusion" -> ((s, d) => {
      // hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009,
      // k = 60) of the BM25 lexical ranking and the embedding-cosine
      // ranking for the corpus query (query vector 0 over the embedded
      // doc prefix — doc_id and vec_id share the id space). RRF is THE
      // production hybrid-search combiner (Elasticsearch/OpenSearch
      // default): score(d) = Σ_legs 1/(60 + rank_leg(d)), missing leg
      // contributes 0. Each leg is a bounded top-30 (TakeOrdered — no
      // global sort); the fuse is a full-outer join of two 30-row
      // tables — driver-trivial at any corpus size. Contributions are
      // 1e9-quantized before the sum; ranks stay BIGINT.
      def rankW(keys: Column*) = row_number()
        .over(Window.orderBy(keys: _*)).cast("long")
      val bmTop = bm25Scored(s, d)
        .orderBy(desc("sq"), asc("doc_id")).limit(30)
        .withColumn("rank_bm", rankW(desc("sq"), asc("doc_id")))
        .select(col("doc_id").as("id"), col("rank_bm"))
      val emb = t(s, d, "embeddings")
      val nrm = emb.select(col("vec_id"),
        sqrt(SimilarityOps.dotExpr("embedding", "embedding")).as("nrm"))
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val qn = nrm.filter(col("vec_id") === 0).select(col("nrm").as("nq"))
      val cosTop = emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("id"), col("embedding").as("ce"))
        .crossJoin(broadcast(qv)).crossJoin(broadcast(qn))
        .join(nrm.select(col("vec_id").as("id"), col("nrm").as("nc")),
          "id")
        .withColumn("qcos",
          floor(SimilarityOps.dotExpr("qe", "ce")
            / (col("nq") * col("nc")) * 1e6 + 0.5).cast("long"))
        .orderBy(desc("qcos"), asc("id")).limit(30)
        .withColumn("rank_cos", rankW(desc("qcos"), asc("id")))
        .select(col("id"), col("rank_cos"))
      bmTop.join(cosTop, Seq("id"), "full_outer")
        .withColumn("qrrf",
          coalesce(floor(lit(1e9) / (lit(60) + col("rank_bm")) + 0.5)
            .cast("long"), lit(0L))
            + coalesce(floor(lit(1e9) / (lit(60) + col("rank_cos")) + 0.5)
              .cast("long"), lit(0L)))
        .orderBy(desc("qrrf"), asc("id")).limit(15)
        .withColumn("fused_rank", rankW(desc("qrrf"), asc("id")))
        .select(col("fused_rank"), col("id"), col("rank_bm"),
          col("rank_cos"), detRound(col("qrrf") / 1e9, 6).as("rrf_score"))
        .orderBy(col("fused_rank"))
    }),

    "x_best_passage" -> ((s, d) => {
      // passage retrieval for RAG: documents are retrieved by BM25, but
      // what goes into the context window is the best PASSAGE — for
      // each of the top-5 BM25 docs, score every 50-token/stride-25
      // chunk (x_doc_chunks' convention) by Σ tf·idf of the query terms
      // it contains and keep the arg-max chunk. Chunking is scan-side
      // Generate; the idf table is O(|query|) and broadcast; the
      // per-doc arg-max is a window over ≤ a few dozen chunk rows.
      // Per-term scores quantize to 1e9 ints before the chunk sum.
      val top5 = bm25Scored(s, d)
        .orderBy(desc("sq"), asc("doc_id")).limit(5)
        .select(col("doc_id"))
      val chunks = t(s, d, "documents")
        .join(broadcast(top5), "doc_id")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(expr(
            "sequence(0, CAST(greatest(0, ceil((n - 25) / 25.0) - 1) AS INT))"))
            .as("chunk_id"))
        .withColumn("chunk", expr("slice(toks, chunk_id * 25 + 1, 50)"))
      val toksAll = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val idf = toksAll
        .filter(expr(s"array_contains($bm25TermsSpark, tok)"))
        .groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
        .crossJoin(broadcast(
          t(s, d, "documents").agg(count(lit(1)).as("n_docs"))))
        .withColumn("qidf",
          floor(log((col("n_docs") - col("df") + lit(0.5))
            / (col("df") + lit(0.5)) + lit(1.0)) * 1e9 + 0.5)
            .cast("long"))
        .select(col("tok"), col("qidf"))
      val wBest = Window.partitionBy("doc_id")
        .orderBy(desc("qsc"), asc("chunk_id"))
      chunks
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).as("n_tokens"),
          explode(col("chunk")).as("tok"))
        .join(broadcast(idf), "tok")
        .groupBy(col("doc_id"), col("chunk_id"), col("n_tokens"))
        .agg(count(lit(1)).as("n_hits"),
          sum(col("qidf")).cast("long").as("qsc"))
        .withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("n_tokens").cast("long").as("n_tokens"), col("n_hits"),
          detRound(col("qsc") / 1e9, 6).as("passage_score"))
        .orderBy(col("doc_id"))
    }),

    "x_negative_sampling" -> ((s, d) => {
      // skip-gram-with-negative-sampling training pairs (word2vec SGNS,
      // Mikolov et al. 2013) — the data-construction op for embedding
      // training: positives are ±2-window (center, context) pairs; each
      // gets k=2 negatives drawn from the unigram^0.75 distribution
      // (the SGNS noise exponent) WITHOUT RNG: an md5-uniform keyed on
      // the pair instance indexes into the vocabulary's cumulative
      // weight table. Determinism details: c^0.75 is computed as
      // sqrt(c·sqrt(c)) — a sequence of EXACTLY-ROUNDED IEEE ops, so
      // both engines build the identical CDF (pow/exp are only
      // faithfully rounded and could disagree at a floor boundary);
      // the CDF is O(|vocab|), broadcast, and the draw is a bounded
      // range join against it. Output bounded to the first 3 docs'
      // windows — the SHAPE gauge; the full-corpus run is the same
      // plan with the filter dropped.
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
        .localCheckpoint()
      val wOrd = Window.partitionBy("doc_id").orderBy("pos")
      val pos = (1 to 2).map { o =>
        toks.filter(col("doc_id") < 3)
          .withColumn("context", lead(col("tok"), o).over(wOrd))
          .filter(col("context").isNotNull)
          .select(col("doc_id"), col("pos"),
            col("tok").as("center"), col("context"))
      }.reduce(_.unionByName(_))
      val cdf = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .withColumn("w", floor(sqrt(col("cnt")
          * sqrt(col("cnt"))) * 1e6 + 0.5).cast("long"))
        .withColumn("hi", sum(col("w"))
          .over(Window.orderBy("tok")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("lo", col("hi") - col("w"))
        .localCheckpoint()
      val total = cdf.agg(max(col("hi")).as("tt"))
      val negs = pos
        .select(col("doc_id"), col("pos"), col("center")).distinct()
        .select(col("doc_id"), col("pos"), col("center"),
          explode(sequence(lit(0), lit(1))).as("j"))
        .crossJoin(broadcast(total))
        .withColumn("u",
          conv(substring(md5(concat(lit("ns:"), col("doc_id"), lit(":"),
            col("pos"), lit(":"), col("j"))), 1, 12), 16, 10)
            .cast("long") % col("tt"))
        .join(broadcast(cdf.select(col("tok"), col("lo"), col("hi"))),
          col("u") >= col("lo") && col("u") < col("hi"))
        .select(col("doc_id"), col("pos"), col("center"),
          col("tok").as("context"), lit(0L).as("label"))
        // checkpoint REQUIRED, not an optimization: negs and pos share
        // the toks lineage, and unioning them re-resolves negs' plan
        // with pos' attribute ids — measured to DOUBLE the negative
        // rows (292 → 578) by effectively dropping the anchor distinct.
        // Cutting the lineage pins negs to its own resolved plan.
        .localCheckpoint()
      pos.withColumn("label", lit(1L))
        .select(col("doc_id"), col("pos"), col("center"), col("context"),
          col("label"))
        .unionByName(negs)
        .orderBy(col("doc_id"), col("pos"), desc("label"), col("context"))
    }),

    "x_hll_set_ops" -> ((s, d) => {
      // sketch-based SET operations between sources: |A∩B| of the
      // 3-token shingle vocabularies via inclusion–exclusion over HLL
      // estimates (est_a + est_b − est_union) — the 100 TB way to ask
      // "how much does source A's content overlap source B's?" without
      // ever materializing either set (three O(sketch) merges vs a
      // distinct-shuffle of both corpora). Bounded-gauge form (the
      // a6/a7/a8 discipline): a different engine's sketch gives a
      // different estimate, so the query emits the EXACT values plus a
      // 0/1 flag asserting the estimate landed inside the compounded
      // 3·rsd bound (errors add across the three estimates, so the
      // bound is 0.06·(|A|+|B|+|A∪B|)); the twin asserts the flag
      // constant-true and the driver hash-checks it.
      import s.implicits._
      // r20 optimization: shingles are built array-natively per row
      // (transform over the token array — one codegen'd Project, no
      // posexplode + per-doc sort + two window passes and no shuffle
      // before the distinct), and the three countDistincts are restated
      // as exact folds of a (pair, shingle) pre-aggregation so the plan
      // loses the 3× Expand the multi-distinct aggregate needed. Same
      // shingle sets → identical counts AND identical HLL estimates
      // (approx_count_distinct is a deterministic function of the input
      // SET, which is unchanged).
      val sh = t(s, d, "documents")
        .filter(col("source").isin("src0", "src1", "src2"))
        .select(col("source"), split(col("text"), " ").as("tk"))
        .withColumn("n", size(col("tk")))
        .filter(col("n") >= 3)
        .select(col("source"), explode(expr(
          "transform(sequence(1, n - 2), " +
            "i -> concat_ws(' ', slice(tk, i, 3)))")).as("sh"))
        .distinct()
      val pairs = Seq(("src0", "src1"), ("src0", "src2"),
        ("src1", "src2")).toDF("sa", "sb")
      broadcast(pairs)
        .join(sh, col("source") === col("sa") || col("source") === col("sb"))
        .groupBy(col("sa"), col("sb"), col("sh"))
        .agg(max(when(col("source") === col("sa"), 1L).otherwise(0L))
            .as("ina"),
          max(when(col("source") === col("sb"), 1L).otherwise(0L))
            .as("inb"))
        .groupBy(col("sa"), col("sb"))
        .agg(
          sum(col("ina")).as("n_a"),
          sum(col("inb")).as("n_b"),
          count(lit(1)).as("n_union"),
          approx_count_distinct(
            when(col("ina") === 1L, col("sh")), 0.02).as("ea"),
          approx_count_distinct(
            when(col("inb") === 1L, col("sh")), 0.02).as("eb"),
          approx_count_distinct(col("sh"), 0.02).as("eu"))
        .withColumn("n_inter", col("n_a") + col("n_b") - col("n_union"))
        .withColumn("e_inter", col("ea") + col("eb") - col("eu"))
        .withColumn("hll_inter_within_bound",
          when(abs(col("e_inter") - col("n_inter")) <=
            greatest(lit(1.0),
              (col("n_a") + col("n_b") + col("n_union")) * 0.06), 1L)
            .otherwise(0L))
        .select(concat_ws("|", col("sa"), col("sb")).as("pair"),
          col("n_a"), col("n_b"), col("n_union"), col("n_inter"),
          col("hll_inter_within_bound"))
        .orderBy("pair")
    }),

    "x_ppmi_embeddings" -> ((s, d) => {
      // count-based word embeddings: positive PMI vectors over a ±2-token
      // co-occurrence window (Levy & Goldberg 2014 — PPMI-SVD matches
      // word2vec SGNS; this is the count side a pipeline can compute in
      // pure SQL), then distributional similarity = cosine between PPMI
      // rows. Model state is VOCABULARY-bounded (|V| marginals, ≤|V|²
      // sparse cells — broadcast-sized at any corpus size); the one
      // corpus-scale pass is the windowed pair count, a Generate + two
      // keyed shuffles. PPMI cells quantize to 1e6 ints so the cosine
      // numerators are exact integer sums (≤1e14 per term — long-safe);
      // only the final norm product runs in double, identically in both
      // engines. Output: top-15 most distributionally similar pairs.
      val wOrd = Window.partitionBy("doc_id").orderBy("pos")
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
      val fwd = (1 to 2).map { o =>
        toks.withColumn("ctx", lead(col("tok"), o).over(wOrd))
          .filter(col("ctx").isNotNull)
          .select(col("tok").as("w"), col("ctx").as("c"))
      }.reduce(_.unionByName(_))
      val pairs = fwd
        .unionByName(fwd.select(col("c").as("w"), col("w").as("c")))
        .groupBy(col("w"), col("c")).agg(count(lit(1)).as("nwc"))
        .localCheckpoint()
      val mw = pairs.groupBy(col("w"))
        .agg(sum(col("nwc")).cast("long").as("nw"))
      val tot = pairs.agg(sum(col("nwc")).cast("long").as("tt"))
      val vecs = pairs
        .join(broadcast(mw), "w")
        .join(broadcast(mw.select(col("w").as("c"),
          col("nw").as("nc"))), "c")
        .crossJoin(broadcast(tot))
        .withColumn("qp", greatest(lit(0L),
          floor(log((col("nwc").cast("double") / col("nw"))
            * (col("tt").cast("double") / col("nc"))) * 1e6 + 0.5)
            .cast("long")))
        .filter(col("qp") > 0)
        .select(col("w"), col("c"), col("qp"))
        .localCheckpoint()
      val nrm = vecs.groupBy(col("w"))
        .agg(sum(col("qp") * col("qp")).cast("long").as("s"))
      val dots = vecs.select(col("w").as("w1"), col("c"), col("qp").as("q1"))
        .join(vecs.select(col("w").as("w2"), col("c"),
          col("qp").as("q2")), Seq("c"))
        .filter(col("w1") < col("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(sum(col("q1") * col("q2")).cast("long").as("s12"))
      dots
        .join(broadcast(nrm.select(col("w").as("w1"), col("s").as("s1"))),
          "w1")
        .join(broadcast(nrm.select(col("w").as("w2"), col("s").as("s2"))),
          "w2")
        .withColumn("cos_sim", detRound(col("s12").cast("double")
          / sqrt(col("s1").cast("double") * col("s2").cast("double")), 6))
        .select(col("w1"), col("w2"), col("cos_sim"))
        .orderBy(desc("cos_sim"), asc("w1"), asc("w2"))
        .limit(15)
    }),

    "x_collocations" -> ((s, d) => {
      // PMI collocation mining (Church & Hanks 1990; the phrase-detection
      // pass word2vec runs before training): pmi(x,y) =
      // ln(p(xy) / (p(x)p(y))) over within-doc adjacent bigrams, with a
      // corpus-scaled support cut c_xy ≥ ceil(T_bi/1000) so rare noise
      // pairs don't dominate. Counts are integer aggregates (order-free);
      // the pmi itself is scalar ln on identical ratios. One tokenize
      // pass, two grouped counts, broadcast unigram table joined twice.
      val wOrd = Window.partitionBy("doc_id").orderBy("pos")
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
        .localCheckpoint()
      val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("cx"))
      val tuni = uni.agg(sum(col("cx")).cast("long").as("tu"))
      val bi = toks.withColumn("nxt", lead(col("tok"), 1).over(wOrd))
        .filter(col("nxt").isNotNull)
        .groupBy(col("tok").as("w1"), col("nxt").as("w2"))
        .agg(count(lit(1)).as("cxy"))
      val tbi = bi.agg(sum(col("cxy")).cast("long").as("tb"))
      bi.crossJoin(broadcast(tbi))
        .filter(col("cxy") >= ceil(col("tb") / lit(1000.0)))
        .join(broadcast(uni.select(col("tok").as("w1"), col("cx").as("cx1"))),
          "w1")
        .join(broadcast(uni.select(col("tok").as("w2"), col("cx").as("cx2"))),
          "w2")
        .crossJoin(broadcast(tuni))
        .withColumn("pmi", log((col("cxy") / col("tb"))
          / ((col("cx1") / col("tu")) * (col("cx2") / col("tu")))))
        .select(col("w1"), col("w2"), col("cxy"),
          detRound(col("pmi"), 6).as("pmi"))
        .orderBy(desc("pmi"), asc("w1"), asc("w2"))
        .limit(20)
    }),

    "x_source_overlap" -> ((s, d) => {
      // Pairwise corpus-overlap matrix between sources — the diagnostic a
      // data-mixing pass runs before weighting sources (near-identical
      // sources shouldn't be double-counted). Exact 3-shingle Jaccard per
      // source pair (self-join of the distinct source-shingle sets on the
      // shingle — bounded by shingle multiplicity, never all-pairs of
      // docs) alongside a k=24 MinHash estimate (min over lexicographic
      // md5 slices — the same engine-portable family as x_dedup_minhash),
      // with the 3σ binomial bound as the hash-checked gauge flag, same
      // contract as the a6/a7/a8 sketch gauges. At 100 TB: signatures are
      // O(sources·k), the estimate side never touches the corpus again.
      val tk = t(s, d, "documents")
        .select(col("source"), split(col("text"), " ").as("tk"))
      val sets = tk.filter(size(col("tk")) >= 3)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(tk) - 2), " +
            "i -> concat(tk[i-1], ' ', tk[i], ' ', tk[i+1]))")).as("sh"))
        .distinct()
        .localCheckpoint()
      val counts = sets.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = sets.select(col("source").as("src_a"), col("sh"))
        .join(sets.select(col("source").as("src_b"), col("sh")), "sh")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      val sig = sets
        .select(col("source"), explode(expr(
          s"transform(sequence(0, ${OverlapK - 1}), j -> j)")).as("j"),
          col("sh"))
        .select(col("source"), col("j"),
          substring(md5(concat(col("j"), lit("|"), col("sh"))), 1, 12)
            .as("h"))
        .groupBy("source", "j").agg(min(col("h")).as("mh"))
      val matches = sig.select(col("source").as("src_a"), col("j"),
          col("mh").as("ha"))
        .join(sig.select(col("source").as("src_b"), col("j"),
          col("mh").as("hb")), "j")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(sum(when(col("ha") === col("hb"), 1L).otherwise(0L))
          .cast("long").as("m"))
      val pairs = counts.select(col("source").as("src_a"),
          col("n").as("n_a"))
        .crossJoin(counts.select(col("source").as("src_b"),
          col("n").as("n_b")))
        .filter(col("src_a") < col("src_b"))
      pairs
        .join(inter, Seq("src_a", "src_b"), "left")
        .join(matches, Seq("src_a", "src_b"), "left")
        .withColumn("i", coalesce(col("inter"), lit(0L)))
        .withColumn("exact_j",
          col("i") / (col("n_a") + col("n_b") - col("i")))
        .withColumn("est_j",
          coalesce(col("m"), lit(0L)) / lit(OverlapK.toDouble))
        .withColumn("err", abs(col("est_j") - col("exact_j")))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          detRound(col("exact_j"), 6).as("exact_j"),
          detRound(col("est_j"), 6).as("est_j"),
          detRound(col("err"), 6).as("abs_err"),
          (col("err") <= lit(3.0)
            * sqrt(col("exact_j") * (lit(1.0) - col("exact_j"))
              / lit(OverlapK.toDouble)) + lit(1e-12)).as("within_3sigma"))
        .orderBy("src_a", "src_b")
    }),

    "x_random_projection" -> ((s, d) => {
      // Johnson–Lindenstrauss distortion gauge: project 64-dim embeddings
      // to 8 dims with a seeded Achlioptas ±1 matrix (components are
      // integer literals generated by the same function for BOTH engines,
      // so projections are bit-identical — the LSH hyperplane precedent),
      // then compare squared pair distances d8²/d64² on the 50 fixed
      // (2i, 2i+1) pairs. E[d8²] = d64² under ±1/√k scaling; the ratio
      // column IS the gauge. Scan-side map per vector (8 codegen'd
      // GraftDot folds), one self-join on the pair spine — no shuffle
      // beyond the join at any scale.
      // sqrt(8.0) computed in-engine on both sides: 8.0 is exact, sqrt is
      // correctly rounded — identical doubles without a decimal literal
      // (decimal literals parse as DECIMAL in both engines' SQL).
      val proj = t(s, d, "embeddings")
        .filter(col("vec_id") < 100)
        .select(Seq(col("vec_id"), col("embedding")) ++
          (0 until RpOutDims).map(j =>
            (dot(col("embedding"), expr(rpVecSpark(j))) / sqrt(lit(8.0)))
              .as(s"p$j")): _*)
        .localCheckpoint()
      val a = proj.select(Seq(col("vec_id").as("id_a"),
        col("embedding").as("ea")) ++
        (0 until RpOutDims).map(j => col(s"p$j").as(s"a$j")): _*)
        .filter(col("id_a") % 2 === 0)
      val b = proj.select(Seq(col("vec_id").as("id_b"),
        col("embedding").as("eb")) ++
        (0 until RpOutDims).map(j => col(s"p$j").as(s"b$j")): _*)
        .filter(col("id_b") % 2 === 1)
      val d8sq = (0 until RpOutDims).map(j =>
        (col(s"a$j") - col(s"b$j")) * (col(s"a$j") - col(s"b$j")))
        .reduce(_ + _)
      a.join(b, col("id_b") === col("id_a") + 1)
        .withColumn("d64sq", l2(col("ea"), col("eb")))
        .withColumn("d8sq", d8sq)
        .select(col("id_a"), col("id_b"),
          detRound(sqrt(col("d64sq")), 6).as("d64"),
          detRound(sqrt(col("d8sq")), 6).as("d8"),
          detRound(col("d8sq") / col("d64sq"), 4).as("sq_ratio"))
        .orderBy("id_a")
    }),

    "x_source_divergence" -> ((s, d) => {
      // per-source Jensen-Shannon divergence against the rest of the
      // corpus (unigram distributions) — the drift/distinctiveness
      // ranking a mixing pipeline watches across snapshots; JSD is
      // symmetric and bounded by ln 2, so scores are comparable across
      // sources. Full (source × vocab) spine so zero-count terms
      // contribute their exact 0; every −x·ln x term is fixed-point
      // quantized before the per-source integer sum. Two grouped counts
      // + a broadcast spine join — vocabulary-sized work per source.
      val toks = t(s, d, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val cst = toks.groupBy("source", "tok").agg(count(lit(1)).as("cst"))
        .localCheckpoint()
      val ct = cst.groupBy("tok").agg(sum(col("cst")).cast("long").as("ct"))
      val ns = cst.groupBy("source").agg(sum(col("cst")).cast("long")
        .as("ns"))
      val nn = ns.agg(sum(col("ns")).cast("long").as("nn"))
      val spine = ns.crossJoin(broadcast(ct)).crossJoin(broadcast(nn))
        .join(cst, Seq("source", "tok"), "left")
        .withColumn("cs", coalesce(col("cst"), lit(0L)))
        .withColumn("p", col("cs") / col("ns"))
        .withColumn("q", (col("ct") - col("cs")) / (col("nn") - col("ns")))
        .withColumn("m", (col("p") + col("q")) / lit(2.0))
      def hterm(c: org.apache.spark.sql.Column) =
        when(c > 0, floor(-(c * log(c)) * 1e12 + 0.5).cast("long"))
          .otherwise(lit(0L))
      spine
        .withColumn("qm", hterm(col("m")))
        .withColumn("qp", hterm(col("p")))
        .withColumn("qq", hterm(col("q")))
        .groupBy(col("source"))
        .agg(max(col("ns")).as("n_tokens"),
          sum(col("qm")).cast("long").as("sm"),
          sum(col("qp")).cast("long").as("sp"),
          sum(col("qq")).cast("long").as("sq"))
        .select(col("source"), col("n_tokens"),
          detRound((col("sm") - (col("sp") + col("sq")) / lit(2.0)) / 1e12,
            8).as("jsd_nats"))
        .orderBy("source")
    }),

    "x_token_entropy" -> ((s, d) => {
      // per-document unigram entropy H = -Σ p·ln p (nats) and its
      // length-normalized form H/ln(dl) — the lexical-diversity quality
      // signal (low entropy = repetitive/templated text; complements
      // x_repetition_scores' positional dup fractions with a
      // distributional one). Per-term -p·ln p is fixed-point quantized
      // before the per-doc sum. Two keyed shuffles ((doc, tok) counts,
      // then doc fold) — scale-clean.
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val c = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val dl = c.groupBy("doc_id").agg(sum(col("c")).cast("long").as("dl"),
        count(lit(1)).as("n_distinct"))
      c.join(dl, "doc_id")
        .withColumn("p", col("c") / col("dl"))
        .withColumn("q",
          floor(-(col("p") * log(col("p"))) * 1e9 + 0.5).cast("long"))
        .groupBy(col("doc_id"))
        .agg(max(col("dl")).as("n_tokens"),
          max(col("n_distinct")).as("n_distinct"),
          sum(col("q")).cast("long").as("sq"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          detRound(col("sq") / 1e9, 6).as("entropy"),
          detRound(when(col("n_tokens") > 1,
              (col("sq") / 1e9) / log(col("n_tokens")))
            .otherwise(lit(0.0)), 6).as("entropy_norm"))
        .orderBy("doc_id")
    }),

    "x_weighted_sample" -> ((s, d) => {
      // deterministic weighted sampling without replacement (Efraimidis &
      // Spirakis 2006, the A-ES one-pass scheme): each doc draws a
      // hash-uniform u ∈ (0,1) from md5 and ranks by key = ln(u)/w,
      // taking the top-50 largest keys — equivalent to u^(1/w) sampling
      // but ln-monotone (one log, no pow). Weight = n_chars, so long
      // docs are proportionally favored; the selection is reproducible
      // across runs and engines (no RNG), and composes with incremental
      // snapshots: a doc's key never changes, so re-sampling a grown
      // corpus keeps prior picks stable except where new docs out-rank
      // them. One scan + one top-k (TakeOrdered at scale, no full sort).
      val u = (conv(substring(md5(concat(lit("ws:"), col("doc_id"))), 1, 12),
        16, 10).cast("long") + lit(0.5)) / lit(281474976710656.0) // 2^48
      t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("w"), u.as("u"))
        .withColumn("key", detRound(log(col("u")) / col("w"), 12))
        .orderBy(desc("key"), asc("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("source"), col("w"),
          detRound(col("key") * 1e3, 6).as("key_milli"))
    }),

    "x_domain_cap" -> ((s, d) => {
      // per-domain document cap (RefinedWeb §3.2's per-domain limits):
      // keep at most 10 docs per source, selected by md5 rank keyed on
      // (source, doc_id) — deterministic, engine-agnostic, reproducible
      // across snapshots (a doc's keep/drop never depends on what else
      // arrived, unlike rank-by-arrival). kept_docid_sum hash-checks the
      // actual selection, not just the counts. One window per source
      // partition — shuffle on source; a skewed mega-domain would use
      // the established chunk-salting path (x_dedup_skew_chunked).
      val wS = Window.partitionBy("source")
        .orderBy(col("rkey"), col("doc_id"))
      t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          md5(concat(col("source"), lit(":"), col("doc_id"))).as("rkey"))
        .withColumn("rn", row_number().over(wS))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") <= 10, 1L).otherwise(0L)).cast("long")
            .as("n_kept"),
          sum(when(col("rn") > 10, 1L).otherwise(0L)).cast("long")
            .as("n_dropped"),
          sum(when(col("rn") <= 10, col("doc_id")).otherwise(0L))
            .cast("long").as("kept_docid_sum"))
        .orderBy("source")
    }),

    "x_zorder_layout" -> ((s, d) => {
      // Z-order (Morton) data layout vs natural insert order — the
      // multi-dimensional clustering every 100 TB lakehouse table needs
      // for data skipping on secondary columns (Delta/Iceberg OPTIMIZE
      // ZORDER). Interleave 12 bits of (l_partkey, l_orderkey) mod 4096,
      // split each layout into 16 equal files (ntile over the layout's
      // total order), and measure per-file min/max spans — exactly the
      // statistics a format's file-skipping index stores. Output: the
      // expected fraction of files a point predicate on each dimension
      // scans under each layout. Integer spans, one final division —
      // engine-exact. At scale this is a sort (range partition) by zval;
      // the gauge itself is two window passes + one grouped min/max.
      val base = t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("ok"),
          col("l_linenumber").cast("long").as("ln"),
          pmod(col("l_partkey").cast("long"), lit(4096L)).as("x"),
          pmod(col("l_orderkey").cast("long"), lit(4096L)).as("y"))
        .withColumn("zval", zvalSpark(col("x"), col("y")))
        .localCheckpoint()
      val linear = base.withColumn("file",
        ntile(ZFiles).over(Window.orderBy(col("ok"), col("ln"))))
        .withColumn("layout", lit("linear"))
      val zorder = base.withColumn("file",
        ntile(ZFiles).over(Window.orderBy(col("zval"), col("ok"), col("ln"))))
        .withColumn("layout", lit("zorder"))
      linear.unionByName(zorder)
        .groupBy("layout", "file")
        .agg((max(col("x")) - min(col("x")) + lit(1L)).as("sx"),
          (max(col("y")) - min(col("y")) + lit(1L)).as("sy"))
        .groupBy("layout")
        .agg(count(lit(1)).as("n_files"),
          sum(col("sx")).cast("long").as("tx"),
          sum(col("sy")).cast("long").as("ty"))
        .select(col("layout"), col("n_files"),
          detRound(col("tx") / lit(ZFiles * 4096.0), 4).as("avg_frac_x"),
          detRound(col("ty") / lit(ZFiles * 4096.0), 4).as("avg_frac_y"),
          detRound(col("tx") / lit(4096.0), 4).as("exp_files_point_x"),
          detRound(col("ty") / lit(4096.0), 4).as("exp_files_point_y"))
        .orderBy("layout")
    }),

    "x_zonemap_prune" -> ((s, d) => {
      // zone-map pruning effectiveness — x_zorder_layout's companion
      // measured END TO END: given a file layout, what fraction of
      // files does a real range predicate on l_shipdate skip, and how
      // many rows does the engine still have to scan per matching row
      // (the scan-amplification factor a 100 TB reader lives or dies
      // by)? Two layouts: insertion order (files cut along l_orderkey —
      // TPC-H orderkeys are date-uncorrelated, so zone maps are useless
      // and every file overlaps the predicate) vs sorted-by-shipdate
      // (files cut along the filter column — pruning approaches the
      // selectivity). File assignment is the scale-safe grouped-
      // histogram cumsum (the r10 pattern): group to one row PER KEY
      // VALUE first, cumsum over that histogram, cut every
      // ZmapRowsPerFile rows. The by_shipdate histogram is bounded (one
      // row per distinct day) but the by_orderkey one grows with data
      // volume, so the cumsum is TWO-PASS PARTITIONED (r11 advice):
      // within-bucket running sums partitioned by a monotone coarse
      // bucket of the key, plus a broadcast bucket-offset table whose
      // cardinality is |keys|/65536 — 4e9 orderkeys shrink to a 61k-row
      // offsets window and no partition holds more than one bucket of
      // histogram rows; ordering by (bucket, k) equals ordering by k,
      // so cumsum values — and the oracle hash — are unchanged. Cutting
      // the cumsum of per-key counts keeps key groups atomic, exactly
      // like a writer emitting sorted row groups; no window ever touches
      // raw lineitem rows. Zone min/max per file are real aggregates of the
      // rows inside, pruning is the standard [zmin, zmax] overlap test.
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_shipdate").as("sd"))
      val lo = lit("1995-01-01 00:00:00").cast("timestamp")
      val hi = lit("1995-03-31 23:59:59").cast("timestamp")
      def files(key: Column, bucketOf: Column => Column,
                label: String): DataFrame = {
        val g = li.groupBy(key.as("k"))
          .agg(count(lit(1)).as("cnt"),
            min(col("sd")).as("mn"), max(col("sd")).as("mx"))
          .withColumn("b", bucketOf(col("k")))
        val wIn = Window.partitionBy("b").orderBy("k")
        val inBucket = g.withColumn("cum_in",
          sum(col("cnt")).over(wIn) - col("cnt"))
        val offsets = g.groupBy("b")
          .agg(sum(col("cnt")).as("btot"))
          .withColumn("off",
            sum(col("btot")).over(Window.orderBy("b")) - col("btot"))
          .select(col("b"), col("off"))
        inBucket.join(broadcast(offsets), "b")
          .withColumn("cumb", col("cum_in") + col("off"))
          .withColumn("file_id",
            expr(s"cumb div ${ZmapRowsPerFile}"))
          .groupBy("file_id")
          .agg(sum(col("cnt")).as("rows"),
            min(col("mn")).as("zmin"), max(col("mx")).as("zmax"))
          .withColumn("layout", lit(label))
      }
      // monotone coarse buckets: 65536 orderkeys per bucket; ~180 days
      // of shipdates per bucket — ordering by (b, k) == ordering by k
      val f = files(col("ok"),
          k => expr("k div 65536"), "by_orderkey")
        .unionByName(files(col("sd"),
          k => floor(unix_timestamp(k) / lit(86400L * 180L)),
          "by_shipdate"))
      val per = f
        .withColumn("scanned", col("zmax") >= lo && col("zmin") <= hi)
        .groupBy("layout")
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("scanned"), 0L).otherwise(1L)).cast("long")
            .as("n_pruned"),
          sum(when(col("scanned"), col("rows")).otherwise(0L))
            .cast("long").as("rows_scanned"))
      val matched = li.filter(col("sd") >= lo && col("sd") <= hi)
        .agg(count(lit(1)).as("rows_matched"))
      per.crossJoin(broadcast(matched))
        .select(col("layout"), col("n_files"), col("n_pruned"),
          (col("n_files") - col("n_pruned")).as("n_files_scanned"),
          col("rows_scanned"), col("rows_matched"),
          detRound(col("n_pruned") / col("n_files").cast("double"), 4)
            .as("prune_frac"))
        .orderBy("layout")
    }),

    "x_textrank_keywords" -> ((s, d) => {
      // TextRank keyword extraction (Mihalcea & Tarau 2004) — PageRank
      // over the word co-occurrence graph, the unsupervised keyword
      // ranker that beats raw frequency by crediting words that co-occur
      // with OTHER central words. Composition of two machines the engine
      // already ships: x_ppmi_embeddings' ±2-window pair counts build
      // the weighted undirected graph (tokens pass the content-word
      // filter [a-z]{4,} — the paper's syntactic filter stand-in), then
      // x_pagerank's quantized ladder runs on it: 6 damped iterations,
      // contribution tr_c·w_cw/wdeg_c 1e12-quantized per edge, rank
      // re-quantized per step so the trajectory is engine-portable.
      // Model state is vocabulary-bounded (the graph is |V|² sparse,
      // broadcast-sized at any corpus size); the one corpus-scale pass
      // is the windowed pair count. Output: top-10 keywords.
      val wOrd = Window.partitionBy("doc_id").orderBy("pos")
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
      val fwd = (1 to 2).map { o =>
        toks.withColumn("ctx", lead(col("tok"), o).over(wOrd))
          .filter(col("ctx").isNotNull)
          .select(col("tok").as("w"), col("ctx").as("c"))
      }.reduce(_.unionByName(_))
      val edges = fwd
        .unionByName(fwd.select(col("c").as("w"), col("w").as("c")))
        .filter(col("w").rlike("^[a-z]{4,}$") &&
          col("c").rlike("^[a-z]{4,}$"))
        .groupBy(col("w"), col("c")).agg(count(lit(1)).as("nwc"))
        .localCheckpoint()
      val wdeg = edges.groupBy(col("w"))
        .agg(sum(col("nwc")).cast("long").as("wd"))
        .localCheckpoint()
      val nodes = wdeg.select(col("w"))
      val n = nodes.count().toDouble
      var tr = nodes.withColumn("tr",
        floor(lit(1.0 / n) * 1e12 + 0.5) / 1e12)
        .localCheckpoint()
      for (_ <- 1 to 6) {
        val contrib = edges
          .join(tr, "w").join(wdeg, "w")
          .select(col("c").as("w"),
            floor(col("tr") * col("nwc") / col("wd") * 1e12 + 0.5)
              .cast("long").as("q"))
          .groupBy("w").agg(sum(col("q")).cast("long").as("sq"))
        tr = nodes.join(contrib, Seq("w"), "left")
          .select(col("w"),
            (floor((lit(0.15 / n)
              + lit(0.85) * (coalesce(col("sq"), lit(0L)) / 1e12))
              * 1e12 + 0.5) / 1e12).as("tr"))
          .localCheckpoint()
      }
      tr.join(wdeg, "w")
        .select(col("w").as("keyword"),
          (floor(col("tr") * 1e10 + 0.5) / 1e10).as("textrank"),
          col("wd").as("weighted_degree"))
        .orderBy(desc("textrank"), asc("keyword"))
        .limit(10)
    }))

  def oracleSql: Map[String, String] = Map(

    "x_good_turing" ->
      s"""WITH $shingleFofSql,
         tot AS (
           SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
                  CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END)
                       AS BIGINT) AS n1
           FROM fof)
         SELECT f.r, f.n_r,
                floor((f.r + 1) * CAST(nx.n_r AS DOUBLE)
                      / CAST(f.n_r AS DOUBLE) * 1e6 + 0.5) / 1e6
                  AS gt_r_star,
                floor(CAST(t.n1 AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
                      * 1e8 + 0.5) / 1e8 AS unseen_mass
         FROM fof f
         LEFT JOIN fof nx ON nx.r = f.r + 1
         CROSS JOIN tot t
         WHERE f.r <= 10 ORDER BY f.r""",

    "x_chao1_vocab" ->
      s"""WITH $shingleFofSql,
         agg AS (
           SELECT CAST(SUM(n_r) AS BIGINT) AS v_obs,
                  CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
                  CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END)
                       AS BIGINT) AS n1,
                  CAST(SUM(CASE WHEN r = 2 THEN n_r ELSE 0 END)
                       AS BIGINT) AS n2
           FROM fof)
         SELECT v_obs, n_tokens, n1, n2,
                floor((v_obs + CAST(n1 AS DOUBLE) * (n1 - 1)
                       / (2.0 * (n2 + 1))) * 1e2 + 0.5) / 1e2
                  AS chao1_vocab,
                floor((1.0 - CAST(n1 AS DOUBLE)
                       / CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
                  AS good_coverage
         FROM agg""",

    "x_capture_recapture" ->
      """WITH docs AS MATERIALIZED (
           SELECT doc_id, sha256(text) AS h FROM documents),
         a AS (SELECT h FROM docs WHERE doc_id % 3 <> 0),
         b AS (SELECT h AS hb FROM docs WHERE doc_id % 2 = 0),
         na AS (SELECT COUNT(*) AS n_a FROM a),
         nb AS (SELECT COUNT(*) AS n_b FROM b),
         m AS (SELECT COUNT(*) AS m_overlap
               FROM a JOIN b ON a.h = b.hb),
         truth AS (SELECT COUNT(*) AS true_n FROM docs)
         SELECT n_a, n_b, m_overlap,
                floor((CAST(n_a + 1 AS DOUBLE) * (n_b + 1)
                       / (m_overlap + 1) - 1.0) * 1e2 + 0.5) / 1e2
                  AS chapman_nhat,
                floor(sqrt(CAST(n_a + 1 AS DOUBLE) * (n_b + 1)
                           * (n_a - m_overlap) * (n_b - m_overlap)
                           / (CAST(m_overlap + 1 AS DOUBLE)
                              * (m_overlap + 1) * (m_overlap + 2)))
                      * 1e4 + 0.5) / 1e4 AS chapman_se,
                true_n
         FROM na, nb, m, truth""",

    "x_compaction_plan" ->
      """WITH manifest AS (
           SELECT doc_id // 20 AS file_id, COUNT(*) AS n_docs,
                  CAST(SUM(n_chars) AS BIGINT) AS bytes
           FROM documents GROUP BY 1),
         cum AS (
           SELECT file_id, n_docs, bytes,
                  COALESCE(SUM(bytes) OVER (ORDER BY file_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum0
           FROM manifest)
         SELECT CAST(cum0 // 16384 AS BIGINT) AS bin,
                COUNT(*) AS n_files,
                CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                CAST(SUM(bytes) AS BIGINT) AS bytes,
                MIN(file_id) AS first_file,
                MAX(file_id) AS last_file,
                floor(CAST(SUM(bytes) AS DOUBLE) / 16384 * 1e4 + 0.5)
                  / 1e4 AS fill_pct
         FROM cum GROUP BY 1 ORDER BY 1""",

    "x_reservoir_sample" ->
      """SELECT doc_id, lang, source,
                md5(CAST(doc_id AS VARCHAR)) AS priority
         FROM documents
         ORDER BY priority, doc_id LIMIT 100""",

    "x_token_budget" ->
      """WITH per AS (
           SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                    AS tokens
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tt,
                        COUNT(*) AS k
                 FROM per),
         st AS (
           SELECT p.source, p.n_docs, p.tokens, t.tt,
                  CAST(t.tt * 4 AS DOUBLE) / t.k AS target_tokens
           FROM per p CROSS JOIN tot t)
         SELECT source, n_docs, tokens,
                floor(CAST(tokens AS DOUBLE) / CAST(tt AS DOUBLE)
                      * 1e6 + 0.5) / 1e6 AS corpus_share,
                floor(target_tokens * 1e2 + 0.5) / 1e2 AS target_tokens,
                floor(target_tokens / tokens * 1e4 + 0.5) / 1e4
                  AS epochs,
                target_tokens / tokens > 4.0 AS over_epoch_cap
         FROM st ORDER BY source""",

    "x_bm25" ->
      s"""WITH $bm25ScoredSql
          SELECT doc_id, n_terms_matched,
                 floor((sq / 1e9) * 1e6 + 0.5) / 1e6 AS score
          FROM bq
          ORDER BY score DESC, doc_id LIMIT 15""",

    "x_ndcg_eval" ->
      s"""WITH $bm25ScoredSql,
          rel AS MATERIALIZED (
            SELECT doc_id,
                   CAST(least(len(list_filter(string_split(text, ' '),
                     x -> x = 'dup')), 3) AS BIGINT) AS rel
            FROM documents),
          ranked AS (
            SELECT r.rank,
                   CASE COALESCE(l.rel, 0) WHEN 0 THEN 0 WHEN 1 THEN 1
                        WHEN 2 THEN 3 ELSE 7 END AS g
            FROM (SELECT doc_id,
                         CAST(row_number() OVER (ORDER BY sq DESC, doc_id)
                           AS BIGINT) AS rank
                  FROM bq) r
            LEFT JOIN rel l USING (doc_id)
            WHERE r.rank <= 10),
          dcg AS (
            SELECT CAST(SUM(CAST(floor(g / ln(rank + 1) * 1e9 + 0.5)
                     AS BIGINT)) AS BIGINT) AS qdcg
            FROM ranked),
          ideal AS (
            SELECT CAST(SUM(CAST(floor(g / ln(rank + 1) * 1e9 + 0.5)
                     AS BIGINT)) AS BIGINT) AS qidcg
            FROM (SELECT CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1
                              WHEN 2 THEN 3 ELSE 7 END AS g,
                         CAST(row_number() OVER (ORDER BY rel DESC, doc_id)
                           AS BIGINT) AS rank
                  FROM rel)
            WHERE rank <= 10),
          nr AS (SELECT COUNT(*) AS n_rel_docs FROM rel WHERE rel > 0)
          SELECT n_rel_docs,
                 floor(qdcg / 1e9 * 1e6 + 0.5) / 1e6 AS dcg10,
                 floor(qidcg / 1e9 * 1e6 + 0.5) / 1e6 AS idcg10,
                 CASE WHEN qidcg = 0 THEN 0.0
                      ELSE floor(CAST(qdcg AS DOUBLE) / qidcg * 1e6 + 0.5)
                           / 1e6
                 END AS ndcg10
          FROM nr CROSS JOIN dcg CROSS JOIN ideal""",

    "x_err_eval" -> {
      val stopProd = (1 to 9)
        .map(j => s"COALESCE(lag(m8, $j) OVER win, 1)")
        .mkString(" * ")
      val denomCase = (1 to 10).map { r =>
        s"WHEN rank = $r THEN ${r.toLong * math.pow(8.0, r.toDouble).toLong}"
      }.mkString(" ")
      s"""WITH $bm25ScoredSql,
          rel AS MATERIALIZED (
            SELECT doc_id,
                   CAST(least(len(list_filter(string_split(text, ' '),
                     x -> x = 'dup')), 3) AS BIGINT) AS rel
            FROM documents),
          ranked AS (
            SELECT r.rank, COALESCE(l.rel, 0) AS rel,
                   CAST(CASE COALESCE(l.rel, 0) WHEN 0 THEN 0
                        WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END
                     AS BIGINT) AS num,
                   8 - CAST(CASE COALESCE(l.rel, 0) WHEN 0 THEN 0
                        WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END
                     AS BIGINT) AS m8
            FROM (SELECT doc_id,
                         CAST(row_number() OVER (ORDER BY sq DESC, doc_id)
                           AS BIGINT) AS rank
                  FROM bq) r
            LEFT JOIN rel l USING (doc_id)
            WHERE r.rank <= 10),
          lad AS (
            SELECT rank, rel, num,
                   $stopProd AS pstop
            FROM ranked
            WINDOW win AS (ORDER BY rank)),
          agg AS (
            SELECT CAST(SUM(CAST(floor(CAST(num * pstop AS DOUBLE)
                     / (CASE $denomCase END) * 1e12 + 0.5) AS BIGINT))
                     AS BIGINT) AS qerr,
                   CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_rel_top10
            FROM lad),
          nr AS (SELECT COUNT(*) AS n_rel_docs FROM rel WHERE rel > 0)
          SELECT n_rel_docs, n_rel_top10,
                 floor(qerr / 1e12 * 1e6 + 0.5) / 1e6 AS err10
          FROM nr CROSS JOIN agg"""
    },

    "x_map_eval" ->
      s"""WITH $bm25ScoredSql,
          rel AS MATERIALIZED (
            SELECT doc_id, CAST(1 AS BIGINT) AS rel
            FROM documents
            WHERE len(list_filter(string_split(text, ' '),
              x -> x = 'dup')) >= 2),
          ranked AS (
            SELECT r.rank, COALESCE(l.rel, 0) AS rel
            FROM (SELECT doc_id,
                         CAST(row_number() OVER (ORDER BY sq DESC, doc_id)
                           AS BIGINT) AS rank
                  FROM bq) r
            LEFT JOIN rel l USING (doc_id)
            WHERE r.rank <= 10),
          cum AS (
            SELECT rank, rel,
                   CAST(SUM(rel) OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cumrel
            FROM ranked),
          agg AS (
            SELECT CAST(SUM(CASE WHEN rel = 1
                     THEN CAST(floor(CAST(cumrel AS DOUBLE) / rank
                          * 1e12 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS qap,
                   MAX(CASE WHEN rank = 5 THEN cumrel END) AS c5,
                   MAX(CASE WHEN rank = 10 THEN cumrel END) AS c10,
                   CAST(SUM(rel) AS BIGINT) AS n_rel_top10
            FROM cum),
          nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rel_docs FROM rel)
          SELECT n_rel_docs, n_rel_top10,
                 CASE WHEN least(n_rel_docs, 10) = 0 THEN 0.0
                      ELSE floor(CAST(qap AS DOUBLE) / 1e12
                           / least(n_rel_docs, 10) * 1e6 + 0.5) / 1e6
                 END AS ap10,
                 floor(CAST(c5 AS DOUBLE) / 5.0 * 1e6 + 0.5) / 1e6
                   AS p_at_5,
                 floor(CAST(c10 AS DOUBLE) / 10.0 * 1e6 + 0.5) / 1e6
                   AS p_at_10
          FROM nr CROSS JOIN agg""",

    "x_rrf_fusion" ->
      s"""WITH $bm25ScoredSql,
          bmtop AS (
            SELECT id, rank_bm FROM (
              SELECT doc_id AS id,
                     CAST(row_number() OVER (ORDER BY sq DESC, doc_id)
                       AS BIGINT) AS rank_bm
              FROM bq)
            WHERE rank_bm <= 30),
          nrm AS (
            SELECT vec_id,
                   sqrt(${SimilarityOps.dotSql("embedding", "embedding")})
                     AS nrm
            FROM embeddings),
          sc AS (
            SELECT c.vec_id AS id,
                   CAST(floor(
                     ${SimilarityOps.dotSql("q.embedding", "c.embedding")}
                     / (nq.nrm * nc.nrm) * 1e6 + 0.5) AS BIGINT) AS qcos
            FROM embeddings c
            CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            JOIN nrm nq ON nq.vec_id = 0
            JOIN nrm nc ON nc.vec_id = c.vec_id
            WHERE c.vec_id <> 0),
          costop AS (
            SELECT id, rank_cos FROM (
              SELECT id,
                     CAST(row_number() OVER (ORDER BY qcos DESC, id)
                       AS BIGINT) AS rank_cos
              FROM sc)
            WHERE rank_cos <= 30),
          f AS (
            SELECT COALESCE(b.id, c.id) AS id, b.rank_bm, c.rank_cos,
                   COALESCE(CAST(floor(1e9 / (60 + b.rank_bm) + 0.5)
                     AS BIGINT), 0)
                   + COALESCE(CAST(floor(1e9 / (60 + c.rank_cos) + 0.5)
                     AS BIGINT), 0) AS qrrf
            FROM bmtop b FULL OUTER JOIN costop c ON b.id = c.id),
          g AS (
            SELECT id, rank_bm, rank_cos, qrrf,
                   CAST(row_number() OVER (ORDER BY qrrf DESC, id)
                     AS BIGINT) AS fused_rank
            FROM f)
          SELECT fused_rank, id, rank_bm, rank_cos,
                 floor(qrrf / 1e9 * 1e6 + 0.5) / 1e6 AS rrf_score
          FROM g WHERE fused_rank <= 15 ORDER BY fused_rank""",

    "x_prf_expansion" ->
      s"""WITH toks AS MATERIALIZED (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
          dl AS MATERIALIZED (
            SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
          stats AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) / COUNT(*) AS avgdl FROM dl),
          osc AS MATERIALIZED (
            SELECT t.doc_id, CAST(SUM(CAST(floor(
                     ln((s.n_docs - f.df + CAST(0.5 AS DOUBLE))
                        / (f.df + CAST(0.5 AS DOUBLE))
                        + CAST(1.0 AS DOUBLE))
                     * (t.tf * CAST(2.2 AS DOUBLE))
                     / (t.tf + CAST(1.2 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * (l.dl / s.avgdl)))
                     * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sq
            FROM (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
                  WHERE list_contains($bm25TermsDuck, tok)
                  GROUP BY 1, 2) t
            JOIN (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks
                  WHERE list_contains($bm25TermsDuck, tok)
                  GROUP BY 1) f USING (tok)
            JOIN dl l USING (doc_id)
            CROSS JOIN stats s
            GROUP BY 1),
          otop AS MATERIALIZED (
            SELECT doc_id, sq FROM osc
            ORDER BY sq DESC, doc_id LIMIT 10),
          top5 AS (SELECT doc_id FROM otop
                   ORDER BY sq DESC, doc_id LIMIT 5),
          nd AS (SELECT COUNT(*) AS nd FROM documents),
          dfall AS (SELECT tok, COUNT(DISTINCT doc_id) AS dfa
                    FROM toks GROUP BY 1),
          fb AS (
            SELECT k.tok,
                   k.ftf * CAST(floor(ln(CAST(n.nd AS DOUBLE) / a.dfa)
                     * 1e9 + 0.5) AS BIGINT) AS qw
            FROM (SELECT t.tok, COUNT(*) AS ftf
                  FROM toks t JOIN top5 USING (doc_id)
                  WHERE NOT list_contains($bm25TermsDuck, t.tok)
                  GROUP BY 1) k
            JOIN dfall a USING (tok) CROSS JOIN nd n),
          exp3 AS MATERIALIZED (
            SELECT tok, qw FROM fb ORDER BY qw DESC, tok LIMIT 3),
          expstr AS (
            SELECT string_agg(tok, ',' ORDER BY qw DESC, tok)
                     AS expansion_terms
            FROM exp3),
          allterms AS (
            SELECT UNNEST($bm25TermsDuck) AS tok
            UNION ALL SELECT tok FROM exp3),
          esc AS (
            SELECT t.doc_id, CAST(SUM(CAST(floor(
                     ln((s.n_docs - f.df + CAST(0.5 AS DOUBLE))
                        / (f.df + CAST(0.5 AS DOUBLE))
                        + CAST(1.0 AS DOUBLE))
                     * (t.tf * CAST(2.2 AS DOUBLE))
                     / (t.tf + CAST(1.2 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * (l.dl / s.avgdl)))
                     * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sq
            FROM (SELECT k.doc_id, k.tok, COUNT(*) AS tf
                  FROM toks k JOIN allterms USING (tok)
                  GROUP BY 1, 2) t
            JOIN (SELECT k.tok, COUNT(DISTINCT k.doc_id) AS df
                  FROM toks k JOIN allterms USING (tok)
                  GROUP BY 1) f USING (tok)
            JOIN dl l USING (doc_id)
            CROSS JOIN stats s
            GROUP BY 1),
          etop AS (
            SELECT doc_id, sq,
                   CAST(row_number() OVER (ORDER BY sq DESC, doc_id)
                     AS BIGINT) AS rank
            FROM esc ORDER BY sq DESC, doc_id LIMIT 10)
          SELECT e.rank, e.doc_id,
                 floor(e.sq / 1e9 * 1e6 + 0.5) / 1e6 AS score,
                 CAST(CASE WHEN o.doc_id IS NULL THEN 0 ELSE 1 END
                   AS BIGINT) AS in_orig_top10,
                 x.expansion_terms
          FROM etop e
          LEFT JOIN otop o ON o.doc_id = e.doc_id
          CROSS JOIN expstr x
          ORDER BY e.rank""",

    "x_maxscore_prune" ->
      s"""WITH $bm25ScoredSql,
          docsq AS MATERIALIZED (
            SELECT doc_id, CAST(SUM(q) AS BIGINT) AS sq
            FROM scored GROUP BY 1),
          ub AS MATERIALIZED (
            SELECT tok, CAST(MAX(q) AS BIGINT) AS ub
            FROM scored GROUP BY 1),
          seedterm AS (
            SELECT tok FROM ub ORDER BY ub DESC, tok LIMIT 1),
          seeddocs AS MATERIALIZED (
            SELECT DISTINCT s.doc_id
            FROM scored s JOIN seedterm USING (tok)),
          theta AS (
            SELECT CASE WHEN COUNT(*) < 10
                        THEN CAST(-9223372036854775808 AS BIGINT)
                        ELSE CAST(MIN(sq) AS BIGINT) END AS th
            FROM (SELECT d.sq FROM docsq d JOIN seeddocs USING (doc_id)
                  ORDER BY d.sq DESC, d.doc_id LIMIT 10)),
          bound AS (
            SELECT s.doc_id, CAST(SUM(u.ub) AS BIGINT) AS sub
            FROM scored s JOIN ub u USING (tok)
            GROUP BY 1),
          survivors AS MATERIALIZED (
            SELECT b.doc_id FROM bound b CROSS JOIN theta t
            WHERE b.sub >= t.th),
          fulltop AS (
            SELECT doc_id FROM docsq
            ORDER BY sq DESC, doc_id LIMIT 10),
          prunedtop AS (
            SELECT d.doc_id FROM docsq d JOIN survivors USING (doc_id)
            ORDER BY d.sq DESC, d.doc_id LIMIT 10),
          missed AS (
            SELECT COUNT(*) AS n_missed
            FROM fulltop f
            LEFT JOIN prunedtop p ON p.doc_id = f.doc_id
            WHERE p.doc_id IS NULL)
          SELECT (SELECT COUNT(*) FROM docsq) AS n_matched,
                 (SELECT COUNT(*) FROM seeddocs) AS n_seed,
                 (SELECT COUNT(*) FROM survivors) AS n_survivors,
                 floor((CAST(1.0 AS DOUBLE)
                        - CAST((SELECT COUNT(*) FROM survivors) AS DOUBLE)
                          / (SELECT COUNT(*) FROM docsq))
                       * 1e6 + 0.5) / 1e6 AS prune_frac,
                 floor((SELECT CAST(th AS DOUBLE) FROM theta) / 1e9
                       * 1e6 + 0.5) / 1e6 AS theta_score,
                 CAST(CASE WHEN (SELECT n_missed FROM missed) = 0
                      THEN 1 ELSE 0 END AS BIGINT) AS top10_match""",

    "x_mrr_eval" ->
      s"""WITH $bm25ScoredSql,
          ranked AS (
            SELECT doc_id, rank FROM (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY sq DESC, doc_id)
                       AS BIGINT) AS rank
              FROM bq)
            WHERE rank <= 100),
          rel AS (
            SELECT doc_id FROM documents
            WHERE list_contains(string_split(text, ' '), 'dup')),
          agg AS (
            SELECT MIN(r.rank) AS first_rel_rank,
                   CAST(SUM(CASE WHEN r.rank <= 10 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_rel_top10
            FROM ranked r JOIN rel USING (doc_id))
          SELECT COALESCE(first_rel_rank, 0) AS first_rel_rank,
                 floor(CASE WHEN first_rel_rank IS NULL
                            THEN CAST(0.0 AS DOUBLE)
                            ELSE CAST(1.0 AS DOUBLE) / first_rel_rank
                       END * 1e6 + 0.5) / 1e6 AS mrr,
                 COALESCE(n_rel_top10, 0) AS n_rel_top10
          FROM agg""",

    "x_best_passage" ->
      s"""WITH $bm25ScoredSql,
          top5 AS (
            SELECT doc_id FROM bq ORDER BY sq DESC, doc_id LIMIT 5),
          docs2 AS (
            SELECT d.doc_id, string_split(d.text, ' ') AS tk
            FROM documents d JOIN top5 USING (doc_id)),
          chunks AS (
            SELECT doc_id, cid,
                   tk[cid * 25 + 1 : cid * 25 + 50] AS chunk
            FROM (SELECT doc_id, tk,
                         unnest(range(0,
                           CAST(greatest(0, ceil((len(tk) - 25) / 25.0)
                                - 1) AS BIGINT) + 1)) AS cid
                  FROM docs2)),
          ctoks AS (
            SELECT doc_id, cid, len(chunk) AS n_tokens,
                   unnest(chunk) AS tok
            FROM chunks),
          idf AS (
            SELECT f.tok,
                   CAST(floor(ln((s.n_docs - f.df + CAST(0.5 AS DOUBLE))
                          / (f.df + CAST(0.5 AS DOUBLE))
                          + CAST(1.0 AS DOUBLE)) * 1e9 + 0.5)
                        AS BIGINT) AS qidf
            FROM dfq f CROSS JOIN stats s),
          sc AS (
            SELECT c.doc_id, c.cid, c.n_tokens, COUNT(*) AS n_hits,
                   CAST(SUM(i.qidf) AS BIGINT) AS qsc
            FROM ctoks c JOIN idf i ON i.tok = c.tok
            GROUP BY 1, 2, 3),
          best AS (
            SELECT * FROM (
              SELECT doc_id, cid, n_tokens, n_hits, qsc,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY qsc DESC, cid) AS rn
              FROM sc)
            WHERE rn = 1)
          SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
                 CAST(n_tokens AS BIGINT) AS n_tokens, n_hits,
                 floor(qsc / 1e9 * 1e6 + 0.5) / 1e6 AS passage_score
          FROM best ORDER BY doc_id""",

    "x_negative_sampling" ->
      """WITH toks AS MATERIALIZED (
           SELECT doc_id, pos, tk[pos + 1] AS tok
           FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents))),
         p1 AS (
           SELECT doc_id, pos, tok AS center,
                  lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                    AS context
           FROM toks WHERE doc_id < 3),
         p2 AS (
           SELECT doc_id, pos, tok AS center,
                  lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                    AS context
           FROM toks WHERE doc_id < 3),
         posu AS MATERIALIZED (
           SELECT * FROM p1 WHERE context IS NOT NULL
           UNION ALL
           SELECT * FROM p2 WHERE context IS NOT NULL),
         uni AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
         cdf AS MATERIALIZED (
           SELECT tok,
                  CAST(floor(sqrt(cnt * sqrt(cnt)) * 1e6 + 0.5)
                       AS BIGINT) AS w,
                  CAST(SUM(CAST(floor(sqrt(cnt * sqrt(cnt)) * 1e6 + 0.5)
                       AS BIGINT)) OVER (ORDER BY tok
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS hi
           FROM uni),
         cdf2 AS (SELECT tok, hi - w AS lo, hi FROM cdf),
         tt AS (SELECT MAX(hi) AS tt FROM cdf2),
         anchors AS (
           SELECT DISTINCT doc_id, pos, center FROM posu),
         draws AS (
           SELECT a.doc_id, a.pos, a.center,
                  CAST(('0x' || substr(md5('ns:' || a.doc_id || ':'
                         || a.pos || ':' || j.j), 1, 12)) AS BIGINT)
                    % t.tt AS u
           FROM anchors a
           CROSS JOIN (SELECT unnest(range(0, 2)) AS j) j
           CROSS JOIN tt t),
         negs AS (
           SELECT d.doc_id, d.pos, d.center, c.tok AS context,
                  CAST(0 AS BIGINT) AS label
           FROM draws d
           JOIN cdf2 c ON d.u >= c.lo AND d.u < c.hi)
         SELECT doc_id, pos, center, context, CAST(1 AS BIGINT) AS label
         FROM posu
         UNION ALL
         SELECT doc_id, pos, center, context, label FROM negs
         ORDER BY doc_id, pos, label DESC, context""",

    "x_hll_set_ops" ->
      """WITH sh AS MATERIALIZED (
           SELECT DISTINCT source,
                  tk[pos + 1] || ' ' || tk[pos + 2] || ' ' || tk[pos + 3]
                    AS sh
           FROM (SELECT source, tk, unnest(range(0, len(tk) - 2)) AS pos
                 FROM (SELECT source, string_split(text, ' ') AS tk
                       FROM documents
                       WHERE source IN ('src0', 'src1', 'src2'))))
         SELECT p.sa || '|' || p.sb AS pair,
                COUNT(DISTINCT CASE WHEN s.source = p.sa THEN s.sh END)
                  AS n_a,
                COUNT(DISTINCT CASE WHEN s.source = p.sb THEN s.sh END)
                  AS n_b,
                COUNT(DISTINCT s.sh) AS n_union,
                COUNT(DISTINCT CASE WHEN s.source = p.sa THEN s.sh END)
                  + COUNT(DISTINCT CASE WHEN s.source = p.sb THEN s.sh END)
                  - COUNT(DISTINCT s.sh) AS n_inter,
                CAST(1 AS BIGINT) AS hll_inter_within_bound
         FROM (VALUES ('src0', 'src1'), ('src0', 'src2'),
                      ('src1', 'src2')) AS p(sa, sb)
         JOIN sh s ON s.source = p.sa OR s.source = p.sb
         GROUP BY p.sa, p.sb
         ORDER BY pair""",

    "x_ppmi_embeddings" ->
      """WITH toks AS MATERIALIZED (
           SELECT doc_id, pos, tk[pos + 1] AS tok
           FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents))),
         fwd AS (
           SELECT tok AS w,
                  lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS c
           FROM toks
           UNION ALL
           SELECT tok AS w,
                  lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS c
           FROM toks),
         pairs AS MATERIALIZED (
           SELECT w, c, COUNT(*) AS nwc FROM (
             SELECT w, c FROM fwd WHERE c IS NOT NULL
             UNION ALL
             SELECT c AS w, w AS c FROM fwd WHERE c IS NOT NULL)
           GROUP BY 1, 2),
         mw AS (SELECT w, CAST(SUM(nwc) AS BIGINT) AS nw
                FROM pairs GROUP BY 1),
         tot AS (SELECT CAST(SUM(nwc) AS BIGINT) AS tt FROM pairs),
         vecs AS MATERIALIZED (
           SELECT w, c, qp FROM (
             SELECT p.w, p.c,
                    greatest(CAST(0 AS BIGINT),
                      CAST(floor(ln((CAST(p.nwc AS DOUBLE) / a.nw)
                             * (CAST(t.tt AS DOUBLE) / b.nw))
                           * 1e6 + 0.5) AS BIGINT)) AS qp
             FROM pairs p
             JOIN mw a ON a.w = p.w
             JOIN mw b ON b.w = p.c
             CROSS JOIN tot t)
           WHERE qp > 0),
         nrm AS (SELECT w, CAST(SUM(qp * qp) AS BIGINT) AS s
                 FROM vecs GROUP BY 1),
         dots AS (
           SELECT a.w AS w1, b.w AS w2,
                  CAST(SUM(a.qp * b.qp) AS BIGINT) AS s12
           FROM vecs a JOIN vecs b ON a.c = b.c AND a.w < b.w
           GROUP BY 1, 2)
         SELECT d.w1, d.w2,
                floor(CAST(d.s12 AS DOUBLE)
                      / sqrt(CAST(n1.s AS DOUBLE) * CAST(n2.s AS DOUBLE))
                      * 1e6 + 0.5) / 1e6 AS cos_sim
         FROM dots d
         JOIN nrm n1 ON n1.w = d.w1
         JOIN nrm n2 ON n2.w = d.w2
         ORDER BY cos_sim DESC, w1, w2 LIMIT 15""",

    "x_collocations" ->
      """WITH toks AS MATERIALIZED (
           SELECT doc_id, pos, tk[pos + 1] AS tok
           FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS pos
                 FROM (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents))),
         uni AS MATERIALIZED (
           SELECT tok, COUNT(*) AS cx FROM toks GROUP BY 1),
         tuni AS (SELECT CAST(SUM(cx) AS BIGINT) AS tu FROM uni),
         bi AS MATERIALIZED (
           SELECT tok AS w1, nxt AS w2, COUNT(*) AS cxy
           FROM (SELECT doc_id, tok,
                        lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                          AS nxt
                 FROM toks)
           WHERE nxt IS NOT NULL GROUP BY 1, 2),
         tbi AS (SELECT CAST(SUM(cxy) AS BIGINT) AS tb FROM bi)
         SELECT w1, w2, cxy,
                floor(ln((cxy / tb)
                         / ((u1.cx / tu) * (u2.cx / tu))) * 1e6 + 0.5) / 1e6
                  AS pmi
         FROM bi CROSS JOIN tbi CROSS JOIN tuni
         JOIN uni u1 ON u1.tok = w1
         JOIN uni u2 ON u2.tok = w2
         WHERE cxy >= ceil(tb / CAST(1000.0 AS DOUBLE))
         ORDER BY pmi DESC, w1, w2 LIMIT 20""",

    "x_source_overlap" -> {
      s"""WITH tk AS (
            SELECT source, string_split(text, ' ') AS tk FROM documents),
          sets AS MATERIALIZED (
            SELECT DISTINCT source, sh
            FROM (SELECT source,
                         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
                  FROM (SELECT source, tk,
                               unnest(range(1, len(tk) - 1)) AS i
                        FROM tk WHERE len(tk) >= 3))),
          counts AS MATERIALIZED (
            SELECT source, COUNT(*) AS n FROM sets GROUP BY 1),
          inter AS MATERIALIZED (
            SELECT a.source AS src_a, b.source AS src_b,
                   COUNT(*) AS inter
            FROM sets a JOIN sets b
              ON a.sh = b.sh AND a.source < b.source
            GROUP BY 1, 2),
          sig AS MATERIALIZED (
            SELECT source, j,
                   MIN(substr(md5(j || '|' || sh), 1, 12)) AS mh
            FROM sets, (SELECT unnest(range(0, $OverlapK)) AS j)
            GROUP BY 1, 2),
          mt AS MATERIALIZED (
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                        AS BIGINT) AS m
            FROM sig a JOIN sig b
              ON a.j = b.j AND a.source < b.source
            GROUP BY 1, 2),
          pairs AS (
            SELECT a.source AS src_a, a.n AS n_a,
                   b.source AS src_b, b.n AS n_b
            FROM counts a JOIN counts b ON a.source < b.source)
          SELECT src_a, src_b, n_a, n_b,
                 floor(ej * 1e6 + 0.5) / 1e6 AS exact_j,
                 floor(sj * 1e6 + 0.5) / 1e6 AS est_j,
                 floor(abs(sj - ej) * 1e6 + 0.5) / 1e6 AS abs_err,
                 abs(sj - ej) <= CAST(3.0 AS DOUBLE)
                   * sqrt(ej * (CAST(1.0 AS DOUBLE) - ej)
                          / CAST($OverlapK AS DOUBLE)) + 1e-12
                   AS within_3sigma
          FROM (
            SELECT p.src_a, p.src_b, p.n_a, p.n_b,
                   COALESCE(i.inter, 0)
                     / (p.n_a + p.n_b - COALESCE(i.inter, 0)) AS ej,
                   COALESCE(m.m, 0) / CAST($OverlapK AS DOUBLE) AS sj
            FROM pairs p
            LEFT JOIN inter i
              ON i.src_a = p.src_a AND i.src_b = p.src_b
            LEFT JOIN mt m
              ON m.src_a = p.src_a AND m.src_b = p.src_b)
          ORDER BY src_a, src_b"""
    },

    "x_random_projection" -> {
      val projDefs = (0 until RpOutDims).map { j =>
        s"""list_sum(list_transform(range(1, 65),
            i -> CAST(embedding[i] AS DOUBLE) * (${rpVecDuck(j)})[i]))
            / sqrt(CAST(8.0 AS DOUBLE)) AS p$j"""
      }.mkString(", ")
      val d8 = (0 until RpOutDims).map(j =>
        s"(a.p$j - b.p$j) * (a.p$j - b.p$j)").mkString(" + ")
      val l2 = """list_sum(list_transform(range(1, 65),
          i -> (CAST(a.embedding[i] AS DOUBLE)
                - CAST(b.embedding[i] AS DOUBLE)) *
               (CAST(a.embedding[i] AS DOUBLE)
                - CAST(b.embedding[i] AS DOUBLE))))"""
      s"""WITH proj AS MATERIALIZED (
            SELECT vec_id, embedding, $projDefs
            FROM embeddings WHERE vec_id < 100)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 floor(sqrt($l2) * 1e6 + 0.5) / 1e6 AS d64,
                 floor(sqrt($d8) * 1e6 + 0.5) / 1e6 AS d8,
                 floor((($d8) / ($l2)) * 1e4 + 0.5) / 1e4 AS sq_ratio
          FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
          WHERE a.vec_id % 2 = 0
          ORDER BY id_a"""
    },

    "x_source_divergence" ->
      """WITH toks AS (
           SELECT source, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         cst AS MATERIALIZED (
           SELECT source, tok, COUNT(*) AS cst FROM toks GROUP BY 1, 2),
         ct AS (SELECT tok, CAST(SUM(cst) AS BIGINT) AS ct
                FROM cst GROUP BY 1),
         ns AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS ns
                FROM cst GROUP BY 1),
         nn AS (SELECT CAST(SUM(ns) AS BIGINT) AS nn FROM ns),
         spine AS (
           SELECT s.source, s.ns, t.ct, nn.nn,
                  COALESCE(c.cst, 0) AS cs
           FROM ns s CROSS JOIN ct t CROSS JOIN nn
           LEFT JOIN cst c ON c.source = s.source AND c.tok = t.tok),
         terms AS (
           SELECT source, ns,
                  CASE WHEN m > 0
                       THEN CAST(floor(-(m * ln(m)) * 1e12 + 0.5) AS BIGINT)
                       ELSE 0 END AS qm,
                  CASE WHEN p > 0
                       THEN CAST(floor(-(p * ln(p)) * 1e12 + 0.5) AS BIGINT)
                       ELSE 0 END AS qp,
                  CASE WHEN q > 0
                       THEN CAST(floor(-(q * ln(q)) * 1e12 + 0.5) AS BIGINT)
                       ELSE 0 END AS qq
           FROM (SELECT source, ns, p, q,
                        (p + q) / CAST(2.0 AS DOUBLE) AS m
                 FROM (SELECT source, ns,
                              cs / ns AS p,
                              (ct - cs) / (nn - ns) AS q
                       FROM spine)))
         SELECT source, MAX(ns) AS n_tokens,
                floor(((CAST(SUM(qm) AS BIGINT)
                        - (CAST(SUM(qp) AS BIGINT)
                           + CAST(SUM(qq) AS BIGINT))
                          / CAST(2.0 AS DOUBLE)) / 1e12) * 1e8 + 0.5) / 1e8
                  AS jsd_nats
         FROM terms GROUP BY 1 ORDER BY source""",

    "x_token_entropy" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         c AS MATERIALIZED (
           SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
         dl AS (
           SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dl,
                  COUNT(*) AS n_distinct
           FROM c GROUP BY 1),
         q AS (
           SELECT c.doc_id, l.dl, l.n_distinct,
                  CAST(floor(-((c.c / l.dl) * ln(c.c / l.dl)) * 1e9 + 0.5)
                       AS BIGINT) AS q
           FROM c JOIN dl l USING (doc_id)),
         s AS (
           SELECT doc_id, MAX(dl) AS n_tokens,
                  MAX(n_distinct) AS n_distinct,
                  CAST(SUM(q) AS BIGINT) AS sq
           FROM q GROUP BY 1)
         SELECT doc_id, n_tokens, n_distinct,
                floor((sq / 1e9) * 1e6 + 0.5) / 1e6 AS entropy,
                floor((CASE WHEN n_tokens > 1
                            THEN (sq / 1e9) / ln(n_tokens)
                            ELSE CAST(0.0 AS DOUBLE) END) * 1e6 + 0.5) / 1e6
                  AS entropy_norm
         FROM s ORDER BY doc_id""",

    "x_weighted_sample" ->
      """WITH keyed AS (
           SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
                  floor((ln((CAST(('0x' || substr(
                           md5('ws:' || doc_id), 1, 12)) AS BIGINT)
                          + CAST(0.5 AS DOUBLE))
                         / CAST(281474976710656.0 AS DOUBLE))
                        / CAST(n_chars AS BIGINT)) * 1e12 + 0.5) / 1e12
                    AS key
           FROM documents)
         SELECT doc_id, source, w,
                floor((key * 1e3) * 1e6 + 0.5) / 1e6 AS key_milli
         FROM keyed ORDER BY key DESC, doc_id LIMIT 50""",

    "x_domain_cap" ->
      """WITH ranked AS (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5(source || ':' || doc_id), doc_id) AS rn
           FROM documents)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                CAST(SUM(CASE WHEN rn > 10 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dropped,
                CAST(SUM(CASE WHEN rn <= 10 THEN doc_id ELSE 0 END)
                     AS BIGINT) AS kept_docid_sum
         FROM ranked GROUP BY 1 ORDER BY source""",

    "x_zorder_layout" -> {
      val z = zvalDuck("x", "y")
      s"""WITH base AS MATERIALIZED (
            SELECT CAST(l_orderkey AS BIGINT) AS ok,
                   CAST(l_linenumber AS BIGINT) AS ln,
                   CAST(l_partkey AS BIGINT) % 4096 AS x,
                   CAST(l_orderkey AS BIGINT) % 4096 AS y
            FROM lineitem),
          zb AS MATERIALIZED (SELECT ok, ln, x, y, $z AS zval FROM base),
          files AS (
            SELECT 'linear' AS layout,
                   ntile($ZFiles) OVER (ORDER BY ok, ln) AS file, x, y
            FROM zb
            UNION ALL
            SELECT 'zorder' AS layout,
                   ntile($ZFiles) OVER (ORDER BY zval, ok, ln) AS file, x, y
            FROM zb),
          spans AS (
            SELECT layout, file,
                   MAX(x) - MIN(x) + 1 AS sx, MAX(y) - MIN(y) + 1 AS sy
            FROM files GROUP BY 1, 2)
          SELECT layout, COUNT(*) AS n_files,
                 floor((CAST(SUM(sx) AS BIGINT) / (${ZFiles} * 4096.0))
                       * 1e4 + 0.5) / 1e4 AS avg_frac_x,
                 floor((CAST(SUM(sy) AS BIGINT) / (${ZFiles} * 4096.0))
                       * 1e4 + 0.5) / 1e4 AS avg_frac_y,
                 floor((CAST(SUM(sx) AS BIGINT) / 4096.0) * 1e4 + 0.5) / 1e4
                   AS exp_files_point_x,
                 floor((CAST(SUM(sy) AS BIGINT) / 4096.0) * 1e4 + 0.5) / 1e4
                   AS exp_files_point_y
          FROM spans GROUP BY 1 ORDER BY layout"""
    },

    "x_zonemap_prune" ->
      s"""WITH li AS MATERIALIZED (
            SELECT l_orderkey AS ok, l_shipdate AS sd FROM lineitem),
          go AS (
            SELECT ok AS k, COUNT(*) AS cnt, min(sd) AS mn, max(sd) AS mx
            FROM li GROUP BY 1),
          fo AS (
            SELECT (CAST(SUM(cnt) OVER (ORDER BY k
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) - cnt) // $ZmapRowsPerFile AS file_id,
                   cnt, mn, mx
            FROM go),
          gd AS (
            SELECT sd AS k, COUNT(*) AS cnt, min(sd) AS mn, max(sd) AS mx
            FROM li GROUP BY 1),
          fd AS (
            SELECT (CAST(SUM(cnt) OVER (ORDER BY k
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) - cnt) // $ZmapRowsPerFile AS file_id,
                   cnt, mn, mx
            FROM gd),
          files AS (
            SELECT 'by_orderkey' AS layout, file_id,
                   CAST(SUM(cnt) AS BIGINT) AS rows_f,
                   min(mn) AS zmin, max(mx) AS zmax
            FROM fo GROUP BY 1, 2
            UNION ALL
            SELECT 'by_shipdate', file_id, CAST(SUM(cnt) AS BIGINT),
                   min(mn), max(mx)
            FROM fd GROUP BY 1, 2),
          per AS (
            SELECT layout, COUNT(*) AS n_files,
                   CAST(SUM(CASE WHEN zmax >= TIMESTAMP '1995-01-01 00:00:00'
                              AND zmin <= TIMESTAMP '1995-03-31 23:59:59'
                             THEN 0 ELSE 1 END) AS BIGINT) AS n_pruned,
                   CAST(SUM(CASE WHEN zmax >= TIMESTAMP '1995-01-01 00:00:00'
                              AND zmin <= TIMESTAMP '1995-03-31 23:59:59'
                             THEN rows_f ELSE 0 END) AS BIGINT)
                     AS rows_scanned
            FROM files GROUP BY 1),
          mt AS (
            SELECT COUNT(*) AS rows_matched FROM li
            WHERE sd >= TIMESTAMP '1995-01-01 00:00:00'
              AND sd <= TIMESTAMP '1995-03-31 23:59:59')
          SELECT layout, n_files, n_pruned,
                 n_files - n_pruned AS n_files_scanned,
                 rows_scanned, rows_matched,
                 floor(n_pruned / CAST(n_files AS DOUBLE) * 1e4 + 0.5) / 1e4
                   AS prune_frac
          FROM per CROSS JOIN mt ORDER BY layout""",

    "x_textrank_keywords" -> {
      def iter(i: Int): String = {
        val prev = s"tr${i - 1}"
        s"""c$i AS (
              SELECT e.c AS w,
                     CAST(SUM(CAST(floor(p.tr * e.nwc / dg.wd * 1e12
                       + 0.5) AS BIGINT)) AS BIGINT) AS sq
              FROM edges e
              JOIN $prev p ON p.w = e.w
              JOIN wdeg dg ON dg.w = e.w
              GROUP BY 1),
            tr$i AS MATERIALIZED (
              SELECT n.w,
                     floor((0.15 / nn.n
                       + 0.85 * (COALESCE(c.sq, 0) / 1e12))
                       * 1e12 + 0.5) / 1e12 AS tr
              FROM nodes n CROSS JOIN nn
              LEFT JOIN c$i c ON c.w = n.w)"""
      }
      val iters = (1 to 6).map(iter).mkString(",\n")
      s"""WITH toks AS MATERIALIZED (
            SELECT doc_id, pos, tk[pos + 1] AS tok
            FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS pos
                  FROM (SELECT doc_id, string_split(text, ' ') AS tk
                        FROM documents))),
          fwd AS (
            SELECT tok AS w,
                   lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                     AS c
            FROM toks
            UNION ALL
            SELECT tok AS w,
                   lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos)
                     AS c
            FROM toks),
          edges AS MATERIALIZED (
            SELECT w, c, COUNT(*) AS nwc FROM (
              SELECT w, c FROM fwd WHERE c IS NOT NULL
              UNION ALL
              SELECT c AS w, w AS c FROM fwd WHERE c IS NOT NULL)
            WHERE regexp_matches(w, '^[a-z]{4,}$$')
              AND regexp_matches(c, '^[a-z]{4,}$$')
            GROUP BY 1, 2),
          wdeg AS MATERIALIZED (
            SELECT w, CAST(SUM(nwc) AS BIGINT) AS wd
            FROM edges GROUP BY 1),
          nodes AS MATERIALIZED (SELECT w FROM wdeg),
          nn AS (SELECT COUNT(*) AS n FROM nodes),
          tr0 AS MATERIALIZED (
            SELECT n.w, floor((1.0 / nn.n) * 1e12 + 0.5) / 1e12 AS tr
            FROM nodes n CROSS JOIN nn),
          $iters
          SELECT t.w AS keyword,
                 floor(t.tr * 1e10 + 0.5) / 1e10 AS textrank,
                 d.wd AS weighted_degree
          FROM tr6 t JOIN wdeg d ON d.w = t.w
          ORDER BY textrank DESC, keyword LIMIT 10"""
    })
}
