package perfbench

import perfbench.PerfBench.Metric

/** One ETL op as the per-layer metrics see it: Pipeline.run wall time,
  * pages and records it loaded, and the target files it wrote
  * (relative path → bytes). */
final case class EtlSample(runS: Double, pages: Int, records: Long,
                           changedFiles: Map[String, Long])

/** Workload sizes and the per-layer metrics of the traced run.
  *
  * Layers are the program's modules. A Spark job belongs to the layer of
  * the source file Spark names it after (`<op> at <File>.scala:<line>`):
  * the first frame outside Spark, i.e. the program code that ran it. */
object Layers {

  /** etl_incremental: page size of the preload, so that it loads the whole
    * fixture (2,000 parts, 15,000 orders) in one page per entity. */
  val PreloadPage = 20000
  /** etl_incremental: share of parts and orders changed per run; with the
    * new keys each entity fits one 100-record page. */
  val ChangedShare = 0.01

  val EtlSite: Map[String, String] = Map(
    "EnvelopeReader.scala" -> "etl.decode", "TreeFlatten.scala" -> "etl.decode",
    "GroupCommit.scala" -> "etl.stage",
    "PartitionedMerge.scala" -> "etl.merge", "Upsert.scala" -> "etl.merge",
    "SchemaEvolution.scala" -> "etl.merge",
    "StateStore.scala" -> "state", "FilterResolver.scala" -> "state",
    "Pipeline.scala" -> "etl.audit")

  private val TablesSite = "Tables.scala"

  private val etlUnits: Seq[(String, String)] = Seq(
    "etl.decode.jobs" -> "count", "etl.decode.busy_s" -> "s",
    "etl.decode.pages" -> "count", "etl.decode.records" -> "count",
    "etl.stage.jobs" -> "count", "etl.stage.busy_s" -> "s",
    "etl.stage.bytes_written" -> "bytes",
    "state.jobs" -> "count", "state.busy_s" -> "s",
    "etl.jobs_per_page" -> "count",
    "etl.merge.calls" -> "count", "etl.merge.jobs" -> "count",
    "etl.merge.busy_s" -> "s", "etl.merge.task_s" -> "s",
    "etl.merge.shuffle_bytes" -> "bytes",
    "etl.merge.buckets_rewritten" -> "count",
    "etl.merge.bytes_written" -> "bytes",
    "etl.merge.rows_written_per_row_changed" -> "ratio",
    "etl.audit.busy_s" -> "s", "etl.driver_s" -> "s",
    "etl.stored_bytes_per_row" -> "bytes")

  private val queryUnits: Seq[(String, String)] = Seq(
    "util.tables.read_jobs" -> "count", "util.tables.read_s" -> "s",
    "ext.construct_s" -> "s", "ext.construct_jobs" -> "count",
    "action.s" -> "s", "action.jobs" -> "count", "action.task_s" -> "s",
    "action.shuffle_read_bytes" -> "bytes",
    "action.shuffle_write_bytes" -> "bytes", "action.spill_bytes" -> "bytes",
    "query.first_pass_s" -> "s",
    "jvm.peak_rss_mb" -> "MB") ++
    PerfBench.QueryMix.flatMap(q => Seq(s"q.$q.construct_s" -> "s",
      s"q.$q.action_s" -> "s", s"q.$q.jobs" -> "count"))

  /** Every per-layer metric, zero: a workload reports the layers it does
    * not touch as 0. */
  def zero: Map[String, Metric] =
    (etlUnits ++ queryUnits ++ Seq("op_p50_s", "op_tail_s", "round_s")
      .map(k => s"tracing_overhead.$k" -> "s"))
      .map { case (k, u) => k -> Metric(0.0, u) }.toMap

  private def unitOf(k: String): String =
    (etlUnits ++ queryUnits).find(_._1 == k).map(_._2).getOrElse("s")

  private def within(s: Span, jobs: Seq[(JobRec, Seq[StageRec])]) =
    jobs.filter { case (j, _) => s.covers(j.start) }

  /** Seconds of `s` that no job covers. */
  private def uncovered(s: Span, jobs: Seq[JobRec]): Double = {
    val iv = jobs.map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var reach = s.start
    iv.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    s.dur - covered / 1000.0
  }

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Means per traced Pipeline.run. */
  def etl(tracer: Tracer, jobs: Seq[(JobRec, Seq[StageRec])],
          samples: Seq[EtlSample], storedBytesPerRow: Double): Map[String, Metric] = {
    val runs = tracer.spans.filter(_.name == "run").sortBy(_.start).toSeq
    val perRun = runs.zip(samples).map { case (span, smp) =>
      val js = within(span, jobs)
      def layer(l: String) =
        js.filter { case (j, _) => EtlSite.get(j.site).contains(l) }
      def busy(l: String) = layer(l).map(_._1.dur).sum
      def stageSum(l: String)(f: StageRec => Double) =
        layer(l).flatMap(_._2).map(f).sum
      val merge = layer("etl.merge")
      val mergeRows = stageSum("etl.merge")(_.rowsWritten.toDouble)
      val buckets = smp.changedFiles.keys.map { f =>
        f.split('/').takeWhile(!_.endsWith(".parquet")).mkString("/")
      }.toSet
      Map(
        "etl.decode.jobs" -> layer("etl.decode").size.toDouble,
        "etl.decode.busy_s" -> busy("etl.decode"),
        "etl.decode.pages" -> smp.pages.toDouble,
        "etl.decode.records" -> smp.records.toDouble,
        "etl.stage.jobs" -> layer("etl.stage").size.toDouble,
        "etl.stage.busy_s" -> busy("etl.stage"),
        "etl.stage.bytes_written" -> stageSum("etl.stage")(_.bytesWritten.toDouble),
        "state.jobs" -> layer("state").size.toDouble,
        "state.busy_s" -> busy("state"),
        "etl.jobs_per_page" -> js.size.toDouble / smp.pages,
        "etl.merge.calls" -> merge.count(_._2.exists(_.rowsWritten > 0)).toDouble,
        "etl.merge.jobs" -> merge.size.toDouble,
        "etl.merge.busy_s" -> busy("etl.merge"),
        "etl.merge.task_s" -> stageSum("etl.merge")(_.taskS),
        "etl.merge.shuffle_bytes" ->
          stageSum("etl.merge")(s => (s.shuffleRead + s.shuffleWrite).toDouble),
        "etl.merge.buckets_rewritten" -> buckets.size.toDouble,
        "etl.merge.bytes_written" -> smp.changedFiles.values.sum.toDouble,
        "etl.merge.rows_written_per_row_changed" ->
          mergeRows / math.max(smp.records, 1L),
        "etl.audit.busy_s" -> busy("etl.audit"),
        "etl.driver_s" -> uncovered(span, js.map(_._1)))
    }
    val keys = perRun.headOption.map(_.keys.toSeq).getOrElse(Seq.empty)
    keys.map { k =>
      k -> Metric(mean(perRun.map(_(k))), unitOf(k))
    }.toMap + ("etl.stored_bytes_per_row" -> Metric(storedBytesPerRow, "bytes"))
  }

  /** Means per traced pass; `firstPassS` is the warm pass in set-up. */
  def query(tracer: Tracer, jobs: Seq[(JobRec, Seq[StageRec])],
            passes: Seq[(Seq[(String, (Double, Double))], Double)],
            firstPassS: Double): Map[String, Metric] = {
    val byParent = tracer.spans.groupBy(_.parent)
    val execs = tracer.spans.filter(_.name.startsWith("query:")).toSeq
    def child(s: Span, name: String) =
      byParent.getOrElse(s.id, Seq.empty).find(_.name == name)
    // per execution: (query, construct span, action span)
    val rows = execs.flatMap { e =>
      for (c <- child(e, "construct"); a <- child(e, "action"))
        yield (e.name.stripPrefix("query:"), c, a)
    }
    val n = math.max(passes.size, 1).toDouble
    val cJobs = rows.flatMap { case (_, c, _) => within(c, jobs) }
    val (readJobs, buildJobs) = cJobs.partition(_._1.site == TablesSite)
    val aJobs = rows.flatMap { case (_, _, a) => within(a, jobs) }
    val aStages = aJobs.flatMap(_._2)
    val perQuery = rows.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
      val k = rs.size.toDouble
      Seq(s"q.$q.construct_s" -> rs.map(_._2.dur).sum / k,
        s"q.$q.action_s" -> rs.map(_._3.dur).sum / k,
        s"q.$q.jobs" -> rs.map { case (_, c, a) =>
          within(c, jobs).size + within(a, jobs).size }.sum / k)
    }
    (Seq(
      "util.tables.read_jobs" -> readJobs.size / n,
      "util.tables.read_s" -> readJobs.map(_._1.dur).sum / n,
      "ext.construct_s" -> rows.map(_._2.dur).sum / n,
      "ext.construct_jobs" -> buildJobs.size / n,
      "action.s" -> rows.map(_._3.dur).sum / n,
      "action.jobs" -> aJobs.size / n,
      "action.task_s" -> aStages.map(_.taskS).sum / n,
      "action.shuffle_read_bytes" -> aStages.map(_.shuffleRead).sum / n,
      "action.shuffle_write_bytes" -> aStages.map(_.shuffleWrite).sum / n,
      "action.spill_bytes" -> aStages.map(_.spill).sum / n,
      "query.first_pass_s" -> firstPassS) ++ perQuery)
      .map { case (k, v) => k -> Metric(v, unitOf(k)) }.toMap
  }
}
