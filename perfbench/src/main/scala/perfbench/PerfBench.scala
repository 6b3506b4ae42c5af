package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.etl.{IncrementalStep, Pipeline}

/** The repository benchmark. One invocation runs one workload for about
  * `--seconds` seconds in a closed loop with one client and prints one
  * JSON line: the end-to-end metrics untraced, the per-layer metrics with
  * `--trace 1`. See README.md in this directory.
  *
  *   PerfBench --workload etl_incremental|query_mix --seed N
  *             --seconds S --trace 0|1 --root <benchmark dir>
  *   PerfBench --oracle-sql <file>   (query SQL for oracle.py)
  */
object PerfBench {

  /** query_mix members: the headline tier. The heavy tier does not fit
    * the per-run time budget: its ANN gauges train codebooks for tens of
    * seconds on first use, and its graph gauges take seconds per pass. */
  val QueryMix: Seq[String] = SparkEntry.benchQueries

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, root: Path)

  final case class Metric(value: Double, unit: String)

  final case class Outcome(attempted: Long, failed: Long,
                           metrics: Map[String, Metric])

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    kv.get("oracle-sql") match {
      case Some(f) =>
        val sql = QueryMix.map(n => Json.str(n) + ":" +
          Json.str(SparkEntry.oracleSql(n))).mkString("{", ",", "}")
        Files.writeString(Paths.get(f), sql): Unit
      case None =>
        val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
          kv.get("trace").contains("1"), Paths.get(kv("root")).toAbsolutePath)
        val out = run(o)
        val ms = out.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
          s"""${Json.str(k)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}"""
        }.mkString("{", ",", "}")
        println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},"failed":${out.failed},"metrics":$ms}""")
        System.out.flush()
        sys.exit(if (out.failed == 0) 0 else 1)
    }
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(o: Opts): Outcome = {
    // per process, so two runs in one checkout never share a target
    val work = o.root.resolve("work")
      .resolve(s"${o.workload}-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val spark = session(work)
    val bench = new Bench(spark, o, work)
    try {
      val out = o.workload match {
        case "etl_incremental" => bench.etlIncremental()
        case "query_mix" => bench.queryMix()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (!o.trace) out
      else out.copy(metrics =
        out.metrics + ("jvm.peak_rss_mb" -> Metric(peakRssMb(), "MB")))
    } finally {
      spark.stop()
      graft.util.Fs.deleteRec(work)
    }
  }

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One round of a workload (one Pipeline.run or one full query pass):
  * its wall time and the latency of each operation in it. */
final case class Round(traced: Boolean, wallS: Double, opsS: Seq[Double])

/** Workload bodies. With `--trace 1` ops alternate traced/untraced, so
  * tracing overhead is measured inside one JVM; per-layer metrics are
  * means per traced Pipeline.run (ETL) or per traced pass (queries). */
final class Bench(spark: SparkSession, o: PerfBench.Opts, work: Path) {
  import PerfBench._

  private val tracer = new Tracer
  private val jobLog = ArrayBuffer[(JobRec, Seq[StageRec])]()
  private val fixture = o.root.resolve("fixture").toString
  private var attempted = 0L
  private var failed = 0L

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f s $msg")

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secs(t0))
  }

  /** Closed loop: run `op(i)` until `seconds` have passed. With tracing,
    * op 0 is an untraced warm-up that counts for neither side, and at least
    * one traced and one untraced op follow, alternating, the traced one
    * first on odd seeds so that neither side is always the warmer one. */
  private def loop[A](op: Int => A): Seq[(Boolean, A)] = {
    val out = ArrayBuffer[(Boolean, A)]()
    val t0 = System.nanoTime()
    var i = 0
    while (secs(t0) < o.seconds || (o.trace && i < 3)) {
      val traced = o.trace && i > 0 && (i + o.seed) % 2 == 0
      val listener = new JobListener
      if (traced) spark.sparkContext.addSparkListener(listener)
      tracer.on = traced
      val t1 = System.nanoTime()
      val a = try op(i) finally tracer.on = false
      if (traced) {
        listener.drain()
        spark.sparkContext.removeSparkListener(listener)
        jobLog ++= listener.jobs.map(j => (j, listener.metrics(j)))
      }
      val warmUp = o.trace && i == 0
      log(f"op $i%d${if (traced) " (traced)" else if (warmUp) " (warm-up)" else ""}: ${secs(t1)}%.3f s")
      if (!warmUp) out += traced -> a
      i += 1
    }
    out.toSeq
  }

  /** End-to-end metrics of a run's rounds. A round holds too few
    * operations for a percentile with ten samples above it, so the tail is
    * each round's slowest operation, as a median over rounds; it keeps
    * its meaning however many rounds fit in `--seconds`. */
  private def e2e(rounds: Seq[Round]): Map[String, Double] =
    Map("op_p50_s" -> median(rounds.flatMap(_.opsS)),
      "op_tail_s" -> median(rounds.map(_.opsS.max)),
      "round_s" -> median(rounds.map(_.wallS)))

  /** Traced minus untraced, per end-to-end metric the loop samples. */
  private def overhead(rounds: Seq[Round]): Map[String, Metric] = {
    def side(t: Boolean) = e2e(rounds.filter(_.traced == t))
    val (on, off) = (side(true), side(false))
    on.map { case (k, v) => s"tracing_overhead.$k" -> Metric(v - off(k), "s") }
  }

  private def writeTrace(layers: Map[String, Metric]): Unit = {
    val out = o.root.resolve("out")
    Files.createDirectories(out)
    val tag = s"${o.workload}-seed${o.seed}"
    Files.writeString(out.resolve(s"spans-$tag.jsonl"),
      tracer.spans.sortBy(_.id).map(_.json).mkString("", "\n", "\n"))
    Files.writeString(out.resolve(s"layers-$tag.json"),
      layers.toSeq.sortBy(_._1).map { case (k, m) =>
        s"""  ${Json.str(k)}: {"value": ${Json.num(m.value)}, "unit": ${Json.str(m.unit)}}"""
      }.mkString("{\n", ",\n", "\n}\n")): Unit
  }

  private def finish(setupS: Double, rounds: Seq[Round],
                     layers: => Map[String, Metric]): Outcome =
    if (!o.trace)
      Outcome(attempted, failed, (e2e(rounds) + ("setup_s" -> setupS))
        .map { case (k, v) => k -> Metric(v, "s") })
    else {
      val all = Layers.zero ++ layers ++ overhead(rounds)
      writeTrace(all)
      Outcome(attempted, failed, all)
    }

  // ---- ETL ----------------------------------------------------------------

  private def loadFixture(): TinyGen.Fixture = {
    def read(t: String) = spark.read.parquet(s"$fixture/$t.parquet")
    val parts = read("part").select("p_partkey", "p_name", "p_retailprice")
      .collect().map(r => TinyGen.Part(r.getLong(0), r.getString(1),
        r.getDouble(2))).sortBy(_.key).toIndexedSeq
    val orders = read("orders")
      .selectExpr("o_orderkey", "o_custkey", "o_totalprice",
        "cast(o_orderdate as date)")
      .collect().map(r => TinyGen.Order(r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDate(3).toLocalDate))
      .sortBy(_.key).toIndexedSeq
    val lines = read("lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        "l_extendedprice")
      .collect().map(r => (r.getLong(0), r.getInt(1), TinyGen.Line(
        r.getLong(0), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .sortBy(l => (l._1, l._2)).map(_._3).toIndexedSeq
      .groupBy(_.orderKey)
    TinyGen.Fixture(parts, orders, lines)
  }

  /** Files of the target's tables (state and staging excluded). */
  private def snapshot(target: Path): Map[String, (Long, Long)] =
    if (!Files.exists(target)) Map.empty
    else {
      val s = Files.walk(target)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(p => target.relativize(p).toString)
        .filterNot(r => r.startsWith("_"))
        .map(r => r -> {
          val f = target.resolve(r)
          (Files.size(f), Files.getLastModifiedTime(f).toMillis)
        }).toMap
      finally s.close()
    }

  private val stepTables = Map(
    "categorias" -> Seq("categorias"),
    "produtos" -> Seq("produtos"),
    "estoques" -> Seq("produto_estoque_total", "produto_estoque_depositos"),
    "pedidos" -> Seq("pedidos", "pedido_itens"))

  /** Check one Pipeline.run against the model: step outcomes and pages,
    * audit counts, and per-table content fingerprints. Returns the steps
    * that failed or whose tables mismatch. */
  private def checkEtl(rep: Pipeline.RunReport, target: Path,
                       model: TinyGen.Model, pages: Map[String, Int]): Int = {
    val expected = model.tables
    val badTables = TinyGen.Columns.keys.toSeq.sorted.filter { t =>
      val want = Fingerprint.table(expected(t).iterator)
      val rows = Pipeline.readTable(spark, target.resolve(t).toString)
        .select(TinyGen.Columns(t).map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq)
      val got = Fingerprint.table(rows.iterator)
      val audit = rep.audit.get(t)
      val ok = got == want && audit.contains(want._1)
      if (!ok) {
        def txt(r: Seq[Any]) = r.map(Fingerprint.exactValue).mkString("|")
        val extra = rows.map(txt).toSet -- expected(t).map(txt)
        System.err.println(s"[perfbench] MISMATCH $t: audit=$audit " +
          s"rows=${got._1} want=${want._1} e.g. ${extra.take(2).mkString("; ")}" +
          s" vs ${(expected(t).map(txt).toSet -- rows.map(txt)).take(2).mkString("; ")}")
      }
      !ok
    }.toSet
    rep.steps.count { s =>
      val pagesOk = s.outcome match {
        case IncrementalStep.Completed(p, _) =>
          p == pages.getOrElse(s.process, 1)
        case other =>
          System.err.println(s"[perfbench] STEP ${s.process}: $other")
          false
      }
      !pagesOk || stepTables(s.process).exists(badTables)
    }
  }

  /** One traced-or-not ETL op: Pipeline.run, then the check. */
  private def etlOp(src: Path, target: Path, run: Int, model: TinyGen.Model,
                    pages: Map[String, Int]): EtlSample = {
    val before = if (tracer.on) snapshot(target) else Map.empty[String, (Long, Long)]
    tracer.span("op") {
      val (rep, s) = timed(tracer.span("run") {
        Pipeline.run(spark, src.toString, target.toString,
          TinyGen.runInstant(run))
      })
      val after = if (tracer.on) snapshot(target) else Map.empty[String, (Long, Long)]
      val (bad, c) = timed(
        tracer.span("audit_read")(checkEtl(rep, target, model, pages)))
      log(f"Pipeline.run $run%d: $s%.3f s, check $c%.3f s")
      attempted += rep.steps.size
      failed += bad
      val recs = rep.steps.map(_.outcome).collect {
        case IncrementalStep.Completed(_, n) => n
      }.sum
      EtlSample(s, pages.values.sum + 1, recs,
        after.collect { case (f, v) if !before.get(f).contains(v) => f -> v._1 })
    }
  }

  private def storedBytesPerRow(target: Path, model: TinyGen.Model): Double =
    snapshot(target).values.map(_._1).sum.toDouble /
      model.tables.values.map(_.size).sum

  /** etl_incremental: the whole fixture preloaded, then seeded delta runs
    * of about 1 % changed records plus new keys. */
  def etlIncremental(): Outcome = {
    val target = work.resolve("target")
    val model = new TinyGen.Model
    def refresh(fx: TinyGen.Fixture, run: Int): EtlSample = {
      val delta = TinyGen.delta(fx, o.seed, run, Layers.ChangedShare)
      val src = work.resolve(s"src-$run")
      val pages = TinyGen.write(delta, src)
      model.apply(delta)
      val s = etlOp(src, target, run, model, pages)
      graft.util.Fs.deleteRec(src)
      s
    }
    val (fx, setupS) = timed {
      val fx = loadFixture()
      log("fixture read")
      val full = TinyGen.full(fx, o.seed)
      val pages = TinyGen.write(full, work.resolve("src-0"), Layers.PreloadPage)
      model.apply(full)
      etlOp(work.resolve("src-0"), target, 0, model, pages)
      log("preloaded")
      fx
    }
    val samples = loop(i => refresh(fx, i + 1))
    finish(setupS, samples.map { case (t, s) => Round(t, s.runS, Seq(s.runS)) },
      Layers.etl(tracer, jobLog.toSeq, samples.filter(_._1).map(_._2),
        storedBytesPerRow(target, model)))
  }

  // ---- queries --------------------------------------------------------------

  private lazy val oracle: Map[String, String] = {
    val txt = Files.readString(o.root.resolve("oracle.json"))
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** One query execution: construct, then the action, which collects the
    * result. Returns (construct s, action s) and the result to check, or
    * None when the execution threw. */
  private def queryOp(name: String): (Double, Double, Option[(Seq[String], Seq[Row])]) = {
    attempted += 1
    tracer.span(s"query:$name") {
      try {
        val (df, c) = timed(tracer.span("construct") {
          SparkEntry.queries(name)(spark, fixture)
        })
        val (rows, a) = timed(tracer.span("action")(df.collect().toSeq))
        (c, a, Some(df.columns.toSeq -> rows))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] FAILED $name: $e")
          failed += 1
          (Double.NaN, Double.NaN, None)
      }
    }
  }

  /** One timed pass over `names`; every result is then checked against
    * its oracle fingerprint, outside the pass's wall time. */
  private def pass(names: Seq[String]): (Seq[(String, (Double, Double))], Double) = {
    val (execs, s) = timed(names.map(n => n -> queryOp(n)))
    execs.foreach { case (n, (_, _, res)) =>
      res.foreach { case (cols, rows) =>
        val fp = Fingerprint.query(cols, rows)
        if (!oracle.get(n).contains(fp)) {
          System.err.println(s"[perfbench] MISMATCH $n: $fp oracle=${oracle.get(n)}")
          failed += 1
        }
      }
    }
    (execs.map { case (n, (c, a, _)) => n -> (c, a) }, s)
  }

  /** query_mix: passes over QueryMix in a seed-shuffled order. */
  def queryMix(): Outcome = {
    val order = (p: Int) => new Random(o.seed * 31 + p).shuffle(QueryMix)
    val (_, setupS) = timed(pass(order(0)))
    log("warm pass done")
    val passes = loop(p => pass(order(p + 1)))
    val rounds = passes.map { case (t, (per, s)) =>
      Round(t, s, per.map { case (_, (c, a)) => c + a }.filterNot(_.isNaN))
    }
    finish(setupS, rounds,
      Layers.query(tracer, jobLog.toSeq, passes.filter(_._1).map(_._2), setupS))
  }
}
