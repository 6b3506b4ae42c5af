package graft.tools

import java.nio.file.{Files, Paths}

import graft.streaming.StreamingIngest

/** Scale probe for the foreachBatch sink folds: time one fold of each
  * monitor sink over the events table at a given replication factor and
  * report wall time plus the resulting state file size. The claim under test is the sinks' O(types)/O(k·types)
  * state bound and the one-grouped-count-per-batch cost: at N× the
  * events, the batch groupBy scales linearly while the state file must
  * stay byte-identical in SIZE (same types, same vector lengths). One
  * JSON line per sink on stdout. Driver-side diagnostics; the engine
  * never calls this.
  *
  * Usage: runMain graft.tools.SinkProbe <sfDir> [factor]
  */
object SinkProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(1)
    val spark = graft.Sessions.local()
    val ev0 = graft.util.Tables.t(spark, sfDir, "events")
    val ev = if (factor == 1) ev0
      else (1 to factor).map(_ => ev0).reduce(_ unionByName _)
    val base = Files.createTempDirectory("sinkprobe").toString
    def probe(name: String,
              fold: (String, String) => Unit): Unit = {
      val out = s"$base/$name-out"
      val state = s"$base/$name-state.json"
      fold(out, state) // warm-up on a throwaway state (JIT, footers)
      Files.deleteIfExists(Paths.get(state)): Unit
      val t0 = System.nanoTime()
      fold(out, state)
      val sec = (System.nanoTime() - t0) / 1e9
      val stBytes = Files.size(Paths.get(state))
      println(f"""{"sink":"$name","sec":$sec%.3f,""" +
        s""""state_bytes":$stBytes,"factor":$factor,"sf_dir":"$sfDir"}""")
    }
    probe("cusum", (out, st) =>
      StreamingIngest.csBatch(spark, out, st, ev, 0L))
    probe("space_saving", (out, st) =>
      StreamingIngest.ssBatch(spark, out, st, ev, 0L))
    probe("ewma_chart", (out, st) =>
      StreamingIngest.ewBatch(spark, out, st, ev, 0L))
    probe("histogram_quantile", (out, st) =>
      StreamingIngest.hqBatch(spark, out, st, ev, 0L))
    probe("hll_cardinality", (out, st) =>
      StreamingIngest.hllBatch(spark, out, st, ev, 0L))
    probe("min_k_sample", (out, st) =>
      StreamingIngest.mkBatch(spark, out, st, ev, 0L))
    probe("bloom_novelty", (out, st) =>
      StreamingIngest.bnBatch(spark, out, st, ev, 0L))
    spark.stop()
  }
}
