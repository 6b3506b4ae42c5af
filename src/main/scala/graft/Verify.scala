package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only the named queries (local iteration;
    // the driver always calls with exactly two args → full registry)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val spark = Sessions.local()
    run(spark, sfDir, outDir, only): Unit
    spark.stop()
  }

  /** The dump itself, session-agnostic so `VerifyGateSpec` can exercise
    * the failure contract against the shared test session. Returns the
    * (name → error) map of crashed queries. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]]): Map[String, String] = {
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // clear stale outputs: a failed query must NOT leave a previous run's
    // parquet behind to be compared as if fresh
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    val out = new java.io.File(outDir)
    if (out.exists()) rm(out)
    out.mkdirs()
    // A crashed query must be LOUD: r7's x_sessionize failed at analysis and
    // simply vanished from the driver's correctness file (absence != red).
    // Three signals per failure: (a) a _FAILED_<name> marker file; (b) an
    // errors.json summary; (c) a one-row sentinel parquet under the query's
    // own output path, so the driver's DuckDB compare produces a visible
    // schema/hash-mismatch red row instead of skipping an absent one.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[verify] $name FAILED: $msg")
          failures(name) = msg
          Files.writeString(Paths.get(s"$outDir/_FAILED_$name"), msg + "\n")
          try {
            import spark.implicits._
            Seq((name, msg)).toDF("__graft_query_failed", "__graft_error")
              .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case _: Throwable => () } // marker + errors.json still stand
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} FAILED: ${failures.keys.mkString(", ")}")
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failures.toMap
  }
}
