package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main and the test suite
  * share these settings; a main that needs something different sets it on
  * the returned session with `spark.conf.set`. */
object Sessions {
  /** `SPARK_GRAFT_CPUS` if set, else every available core. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local session on `cores` threads with as many shuffle partitions:
    *  - UTC session time zone;
    *  - classic (non-ANSI) coercion: bad input casts to NULL, never throws;
    *  - `nanosAsLong`: events.parquet carries TIMESTAMP(NANOS), see
    *    graft.util.Tables;
    *  - UI off and a fresh temp warehouse dir. */
  def local(cores: Int = defaultCores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
