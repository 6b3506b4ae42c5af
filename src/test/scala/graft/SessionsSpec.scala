package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session factory, no function registration, one directory listing,
  * one sink trigger and one atomic file replace: scans `src/main` for the
  * setup paths `Sessions.local` and the typed `graft.functions` builders
  * replaced, for inline `Files.list` calls, `.foreachBatch` triggers,
  * `ATOMIC_MOVE` renames and regex state decoders, and pins the factory's
  * session settings. */
class SessionsSpec extends SparkSpec {

  private lazy val mainSources: Seq[Path] = {
    val root = Paths.get(sys.props("user.dir"), "src", "main")
    require(Files.isDirectory(root), s"no source tree at $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def offenders(pattern: String, allowed: Path => Boolean = _ => false)
      : Seq[String] = {
    val re = pattern.r
    for {
      p <- mainSources if !allowed(p)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if re.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
  }

  test("SparkSession.builder appears only in Sessions.scala") {
    val hits = offenders("""SparkSession\.builder""",
      _.getFileName.toString == "Sessions.scala")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no graft function is registered or called by SQL name") {
    // spelled in pieces so this file does not match its own scan
    val hits = offenders(Seq("createOrReplace" + "TempFunction",
      "inject" + "Function", "\"graft" + "_[a-z_]+\\(").mkString("|"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("Files.list appears only in util/Fs.scala") {
    // Fs.list closes the directory stream; an inline Files.list that is
    // not closed leaks one file descriptor per call
    val hits = offenders("""Files\.list\(""",
      _.endsWith(Paths.get("util", "Fs.scala")))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("one trigger skeleton: .foreachBatch appears once in src/main") {
    val hits = offenders("""\.foreachBatch""")
    assert(hits.size == 1, hits.mkString("\n"))
  }

  test("ATOMIC_MOVE appears only in util/Fs.scala and GroupCommit.scala") {
    // Fs.replace is the one atomic file replace; GroupCommit renames a
    // staged page directory
    val hits = offenders("ATOMIC_MOVE", p =>
      p.endsWith(Paths.get("util", "Fs.scala")) ||
        p.getFileName.toString == "GroupCommit.scala")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no regex decodes a state file's lastBatch cursor") {
    // the sink state files are read with Jackson (StreamingIngest.JsonState)
    val hits = offenders("""lastBatch.*\\\\[sd]""")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the factory's session settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.ansi.enabled") === "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val cores = spark.sparkContext.master match {
      case s"local[$n]" => n
    }
    assert(conf.get("spark.sql.shuffle.partitions") === cores)
  }
}
