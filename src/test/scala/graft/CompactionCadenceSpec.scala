package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.etl.PartitionedMerge

/** Compaction cadence of the versioned commit: 64 small `mergeInto` and
  * `replaceChildren` commits, each checked against a plain-Scala model,
  * with the commit path's own compaction keeping every bucket at or below
  * its file threshold. The resolved-read time at the first and the last
  * commit shows what the cadence costs a reader. */
class CompactionCadenceSpec extends SparkSpec {
  import spark.implicits._

  private val Commits = 64
  private val Threshold = 32 // mergeInto's default, which replaceChildren uses too

  private def filesPerBucket(root: String): Map[String, Int] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .groupBy((p: Path) => p.getParent.getFileName.toString)
      .map { case (b, fs) => b -> fs.size }
    finally s.close()
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  test(s"$Commits upsert and replace-children commits match the model after " +
      "each commit; no bucket exceeds the compaction threshold") {
    val dir = tmpDir("cadence")
    val upserts = s"$dir/upserts"
    val children = s"$dir/children"
    val rnd = new Random(64)
    val kv = scala.collection.mutable.Map[Int, String]()
    val kids = scala.collection.mutable.Map[Int, Seq[(Int, String)]]()
    var compactions = 0
    var files = 0
    val readS = (1 to Commits).map { c =>
      // upsert: a few keys out of 200, duplicates in the batch collapse
      // to the greatest value (Upsert.dedupe's tie rule)
      val rows = Seq.fill(1 + rnd.nextInt(8))(
        (rnd.nextInt(200), s"c$c-${rnd.nextInt(3)}"))
      rows.groupBy(_._1).foreach { case (k, vs) => kv(k) = vs.map(_._2).max }
      PartitionedMerge.mergeInto(spark, upserts, rows.toDF("id", "v"),
        Seq("id"), numBuckets = 4)
      // replace-children: a few parents out of 50 get 0-3 children each
      val parents = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(50)).distinct
      val batch = parents.map(p =>
        p -> (0 until rnd.nextInt(4)).map(i => (i, s"c$c-p$p-$i")))
      batch.foreach { case (p, cs) => kids(p) = cs }
      PartitionedMerge.replaceChildren(spark, children,
        batch.flatMap { case (p, cs) => cs.map { case (i, v) => (p, i, v) } }
          .toDF("pid", "i", "v"),
        parents.toDF("pid"), "pid", numBuckets = 4)

      val (got, s) = timed(PartitionedMerge.read(spark, upserts)
        .as[(Int, String)].collect().toMap)
      assert(got === kv.toMap, s"upsert table diverged at commit $c")
      val gotKids = PartitionedMerge.read(spark, children)
        .as[(Int, Int, String)].collect().toSeq.sorted
      val wantKids = kids.toSeq.flatMap { case (p, cs) =>
        cs.map { case (i, v) => (p, i, v) } }.sorted
      assert(gotKids === wantKids, s"child table diverged at commit $c")
      for (t <- Seq(upserts, children)) {
        val worst = filesPerBucket(t).values.max
        assert(worst <= Threshold, s"$t: $worst files in a bucket at commit $c")
      }
      // a commit only adds files; fewer files means it compacted
      val now = filesPerBucket(upserts).values.sum
      if (now < files) compactions += 1
      files = now
      s
    }
    assert(compactions > 0, "64 commits never reached the compaction threshold")
    info(f"resolved read of the upsert table: commit 1 ${readS.head}%.3f s, " +
      f"commit $Commits ${readS.last}%.3f s")
  }
}
