package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.etl.PartitionedMerge

/** Bucket-partitioned merge (round 2): same observable semantics as the
  * flat merge-by-union, with the rewrite bounded to touched buckets. */
class PartitionedMergeSpec extends SparkSpec {
  import spark.implicits._

  private def dataFiles(root: String): Map[String, Long] = {
    def walk(p: Path): Seq[Path] =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        val cs = try s.iterator().asScala.toList finally s.close()
        cs.flatMap(walk)
      } else Seq(p)
    walk(Paths.get(root))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap
  }

  test("merge upserts by key and is idempotent") {
    val path = tmpDir("pm") + "/t"
    val base = Seq((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0))
      .toDF("id", "name", "v")
    PartitionedMerge.mergeInto(spark, path, base, Seq("id"), 8)
    val upd = Seq((2, "b2", 20.0), (4, "d", 4.0)).toDF("id", "name", "v")
    PartitionedMerge.mergeInto(spark, path, upd, Seq("id"), 8)
    PartitionedMerge.mergeInto(spark, path, upd, Seq("id"), 8) // idempotent
    val got = PartitionedMerge.read(spark, path)
      .orderBy("id").as[(Int, String, Double)].collect().toSeq
    assert(got === Seq((1, "a", 1.0), (2, "b2", 20.0), (3, "c", 3.0),
      (4, "d", 4.0)))
  }

  test("only buckets touched by the batch are rewritten") {
    val path = tmpDir("pm") + "/t"
    val base = (1 to 200).map(i => (i, s"n$i")).toDF("id", "name")
    PartitionedMerge.mergeInto(spark, path, base, Seq("id"), 16)
    val before = dataFiles(path)

    // single-key update touches exactly one bucket
    val upd = Seq((7, "CHANGED")).toDF("id", "name")
    PartitionedMerge.mergeInto(spark, path, upd, Seq("id"), 16)
    val after = dataFiles(path)

    val changed = after.keySet.filterNot(f =>
      before.get(f).contains(after(f)))
    val buckets = changed.map(f =>
      f.split("/").find(_.startsWith("gbucket=")).get).toSet
    assert(buckets.size === 1, s"expected 1 rewritten bucket, got $buckets")
    // untouched buckets: identical file set and mtimes
    val untouchedBefore = before.filterNot(_._1.contains(buckets.head))
    val untouchedAfter = after.filterNot(_._1.contains(buckets.head))
    assert(untouchedBefore === untouchedAfter)
    assert(PartitionedMerge.read(spark, path)
      .filter($"id" === 7).select("name").as[String].head() === "CHANGED")
  }

  test("additive schema evolution: new column lands, old buckets read as NULL") {
    val path = tmpDir("pm") + "/t"
    val base = (1 to 50).map(i => (i, s"n$i")).toDF("id", "name")
    PartitionedMerge.mergeInto(spark, path, base, Seq("id"), 8)
    val upd = Seq((1, "n1x", "extra")).toDF("id", "name", "note")
    PartitionedMerge.mergeInto(spark, path, upd, Seq("id"), 8)
    val t = PartitionedMerge.read(spark, path)
    assert(t.columns.toSet === Set("id", "name", "note"))
    assert(t.filter($"id" === 1).select("note").as[String].head() === "extra")
    assert(t.filter($"note".isNotNull).count() === 1)
    assert(t.count() === 50)
  }

  test("a type change is rejected before anything is written; the " +
      "table stays readable") {
    val path = tmpDir("pm") + "/t"
    PartitionedMerge.mergeInto(spark, path,
      Seq((1, "a"), (2, "b")).toDF("id", "name"), Seq("id"), 8)
    val e = intercept[IllegalArgumentException](
      PartitionedMerge.mergeInto(spark, path,
        Seq((1, 3.5)).toDF("id", "name"), Seq("id"), 8))
    assert(e.getMessage.contains("illegal schema evolution"))
    assert(PartitionedMerge.read(spark, path).orderBy("id")
      .as[(Int, String)].collect().toSeq === Seq((1, "a"), (2, "b")))
  }

  test("an empty first commit creates an empty table with the batch's " +
      "schema") {
    val path = tmpDir("pm") + "/t"
    assert(PartitionedMerge.mergeInto(spark, path,
      Seq.empty[(Int, String)].toDF("id", "name"), Seq("id"), 8) === 0L)
    val t = PartitionedMerge.read(spark, path)
    assert(t.columns.toSeq === Seq("id", "name"))
    assert(t.count() === 0)
  }

  test("concurrent commits that each add a column both land in the " +
      "table schema") {
    val path = tmpDir("pm") + "/t"
    PartitionedMerge.mergeInto(spark, path,
      Seq((1, "a"), (2, "b")).toDF("id", "name"), Seq("id"), 8)
    val adds = Seq("c1" -> 1, "c2" -> 2).map { case (c, id) =>
      val df = Seq((id, "x", s"$c-v")).toDF("id", "name", c)
      val th = new Thread(() =>
        PartitionedMerge.mergeInto(spark, path, df, Seq("id"), 8): Unit)
      th.start(); th
    }
    adds.foreach(_.join())
    val t = PartitionedMerge.read(spark, path)
    assert(t.columns.toSet === Set("id", "name", "c1", "c2"))
    assert(t.orderBy("id").select("c1", "c2").as[(Option[String],
      Option[String])].collect().toSeq ===
      Seq((Some("c1-v"), None), (None, Some("c2-v"))))
  }

  test("a table without recorded metadata is rejected, not guessed") {
    val path = tmpDir("pm") + "/t"
    Seq((1, "a", 0)).toDF("id", "name", "gbucket")
      .write.partitionBy("gbucket").parquet(path)
    val r = intercept[IllegalStateException](
      PartitionedMerge.read(spark, path))
    assert(r.getMessage.contains("written before versioned commits"))
    intercept[IllegalStateException](PartitionedMerge.mergeInto(spark, path,
      Seq((2, "b")).toDF("id", "name"), Seq("id"), 8))
  }

  test("replaceChildren swaps a parent's children, clears zero-child parents") {
    val path = tmpDir("pm") + "/items"
    val base = Seq((10, "i1"), (10, "i2"), (20, "i3"), (30, "i4"))
      .toDF("pid", "item")
    val parents0 = Seq(10, 20, 30).toDF("pid")
    PartitionedMerge.replaceChildren(spark, path, base, parents0, "pid", 8)

    // parent 10 now has ONE item; parent 20 updated to ZERO items
    val upd = Seq((10, "i1b")).toDF("pid", "item")
    val parents = Seq(10, 20).toDF("pid")
    PartitionedMerge.replaceChildren(spark, path, upd, parents, "pid", 8)
    val got = PartitionedMerge.read(spark, path)
      .orderBy("pid", "item").as[(Int, String)].collect().toSeq
    assert(got === Seq((10, "i1b"), (30, "i4")))
  }
}
