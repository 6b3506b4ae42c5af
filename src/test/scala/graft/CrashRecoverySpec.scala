package graft

import java.time.Instant

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.etl.{GroupCommit, IncrementalStep, PartitionedMerge}
import graft.state.StateStore

/** Crash-consistency property: a paged run that fails at random pages and
  * resumes (ERRO → resume at saved+1, ref :194-196) must converge to the
  * SAME table as a clean run — across the full stack: IncrementalStep
  * resume, GroupCommit staging/recovery, PartitionedMerge upserts. */
class CrashRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val nPages = 9
  private def pageBatch(p: Int): DataFrame =
    // overlapping keys across pages: later pages must win
    (0 until 20).map { i =>
      val id = (p - 1) * 10 + i
      (id.toString, s"page${p}_row$i")
    }.toDF("id", "v")

  private def fetcher(failAt: Set[(Int, Int)], attempts: scala.collection.mutable.Map[Int, Int])
      : (Instant, Int) => Either[String, Option[IncrementalStep.FetchedPage]] =
    (_, page) => {
      val a = attempts.getOrElse(page, 0) + 1
      attempts(page) = a
      if (failAt.contains((page, a))) Left(s"injected failure p$page a$a")
      else if (page > nPages) Right(None)
      else Right(Some(IncrementalStep.FetchedPage(pageBatch(page), nPages)))
    }

  private def runToCompletion(root: String, failAt: Set[(Int, Int)]): Long = {
    val store = new StateStore(s"$root/_state")
    val attempts = scala.collection.mutable.Map[Int, Int]()
    val now = Instant.parse("2024-06-15T08:00:00Z")
    var outcome: IncrementalStep.Outcome = null
    var runs = 0
    while (!outcome.isInstanceOf[IncrementalStep.Completed] && runs < 20) {
      runs += 1
      val gc = new GroupCommit(spark, s"$root/_staging", 3, "id",
        b => PartitionedMerge.mergeInto(spark, s"$root/t", b, Seq("id"), 8))
      gc.recover()
      outcome = IncrementalStep.run(store, "proc",
        fetcher(failAt, attempts), gc.stage, now)
      gc.flush(): Unit
    }
    assert(outcome.isInstanceOf[IncrementalStep.Completed],
      s"never completed: $outcome")
    runs
  }

  private def table(root: String): Seq[(String, String)] =
    PartitionedMerge.read(spark, s"$root/t")
      .as[(String, String)].collect().sortBy(_._1).toSeq

  test("runs with injected page failures converge to the clean-run table") {
    val clean = tmpDir("crash-clean")
    assert(runToCompletion(clean, Set.empty) === 1)
    val expected = table(clean)
    assert(expected.nonEmpty)

    val rnd = new Random(99)
    for (trial <- 1 to 3) {
      // fail 2-4 random pages on their first attempt (occasionally the
      // same page twice: ERRO → resume → ERRO again → resume)
      val fails = (0 until 2 + rnd.nextInt(3)).flatMap { _ =>
        val p = 1 + rnd.nextInt(nPages)
        if (rnd.nextBoolean()) Seq((p, 1)) else Seq((p, 1), (p, 2))
      }.toSet
      val dir = tmpDir(s"crash-$trial")
      val runs = runToCompletion(dir, fails)
      assert(runs > 1, s"trial $trial: failures $fails did not interrupt")
      assert(table(dir) === expected, s"trial $trial diverged (fails=$fails)")
    }
  }
}
