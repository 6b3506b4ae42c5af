package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval of the benchmark's own calls into the program.
  * Times are epoch milliseconds (fractional), the clock Spark's listener
  * events use, so jobs can be placed inside spans. */
final case class Span(id: Int, trace: Int, parent: Int, name: String,
                      start: Double, end: Double) {
  def dur: Double = (end - start) / 1000.0
  def covers(t: Double): Boolean = t >= start && t <= end
  def json: String =
    s"""{"id":$id,"trace":$trace,"parent":$parent,"name":${Json.str(name)},"start_ms":$start,"end_ms":$end}"""
}

/** In-memory span recorder. While `on` is false, `span` only runs its body.
  * A span opened with no span open starts a new trace. */
final class Tracer {
  var on = false
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[(Int, Int)] // (span id, trace id)
  private var lastId = 0
  private var lastTrace = 0
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble

  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      lastId += 1
      val id = lastId
      val (parent, trace) = open.headOption match {
        case Some((p, t)) => (p, t)
        case None => lastTrace += 1; (0, lastTrace)
      }
      open = (id, trace) :: open
      val t0 = nowMs
      try body
      finally {
        open = open.tail
        spans += Span(id, trace, parent, name, t0, nowMs)
      }
    }
}

/** Per-job record: the call-site file Spark names the job after
  * (`<op> at <File>.scala:<line>`), its interval, and the task metrics of
  * its completed stages. */
final class JobRec(val id: Int, val site: String, val start: Double,
                   val stages: Seq[Int]) {
  @volatile var end: Double = Double.NaN
  def dur: Double = (end - start) / 1000.0
}

final case class StageRec(taskS: Double, shuffleRead: Long, shuffleWrite: Long,
                          spill: Long, bytesWritten: Long, rowsWritten: Long)

/** Collects jobs and stage metrics while registered. A job that belongs
  * to a SQL execution takes the execution's call site, recorded on the
  * calling thread; jobs that adaptive execution submits from its own
  * threads would otherwise be named after a thread-pool frame. */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer[JobRec]()
  val stages = collection.mutable.Map[Int, StageRec]()
  private val executions = collection.mutable.Map[Long, String]()
  @volatile private var lastEvent = System.nanoTime()

  /** `count at PartitionedMerge.scala:97` → `PartitionedMerge.scala`. */
  def siteFile(name: String): String =
    name.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse(name)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      lastEvent = System.nanoTime()
      executions(x.executionId) = siteFile(x.description)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEvent = System.nanoTime()
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(id => executions.get(id.toLong))
    // outside SQL, the result stage carries the action's call site
    val site = exec.getOrElse(e.stageInfos.sortBy(_.stageId).lastOption
      .map(s => siteFile(s.name)).getOrElse("?"))
    jobs += new JobRec(e.jobId, site, e.time.toDouble, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEvent = System.nanoTime()
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      lastEvent = System.nanoTime()
      val m = e.stageInfo.taskMetrics
      if (m != null) stages(e.stageInfo.stageId) = StageRec(
        m.executorRunTime / 1000.0,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    }

  /** Wait until every started job has ended and the bus has been quiet
    * for 100 ms (listener events arrive asynchronously). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def quiet = synchronized {
      jobs.forall(!_.end.isNaN) && System.nanoTime() - lastEvent > 100000000L
    }
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def metrics(j: JobRec): Seq[StageRec] = synchronized(j.stages.flatMap(stages.get))
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
