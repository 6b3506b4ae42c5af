package graft.state

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.util.DateTimeUtils.{instantToMicros, microsToInstant}
import org.apache.spark.sql.types._

import graft.util.Fs

/** Pipeline state tables (SURVEY.md §2.7 s1/s2/s5): the re-expression of
  * the reference's `script_ultima_execucao` (watermarks, one row per
  * process, tiny_api_v2_cliente.py:90) and `script_progresso_paginas` (page
  * checkpoints, :91).
  *
  * State is O(#processes) rows, so it is read and written on the driver
  * and never launches a Spark job: each table is one JSON-lines file under
  * `dir`, one object per row keyed by the `wmSchema`/`pgSchema` column
  * names. A timestamp is stored as microseconds since the epoch, the
  * precision of Spark's `TimestampType`, so a watermark round-trips exactly
  * as it did through a parquet column (sub-microsecond nanos truncate).
  *
  * Commit: every update writes the whole table through `Fs.replace` (a
  * temp sibling renamed over the live file — rename(2), atomic on one
  * filesystem), so a reader sees the complete old table or the complete
  * new one. A temp file left by a crashed writer is never read.
  * Updates are serialized per table under the try-lock `<file>.lock`
  * (`Fs.awaitLock`; a writer waits while it is held): the concurrent steps
  * of one `Pipeline.run` share the two tables, and two unserialized
  * read-modify-write rewrites would drop each other's rows. A lock older
  * than a minute is a crashed writer's and is broken. Reads take no
  * lock.
  * At cluster scale this is a catalog table's atomic commit (SURVEY.md
  * §7.4); the 100 TB posture keeps *data* distributed, not these few-row
  * control tables.
  *
  * Earlier layout: a target whose `dir` holds the parquet directories
  * `watermarks/` and `progress/` of the previous store reads as an empty
  * store, since those directories are not read. Its next run therefore
  * fetches each process's full safety window
  * (`FilterResolver.SafetyWindowDays`, 60 days) instead of resuming from
  * the old watermark, and a step that stopped with ERRO restarts at page
  * 1. No row is lost (the merge is an idempotent upsert); delete the two
  * directories after that run.
  */
class StateStore(dir: String) {
  import StateStore._

  private val wmFile = Paths.get(dir, "watermarks.jsonl")
  private val pgFile = Paths.get(dir, "progress.jsonl")

  // ---- s1/s2: watermark store -----------------------------------------

  /** s1_watermark_read: per-process watermark with the reference's
    * **exclusive +1 s bound** (tiny_api_v2_cliente.py:113) applied at read
    * time, exactly like `get_ultima_execucao`. */
  def watermarkExclusive(process: String): Option[Instant] =
    rawWatermark(process).map(_.plusSeconds(1))

  /** The stored value itself (no +1 s) — what s2 wrote. */
  def rawWatermark(process: String): Option[Instant] =
    row(wmFile, wmSchema, process).map(r => microsToInstant(r(1).asLong))

  /** s2_watermark_write: upsert the watermark. The caller passes the step
    * START time, never the end time (ref :326,363) — records modified
    * mid-run get re-fetched next run instead of lost. */
  def setWatermark(process: String, ts: Instant): Unit =
    upsert(wmFile, wmSchema, Seq(process, instantToMicros(ts)))

  // ---- s5: page-checkpoint store --------------------------------------

  def getProgress(process: String): Option[Progress] =
    row(pgFile, pgSchema, process).map(r => Progress(r(0).asText, r(1).asText,
      r(2).asInt, r(3).asInt, r(4).asLong, r(5).asText))

  def upsertProgress(p: Progress): Unit =
    upsert(pgFile, pgSchema, p.productIterator.toSeq)

  // ---- driver-side JSON-lines tables, keyed on column 0 ----------------

  private val json = new ObjectMapper()

  private def lines(file: Path): Seq[String] =
    if (Files.exists(file)) Files.readAllLines(file).asScala.toSeq else Nil

  /** The fields, in schema order, of the row whose column 0 is `key`. */
  private def row(file: Path, schema: StructType, key: String): Option[Seq[JsonNode]] =
    lines(file).map { l => val o = json.readTree(l); schema.names.toSeq.map(o.required(_)) }
      .find(_.head.asText == key)

  private def upsert(file: Path, schema: StructType, row: Seq[Any]): Unit = {
    Files.createDirectories(file.getParent)
    Fs.awaitLock(file.resolveSibling(s"${file.getFileName}.lock"), 60 * 1000L) {
      val kept = lines(file)
        .filterNot(l => json.readTree(l).required(schema.names(0)).asText == row.head)
      Fs.replace(file, (kept :+ json.writeValueAsString(
        schema.names.zip(row).toMap.asJava)).map(_ + "\n").mkString)
    }
  }
}

object StateStore {
  /** Page-checkpoint row (ref DDL :91). Status state machine:
    * PENDENTE → EM_ANDAMENTO → CONCLUIDO | ERRO (ref :183-223). */
  case class Progress(process: String, filter: String, page: Int,
                      totalPages: Int, records: Long, status: String)

  val StatusPending = "PENDENTE"
  val StatusRunning = "EM_ANDAMENTO"
  val StatusDone = "CONCLUIDO"
  val StatusError = "ERRO"

  val wmSchema: StructType = StructType(Seq(
    StructField("nome_processo", StringType, nullable = false),
    StructField("timestamp_ultima_execucao", TimestampType, nullable = false)))

  val pgSchema: StructType = StructType(Seq(
    StructField("processo", StringType, nullable = false),
    StructField("data_filtro_api", StringType, nullable = false),
    StructField("pagina_atual", IntegerType, nullable = false),
    StructField("total_paginas", IntegerType, nullable = false),
    StructField("registros_processados", LongType, nullable = false),
    StructField("status_execucao", StringType, nullable = false)))
}
