package graft.sources

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, EqualTo}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 realization of `src_rest_paginated` (SURVEY.md §2.1):
  * a paginated source where each API page is one `page-N.json` (or dated
  * `page-N-YYYY-MM-DD.json`) envelope file under `path`, exposed as rows
  * `(page INT, page_date STRING, body STRING)`.
  *
  * What makes this the 100 TB shape:
  *  - **one InputPartition per page** → a 10 000-page extract fans out as
  *    10 000 independent tasks, no driver bottleneck;
  *  - **pagination pushdown** (`SupportsPushDownFilters` on `page`):
  *    `WHERE page >= N` prunes partitions at PLANNING time — the resume
  *    path of the s5 checkpoint never even lists skipped pages' bytes;
  *  - **watermark-date pushdown** (same interface, on `page_date`): a
  *    dated page file carries its extract date in the filename, and
  *    `WHERE page_date >= wm` prunes older pages at planning time — the
  *    batch analog of the reference pushing `data_filtro_api` into the
  *    API query string (ref :333,:348): filtered-out pages are never
  *    fetched, not fetched-then-dropped.
  *
  * Usage: `spark.read.format("graft.sources.PageFileSource")
  *   .option("path", dir).load().filter($"page_date" >= wm)` then decode
  * `body` with EnvelopeReader's schema (from_json).
  */
class PageFileSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PageFileSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "graft.sources.PageFileSource requires .option(\"path\", <dir>)")
    new PageTable(path)
  }
}

object PageFileSource {
  val schema: StructType = StructType(Seq(
    StructField("page", IntegerType, nullable = false),
    StructField("page_date", StringType, nullable = true),
    StructField("body", StringType, nullable = false)))

  private val PageFile = """page-(\d+)(?:-(\d{4}-\d{2}-\d{2}))?\.json""".r

  /** One page file: number, optional ISO extract date (from the
    * filename), absolute path. ISO-8601 compares lexicographically in
    * date order, so String bounds prune correctly. */
  final case class PageEntry(page: Int, date: Option[String], file: String)

  /** Page files under `dir`, deduplicated by page number (first path in
    * (page, path) order wins, so `page-01.json` vs `page-1.json` can't
    * yield two rows); out-of-Int-range numbers are skipped, not fatal. */
  def listPages(dir: String): Seq[PageEntry] =
    graft.util.Fs.list(Paths.get(dir)).flatMap { p =>
      p.getFileName.toString match {
        case PageFile(n, dt) =>
          n.toIntOption.map(pn => (pn, p.toString, Option(dt)))
        case _ => None
      }
    }.sorted.distinctBy(_._1)
      .map { case (pn, path, dt) => PageEntry(pn, dt, path) }
}

class PageTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft_pages path=$path"
  override def schema(): StructType = PageFileSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PageScanBuilder(path)
}

/** Pushes page-range AND page_date-range predicates into partition
  * planning. Page bounds are kept as Long so strict-bound adjustment
  * (`v ± 1`) cannot overflow — Spark never re-applies a filter claimed
  * in pushedFilters(), so a wrapped bound would silently return wrong
  * rows. Date bounds keep (value, inclusive) pairs — no ±1 exists for
  * strings. A single match both decides support and updates the bound
  * (no second list to keep in sync). */
class PageScanBuilder(path: String)
  extends ScanBuilder with SupportsPushDownFilters {

  private var lo = Long.MinValue
  private var hi = Long.MaxValue
  // (bound, inclusive); tightest wins — equal bounds AND the inclusive flags
  private var dLo: Option[(String, Boolean)] = None
  private var dHi: Option[(String, Boolean)] = None
  private var pushed = List.empty[Filter]

  private def tightenLo(v: String, incl: Boolean): Unit =
    dLo = Some(dLo match {
      case Some((b, bi)) =>
        if (v > b) (v, incl) else if (v < b) (b, bi) else (b, bi && incl)
      case None => (v, incl)
    })
  private def tightenHi(v: String, incl: Boolean): Unit =
    dHi = Some(dHi match {
      case Some((b, bi)) =>
        if (v < b) (v, incl) else if (v > b) (b, bi) else (b, bi && incl)
      case None => (v, incl)
    })

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val rest = filters.filterNot { f =>
      val consumed = f match {
        case GreaterThanOrEqual("page", v: Int) => lo = math.max(lo, v.toLong); true
        case GreaterThan("page", v: Int) => lo = math.max(lo, v.toLong + 1); true
        case LessThanOrEqual("page", v: Int) => hi = math.min(hi, v.toLong); true
        case LessThan("page", v: Int) => hi = math.min(hi, v.toLong - 1); true
        case EqualTo("page", v: Int) =>
          lo = math.max(lo, v.toLong); hi = math.min(hi, v.toLong); true
        case GreaterThanOrEqual("page_date", v: String) => tightenLo(v, incl = true); true
        case GreaterThan("page_date", v: String) => tightenLo(v, incl = false); true
        case LessThanOrEqual("page_date", v: String) => tightenHi(v, incl = true); true
        case LessThan("page_date", v: String) => tightenHi(v, incl = false); true
        case EqualTo("page_date", v: String) =>
          tightenLo(v, incl = true); tightenHi(v, incl = true); true
        case _ => false
      }
      if (consumed) pushed ::= f
      consumed
    }
    rest // Spark re-applies the rest; pushed ranges prune partitions
  }
  override def pushedFilters(): Array[Filter] = pushed.toArray

  override def build(): Scan = new PageScan(path, lo, hi, dLo, dHi)
}

class PageScan(path: String, lo: Long, hi: Long,
               dLo: Option[(String, Boolean)], dHi: Option[(String, Boolean)])
  extends Scan with Batch {
  override def readSchema(): StructType = PageFileSource.schema
  override def toBatch: Batch = this
  override def description(): String = {
    def b(x: Option[(String, Boolean)], open: String) =
      x.map { case (v, incl) => s"$v${if (incl) "" else open}" }.getOrElse("*")
    s"graft_pages path=$path pageRange=[$lo,$hi] " +
      s"dateRange=[${b(dLo, "!")},${b(dHi, "!")}]"
  }

  /** SQL comparison semantics: a pushed date predicate excludes undated
    * (NULL page_date) pages — NULL compares to nothing. */
  private def dateMatch(date: Option[String]): Boolean =
    if (dLo.isEmpty && dHi.isEmpty) true
    else date.exists { dt =>
      dLo.forall { case (b, incl) => if (incl) dt >= b else dt > b } &&
      dHi.forall { case (b, incl) => if (incl) dt <= b else dt < b }
    }

  override def planInputPartitions(): Array[InputPartition] =
    PageFileSource.listPages(path)
      .filter(e => e.page >= lo && e.page <= hi && dateMatch(e.date))
      .map(e => PagePartition(e.page, e.date.orNull, e.file): InputPartition)
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val PagePartition(page, date, file) = partition: @unchecked
        new PartitionReader[InternalRow] {
          private var consumed = false
          override def next(): Boolean = !consumed && { consumed = true; true }
          override def get(): InternalRow =
            InternalRow(page,
              if (date == null) null else UTF8String.fromString(date),
              UTF8String.fromString(
                new String(Files.readAllBytes(Paths.get(file)), "UTF-8")))
          override def close(): Unit = ()
        }
      }
    }
}

case class PagePartition(page: Int, date: String, file: String)
  extends InputPartition
