package graft.sources

import java.util

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.MissingNode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ads.AdSchema

/** DataSource V2 implementation of the insights source (reference
  * `main.py:262-342`): the productionized form of S1/S2, where the fixture
  * jsonl files stand in for the paginated HTTP API. It is the only insights
  * reader; [[graft.ads.InsightsSource.read]] wraps it with the driver-side
  * per-account failure isolation (U1).
  *
  * Properties:
  *  - one InputPartition PER ACCOUNT → accounts fetch in parallel on
  *    executors, never accumulating on the driver (the reference
  *    materializes everything in one process, `main.py:473-480`);
  *  - column pruning pushdown (SupportsPushDownRequiredColumns): only
  *    requested fields are materialized from each record — the engine-side
  *    mirror of the reference's `fields` param (`main.py:274-287`);
  *  - date-range filter pushdown (SupportsPushDownFilters) on `date_start`:
  *    rows are skipped inside the reader, mirroring the API-side date
  *    predicate (`backfill.py:82-83`);
  *  - explicit ingest order: (account_idx, line number) stamped per row, the
  *    deterministic arrival order first-wins dedup needs;
  *  - PERMISSIVE lines: a line that does not parse reads as a row of null
  *    raw columns with its lineage columns set, as Spark's JSON reader does,
  *    so one bad line is a rejected row rather than a failed scan.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.InsightsV2Source")
  *   .option("path", fixtureDir).option("accounts", "a1,a2").load()
  * }}}
  */
class InsightsV2Source extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    InsightsV2Source.fullSchema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new InsightsTable(
      properties.get("path"),
      Option(properties.get("accounts")).map(_.split(',').toSeq).getOrElse(Seq.empty))
}

object InsightsV2Source {
  /** Raw record schema + lineage columns the source stamps. */
  val fullSchema: StructType = StructType(
    AdSchema.rawSchema.fields.toSeq ++ Seq(
      StructField("account_id", StringType),
      StructField("account_idx", IntegerType)))

  /** Single-page landing file of one account. */
  def singleFile(path: String, account: String): java.io.File =
    new java.io.File(s"$path/account_$account.jsonl")

  /** Page `n` (from 1) of one account's paged landing files. */
  def pageFile(path: String, account: String, n: Int): java.io.File =
    new java.io.File(s"$path/account_$account.page$n.jsonl")

  /** True when the account has landed data in either form. */
  def landed(path: String, account: String): Boolean =
    singleFile(path, account).exists() || pageFile(path, account, 1).exists()
}

/** Error taxonomy of the insights API (reference `main.py:305-339`): body
  * errors with codes 190/104 are token failures and HTTP 401/403 are
  * auth/permission failures — all four are FATAL (the reference raises
  * immediately; retrying an expired token cannot succeed). Timeouts and
  * transport hiccups are TRANSIENT and retried up to 3 attempts
  * (`max_retries = 3`, `timeout = 30`).
  */
final case class AdsApiError(code: Int, errType: String, message: String)
    extends RuntimeException(
      s"Insights API error [$code] ($errType): $message" +
        (if (AdsApiError.fatalCodes(code)) " [fatal - not retried]" else "")) {
  def fatal: Boolean = AdsApiError.fatalCodes(code)
}

object AdsApiError {
  /** 190/104 = token expired/invalid; 401/403 = unauthorized/forbidden. */
  val fatalCodes: Set[Int] = Set(190, 104, 401, 403)
}

private class InsightsTable(path: String, accounts: Seq[String])
    extends Table with SupportsRead {
  require(path != null, "option 'path' is required")
  require(accounts.nonEmpty, "option 'accounts' is required")

  override def name(): String = s"insights($path)"
  override def schema(): StructType = InsightsV2Source.fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new InsightsScanBuilder(path, accounts)
}

private class InsightsScanBuilder(path: String, accounts: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var requiredSchema: StructType = InsightsV2Source.fullSchema
  private var dateFilters: Array[Filter] = Array.empty

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  /** Accept date_start bounds (the API-pushable predicate); everything else
    * stays in the Spark plan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pushable, rest) = filters.partition {
      case GreaterThanOrEqual("date_start", _: String) => true
      case LessThanOrEqual("date_start", _: String)    => true
      case EqualTo("date_start", _: String)            => true
      case _                                           => false
    }
    dateFilters = pushable
    rest
  }

  override def pushedFilters(): Array[Filter] = dateFilters

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = requiredSchema
    override def toBatch: Batch = this
    override def description(): String =
      s"InsightsScan PushedFilters: ${dateFilters.mkString("[", ", ", "]")}, " +
        s"ReadSchema: ${requiredSchema.simpleString}"
    // an account with no landed file gets no task; idx stays its list position
    override def planInputPartitions(): Array[InputPartition] =
      accounts.zipWithIndex.filter { case (a, _) => InsightsV2Source.landed(path, a) }
        .map { case (a, i) => AccountPartition(path, a, i): InputPartition }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new InsightsReaderFactory(requiredSchema, dateFilters)
  }
}

private case class AccountPartition(path: String, account: String, idx: Int)
    extends InputPartition

private class InsightsReaderFactory(schema: StructType, dateFilters: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[AccountPartition]
    new InsightsPartitionReader(p, schema, dateFilters)
  }
}

/** Paginated reader for one account's record stream — the file stand-in for
  * the reference's cursor walk with retries (`main.py:297-331`):
  *
  *  - PAGES: `account_<id>.page1.jsonl`, `.page2.jsonl`, … are walked in
  *    order (the cursor is the next page number; after page 1 the "request"
  *    carries only the cursor, mirroring the reference's `params = {}`
  *    clear at `main.py:323`). A plain `account_<id>.jsonl` is the
  *    single-page form. An EMPTY page stops the walk even if later pages
  *    exist (`if not page: break`, `main.py:314-316`).
  *  - RETRY: each page fetch is attempted up to 3 times; transient
  *    IOExceptions (the stand-in for `requests.Timeout`) retry, and tests
  *    inject them via a `.transient` counter file consumed one failure per
  *    attempt. In the HTTP form each attempt would also carry the 30 s
  *    request timeout.
  *  - ERROR TAXONOMY: a page whose first record parses as `{"error": {...}}`
  *    is an API error body; codes 190/104 (token) and 401/403 (auth) raise
  *    [[AdsApiError]] immediately without retry — retrying an expired token
  *    cannot succeed (`main.py:305-311, 333-339`). A first line that does
  *    not parse is data, not an error body: it reads as a null row.
  *
  * Memory is constant per page either way; rows stream line-at-a-time.
  */
private class InsightsPartitionReader(
    p: AccountPartition, schema: StructType, dateFilters: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val maxRetries = 3

  private val singleFile = InsightsV2Source.singleFile(p.path, p.account)
  private def pageFile(n: Int) = InsightsV2Source.pageFile(p.path, p.account, n)

  private var pageNo = 0 // 0 = single-file form; >0 = the page cursor
  private var exhausted = false
  private var lines: Iterator[String] = Iterator.empty
  private var lineNo = -1L
  private var current: InternalRow = _

  /** Fetch one page with the retry loop. Returns None when the cursor is
    * past the last page (or the single file is absent).
    */
  private def fetchPage(f: java.io.File): Option[Seq[String]] = {
    if (!f.exists()) return None
    var attempt = 1
    while (true) {
      try return Some(fetchOnce(f))
      catch {
        case e: AdsApiError if e.fatal => throw e // token/auth: never retried
        case e @ (_: java.io.IOException | _: AdsApiError) => // transient
          if (attempt >= maxRetries)
            throw new java.io.IOException(
              s"page ${f.getName} failed after $maxRetries attempts", e)
          attempt += 1
      }
    }
    None // unreachable
  }

  /** One fetch attempt: honor injected transient failures, read the page,
    * surface an error body as the classified exception.
    */
  private def fetchOnce(f: java.io.File): Seq[String] = {
    val marker = new java.io.File(f.getPath + ".transient")
    if (marker.exists()) {
      val remaining = new String(java.nio.file.Files.readAllBytes(marker.toPath)).trim.toInt
      if (remaining > 0) {
        java.nio.file.Files.write(marker.toPath, String.valueOf(remaining - 1).getBytes)
        throw new java.io.IOException(s"simulated transient failure (${f.getName})")
      }
    }
    val content = scala.io.Source.fromFile(f)
    val page = try content.getLines().toVector finally content.close()
    for {
      first <- page.find(_.trim.nonEmpty)
      node <- Try(mapper.readTree(first)).toOption
      err <- Option(node.get("error")) if !err.isNull
    } throw AdsApiError(
      Option(err.get("code")).map(_.asInt).getOrElse(-1),
      Option(err.get("type")).map(_.asText).getOrElse("Unknown"),
      Option(err.get("message")).map(_.asText).getOrElse("Unknown error"))
    page
  }

  /** Advance the page cursor; false when the account stream is done. */
  private def nextPage(): Boolean = {
    if (exhausted) return false
    val page =
      if (pageNo == 0 && singleFile.exists()) { pageNo = -1; fetchPage(singleFile) }
      else if (pageNo >= 0) { pageNo += 1; fetchPage(pageFile(pageNo)) }
      else None
    page match {
      case Some(ls) if ls.exists(_.trim.nonEmpty) => lines = ls.iterator; true
      case _ => exhausted = true; false // empty page or past-the-end: stop
    }
  }

  private def dateOk(node: JsonNode): Boolean = {
    val d = Option(node.get("date_start")).map(_.asText).getOrElse("")
    dateFilters.forall {
      case GreaterThanOrEqual(_, v: String) => d >= v
      case LessThanOrEqual(_, v: String)    => d <= v
      case EqualTo(_, v: String)            => d == v
      case _                                => true
    }
  }

  override def next(): Boolean = {
    while (lines.hasNext || nextPage()) {
      val line = lines.next()
      lineNo += 1
      if (line.trim.nonEmpty) {
        // unparseable → MissingNode: every raw field reads null
        val node = Try(mapper.readTree(line)).getOrElse(MissingNode.getInstance)
        if (dateOk(node)) {
          current = convert(node)
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()

  /** Materialize ONLY the pruned fields. */
  private def convert(node: JsonNode): InternalRow = {
    val values = schema.fields.map { f =>
      f.name match {
        case "account_id"  => UTF8String.fromString(p.account)
        case "account_idx" => p.idx
        case "ingest_idx"  =>
          Option(node.get("ingest_idx")).map(_.asLong).getOrElse(lineNo)
        case name =>
          val v = node.get(name)
          if (v == null || v.isNull) null
          else f.dataType match {
            case StringType => UTF8String.fromString(v.asText)
            case LongType   => v.asLong
            case at: ArrayType => convertArray(v, at)
            case other => throw new IllegalStateException(s"unsupported type $other")
          }
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  private def convertArray(v: JsonNode, at: ArrayType): ArrayData = {
    val st = at.elementType.asInstanceOf[StructType]
    val elems = v.elements().asScala.map { el =>
      new GenericInternalRow(st.fields.map { sf =>
        val x = el.get(sf.name)
        if (x == null || x.isNull) null else UTF8String.fromString(x.asText)
      }.asInstanceOf[Array[Any]]): Any
    }.toArray
    new GenericArrayData(elems)
  }
}
