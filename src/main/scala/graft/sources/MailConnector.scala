package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.{ArrayBuffer, Queue => MQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull, Not}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector shell (SURVEY §7.2 M6): the reference's
  * Gmail→BigQuery transport re-expressed as a Spark source/sink pair,
  * backed by a deterministic fake transport so behavior is fixture-
  * testable and oracle-checkable.
  *
  * Read path — mirrors the paginated Gmail scan (reference:
  * etl_service/main.py:163-210):
  *  - pages of `pageSize` ids (default 500, the reference's
  *    maxResults at main.py:168) are packed into a few contiguous,
  *    page-aligned ranges per account — `min(pages, ceil(P /
  *    accounts))` of them, P = the context's default parallelism, the
  *    figure Spark's own file-split packing starts from. Each range is
  *    one `InputPartition` whose reader walks its pages in order, one
  *    LIST per page, like the reference's cursor loop inside one
  *    token's worker; the ranges read concurrently, so every core has
  *    a range to read and no task pays its fixed cost for one page;
  *  - `SupportsPushDownFilters`: folder predicates are accepted,
  *    translated to Gmail `q` syntax ("in:inbox -in:spam", the
  *    main.py:160 algebra) — visible in `.explain` as PushedFilters
  *    and in the scan description — and evaluated at the source, so
  *    excluded messages are never materialized;
  *  - `SupportsPushDownRequiredColumns`: mirrors the
  *    format="metadata" + metadataHeaders projection (main.py:181-186)
  *    — unrequested columns are never generated;
  *  - already-landed ids are dropped between LIST and GET, as the
  *    reference filters each listed page against the sink's
  *    `existing_ids` before the detail fetch (main.py:175): the
  *    [[PushKnownIds]] optimizer rule turns a `left_anti` join of the
  *    scan against a driver-local relation into [[KnownIds]] carried by
  *    the scan. Each page range receives only its own slice of them,
  *    and its reader drops them from every listed page before chunking
  *    — counted as the "knownIds" metric and shown as `known=<n>` in
  *    the scan description;
  *  - `enrich=true` models the reference's TWO-phase read
  *    (main.py:177-191): the page scan lists message ids only; a
  *    second, chunk-of-50 batched "get" stage inside the
  *    `PartitionReader` materializes the metadata, with up to
  *    `fetchPool` chunks in flight at once (default 5, the reference's
  *    intra-batch ThreadPoolExecutor at main.py:219-229). A failing
  *    get is an
  *    error-as-value (main.py:187-191 returns HttpError objects from
  *    the thread pool instead of raising): the message is skipped and
  *    counted — surfaced both as a DSv2 custom metric
  *    ("skippedMessages", visible in the SQL UI) and in [[MailMetrics]]
  *    for tests. The scan also reports the pages it listed
  *    ("listPages") and the batched gets it sent ("batchGets") as
  *    custom metrics, since a partition is no longer one page;
  *  - `tokens=name:state,…` models the reference's credential handling
  *    (main.py:132-140, :149-155): each account's token is `valid`,
  *    `expired_refresh` (refreshed inside reader open — the
  *    creds.refresh(Request()) path) or `expired_dead` (no refresh
  *    token: the account is dropped at planning time and counted,
  *    mirroring download_token's None return). With tokens present
  *    each live account gets its own page ranges — the Spark form of
  *    the reference's per-token ThreadPoolExecutor fan-out
  *    (main.py:219).
  *
  * Write path — mirrors the batched BigQuery sink (main.py:231-254):
  *  - rows buffered and flushed in `batchSize` chunks (default 1000,
  *    main.py:49/:240);
  *  - per-batch error isolation: a failing batch is dropped and
  *    counted, later batches still land (main.py:244-250) — reported,
  *    like the reference's per-run response (main.py:316-319), as the
  *    write's "insertedRows", "sinkBatches" and "failedBatches"
  *    metrics;
  *  - `maxBatchesPerSec` is the reference's 1 s inter-batch throttle
  *    (main.py:252-253) as a token-bucket [[Pacer]] — per writer task,
  *    like the reference's per-process sleep; clock and sleeper are
  *    injectable ([[MailClock]]) so tests pace against a fake clock;
  *  - the in-memory sink is a JVM-global map (fine under local[*];
  *    a cluster deployment swaps [[MailSink]] for a remote client
  *    initialized per `DataWriter`, the standard connector pattern).
  *
  * The fake transport generates message doc_id ∈ [0, nmsgs) with
  * folder/subject/sender derived by modular arithmetic, so a DuckDB
  * `range()` CTE replays the exact dataset for the correctness gate.
  */
object MailTransport {
  val Folders: Array[String] = Array("INBOX", "SENT", "TRASH", "SPAM", "ARCHIVE")

  /** Chunk size of the batched messages.get stage (main.py:183). */
  val GetBatch = 50

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("thread_id", StringType, nullable = true),
    StructField("folder", StringType, nullable = false),
    StructField("subject", StringType, nullable = true),
    StructField("sender", StringType, nullable = true),
    StructField("recipient", StringType, nullable = true),
    StructField("ts_raw", StringType, nullable = true)))

  /** Schema for multi-account (`tokens=`) reads: rows are tagged with
    * the owning account, the per-token dimension of main.py:219-229.
    */
  val accountSchema: StructType =
    StructType(StructField("account", StringType, nullable = false) +: schema.fields)

  def folderOf(docId: Long): String = Folders((docId % 5).toInt)

  /** Field value for one message — the fake Gmail server. */
  def fieldOf(name: String, docId: Long): Any = name match {
    case "doc_id"    => docId
    case "id"        => UTF8String.fromString(s"msg$docId")
    case "thread_id" => UTF8String.fromString(s"t${docId % 50}")
    case "folder"    => UTF8String.fromString(folderOf(docId))
    case "subject"   => UTF8String.fromString(s"subject ${docId % 997}")
    case "sender"    => UTF8String.fromString(s"user${docId % 20}@example.com")
    case "recipient" => UTF8String.fromString(s"dest${docId % 9}@example.org")
    case "ts_raw"    => UTF8String.fromString(
      s"Mon, ${docId % 28 + 1} Jan 2024 0${docId % 10}:00:00 +0000")
  }

  /** Test hook: invoked once per batchGet call — the wire round-trip.
    * Specs install a latency/concurrency probe here to prove the
    * enrich reader's chunk pool overlaps fetches; production leaves it
    * a no-op.
    */
  @volatile var onBatchGet: Seq[Long] => Unit = _ => ()

  /** The batched point-lookup (main.py:177-191): one messages.get per
    * id, errors returned as values (the reference's `_batch_execute`
    * maps HttpError into the result list instead of raising). A
    * deterministic poison set — docId % errorEvery == errorOffset —
    * stands in for the transient API failures.
    */
  def batchGet(ids: Seq[Long], errorEvery: Long, errorOffset: Long): Seq[Either[String, Long]] = {
    onBatchGet(ids)
    ids.map { id =>
      if (errorEvery > 0 && id % errorEvery == errorOffset)
        Left(s"get msg$id: 503 backend error")
      else Right(id)
    }
  }

  /** Credential states of the reference's token files (main.py:132-155). */
  sealed trait TokenState
  case object Valid extends TokenState
  case object ExpiredRefreshable extends TokenState
  case object ExpiredDead extends TokenState

  case class Credential(account: String, state: TokenState)

  /** Parse `tokens=alice:valid,bob:expired_refresh,carol:expired_dead`. */
  def parseTokens(spec: String): Seq[Credential] =
    spec.split(',').toSeq.filter(_.nonEmpty).map { part =>
      val Array(name, st) = part.split(':')
      val state = st match {
        case "valid"           => Valid
        case "expired_refresh" => ExpiredRefreshable
        case "expired_dead"    => ExpiredDead
        case other => throw new IllegalArgumentException(s"unknown token state: $other")
      }
      Credential(name, state)
    }

  /** Folder-predicate subset of the pushed filters, compiled to a
    * source-side row test. Only filters this returns Some for are
    * accepted by pushFilters.
    */
  def compile(f: Filter): Option[Long => Boolean] = f match {
    case EqualTo("folder", v: String)      => Some(id => folderOf(id) == v)
    case In("folder", vs)                  =>
      val set = vs.map(String.valueOf).toSet; Some(id => set.contains(folderOf(id)))
    case Not(EqualTo("folder", v: String)) => Some(id => folderOf(id) != v)
    case IsNotNull("folder" | "id" | "doc_id") => Some(_ => true)
    case _                                 => None
  }

  /** The accepted filters rendered in Gmail `q` syntax (main.py:160). */
  def gmailQ(fs: Seq[Filter]): String = fs.flatMap {
    case EqualTo("folder", v: String)      => Some(s"in:${v.toLowerCase}")
    case In("folder", vs)                  =>
      Some(vs.map(v => s"in:${String.valueOf(v).toLowerCase}").mkString("(", " OR ", ")"))
    case Not(EqualTo("folder", v: String)) => Some(s"-in:${v.toLowerCase}")
    case _                                 => None
  }.mkString(" ")
}

/** JVM-global observability for the fake transport, keyed by the scan's
  * `runId` option: enrichment skips (error-as-value gets), refreshed
  * accounts, dropped dead accounts. Sets/adders so re-planning and task
  * retries stay idempotent where the semantics demand it.
  */
object MailMetrics {
  private val skippedMap = new ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  private val refreshedMap = new ConcurrentHashMap[String, java.util.Set[String]]()
  private val deadMap = new ConcurrentHashMap[String, java.util.Set[String]]()

  def addSkipped(runId: String, n: Long): Unit =
    skippedMap.computeIfAbsent(runId, _ => new java.util.concurrent.atomic.LongAdder).add(n)
  def skipped(runId: String): Long =
    Option(skippedMap.get(runId)).map(_.sum()).getOrElse(0L)

  def recordRefresh(runId: String, account: String): Unit =
    refreshedMap.computeIfAbsent(runId, _ => ConcurrentHashMap.newKeySet[String]()).add(account)
  def refreshed(runId: String): Set[String] =
    Option(refreshedMap.get(runId)).map(_.asScala.toSet).getOrElse(Set.empty)

  def recordDead(runId: String, account: String): Unit =
    deadMap.computeIfAbsent(runId, _ => ConcurrentHashMap.newKeySet[String]()).add(account)
  def dead(runId: String): Set[String] =
    Option(deadMap.get(runId)).map(_.asScala.toSet).getOrElse(Set.empty)

  /** Temp-credential lifecycle ledger: path → was the file still
    * present when its task-completion cleanup ran (None = cleanup
    * never fired). Lets specs prove the reference's temp-file contract
    * (main.py:120, :305-314): exists for the whole read, gone after.
    */
  private val tempMap = new ConcurrentHashMap[String, ConcurrentHashMap[String, Option[Boolean]]]()

  def recordTempCreate(runId: String, path: String): Unit =
    tempMap.computeIfAbsent(runId, _ => new ConcurrentHashMap).put(path, None)
  def recordTempCleanup(runId: String, path: String, existed: Boolean): Unit =
    tempMap.computeIfAbsent(runId, _ => new ConcurrentHashMap).put(path, Some(existed))
  def tempFiles(runId: String): Map[String, Option[Boolean]] =
    Option(tempMap.get(runId)).map(_.asScala.toMap).getOrElse(Map.empty)

  def clear(runId: String): Unit = {
    skippedMap.remove(runId); refreshedMap.remove(runId); deadMap.remove(runId)
    tempMap.remove(runId)
  }
}

/** Injectable clock/sleeper for the write-side pacer — production uses
  * the real ones; specs install a fake to measure pacing without
  * wall-clock waits.
  */
object MailClock {
  @volatile var nanoTime: () => Long = () => System.nanoTime()
  @volatile var sleep: Long => Unit = millis => Thread.sleep(millis)
  def reset(): Unit = {
    nanoTime = () => System.nanoTime()
    sleep = millis => Thread.sleep(millis)
  }
}

/** Token-bucket pacer: at most `ratePerSec` acquisitions per second,
  * enforced as a minimum inter-acquire interval — the declarative form
  * of the reference's `time.sleep(1)` between sink batches
  * (main.py:252-253). One instance per writer task: pacing is per
  * process, exactly like the reference's loop.
  */
class Pacer(ratePerSec: Double) extends Serializable {
  private val intervalNanos = (1e9 / ratePerSec).toLong
  private var nextAllowed = Long.MinValue

  def acquire(): Unit = {
    val now = MailClock.nanoTime()
    if (nextAllowed == Long.MinValue) nextAllowed = now
    if (now < nextAllowed) MailClock.sleep((nextAllowed - now) / 1000000L max 1L)
    nextAllowed = math.max(now, nextAllowed) + intervalNanos
  }
}

/** In-memory sink store, keyed by the `sink` option. JVM-global so
  * local[*] tasks and the driver observe the same state.
  */
object MailSink {
  val stores = new ConcurrentHashMap[String, java.util.Queue[Seq[String]]]()
  def store(name: String): java.util.Queue[Seq[String]] =
    stores.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]())
  def inserted(name: String): Seq[Seq[String]] = store(name).asScala.toSeq
  def clear(name: String): Unit = stores.remove(name)
}

class MailSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("tokens")) MailTransport.accountSchema else MailTransport.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new MailTable(properties.asScala.toMap)
}

/** Read-path options bundled so they thread through builder → scan →
  * reader factory without positional-arg sprawl.
  */
case class MailReadConf(
    nmsgs: Long, pageSize: Int, maxPagesPerTrigger: Int,
    enrich: Boolean, errorEvery: Long, errorOffset: Long,
    tokens: Seq[MailTransport.Credential], runId: String,
    fetchPool: Int = 5) {
  def schema: StructType =
    if (tokens.nonEmpty) MailTransport.accountSchema else MailTransport.schema
}

class MailTable(props: Map[String, String], known: KnownIds = KnownIds.empty)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = "graft_mail"
  override def schema(): StructType =
    if (props.contains("tokens")) MailTransport.accountSchema else MailTransport.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MailScanBuilder(MailReadConf(
      options.getLong("nmsgs", 1000L),
      options.getInt("pageSize", 500),
      options.getInt("maxPagesPerTrigger", Int.MaxValue),
      options.getBoolean("enrich", false),
      options.getLong("errorEvery", 0L),
      options.getLong("errorOffset", 13L),
      Option(options.get("tokens")).map(MailTransport.parseTokens).getOrElse(Nil),
      options.getOrDefault("runId", "default"),
      options.getInt("fetchPool", 5)), known)

  def withKnown(more: KnownIds): MailTable = new MailTable(props, known ++ more)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val sink = info.options.getOrDefault("sink", "default")
    val batchSize = info.options.getInt("batchSize", 1000)
    val maxBatchesPerSec = info.options.getDouble("maxBatchesPerSec", 0.0)
    val schema = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new MailBatchWrite(sink, batchSize, maxBatchesPerSec, schema)
        override def supportedCustomMetrics(): Array[CustomMetric] =
          Array(new InsertedRowsMetric, new SinkBatchesMetric, new FailedBatchesMetric)
      }
    }
  }
}

class MailScanBuilder(conf: MailReadConf, known: KnownIds)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = conf.schema

  /** Accept what the transport can evaluate; everything else stays a
    * residual Spark-side Filter (the connector never "loses" a
    * predicate it can't honor).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(MailTransport.compile(_).isDefined)
    accepted = ok
    residual
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = new MailScan(conf, accepted, required, known)
}

/** A contiguous run of pages of the paginated scan: [start, end) of
  * the id space with `start` on a page boundary, optionally owned by
  * one account of the `tokens=` roster, with the sorted already-landed
  * doc ids inside it that its reader drops after LIST.
  */
case class MailPageRange(start: Long, end: Long, account: String, known: Array[Long])
    extends InputPartition

/** Streaming offset = number of pages fully consumed — exactly the
  * reference's `nextPageToken` cursor (main.py:208-210) made explicit.
  */
case class MailOffset(page: Long) extends Offset {
  override def json(): String = page.toString
}

class MailScan(conf: MailReadConf, filters: Array[Filter], required: StructType, known: KnownIds)
    extends Scan with Batch {
  private val totalPages = (conf.nmsgs + conf.pageSize - 1) / conf.pageSize

  /** Accounts whose token is usable (valid or refreshable). Dead tokens
    * are dropped here at planning time — the reference's download_token
    * None return (main.py:137-139) — and recorded for observability.
    */
  private def liveAccounts: Seq[String] = {
    conf.tokens.collect { case MailTransport.Credential(a, MailTransport.ExpiredDead) =>
      MailMetrics.recordDead(conf.runId, a)
    }
    conf.tokens.collect {
      case MailTransport.Credential(a, MailTransport.Valid) => a
      case MailTransport.Credential(a, MailTransport.ExpiredRefreshable) => a
    }
  }

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-mail nmsgs=${conf.nmsgs} pageSize=${conf.pageSize} " +
      s"q='${MailTransport.gmailQ(filters.toSeq)}' " +
      s"fields=${required.fieldNames.mkString(",")}" +
      (if (conf.enrich) s" enrich=batchGet(${MailTransport.GetBatch})x${conf.fetchPool}" else "") +
      (if (known.size > 0) s" known=${known.size}" else "")
  override def toBatch: Batch = this

  /** This scan with more already-landed keys to drop after LIST. */
  def withKnown(more: KnownIds): MailScan = new MailScan(conf, filters, required, known ++ more)

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new SkippedMessagesMetric, new ListPagesMetric, new BatchGetsMetric, new KnownIdsMetric)

  override def planInputPartitions(): Array[InputPartition] =
    packPages(if (conf.tokens.isEmpty) Seq(null) else liveAccounts, 0L, totalPages)

  /** The one planning rule of batch and micro-batch reads: pages
    * [fromPage, toPage) of each account split into `min(pages, ceil(P /
    * accounts))` contiguous, page-aligned ranges whose page counts
    * differ by at most one. P is the default parallelism, so the plan
    * has about one range per core and never more partitions than pages.
    */
  private def packPages(accounts: Seq[String], fromPage: Long, toPage: Long): Array[InputPartition] = {
    val pages = toPage - fromPage
    if (accounts.isEmpty || pages <= 0) return Array.empty
    val p = SparkSession.active.sparkContext.defaultParallelism
    val ranges = math.min(pages, (p + accounts.size - 1) / accounts.size)
    def bound(i: Long): Long = math.min((fromPage + pages * i / ranges) * conf.pageSize, conf.nmsgs)
    (for { a <- accounts; i <- 0L until ranges }
      yield MailPageRange(bound(i), bound(i + 1), a, known.slice(a, bound(i), bound(i + 1))): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MailReaderFactory(required.fieldNames, filters, conf)

  /** The reference's page loop as a Structured Streaming micro-batch
    * protocol (main.py:163-210): offset = page cursor;
    * `maxPagesPerTrigger` is the declarative form of its fixed 0.5 s
    * inter-page throttle (rate limiting by admission control instead
    * of sleeps). Within a trigger, that batch's pages are packed into
    * page ranges by the same rule as a batch scan and the ranges read
    * concurrently. (Streaming reads are single-account: the `tokens`
    * roster applies to batch scans.)
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MailMicroBatchStream(this)

  private[sources] def pagesBetween(fromPage: Long, toPage: Long): Array[InputPartition] =
    packPages(Seq(null), fromPage, toPage)

  private[sources] def cappedEnd(fromPage: Long): Long =
    math.min(fromPage + conf.maxPagesPerTrigger, totalPages)

  private[sources] def lastPage: Long = totalPages
  private[sources] def readerFactory: PartitionReaderFactory =
    new MailReaderFactory(required.fieldNames, filters, conf)
}

class SkippedMessagesMetric extends CustomSumMetric {
  override def name(): String = "skippedMessages"
  override def description(): String = "messages skipped by failed batched get"
}

class ListPagesMetric extends CustomSumMetric {
  override def name(): String = "listPages"
  override def description(): String = "pages listed, one LIST call each"
}

class BatchGetsMetric extends CustomSumMetric {
  override def name(): String = "batchGets"
  override def description(): String = "batched get calls of up to 50 ids"
}

class KnownIdsMetric extends CustomSumMetric {
  override def name(): String = "knownIds"
  override def description(): String = "listed ids dropped as already landed"
}

class InsertedRowsMetric extends CustomSumMetric {
  override def name(): String = "insertedRows"
  override def description(): String = "rows inserted into the sink"
}

class SinkBatchesMetric extends CustomSumMetric {
  override def name(): String = "sinkBatches"
  override def description(): String = "sink batches flushed, landed or failed"
}

class FailedBatchesMetric extends CustomSumMetric {
  override def name(): String = "failedBatches"
  override def description(): String = "sink batches rejected and dropped"
}

/** A reader's running value of one of the scan's sum metrics. */
case class MailTaskMetric(name: String, value: Long) extends CustomTaskMetric

class MailMicroBatchStream(scan: MailScan)
    extends MicroBatchStream with SupportsAdmissionControl {
  override def initialOffset(): Offset = MailOffset(0L)
  override def deserializeOffset(json: String): Offset = MailOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  // Admission control here is page-based (maxPagesPerTrigger); the
  // ReadLimit hint is not consulted — row-based limits would need
  // page-count arithmetic against pageSize.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    MailOffset(scan.cappedEnd(start.asInstanceOf[MailOffset].page))

  override def reportLatestOffset(): Offset = MailOffset(scan.lastPage)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    scan.pagesBetween(start.asInstanceOf[MailOffset].page, end.asInstanceOf[MailOffset].page)

  override def createReaderFactory(): PartitionReaderFactory = scan.readerFactory
}

/** Explicit factory class (not a SAM lambda): it ships to executors,
  * so it must be Serializable without capturing the driver-side Scan.
  */
class MailReaderFactory(fields: Array[String], filters: Array[Filter], conf: MailReadConf)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val range = partition.asInstanceOf[MailPageRange]
    val tests = filters.flatMap(MailTransport.compile)

    // Reader open = credential use (main.py:149-155): an expired-but-
    // refreshable token is refreshed before the first request. Dead
    // tokens never reach here — they were dropped at planning.
    conf.tokens.find(_.account == range.account).foreach { cred =>
      cred match {
        case MailTransport.Credential(a, MailTransport.ExpiredRefreshable) =>
          MailMetrics.recordRefresh(conf.runId, a)
        case _ => ()
      }
      // Executor-local credential materialization (main.py:120
      // downloads each token to /tmp/<name>): the file exists only for
      // this task's lifetime. Cleanup registers on TaskContext — the
      // executor-side form of the reference's cleanup-after-run loop
      // (main.py:305-314) — and is best-effort like it (a failed
      // delete never fails the task). On a real cluster this is the
      // standard pattern for per-task scratch: node-local tmpdir,
      // lifetime bounded by the task, never the JVM.
      val tok = java.nio.file.Files.createTempFile(s"graft_token_${cred.account}_", ".tok")
      java.nio.file.Files.write(tok, s"${cred.account}:${cred.state}".getBytes("UTF-8"))
      MailMetrics.recordTempCreate(conf.runId, tok.toString)
      Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        val existed = java.nio.file.Files.exists(tok)
        MailMetrics.recordTempCleanup(conf.runId, tok.toString, existed)
        try java.nio.file.Files.deleteIfExists(tok)
        catch { case _: Throwable => () }
      })
    }

    def row(docId: Long): InternalRow =
      new GenericInternalRow(fields.map {
        case "account" => UTF8String.fromString(range.account)
        case f         => MailTransport.fieldOf(f, docId)
      }.toArray[Any])

    // The range's pages in cursor order (main.py:163-210); each LIST
    // returns the page's ids already server-filtered by the pushed `q`,
    // and the ids already landed are dropped before any GET
    // (main.py:175). Ids ascend, so one cursor walks the sorted slice.
    var listed = 0L
    var dropped = 0L
    var k = 0
    def fresh(id: Long): Boolean = {
      while (k < range.known.length && range.known(k) < id) k += 1
      val hit = k < range.known.length && range.known(k) == id
      if (hit) dropped += 1
      !hit
    }
    val pages: Iterator[IndexedSeq[Long]] =
      (range.start until range.end by conf.pageSize.toLong).iterator.map { s =>
        listed += 1
        (s until math.min(s + conf.pageSize, range.end)).filter(id => tests.forall(_(id)) && fresh(id))
      }

    if (!conf.enrich) {
      // Single-phase: the list response already carries the metadata.
      new PartitionReader[InternalRow] {
        private val ids = pages.flatten
        private var cur = -1L
        override def next(): Boolean = ids.hasNext && { cur = ids.next(); true }
        override def get(): InternalRow = row(cur)
        override def currentMetricsValues(): Array[CustomTaskMetric] =
          Array(MailTaskMetric("listPages", listed), MailTaskMetric("knownIds", dropped))
        override def close(): Unit = ()
      }
    } else {
      // Two-phase (main.py:177-191): each page's LIST yields ids; the
      // chunk-of-50 batched GET over that page's ids materializes
      // metadata, per-message errors returned as values and skipped —
      // a bad message never fails its chunk, its page, or the job.
      //
      // Chunks are fetched through a bounded pool of `fetchPool`
      // in-flight requests (default 5 — the reference's
      // ThreadPoolExecutor(max_workers=5) inside each batch,
      // main.py:219-229), hiding per-request wire latency behind the
      // row consumer; the window runs on across page boundaries.
      // Results are consumed in submission order, so the reader's
      // output order (and therefore everything downstream) is
      // identical to the serial form. At cluster scale this is
      // per-task I/O concurrency: 1000 tasks × 5 in-flight requests,
      // each task's memory bounded by pool × chunk rows.
      new PartitionReader[InternalRow] {
        private val chunkIter = pages.flatMap(_.grouped(MailTransport.GetBatch))
        private val pool: Option[java.util.concurrent.ExecutorService] =
          if (conf.fetchPool > 1 && range.end - range.start > MailTransport.GetBatch)
            Some(java.util.concurrent.Executors.newFixedThreadPool(conf.fetchPool))
          else None
        private val inFlight =
          MQueue.empty[java.util.concurrent.Future[Seq[Either[String, Long]]]]
        private val pending = MQueue.empty[InternalRow]
        private var gets = 0L
        private var skipped = 0L

        private def nextChunk(): Seq[Long] = { gets += 1; chunkIter.next() }

        /** Keep the request window full: ≤ fetchPool chunks on the wire. */
        private def refill(): Unit = pool.foreach { es =>
          while (inFlight.size < conf.fetchPool && chunkIter.hasNext) {
            val chunk = nextChunk()
            inFlight.enqueue(es.submit(new java.util.concurrent.Callable[Seq[Either[String, Long]]] {
              override def call(): Seq[Either[String, Long]] =
                MailTransport.batchGet(chunk, conf.errorEvery, conf.errorOffset)
            }))
          }
        }

        override def next(): Boolean = {
          while (pending.isEmpty && (inFlight.nonEmpty || chunkIter.hasNext)) {
            refill()
            val results =
              if (pool.isDefined) inFlight.dequeue().get()
              else MailTransport.batchGet(nextChunk(), conf.errorEvery, conf.errorOffset)
            refill() // re-arm the window before draining rows
            results.foreach {
              case Left(_)      => skipped += 1
              case Right(docId) => pending.enqueue(row(docId))
            }
          }
          pending.nonEmpty
        }
        override def get(): InternalRow = pending.dequeue()
        override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
          MailTaskMetric("skippedMessages", skipped), MailTaskMetric("listPages", listed),
          MailTaskMetric("batchGets", gets), MailTaskMetric("knownIds", dropped))
        override def close(): Unit = {
          pool.foreach(_.shutdownNow())
          MailMetrics.addSkipped(conf.runId, skipped)
        }
      }
    }
  }
}

case class MailCommit(inserted: Long, failedBatches: Long) extends WriterCommitMessage

class MailBatchWrite(sink: String, batchSize: Int, maxBatchesPerSec: Double,
                     schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new MailWriterFactory(sink, batchSize, maxBatchesPerSec, schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class MailWriterFactory(sink: String, batchSize: Int, maxBatchesPerSec: Double,
                        schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new MailDataWriter(sink, batchSize, maxBatchesPerSec, schema)
}

/** Batched, error-isolating writer (main.py:231-254): flush every
  * `batchSize` rows; a batch whose insert throws is dropped and
  * counted, the writer keeps going. The reference's 1 s inter-batch
  * sleep (main.py:252-253) is `maxBatchesPerSec=1`: a [[Pacer]] spaces
  * flushes instead of an unconditional sleep, and 0 (default) disables
  * pacing for in-memory stores.
  */
class MailDataWriter(sink: String, batchSize: Int, maxBatchesPerSec: Double,
                     schema: StructType) extends DataWriter[InternalRow] {
  private val idOrdinal = schema.fieldNames.indexOf("id")
  private val buf = new ArrayBuffer[Seq[String]](batchSize)
  private var inserted = 0L
  private var batches = 0L
  private var failedBatches = 0L
  private val pacer: Option[Pacer] =
    if (maxBatchesPerSec > 0) Some(new Pacer(maxBatchesPerSec)) else None

  override def write(row: InternalRow): Unit = {
    buf += schema.fields.indices.map(i =>
      if (row.isNullAt(i)) null else String.valueOf(row.get(i, schema(i).dataType)))
    if (buf.size >= batchSize) flush()
  }

  private def flush(): Unit = {
    if (buf.nonEmpty) {
      pacer.foreach(_.acquire())
      batches += 1
      try {
        // Fault injection for tests: a poison id fails its whole batch.
        if (idOrdinal >= 0 && buf.exists(r => r(idOrdinal) != null && r(idOrdinal).contains("poison")))
          throw new RuntimeException("insert rejected")
        val q = MailSink.store(sink)
        buf.foreach(q.add)
        inserted += buf.size
      } catch { case _: RuntimeException => failedBatches += 1 }
      buf.clear()
    }
  }

  /** Flushes the last partial batch once the input ends, so the task's
    * final metrics update (made before `commit`) counts it.
    */
  override def writeAll(rows: java.util.Iterator[InternalRow]): Unit = {
    while (rows.hasNext) write(rows.next())
    flush()
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    MailTaskMetric("insertedRows", inserted), MailTaskMetric("sinkBatches", batches),
    MailTaskMetric("failedBatches", failedBatches))

  override def commit(): WriterCommitMessage = { flush(); MailCommit(inserted, failedBatches) }
  override def abort(): Unit = buf.clear()
  override def close(): Unit = ()
}
