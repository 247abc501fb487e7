package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.sources.{MailClock, MailMetrics, MailPageRange, MailQueries, MailSink, MailTransport, Pacer}

class MailConnectorSpec extends SparkSpec {
  import spark.implicits._

  private def mail(n: Long, page: Int = 500) =
    spark.read.format("graft.sources.MailSourceProvider")
      .option("nmsgs", n).option("pageSize", page).load()

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get

  test("reads exactly nmsgs rows across page partitions") {
    assert(mail(1234, page = 100).count() === 1234)
    // 13 pages packed into min(13, ceil(4 cores / 1 account)) ranges
    assert(mail(1234, page = 100).rdd.getNumPartitions === 4)
  }

  test("page ranges tile each account's id space: page-aligned, contiguous, disjoint") {
    val p = spark.sparkContext.defaultParallelism
    def ranges(n: Long, page: Int, tokens: Option[String]): Map[String, Seq[MailPageRange]] = {
      val r = spark.read.format("graft.sources.MailSourceProvider")
        .option("nmsgs", n).option("pageSize", page)
      scanOf(tokens.fold(r)(r.option("tokens", _)).load())
        .inputPartitions.map(_.asInstanceOf[MailPageRange]).groupBy(_.account)
    }
    for {
      (n, page, tokens, accounts) <- Seq(
        (1234L, 100, None, 1),
        (1234L, 100, Some("a:valid,b:expired_refresh,c:valid,d:expired_dead"), 3),
        (150L, 100, None, 1),
        (5000L, 500, Some("a:valid,b:valid"), 2))
    } {
      val byAccount = ranges(n, page, tokens)
      val pages = (n + page - 1) / page
      val want = math.min(pages, (p + accounts - 1) / accounts)
      assert(byAccount.size === accounts, s"accounts of $tokens")
      byAccount.foreach { case (a, rs) =>
        val sorted = rs.sortBy(_.start)
        assert(sorted.size === want, s"$a: ${sorted.size} ranges for $pages pages at P=$p")
        assert(sorted.head.start === 0L && sorted.last.end === n, s"$a: $sorted")
        assert(sorted.forall(r => r.start % page == 0 && r.start < r.end), s"$a: $sorted")
        sorted.zip(sorted.tail).foreach { case (x, y) => assert(x.end === y.start, s"$a: $sorted") }
      }
    }
  }

  test("folder predicate is pushed: no Spark-side Filter, q= in scan description") {
    val df = mail(1000).filter($"folder".isin("INBOX", "SENT") && $"folder" =!= "SPAM")
      .select("id", "folder")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("in:inbox OR in:sent"), s"gmail q missing in:\n$plan")
    assert(plan.contains("-in:spam"), s"negation missing in:\n$plan")
    assert(!plan.contains("Filter ("), s"residual Filter should be gone:\n$plan")
    // and the pushed filters actually filter: 1000 ids, folders cycle %5
    assert(df.count() === 400)
  }

  test("unsupported predicates stay residual and still apply") {
    val df = mail(1000).filter($"subject".contains("subject 1") && $"folder" === "INBOX")
    // subject filter can't push; result must still be correct
    val expected = (0L until 1000L).count(i =>
      i % 5 == 0 && s"subject ${i % 997}".contains("subject 1"))
    assert(df.count() === expected)
  }

  test("column pruning reaches the reader schema") {
    val df = mail(100).select("id")
    val scanLine = df.queryExecution.executedPlan.toString
    assert(scanLine.contains("fields=id"), s"pruned fields not in scan:\n$scanLine")
  }

  test("batched writer lands rows; poison batch is isolated, not fatal") {
    // Sink schema is fixed and validated at analysis — the reference's
    // server-side BigQuery schema check (main.py:243-245).
    intercept[org.apache.spark.sql.AnalysisException] {
      mail(10).select("id", "folder").write
        .format("graft.sources.MailSourceProvider")
        .option("sink", "t0").mode("append").save()
    }

    MailSink.clear("t1")
    mail(250).write.format("graft.sources.MailSourceProvider")
      .option("sink", "t1").option("batchSize", 100).mode("append").save()
    assert(MailSink.inserted("t1").size === 250)

    MailSink.clear("t2")
    val idOrd = mail(1).schema.fieldNames.indexOf("id")
    val poisoned = mail(250).withColumn("id",
      when($"doc_id" === 42, lit("poison42")).otherwise($"id"))
    poisoned.write.format("graft.sources.MailSourceProvider")
      .option("sink", "t2").option("batchSize", 100).mode("append").save()
    val landed = MailSink.inserted("t2").size
    // exactly the poisoned batches are lost; the rest landed
    assert(landed < 250 && landed % 50 === 0, s"landed=$landed")
    assert(MailSink.inserted("t2").forall(r => !r(idOrd).contains("poison")))
  }

  test("enrich: batched get skips poison messages as values, rest of chunk lands") {
    MailMetrics.clear("t_enrich")
    val df = spark.read.format("graft.sources.MailSourceProvider")
      .option("nmsgs", 500).option("pageSize", 100)
      .option("enrich", true).option("errorEvery", 50).option("errorOffset", 7)
      .option("runId", "t_enrich").load()
    val ids = df.select("id").collect().map(_.getString(0)).toSet
    // poison ids 7, 57, …, 457 fail their get and are skipped — their
    // 49 chunk-mates still land (error-as-value, main.py:187-191)
    assert(ids.size === 490)
    assert((0L until 500L by 50L).forall(k => !ids.contains(s"msg${k + 7}")))
    assert(ids.contains("msg8") && ids.contains("msg56"))
    assert(MailMetrics.skipped("t_enrich") === 10)
  }

  test("enrich: pushed folder predicate runs in the LIST phase — filtered ids never fetched") {
    MailMetrics.clear("t_enrich2")
    // poison set = exactly the INBOX ids (id % 5 == 0); listing SENT
    // means no poison id is ever passed to batchGet, so zero skips
    val df = spark.read.format("graft.sources.MailSourceProvider")
      .option("nmsgs", 500).option("pageSize", 100)
      .option("enrich", true).option("errorEvery", 5).option("errorOffset", 0)
      .option("runId", "t_enrich2").load()
      .filter($"folder" === "SENT")
    assert(df.count() === 100)
    assert(MailMetrics.skipped("t_enrich2") === 0)
  }

  test("enrich: chunk fetches overlap — up to fetchPool batchGets in flight at once") {
    // One page of 1000 ids = 20 chunks of 50. A latency probe inside
    // the transport records how many batchGet calls overlap; the
    // bounded window must overlap (>1) without exceeding the pool (5),
    // and the result must be identical to the serial (fetchPool=1)
    // read — same rows, same skip count (error-as-value preserved).
    val concurrent = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.sources.MailTransport.onBatchGet = { _ =>
      val now = concurrent.incrementAndGet()
      maxSeen.updateAndGet(m => math.max(m, now))
      Thread.sleep(25)
      concurrent.decrementAndGet()
    }
    try {
      def read(poolSize: Int, runId: String) = {
        MailMetrics.clear(runId)
        spark.read.format("graft.sources.MailSourceProvider")
          .option("nmsgs", 1000).option("pageSize", 1000)
          .option("enrich", true).option("errorEvery", 50).option("errorOffset", 7)
          .option("fetchPool", poolSize).option("runId", runId).load()
          .select("id").collect().map(_.getString(0)).toSeq
      }
      val pooled = read(poolSize = 5, runId = "t_pool")
      val pooledMax = maxSeen.get()
      maxSeen.set(0)
      val serial = read(poolSize = 1, runId = "t_serial")
      assert(pooledMax > 1, s"chunks never overlapped (max in flight = $pooledMax)")
      assert(pooledMax <= 5, s"pool bound exceeded: $pooledMax")
      assert(maxSeen.get() === 1, s"fetchPool=1 must stay serial, saw ${maxSeen.get()}")
      assert(pooled === serial, "pooled read changed row content or order")
      assert(MailMetrics.skipped("t_pool") === 20)
      assert(MailMetrics.skipped("t_serial") === 20)
    } finally graft.sources.MailTransport.onBatchGet = _ => ()
  }

  test("page ranges keep per-page batch gets and skips: 3 live + 1 dead accounts") {
    // The bench's shape: a folder-filtered enriched read over several
    // accounts. Every page still lists and batch-gets on its own, so
    // the GET count is the per-page closed form, not a per-range one:
    // a 170-id page keeps 102 ids = 3 gets, two pages 204 ids = 5 gets.
    val (n, page) = (2345L, 170)
    val calls = new java.util.concurrent.atomic.AtomicLong(0L)
    MailTransport.onBatchGet = _ => calls.incrementAndGet()
    try {
      MailMetrics.clear("t_ranges")
      val got = spark.read.format("graft.sources.MailSourceProvider")
        .option("nmsgs", n).option("pageSize", page)
        .option("enrich", true).option("errorEvery", 97).option("errorOffset", 13)
        .option("tokens", "a:valid,b:expired_refresh,c:valid,d:expired_dead")
        .option("runId", "t_ranges").load()
        .filter($"folder".isin("INBOX", "SENT", "TRASH"))
        .select("account", "doc_id").as[(String, Long)].collect().toSet
      val kept = (0L until n).filter(_ % 5 < 3)
      val want = for { a <- Set("a", "b", "c"); id <- kept if id % 97 != 13 } yield (a, id)
      assert(got === want)
      val perAccount = kept.groupBy(_ / page).values.map(ids => (ids.size + 49) / 50).sum
      assert(calls.get === 3L * perAccount)
      assert(MailMetrics.skipped("t_ranges") === 3L * kept.count(_ % 97 == 13))
      assert(MailMetrics.dead("t_ranges") === Set("d"))
    } finally MailTransport.onBatchGet = _ => ()
  }

  test("scan reports listPages and batchGets as custom metrics") {
    // 1000 ids in pages of 100; SENT keeps 20 ids a page = 1 chunk each
    val enriched = spark.read.format("graft.sources.MailSourceProvider")
      .option("nmsgs", 1000).option("pageSize", 100).option("enrich", true)
      .option("errorEvery", 50).option("errorOffset", 1).load()
      .filter($"folder" === "SENT")
    assert(enriched.collect().length === 180)
    val m = scanOf(enriched).metrics
    assert(m("listPages").value === 10)
    assert(m("batchGets").value === 10)
    assert(m("skippedMessages").value === 20)
    // single-phase reads list the same pages and send no get
    val listed = mail(1234, page = 100)
    assert(listed.collect().length === 1234)
    assert(scanOf(listed).metrics("listPages").value === 13)
    assert(scanOf(listed).metrics("batchGets").value === 0)
  }

  test("token roster: valid reads, expired-refreshable refreshes, dead dropped and counted") {
    MailMetrics.clear("t_tok")
    val df = spark.read.format("graft.sources.MailSourceProvider")
      .option("nmsgs", 100).option("pageSize", 50)
      .option("tokens", "alice:valid,bob:expired_refresh,carol:expired_dead")
      .option("runId", "t_tok").load()
    assert(df.count() === 200) // 2 live accounts × 100 messages
    assert(df.select("account").distinct().collect().map(_.getString(0)).toSet
      === Set("alice", "bob"))
    assert(MailMetrics.refreshed("t_tok") === Set("bob"), "refresh-on-open not recorded")
    assert(MailMetrics.dead("t_tok") === Set("carol"), "dead token not counted")
  }

  test("credential temp files live for the task and are gone after completion") {
    // main.py:120 downloads each account token to /tmp; main.py:305-314
    // removes them after the run. Spark form: one executor-local temp
    // file per reader open, deleted by a TaskContext completion
    // listener — alive for the whole read, gone when the task ends.
    MailMetrics.clear("t_tmpfile")
    val df = spark.read.format("graft.sources.MailSourceProvider")
      .option("nmsgs", 100).option("pageSize", 50)
      .option("tokens", "alice:valid,bob:expired_refresh")
      .option("runId", "t_tmpfile").load()
    assert(df.count() === 200)
    val files = MailMetrics.tempFiles("t_tmpfile")
    // 2 live accounts × min(2 pages, ceil(4 cores / 2)) ranges = 4
    // reader opens, each with its own file
    assert(files.size === 4, s"expected 4 temp credentials, saw ${files.keySet}")
    files.foreach { case (path, cleanedWhileLive) =>
      assert(cleanedWhileLive === Some(true),
        s"$path: cleanup did not run at task completion, or the file was already gone")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
        s"$path leaked past task completion")
    }
  }

  test("Pacer enforces the inter-flush interval against an injectable clock") {
    val sleeps = ArrayBuffer[Long]()
    var t = 0L
    MailClock.nanoTime = () => t
    MailClock.sleep = ms => { sleeps += ms; t += ms * 1000000L }
    try {
      val p = new Pacer(2.0) // 500 ms between acquisitions
      p.acquire(); p.acquire(); p.acquire()
      assert(sleeps.toSeq === Seq(500L, 500L), s"sleeps=$sleeps")
    } finally MailClock.reset()
  }

  test("writer pacing: maxBatchesPerSec spaces batch flushes (fake clock)") {
    val sleeps = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val t = new java.util.concurrent.atomic.AtomicLong(0L)
    MailClock.nanoTime = () => t.get()
    MailClock.sleep = ms => { sleeps.add(ms); t.addAndGet(ms * 1000000L) }
    try {
      MailSink.clear("t_paced")
      mail(300).coalesce(1).write.format("graft.sources.MailSourceProvider")
        .option("sink", "t_paced").option("batchSize", 100)
        .option("maxBatchesPerSec", 4.0).mode("append").save()
      assert(MailSink.inserted("t_paced").size === 300)
      // 3 flushes in one task: first free, then 250 ms apart
      assert(sleeps.size === 2, s"sleeps=$sleeps")
      assert(sleeps.peek() === 250L)
    } finally MailClock.reset()
  }

  test("micro-batch stream pages through the source with admission control") {
    val stream = spark.readStream.format("graft.sources.MailSourceProvider")
      .option("nmsgs", 1000).option("pageSize", 100)
      .option("maxPagesPerTrigger", 3).load()
    val q = stream.writeStream.format("memory")
      .queryName("mail_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("mail_stream")
      assert(got.count() === 1000)
      assert(got.select("id").distinct().count() === 1000)
      // 10 pages / 3 per trigger → at least 4 non-empty micro-batches
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 4, s"expected >=4 paged batches, saw $batches")
    } finally q.stop()
  }

  test("full pipeline: connector scan -> label filter -> anti-join -> shape -> connector sink") {
    // The reference's /fetch dataflow end-to-end over our own source
    // AND sink: pushed folder predicate, anti-join dedup vs already-
    // ingested ids, shaping, batched write with error isolation.
    MailSink.clear("e2e")
    val src = mail(1000)
      .filter($"folder".isin("INBOX", "SENT", "TRASH")) // pushed to source
    val existing = spark.range(0, 500).select(concat(lit("msg"), $"id").as("id"))
    val shaped = src
      .join(existing, Seq("id"), "left_anti")
      .select($"doc_id", $"id", coalesce($"thread_id", lit("")).as("thread_id"),
        $"folder", $"subject", $"sender", $"recipient", $"ts_raw")
    shaped.write.format("graft.sources.MailSourceProvider")
      .option("sink", "e2e").option("batchSize", 100).mode("append").save()
    // folders cycle %5: INBOX/SENT/TRASH = ids ≡ 0,1,2 (mod 5);
    // anti-join removes doc_id < 500 → 300 of the 600 eligible remain
    assert(MailSink.inserted("e2e").size === 300)
  }

  test("connector queries match their row counts at fixture scale") {
    val scan = MailQueries.queries("q_connector_scan")(spark, sf)
    val n = Tables.documents(spark, sf).count()
    assert(scan.count() === n / 5 * 3)
  }

  test("enrollment: files gate, idempotent re-enroll, roster feeds the connector") {
    import graft.sources.Enrollment
    val tmp = java.nio.file.Files.createTempDirectory("graft_enroll_")
    val roster = tmp.resolve("roster").toString
    // app.py:17-34 — missing client secret blocks the flow
    val secret = tmp.resolve("client_secret.json")
    assert(Enrollment.missingRequiredFiles(Seq(secret)) === Seq(secret))
    java.nio.file.Files.writeString(secret, "{}")
    assert(Enrollment.missingRequiredFiles(Seq(secret)).isEmpty)
    // app.py:45-48 — normalization matches the q_normalize fragment
    assert(Enrollment.tokenFileName(" Alice@Example.com ")
      === "user_token_alice_example_com.json")
    // enroll two accounts, then RE-enroll one with a refreshed state:
    // last-wins, never a duplicate row
    Enrollment.register(spark, roster, "alice@example.com", "expired_refresh", nowMs = 1000L)
    Enrollment.register(spark, roster, "bob@example.com", "valid", nowMs = 1001L)
    Enrollment.register(spark, roster, "alice@example.com", "valid", nowMs = 2000L)
    val rows = spark.read.parquet(roster).collect()
    assert(rows.length === 2)
    assert(Enrollment.rosterOption(spark, roster) === "alice:valid,bob:valid")
    // the rendered roster drives a real connector scan
    val df = spark.read.format("graft.sources.MailSourceProvider")
      .option("nmsgs", 40).option("pageSize", 20)
      .option("tokens", Enrollment.rosterOption(spark, roster))
      .option("runId", "t_enroll").load()
    assert(df.count() === 80) // 2 enrolled accounts × 40 messages
    assert(df.select("account").distinct().collect().map(_.getString(0)).toSet
      === Set("alice", "bob"))
  }
}
