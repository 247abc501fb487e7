package layerbench

import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Producers, SparkEntry, Tables}
import graft.operators.{CachedRelation, LayerbenchMemos}
import graft.sources.{MailMetrics, MailSink, MailTransport}

/** One timed call: what ran, in which unit of work, how long, and the
  * facts the correctness gate checks afterwards. */
final case class Op(kind: String, name: String, unit: Int, seconds: Double,
                    ok: Boolean, digest: String, extra: Map[String, Double] = Map.empty)

/** A unit of work the workload repeats in its closed loop: one ingest
  * cycle, one curation build + serve cycle. */
final case class UnitRun(kind: String, seconds: Double, cpuSeconds: Double)

/** Order-independent fingerprint of a frame: row count and two 32-bit
  * halves of the summed per-row xxhash64 (split so the sums cannot
  * overflow). Forces every column of every row to be computed. */
object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType    => true
    case a: ArrayType  => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _             => false
  }
  private def hashable(c: Column, t: DataType): Column = if (hasMap(t)) to_json(c) else c

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.map(f => hashable(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }
}

trait Workload {
  /** Runs one unit of work, appending its ops; returns its kind. */
  def runUnit(unit: Int, ops: ArrayBuffer[Op]): String
  /** One unit outside the loop, part of set-up: warms JIT, codegen and
    * the session's memos. */
  def warmup(): Unit = runUnit(-1, ArrayBuffer.empty)
  /** Untimed correctness artefacts written for the Python checker. */
  def dumpOracles(outDir: String): Map[String, String] = Map.empty
  def tables: Seq[String]
}

object Timed {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** The reference's /fetch dataflow through `graft.sources`: an enriched,
  * multi-account, folder-pushed read; an anti-join against the ids the
  * sink already holds; a batched append through the provider's sink.
  * A cycle is one backfill into an empty sink followed by refetches
  * whose windows mostly overlap what already landed. */
final class IngestWorkload(spark: SparkSession, tr: Tracer, conf: Map[String, String]) extends Workload {
  private val provider = "graft.sources.MailSourceProvider"
  private val pageSize = conf("ingest.pageSize").toInt
  private val n0 = conf("ingest.n0").toLong
  private val delta = conf("ingest.delta").toLong
  private val refetches = conf("ingest.refetches").toInt
  private val errorEvery = conf("ingest.errorEvery").toLong
  private val errorOffset = conf("ingest.errorOffset").toLong
  private val tokens = conf("ingest.tokens")
  private val sink = s"layerbench-${tr.runId}"
  // the provider's multi-account table schema, which its sink stores
  private val shaped = MailTransport.accountSchema.fieldNames.toSeq
  private val idAt = shaped.indexOf("id")
  private val batchGets = new java.util.concurrent.atomic.AtomicLong()
  MailTransport.onBatchGet = _ => batchGets.incrementAndGet()

  def tables: Seq[String] = Nil

  private def rowCrc(r: Seq[String]): Long = {
    val c = new CRC32()
    c.update(r.mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  private def landedIds(): DataFrame = {
    import spark.implicits._
    MailSink.inserted(sink).map(r => (r.head, r(idAt))).toDF("account", "id")
  }

  private def read(n: Long, runId: String): DataFrame =
    spark.read.format(provider)
      .option("nmsgs", n).option("pageSize", pageSize).option("enrich", true)
      .option("errorEvery", errorEvery).option("errorOffset", errorOffset)
      .option("tokens", tokens).option("runId", runId)
      .load()
      .filter(col("folder").isin("INBOX", "SENT", "TRASH"))

  private def write(fresh: DataFrame): Unit =
    fresh.select(shaped.map(col): _*).write.format(provider)
      .option("sink", sink).option("tokens", tokens)
      .option("batchSize", 1000).option("maxBatchesPerSec", 0)
      .mode("append").save()

  /** One /fetch of the first `n` messages of every account. Untraced it
    * is the reference's single action: read, anti-join and append in one
    * write job. Traced, the read and the anti-join are materialised
    * first, each in its own span, so every layer's time and rows can be
    * told apart. */
  private def fetch(kind: String, unit: Int, step: Int, n: Long, ops: ArrayBuffer[Op]): Unit = {
    val runId = s"${tr.runId}-$unit-$step"
    val before = MailSink.store(sink).size()
    val gets0 = batchGets.get()
    val (counts, secs) = Timed {
      tr(s"ingest.$kind") {
        if (!tr.enabled) {
          write(read(n, runId).join(landedIds(), Seq("account", "id"), "left_anti"))
          Map.empty[String, Double]
        } else {
          val (df, rows, pages) = tr("sources.read") {
            val raw = read(n, runId)
            // one input partition per (live account, page) of the listing
            val pages = raw.queryExecution.executedPlan.collectLeaves()
              .map(_.execute().getNumPartitions).sum
            val df = raw.persist()
            (df, df.count(), pages)
          }
          val (fresh, kept) = tr("ingest.dedup") {
            val f = df.join(landedIds(), Seq("account", "id"), "left_anti").persist()
            (f, f.count())
          }
          tr("sources.write")(write(fresh))
          fresh.unpersist(blocking = true)
          df.unpersist(blocking = true)
          Map("rows_read" -> rows.toDouble, "rows_fresh" -> kept.toDouble, "list_pages" -> pages.toDouble)
        }
      }
    }
    val landed = MailSink.inserted(sink).drop(before)
    val crc = landed.iterator.map(rowCrc).sum
    val skipped = MailMetrics.skipped(runId)
    MailMetrics.clear(runId)
    ops += Op(kind, s"$kind.$step", unit, secs, ok = true, s"${landed.size}:$crc",
      counts ++ Map("n" -> n.toDouble, "lo" -> (if (step == 0) 0.0 else (n - delta).toDouble),
        "rows_landed" -> landed.size.toDouble, "skipped" -> skipped.toDouble,
        "batch_gets" -> (batchGets.get() - gets0).toDouble))
  }

  def runUnit(unit: Int, ops: ArrayBuffer[Op]): String = {
    MailSink.clear(sink)
    fetch("backfill", unit, 0, n0, ops)
    (1 to refetches).foreach(j => fetch("refetch", unit, j, n0 + j * delta, ops))
    MailSink.clear(sink)
    "cycle"
  }
}

/** The LLM-data path: cold memo builds (`Producers.all`) then warm
  * consumers that read them, over `documents` and `embeddings`. The
  * consumers are named queries from `SparkEntry.queries`, each given with
  * the operator module that defines it (the span name), served in an
  * order the seed shuffles. */
final class CurationWorkload(spark: SparkSession, tr: Tracer, dir: String, seed: Long,
                             producers: Seq[String], queries: Seq[(String, String)]) extends Workload {
  val tables: Seq[String] = Seq("documents", "embeddings")
  private val entry: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  private def runQuery(kind: String, module: String, name: String, unit: Int): Op = {
    val (d, secs) = Timed(tr(s"operators.$module.$name")(Digest.of(entry(name)(spark, dir))))
    Op(kind, name, unit, secs, ok = true, d)
  }

  private def order(unit: Int): Seq[(String, String)] =
    new scala.util.Random(seed * 1000003L + unit).shuffle(queries)

  override def dumpOracles(outDir: String): Map[String, String] = {
    val oracles = SparkEntry.oracleSql
    queries.collect { case (_, q) if oracles.contains(q) =>
      // one execution: the written result and its digest read the cache
      val df = entry(q)(spark, dir).persist()
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
      val d = Digest.of(df)
      df.unpersist(blocking = true)
      q -> d
    }.toMap
  }

  def runUnit(unit: Int, ops: ArrayBuffer[Op]): String = {
    tr("curation.build") {
      producers.foreach { p =>
        val b0 = LayerbenchMemos.builds
        val (d, secs) = Timed(tr(s"memo.build.$p")(Digest.of(Producers.all(p)(spark, dir))))
        ops += Op("build", p, unit, secs, ok = true, d, Map("builds" -> (LayerbenchMemos.builds - b0).toDouble))
      }
    }
    tr("curation.serve") {
      order(unit).foreach { case (m, q) =>
        val (h0, b0) = (CachedRelation.globalHits.get(), LayerbenchMemos.builds)
        val op = runQuery("serve", m, q, unit)
        ops += op.copy(extra = Map("hits" -> (CachedRelation.globalHits.get() - h0).toDouble,
          "builds" -> (LayerbenchMemos.builds - b0).toDouble))
      }
    }
    "cycle"
  }
}

/** Single-layer probes, run in the traced unit of every workload: a full
  * scan of each input table through `Tables`, and each of the program's
  * text and vector expressions applied alone over its table. */
object Probes {
  private val exprs = Seq(
    "cosine_sim" -> ("embeddings", "cosine_sim(embedding, reverse(embedding))"),
    "word_shingle_hashes" -> ("documents", "word_shingle_hashes(text, 3)"),
    "char_ngrams" -> ("documents", "char_ngrams(text, 5)"),
    "token_count" -> ("documents", "token_count(text)"))

  def run(spark: SparkSession, tr: Tracer, dir: String, tables: Seq[String], ops: ArrayBuffer[Op]): Unit = {
    tables.foreach { t =>
      Tables.load(spark, dir, t).schema // footer read outside the span, as in set-up
      val (d, secs) = Timed(tr(s"tables.scan.$t")(Digest.of(Tables.load(spark, dir, t))))
      ops += Op("probe", s"tables.scan.$t", 0, secs, ok = true, d)
    }
    exprs.foreach { case (f, (t, e)) =>
      val df = Tables.load(spark, dir, t)
      val (d, secs) = Timed(tr(s"functions.$f")(Digest.of(df.selectExpr(s"$e AS v"))))
      ops += Op("probe", s"functions.$f", 0, secs, ok = true, d)
    }
  }
}
