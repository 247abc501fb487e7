package graft

import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{Learn, SimSearch}

/** Codebook VALUES against a plain driver-side Lloyd replay over the
  * collected sf0.01 vectors. The oracle gate only sees what the IVF/PQ
  * family computes from a codebook; these specs pin the codebooks
  * themselves: k-lowest-vec_id init with cid in vec_id order, argmin
  * over exact integer L2 with ties to the lowest cid, and a per-dim
  * floor(Σ/n) update in which an empty cluster drops out. */
class CodebookSpec extends SparkSpec {
  private val dir = Paths.get(sf).resolveSibling("sf0.01").toString

  private type Book = Seq[(Int, Array[Long])]

  /** (vec_id, 1e-4-grid vector) in vec_id order — the quantize step
    * (float → double → ×10⁴ → floor) done on the driver. */
  private lazy val vecs: Seq[(Long, Array[Long])] =
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000).toLong).toArray))
      .sortBy(_._1).toSeq

  private def l2(a: Array[Long], b: Array[Long]): Long =
    a.indices.foldLeft(0L) { (acc, i) => val x = a(i) - b(i); acc + x * x }

  private def nearest(v: Array[Long], book: Book): Int =
    book.minBy { case (cid, cv) => (l2(v, cv), cid) }._1

  private def lowest(vs: Seq[(Long, Array[Long])], k: Int): Book =
    vs.take(k).zipWithIndex.map { case ((_, v), cid) => (cid, v) }

  private def update(members: Seq[(Int, Array[Long])]): Book =
    members.groupBy(_._1).toSeq.sortBy(_._1).map { case (cid, ms) =>
      (cid, Array.tabulate(ms.head._2.length)(j =>
        Math.floorDiv(ms.map(_._2(j)).sum, ms.size.toLong)))
    }

  private def lloyd(vs: Seq[(Long, Array[Long])], k: Int, rounds: Int): Book =
    (1 to rounds).foldLeft(lowest(vs, k)) { (book, _) =>
      update(vs.map { case (_, v) => (nearest(v, book), v) })
    }

  private lazy val before = vecs.filter(_._1 % 23 != 11)
  private lazy val staleReplay = lloyd(before, Learn.coarseK(before.size.toLong), 1)

  private def values(b: Book): Seq[(Int, Seq[Long])] = b.map { case (cid, cv) => (cid, cv.toSeq) }

  test("coarseCentroids equals one driver-side Lloyd round at k = coarseK(n)") {
    val replay = lloyd(vecs, Learn.coarseK(vecs.size.toLong), 1)
    assert(replay.size > 16)
    assert(values(Learn.coarseCentroids(spark, dir)) === values(replay))
  }

  test("fitKMeans's two-round k = 4 codebook equals the driver-side replay") {
    assert(values(Learn.fitKMeans(spark, dir, 2)._1) === values(lloyd(vecs, 4, 2)))
  }

  test("staleCoarseCentroids equals one Lloyd round over the pre-arrival members") {
    assert(values(SimSearch.staleCoarseCentroids(spark, dir)) === values(staleReplay))
  }

  test("refitCoarseCentroids equals one update of the stale book under routed assignment") {
    val (sups, members) = Learn.superRouting(staleReplay)
    // nearest super by (distance, routing position), then the argmin
    // over that super's member cells with ties to the lowest cid
    def routed(v: Array[Long]): Int =
      nearest(v, members(sups.indices.minBy(i => (l2(v, sups(i)._2), i))))
    val replay = update(vecs.map { case (_, v) => (routed(v), v) })
    assert(values(SimSearch.refitCoarseCentroids(spark, dir)) === values(replay))
  }

  test("fitPq's four subspace books equal per-subspace driver-side Lloyd rounds") {
    val (m, sub) = (4, 16)
    val replay = (0 until m).map { i =>
      val slices = vecs.map { case (id, v) => (id, v.slice(i * sub, (i + 1) * sub)) }
      values(lloyd(slices, 4, 1))
    }
    assert(Learn.fitPq(spark, dir, 1)._1.map(values).toSeq === replay)
  }

  test("cold codebook builds run one init job plus one aggregate per round") {
    // a Lloyd round is 1 job (a map-side fold, no shuffle), the
    // TakeOrdered init 1, the stale book's count 2 (partial + final)
    Learn.coarseKOf(spark, dir)
    val key = Learn.clsKey(spark, dir)
    Seq(Learn.coarseMemo, SimSearch.staleCoarseMemo, SimSearch.refitCoarseMemo)
      .foreach(_.invalidate(key))
    assert(jobsIn(Learn.coarseCentroids(spark, dir))._2 === 1 + 1)
    assert(jobsIn(SimSearch.staleCoarseCentroids(spark, dir))._2 === 2 + 1 + 1)
    assert(jobsIn(SimSearch.refitCoarseCentroids(spark, dir))._2 === 1)
    assert(jobsIn(Learn.fitKMeans(spark, dir, 2)._1)._2 === 1 + 2)
    assert(jobsIn(Learn.fitPq(spark, dir, 1)._1)._2 === 1 + 1)
    // the producer's ledger row is one slice, so counting it needs no exchange
    val row = Producers.all("producer:coarse_centroids")(spark, dir)
    assert(row.rdd.getNumPartitions === 1)
    assert(jobsIn(row.count())._2 === 1)
  }

  private def quantized = Tables.embeddings(spark, dir)
    .select(col("vec_id"), expr(Learn.QuantTok).as("qs"))

  test("Lloyd.fit's per-partition fold gives the same book over 7 partitions, some empty") {
    val k = Learn.coarseK(vecs.size.toLong)
    val parts = quantized.repartition(7, col("vec_id") % 5)
    val sizes = parts.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length === 7)
    assert(sizes.contains(0))
    assert(sizes.count(_ > 0) > 1)
    val book = Learn.Lloyd.fit(parts, Learn.Lloyd.lowest(parts, k), 2)
    assert(values(book) === values(lloyd(vecs, k, 2)))
  }

  test("each Lloyd round is one SQL execution named lloyd.update") {
    val names = new ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = names.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = names.add(f)
    }
    spark.listenerManager.register(l)
    try {
      jobsIn(Learn.fitKMeans(spark, dir, 2))
      assert(names.asScala.count(_ == "lloyd.update") === 2)
    } finally spark.listenerManager.unregister(l)
  }

  test("Lloyd.update of an empty frame is an empty book") {
    val none = quantized.filter(col("vec_id") < 0).select(lit(0).as("cluster"), col("qs"))
    assert(Learn.Lloyd.update(none).isEmpty)
  }

  test("a cluster that gets no members drops out of the update") {
    // a copy of cid 0 as cid 4: every tie goes to cid 0, so cid 4 is empty
    val init = lowest(vecs, 4) :+ ((4, vecs.head._2))
    val book = Learn.Lloyd.fit(quantized, init, 1)
    assert(book.map(_._1) === Seq(0, 1, 2, 3))
    assert(values(book) === values(update(vecs.map { case (_, v) => (nearest(v, init), v) })))
  }
}
