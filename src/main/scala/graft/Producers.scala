package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Curation, Graph, IndexStore, Ingest, Learn, NearDup, SimSearch, TextAnalysis}

/** First-class bench rows for the SHARED MEMOIZED PRODUCERS — the
  * structural fix for the memo-order ghost class (r13 VERDICT #1).
  *
  * Problem: a memoized build (the suffix-pair frame, the exact-kNN
  * index, the trade-edge adjacency, …) lands its cost on whichever
  * CONSUMER query happens to run first in the alphabetical sweep; as
  * queries are added round over round, the absorber shifts, and a
  * consumer whose plan never changed "regresses" in the ledger
  * (q_trustrank crept 1.43× over two rounds plan-unchanged; q_pagerank
  * and q_dbscan carried scare numbers in the loaded driver run). The
  * audit time went to proving NON-regressions.
  *
  * Fix: Bench runs these rows alongside the queries. Each row
  * INVALIDATES exactly its own memo key(s) and rebuilds, so it times
  * the build cold — and because "producer:" sorts before every "q_*"
  * name in Bench's sorted sweep, every consumer afterwards measures a
  * MEMO-HIT read. bench_full.json then carries build cost and serve
  * cost as separate, stable rows, and scripts/bench_compare.py
  * attributes a mover to the producer or the consumer mechanically.
  *
  * Names deliberately sort in dependency order where it matters:
  * producer:coarse_centroids < producer:knn_* (the kNN builds consume
  * the codebook), so the codebook is fresh-built once and every kNN
  * producer row times the index build alone.
  *
  * NOT part of SparkEntry.queries: these are not query semantics and
  * have no oracle — they exist only so the ratchet ledger can see
  * build cost where it is paid.
  */
object Producers {

  private def skey(s: SparkSession, d: String) = s"${System.identityHashCode(s)}:$d"

  /** Wrap a driver-side value build as a 1-row frame so Bench's
    * `.count()` forcing works uniformly; the value build runs eagerly
    * HERE (inside the timing window), not at count time. The frame is
    * ALWAYS one row carrying a `built_n` column (r14 VERDICT #4: the
    * old `range(n max 1)` form reported an empty Seq as 1 row built —
    * the ledger row now states the built size instead of encoding it
    * in a row count). The row is a single-slice range, so its
    * partitioning is SinglePartition and a global aggregate over it
    * (`count()`) runs as one job of one task, with no exchange. */
  private def forced(s: SparkSession, v: => Any): DataFrame = {
    val n = v match { case t: Seq[_] => t.size.toLong; case _ => 1L }
    import org.apache.spark.sql.functions.lit
    s.range(0L, 1L, 1L, 1).select(lit(n).as("built_n"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "producer:sink_ids" -> ((s, d) => {
      Ingest.sinkIdCache.invalidate(skey(s, d)); Ingest.sinkIds(s, d)
    }),
    "producer:suffix_pairs" -> ((s, d) => {
      Curation.suffixPairCache.invalidate(skey(s, d)); Curation.suffixPairs(s, d)
    }),
    // the 5-round trained-BPE products (r16) — the merge table + final
    // word → piece map shared by q_bpe_train / q_bpe_encode /
    // q_bpe_tokens / q_bpe_fertility; memoized so the training loop
    // runs once per (session, dir) instead of once per consumer
    "producer:bpe_train" -> ((s, d) => {
      TextAnalysis.bpeCache.invalidate(skey(s, d)); TextAnalysis.bpeTrainedAll(s, d)
    }),
    "producer:trade_edges" -> ((s, d) => {
      Graph.tradeEdgeCache.invalidate(skey(s, d)); Graph.tradeBase(s, d)
    }),
    // the co-purchase edge set (r15) — shared by q_ktruss and
    // q_local_cc; memoized like trade_edges so neither consumer
    // re-pays the basket join + pair explode + distinct
    "producer:copurchase_edges" -> ((s, d) => {
      Graph.copurchaseEdgeCache.invalidate(skey(s, d)); Graph.copurchaseEdges(s, d)
    }),
    "producer:lp_labels" -> ((s, d) => {
      Graph.lpLabelCache.invalidate(skey(s, d)); Graph.lpLabels(s, d)
    }),
    "producer:cluster_labels" -> ((s, d) => {
      NearDup.clusterLabelCache.invalidate(skey(s, d)); NearDup.clusterLabels(s, d)
    }),
    "producer:coarse_centroids" -> ((s, d) => {
      Learn.coarseMemo.invalidate(Learn.clsKey(s, d))
      forced(s, Learn.coarseCentroids(s, d))
    }),
    "producer:classifier_train" -> ((s, d) => {
      Learn.clsMemo.invalidate(Learn.clsKey(s, d))
      forced(s, Learn.trainedClassifier(s, d))
    }),
    // the stale + re-estimated IVF codebooks (r15) — shared by
    // q_ivf_maintain, q_ivf_stale_recall, and the streaming
    // maintenance twin; refit forces stale, so one row prices both
    "producer:ivf_stale_books" -> ((s, d) => {
      SimSearch.staleCoarseMemo.invalidate(Learn.clsKey(s, d))
      SimSearch.refitCoarseMemo.invalidate(Learn.clsKey(s, d))
      forced(s, SimSearch.refitCoarseCentroids(s, d))
    }),
    "producer:knn_exact3" -> ((s, d) => {
      Learn.knnCache.invalidate(Learn.knnKey(s, d, 3)); Learn.exactKnnL2(s, d, 3)
    }),
    "producer:knn_exact8" -> ((s, d) => {
      Learn.knnCache.invalidate(Learn.knnKey(s, d, 8)); Learn.exactKnnL2(s, d, 8)
    }),
    // the two HNSW upper-layer subset graphs (shared by q_hnsw and
    // q_hnsw_batch); one row — they are geometrically small together
    "producer:hnsw_layers" -> ((s, d) => {
      Seq(1, 2).foreach { l =>
        val (p, t) = SimSearch.hnswUpperSpec(l)
        Learn.knnCache.invalidate(Learn.knnKey(s, d, 4, Some(p), t))
      }
      SimSearch.hnswUpperAdj(s, d, 1).select("a_id", "b_id")
        .unionByName(SimSearch.hnswUpperAdj(s, d, 2).select("a_id", "b_id"))
    }),
    // the three existing-members layer graphs q_hnsw_insert (and the
    // streaming insert twin) search against
    "producer:hnswins_layers" -> ((s, d) => {
      Seq(0, 1, 2).foreach { l =>
        val (k, p, t) = SimSearch.hnswInsSpec(l)
        Learn.knnCache.invalidate(Learn.knnKey(s, d, k, Some(p), t))
      }
      Seq(0, 1, 2).map(l => SimSearch.hnswInsAdj(s, d, l).select("a_id", "b_id"))
        .reduce(_ unionByName _)
    }),
    // the holdout arrival batch's search + Algorithm-4 link selection
    // (r15) — shared by q_hnsw_insert (the fingerprint page) and
    // q_hnsw_lifecycle (wires the same picks into its composed graph);
    // sorts after producer:hnswins_layers, so this row prices the walk
    // and selection alone, not the layer-graph builds
    "producer:hnswins_picks" -> ((s, d) => {
      SimSearch.insertPicksCache.invalidate(SimSearch.hnswEmbKey(s, d))
      SimSearch.holdoutInsertPicks(s, d)
    }),
    // the loaded-vs-built ledger row (r14 VERDICT #1): serialize the
    // memoized index to parquet and install it back through the LOAD
    // path — next to producer:hnsw_layers / producer:knn_exact8 this
    // row prices what a serving-tier RESTART pays (deserialize) vs
    // what a cold build pays (the rows above). Consumers after this
    // row serve the disk-loaded frames — identical by construction
    // (Round15Spec pins bit-for-bit), so the sweep itself exercises
    // the restart path end-to-end every bench run.
    "producer:index_store" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_index_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      IndexStore.save(s, d, dir)
      IndexStore.load(s, d, dir)
    }),
  )

  /** Rows that deliberately do NOT invalidate any memo key —
    * producer:index_store times the serialize/deserialize path of
    * ALREADY-BUILT artifacts (invalidating first would re-time the
    * cold builds the other producer rows already price). The key-drift
    * guard iterates `all` minus this set. */
  val nonInvalidating: Set[String] = Set("producer:index_store")
}
