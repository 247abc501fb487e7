package graft.operators

import graft.operators.PlanStash.Ckpt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics over relationship data (SURVEY §2.6 north-star).
  *
  * Web-crawl curation pipelines rank pages by link-graph centrality
  * before sampling (Common Crawl's harmonic-centrality ranking;
  * RefinedWeb / CCNet keep pages from high-rank hosts). The fixture
  * corpus has no hyperlinks, so the graph comes from the relational
  * side: the customer–supplier bipartite graph induced by orders ⋈
  * lineitem (customer c traded with supplier s), made undirected so
  * every node has both in- and out-edges.
  *
  * PageRank is computed in FIXED-POINT integer arithmetic so the
  * result hash-matches the DuckDB oracle: ranks are micro-units
  * (1.0 = 1,000,000), each iteration is
  *
  *   rank'(v) = 150000 + Σ_{u→v} (rank(u) * 85) div (outdeg(u) * 100)
  *
  * i.e. damping 0.85 with truncating integer division — Spark's `div`
  * and DuckDB's `//` both truncate toward zero, and integer sums are
  * associative, so partial aggregation cannot perturb the result the
  * way floating-point PageRank does.
  *
  * Scale posture (the standard distributed PageRank shape):
  *  - the edge list with out-degrees attached (`adj`) is built ONCE
  *    and persisted; each of the 3 iterations is one equi-join of the
  *    current rank vector against `adj` on src plus one groupBy(dst)
  *    sum — shuffles carry (node_id, bigint) pairs only, never any
  *    payload. At 100 TB of edges this is the same plan GraphX/Pregel
  *    would schedule, minus their vertex-program overhead.
  *  - iteration count is FIXED (3), so the whole computation is one
  *    declarative plan per iteration with a driver-side loop that
  *    never collects data (contrast NearDup's fixpoint probe, which
  *    must collect a 1-row convergence flag per round).
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  private val Iters = 3

  /** Runaway backstop for q_ktruss's peel-to-fixpoint loop — far above
    * any real convergence (each round strictly shrinks the edge set or
    * the loop exits); Round10Spec asserts the fixture converges well
    * inside it, and inside the oracle's unrolled depth.
    */
  private val TrussMaxRounds = 64

  /** Double-edge-swap rounds for q_rich_club's degree-preserving null
    * model — each round re-pairs EVERY edge under a fresh hash, so two
    * rounds already decorrelate edge placement from the original
    * wiring (each edge's final dst has passed through two uniform
    * re-pairings); more rounds change ρ by noise, not signal, and the
    * oracle replays each round CTE-for-CTE so the count is shared. */
  private[graft] val RichClubSwapRounds = 2

  /** The deterministic degree-preserving null graph: `rounds` rounds
    * of hash-paired double-edge swaps over a DIRECTED/bipartite
    * (src, dst) edge frame. Round r ranks edges by a 60-bit md5 fold
    * of (src, dst, r) — the q_manifest fold, via the bucket-offset
    * [[Ranks.globalOrderScan]], never a single-reducer sort — pairs
    * rank 2i−1 with 2i, and each pair exchanges dst endpoints:
    * (a,b),(c,d) → (a,d),(c,b). Every node's src-degree and dst-degree
    * are preserved EXACTLY (GraphLearnSpec pins the multiset
    * invariance); an odd leftover edge passes through; duplicate edges
    * may arise — configuration-model semantics, counted as instances.
    */
  private[graft] def edgeSwapNull(edges: DataFrame, rounds: Int): DataFrame =
    (1 to rounds).foldLeft(edges) { (e, r) =>
      // r16 NOTE: checkpointing the incoming frame per round (to kill
      // the census/main double-read of globalOrderScan) was measured
      // SLOWER (8.0 s vs 7.1 s) — the per-round recompute is cheaper
      // than the extra edge-frame materializations at this depth.
      val hashed = e.select(col("src"), col("dst"), expr(
        s"CAST(conv(substring(md5(concat_ws(':', src, dst, '$r')), 1, 15), 16, 10) AS BIGINT)")
        .as("h"))
      val ranked = Ranks.globalOrderScan(hashed,
        expr(s"h DIV ${1L << 44}"),
        Seq(col("h"), col("src"), col("dst")), "rk")
      // ONE pass over the ranked frame: pair id p = (rk+1) DIV 2 keys a
      // 2-row group, and both swapped edges emit map-side from the
      // sorted pair array (an odd/even split + self-join would compute
      // the rank window twice and shuffle twice); an odd leftover is a
      // 1-row group and passes through unchanged.
      ranked
        .select(expr("(rk + 1) DIV 2").as("p"),
          struct(col("rk"), col("src"), col("dst")).as("e"))
        .groupBy(col("p"))
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(explode(expr(
          """CASE WHEN size(es) = 2 THEN array(
            |  named_struct('src', es[0].src, 'dst', es[1].dst),
            |  named_struct('src', es[1].src, 'dst', es[0].dst))
            |ELSE array(named_struct('src', es[0].src, 'dst', es[0].dst)) END"""
            .stripMargin)).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    }

  /** Materialized-peel depth of the q_ktruss DuckDB oracle — shared
    * with the query-time depth check so the two can never drift:
    * peeling is idempotent at the fixpoint, so any engine convergence
    * in ≤ this many rounds makes the extra unrolled peels no-ops.
    * Raised 6 → 10 in round 11: the depth-check warning (added this
    * round) fired at sf0.1, where the cascade needs 8 rounds — the
    * driver's oracle SFs converge well inside 6, but the guard exists
    * precisely so the unroll covers every SF the bench exercises. */
  private[graft] val KTrussOracleUnroll = 10

  /** Oracle-depth guard for the fixpoint queries whose DuckDB oracles
    * unroll a FIXED number of peel/h-index rounds: if the engine's
    * measured convergence depth exceeds the unroll, the oracle is no
    * longer replaying the same computation and any compare on that
    * dataset is invalid. In oracle-compare mode (Verify sets
    * `graft.oracle.strict`) this THROWS — a silent engine-vs-oracle
    * divergence must never read as green just because stderr was
    * missed (round 11: the then-new warning fired at sf0.1 and forced
    * KTrussOracleUnroll 6 → 10; a throw would have been unmissable).
    * Outside strict mode (the bench, ad-hoc runs — no oracle in play,
    * the engine answer itself is exact) it stays a loud warning so a
    * correct-but-deeper run is not a spurious hard failure.
    */
  private[graft] def oracleDepthGuard(query: String, rounds: Int, unroll: Int): Unit =
    if (rounds > unroll) {
      val msg = s"$query converged in $rounds rounds but its oracleSql " +
        s"unrolls only $unroll - the oracle compare is INVALID on this " +
        "dataset; deepen the unroll const before trusting it"
      if (sys.props.get("graft.oracle.strict").contains("true"))
        throw new IllegalStateException(msg)
      System.err.println(s"WARNING: $msg")
    }

  /** q_closeness's landmark-panel size — CONSTANT by design, so the
    * tagged multi-source BFS state is O(L·n) at any graph scale.
    */
  private val ClosenessPanelL = 32

  /** Oriented per-edge triangle support of a distinct undirected edge
    * set (a < b): degree from a COUNT on the exploded edge grain, the
    * adjacency degree-ORIENTED (keep w with higher (deg, id) —
    * out-degree bounded O(√2m), Latapy's compact-forward), each
    * triangle discovered exactly once at its lowest-ordered corner
    * pair, and [[graft.functions.EdgeCredits]] emitting its 3 edges'
    * canonical (a, b, n) credits map-side into one hash aggregate.
    * Emits EVERY edge (supp ≥ 0): the oriented explode regenerates
    * each edge exactly once at its lower-ordered endpoint, the
    * closing-side attach is a LEFT join (heads with no out-adjacency
    * coalesce to an empty common set), and edge_credits always emits
    * the base-edge row — so callers get the full support inventory
    * without a second join against the edge list. Total work is
    * O(Σ out-deg²) ≤ O(m^1.5), never the unoriented full-neighbor
    * intersect (O(Σ deg²), unbounded celebrity-node arrays).
    */
  private[graft] def orientedSupport(
      edges: DataFrame, checkpoint: Boolean = true,
      preUnd: Option[DataFrame] = None): DataFrame = {
    // checkpoint = false keeps the full lineage in ONE logical plan so
    // Round10Spec can shape-audit it (exactly one collect_set, above
    // the orientation filter); execution always checkpoints — deg and
    // oadj are each consumed twice.
    // preUnd (r16): a caller-materialized both-directions frame
    // (v, w) — trussSupportFixpoint builds it ONCE and shares it with
    // its first maintenance round instead of re-exploding the full
    // edge set in both places.
    def cp(df: DataFrame): DataFrame = if (checkpoint) df.ckpt() else df
    val undE = preUnd.getOrElse(edges
      .select(explode(array(
        struct(col("a").as("v"), col("b").as("w")),
        struct(col("b").as("v"), col("a").as("w")))).as("p"))
      .select(col("p.v").as("v"), col("p.w").as("w")))
    val deg = cp(undE.groupBy(col("v")).agg(count(lit(1)).as("deg")))
      // node-catalog-sized; consumed by both orientation sides
    val oadj = cp(undE
      .join(broadcast(deg.select(col("v"), col("deg").as("dv"))), Seq("v"))
      .join(broadcast(deg.select(col("v").as("w"), col("deg").as("dw"))), Seq("w"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .groupBy(col("v")).agg(collect_set(col("w")).as("nbrs")))
      // consumed twice: explode side AND the t-keyed attach
    oadj
      .select(col("v").as("s"), col("nbrs").as("ns"), explode(col("nbrs")).as("t"))
      // shuffle_hash, not sort-merge (r15): both sides carry the nbrs
      // ARRAYS, and SMJ's per-round sort of array-payload rows was the
      // query's CPU hot spot (q_ktruss task time 525 → 351 CPU·s at
      // sf0.1 with hash joins); the hinted build side is the
      // node-catalog-grain adjacency, bounded per partition
      .join(oadj.select(col("v").as("t"), col("nbrs").as("nt")).hint("shuffle_hash"),
        Seq("t"), "left")
      .select(explode(expr(
        "edge_credits(s, t, array_intersect(ns, " +
          "coalesce(nt, CAST(array() AS ARRAY<BIGINT>))))")).as("cr"))
      .groupBy(col("cr.a").as("a"), col("cr.b").as("b"))
      .agg(sum(col("cr.n")).as("supp"))
  }

  /** Truss peel to the TRUE fixpoint with INCREMENTAL support
    * maintenance — the standard scale design for truss decomposition:
    * [[orientedSupport]] runs exactly ONCE (the only full-graph
    * pass); every subsequent round enumerates just the triangles of
    * the previous graph that touch a removed edge (a 3-way equi-join
    * keyed by the removed set, sized O(Σ deg over removed endpoints),
    * deduped to distinct sorted triples so a triangle losing 2 edges
    * still decrements its survivor by exactly 1) and subtracts their
    * credits from the surviving edges' supports. A dense near-truss
    * graph — the co-purchase fixture keeps 93% of its edges — would
    * otherwise repay the full support pass per round: measured 24.8 s
    * for 8 recompute rounds at sf0.1 vs the single 4.3 s pass +
    * near-free maintenance here. Returns the fixpoint (a, b, supp)
    * frame and the number of rounds (1 full + maintenance rounds
    * until a round removes nothing). Each round localCheckpoints
    * (truncating the iterated lineage — mandatory for an unbounded
    * loop), so the per-round count() probe is metadata on an
    * already-computed frame. [[TrussMaxRounds]] is a runaway backstop
    * only — Round10Spec asserts the fixture converges well inside it
    * (and inside the oracle's unrolled depth of 6; the driver's
    * sf0.01/sf0.001 hash-matches prove the depth covers both fixture
    * SFs).
    */
  private[graft] def trussSupportFixpoint(
      edges0: DataFrame, minSupp: Long): (DataFrame, Int) = {
    // Round 1: the ONE full-graph pass — orientedSupport emits every
    // edge, so this frame is the complete (a, b, supp₀) inventory and
    // the only full-inventory shuffle the peel ever pays.
    // und0 (r16): the full both-directions frame is materialized ONCE
    // and shared — orientedSupport's degree + orientation passes read
    // it, and the FIRST maintenance round's previous-graph frame is
    // exactly this set (kept ∪ removed partitions suppAll, which
    // covers every edge of edges0), so the bulk round stops paying a
    // second full-frame explode + checkpoint.
    val und0 = edges0
      .select(explode(array(
        struct(col("a").as("v"), col("b").as("w")),
        struct(col("b").as("v"), col("a").as("w")))).as("p"))
      .select(col("p.v").as("v"), col("p.w").as("w"))
      .ckpt()
    val suppAll = orientedSupport(edges0, preUnd = Some(und0)).ckpt()
    var kept = suppAll.filter(col("supp") >= minSupp)
    var removed = suppAll.filter(col("supp") < minSupp)
      .select(col("a"), col("b"))
    var rounds = 1
    var nRemoved = removed.count()
    while (nRemoved > 0 && rounds < TrussMaxRounds) {
      // The graph BEFORE this round's removal is survivors ∪ removed.
      // Both closing-edge joins only probe rows whose near endpoint is
      // an endpoint of a REMOVED edge, so once the peel tail is
      // removing dozens of edges per round the exploded adjacency is
      // broadcast-semi-filtered down to a sliver first and every
      // following join is small-side broadcast; while removals are
      // still bulk (first rounds) the filter would discard little and
      // is skipped.
      // First maintenance round: the previous graph IS edges0, so the
      // shared und0 checkpoint serves directly (a rename select over
      // its blocks — no explode, no new checkpoint on the bulk path).
      val undAll =
        if (rounds == 1) und0.select(col("v").as("x"), col("w").as("c"))
        else {
          val prevE = kept.select(col("a"), col("b")).unionByName(removed)
          prevE
            .select(explode(array(
              struct(col("a").as("x"), col("b").as("c")),
              struct(col("b").as("x"), col("a").as("c")))).as("p"))
            .select(col("p.x").as("x"), col("p.c").as("c"))
        }
      val undF =
        if (nRemoved > 10000) {
          if (rounds == 1) undAll // already checkpoint-backed (und0)
          else undAll.ckpt()
        } else {
          val ends = removed
            .select(explode(array(col("a"), col("b"))).as("x")).distinct()
          undAll.join(broadcast(ends), Seq("x"), "left_semi")
            .ckpt() // consumed by both closing-edge joins
        }
      // Distinct triangles of the previous graph containing ≥1 removed
      // edge: (a,b) removed, (a,c) and (b,c) both previous edges;
      // sorting to (x < y < z) dedups a triangle losing 2 edges so its
      // survivor is decremented exactly once.
      // Broadcast hints only while the removal batch is verifiably
      // small (the same ≤10k condition as the semi-filter above):
      // Spark honors an explicit hint REGARDLESS of size, so hinting a
      // bulk first-round batch would hit the 8 GB broadcast ceiling /
      // driver OOM instead of degrading; un-hinted, AQE picks
      // broadcast when the batch fits and one shuffle equi-join when
      // it doesn't — the mechanical degradation the design wants.
      def smallSide(df: DataFrame): DataFrame =
        if (nRemoved <= 10000) broadcast(df) else df
      val tris = undF.select(col("x").as("a"), col("c"))
        .join(smallSide(removed), Seq("a"))
        .filter(col("c") =!= col("b"))
        // shuffle_hash on the closing-edge probe: the semi's sort-merge
        // form re-sorted the full undirected frame every round
        .join(undF.select(col("x").as("b"), col("c")).hint("shuffle_hash"),
          Seq("b", "c"), "left_semi")
        .withColumn("x", least(col("a"), col("b"), col("c")))
        .withColumn("z", greatest(col("a"), col("b"), col("c")))
        .withColumn("y", col("a") + col("b") + col("c") - col("x") - col("z"))
        .select(col("x"), col("y"), col("z"))
        .distinct()
      // Each lost triangle decrements each of its SURVIVING edges by
      // exactly 1 (removed edges are no longer in `kept`, so their
      // credits fall out in the join). x < y < z ⇒ the three pairs are
      // already canonical a < b. dec is bounded by 3·|lost triangles|,
      // NOT by nRemoved — a peeled hub edge can lose far more
      // triangles than the batch has edges, so the ≤10k gate that is
      // sound for `removed` says nothing about dec's size and a forced
      // hint could hit the broadcast ceiling the comment above warns
      // about. dec is therefore left UN-hinted: AQE measures the
      // actual maintenance frame and picks broadcast when it fits
      // (every tail round) and one shuffle equi-join when it doesn't —
      // the minimum any incremental maintenance pays.
      val dec = tris
        .select(explode(array(
          struct(col("x").as("a"), col("y").as("b")),
          struct(col("x").as("a"), col("z").as("b")),
          struct(col("y").as("a"), col("z").as("b")))).as("e"))
        .groupBy(col("e.a").as("a"), col("e.b").as("b"))
        .agg(count(lit(1)).as("dec"))
      val updated = kept
        .join(dec, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          (col("supp") - coalesce(col("dec"), lit(0L))).as("supp"))
        .ckpt()
      kept = updated.filter(col("supp") >= minSupp)
      removed = updated.filter(col("supp") < minSupp)
        .select(col("a"), col("b"))
      rounds += 1
      nRemoved = removed.count()
    }
    // The backstop is a RUNAWAY guard, not an approximation knob: a
    // frame returned with removals still pending is NOT the truss, and
    // silently reporting it as exact would be a wrong answer with no
    // symptom. Converging fixtures never hit this (Round10Spec pins
    // convergence well inside the limit).
    if (nRemoved > 0)
      throw new IllegalStateException(
        s"trussSupportFixpoint hit TrussMaxRounds=$TrussMaxRounds with " +
          s"$nRemoved edges still below support — not a fixpoint; raise " +
          "the backstop or check the input for a pathological cascade")
    (kept, rounds)
  }

  /** The q_ktruss / q_local_cc co-purchase edge set — basket-capped
    * sorted pairs of parts per order, distinct, a < b. MEMOIZED per
    * (session, dir) like [[tradeBase]] (r15): two triangle-family
    * queries consume the same 1.2M-edge frame at sf0.1 (~4 s to build
    * — a lineitem aggregate plus a pair explode plus a distinct), and
    * at 100 TB the basket join is itself a multi-TB pass no library
    * should re-pay per consumer. Deterministic (distinct of a pure
    * projection), so memoization cannot change results; priced by the
    * producer:copurchase_edges bench row.
    */
  private[graft] val copurchaseEdgeCache = new CachedRelation(ttlMillis = 3600L * 1000)

  private[graft] def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    // resolveProbed, not resolve: the cached frame is backed by
    // localCheckpoint blocks, so a hit checks that the storage listing
    // still holds them all and heals on executor loss (the suffixPairs
    // pattern)
    copurchaseEdgeCache.resolveProbed(s"${System.identityHashCode(s)}:$d") {
      graft.functions.VectorFunctions.register(s)
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
        .select(explode(expr(
          s"sorted_pairs(slice(parts, 1, ${Pipeline.BasketCap}))")).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .distinct()
        .ckpt() // consumers read blocks, not lineage
    }

  /** The directed customer–supplier trade edge set (orders ⋈ lineitem,
    * distinct, node ids namespaced customer → 2k / supplier → 2k+1) —
    * built ONCE per (session, dir) and persisted via [[CachedRelation]]
    * (the Ingest.sinkIdCache pattern, 1 h TTL). Seven graph queries
    * consume this frame; each used to re-derive the join + distinct
    * per query, which is fine under a one-query-at-a-time bench but
    * wrong for a LIBRARY at 100 TB, where the edge build is itself a
    * multi-TB join and the graph queries run as a family. Memoization
    * cannot change any result: the frame is a distinct of a pure
    * projection, deterministic given the inputs, and the TTL re-resolve
    * picks up new table drops exactly like the sink-id cache.
    */
  private[graft] val tradeEdgeCache = new CachedRelation(ttlMillis = 3600L * 1000)

  private[graft] def tradeBase(s: SparkSession, d: String): DataFrame =
    tradeEdgeCache.resolve(s"${System.identityHashCode(s)}:$d") {
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
    }

  /** [[tradeBase]] re-projected to the raw bipartite (customer, supplier)
    * key space — the wedge/degree grain q_butterfly and q_linkpred use.
    * Map-only over the persisted frame (the namespacing is a bijection),
    * so both consumers share the one cached join. */
  private[graft] def tradeBipartite(s: SparkSession, d: String): DataFrame =
    tradeBase(s, d).select(expr("src DIV 2").as("c"), expr("(dst - 1) DIV 2").as("sp"))

  /** The both-direction edge view of [[tradeBase]] — map-only over the
    * persisted frame. */
  private def undirected(s: SparkSession, d: String): DataFrame =
    tradeBase(s, d)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Mode-frequency label propagation (3 rounds) over the undirected
    * trade graph — shared by q_community (the labels themselves) and
    * q_modularity (their quality score), so the vector is MEMOIZED per
    * (session, dir) like [[tradeBase]] / NearDup.clusterLabels: at
    * 100 TB the 3 join+argmax rounds are far too expensive to run once
    * per consuming query, and the frame is a pure function of the
    * inputs (deterministic argmax, lowest-label tiebreak), so
    * memoization cannot change results. The vector is localCheckpoint-
    * materialized inside the build — its consumers fan out (modularity
    * reads it four ways), and a lazy persist would let concurrently-
    * scheduled consumer stages each replay the loop before the cache
    * fills. Per round, each node takes the most frequent incoming
    * label (the max(struct(n, -label)) argmax — one aggregate, no
    * window). */
  private[graft] val lpLabelCache = new CachedRelation(ttlMillis = 3600L * 1000)

  private[graft] def lpLabels(s: SparkSession, d: String): DataFrame =
    lpLabelCache.resolve(s"${System.identityHashCode(s)}:$d") {
      // repartition(src) before persist (r16, the BFS-family r15
      // pattern): each propagation round equi-joins on src, so the
      // persisted frame carries the partitioning and the per-round
      // join exchanges only the node-grain label vector — without it
      // every round re-shuffled the full edge frame.
      val edges = undirected(s, d).repartition(col("src")).persist()
      var labels = edges.select(col("src").as("node_id")).distinct()
        .select(col("node_id"), col("node_id").as("label"))
      for (_ <- 1 to Iters) {
        labels = edges
          .join(labels, edges("src") === labels("node_id"))
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("n"))
          .groupBy(col("dst"))
          .agg(max(struct(col("n"), (-col("label")).as("nl"))).as("m"))
          .select(col("dst").as("node_id"), (-col("m.nl")).as("label"))
      }
      labels.ckpt()
    }

  val queries: Map[String, Q] = Map(
    // Fixed-point PageRank over the undirected customer–supplier
    // trade graph; node ids are namespaced into one integer space
    // (customer → 2k, supplier → 2k+1).
    // SPECTRAL BIPARTITION (Fiedler 1973; the power-iteration form is
    // the standard large-graph recipe behind Chaco/METIS coarse
    // partitioning): the sign pattern of the Laplacian's second
    // eigenvector splits the graph along its sparsest-ish cut. Power
    // iteration runs on the shifted operator M = (Δ+1)·I − L (positive
    // definite, same eigenvectors); the trivial all-ones component is
    // deflated by exact mean-removal each round, and magnitude is
    // renormalized with the q_pca_power integer recipe (floor-div by
    // qd = max|x| DIV 10⁶) — every round is EXACT BIGINT arithmetic,
    // so the full trajectory replays in DuckDB scalar-for-scalar. x₀
    // is the deterministic (node_id % 1000) ramp, mean-removed.
    //
    // Scale posture: per round ONE equi-join of the rank vector
    // against the persisted src-partitioned adjacency + one node
    // aggregate (the q_pagerank shape); the normalization scalars are
    // 1-row aggregates broadcast back — never a collect of the
    // node-grain vector. Output is the partition report: side sizes,
    // cut edges, balance.
    "q_spectral_cut" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      def fdiv(a: String, n: String) =
        s"(($a) - ((($a) % ($n) + ($n)) % ($n))) DIV ($n)"
      val edges = tradeBase(s, d)
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val adj = edges
        .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
        .persist()
      val nodes = adj.select(col("src").as("node_id"), col("deg")).distinct()
        .ckpt() // every round's diagonal term reads it
      val dmax = nodes.agg(max(col("deg")).as("dmax"))
      // ONE aggregate pass per renorm: max|x − m| = max(max(x) − m,
      // m − min(x)), so the centering mean AND the quantization
      // divisor come out of a single (sum, count, min, max) scan
      // instead of an agg → center → agg chain.
      def renorm(df: DataFrame): DataFrame = {
        val st = df.agg(sum(col("x")).as("sx"), count(lit(1)).as("nn"),
            min(col("x")).as("mn"), max(col("x")).as("mx"))
          .select(expr(fdiv("sx", "nn")).as("m"), col("mn"), col("mx"))
          .select(col("m"),
            greatest(expr("greatest(mx - m, m - mn) DIV 1000000"), lit(1L)).as("qd"))
        df.crossJoin(broadcast(st))
          .select(col("node_id"), expr(fdiv("x - m", "qd")).as("x"))
      }
      // r16 OPTIMIZATION: the checkpoint sits on the PRE-renorm vector
      // y, not on renorm's output. renorm reads its input twice (the
      // (sum, count, min, max) stats aggregate that broadcasts back,
      // then the centered projection), so checkpointing AFTER renorm
      // made every round's expensive subtree — the edge-grain adj ⋈ x
      // join + node aggregate — execute TWICE per round (once under
      // the stats broadcast, once under the checkpoint write).
      // Checkpointing y runs the round once; renorm and the next
      // round's two reads of x are cheap block scans + a projection
      // (measured: q_spectral_cut 8.3 → ~4.4 s, task time 110 → ~55
      // CPU·s at sf0.1). Same arithmetic, same trajectory.
      var x = renorm(nodes.select(col("node_id"),
          ((col("node_id") % 1000) * 1000L).as("x")))
      for (_ <- 1 to Iters) {
        // (a shuffle_hash hint on the vector side was measured: task
        // time down ~25% but WALL up ~0.9 s — the un-hinted plan lets
        // AQE broadcast the bounded vector; left un-hinted)
        val sums = adj.join(x, adj("src") === x("node_id"))
          .select(col("dst"), col("x"))
          .groupBy(col("dst")).agg(sum(col("x")).as("nsum"))
          .withColumnRenamed("dst", "node_id")
        val y = nodes.join(sums, Seq("node_id"), "left")
          .na.fill(0L, Seq("nsum"))
          .join(x.withColumnRenamed("x", "xv"), Seq("node_id"))
          .crossJoin(broadcast(dmax))
          .select(col("node_id"),
            ((col("dmax") - col("deg") + 1L) * col("xv") + col("nsum")).as("x"))
        x = renorm(y.ckpt())
      }
      val signed = x.select(col("node_id"),
          when(col("x") > 0, 1L).otherwise(0L).as("pos"))
        .ckpt() // read by the side census AND both cut joins
      val sides = signed.agg(sum(col("pos")).as("n_pos"),
        sum(expr("1 - pos")).as("n_neg"))
      val cut = tradeBase(s, d)
        .join(signed.select(col("node_id").as("src"), col("pos").as("ps")), "src")
        .join(signed.select(col("node_id").as("dst"), col("pos").as("pd")), "dst")
        .agg(sum(when(col("ps") =!= col("pd"), 1L).otherwise(0L)).as("cut_edges"),
          count(lit(1)).as("n_edges"))
      sides.crossJoin(cut)
        .select(col("n_pos"), col("n_neg"), col("cut_edges"), col("n_edges"),
          expr("(least(n_pos, n_neg) * 1000) DIV (n_pos + n_neg)").as("balance_permille"))
    }),

    "q_pagerank" -> ((s, d) => {
      val directed = tradeBase(s, d)
      // Both directions emitted MAP-SIDE from one pass (a union of the
      // subtree with its mirror would recompute the join+distinct once
      // per branch), and the out-degree comes from a whole-partition
      // count window over the same src shuffle — no self-join, and the
      // persisted adjacency stays hash-partitioned on src, so each
      // iteration's rank join needs no adj-side exchange.
      val edges = directed
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val adj = edges
        .withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
        .persist()

      var ranks = adj.select(col("src").as("node_id")).distinct()
        .select(col("node_id"), lit(1000000L).as("pr"))
      for (_ <- 1 to Iters) {
        ranks = adj
          .join(ranks, adj("src") === ranks("node_id"))
          .select(col("dst"), expr("(pr * 85) DIV (deg * 100)").as("contrib"))
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("cs"))
          .select(col("dst").as("node_id"), (lit(150000L) + col("cs")).as("pr"))
      }
      ranks
        .select(col("node_id"),
          when(col("node_id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
          col("pr"))
        .orderBy(col("pr").desc, col("node_id"))
    }),

    // TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004) — PERSONALIZED
    // PageRank with the teleport restricted to a trusted SEED set: the
    // crawl-curation primitive q_pagerank can't express (global
    // centrality ranks spam farms too; trust flows ONLY outward from
    // vetted seeds, attenuating with distance — pages unreachable from
    // any seed score zero). Seeds here = customers of nation 0 (a
    // deterministic, data-derived whitelist); rank vector starts at
    // 10⁶ on seeds / 0 elsewhere, and each iteration's restart term
    // lands ONLY on seeds: pr'(v) = 1{seed}·150000 + Σᵤ→ᵥ
    // (pr(u)·85) div (deg(u)·100) — the same fixed-point integer
    // discipline as q_pagerank (truncating div ≡ // on non-negatives,
    // exact integer sums), so the full trajectory hash-matches.
    //
    // Scale posture = q_pagerank exactly: persisted window-degree
    // adjacency over the shared [[tradeBase]] frame, one equi-join +
    // one sum shuffle of (node_id, BIGINT) per iteration; the seed
    // table is dimension-scale and broadcast at every attach point.
    "q_trustrank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val adj = undirected(s, d)
        .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
        .persist()
      val seeds = Tables.customer(s, d).filter(col("c_nationkey") === 0)
        .select((col("c_custkey") * 2).as("node_id"), lit(1L).as("sflag"))
      var ranks = adj.select(col("src").as("node_id")).distinct()
        .join(broadcast(seeds), Seq("node_id"), "left")
        .select(col("node_id"), (coalesce(col("sflag"), lit(0L)) * 1000000L).as("pr"))
      for (_ <- 1 to Iters) {
        ranks = adj
          .join(ranks, adj("src") === ranks("node_id"))
          .select(col("dst"), expr("(pr * 85) DIV (deg * 100)").as("contrib"))
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("cs"))
          .join(broadcast(seeds.withColumnRenamed("node_id", "dst")), Seq("dst"), "left")
          .select(col("dst").as("node_id"),
            (coalesce(col("sflag"), lit(0L)) * 150000L + col("cs")).as("pr"))
      }
      ranks.join(broadcast(seeds), Seq("node_id"), "left")
        .select(col("node_id"),
          when(col("node_id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
          (coalesce(col("sflag"), lit(0L)) === 1L).as("is_seed"),
          col("pr").as("trust"))
        .orderBy(col("trust").desc, col("node_id"))
    }),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    // over the token CO-OCCURRENCE graph — nodes are distinct tokens,
    // an undirected edge links tokens adjacent anywhere in the corpus
    // (window = 2, the paper's default for keyword extraction). Same
    // fixed-point integer PageRank as q_pagerank (micro-unit ranks,
    // damping 85/100, truncating division), so the whole trajectory
    // hash-matches DuckDB. Top-50 tokens by rank are the keywords.
    //
    // Scale posture: edge extraction is map-only (adjacent pairs from
    // the token array, canonicalized a<b before the distinct — one
    // dedup shuffle on short token-pair keys, text never shuffles);
    // the iteration loop is the q_pagerank plan — persisted adjacency
    // with window-derived degrees, per-iteration shuffles carry
    // (token, BIGINT) pairs only.
    "q_textrank" -> ((s, d) => {
      val pairs = Tables.documents(s, d)
        .selectExpr("split(text, ' ') AS tk")
        .selectExpr("posexplode(slice(tk, 1, size(tk) - 1)) AS (i, a)", "tk")
        .selectExpr("least(a, tk[i + 1]) AS a_lo", "greatest(a, tk[i + 1]) AS b_hi")
        .filter(col("a_lo") =!= col("b_hi"))
        .distinct()
      val edges = pairs
        .select(explode(array(
          struct(col("a_lo").as("src"), col("b_hi").as("dst")),
          struct(col("b_hi").as("src"), col("a_lo").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val adj = edges
        .withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
        .persist()
      var ranks = adj.select(col("src").as("token")).distinct()
        .select(col("token"), lit(1000000L).as("pr"))
      for (_ <- 1 to Iters) {
        ranks = adj
          .join(ranks, adj("src") === ranks("token"))
          .select(col("dst"), expr("(pr * 85) DIV (deg * 100)").as("contrib"))
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("cs"))
          .select(col("dst").as("token"), (lit(150000L) + col("cs")).as("pr"))
      }
      ranks.orderBy(col("pr").desc, col("token")).limit(50)
    }),

    // Community detection by synchronous label propagation (Raghavan et
    // al. 2007) over the undirected trade graph: labels start as node
    // ids; each round every node adopts the MODE of its neighbors'
    // labels (most frequent; ties to the smallest label — the
    // determinism rule that makes LPA replayable). 3 fixed rounds, the
    // q_pagerank iteration-count convention. Distinct from
    // q_dedup_cluster's MIN-label propagation: min-label converges to
    // connected components; mode-label finds dense substructure inside
    // a component.
    //
    // Scale posture: each round is one equi-join of the label vector
    // against the persisted adjacency plus a (dst, label) count
    // aggregate and a per-dst MODE pick — shuffles carry (node_id,
    // label, count) triples only. The mode is a hash aggregate over
    // max(struct(n, −label)) (struct comparison is lexicographic, so
    // max = highest count, ties to smallest label), not a per-dst
    // sort window: a hash agg gets map-side partials and skips the
    // sort entirely, and on a skewed celebrity node the partials
    // bound what any one reducer sees. The iteration loop never
    // collects data.
    "q_community" -> ((s, d) => {
      lpLabels(s, d)
        .select(col("node_id"),
          when(col("node_id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
          col("label").as("community"))
        .orderBy(col("node_id"))
    }),

    // Connected components via the ALTERNATING large-star / small-star
    // algorithm (Kiveris et al. 2014, "Connected Components in
    // MapReduce and Beyond") — the canonical petabyte-scale CC, and
    // the step that turns near-dup candidate PAIRS into dedup
    // CLUSTERS. Min-label propagation (q_dedup_cluster's recipe)
    // needs O(diameter) rounds — a 100 TB web graph has long chains —
    // while the alternating algorithm converges in O(log² n) rounds
    // regardless of diameter. Per half-round, at each node u with
    // neighborhood Γ(u) and m = min(Γ(u) ∪ {u}):
    //  - LARGE-STAR rewires every strictly-LARGER neighbor to m;
    //  - SMALL-STAR rewires every ≤-neighbor and u itself to m.
    // The fixed point is one star per component rooted at the
    // component's min id — the component label.
    //
    // Scale posture: each half-round is ONE shuffle — the
    // neighborhood min comes from a whole-partition window over the
    // same u-shuffle the rewire reads (the q_pagerank degree trick;
    // a groupBy+join-back pays a second shuffle or a persist to keep
    // the lineage linear) — plus one distinct that collapses the
    // rewired multiset, both carrying (BIGINT, BIGINT) edges only.
    // The small-star's two emission branches (rewired ≤-neighbors and
    // the self pointer) come out of one map-side generator, so every
    // intermediate frame is consumed exactly once: the whole 6-half-
    // round computation is a single linear lineage with NO persists
    // (contrast q_bfs, whose relax step must consume its state twice
    // per round and persists for it). The edge set shrinks
    // monotonically toward one edge per non-root node, so late rounds
    // are node-scale. The round count is FIXED (3 pairs): convergence
    // on the fixture graph is pinned by the union-find spec
    // (GraphLearnSpec), and the oracle replays the identical 6
    // half-rounds, so the compare is exact by construction even where
    // convergence isn't re-proven.
    "q_concomp" -> ((s, d) => {
      // tradeBase is already session-persisted, so the node catalog and
      // round 1 share its materialization without a query-local persist
      val base = tradeBase(s, d).select(col("src").as("u"), col("dst").as("v"))
      val nodes = base
        .select(explode(array(col("u"), col("v"))).as("node_id")).distinct()
      val edges = alternatingStar(base, Iters)
      // Converged edges are (child → root); roots label themselves.
      nodes
        .join(edges.select(col("u").as("node_id"), col("v").as("root")),
          Seq("node_id"), "left")
        .select(col("node_id"),
          when(col("node_id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
          coalesce(col("root"), col("node_id")).as("comp"))
        .distinct()
        .orderBy(col("node_id"))
    }),

    // Triangle counting over the co-purchase graph (parts bought in the
    // same order) — the clustering-coefficient primitive behind
    // community detection and graph-quality audits. Compact-forward
    // (Latapy 2008), both halves of it:
    //  - edges orient from their lower- to their higher-DEGREE endpoint
    //    (ties by id), so every out-degree is bounded by O(√2m) no
    //    matter how skewed the graph — a celebrity node has huge degree
    //    but tiny out-degree and never fans out;
    //  - triangles come from intersecting the two endpoints' sorted
    //    OUT-neighbor lists per edge — z ∈ N⁺(x) ∩ N⁺(y) closes
    //    {x,y,z} exactly once, at its lowest-ordered corner pair.
    // The intersection form is the part that matters at scale: it
    // never materializes wedges (the wedge-join formulation shipped
    // 41–49M candidate rows through a shuffle on this fixture; the
    // intersection ships each adjacency array once and closes
    // triangles MAP-SIDE in array_intersect). Per-node participation
    // counts (each triangle credits all 3 corners), top-20.
    //
    // Scale posture: basket pairs are emitted MAP-SIDE from each
    // order's sorted part array (the q_copurchase posture — no
    // self-join on lineitem; basket size is bounded, so pairs/order is
    // bounded); degree attach, adjacency build, and the two
    // adjacency-ship joins are all equi-joins on the part key. The
    // triangle multiset is orientation-invariant, so the oracle keeps
    // the simple id-ordered wedge form.
    "q_triangle" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val baskets = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
      // all a<b pairs per basket, map-side from the sorted array via the
      // native fused-loop generator (the nested-HOF form ran every inner
      // pair through two interpreted lambda frames — it dominated this
      // query's runtime). The slice() is the basket-size cap: a
      // pathological hot basket emits ≤ C(cap,2) pairs instead of n²/2
      // (deterministic — the cap keeps the lowest part ids from the
      // sorted-distinct array); fixture baskets are ≤7 so it's a no-op
      // here, and the oracle needs no cap.
      // ADJACENCY-FIRST build — no edge-level distinct, no separate
      // degree aggregate. Duplicate pairs (the same part pair from two
      // orders) ride straight into the per-node collect_set, which
      // dedups as a side effect of building the adjacency, and the
      // DISTINCT degree is then just size(nbrs). The old
      // distinct→degree→orient chain paid three shuffles (pair
      // distinct, degree count, adjacency build) where this pays one
      // (the undirected adjacency); arrays stay UNSORTED throughout —
      // every consumer (size, array_intersect, the credit aggregate)
      // is order-insensitive, so sorting 2|E| longs was pure waste.
      val pairs = baskets
        .select(explode(expr(
          s"sorted_pairs(slice(parts, 1, ${Pipeline.BasketCap}))")).as("e"))
      val und = pairs
        .select(explode(array(
          struct(col("e.a").as("v"), col("e.b").as("w")),
          struct(col("e.b").as("v"), col("e.a").as("w")))).as("p"))
        .select(col("p.v").as("v"), col("p.w").as("w"))
        .groupBy(col("v")).agg(collect_set(col("w")).as("nbrs"))
        .withColumn("deg", size(col("nbrs")))
        .persist() // consumed by the degree map AND the orientation pass
      // Orientation: explode each node's undirected neighbors and keep
      // w with strictly higher (deg, id) — each edge survives exactly
      // once, at its lower-ordered endpoint, and out-degree is bounded
      // O(√2m) (Latapy's compact-forward). The degree map is
      // node-catalog-sized → broadcast; und is already hash-partitioned
      // on v, and explode/filter/broadcast-join preserve that, so the
      // re-collect into oriented adjacency needs NO new exchange.
      val degm = und.select(col("v").as("w"), col("deg").as("dw"))
      val oadj = und
        .select(col("v"), col("deg").as("dv"), explode(col("nbrs")).as("w"))
        .join(broadcast(degm), Seq("w"))
        .filter(col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w")))
        .groupBy(col("v")).agg(collect_set(col("w")).as("nbrs"))
        .persist() // consumed twice: the explode side AND the t-keyed attach
      // The source side's out-adjacency needs NO join at all: exploding
      // oadj regenerates every oriented edge (s, t) WITH N⁺(s) already
      // in the row (the two-join form shipped ns through an extra full
      // shuffle just to reattach what the groupBy had computed). Only
      // N⁺(t) attaches by join; that side is node-grain — one array per
      // node, not per edge — so AQE broadcasts it at fixture scale, and
      // at 100 TB it degrades to one equi-join shuffle, the minimum any
      // adjacency-intersection plan pays.
      //
      // Per-corner credits: k triangles at each endpoint, 1 at each
      // closing vertex, emitted UNCONDITIONALLY (no k>0 filter): a
      // filter between the join and the generator gets pushed into the
      // join condition, making the plan evaluate array_intersect TWICE
      // per edge (once to test, once to project). Zero-k edges emit two
      // n=0 structs that vanish into the map-side partial sum — far
      // cheaper than a second intersect over every edge.
      oadj
        .select(col("v").as("s"), col("nbrs").as("ns"), explode(col("nbrs")).as("t"))
        .join(oadj.select(col("v").as("t"), col("nbrs").as("nt")), Seq("t"))
        .withColumn("common", array_intersect(col("ns"), col("nt")))
        .select(explode(expr("triangle_credits(s, t, common)")).as("cr"))
        .select(col("cr.part").as("part"), col("cr.n").as("n"))
        .groupBy(col("part")).agg(sum(col("n")).as("n_triangles"))
        .filter(col("n_triangles") > 0)
        .orderBy(col("n_triangles").desc, col("part"))
        .limit(20)
    }),

    // k-CORE PEELING (Seidman 1983; Batagelj–Zaveršnik is the serial
    // form, iterative peeling is the distributed one) — the graph-
    // cleaning op crawl pipelines run before centrality/sampling:
    // nodes that can't sustain k neighbors within the surviving
    // subgraph are spam tendrils / dead ends; the k-core is the
    // mutually-supported part. Peels to the TRUE fixpoint (the
    // q_ktruss honesty precedent: a round that removes no edge ends
    // the loop; the synthetic-cascade spec pins the peel rule, the
    // driver's oracle compare pins the fixpoint) — rounds are cheap
    // (two window counts on a monotonically shrinking frame), so
    // bounded-round approximation bought nothing but a wrong answer
    // on deep-cascade graphs.
    //
    // Scale posture: each round is TWO whole-partition window counts
    // over the SAME both-direction edge frame (partition by u, then by
    // v — the frame is symmetric so each gives a true degree) and a
    // map-side filter — no join, no aggregate, shuffles carry (BIGINT,
    // BIGINT) edges. Each round localCheckpoints (truncating the
    // iterated lineage), so the convergence count() probe is metadata
    // on an already-computed frame.
    "q_kcore" -> ((s, d) => {
      val base = tradeBase(s, d).select(col("src").as("u"), col("dst").as("dst0"))
      val edges = base
        .select(explode(array(
          struct(col("u"), col("dst0").as("v")),
          struct(col("dst0").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val (core, rounds) = kcorePeelFixpoint(edges, KCoreK)
      oracleDepthGuard("q_kcore", rounds, KCoreOracleUnroll)
      core.groupBy(col("u")).agg(count(lit(1)).as("core_deg"))
        .select(col("u").as("node_id"),
          when(col("u") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
          col("core_deg"))
        .orderBy(col("node_id"))
    }),

    // CORE-NUMBER DECOMPOSITION via the h-index fixpoint (Lü, Chen,
    // Ren, Zhang, Zhou & Stanley, PNAS 2016: iterating "h(v) ← H-index
    // of neighbors' h values" from h = degree converges exactly to
    // coreness) — q_kcore answers "who is in the 8-core"; this answers
    // "what is EVERY node's core number" in one run, the whole
    // decomposition a graph-curation pipeline thresholds later. The
    // h-operator is embarrassingly node-parallel (no peel ordering),
    // h is pointwise NON-INCREASING per round, so the Σh count probe
    // detects the fixpoint exactly. Report at core-value census grain.
    //
    // Scale posture: per round ONE equi-join attaching neighbor h
    // values (shuffles (node, BIGINT) pairs) and one node-partitioned
    // rank window (H-index = max over desc-sorted neighbors of
    // min(rank, value)); rounds localCheckpoint so the probe is
    // metadata; the census is bounded by max-degree.
    "q_core_number" -> ((s, d) => {
      val (core, rounds) = coreNumbers(s, d)
      oracleDepthGuard("q_core_number", rounds, CoreNumberOracleUnroll)
      core.groupBy(col("h"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(expr("CASE WHEN u % 2 = 0 THEN 1 ELSE 0 END")).as("n_customers"),
          sum(expr("CASE WHEN u % 2 = 1 THEN 1 ELSE 0 END")).as("n_suppliers"))
        .select(col("h").as("core"), col("n_nodes"), col("n_customers"),
          col("n_suppliers"))
        .orderBy(col("core"))
    }),

    // BUTTERFLY COUNTING (Sanei-Mehri et al. 2018) — the bipartite
    // clustering primitive: a butterfly is a 2×2 biclique (two
    // customers sharing two suppliers), the smallest cohesion unit a
    // bipartite graph can have (triangles cannot exist in it — which
    // is why q_triangle works on the co-purchase projection instead).
    // Count = Σ over customer pairs C(shared_suppliers, 2).
    //
    // Scale posture: wedges (customer pairs per supplier) come
    // MAP-SIDE from each supplier's sorted customer array via the
    // native sorted_pairs generator — the q_copurchase posture, no
    // supplier self-join. The per-supplier slice(…, 1, cap) is
    // LOAD-BEARING here, not a formality: supplier degrees run to
    // ~600 on the fixture (≫ cap), so the count is the capped
    // estimate over each supplier's `cap` lowest customer ids — the
    // documented q_semantic_dedup tradeoff, mirrored EXACTLY in the
    // oracle (row_number ≤ cap); the uncapped count would emit
    // Σ C(deg_s, 2) ≈ 171M wedge rows at sf0.1 — the wedge explosion
    // q_triangle's compact-forward exists to avoid.
    "q_butterfly" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val cap = Pipeline.BasketCap
      val bip = tradeBipartite(s, d)
      val wedges = bip
        .groupBy(col("sp")).agg(array_sort(collect_set(col("c"))).as("cs"))
        .select(explode(expr(s"sorted_pairs(slice(cs, 1, $cap))")).as("p"))
      wedges
        .groupBy(col("p.a").as("c1"), col("p.b").as("c2"))
        .agg(count(lit(1)).as("shared"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("shared")).as("n_wedges"),
          expr("sum(shared * (shared - 1)) DIV 2").as("n_butterflies"))
    }),

    // LINK PREDICTION by neighborhood overlap (Liben-Nowell & Kleinberg
    // 2003's common-neighbors / Jaccard baselines) — the recommender
    // primitive over the same bipartite wedges as q_butterfly: two
    // customers who share many suppliers relative to their combined
    // reach are likely future co-traders. score = |N(a)∩N(b)| /
    // |N(a)∪N(b)| in exact micro-units (shared·10⁶ DIV (d1+d2−shared);
    // non-negative integers, so Spark DIV ≡ DuckDB //). Top-50 by
    // (score, shared, ids) — a TakeOrdered heap, no global sort.
    //
    // Scale posture: shared counts ride the SAME capped map-side wedge
    // generator as q_butterfly (cap mirrored in the oracle); the
    // degree table is node-catalog grain and joins HINT-FREE (the
    // q_lm_score stance — AQE broadcasts at fixture scale, degrades to
    // one equi-join shuffle at 100 TB).
    "q_linkpred" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val cap = Pipeline.BasketCap
      // wedge build and degree table both project map-side off the
      // session-persisted tradeBase — no query-local persist needed
      val bip = tradeBipartite(s, d)
      val deg = bip.groupBy(col("c")).agg(count(lit(1)).as("deg"))
      val shared = bip
        .groupBy(col("sp")).agg(array_sort(collect_set(col("c"))).as("cs"))
        .select(explode(expr(s"sorted_pairs(slice(cs, 1, $cap))")).as("p"))
        .groupBy(col("p.a").as("c1"), col("p.b").as("c2"))
        .agg(count(lit(1)).as("shared"))
      shared
        .join(deg.select(col("c").as("c1"), col("deg").as("d1")), "c1")
        .join(deg.select(col("c").as("c2"), col("deg").as("d2")), "c2")
        .withColumn("score_micro", expr("(shared * 1000000) DIV (d1 + d2 - shared)"))
        .select(col("c1"), col("c2"), col("shared"), col("d1"), col("d2"), col("score_micro"))
        .orderBy(col("score_micro").desc, col("shared").desc, col("c1"), col("c2"))
        .limit(50)
    }),

    // RICH-CLUB COEFFICIENT with the Colizza 2006 NORMALIZATION (Zhou
    // & Mondragón 2004 define φ; Colizza et al. divide by φ over a
    // degree-preserving randomized graph, because raw φ(k) conflates
    // hub-hub preference with what the degree sequence forces) over
    // the undirected trade graph: φ(k) = 2·E_k / (n_k(n_k−1)) for
    // nodes of degree > k, k ∈ {8, 16, 32}; ρ(k) = E_k / E_k_null.
    //
    // The null model is [[RichClubSwapRounds]] rounds of DETERMINISTIC
    // double-edge swaps — the hash-for-RNG recipe (q_randwalk,
    // q_sample_hash): round r ranks edges by a 60-bit md5 fold of
    // (src, dst, r) via the bucket-offset [[Ranks.globalOrderScan]]
    // (no single-reducer sort), pairs rank 2i−1 with 2i, and the pair
    // exchanges dst endpoints — (a,b),(c,d) → (a,d),(c,b). Every
    // node's degree is preserved EXACTLY (each src stays a src once,
    // each dst a dst once; bipartite namespacing means self-loops are
    // impossible), an odd leftover edge passes through, and duplicate
    // edges may arise — the standard configuration-model semantics,
    // counted as edge instances on both engines. Reproducible across
    // re-runs, engines, and stage retries; the oracle replays hash,
    // rank, pairing, and swap CTE-for-CTE (GraphLearnSpec pins the
    // degree-multiset invariance).
    //
    // Scale posture: one degree aggregate; each swap round shuffles
    // (src, dst, BIGINT-hash) triples keyed by bucket then by pair
    // rank; per k a broadcast-semi edge filter + 1-row counts — edge
    // text/payload never moves, and nothing is quadratic.
    "q_rich_club" -> ((s, d) => {
      val edges = tradeBase(s, d) // src even / dst odd, each edge once
      val deg = edges
        .select(explode(array(col("src"), col("dst"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .ckpt() // node-catalog-sized; consumed per k
      val nullEdges = edgeSwapNull(edges.select(col("src"), col("dst")),
          RichClubSwapRounds)
      // ALL three k thresholds in ONE decorated pass per edge frame:
      // attach endpoint degrees once (node-catalog joins, AQE
      // broadcast), then each k is a map-side predicate inside one
      // aggregate — not a per-k semi-join rescan (6 scans → 2).
      val ks = Seq(8L, 16L, 32L)
      def ekCounts(e: DataFrame, pre: String) = {
        val aggs = ks.map(k =>
          sum(when(col("ds") > k && col("dd") > k, 1L).otherwise(0L)).as(s"$pre$k"))
        e.join(deg.select(col("v").as("src"), col("deg").as("ds")), "src")
          .join(deg.select(col("v").as("dst"), col("deg").as("dd")), "dst")
          .agg(aggs.head, aggs.tail: _*)
      }
      val nkAggs = ks.map(k =>
        sum(when(col("deg") > k, 1L).otherwise(0L)).as(s"nk$k"))
      val structs = ks.map(k =>
        s"named_struct('k', ${k}L, 'n_k', nk$k, 'e_k', ek$k, 'e_k_null', en$k)")
        .mkString("array(", ", ", ")")
      deg.agg(nkAggs.head, nkAggs.tail: _*)
        .crossJoin(broadcast(ekCounts(edges, "ek")))
        .crossJoin(broadcast(ekCounts(nullEdges, "en")))
        .select(explode(expr(structs)).as("r"))
        .select(col("r.k").as("k"), col("r.n_k").as("n_k"),
          col("r.e_k").as("e_k"), col("r.e_k_null").as("e_k_null"))
        .withColumn("phi_micro", expr(
          "CASE WHEN n_k >= 2 THEN (2 * e_k * 1000000) DIV (n_k * (n_k - 1)) END"))
        .withColumn("rho_micro", expr(
          "CASE WHEN e_k_null > 0 THEN (e_k * 1000000) DIV e_k_null END"))
        .orderBy(col("k"))
    }),

    // ADAMIC-ADAR link prediction (Adamic & Adar 2003) — q_linkpred's
    // Jaccard reweighted by how DISCRIMINATIVE each shared neighbor
    // is: a supplier half the market buys from says nothing about two
    // customers sharing it, so each wedge center contributes
    // 1/ln(deg(center)) instead of 1. Weights are exact micro units
    // (floor(10⁶/ln(deg) + 0.5) — round-half-up of identical doubles,
    // deg ≥ 2 so ln > 0), summed as BIGINTs so pair scores never
    // touch float summation order. Top-50 by (score, ids).
    //
    // Scale posture: identical to q_linkpred — the SAME capped
    // map-side wedge generator (cap mirrored in the oracle); the
    // center weight attaches BEFORE the pair explode, so the pair
    // aggregate shuffles (pair, weight) longs only.
    "q_adamic_adar" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val cap = Pipeline.BasketCap
      Graph.tradeBipartite(s, d)
        .groupBy(col("sp")).agg(array_sort(collect_set(col("c"))).as("cs"))
        .withColumn("deg", size(col("cs")))
        .filter(col("deg") >= 2)
        .withColumn("w_micro",
          expr("CAST(floor(1000000 / ln(CAST(deg AS DOUBLE)) + 0.5) AS BIGINT)"))
        .select(col("w_micro"),
          explode(expr(s"sorted_pairs(slice(cs, 1, $cap))")).as("p"))
        .groupBy(col("p.a").as("c1"), col("p.b").as("c2"))
        .agg(count(lit(1)).as("shared"), sum(col("w_micro")).as("aa_micro"))
        .orderBy(col("aa_micro").desc, col("c1"), col("c2"))
        .limit(50)
    }),

    // DETERMINISTIC RANDOM WALKS (DeepWalk/node2vec corpus prep —
    // Perozzi 2014): γ 3-hop walks per node (the DeepWalk
    // walks-per-node parameter, session conf `graft.pipeline.walks`,
    // default 2 — the q_train_shard run-parameter pattern), where the
    // "random" next hop is the neighbor minimizing a universal hash of
    // (current, step, walk-index, neighbor) — the repo's standard
    // hash-for-RNG substitution (q_sample_hash, q_span_mask), which is
    // exactly what a distributed walk generator wants anyway:
    // reproducible across re-runs, engines, and stage retries, no RNG
    // state to coordinate. The walk index enters the hash (g·7919) so
    // a node's γ walks diverge; g = 0 replays the single-walk
    // trajectory bit-exactly.
    //
    // Scale posture — the FUNCTIONAL-GRAPH collapse: the next hop is a
    // pure function of (cur, step, g), NOT of the walk, so each hop
    // builds one TRANSITION TABLE (per-(node, g) hash-argmin over the
    // persisted adjacency — min(struct) with map-side partials
    // bounding celebrity reducers) and the frontier joins it at NODE
    // grain. Dragging every walk through the edge join instead — the
    // naive shape — multiplies the edge-grain work by γ per hop and
    // re-aggregates per walk; the transition form pays edge-grain
    // argmin ONCE per hop regardless of γ, which is the difference
    // between γ·E and E + γ·N per hop at 100 TB (DeepWalk runs γ ≈
    // 10–80).
    "q_randwalk" -> ((s, d) => {
      val gamma = s.conf.get("graft.pipeline.walks", "2").toInt
      val directed = tradeBase(s, d)
      val adj = directed
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .persist()
      val gs = s"explode(sequence(cast(0 as bigint), cast(${gamma - 1} as bigint)))"
      def transitions(s1: Int): DataFrame =
        adj.select(col("src").as("cur"), col("dst"))
          .withColumn("g", expr(gs))
          .withColumn("h", expr(walkHash(s1)))
          .groupBy(col("cur"), col("g"))
          .agg(min(struct(col("h"), col("dst"))).as("m"))
          .select(col("cur"), col("g"), col("m.dst").as("nxt"))
      var frontier = adj.select(col("src").as("walk_id")).distinct()
        .withColumn("g", expr(gs))
        .withColumn("cur", col("walk_id"))
      val carried = scala.collection.mutable.ArrayBuffer[String]("walk_id", "g")
      for (s1 <- 1 to Iters) {
        frontier = frontier.join(transitions(s1), Seq("cur", "g"))
          .withColumn(s"hop$s1", col("nxt"))
          .withColumn("cur", col("nxt"))
          .drop("nxt")
        carried += s"hop$s1"
      }
      frontier.select(carried.map(col).toSeq: _*).orderBy(col("walk_id"), col("g"))
    }),

    // GraphSAGE-style FIXED-FANOUT NEIGHBOR SAMPLING (Hamilton et al.
    // 2017) — the mini-batch frontier a distributed GNN trainer
    // materializes: per node, a deterministic sample of F1 = 3
    // neighbors, and per sampled neighbor F2 = 2 of ITS neighbors
    // (fanout [3, 2]), bounding every node's 2-hop block at F1·F2
    // rows no matter how celebrity its neighborhood. "Random" choice
    // is the hash-argrank substitution (q_randwalk's recipe, a
    // per-hop tag decorrelating the two levels), so re-runs, stage
    // retries, and both engines sample identical blocks.
    //
    // Scale posture: per hop ONE window top-k over the persisted
    // adjacency — ranked by the hash, pruned MAP-SIDE by
    // WindowGroupLimit before the shuffle (the q_window_rank plan
    // shape), so celebrity nodes ship F rows, not deg rows. The hop-2
    // sample is node-FUNCTIONAL (independent of the root — the
    // q_randwalk functional-graph collapse), so it's computed once
    // per node and joined, never once per (root, neighbor).
    "q_graph_sample" -> ((s, d) => {
      val F1 = 3; val F2 = 2
      val edges = undirected(s, d)
      def hash(tag: Int) =
        s"(1203958717 * (((src % 2147483647) * 1000003 + $tag * 31 + dst) % 2147483647) + 776531401) % 2147483647"
      def sample(f: Int, tag: Int): DataFrame = edges
        .withColumn("h", expr(hash(tag)))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("src")).orderBy(col("h"), col("dst"))))
        .filter(col("rnk") <= f)
        .select(col("src"), col("dst"), col("rnk"))
      val hop1 = sample(F1, 1)
        .select(col("src").as("root"), col("rnk").as("r1"), col("dst").as("n1"))
      val hop2 = sample(F2, 2)
        .select(col("src").as("n1"), col("rnk").as("r2"), col("dst").as("n2"))
      hop1.join(hop2, "n1")
        .select(col("root"),
          col("r1").cast("bigint").as("r1"), col("n1"),
          col("r2").cast("bigint").as("r2"), col("n2"))
        .orderBy(col("root"), col("r1"), col("r2"))
    }),

    // Degree distribution in power-of-two buckets — the graph-quality
    // audit run before any sampling or partitioning decision (is the
    // graph power-law? where does the celebrity tail start?). The
    // log₂ bucket is INTEGER-EXACT in both engines as
    // length(bin(deg)) − 1 (binary-string length, no libm log — the
    // shared-literal discipline without needing literals). One degree
    // aggregate over the edge shuffle + one bucket-grain aggregate;
    // output is log₂(max-degree)-sized.
    // DEGREE ASSORTATIVITY (Newman 2002) of the undirected trade
    // graph — do high-degree customers trade with high-degree
    // suppliers, or is the market hub-and-spoke? r is the Pearson
    // correlation of (deg u, deg v) over the both-direction edge view
    // (each undirected edge counted once per direction — Newman's
    // symmetric convention). Shape: one (node)-grain degree
    // aggregate over the shared persisted tradeBase, two node-keyed
    // joins to decorate edge endpoints, one moment aggregate — the
    // r formula runs in DOUBLE over the exact BIGINT raw moments in
    // identical text (n·Σxy overflows 2^63 at corpus scale, so the
    // n-scaling happens after the widening; both engines widen the
    // same exact integers, so the doubles are bit-identical).
    "q_assortativity" -> ((s, d) => {
      val und = undirected(s, d)
      val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val e2 = und
        .join(deg.select(col("src"), col("deg").as("du")), Seq("src"))
        .join(deg.select(col("src").as("dst"), col("deg").as("dv")), Seq("dst"))
      e2.agg(count(lit(1)).as("n"), sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
          sum(expr("du * dv")).as("sxy"), sum(expr("du * du")).as("sxx"),
          sum(expr("dv * dv")).as("syy"))
        .select(col("n"),
          round(expr(
            """(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              | / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              |       * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))""".stripMargin), 4)
            .as("assortativity"))
    }),

    // RECIPROCITY of the nation-level trade network — the directed-
    // graph health metric the bipartite customer→supplier graph can't
    // express (its edges only point one way): collapse trade to
    // buyer-nation → seller-nation edges and ask what fraction have a
    // reverse edge. Shape: the heavy orders⋈lineitem join is the
    // SHARED persisted tradeBase (via tradeBipartite); nation
    // decoration is two dimension joins; everything after runs at
    // nation²-grain (≤ 625 rows) — the reverse-edge probe is a self
    // left-join there, exact micro ratio at the end.
    "q_reciprocity" -> ((s, d) => {
      val cn = Tables.customer(s, d)
        .select(col("c_custkey").as("c"), col("c_nationkey").as("cnat"))
      val sn = Tables.supplier(s, d)
        .select(col("s_suppkey").as("sp"), col("s_nationkey").as("snat"))
      val e = tradeBipartite(s, d)
        .join(cn, Seq("c")).join(sn, Seq("sp"))
        .select(col("cnat").as("src"), col("snat").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
        .withColumn("has_rev", lit(1L))
      e.join(rev, Seq("src", "dst"), "left")
        .agg(count(lit(1)).as("n_edges"),
          sum(coalesce(col("has_rev"), lit(0L))).as("n_mutual"))
        .select(col("n_edges"), col("n_mutual"),
          expr("(n_mutual * 1000000) DIV n_edges").as("recip_micro"))
    }),

    "q_degree_dist" -> ((s, d) => {
      val directed = tradeBase(s, d)
      directed
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"))
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .withColumn("bucket", expr("length(bin(deg)) - 1"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
        .orderBy(col("bucket"))
    }),

    // Multi-source BFS (hop distance ≤ 3 from a seed set) over the
    // undirected trade graph — the reachability primitive behind
    // "pages within k clicks of a trusted seed" crawl curation and
    // blast-radius queries. Seeds are every customer node whose
    // custkey ≡ 0 (mod 100) (node_id % 200 = 0 in the namespaced id
    // space). Each round relaxes distances by one hop:
    // dist'(v) = min(dist(v), min over u→v of dist(u)+1) — the
    // Bellman-Ford step specialized to unit weights, which makes the
    // min-aggregate associative and partial-aggregation-safe.
    //
    // Scale posture: the q_pagerank loop shape — the persisted
    // adjacency stays hash-partitioned on src; each of the 3 rounds is
    // one equi-join of the (node_id, BIGINT) distance vector against
    // it plus a min-aggregate, shuffling id/int pairs only. Unreached
    // nodes simply never enter the vector (no ∞ sentinel rows), so the
    // frontier table is only ever as large as the reached set. The
    // keep-your-current-distance half of the relaxation rides the SAME
    // join as the edge half, via weight-0 self-loops folded into the
    // persisted adjacency — so the distance vector is consumed exactly
    // ONCE per round (a dist ∪ relax(dist) union would reference dist
    // twice and double the unpersisted lineage every iteration: 2³
    // re-evaluations of round 1 by round 3, a measured 2× on this
    // query).
    "q_bfs" -> ((s, d) => {
      val directed = tradeBase(s, d)
      val edges = directed
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val nodes = edges.select(col("src")).distinct().persist()
      val adj = edges.select(col("src"), col("dst"), lit(1L).as("w"))
        .unionByName(nodes.select(col("src"), col("src").as("dst"), lit(0L).as("w")))
        // pre-partitioned on the join key (r15): every relaxation round
        // equi-joins on src, so the persisted frame is shuffled ONCE
        // here instead of once per round - each round then moves only
        // the node-grain state vector
        .repartition(col("src"))
        .persist()
      var dist = nodes
        .filter(col("src") % 200 === 0)
        .select(col("src").as("node_id"), lit(0L).as("dist"))
      for (_ <- 1 to Iters) {
        dist = adj
          // shuffle_hash on the node-grain state vector (r15): SMJ
          // re-sorted the persisted adjacency every round (q_diameter
          // task time 430 -> 185 CPU-s at sf0.1 with hash joins)
          .join(dist.hint("shuffle_hash"), adj("src") === dist("node_id"))
          .select(col("dst").as("node_id"), (col("dist") + col("w")).as("dist"))
          .groupBy(col("node_id"))
          .agg(min(col("dist")).as("dist"))
      }
      dist
        .select(col("node_id"),
          when(col("node_id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
          col("dist"))
        .orderBy(col("dist"), col("node_id"))
    }),

    // K-TRUSS peeling (Cohen 2008), k = 4, over the co-purchase graph
    // — the cohesion filter a notch stronger than q_kcore: an edge
    // survives only while it closes ≥ k−2 = 2 triangles among the
    // SURVIVING edges, so bridges and spokes that k-core keeps are
    // peeled away and what remains is the genuinely clique-ish core.
    // Peels to the TRUE fixpoint (a round that removes no edge ends
    // the loop; TrussMaxRounds is a runaway backstop, asserted
    // unreached by Round10Spec): the result is the exact 4-truss, not
    // a bounded-round prefix. Top-50 surviving edges by (support, a,
    // b).
    //
    // Scale posture: support is the ORIENTED q_triangle form — the
    // adjacency is degree-oriented (keep w with higher (deg, id), so
    // out-degree is bounded O(√2m), Latapy's compact-forward), each
    // triangle is discovered exactly once at its lowest-ordered corner
    // pair, and edge_credits emits its 3 edges' canonical (a, b, n)
    // credits map-side; one hash aggregate by (a, b) yields supp.
    // Work per round is O(Σ out-deg²) ≤ O(m^1.5) — never the
    // unoriented full-neighbor intersect, whose O(Σ deg²) cost and
    // unbounded celebrity-node arrays were round 9's worst standing
    // scale defect. Edges whose oriented head has no out-neighbors
    // and close no triangle produce no credit row — harmless, the
    // peel filter drops supp<2 anyway, and the final page only shows
    // survivors. Convergence probing: each round must materialize
    // anyway (localCheckpoint truncates the iterated lineage), so the
    // per-round count() is metadata on an already-checkpointed frame
    // — geometric chunking (the clusterLabels pattern) would save no
    // jobs here because peel rounds, unlike label-propagation rounds,
    // cannot be composed lazily without re-deriving support.
    //
    // Fixpoint-depth argument (the round-12 VERDICT's scaling probe
    // measured q_ktruss's time exponent 0.73 — the highest in the
    // report — and asked for either a sub-0.7 exponent or this note):
    // the loop IS already bulk peeling — every round removes EVERY
    // edge currently below support, so the round count equals the
    // CASCADE DEPTH of the truss decomposition (how many times a
    // removal newly exposes further edges), an intrinsic property of
    // the graph, not a batching choice. Measured on the co-purchase
    // fixture: 8,899 edges → 1 round; 115,729 → 3; 1,196,000 → 8
    // (≈ m^0.43 over this range — slow growth, not linear). The TOTAL
    // work stays output-bounded regardless of depth: round r's joins
    // are semi-filtered to the removed batch's endpoints, its triangle
    // re-count touches only triangles CONTAINING a removed edge, and
    // every triangle is lost at most once across the whole peel — so
    // Σ_rounds (per-round work) = O(initial full pass + total lost-
    // triangle mass), and added rounds contribute scheduling overhead
    // (~0.5 s each at local[32]), which is exactly the measured
    // exponent's composition: per-round cost shrinks while depth
    // creeps. At a deeper dataset the oracle-depth guard (strict mode)
    // THROWS before a silent divergence — deepen KTrussOracleUnroll
    // when a real corpus needs it (sf0.1's depth 8 sits inside the
    // 10-deep unroll with margin).
    "q_ktruss" -> ((s, d) => {
      val (fix, rounds) =
        trussSupportFixpoint(copurchaseEdges(s, d), minSupp = 2)
      // The oracle unrolls a FIXED number of materialized peels; the
      // engine peels to the true fixpoint. If a dataset ever needs
      // more rounds than the unroll, the two would silently diverge —
      // so the depth check runs at query time, where the measured
      // round count exists (Round10Spec pins the fixture margin; this
      // guards datasets the spec never saw).
      oracleDepthGuard("q_ktruss", rounds, KTrussOracleUnroll)
      fix.orderBy(col("supp").desc, col("a"), col("b"))
        .limit(50)
    }),

    // DOUBLE-SWEEP diameter lower bound (Magnien, Latapy & Habib
    // 2009) — the standard cheap estimator for "how wide is this
    // graph": BFS from an arbitrary node (the min-id node), take the
    // farthest reached node (the graph's periphery pulls the sweep
    // outward), BFS again from there; the second eccentricity is a
    // provable diameter lower bound that is exact on trees and near-
    // exact on most real graphs. Both sweeps are hop-BOUNDED to Iters
    // rounds (the declared contract: ≤Iters-hop eccentricity — the
    // fixture graph's dense bipartite core saturates well inside it).
    // Farthest-node selection is an exact packed argmax
    // (dist·2³² + (2³²−1−node): max dist, then MIN node id — all
    // terms non-negative so truncating and flooring division agree;
    // node ids are bounded < 2³¹ by the namespacing).
    //
    // Scale posture: the q_bfs loop shape twice — persisted adjacency
    // with weight-0 self-loops, (node, BIGINT) shuffles per round;
    // the inter-sweep handoff is a broadcast 1-ROW argmax join, never
    // a collect; the final readout crossJoins three 1-row frames.
    "q_diameter" -> ((s, d) => {
      val directed = tradeBase(s, d)
      val edges = directed
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val nodes = edges.select(col("src")).distinct().persist()
      val adj = edges.select(col("src"), col("dst"), lit(1L).as("w"))
        .unionByName(nodes.select(col("src"), col("src").as("dst"), lit(0L).as("w")))
        // pre-partitioned on the join key (r15): every relaxation round
        // equi-joins on src, so the persisted frame is shuffled ONCE
        // here instead of once per round - each round then moves only
        // the node-grain state vector
        .repartition(col("src"))
        .persist()
      def sweep(seed: DataFrame): DataFrame = {
        var dist = seed.select(col("node_id"), lit(0L).as("dist"))
        for (_ <- 1 to Iters) {
          dist = adj
            // shuffle_hash on the node-grain state vector (r15 — see q_bfs)
            .join(dist.hint("shuffle_hash"), adj("src") === dist("node_id"))
            .select(col("dst").as("node_id"), (col("dist") + col("w")).as("dist"))
            .groupBy(col("node_id"))
            .agg(min(col("dist")).as("dist"))
        }
        dist
      }
      val start = nodes.agg(min(col("src")).as("node_id"))
      // ckpt the 1-row far1 page (r16): it seeds the SECOND sweep and
      // rides the final report's broadcast — unmaterialized, the whole
      // first 3-round sweep executed twice.
      val far1 = sweep(start)
        .agg(max(expr("dist * 4294967296 + (4294967295 - node_id)")).as("pk"))
        .select(expr("4294967295 - pk % 4294967296").as("node_id"),
          expr("pk DIV 4294967296").as("ecc1"))
        .ckpt()
      val far2 = sweep(far1.select(col("node_id")))
        .agg(count(lit(1)).as("n_reached"),
          max(expr("dist * 4294967296 + (4294967295 - node_id)")).as("pk"))
        .select(col("n_reached"),
          expr("4294967295 - pk % 4294967296").as("far2_node"),
          expr("pk DIV 4294967296").as("diameter_lb"))
      start.select(col("node_id").as("start_node"))
        .crossJoin(broadcast(far1.select(col("node_id").as("far1_node"), col("ecc1"))))
        .crossJoin(broadcast(far2))
        .select(col("start_node"), col("far1_node"), col("ecc1"),
          col("far2_node"), col("diameter_lb"), col("n_reached"))
    }),

    // HITS hubs & authorities (Kleinberg 1999) over the BIPARTITE
    // trade graph — the natural centrality for two-role graphs where
    // PageRank's single score conflates the roles: customers are hubs
    // (they point at suppliers), suppliers are authorities. Two full
    // mutual-reinforcement rounds, L∞-normalized in FIXED-POINT
    // integers: auth'(sp) = Σ_{c∼sp} hub(c) rescaled so max = 10⁶
    // (truncating division — all scores non-negative, where Spark DIV
    // ≡ DuckDB //), then hub'(c) = Σ_{sp∼c} auth'(sp) rescaled the
    // same way. Max-normalization replaces the float L2 norm (sqrt
    // would break exactness) and is the standard integer-HITS variant.
    //
    // Scale posture: rides the SAME persisted bipartite frame as
    // q_butterfly/q_linkpred ([[tradeBipartite]]); each half-round is
    // one equi-join of the (node, BIGINT) score vector against it plus
    // one partial+final sum — shuffles carry id/score pairs only. The
    // per-round max is a 1-row aggregate attached by broadcast cross
    // join, never a collect. Overflow bound: score ≤ 10⁶, degree ≤
    // |other side|, so raw ≤ 10⁶·deg and raw·10⁶ ≤ 10¹²·deg ≪ 2⁶³ for
    // any realistic catalog; at larger scales the rescale constant is
    // the knob.
    "q_hits" -> ((s, d) => {
      // persisted like q_pagerank's adj: the bipartite frame feeds all
      // four half-round joins plus the hub seed — without it each join
      // re-evaluates the edge build when the session cache is cold
      val b = tradeBipartite(s, d).persist()
      // Each half-round references its raw-sum frame twice (the max
      // aggregate and the rescale base); materializing it first
      // (localCheckpoint — the clusterLabels contract) keeps lineage
      // LINEAR across rounds — without it the double reference
      // compounds to 2^(half-rounds) re-evaluations of the whole
      // chain. The frames are node-scale (score vectors), never data-
      // scale.
      def renorm(raw0: DataFrame, key: String, v: String): DataFrame = {
        val raw = raw0.ckpt()
        val m = raw.agg(max(col(v)).as("mx"))
        raw.crossJoin(broadcast(m))
          .select(col(key), expr(s"($v * 1000000) DIV mx").as(v))
      }
      var auth: DataFrame = null
      var hub: DataFrame = b.select(col("c")).distinct()
        .select(col("c"), lit(1000000L).as("h"))
      for (_ <- 1 to 2) {
        auth = renorm(
          b.join(hub, "c").groupBy(col("sp")).agg(sum(col("h")).as("a")),
          "sp", "a")
        hub = renorm(
          b.join(auth, "sp").groupBy(col("c")).agg(sum(col("a")).as("h")),
          "c", "h")
      }
      hub.select(lit("hub").as("role"), col("c").as("id"), col("h").as("score_micro"))
        .unionByName(auth.select(
          lit("authority").as("role"), col("sp").as("id"), col("a").as("score_micro")))
        .orderBy(col("role"), col("score_micro").desc, col("id"))
    }),

    // Newman MODULARITY of the label-propagation communities — the
    // eval harness for q_community (the q_auc/q_ndcg posture: every
    // unsupervised step ships with its quality score): per community c,
    // contrib_c = in_c/m − (deg_c/2m)², reported per community in
    // micro-units plus the EXACT integer numerator num_c =
    // 2·m·in2_c − deg_c² (in2_c counts both-direction internal edge
    // entries = 2·in_c, m = undirected edge count) so Q = Σnum_c/4m²
    // is reconstructable without float loss. num_c can be NEGATIVE
    // (hub-heavy communities), so the micro conversion uses the
    // engine-portable floor division recipe (q_pca_power).
    //
    // Scale posture: label attach = two co-partitioned id joins on the
    // persisted edge frame; everything downstream aggregates at
    // community grain; m is a 1-row broadcast. Overflow bound:
    // |num_c|·10⁶ ≤ 2·m·2m·10⁶ — fine to ~10⁹ directed entries; past
    // that the micro conversion needs a coarser unit (documented knob).
    "q_modularity" -> ((s, d) => {
      val edges = undirected(s, d)
      val lab = lpLabels(s, d)
      // ONE aggregate over the label-attached edge entries yields BOTH
      // community moments: each directed entry contributes 1 to its
      // source community's degree sum, and 1 to in2 iff both endpoints
      // share the label — so deg_sum = count(*), in2 = conditional sum,
      // no separate per-node degree rollup and no second label attach.
      // Every node has ≥ 1 edge, so every community appears (no
      // left-join/coalesce needed for internal-edge-free communities).
      val el = edges
        .join(lab.select(col("node_id").as("src"), col("label").as("lsrc")), "src")
        .join(lab.select(col("node_id").as("dst"), col("label").as("ldst")), "dst")
      val moments = el.groupBy(col("lsrc").as("community"))
        .agg(count(lit(1)).as("deg_sum"),
          sum(when(col("lsrc") === col("ldst"), 1L).otherwise(0L)).as("in2"))
      val nNodes = lab.groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_nodes"))
      val m = edges.agg(expr("count(*) DIV 2").as("m"))
      def fdiv(a: String, n: String) = s"(($a) - ((($a) % ($n) + ($n)) % ($n))) DIV ($n)"
      nNodes
        .join(moments, Seq("community"))
        .crossJoin(broadcast(m))
        .withColumn("num", expr("2 * m * in2 - deg_sum * deg_sum"))
        .withColumn("contrib_micro", expr(fdiv("num * 1000000", "4 * m * m")))
        .select(col("community"), col("n_nodes"), col("in2"), col("deg_sum"),
          col("num"), col("contrib_micro"))
        .orderBy(col("community"))
    }),

    // One synchronous LOUVAIN local-move round (Blondel et al. 2008)
    // REFINING the label-propagation communities — the
    // modularity-ascent move step q_modularity only scores: every node
    // evaluates, against the CURRENT partition, the exact modularity
    // gain of relocating into each neighboring community
    //
    //   Δnum(i: a→b) = 2m·(k_{i,b} − k_{i,a∖i}) − k_i·(Σtot_b − Σtot_a + k_i)
    //
    // (the standard ΔQ scaled by 2m² — all-integer, so both engines
    // agree exactly), adopts the argmax (deterministic tie-break:
    // smallest community id) iff the gain is strictly positive, else
    // stays. Synchronous evaluation — all nodes score the same frozen
    // partition, then all move — is the deterministic distributed
    // variant (classic sequential Louvain is visit-order-dependent,
    // which no parallel engine can replay).
    //
    // Scale posture: ONE edge-grain aggregate (per-(node, neighbor-
    // community) counts with map-side partials — celebrity reducers
    // bounded like q_community's mode pick) feeding node- and
    // community-grain frames; Σtot and m are community-scale /
    // 1-row broadcasts. Overflow: |Δnum| ≤ 2m·k_i + k_i·2m ≤ 4m² —
    // safe to ~10⁹ directed entries, same budget as q_modularity.
    "q_louvain" -> ((s, d) => {
      val edges = undirected(s, d)
      val lab = lpLabels(s, d)
      val m = edges.agg(expr("count(*) DIV 2").as("m"))
      val el = edges
        .join(lab.select(col("node_id").as("src"), col("label").as("a")), "src")
        .join(lab.select(col("node_id").as("dst"), col("label").as("c")), "dst")
      // k_i and k_{i,a} in one pass over the label-attached entries;
      // persisted — consumed by Σtot, the candidate join, and the
      // final node catalog (the q_bfs double-consumption lesson).
      val nodeAgg = el.groupBy(col("src").as("node_id"), col("a"))
        .agg(count(lit(1)).as("k"),
          sum(when(col("a") === col("c"), 1L).otherwise(0L)).as("kia"))
        .persist()
      val sig = nodeAgg.groupBy(col("a").as("community")).agg(sum(col("k")).as("stot"))
      val kib = el.filter(col("c") =!= col("a"))
        .groupBy(col("src").as("node_id"), col("a"), col("c"))
        .agg(count(lit(1)).as("kb"))
      val cand = kib
        .join(nodeAgg.select(col("node_id"), col("k"), col("kia")), "node_id")
        .join(sig.select(col("community").as("a"), col("stot").as("stot_a")), "a")
        .join(sig.select(col("community").as("c"), col("stot").as("stot_b")), "c")
        .crossJoin(broadcast(m))
        .withColumn("gain_num", expr("2 * m * (kb - kia) - k * (stot_b - stot_a + k)"))
      val best = cand
        .groupBy(col("node_id"))
        .agg(max(struct(col("gain_num"), (-col("c")).as("nb"))).as("mx"))
        .select(col("node_id"), col("mx.gain_num").as("gain_num"), (-col("mx.nb")).as("b"))
      nodeAgg.select(col("node_id"), col("a"))
        .join(best, Seq("node_id"), "left")
        .select(col("node_id"),
          when(col("node_id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
          col("a").as("old_community"),
          when(col("gain_num") > 0, col("b")).otherwise(col("a")).as("new_community"),
          coalesce(col("gain_num"), lit(0L)).as("best_gain_num"),
          when(col("gain_num") > 0, 1L).otherwise(0L).as("moved"))
        .orderBy(col("node_id"))
    }),

    // Weighted single-source shortest paths — the MIN-PLUS-semiring
    // generalization of q_bfs (Bellman-Ford, 4 unrolled relaxation
    // rounds, so a 3-hop cheap path can beat a 1-hop expensive one).
    // Edge weights derive MAP-SIDE from the shared persisted
    // [[tradeBase]] frame (w = 1 + (src·dst + src + dst) mod 9 —
    // symmetric by construction, so both directions of an undirected
    // edge agree) instead of re-joining lineitem for a data-borne
    // weight: the query's subject is the semiring relaxation, and the
    // derived weight keeps the whole graph family on the ONE cached
    // edge build. Per-node state is the PACKED lexicographic pair
    // cost·100 + hops (hops ≤ 4 rounds, cost ≤ 4·9 = 36 — collision-
    // free by range), so one BIGINT min() is simultaneously "least
    // cost, then fewest hops among least-cost paths" — associative
    // and partial-aggregation-safe where a two-column argmin would
    // need a struct aggregate in every partial.
    //
    // Scale posture: identical to q_bfs — the persisted adjacency
    // stays hash-partitioned on src; each round is one equi-join of
    // the (node_id, BIGINT) state vector against it plus a min-
    // aggregate, shuffling id/int pairs only; unreached nodes never
    // enter the vector; the keep-current-state half of the relaxation
    // rides the SAME join via weight-0 self-loops folded into the
    // adjacency (single consumption of the state per round).
    "q_sssp" -> ((s, d) => {
      val directed = tradeBase(s, d)
      val edges = directed
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"),
          (lit(1L) + (col("e.src") * col("e.dst") + col("e.src") + col("e.dst")) % 9).as("w"))
      val nodes = edges.select(col("src")).distinct().persist()
      val adj = edges
        .unionByName(nodes.select(col("src"), col("src").as("dst"), lit(0L).as("w")))
        .repartition(col("src")) // shuffled once, not once per round (r15)
        .persist()
      var state = nodes
        .filter(col("src") % 200 === 0)
        .select(col("src").as("node_id"), lit(0L).as("pk"))
      for (_ <- 1 to 4) {
        state = adj
          // shuffle_hash on the node-grain state vector (r15 — see q_bfs)
          .join(state.hint("shuffle_hash"), adj("src") === state("node_id"))
          .select(col("dst").as("node_id"),
            (col("pk") + col("w") * 100 +
              when(col("w") > 0, 1L).otherwise(0L)).as("pk"))
          .groupBy(col("node_id"))
          .agg(min(col("pk")).as("pk"))
      }
      state
        .select(col("node_id"),
          when(col("node_id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
          expr("pk DIV 100").as("dist_w"),
          (col("pk") % 100).as("hops"))
        .orderBy(col("dist_w"), col("node_id"))
    }),

    // Harmonic closeness centrality from a landmark set (Boldi &
    // Vigna 2014's harmonic variant — sums 1/d so disconnected pairs
    // contribute 0 instead of poisoning the mean) — the MULTI-SOURCE
    // tagged-frontier generalization of q_bfs: one BFS state table
    // keyed (landmark, node) relaxes all landmarks simultaneously in
    // the same 3 unrolled rounds, instead of one BFS job per source.
    // harm_micro(v) = Σ over landmarks l ≠ v reached of 10⁶ DIV
    // d(l, v) — truncating division on positive integers, exact in
    // both engines.
    //
    // Scale posture: the landmark panel is FIXED-size — exactly
    // ClosenessPanelL = 32 nodes, the top-32 by a deterministic
    // hash-rank (src·2654435761 mod 1000003, ties by id; a Knuth-style
    // multiplicative mix both engines compute identically in BIGINT) —
    // so the tagged-frontier state is O(L·n) with L constant, the
    // standard pivot-closeness design. (Round 9 seeded every node with
    // src ≡ 0 mod 200: |landmarks| = n/200 made the state O(n²/200) —
    // quadratic at 100×.) The panel selection is a TakeOrdered over the
    // node catalog, never a full sort; the frontier shuffles (BIGINT,
    // BIGINT, BIGINT) triples on the same src-partitioned persisted
    // adjacency as q_bfs/q_sssp (weight-0 self-loops, one state
    // consumption per round). Exact all-pairs closeness is quadratic
    // and stays out of reach by design; the hash-rank panel is
    // deterministic and oracle-replayable.
    "q_closeness" -> ((s, d) => {
      val edges = undirected(s, d)
      val nodes = edges.select(col("src")).distinct().persist()
      val adj = edges.select(col("src"), col("dst"), lit(1L).as("w"))
        .unionByName(nodes.select(col("src"), col("src").as("dst"), lit(0L).as("w")))
        // pre-partitioned on the join key (r15): every relaxation round
        // equi-joins on src, so the persisted frame is shuffled ONCE
        // here instead of once per round - each round then moves only
        // the node-grain state vector
        .repartition(col("src"))
        .persist()
      var dist = nodes
        .orderBy(expr("(src * 2654435761) % 1000003"), col("src"))
        .limit(ClosenessPanelL)
        .select(col("src").as("lm"), col("src").as("node_id"), lit(0L).as("dist"))
      for (_ <- 1 to Iters) {
        dist = adj
          // shuffle_hash on the node-grain state vector (r15): SMJ
          // re-sorted the persisted adjacency every round (q_diameter
          // task time 430 -> 185 CPU-s at sf0.1 with hash joins)
          .join(dist.hint("shuffle_hash"), adj("src") === dist("node_id"))
          .select(col("lm"), col("dst").as("node_id"), (col("dist") + col("w")).as("dist"))
          .groupBy(col("lm"), col("node_id"))
          .agg(min(col("dist")).as("dist"))
      }
      dist
        .filter(col("dist") > 0)
        .groupBy(col("node_id"))
        .agg(count(lit(1)).as("n_landmarks"),
          sum(expr("1000000 DIV dist")).as("harm_micro"))
        .select(col("node_id"),
          when(col("node_id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
          col("n_landmarks"), col("harm_micro"))
        .orderBy(col("harm_micro").desc, col("node_id"))
    }),

    // Borůvka minimum-spanning-forest rounds (the canonical
    // DISTRIBUTED MST algorithm — every component picks its minimum
    // outgoing edge in parallel, components merge, repeat; Kruskal's
    // global sorted sweep is inherently sequential and does not
    // distribute). Two unrolled rounds over the weighted undirected
    // trade graph (same symmetric derived weights as q_sssp; tradeBase
    // emits each undirected edge once — src even / dst odd — so no
    // canonicalization join is needed). Edges carry a PACKED total
    // order w·2⁴²+u·2²¹+v (ids < 2²¹ at bench scale — the pack radix
    // is the documented knob beyond that): the order is STRICT (each
    // (u,v) appears once), which is exactly the classic acyclicity
    // guarantee — under a strict edge order the per-component argmin
    // choices can never close a cycle, so each round's chosen set is a
    // forest and the union across rounds is the unique MST-forest
    // prefix for this order. Per round: tag each edge with its
    // endpoints' component labels (two joins against the node-scale
    // label vector), drop intra-component edges, per-component
    // min(struct(pk, cu, cv)) — one aggregate, no window — then merge
    // the chosen component-graph via [[ccRoots]] (the converged
    // alternating-star engine NearDup.clusterLabels uses), and fold
    // the new root labels into the label vector.
    //
    // Scale posture: shuffles carry (BIGINT id, BIGINT pk) pairs and
    // node-scale label vectors — never the data-scale fact tables; the
    // component graph handed to ccRoots is ≤ one chosen edge per
    // component, halving (at least) the component count per round; the
    // label vector is localCheckpoint-ed per round because both
    // endpoint joins consume it (the q_bfs double-consumption lesson).
    "q_mst" -> ((s, d) => {
      val p = 1L << 21
      // r16 NOTE: repartition(u)+persist with shuffle_hash hints on the
      // label-vector joins (the BFS-family pattern) was measured SLOWER
      // here (11.3 s vs 8.0 s): AQE already BROADCASTS the bounded
      // label vector, so the un-hinted joins never shuffle the edge
      // frame at all and the hints forced one. Left in the measured
      // form.
      val ew = tradeBase(s, d).select(
          col("src").as("u"), col("dst").as("v"),
          (lit(1L) + (col("src") * col("dst") + col("src") + col("dst")) % 9).as("w"))
        .persist()
      val nodes = ew.select(explode(array(col("u"), col("v"))).as("n")).distinct()
      var comp = nodes.select(col("n"), col("n").as("c")).ckpt()
      var out: DataFrame = null
      for (r <- 1 to 2) {
        val tagged = ew
          .join(comp.select(col("n").as("u"), col("c").as("cu")), Seq("u"))
          .join(comp.select(col("n").as("v"), col("c").as("cv")), Seq("v"))
          .filter(col("cu") =!= col("cv"))
          .select(col("cu"), col("cv"),
            (col("w") * p * p + col("u") * p + col("v")).as("pk"))
        val sel = tagged
          .select(explode(array(col("cu"), col("cv"))).as("comp"),
            struct(col("pk"), col("cu"), col("cv")).as("st"))
          .groupBy(col("comp")).agg(min(col("st")).as("st"))
          .select(col("st.pk").as("pk"), col("st.cu").as("cu"), col("st.cv").as("cv"))
          .ckpt() // consumed by the chosen output AND the merge
        val chosen = sel.select(col("pk")).distinct()
          .select(lit(r.toLong).as("round"),
            expr(s"pk DIV ${p * p}").as("w"),
            expr(s"(pk DIV $p) % $p").as("u"),
            (col("pk") % p).as("v"))
        out = if (out == null) chosen else out.unionByName(chosen)
        val merged = ccRoots(sel.select(col("cu").as("u"), col("cv").as("v")).distinct())
        comp = comp
          .join(merged.select(col("u").as("c"), col("v").as("newc")), Seq("c"), "left")
          .select(col("n"), coalesce(col("newc"), col("c")).as("c"))
          .ckpt()
      }
      out.select(col("round"), col("u"), col("v"), col("w"))
        .orderBy(col("round"), col("u"), col("v"))
    }),

    // MAXIMAL MATCHING by parallel local-minimum symmetry breaking
    // (the deterministic Israeli-Itai/Luby shape): an edge joins the
    // matching iff its id (src·2³² + dst — unique, collision-free
    // under the node namespacing) is the minimum among ALL edges
    // touching either endpoint; matched endpoints leave the graph and
    // the rounds repeat. Every round is two hash aggregates (min-edge
    // per endpoint) + two joins + two anti-joins — (node, BIGINT)
    // shuffles only, no windows, no driver state; the classic result
    // is O(log n) expected rounds, unrolled here to 3 (the declared
    // contract, the q_bfs/Iters posture). Output: per-round matched
    // count and surviving-edge count — the convergence trace.
    "q_matching" -> ((s, d) => {
      var e = tradeBase(s, d)
        .select(col("src").as("a"), col("dst").as("b"),
          expr("src * 4294967296 + dst").as("eid"))
        .ckpt() // rounds peel it in place
      var out: DataFrame = null
      for (r <- 1 to Iters) {
        val byEnd = e.select(explode(array(
            struct(col("a").as("v"), col("eid")),
            struct(col("b").as("v"), col("eid")))).as("p"))
          .select(col("p.v").as("v"), col("p.eid").as("eid"))
          .groupBy(col("v")).agg(min(col("eid")).as("emin"))
        val sel = e
          .join(byEnd.select(col("v").as("a"), col("emin").as("ea")), Seq("a"))
          .join(byEnd.select(col("v").as("b"), col("emin").as("eb")), Seq("b"))
          .filter(col("eid") === col("ea") && col("eid") === col("eb"))
          .select(col("a"), col("b"), col("eid"))
          .ckpt() // matched set: counted AND subtracted
        val mv = sel.select(explode(array(col("a"), col("b"))).as("v")).distinct()
        e = e.join(mv.select(col("v").as("a")), Seq("a"), "left_anti")
          .join(mv.select(col("v").as("b")), Seq("b"), "left_anti")
          .ckpt()
        val row = sel.agg(count(lit(1)).as("n_matched"))
          .crossJoin(e.agg(count(lit(1)).as("n_left")))
          .select(lit(r.toLong).as("round"), col("n_matched"), col("n_left"))
        out = if (out == null) row else out.union(row)
      }
      out.orderBy(col("round"))
    }),

    // LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz 1998) per node of
    // the co-purchase graph — q_triangle's global census localized:
    // cc(v) = 2·tri(v)/(deg(v)(deg(v)−1)); tri2 = 2·tri(v) keeps the
    // exact micro grid under truncating division (all non-negative).
    // Top-20 page by (cc, node) — TakeOrdered, never a full sort.
    //
    // Scale posture: tri(v) comes from the ORIENTED q_triangle census
    // directly — triangle_credits emits each discovered triangle's 3
    // corners map-side off the degree-oriented adjacency (out-degree
    // O(√2m)), one hash aggregate by node. Degree is a COUNT on the
    // exploded distinct edge grain. No undirected collect_set and no
    // full-neighbor array_intersect anywhere — the round-9 unoriented
    // support pass shipped unbounded celebrity-node arrays on both
    // join sides at O(Σ deg²) intersect cost; this plan's only arrays
    // are the oriented ones.
    "q_local_cc" -> ((s, d) => {
      val edges = copurchaseEdges(s, d)
      val undE = edges
        .select(explode(array(
          struct(col("a").as("v"), col("b").as("w")),
          struct(col("b").as("v"), col("a").as("w")))).as("p"))
        .select(col("p.v").as("v"), col("p.w").as("w"))
        .ckpt() // degree AND both orientation sides share it
      val deg = undE.groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .ckpt() // node-catalog-sized; readout + 2 broadcast sides
      val oadj = undE
        .join(broadcast(deg.select(col("v"), col("deg").as("dv"))), Seq("v"))
        .join(broadcast(deg.select(col("v").as("w"), col("deg").as("dw"))), Seq("w"))
        .filter(col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w")))
        .groupBy(col("v")).agg(collect_set(col("w")).as("nbrs"))
        .ckpt() // consumed twice: explode side AND the t-keyed attach
      val tri = oadj
        .select(col("v").as("s"), col("nbrs").as("ns"), explode(col("nbrs")).as("t"))
        // shuffle_hash: SMJ would sort array-payload rows on both
        // sides — the orientedSupport finding (task time 72 → 44 CPU·s
        // for this query at sf0.1)
        .join(oadj.select(col("v").as("t"), col("nbrs").as("nt")).hint("shuffle_hash"),
          Seq("t"))
        .select(explode(expr(
          "triangle_credits(s, t, array_intersect(ns, nt))")).as("cr"))
        .groupBy(col("cr.part").as("v")).agg(sum(col("cr.n")).as("tri"))
      deg.join(tri, Seq("v"), "left")
        .select(col("v"), col("deg"),
          coalesce(col("tri") * 2, lit(0L)).as("tri2"))
        .filter(col("deg") >= 2)
        .withColumn("cc_micro", expr("(tri2 * 1000000) DIV (deg * (deg - 1))"))
        .orderBy(col("cc_micro").desc, col("v"))
        .limit(20)
        .select(col("v").as("node_id"), col("deg"), col("tri2"), col("cc_micro"))
    }),

    // SINGLE-SOURCE BETWEENNESS dependency (one Brandes 1977/2001
    // accumulation from the min-id node, hop-bounded to 3 — the
    // declared contract): forward BFS carries exact shortest-path
    // COUNTS σ (σ(v) = Σ σ over predecessors, one join + aggregate
    // per level, anti-join keeps levels disjoint), then the backward
    // pass folds δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w)) down the DAG. δ is
    // carried in integer MICRO with per-edge truncating division —
    // every term is non-negative and exact, so the sum is order-
    // independent and both engines agree bit-for-bit (the house
    // fixed-point discipline; a float δ would be shuffle-order
    // dependent). Per level: (node, BIGINT) shuffles only. Top-20
    // dependency page — the "which nodes sit on this hub's shortest
    // paths" readout.
    "q_betweenness" -> ((s, d) => {
      val e = undirected(s, d).ckpt()
      val l0 = e.agg(min(col("src")).as("s0"))
        .select(col("s0").as("node"), lit(1L).as("sigma"))
        .ckpt() // 1 row
      def expand(front: DataFrame, visited: DataFrame): DataFrame =
        e.join(front.select(col("node").as("src"), col("sigma")), "src")
          .select(col("dst").as("node"), col("sigma"))
          .join(visited, Seq("node"), "left_anti")
          .groupBy(col("node")).agg(sum(col("sigma")).as("sigma"))
      val l1 = expand(l0, l0.select(col("node"))).ckpt()
      val vis1 = l0.select(col("node")).union(l1.select(col("node"))).ckpt()
      val l2 = expand(l1, vis1).ckpt()
      val vis2 = vis1.union(l2.select(col("node"))).ckpt()
      val l3 = expand(l2, vis2).ckpt()
      def pull(lower: DataFrame, upper: DataFrame): DataFrame = {
        val terms = e.select(col("src").as("node"), col("dst").as("wnode"))
          .join(lower.select(col("node"), col("sigma")), "node")
          .join(upper.select(col("node").as("wnode"), col("sigma").as("wsig"),
            col("delta").as("wdelta")), "wnode")
          .groupBy(col("node"))
          .agg(sum(expr("(sigma * (1000000 + wdelta)) DIV wsig")).as("dsum"))
        lower.join(terms, Seq("node"), "left")
          .select(col("node"), col("sigma"), coalesce(col("dsum"), lit(0L)).as("delta"))
      }
      val d3 = l3.withColumn("delta", lit(0L))
      val d2 = pull(l2, d3).ckpt()
      val d1 = pull(l1, d2)
      d1.withColumn("dist", lit(1L))
        .union(d2.withColumn("dist", lit(2L)))
        .union(d3.select(col("node"), col("sigma"), col("delta")).withColumn("dist", lit(3L)))
        .select(col("node").as("node_id"), col("dist"), col("sigma"),
          col("delta").as("delta_micro"))
        .orderBy(col("delta_micro").desc, col("node_id"))
        .limit(20)
    }),

    // STABLE MATCHING (Gale & Shapley 1962, synchronous deferred
    // acceptance) over the customer–supplier spend graph — the
    // matching-MARKET member of the assignment family (q_matching
    // maximizes cardinality blind to preference; this respects BOTH
    // sides' preferences so no blocking pair survives among processed
    // proposals): customers propose down their top-3 suppliers by
    // exact pair spend, each supplier holds ONE best suitor by the
    // packed (spend, −customer) order — max spend, then min id, one
    // aggregate, no window — displacing incumbents back into the
    // proposal pool. Three unrolled synchronous rounds (the declared
    // contract, the q_bfs/Iters posture): per round one preference
    // join at FREE-customer grain, one supplier-grain packed argmax,
    // two broadcastable state joins; state is (customer, ptr,
    // engagement) — node-scale, localCheckpoint'd per round. All
    // exact BIGINT; id < 2²¹ packing radix is the documented knob.
    "q_stable_match" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val spend = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .agg(sum(col("cents")).as("spend_c"))
      val prefs = spend.withColumn("rank",
          row_number().over(Window.partitionBy(col("c"))
            .orderBy(col("spend_c").desc, col("sp"))).cast("long"))
        .filter(col("rank") <= 3)
        .ckpt() // every round's proposal join reads it
      var st = prefs.select(col("c")).distinct()
        .select(col("c"), lit(1L).as("ptr"),
          lit(null).cast("long").as("eng_sp"), lit(null).cast("long").as("eng_spend"))
        .ckpt()
      for (_ <- 1 to Iters) {
        val props = st.filter(col("eng_sp").isNull && col("ptr") <= 3)
          .select(col("c"), col("ptr"))
          .join(prefs, Seq("c"))
          .filter(col("ptr") === col("rank"))
          .select(col("c"), col("sp"), col("spend_c"))
          .ckpt() // read by the argmax AND the ptr update
        val cand = props
          .unionByName(st.filter(col("eng_sp").isNotNull)
            .select(col("c"), col("eng_sp").as("sp"), col("eng_spend").as("spend_c")))
        val winners = cand.groupBy(col("sp"))
          .agg(max(expr("spend_c * 2097152 + (2097151 - c)")).as("pk"))
          .select(col("sp"), expr("2097151 - pk % 2097152").as("c"),
            expr("pk DIV 2097152").as("w_spend"))
        st = st
          .join(props.select(col("c")).distinct().withColumn("pnow", lit(1L)), Seq("c"), "left")
          .join(winners.select(col("c"), col("sp").as("w_sp"), col("w_spend")), Seq("c"), "left")
          .select(col("c"),
            expr("CASE WHEN pnow = 1 THEN ptr + 1 ELSE ptr END").as("ptr"),
            col("w_sp").as("eng_sp"), col("w_spend").as("eng_spend"))
          .ckpt()
      }
      st.filter(col("eng_sp").isNotNull)
        .select(col("c"), col("eng_sp").as("sp"), col("eng_spend").as("spend_c"))
        .orderBy(col("c"))
    })
  )

  /** Converged connected-components labels for an arbitrary (u, v)
    * BIGINT edge frame: [[alternatingStar]] round pairs on the
    * geometric chunk schedule (the NearDup.clusterLabels budget
    * policy — shallow graphs pay 3 pairs + one probe, adversarial
    * chains grow into O(log² n) within a constant factor), asserted
    * converged, returning the star itself: (u = node, v = component
    * minimum); roots and singletons carry no row, so callers
    * left-join + coalesce.
    */
  private[graft] def ccRoots(e0: DataFrame): DataFrame = {
    val e = e0.filter(col("u") =!= col("v")).ckpt()
    var chunk = 3
    var total = chunk
    var star = alternatingStar(e, chunk).ckpt()
    var converged = starConverged(star)
    while (!converged && total < 96) {
      chunk *= 2
      star = alternatingStar(star, chunk).ckpt()
      total += chunk
      converged = starConverged(star)
    }
    require(converged, s"ccRoots: components did not converge in $total round pairs")
    star
  }

  private val KCoreK = 8

  /** `pairs` large-star/small-star round pairs (Kiveris et al. 2014)
    * over an undirected edge set given one direction per edge as
    * (u, v) BIGINT columns — the O(log² n)-round connected-components
    * engine shared by q_concomp (fixed 3 pairs, oracle-replayed) and
    * NearDup.clusterLabels (count-derived budget + convergence
    * assertion). Per half-round, at each node x with neighborhood Γ(x)
    * and m = min(Γ(x) ∪ {x}): LARGE-STAR rewires every strictly-larger
    * neighbor to m; SMALL-STAR rewires every ≤-neighbor and x itself
    * to m. Fixpoint = one star per component rooted at the component
    * min (see [[starConverged]]).
    *
    * Scale posture (the q_concomp contract, unchanged): each half-round
    * is ONE shuffle — the neighborhood min comes from a whole-partition
    * window over the same x-shuffle the rewire reads — plus one
    * distinct collapsing the rewired multiset, both carrying
    * (BIGINT, BIGINT) edges only; the whole unrolled run is a single
    * linear lineage with NO persists and NO driver actions (callers
    * add their own checkpoint/assertion cadence).
    */
  private[graft] def alternatingStar(base: DataFrame, pairs: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    def bothDirs(e: DataFrame): DataFrame =
      e.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
    // r16 OPTIMIZATION (guide §2.4, measured A/B at sf0.1): the
    // LARGE-star's output distinct() (one hash(u,v) exchange per
    // half-round) is replaced by an input-side dropDuplicates riding
    // the small-star window's own hash(u) exchange — equal (u, v)
    // pairs share u, so the clustering requirement is already
    // satisfied and the dedup is exchange-free; the window min over a
    // multiset equals the min over its set, so every m and every
    // rewired edge SET is identical. The SMALL-star's output distinct
    // is KEPT: its per-row (u, m) self pointers are hub-multiplicity
    // rows whose map-side partial aggregation shrink is worth more
    // than the exchange it costs (a full merge of both dedups measured
    // SLOWER: q_concomp 5.2 → 5.8 s). Hybrid measured: q_concomp
    // 5.5 → 5.1 s, producer:cluster_labels 4.1 → 3.2 s, q_dbscan
    // 8.7 → 8.2 s; 3 exchanges per round pair instead of 4.
    var edges = base
    for (_ <- 1 to pairs) {
      // Large-star: per-u neighborhood min from the window, rewire
      // strictly-larger neighbors to it. The input-side dedup rides
      // the window's own exchange (free — m is per-u, identical
      // across dupes); the OUTPUT dedup is deferred to the small-star
      // window's exchange (see above).
      val el = bothDirs(edges)
        .withColumn("m", least(col("u"), min(col("v")).over(w)))
        .dropDuplicates("u", "v")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // Small-star: both branches emitted from one generator —
      // (v, m) for ≤-neighbors plus the (u, m) self pointer (the
      // per-row duplicate self pointers vanish in the distinct's
      // map-side partial aggregation); self-loops drop.
      edges = bothDirs(el)
        .withColumn("m", least(col("u"), min(col("v")).over(w)))
        .dropDuplicates("u", "v")
        .select(explode(when(col("v") <= col("u"),
            array(struct(col("v").as("u"), col("m").as("v")),
              struct(col("u"), col("m").as("v"))))
          .otherwise(array(struct(col("u"), col("m").as("v"))))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    edges
  }

  /** True iff `star` is an [[alternatingStar]] fixpoint: a forest of
    * depth-1 stars, root strictly below its children — (a) every edge
    * points DOWN (v < u), (b) no node is both child and parent (no
    * chains), (c) every child has exactly ONE parent (a node pointing
    * at two smaller roots is NOT converged — the next small-star would
    * merge them). ONE driver action (the three violation probes union
    * into a single isEmpty); callers checkpoint `star` first so the
    * probe doesn't recompute the round lineage.
    */
  /** Probe census (spec instrumentation): every [[starConverged]] call
    * is one driver action, and the steady-state contract of
    * NearDup.clusterLabels is ONE probe total per clustering (the
    * geometric chunk schedule converges on the first 3-pair chunk for
    * shallow dup graphs — GraphLearnSpec pins the census, the measured
    * alternative to a fixed ⌈log² n⌉ unroll, which needs a count job
    * to know n and pays ~14 round pairs where 3 suffice: a 5× at sf0.1). */
  private[graft] val convergenceProbes = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def starConverged(star: DataFrame): Boolean = {
    convergenceProbes.incrementAndGet()
    val down = star.filter(col("v") >= col("u")).select(lit(1L).as("one"))
    val chained = star.as("a").join(star.as("b"), col("a.v") === col("b.u"))
      .select(lit(1L).as("one"))
    val multi = star.groupBy(col("u")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(lit(1L).as("one"))
    down.unionByName(chained).unionByName(multi).isEmpty
  }

  /** Universal hash of (cur, step, dst) for the deterministic walk —
    * plain BIGINT arithmetic valid verbatim in both engines: every
    * intermediate stays < 2⁶² (cur%P < 2³¹, ×1000003 < 2⁵¹, A×(…%P)
    * < 2⁶², load-bearing because DuckDB errors on BIGINT overflow). */
  private def walkHash(step: Int): String = {
    val P = 2147483647L; val A = 1203958717L; val B = 776531401L
    s"($A * (((cur % $P) * 1000003 + $step * 31 + g * 7919 + dst) % $P) + $B) % $P"
  }

  /** `rounds` peel iterations over a BOTH-DIRECTION edge frame (u, v):
    * keep an edge only while both endpoints still have ≥ k incident
    * surviving edges. Symmetry makes both window counts true degrees.
    * Shared by q_kcore and the synthetic-cascade spec. */
  private[graft] def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val wu = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val wv = org.apache.spark.sql.expressions.Window.partitionBy(col("v"))
    var ed = edges
    for (_ <- 1 to rounds) {
      ed = ed
        .withColumn("du", count(lit(1)).over(wu))
        .withColumn("dv", count(lit(1)).over(wv))
        .filter(col("du") >= k && col("dv") >= k)
        .select(col("u"), col("v"))
    }
    ed
  }

  /** Runaway backstop for [[kcorePeelFixpoint]] — the worst case is
    * one edge peeled per round (a path graph cascades its whole length
    * against k = 2), so real inputs converge orders of magnitude
    * earlier; hitting the backstop throws rather than reporting a
    * non-fixpoint as the core (the trussSupportFixpoint stance). */
  private val KCoreMaxRounds = 64

  /** Materialized-peel depth of the q_kcore DuckDB oracle — shared
    * with the query-time depth check so the two can never drift
    * (peeling is idempotent at the fixpoint: extra unrolled peels are
    * no-ops). The trade graph's 8-core settles in 2 rounds at the
    * fixture SFs; the depth leaves headroom for deeper cascades. */
  private[graft] val KCoreOracleUnroll = 6

  /** Oracle unroll depth for q_core_number — the trade graph's
    * h-index iteration settles fast (dense bipartite core); shared
    * with the query-time depth warning like [[KCoreOracleUnroll]]. */
  private[graft] val CoreNumberOracleUnroll = 8
  private val CoreNumberMaxRounds = 64

  /** Every node's core number by h-index iteration (Lü et al. 2016):
    * h₀ = degree; h_{t+1}(v) = H-index of {h_t(w) : w ~ v}; pointwise
    * non-increasing and convergent to coreness, so the Σh probe
    * detects the fixpoint. Returns ((u, h) frame, rounds including the
    * final no-op round). */
  private[graft] def coreNumbers(s: SparkSession, d: String): (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    val base = tradeBase(s, d)
    val edges = base
      .select(explode(array(
        struct(col("src").as("u"), col("dst").as("v")),
        struct(col("dst").as("u"), col("src").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .ckpt() // reused every round
    var h = edges.groupBy(col("u")).agg(count(lit(1)).as("h")).ckpt()
    var sumH = h.agg(sum(col("h"))).head().getLong(0)
    var rounds = 0
    var converged = false
    val wU = Window.partitionBy(col("u")).orderBy(col("hv").desc, col("v"))
    while (!converged && rounds < CoreNumberMaxRounds) {
      val next = edges
        .join(h.select(col("u").as("v"), col("h").as("hv")), "v")
        .withColumn("rn", row_number().over(wU).cast("bigint"))
        .select(col("u"), least(col("rn"), col("hv")).as("cap"))
        .groupBy(col("u")).agg(max(col("cap")).as("h"))
        .ckpt()
      val nextSum = next.agg(sum(col("h"))).head().getLong(0)
      rounds += 1
      converged = nextSum == sumH
      h = next
      sumH = nextSum
    }
    if (!converged)
      throw new IllegalStateException(
        s"coreNumbers hit CoreNumberMaxRounds=$CoreNumberMaxRounds still " +
          "decreasing - raise the backstop")
    (h, rounds)
  }

  /** [[kcorePeel]] run to the TRUE fixpoint: peel until a round
    * removes no edge (count probe per round — metadata on the
    * localCheckpointed frame each round must materialize anyway).
    * Returns the fixpoint frame and the number of peel evaluations
    * INCLUDING the final no-op round that proves convergence. */
  private[graft] def kcorePeelFixpoint(edges: DataFrame, k: Int): (DataFrame, Int) = {
    var ed = edges.ckpt()
    var n = ed.count()
    var rounds = 0
    var converged = false
    while (!converged && rounds < KCoreMaxRounds) {
      val next = kcorePeel(ed, k, 1).ckpt()
      val nn = next.count()
      rounds += 1
      converged = nn == n
      ed = next
      n = nn
    }
    if (!converged)
      throw new IllegalStateException(
        s"kcorePeelFixpoint hit KCoreMaxRounds=$KCoreMaxRounds still " +
          "removing edges - not a fixpoint; raise the backstop")
    (ed, rounds)
  }

  private def prIter(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT e.dst AS node_id, 150000 + CAST(SUM(($prev.pr * 85) // (deg.deg * 100)) AS BIGINT) AS pr
       |  FROM e JOIN $prev ON e.src = $prev.node_id JOIN deg ON e.src = deg.src
       |  GROUP BY e.dst)""".stripMargin

  /** [[prIter]] with the teleport restricted to the seed table `sd` —
    * the TrustRank iteration (restart lands only on seeds). */
  private def tuIter(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT e.dst AS node_id,
       |    CASE WHEN sd.node_id IS NOT NULL THEN 150000 ELSE 0 END
       |      + CAST(SUM(($prev.pr * 85) // (deg.deg * 100)) AS BIGINT) AS pr
       |  FROM e JOIN $prev ON e.src = $prev.node_id JOIN deg ON e.src = deg.src
       |  LEFT JOIN sd ON e.dst = sd.node_id
       |  GROUP BY e.dst, sd.node_id)""".stripMargin

  /** [[prIter]] with token (string) node keys, for TextRank. */
  private def trIter(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT e.dst AS token, 150000 + CAST(SUM(($prev.pr * 85) // (deg.deg * 100)) AS BIGINT) AS pr
       |  FROM e JOIN $prev ON e.src = $prev.token JOIN deg ON e.src = deg.src
       |  GROUP BY e.dst)""".stripMargin

  /** One label-propagation round in DuckDB — the q_community loop's
    * mode-label argmax as a count + row_number. Shared by the
    * q_community and q_modularity oracles. */
  private def lpIter(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT dst AS node_id, label FROM (
       |    SELECT e.dst, $prev.label,
       |      row_number() OVER (PARTITION BY e.dst
       |        ORDER BY count(*) DESC, $prev.label) AS rn
       |    FROM e JOIN $prev ON e.src = $prev.node_id
       |    GROUP BY e.dst, $prev.label)
       |  WHERE rn = 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    // The 3 power-iteration rounds unrolled, each with its
    // mean-removal and qd-renormalization scalars as 1-row CTEs —
    // the exact-integer trajectory replays scalar-for-scalar.
    "q_spectral_cut" -> {
      def fdiv(a: String, n: String) =
        s"(($a) - ((($a) % ($n) + ($n)) % ($n))) // ($n)"
      def renorm(r: Int, src: String): String =
        s"""s$r AS (
           |  SELECT m, greatest(greatest(mx - m, m - mn) // 1000000, 1) AS qd
           |  FROM (SELECT ${fdiv("CAST(SUM(x) AS BIGINT)", "CAST(count(*) AS BIGINT)")} AS m,
           |          min(x) AS mn, max(x) AS mx FROM $src)),
           |x$r AS MATERIALIZED (
           |  SELECT node_id, ${fdiv("x - m", "qd")} AS x FROM $src, s$r)""".stripMargin
      val rounds = (1 to 3).map { r =>
        s"""ns$r AS MATERIALIZED (
           |  SELECT und.dst AS node_id, CAST(SUM(p.x) AS BIGINT) AS nsum
           |  FROM und JOIN x${r - 1} p ON und.src = p.node_id GROUP BY 1),
           |y$r AS MATERIALIZED (
           |  SELECT d.node_id, (dm.dmax - d.deg + 1) * p.x + COALESCE(n.nsum, 0) AS x
           |  FROM degs d JOIN x${r - 1} p USING (node_id)
           |  LEFT JOIN ns$r n USING (node_id), dm),
           |${renorm(r, s"y$r")}""".stripMargin
      }
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |und AS MATERIALIZED (
         |  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
         |degs AS MATERIALIZED (
         |  SELECT src AS node_id, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
         |dm AS (SELECT max(deg) AS dmax FROM degs),
         |x0r AS (SELECT node_id, (node_id % 1000) * 1000 AS x FROM degs),
         |${renorm(0, "x0r")},
         |${rounds.mkString(",\n")},
         |signed AS MATERIALIZED (
         |  SELECT node_id, CASE WHEN x > 0 THEN 1 ELSE 0 END AS pos FROM x3),
         |sides AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         |            CAST(SUM(1 - pos) AS BIGINT) AS n_neg FROM signed),
         |cut AS (
         |  SELECT CAST(SUM(CASE WHEN a.pos <> b.pos THEN 1 ELSE 0 END) AS BIGINT) AS cut_edges,
         |    CAST(count(*) AS BIGINT) AS n_edges
         |  FROM e0 JOIN signed a ON e0.u = a.node_id JOIN signed b ON e0.v = b.node_id)
         |SELECT n_pos, n_neg, cut_edges, n_edges,
         |  (least(n_pos, n_neg) * 1000) // (n_pos + n_neg) AS balance_permille
         |FROM sides, cut""".stripMargin
    },

    "q_pagerank" ->
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT src AS node_id, CAST(1000000 AS BIGINT) AS pr FROM deg),
         |${prIter("r0", "r1")},
         |${prIter("r1", "r2")},
         |${prIter("r2", "r3")}
         |SELECT node_id,
         |  CASE WHEN node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  pr
         |FROM r3 ORDER BY pr DESC, node_id""".stripMargin,

    "q_trustrank" ->
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |sd AS (SELECT c_custkey * 2 AS node_id FROM customer WHERE c_nationkey = 0),
         |r0 AS (
         |  SELECT g.src AS node_id,
         |    CASE WHEN sd.node_id IS NOT NULL THEN CAST(1000000 AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS pr
         |  FROM deg g LEFT JOIN sd ON g.src = sd.node_id),
         |${tuIter("r0", "r1")},
         |${tuIter("r1", "r2")},
         |${tuIter("r2", "r3")}
         |SELECT r3.node_id,
         |  CASE WHEN r3.node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  sd.node_id IS NOT NULL AS is_seed,
         |  r3.pr AS trust
         |FROM r3 LEFT JOIN sd ON r3.node_id = sd.node_id
         |ORDER BY trust DESC, r3.node_id""".stripMargin,

    "q_community" -> {
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS node_id, src AS label FROM e),
         |${lpIter("l0", "l1")},
         |${lpIter("l1", "l2")},
         |${lpIter("l2", "l3")}
         |SELECT node_id,
         |  CASE WHEN node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  label AS community
         |FROM l3 ORDER BY node_id""".stripMargin
    },

    "q_butterfly" -> {
      // Cap mirrored exactly: per supplier keep the 64 lowest customer
      // ids (row_number ORDER BY c ≡ Spark's slice of the sorted-set
      // array), then the id-ordered wedge join replays sorted_pairs.
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |bc AS MATERIALIZED (
         |  SELECT c, sp FROM (
         |    SELECT c, sp, row_number() OVER (PARTITION BY sp ORDER BY c) AS rn
         |    FROM b) q
         |  WHERE rn <= ${Pipeline.BasketCap}),
         |w AS (
         |  SELECT b1.c AS c1, b2.c AS c2
         |  FROM bc b1 JOIN bc b2 ON b1.sp = b2.sp AND b1.c < b2.c),
         |pc AS (
         |  SELECT c1, c2, CAST(count(*) AS BIGINT) AS shared
         |  FROM w GROUP BY c1, c2)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(shared) AS BIGINT) AS n_wedges,
         |  CAST(SUM(shared * (shared - 1)) AS BIGINT) // 2 AS n_butterflies
         |FROM pc""".stripMargin
    },

    "q_linkpred" -> {
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |deg AS MATERIALIZED (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM b GROUP BY c),
         |bc AS MATERIALIZED (
         |  SELECT c, sp FROM (
         |    SELECT c, sp, row_number() OVER (PARTITION BY sp ORDER BY c) AS rn
         |    FROM b) q
         |  WHERE rn <= ${Pipeline.BasketCap}),
         |pc AS MATERIALIZED (
         |  SELECT b1.c AS c1, b2.c AS c2, CAST(count(*) AS BIGINT) AS shared
         |  FROM bc b1 JOIN bc b2 ON b1.sp = b2.sp AND b1.c < b2.c
         |  GROUP BY b1.c, b2.c)
         |SELECT c1, c2, shared, d1.deg AS d1, d2.deg AS d2,
         |  (shared * 1000000) // (d1.deg + d2.deg - shared) AS score_micro
         |FROM pc JOIN deg d1 ON pc.c1 = d1.c JOIN deg d2 ON pc.c2 = d2.c
         |ORDER BY score_micro DESC, shared DESC, c1, c2 LIMIT 50""".stripMargin
    },

    "q_rich_club" -> {
      // The 60-bit md5 fold (the q_manifest idiom) — DuckDB twin of
      // Spark's conv(substring(md5(x), 1, 15), 16, 10).
      def fold(x: String): String =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(range(1, 16), i -> CAST(strpos('0123456789abcdef', " +
          s"substr(md5($x), i, 1)) - 1 AS BIGINT))), (a, b) -> a * 16 + b)"
      // One deterministic swap round: hash-rank, pair 2i−1 with 2i,
      // exchange dst endpoints; an odd leftover passes through.
      def swap(prev: String, r: Int): String =
        s"""h$r AS MATERIALIZED (
           |  SELECT src, dst, ${fold(s"concat_ws(':', src, dst, '$r')")} AS h
           |  FROM $prev),
           |r$r AS MATERIALIZED (
           |  SELECT src, dst, row_number() OVER (ORDER BY h, src, dst) AS rk
           |  FROM h$r),
           |s$r AS MATERIALIZED (
           |  SELECT o.src, COALESCE(e.dst, o.dst) AS dst
           |  FROM (SELECT * FROM r$r WHERE rk % 2 = 1) o
           |  LEFT JOIN (SELECT * FROM r$r WHERE rk % 2 = 0) e ON e.rk = o.rk + 1
           |  UNION ALL
           |  SELECT e.src, o.dst
           |  FROM (SELECT * FROM r$r WHERE rk % 2 = 0) e
           |  JOIN (SELECT * FROM r$r WHERE rk % 2 = 1) o ON e.rk = o.rk + 1)""".stripMargin
      def oneK(k: Long): String =
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE deg > $k) AS n_k,
           |  (SELECT CAST(count(*) AS BIGINT) FROM e0
           |   WHERE src IN (SELECT v FROM deg WHERE deg > $k)
           |     AND dst IN (SELECT v FROM deg WHERE deg > $k)) AS e_k,
           |  (SELECT CAST(count(*) AS BIGINT) FROM s$RichClubSwapRounds
           |   WHERE src IN (SELECT v FROM deg WHERE deg > $k)
           |     AND dst IN (SELECT v FROM deg WHERE deg > $k)) AS e_k_null""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |deg AS MATERIALIZED (
         |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT src AS v FROM e0 UNION ALL SELECT dst AS v FROM e0)
         |  GROUP BY v),
         |${(1 to RichClubSwapRounds)
             .map(r => swap(if (r == 1) "e0" else s"s${r - 1}", r)).mkString(",\n")}
         |SELECT k, n_k, e_k, e_k_null,
         |  CASE WHEN n_k >= 2 THEN (2 * e_k * 1000000) // (n_k * (n_k - 1)) END AS phi_micro,
         |  CASE WHEN e_k_null > 0 THEN (e_k * 1000000) // e_k_null END AS rho_micro
         |FROM ((${oneK(8)}) UNION ALL (${oneK(16)}) UNION ALL (${oneK(32)}))
         |ORDER BY k""".stripMargin
    },

    "q_core_number" -> {
      def hIdx(prev: String, r: Int): String =
        s"""h$r AS MATERIALIZED (
           |  SELECT u, CAST(MAX(LEAST(rn, hv)) AS BIGINT) AS h FROM (
           |    SELECT e.u, p.h AS hv,
           |      CAST(row_number() OVER (PARTITION BY e.u ORDER BY p.h DESC, e.v)
           |        AS BIGINT) AS rn
           |    FROM e JOIN $prev p ON e.v = p.u) q
           |  GROUP BY u)""".stripMargin
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (
         |  SELECT src AS u, dst AS v FROM b
         |  UNION ALL SELECT dst AS u, src AS v FROM b),
         |h0 AS MATERIALIZED (
         |  SELECT u, CAST(count(*) AS BIGINT) AS h FROM e GROUP BY u),
         |${(1 to CoreNumberOracleUnroll).map(r => hIdx(s"h${r - 1}", r)).mkString(",\n")}
         |SELECT h AS core, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(SUM(CASE WHEN u % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
         |  CAST(SUM(CASE WHEN u % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers
         |FROM h$CoreNumberOracleUnroll GROUP BY h ORDER BY core""".stripMargin
    },

    // Mirrors q_linkpred's capped wedge generator; the center weight
    // joins by sp BEFORE the pair aggregate, and the center degree is
    // the UNCAPPED per-sp count (the Spark size(cs)-before-slice).
    "q_adamic_adar" ->
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |sd AS MATERIALIZED (
         |  SELECT sp, CAST(count(*) AS BIGINT) AS deg FROM b GROUP BY sp),
         |w AS MATERIALIZED (
         |  SELECT sp, CAST(floor(1000000 / ln(CAST(deg AS DOUBLE)) + 0.5) AS BIGINT) AS w_micro
         |  FROM sd WHERE deg >= 2),
         |bc AS MATERIALIZED (
         |  SELECT c, sp FROM (
         |    SELECT c, sp, row_number() OVER (PARTITION BY sp ORDER BY c) AS rn
         |    FROM b) q
         |  WHERE rn <= ${Pipeline.BasketCap})
         |SELECT b1.c AS c1, b2.c AS c2, CAST(count(*) AS BIGINT) AS shared,
         |  CAST(SUM(w.w_micro) AS BIGINT) AS aa_micro
         |FROM bc b1 JOIN bc b2 ON b1.sp = b2.sp AND b1.c < b2.c
         |JOIN w ON w.sp = b1.sp
         |GROUP BY b1.c, b2.c
         |ORDER BY aa_micro DESC, c1, c2 LIMIT 50""".stripMargin,

    "q_randwalk" -> {
      // Each hop: join frontier to adjacency, pick the (h, dst)-min
      // neighbor via row_number PER (walk, g) — the naive per-walk
      // shape, deliberately INDEPENDENT of the Spark plan's
      // functional-graph transition-table collapse (same result by
      // the purity of the hash in (cur, step, g); computing it both
      // ways makes the compare also prove the collapse lossless).
      // γ = 2 unrolled, matching the `graft.pipeline.walks` default.
      // MATERIALIZED: each w{s} is referenced by the next hop's join.
      def hop(prev: String, s: Int, carried: Seq[String]): String = {
        val inner = carried.map("w." + _).mkString(", ")
        val outer = carried.mkString(", ")
        val h = walkHash(s).replace("cur", "w.cur")
          .replace("g * 7919", "w.g * 7919").replace("+ dst", "+ e.dst")
        s"""w$s AS MATERIALIZED (
           |  SELECT $outer, dst AS hop$s, dst AS cur FROM (
           |    SELECT $inner, e.dst,
           |      row_number() OVER (PARTITION BY w.walk_id, w.g
           |        ORDER BY $h, e.dst) AS rn
           |    FROM $prev w JOIN e ON w.cur = e.src) q
           |  WHERE rn = 1)""".stripMargin
      }
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT src, dst FROM b UNION ALL SELECT dst AS src, src AS dst FROM b),
         |w0 AS MATERIALIZED (
         |  SELECT walk_id, g, walk_id AS cur
         |  FROM (SELECT DISTINCT src AS walk_id FROM e),
         |       (SELECT unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS g)),
         |${hop("w0", 1, Seq("walk_id", "g"))},
         |${hop("w1", 2, Seq("walk_id", "g", "hop1"))},
         |${hop("w2", 3, Seq("walk_id", "g", "hop1", "hop2"))}
         |SELECT walk_id, g, hop1, hop2, hop3 FROM w3 ORDER BY walk_id, g""".stripMargin
    },

    "q_kcore" -> {
      def peel(prev: String, r: Int): String =
        s"""e$r AS MATERIALIZED (
           |  SELECT u, v FROM (
           |    SELECT u, v,
           |      count(*) OVER (PARTITION BY u) AS du,
           |      count(*) OVER (PARTITION BY v) AS dv
           |    FROM $prev) q
           |  WHERE du >= $KCoreK AND dv >= $KCoreK)""".stripMargin
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e0 AS MATERIALIZED (SELECT u, v FROM b UNION ALL SELECT v AS u, u AS v FROM b),
         |${(1 to KCoreOracleUnroll).map(r => peel(s"e${r - 1}", r)).mkString(",\n")}
         |SELECT u AS node_id,
         |  CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  CAST(count(*) AS BIGINT) AS core_deg
         |FROM e$KCoreOracleUnroll GROUP BY u ORDER BY node_id""".stripMargin
    },

    "q_concomp" -> {
      // One large-star + small-star pair, replayed identically to the
      // Spark loop: dl/ds both-direction orientations, ml/ms
      // neighborhood mins, el the rewired larger side, e{next} the
      // rewired ≤ side ∪ the self pointers, minus self-loops.
      // Every CTE is AS MATERIALIZED: each round references its
      // predecessor ~24 times transitively, so DuckDB's default
      // inlining would expand e3 into ~24³ scans of the base join —
      // it exhausted the process fd limit before it could finish.
      def ccRound(prev: String, r: Int): String =
        s"""dl$r AS MATERIALIZED (SELECT u, v FROM $prev UNION SELECT v AS u, u AS v FROM $prev),
           |ml$r AS MATERIALIZED (SELECT u, LEAST(u, MIN(v)) AS m FROM dl$r GROUP BY u),
           |el$r AS MATERIALIZED (
           |  SELECT DISTINCT d.v AS u, m.m AS v
           |  FROM dl$r d JOIN ml$r m ON d.u = m.u WHERE d.v > d.u),
           |ds$r AS MATERIALIZED (SELECT u, v FROM el$r UNION SELECT v AS u, u AS v FROM el$r),
           |ms$r AS MATERIALIZED (SELECT u, LEAST(u, MIN(v)) AS m FROM ds$r GROUP BY u),
           |e$r AS MATERIALIZED (
           |  SELECT DISTINCT u, v FROM (
           |    SELECT d.v AS u, m.m AS v
           |    FROM ds$r d JOIN ms$r m ON d.u = m.u WHERE d.v <= d.u
           |    UNION ALL SELECT u, m AS v FROM ms$r) q
           |  WHERE u <> v)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nodes AS MATERIALIZED (SELECT DISTINCT u AS node_id FROM
         |  (SELECT u FROM e0 UNION ALL SELECT v FROM e0)),
         |${ccRound("e0", 1)},
         |${ccRound("e1", 2)},
         |${ccRound("e2", 3)}
         |SELECT DISTINCT n.node_id,
         |  CASE WHEN n.node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  COALESCE(e.v, n.node_id) AS comp
         |FROM nodes n LEFT JOIN e3 e ON n.node_id = e.u
         |ORDER BY node_id""".stripMargin
    },

    "q_textrank" ->
      s"""WITH tok AS (SELECT string_split(text, ' ') AS tk FROM documents),
         |bg AS (
         |  SELECT DISTINCT least(tk[i], tk[i + 1]) AS a_lo, greatest(tk[i], tk[i + 1]) AS b_hi
         |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tok)
         |  WHERE tk[i] <> tk[i + 1]),
         |e AS (SELECT a_lo AS src, b_hi AS dst FROM bg
         |      UNION ALL SELECT b_hi AS src, a_lo AS dst FROM bg),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT src AS token, CAST(1000000 AS BIGINT) AS pr FROM deg),
         |${trIter("r0", "r1")},
         |${trIter("r1", "r2")},
         |${trIter("r2", "r3")}
         |SELECT token, pr FROM r3 ORDER BY pr DESC, token LIMIT 50""".stripMargin,

    "q_triangle" ->
      """WITH e AS (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey),
        |w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a),
        |t AS (SELECT w.a, w.b, w.c FROM w
        |      WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.c)),
        |n AS (SELECT a AS part FROM t
        |      UNION ALL SELECT b FROM t
        |      UNION ALL SELECT c FROM t)
        |SELECT part, count(*) AS n_triangles FROM n
        |GROUP BY part
        |ORDER BY n_triangles DESC, part LIMIT 20""".stripMargin,

    "q_assortativity" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
        |e2 AS (
        |  SELECT du.deg AS du, dv.deg AS dv
        |  FROM e JOIN deg du ON e.src = du.src JOIN deg dv ON e.dst = dv.src),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(du) AS BIGINT) AS sx, CAST(SUM(dv) AS BIGINT) AS sy,
        |    CAST(SUM(du * dv) AS BIGINT) AS sxy,
        |    CAST(SUM(du * du) AS BIGINT) AS sxx,
        |    CAST(SUM(dv * dv) AS BIGINT) AS syy
        |  FROM e2)
        |SELECT n,
        |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |    / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |          * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4)
        |    AS assortativity
        |FROM mo""".stripMargin,

    "q_reciprocity" ->
      """WITH e AS (
        |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
        |  FROM (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        |        FROM orders JOIN lineitem ON o_orderkey = l_orderkey) t
        |  JOIN customer ON c = c_custkey
        |  JOIN supplier ON sp = s_suppkey
        |  WHERE c_nationkey <> s_nationkey),
        |rev AS (SELECT dst AS src, src AS dst, 1 AS has_rev FROM e)
        |SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(SUM(coalesce(has_rev, 0)) AS BIGINT) AS n_mutual,
        |  (CAST(SUM(coalesce(has_rev, 0)) AS BIGINT) * 1000000)
        |    // CAST(count(*) AS BIGINT) AS recip_micro
        |FROM e LEFT JOIN rev USING (src, dst)""".stripMargin,

    "q_degree_dist" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src)
        |SELECT length(bin(deg)) - 1 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(min(deg) AS BIGINT) AS min_deg, CAST(max(deg) AS BIGINT) AS max_deg
        |FROM deg GROUP BY bucket
        |ORDER BY bucket""".stripMargin,

    "q_bfs" -> {
      def bfsIter(prev: String, next: String): String =
        s"""$next AS (
           |  SELECT node_id, CAST(MIN(dist) AS BIGINT) AS dist FROM (
           |    SELECT node_id, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node_id, $prev.dist + 1 AS dist
           |    FROM e JOIN $prev ON e.src = $prev.node_id)
           |  GROUP BY node_id)""".stripMargin
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |d0 AS (
         |  SELECT DISTINCT src AS node_id, CAST(0 AS BIGINT) AS dist
         |  FROM e WHERE src % 200 = 0),
         |${bfsIter("d0", "d1")},
         |${bfsIter("d1", "d2")},
         |${bfsIter("d2", "d3")}
         |SELECT node_id,
         |  CASE WHEN node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  dist
         |FROM d3 ORDER BY dist, node_id""".stripMargin
    },

    // Wedge-join support form (orientation-invariant, fine at oracle
    // scale); two peels, each LEFT-joining support back so
    // zero-triangle edges peel too.
    // Peel unrolled to depth 6 — strictly past the fixture's fixpoint
    // (Round10Spec asserts Spark's peel-to-fixpoint loop converges in
    // < 6 rounds at both SFs); peeling is idempotent after the
    // fixpoint, so the extra unrolled rounds are no-ops and the final
    // supports equal the true 4-truss supports. Kept-edge CTEs are
    // MATERIALIZED — DuckDB re-inlines plain CTEs, which at depth 6
    // would blow up exponentially.
    "q_ktruss" -> {
      def peel(i: Int): String = {
        val eIn = s"e${i - 1}"
        s"""u$i AS (SELECT a AS v, b AS w FROM $eIn
           |  UNION ALL SELECT b AS v, a AS w FROM $eIn),
           |c$i AS (
           |  SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS supp
           |  FROM $eIn e
           |  JOIN u$i u1 ON u1.v = e.a
           |  JOIN u$i u2 ON u2.v = e.b AND u2.w = u1.w
           |  GROUP BY e.a, e.b),
           |s$i AS MATERIALIZED (
           |  SELECT e.a, e.b, COALESCE(c$i.supp, 0) AS supp
           |  FROM $eIn e LEFT JOIN c$i ON e.a = c$i.a AND e.b = c$i.b),
           |e$i AS MATERIALIZED (SELECT a, b FROM s$i WHERE supp >= 2)""".stripMargin
      }
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
         |  WHERE l1.l_partkey < l2.l_partkey),
         |${(1 to KTrussOracleUnroll).map(peel).mkString(",\n")}
         |SELECT a, b, supp FROM s$KTrussOracleUnroll WHERE supp >= 2
         |ORDER BY supp DESC, a, b LIMIT 50""".stripMargin
    },

    // Two unrolled BFS chains; the handoff and readout mirror the
    // Spark packed-argmax 1-row frames.
    "q_diameter" -> {
      def it(prev: String, next: String): String =
        s"""$next AS (
           |  SELECT node_id, CAST(MIN(dist) AS BIGINT) AS dist FROM (
           |    SELECT node_id, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node_id, $prev.dist + 1 AS dist
           |    FROM e JOIN $prev ON e.src = $prev.node_id)
           |  GROUP BY node_id)""".stripMargin
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |st AS (SELECT CAST(MIN(src) AS BIGINT) AS start_node FROM e),
         |d0 AS (SELECT start_node AS node_id, CAST(0 AS BIGINT) AS dist FROM st),
         |${it("d0", "d1")},
         |${it("d1", "d2")},
         |${it("d2", "d3")},
         |f1 AS (
         |  SELECT CAST(MAX(dist * 4294967296 + (4294967295 - node_id)) AS BIGINT) AS pk
         |  FROM d3),
         |s1 AS (
         |  SELECT CAST(4294967295 - pk % 4294967296 AS BIGINT) AS node_id,
         |    CAST(pk // 4294967296 AS BIGINT) AS ecc1
         |  FROM f1),
         |g0 AS (SELECT node_id, CAST(0 AS BIGINT) AS dist FROM s1),
         |${it("g0", "g1")},
         |${it("g1", "g2")},
         |${it("g2", "g3")},
         |f2 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_reached,
         |    CAST(MAX(dist * 4294967296 + (4294967295 - node_id)) AS BIGINT) AS pk
         |  FROM g3)
         |SELECT st.start_node, s1.node_id AS far1_node, s1.ecc1,
         |  CAST(4294967295 - f2.pk % 4294967296 AS BIGINT) AS far2_node,
         |  CAST(f2.pk // 4294967296 AS BIGINT) AS diameter_lb, f2.n_reached
         |FROM st, s1, f2""".stripMargin
    },

    "q_hits" -> {
      // Each half-round: sum the opposite side's scores, then rescale
      // to max = 1e6 with truncating division (non-negative, so //
      // matches Spark DIV).
      def half(prev: String, next: String, joinKey: String, outKey: String,
               prevV: String, outV: String): String =
        s"""${next}raw AS (
           |  SELECT b.$outKey AS $outKey, CAST(SUM($prev.$prevV) AS BIGINT) AS $outV
           |  FROM b JOIN $prev ON b.$joinKey = $prev.$joinKey
           |  GROUP BY b.$outKey),
           |$next AS (
           |  SELECT $outKey,
           |    ($outV * 1000000) // (SELECT MAX($outV) FROM ${next}raw) AS $outV
           |  FROM ${next}raw)""".stripMargin
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM b),
         |${half("h0", "a1", "c", "sp", "h", "a")},
         |${half("a1", "h1", "sp", "c", "a", "h")},
         |${half("h1", "a2", "c", "sp", "h", "a")},
         |${half("a2", "h2", "sp", "c", "a", "h")}
         |SELECT role, id, score_micro FROM (
         |  SELECT 'hub' AS role, c AS id, h AS score_micro FROM h2
         |  UNION ALL
         |  SELECT 'authority' AS role, sp AS id, a AS score_micro FROM a2)
         |ORDER BY role, score_micro DESC, id""".stripMargin
    },

    "q_modularity" -> {
      def fdiv(a: String, n: String) = s"(($a) - ((($a) % ($n) + ($n)) % ($n))) // ($n)"
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (
         |  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS node_id, src AS label FROM e),
         |${lpIter("l0", "l1")},
         |${lpIter("l1", "l2")},
         |${lpIter("l2", "l3")},
         |lab AS MATERIALIZED (SELECT node_id, label FROM l3),
         |mm AS (SELECT CAST(count(*) // 2 AS BIGINT) AS m FROM e),
         |el AS (
         |  SELECT ls.label AS lsrc, ld.label AS ldst
         |  FROM e JOIN lab ls ON e.src = ls.node_id
         |         JOIN lab ld ON e.dst = ld.node_id),
         |cs AS (SELECT lsrc AS community, CAST(count(*) AS BIGINT) AS deg_sum,
         |         CAST(SUM(CASE WHEN lsrc = ldst THEN 1 ELSE 0 END) AS BIGINT) AS in2
         |       FROM el GROUP BY lsrc),
         |nn AS (SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
         |       FROM lab GROUP BY label),
         |base AS (
         |  SELECT nn.community, nn.n_nodes, cs.in2, cs.deg_sum, mm.m,
         |    2 * mm.m * cs.in2 - cs.deg_sum * cs.deg_sum AS num
         |  FROM nn JOIN cs ON nn.community = cs.community, mm)
         |SELECT community, n_nodes, in2, deg_sum, num,
         |  ${fdiv("num * 1000000", "4 * m * m")} AS contrib_micro
         |FROM base ORDER BY community""".stripMargin
    },

    // Per-hop hash-ranked row_number replay with the same per-hop tag.
    "q_graph_sample" -> {
      def hashSql(tag: Int) =
        s"(1203958717 * (((src % 2147483647) * 1000003 + $tag * 31 + dst) % 2147483647) + 776531401) % 2147483647"
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT src, dst FROM b UNION ALL SELECT dst AS src, src AS dst FROM b),
         |s1 AS (
         |  SELECT src AS root, CAST(rnk AS BIGINT) AS r1, dst AS n1 FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY ${hashSql(1)}, dst) AS rnk FROM e) q
         |  WHERE rnk <= 3),
         |s2 AS (
         |  SELECT src AS n1, CAST(rnk AS BIGINT) AS r2, dst AS n2 FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY ${hashSql(2)}, dst) AS rnk FROM e) q
         |  WHERE rnk <= 2)
         |SELECT root, r1, n1, r2, n2
         |FROM s1 JOIN s2 USING (n1)
         |ORDER BY root, r1, r2""".stripMargin
    },

    // Same LP-label replay as q_modularity, then the synchronous
    // local-move gain argmax as a row_number pick (ORDER BY gain DESC,
    // community ASC ≡ Spark's max(struct(gain, −c))).
    "q_louvain" -> {
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (
         |  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS node_id, src AS label FROM e),
         |${lpIter("l0", "l1")},
         |${lpIter("l1", "l2")},
         |${lpIter("l2", "l3")},
         |lab AS MATERIALIZED (SELECT node_id, label FROM l3),
         |mm AS (SELECT CAST(count(*) // 2 AS BIGINT) AS m FROM e),
         |el AS MATERIALIZED (
         |  SELECT e.src, ls.label AS a, ld.label AS c
         |  FROM e JOIN lab ls ON e.src = ls.node_id
         |         JOIN lab ld ON e.dst = ld.node_id),
         |na AS MATERIALIZED (
         |  SELECT src AS node_id, a, CAST(count(*) AS BIGINT) AS k,
         |    CAST(SUM(CASE WHEN a = c THEN 1 ELSE 0 END) AS BIGINT) AS kia
         |  FROM el GROUP BY src, a),
         |sig AS (SELECT a AS community, CAST(SUM(k) AS BIGINT) AS stot FROM na GROUP BY a),
         |kib AS (
         |  SELECT src AS node_id, a, c, CAST(count(*) AS BIGINT) AS kb
         |  FROM el WHERE c <> a GROUP BY src, a, c),
         |cand AS (
         |  SELECT kib.node_id,
         |    2 * mm.m * (kib.kb - na.kia) - na.k * (sb.stot - sa.stot + na.k) AS gain_num,
         |    kib.c AS b
         |  FROM kib JOIN na ON kib.node_id = na.node_id
         |    JOIN sig sa ON sa.community = kib.a
         |    JOIN sig sb ON sb.community = kib.c, mm),
         |best AS (
         |  SELECT node_id, gain_num, b FROM (
         |    SELECT node_id, gain_num, b,
         |      row_number() OVER (PARTITION BY node_id ORDER BY gain_num DESC, b) AS rn
         |    FROM cand) WHERE rn = 1)
         |SELECT na.node_id,
         |  CASE WHEN na.node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  na.a AS old_community,
         |  CASE WHEN best.gain_num > 0 THEN best.b ELSE na.a END AS new_community,
         |  COALESCE(best.gain_num, 0) AS best_gain_num,
         |  CAST(CASE WHEN best.gain_num > 0 THEN 1 ELSE 0 END AS BIGINT) AS moved
         |FROM na LEFT JOIN best ON na.node_id = best.node_id
         |ORDER BY na.node_id""".stripMargin
    },

    "q_sssp" -> {
      // Bellman-Ford relaxation replay: the weight-0 self-loops in adj
      // make each round self-contained (no UNION with the previous
      // state), mirroring the Spark plan exactly. pk packs
      // cost*100 + hops; min(pk) = lexicographic (cost, hops) min.
      def relax(prev: String, next: String): String =
        s"""$next AS (
           |  SELECT node_id, CAST(MIN(pk) AS BIGINT) AS pk FROM (
           |    SELECT adj.dst AS node_id,
           |      p.pk + adj.w * 100 + CASE WHEN adj.w > 0 THEN 1 ELSE 0 END AS pk
           |    FROM adj JOIN $prev p ON adj.src = p.node_id)
           |  GROUP BY node_id)""".stripMargin
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |ew AS (
         |  SELECT src, dst, CAST(1 + (src * dst + src + dst) % 9 AS BIGINT) AS w
         |  FROM (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)),
         |n AS (SELECT DISTINCT src FROM ew),
         |adj AS (SELECT src, dst, w FROM ew
         |        UNION ALL SELECT src, src AS dst, CAST(0 AS BIGINT) AS w FROM n),
         |d0 AS (SELECT src AS node_id, CAST(0 AS BIGINT) AS pk FROM n WHERE src % 200 = 0),
         |${relax("d0", "d1")},
         |${relax("d1", "d2")},
         |${relax("d2", "d3")},
         |${relax("d3", "d4")}
         |SELECT node_id,
         |  CASE WHEN node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  CAST(pk // 100 AS BIGINT) AS dist_w, CAST(pk % 100 AS BIGINT) AS hops
         |FROM d4 ORDER BY dist_w, node_id""".stripMargin
    },

    "q_closeness" -> {
      def relax(prev: String, next: String): String =
        s"""$next AS (
           |  SELECT lm, node_id, CAST(MIN(dist) AS BIGINT) AS dist FROM (
           |    SELECT p.lm, adj.dst AS node_id, p.dist + adj.w AS dist
           |    FROM adj JOIN $prev p ON adj.src = p.node_id)
           |  GROUP BY lm, node_id)""".stripMargin
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |n AS (SELECT DISTINCT src FROM e),
         |adj AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e
         |        UNION ALL SELECT src, src AS dst, CAST(0 AS BIGINT) AS w FROM n),
         |lm AS (SELECT src FROM n
         |       ORDER BY (src * 2654435761) % 1000003, src LIMIT 32),
         |d0 AS (SELECT src AS lm, src AS node_id, CAST(0 AS BIGINT) AS dist
         |       FROM lm),
         |${relax("d0", "d1")},
         |${relax("d1", "d2")},
         |${relax("d2", "d3")}
         |SELECT node_id,
         |  CASE WHEN node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  CAST(count(*) AS BIGINT) AS n_landmarks,
         |  CAST(SUM(1000000 // dist) AS BIGINT) AS harm_micro
         |FROM d3 WHERE dist > 0
         |GROUP BY node_id
         |ORDER BY harm_micro DESC, node_id""".stripMargin
    },

    // Borůvka replay: per-round per-component MIN over the packed
    // strict edge order (pk is injective per edge, so MIN(pk) equals
    // Spark's min(struct(pk, cu, cv))), then the merge's canonical
    // labels (component minimum) via a recursive reachability closure
    // over the chosen component graph — both engines converge to the
    // same well-defined min-label, independent of iteration schedule.
    "q_mst" ->
      s"""WITH RECURSIVE
         |e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |ew AS MATERIALIZED (
         |  SELECT u, v, CAST(1 + (u * v + u + v) % 9 AS BIGINT) AS w FROM e0),
         |t1 AS (SELECT u AS cu, v AS cv,
         |         w * 4398046511104 + u * 2097152 + v AS pk FROM ew),
         |c1 AS (SELECT comp, MIN(pk) AS pk FROM (
         |    SELECT cu AS comp, pk FROM t1 UNION ALL SELECT cv AS comp, pk FROM t1)
         |  GROUP BY comp),
         |sel1 AS MATERIALIZED (
         |  SELECT DISTINCT t1.pk, t1.cu, t1.cv FROM t1 JOIN c1 ON t1.pk = c1.pk),
         |ce1 AS (SELECT cu AS a, cv AS b FROM sel1 UNION SELECT cv, cu FROM sel1),
         |reach(node, lab) AS (
         |  SELECT a, a FROM ce1
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN ce1 e ON e.a = r.lab),
         |lab1 AS (SELECT node AS c, CAST(MIN(lab) AS BIGINT) AS newc
         |         FROM reach GROUP BY node),
         |nn AS (SELECT DISTINCT u AS n FROM (SELECT u FROM ew UNION ALL SELECT v AS u FROM ew)),
         |comp2 AS (SELECT nn.n, COALESCE(l.newc, nn.n) AS c
         |          FROM nn LEFT JOIN lab1 l ON l.c = nn.n),
         |t2 AS (SELECT pu.c AS cu, pv.c AS cv,
         |         ew.w * 4398046511104 + ew.u * 2097152 + ew.v AS pk
         |       FROM ew JOIN comp2 pu ON ew.u = pu.n JOIN comp2 pv ON ew.v = pv.n
         |       WHERE pu.c <> pv.c),
         |c2 AS (SELECT comp, MIN(pk) AS pk FROM (
         |    SELECT cu AS comp, pk FROM t2 UNION ALL SELECT cv AS comp, pk FROM t2)
         |  GROUP BY comp)
         |SELECT round,
         |  CAST((pk // 2097152) % 2097152 AS BIGINT) AS u,
         |  CAST(pk % 2097152 AS BIGINT) AS v,
         |  CAST(pk // 4398046511104 AS BIGINT) AS w
         |FROM (SELECT CAST(1 AS BIGINT) AS round, pk FROM (SELECT DISTINCT pk FROM sel1)
         |      UNION ALL
         |      SELECT CAST(2 AS BIGINT) AS round, pk FROM (SELECT DISTINCT pk FROM c2))
         |ORDER BY round, u, v""".stripMargin,

    "q_matching" -> {
      def round(eIn: String, r: Int): String =
        s"""mn$r AS (
           |  SELECT v, CAST(MIN(eid) AS BIGINT) AS emin FROM (
           |    SELECT a AS v, eid FROM $eIn UNION ALL SELECT b AS v, eid FROM $eIn)
           |  GROUP BY v),
           |sel$r AS (
           |  SELECT e.a, e.b, e.eid
           |  FROM $eIn e
           |  JOIN mn$r ma ON ma.v = e.a AND ma.emin = e.eid
           |  JOIN mn$r mb ON mb.v = e.b AND mb.emin = e.eid),
           |mv$r AS (SELECT a AS v FROM sel$r UNION SELECT b AS v FROM sel$r),
           |ed$r AS MATERIALIZED (
           |  SELECT * FROM $eIn
           |  WHERE a NOT IN (SELECT v FROM mv$r) AND b NOT IN (SELECT v FROM mv$r))""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |ed0 AS MATERIALIZED (SELECT a, b, a * 4294967296 + b AS eid FROM e0),
         |${round("ed0", 1)},
         |${round("ed1", 2)},
         |${round("ed2", 3)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round,
         |    (SELECT CAST(count(*) AS BIGINT) FROM sel1) AS n_matched,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ed1) AS n_left
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT),
         |    (SELECT CAST(count(*) AS BIGINT) FROM sel2),
         |    (SELECT CAST(count(*) AS BIGINT) FROM ed2)
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT),
         |    (SELECT CAST(count(*) AS BIGINT) FROM sel3),
         |    (SELECT CAST(count(*) AS BIGINT) FROM ed3))
         |ORDER BY round""".stripMargin
    },

    "q_local_cc" ->
      """WITH e0 AS (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey),
        |und AS (SELECT a AS v, b AS w FROM e0 UNION ALL SELECT b AS v, a AS w FROM e0),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY v),
        |supp AS (
        |  SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS supp
        |  FROM e0 e
        |  JOIN und u1 ON u1.v = e.a
        |  JOIN und u2 ON u2.v = e.b AND u2.w = u1.w
        |  GROUP BY e.a, e.b),
        |tri AS (
        |  SELECT v, CAST(SUM(supp) AS BIGINT) AS tri2 FROM (
        |    SELECT a AS v, supp FROM supp UNION ALL SELECT b AS v, supp FROM supp)
        |  GROUP BY v)
        |SELECT deg.v AS node_id, deg.deg, COALESCE(tri.tri2, 0) AS tri2,
        |  (COALESCE(tri.tri2, 0) * 1000000) // (deg.deg * (deg.deg - 1)) AS cc_micro
        |FROM deg LEFT JOIN tri ON deg.v = tri.v
        |WHERE deg.deg >= 2
        |ORDER BY cc_micro DESC, node_id LIMIT 20""".stripMargin,

    "q_betweenness" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |l0 AS (SELECT CAST(MIN(src) AS BIGINT) AS node, CAST(1 AS BIGINT) AS sigma FROM e),
        |l1 AS (
        |  SELECT e.dst AS node, CAST(SUM(l0.sigma) AS BIGINT) AS sigma
        |  FROM e JOIN l0 ON e.src = l0.node
        |  WHERE e.dst NOT IN (SELECT node FROM l0)
        |  GROUP BY e.dst),
        |l2 AS (
        |  SELECT e.dst AS node, CAST(SUM(l1.sigma) AS BIGINT) AS sigma
        |  FROM e JOIN l1 ON e.src = l1.node
        |  WHERE e.dst NOT IN (SELECT node FROM l0 UNION ALL SELECT node FROM l1)
        |  GROUP BY e.dst),
        |l3 AS (
        |  SELECT e.dst AS node, CAST(SUM(l2.sigma) AS BIGINT) AS sigma
        |  FROM e JOIN l2 ON e.src = l2.node
        |  WHERE e.dst NOT IN (SELECT node FROM l0 UNION ALL SELECT node FROM l1
        |                      UNION ALL SELECT node FROM l2)
        |  GROUP BY e.dst),
        |d3 AS (SELECT node, sigma, CAST(0 AS BIGINT) AS delta FROM l3),
        |t2 AS (
        |  SELECT v.node, CAST(SUM((v.sigma * (1000000 + w.delta)) // w.sigma) AS BIGINT) AS dsum
        |  FROM e JOIN l2 v ON e.src = v.node JOIN d3 w ON e.dst = w.node
        |  GROUP BY v.node),
        |d2 AS (
        |  SELECT l2.node, l2.sigma, CAST(COALESCE(t2.dsum, 0) AS BIGINT) AS delta
        |  FROM l2 LEFT JOIN t2 ON l2.node = t2.node),
        |t1 AS (
        |  SELECT v.node, CAST(SUM((v.sigma * (1000000 + w.delta)) // w.sigma) AS BIGINT) AS dsum
        |  FROM e JOIN l1 v ON e.src = v.node JOIN d2 w ON e.dst = w.node
        |  GROUP BY v.node),
        |d1 AS (
        |  SELECT l1.node, l1.sigma, CAST(COALESCE(t1.dsum, 0) AS BIGINT) AS delta
        |  FROM l1 LEFT JOIN t1 ON l1.node = t1.node)
        |SELECT node AS node_id, dist, sigma, delta AS delta_micro FROM (
        |  SELECT node, CAST(1 AS BIGINT) AS dist, sigma, delta FROM d1
        |  UNION ALL SELECT node, CAST(2 AS BIGINT), sigma, delta FROM d2
        |  UNION ALL SELECT node, CAST(3 AS BIGINT), sigma, delta FROM d3)
        |ORDER BY delta_micro DESC, node_id LIMIT 20""".stripMargin,

    "q_stable_match" -> {
      def round(prev: String, k: Int): String =
        s"""props$k AS MATERIALIZED (
           |  SELECT s.c, p.sp, p.spend_c
           |  FROM $prev s JOIN prefs p ON s.c = p.c AND s.ptr = p.rank
           |  WHERE s.eng_sp IS NULL AND s.ptr <= 3),
           |cand$k AS (
           |  SELECT c, sp, spend_c FROM props$k
           |  UNION ALL
           |  SELECT c, eng_sp AS sp, eng_spend AS spend_c FROM $prev WHERE eng_sp IS NOT NULL),
           |win$k AS (
           |  SELECT sp, CAST(MAX(spend_c * 2097152 + (2097151 - c)) AS BIGINT) AS pk
           |  FROM cand$k GROUP BY sp),
           |wflat$k AS (
           |  SELECT sp, CAST(2097151 - pk % 2097152 AS BIGINT) AS c,
           |    CAST(pk // 2097152 AS BIGINT) AS w_spend
           |  FROM win$k),
           |st$k AS MATERIALIZED (
           |  SELECT s.c,
           |    CASE WHEN pn.c IS NOT NULL THEN s.ptr + 1 ELSE s.ptr END AS ptr,
           |    w.sp AS eng_sp, w.w_spend AS eng_spend
           |  FROM $prev s
           |  LEFT JOIN (SELECT DISTINCT c FROM props$k) pn ON s.c = pn.c
           |  LEFT JOIN wflat$k w ON s.c = w.c)""".stripMargin
      s"""WITH spend AS MATERIALIZED (
         |  SELECT o_custkey AS c, l_suppkey AS sp,
         |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spend_c
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |prefs AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT c, sp, spend_c,
         |      CAST(row_number() OVER (PARTITION BY c ORDER BY spend_c DESC, sp) AS BIGINT) AS rank
         |    FROM spend)
         |  WHERE rank <= 3),
         |st0 AS (
         |  SELECT DISTINCT c, CAST(1 AS BIGINT) AS ptr,
         |    CAST(NULL AS BIGINT) AS eng_sp, CAST(NULL AS BIGINT) AS eng_spend
         |  FROM prefs),
         |${round("st0", 1)},
         |${round("st1", 2)},
         |${round("st2", 3)}
         |SELECT c, eng_sp AS sp, eng_spend AS spend_c
         |FROM st3 WHERE eng_sp IS NOT NULL
         |ORDER BY c""".stripMargin
    }
  )
}
