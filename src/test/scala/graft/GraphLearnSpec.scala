package graft

import org.apache.spark.sql.functions._
import graft.operators.{Audit, Graph, Learn, Pipeline}

/** Invariants for the graph/learning operators that the DuckDB hash
  * compare can't express: PageRank mass accounting, k-means inertia
  * monotonicity, classifier score reproduction against an independent
  * Scala computation, z-value bijectivity, dense row ids.
  */
class GraphLearnSpec extends SparkSpec {

  test("q_pagerank: rank mass is bounded and every node keeps the base rank") {
    val rows = Graph.queries("q_pagerank")(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    val total = rows.map(_.getLong(2)).sum
    // Each iteration: Σ rank' = 0.15·n·1e6 + (≤ 0.85·Σ rank) — truncating
    // division only loses mass, so total stays ≤ n·1e6 and every node
    // retains at least the damping base.
    assert(rows.forall(_.getLong(2) >= 150000L), "node below base rank")
    assert(total <= n * 1000000L, s"rank mass grew: $total > ${n * 1000000L}")
    assert(total >= n * 150000L)
    val kinds = rows.map(_.getString(1)).toSet
    assert(kinds == Set("customer", "supplier"))
  }

  test("q_kmeans_fit: inertia is monotone non-increasing across Lloyd iterations") {
    def inertia(iters: Int): Long =
      Learn.fitKMeans(spark, sf, iters)._2
        .agg(sum(col("qdist"))).collect()(0).getLong(0)
    val i0 = inertia(0); val i1 = inertia(1); val i2 = inertia(2)
    assert(i1 <= i0, s"iteration 1 raised inertia: $i1 > $i0")
    assert(i2 <= i1, s"iteration 2 raised inertia: $i2 > $i1")
  }

  test("q_kmeans_fit: every assignment is the argmin over the trained centroids") {
    val (cents, assigned) = Learn.fitKMeans(spark, sf, 2)
    val rows = assigned.select(col("qv"), col("cluster"), col("qdist")).collect()
    rows.foreach { r =>
      val qv = r.getSeq[Long](0).toArray
      val dists = cents.map { case (cid, cv) =>
        (cid, qv.indices.map(j => { val d = qv(j) - cv(j); d * d }).sum)
      }
      val best = dists.minBy { case (cid, d) => (d, cid) }
      assert(best._1 == r.getInt(1) && best._2 == r.getLong(2))
    }
  }

  test("coarse codebook: one Lloyd round beats first-16 cell balance on an order-skewed corpus") {
    import spark.implicits._
    val dim = 64
    // 8 well-separated blobs (blob b: dims 8b..8b+7 at 1.0) with small
    // deterministic per-point jitter; the ORDER-SKEW is that the first
    // 16 vec_ids — the raw codebook — all sit in blob 0, the exact
    // failure mode coarseCentroids exists to fix.
    def vec(blob: Int, seed: Int): Array[Float] = {
      val a = Array.fill(dim)(0.0f)
      (0 until 8).foreach(k => a(blob * 8 + k) = 1.0f)
      (0 until dim).foreach { j =>
        val h = scala.util.hashing.MurmurHash3.productHash((seed, j))
        a(j) += (h & 0x3ff).toFloat / 1024f * 0.05f
      }
      a
    }
    val rows = (0 until 16).map(i => (i.toLong, vec(0, i).toSeq, 0)) ++
      (16 until 200).map(i => (i.toLong, vec(i % 8, i).toSeq, i % 8))
    val dir = java.nio.file.Files.createTempDirectory("skewemb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def occupancy(iters: Int): (Long, Long) = {
      val occ = Learn.fitKMeans(spark, dir, iters, k = 16)._2
        .groupBy($"cluster").count().agg(max($"count"), min($"count")).head()
      (occ.getLong(0), occ.getLong(1))
    }
    val (rawMax, _) = occupancy(0)  // iters = 0: the raw first-16 codebook
    val (trainedMax, _) = occupancy(1) // the coarseCentroids config
    assert(trainedMax < rawMax,
      s"trained max occupancy $trainedMax !< first-16 $rawMax")
  }

  test("q_pq_codes: every subspace code is the argmin over its trained codebook") {
    val (books, codes) = Learn.fitPq(spark, sf, 1)
    val rows = codes.collect()
    val sub = 16
    rows.foreach { r =>
      val qv = r.getSeq[Long](r.fieldIndex("qv")).toArray
      books.indices.foreach { i =>
        val slice = qv.slice(i * sub, (i + 1) * sub)
        val dists = books(i).map { case (cid, cv) =>
          (cid, slice.indices.map(j => { val x = slice(j) - cv(j); x * x }).sum)
        }
        val best = dists.minBy { case (cid, dd) => (dd, cid) }
        assert(best._1 == r.getInt(r.fieldIndex(s"c$i")), s"vec ${r.getLong(0)} sub $i")
        assert(best._2 == r.getLong(r.fieldIndex(s"d$i")), s"vec ${r.getLong(0)} sub $i dist")
      }
    }
  }

  test("q_textrank: rank mass bounded, keywords are high-degree tokens") {
    val rows = Graph.queries("q_textrank")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    // same mass accounting as q_pagerank (they share the update rule)
    assert(rows.forall(_.getLong(1) >= 150000L), "token below base rank")
    // ranks are emitted in strict (pr desc, token) order
    val prs = rows.map(r => (-r.getLong(1), r.getString(0)))
    assert(prs.sameElements(prs.sorted), "output not ordered by (pr desc, token)")
    // the top keyword must beat the median co-occurrence degree:
    // TextRank's whole point is that rank tracks connectivity
    val degs = Tables.documents(spark, sf)
      .selectExpr("split(text, ' ') AS tk")
      .selectExpr("posexplode(slice(tk, 1, size(tk) - 1)) AS (i, a)", "tk")
      .selectExpr("least(a, tk[i + 1]) AS a_lo", "greatest(a, tk[i + 1]) AS b_hi")
      .filter(col("a_lo") =!= col("b_hi")).distinct()
      .selectExpr("explode(array(a_lo, b_hi)) AS t")
      .groupBy(col("t")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val degsSorted = degs.values.toSeq.sorted
    val median = degsSorted(degsSorted.size / 2)
    assert(degs(rows.head.getString(0)) >= median,
      s"top keyword '${rows.head.getString(0)}' has below-median degree")
  }

  test("q_triangle: credits recount against a driver-side brute force") {
    val got = Graph.queries("q_triangle")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.nonEmpty)
    // independent recount: materialize the (small-SF) edge set and
    // enumerate triangles by sorted-adjacency intersection in Scala
    val edges = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey", "l_partkey").distinct()
      .groupBy(col("l_orderkey")).agg(collect_set(col("l_partkey")).as("ps"))
      .collect().flatMap { r =>
        val ps = r.getSeq[Long](1).sorted
        for (i <- ps.indices; j <- (i + 1) until ps.size) yield (ps(i), ps(j))
      }.toSet
    val nbrs = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._2).toSet }
    val counts = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- edges; common = nbrs.getOrElse(a, Set.empty) & nbrs.getOrElse(b, Set.empty);
         c <- common) {
      counts(a) += 1; counts(b) += 1; counts(c) += 1
    }
    val expected = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(got.length)
    assert(got.toSeq == expected,
      s"top-${got.length} mismatch: got ${got.take(3).toSeq} vs ${expected.take(3)}")
  }

  test("alternatingStar: a 1000-node path converges within the log-derived chunk budget") {
    // The adversarial case for min-label propagation (O(diameter) = 999
    // rounds); the alternating engine must collapse it in ⌈log₂ n⌉ + 2
    // = 12 round pairs for n = 999 edges — well inside clusterLabels'
    // geometric 3+6+12 schedule (its third chunk alone is 12 pairs).
    // Converged = depth-1 stars, all rooted at the path min (0).
    import spark.implicits._
    val edges = (0L until 999L).map(i => (i, i + 1)).toDF("u", "v")
    val n = 999L
    val chunk = 64 - java.lang.Long.numberOfLeadingZeros(n) + 2
    assert(chunk === 12)
    val star = Graph.alternatingStar(edges, chunk).localCheckpoint()
    assert(Graph.starConverged(star), s"path graph not converged in $chunk round pairs")
    val rows = star.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length === 1000 - 1, "one star edge per non-root node")
    assert(rows.forall(_._2 === 0L), "every node must root at the component min 0")
    assert(rows.map(_._1).toSet === (1L to 999L).toSet)
  }

  test("starConverged rejects multi-parent, chained, and up-pointing edge sets") {
    import spark.implicits._
    // depth-1 star rooted at the min: converged
    assert(Graph.starConverged(Seq((5L, 1L), (7L, 1L)).toDF("u", "v")))
    // node 9 points at two smaller roots — next small-star would merge
    assert(!Graph.starConverged(Seq((9L, 1L), (9L, 2L)).toDF("u", "v")))
    // chain 5→3→1 — node 3 is both child and parent
    assert(!Graph.starConverged(Seq((5L, 3L), (3L, 1L)).toDF("u", "v")))
    // up-pointing edge (parent larger than child)
    assert(!Graph.starConverged(Seq((1L, 5L)).toDF("u", "v")))
  }

  test("q_concomp: labels equal an independent union-find (convergence at fixture scale)") {
    // Driver-side ground truth: union-find over the same bipartite
    // trade edges; expected label = min node id of each component —
    // exactly the alternating algorithm's fixed point, so equality
    // also proves the 3 unrolled rounds CONVERGED on this graph.
    val edges = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .selectExpr("o_custkey * 2 AS u", "l_suppkey * 2 + 1 AS v")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val nodes = edges.flatMap { case (u, v) => Seq(u, v) }.distinct
    val expected = nodes.map(n => (n, find(n))).sortBy(_._1).toSeq
    val got = Graph.queries("q_concomp")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got === expected)
    // sanity: the label really is a member of its own component
    assert(got.forall { case (_, c) => find(c) == c })
  }

  test("q_linkpred: scores are valid Jaccard micro-units and recompute from components") {
    val rows = Graph.queries("q_linkpred")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.length === 50)
    rows.foreach { case (c1, c2, shared, d1, d2, score) =>
      assert(c1 < c2)
      assert(shared >= 1 && shared <= math.min(d1, d2), s"($c1,$c2) shared out of range")
      assert(score === shared * 1000000L / (d1 + d2 - shared), s"($c1,$c2) score mismatch")
      assert(score <= 1000000L)
    }
    // the page is sorted by the declared total order
    val keys = rows.map { case (c1, c2, sh, _, _, sc) => (-sc, -sh, c1, c2) }
    assert(keys.toSeq === keys.sortBy(identity).toSeq)
  }

  test("q_butterfly: counts equal an independent capped recount") {
    val bip = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .selectExpr("o_custkey AS c", "l_suppkey AS sp")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val cap = 64
    val pairCounts = scala.collection.mutable.Map.empty[(Long, Long), Long]
    bip.groupBy(_._2).foreach { case (_, rows) =>
      val cs = rows.map(_._1).distinct.sorted.take(cap)
      for (i <- cs.indices; j <- i + 1 until cs.length)
        pairCounts((cs(i), cs(j))) = pairCounts.getOrElse((cs(i), cs(j)), 0L) + 1L
    }
    val nPairs = pairCounts.size.toLong
    val nWedges = pairCounts.values.sum
    val nButterflies = pairCounts.values.map(x => x * (x - 1) / 2).sum
    val got = Graph.queries("q_butterfly")(spark, sf).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ===
      ((nPairs, nWedges, nButterflies)))
    assert(nButterflies > 0, "fixture graph should contain butterflies")
  }

  test("q_randwalk: every hop is a true edge and both per-node walks replay the hash-argmin exactly") {
    val edges = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .selectExpr("o_custkey * 2 AS u", "l_suppkey * 2 + 1 AS v")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val P = 2147483647L; val A = 1203958717L; val B = 776531401L
    def h(cur: Long, step: Int, g: Long, dst: Long): Long =
      (A * (((cur % P) * 1000003L + step * 31L + g * 7919L + dst) % P) + B) % P
    def next(cur: Long, step: Int, g: Long): Long =
      adj(cur).minBy(d => (h(cur, step, g, d), d))
    val got = Graph.queries("q_randwalk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length === adj.size * 2, "expected gamma=2 walks per node")
    got.foreach { case (w, g, h1, h2, h3) =>
      assert(adj(w).contains(h1) && adj(h1).contains(h2) && adj(h2).contains(h3),
        s"walk ($w, $g) traverses a non-edge")
      assert(h1 === next(w, 1, g) && h2 === next(h1, 2, g) && h3 === next(h2, 3, g),
        s"walk ($w, $g) diverges from the hash-argmin replay")
    }
    // the walk index must actually decorrelate trajectories somewhere
    val byNode = got.groupBy(_._1)
    assert(byNode.exists { case (_, ws) => ws.map(t => (t._3, t._4, t._5)).distinct.size > 1 },
      "gamma walks never diverge — the g term is inert on the fixture")
  }

  test("q_kcore: peel rule is exact on a synthetic cascade; fixture output matches recount") {
    import spark.implicits._
    // Triangle {1,2,3} + tail chain 3-4-5-6: the 2-core is exactly the
    // triangle, and reaching it REQUIRES the cascade (peeling leaf 6
    // reduces 5 to degree 1, then 5 peels, then 4 — one round is not
    // enough, which is what distinguishes k-core from a one-shot
    // degree filter).
    val und = Seq((1L,2L),(2L,3L),(1L,3L),(3L,4L),(4L,5L),(5L,6L))
    val edges = und.flatMap { case (a,b) => Seq((a,b),(b,a)) }.toDF("u","v")
    val core = graft.operators.Graph.kcorePeel(edges, 2, 3)
      .select($"u", $"v").as[(Long,Long)].collect().toSet
    assert(core === Set((1L,2L),(2L,1L),(2L,3L),(3L,2L),(1L,3L),(3L,1L)),
      s"2-core should be the triangle, got $core")
    // one round would NOT have sufficed (chain partially survives)
    val oneRound = graft.operators.Graph.kcorePeel(edges, 2, 1)
      .select($"u").distinct().count()
    assert(oneRound > 3, "cascade untested: one round already reached the core")
    // fixture query: survivors' degrees recount from the peeled subgraph
    val got = graft.operators.Graph.queries("q_kcore")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got.nonEmpty)
    assert(got.values.forall(_ >= 8L), "a survivor fell below k within the core")
  }

  test("q_community: labels are reachable node ids and propagation merges communities") {
    val rows = Graph.queries("q_community")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nodes = rows.map(_.getLong(0)).toSet
    val labels = rows.map(_.getLong(2)).toSet
    // every community label is itself a node of the graph
    assert(labels.subsetOf(nodes), "community label that is not a node id")
    // 3 rounds of mode-propagation must merge SOME labels away from the
    // all-singleton start (the trade graph is well connected)
    assert(labels.size < nodes.size, "no labels merged — propagation did nothing")
    // deterministic tie-breaking ⇒ bit-identical replay
    val again = Graph.queries("q_community")(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sameElements(again.map(_.getLong(2))))
  }

  test("q_bigram_lm: repetition scores above novelty, backoff fires below cutoff") {
    val scores = graft.operators.TextAnalysis.queries("q_bigram_lm")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.nonEmpty)
    // scores are average log-probs: strictly non-positive
    assert(scores.values.forall(_ <= 0.0), "a log-prob average came out positive")
    // a doc made of one repeated high-frequency bigram must outscore
    // the corpus median (its bigram prob ≈ 1 within the pair)
    val median = scores.values.toSeq.sorted.apply(scores.size / 2)
    assert(scores.values.max > median, "no doc beats the median — degenerate scores")
  }

  test("q_classifier_score: TRAINED scores match an independent driver-side fold") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(20).collect()
    val got = Learn.queries("q_classifier_score")(spark, sf)
      .select(col("doc_id"), col("score_micro"), col("keep"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val fin = Learn.trainedClassifier(spark, sf).last
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(t: String): Int = {
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 2), 16)
    }
    docs.foreach { r =>
      val zE12 = fin.b + r.getString(1).split(" ", -1).map(t => fin.w(bucket(t))).sum
      val scoreMicro = zE12 / 1000000L // Long / truncates toward zero = DIV
      val (gotScore, gotKeep) = got(r.getLong(0))
      assert(gotScore == scoreMicro, s"doc ${r.getLong(0)}: $gotScore vs $scoreMicro")
      assert(gotKeep == (zE12 > 0L), s"doc ${r.getLong(0)} keep flag")
    }
  }

  test("q_zorder: the Morton key is bijective and de-interleaves to the input keys") {
    val rows = Pipeline.queries("q_zorder")(spark, sf).collect()
    assert(rows.map(_.getLong(2)).distinct.length == rows.length, "zval collision")
    rows.take(100).foreach { r =>
      val z = r.getLong(2)
      var x = 0L; var y = 0L
      (0 until 16).foreach { i =>
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(x == r.getLong(0) && y == r.getLong(1), s"z=$z")
    }
  }

  test("q_rowid: ids are dense 0..N-1 in doc_id order") {
    val rows = Pipeline.queries("q_rowid")(spark, sf)
      .select(col("doc_id"), col("row_id")).collect()
    assert(rows.map(_.getLong(1)).toSeq == rows.indices.map(_.toLong))
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).sortBy(identity).toSeq)
  }

  test("q_degree_dist: power-of-two buckets bound their degrees and partition the nodes") {
    val rows = Graph.queries("q_degree_dist")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.foreach { case (b, _, lo, hi) =>
      assert(lo >= (1L << b) && hi < (1L << (b + 1)),
        s"bucket $b: degrees [$lo,$hi] outside [2^$b, 2^${b + 1})")
    }
    val directed = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val nNodes = directed.select(col("src")).union(directed.select(col("dst")))
      .distinct().count()
    assert(rows.map(_._2).sum == nNodes, "buckets must partition the node set")
  }

  test("q_assoc_rules: confidence and lift recompute from pair supports and item counts") {
    val got = Pipeline.queries("q_assoc_rules")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nBaskets = items.map(_._1).distinct.length.toLong
    val cnt = items.groupBy(_._2).map { case (pk, v) => pk -> v.length.toLong }
    val support = items.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (p, v) => p -> v.size.toLong }
    got.foreach { case (ante, cons, sup, nAnte, conf, lift) =>
      val key = (math.min(ante, cons), math.max(ante, cons))
      assert(support(key) == sup && cnt(ante) == nAnte)
      assert(conf == sup * 1000000L / cnt(ante))
      assert(lift == sup * nBaskets * 1000000L / (cnt(ante) * cnt(cons)))
    }
  }

  test("q_doc_outlier: top-20 matches an independent centroid-distance recompute") {
    val got = Learn.queries("q_doc_outlier")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000).toLong).toArray))
    val n = vecs.length.toLong
    val cent = (0 until 64).map(j => Math.floorDiv(vecs.map(_._2(j)).sum, n)).toArray
    val expected = vecs.map { case (id, v) =>
      (id, v.indices.foldLeft(0L)((acc, j) => { val dd = v(j) - cent(j); acc + dd * dd }))
    }.sortBy { case (id, dd) => (-dd, id) }.take(20).toSeq
    assert(got == expected)
  }

  test("q_gram: diagonal variances non-negative; covariances match Spark's covar_samp") {
    val rows = Learn.queries("q_gram")(spark, sf).collect()
    assert(rows.length == 64 * 65 / 2)
    rows.filter(r => r.getInt(0) == r.getInt(1)).foreach { r =>
      assert(r.getDouble(6) >= 0.0, s"dim ${r.getInt(0)}: negative variance")
    }
    // spot-check entries against the built-in covariance on the same grid
    val q = Tables.embeddings(spark, sf).selectExpr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv")
    val checks = Seq((1, 1), (1, 2), (7, 40), (64, 64))
    val got = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(6)).toMap
    checks.foreach { case (i, j) =>
      val exp = q.selectExpr(s"covar_samp(element_at(qv, $i), element_at(qv, $j)) AS c")
        .collect()(0).getDouble(0)
      assert(math.abs(got((i, j)) - exp) < 1e-4, s"cov($i,$j): ${got((i, j))} vs $exp")
    }
  }

  test("q_auc: rank-sum AUC equals brute-force pair counting (ties at half weight)") {
    val row = Learn.queries("q_auc")(spark, sf).collect().head
    val (nPos, nNeg, aucNum) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val scored = Learn.standInScored(spark, sf)
      .select(col("score_milli"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1) == "en"))
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    assert(nPos == pos.length && nNeg == neg.length)
    // 2·(wins + ties/2) over all pos×neg pairs = auc_num
    var wins2 = 0L
    pos.foreach(p => neg.foreach { n =>
      if (p > n) wins2 += 2 else if (p == n) wins2 += 1
    })
    assert(aucNum == wins2, s"AUC numerator: engine $aucNum vs brute-force $wins2")
    assert(row.getDouble(3) >= 0.0 && row.getDouble(3) <= 1.0)
  }

  test("q_bfs: hop distances equal an independent driver-side BFS") {
    val got = Graph.queries("q_bfs")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val directed = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (directed ++ directed.map(_.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var dist = adj.keySet.filter(_ % 200 == 0).map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val relaxed = dist.toSeq.flatMap { case (u, du) =>
        adj.getOrElse(u, Array.empty[Long]).map(v => v -> (du + 1))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).min }
    }
    assert(got == dist)
  }

  test("q_hits: both roles max-normalized to 1e6; trajectory matches a driver replay") {
    val rows = Graph.queries("q_hits")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hubs = rows.filter(_._1 == "hub").map(t => t._2 -> t._3).toMap
    val auths = rows.filter(_._1 == "authority").map(t => t._2 -> t._3).toMap
    assert(hubs.nonEmpty && auths.nonEmpty)
    // L∞ normalization invariant: every score in [0, 1e6], max exactly 1e6
    assert(hubs.values.max == 1000000L && auths.values.max == 1000000L)
    assert(hubs.values.forall(v => v >= 0L && v <= 1000000L))
    assert(auths.values.forall(v => v >= 0L && v <= 1000000L))
    // independent driver replay of the 2-round integer HITS
    val edges = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var hub = edges.map(_._1).distinct.map(_ -> 1000000L).toMap
    var auth = Map.empty[Long, Long]
    def renorm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> v * 1000000L / mx }
    }
    for (_ <- 1 to 2) {
      auth = renorm(edges.groupBy(_._2).map { case (sp, es) =>
        sp -> es.map(e => hub(e._1)).sum })
      hub = renorm(edges.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => auth(e._2)).sum })
    }
    assert(hubs == hub && auths == auth)
  }

  test("q_pca_power: output matches an independent driver-side power-iteration replay") {
    val quant = Tables.embeddings(spark, sf)
      .selectExpr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv")
      .collect().map(_.getSeq[Long](0).toArray)
    val dim = quant.head.length
    def round(v: Array[Long]): Array[Long] = {
      val z = Array.fill(dim)(0L)
      quant.foreach { qv =>
        val s = qv.indices.map(j => qv(j) * v(j)).sum
        val sc = Math.floorDiv(s, 1000000L)
        qv.indices.foreach(j => z(j) += sc * qv(j))
      }
      z
    }
    def norm(z: Array[Long]): Array[Long] = {
      val qd = math.max(z.map(math.abs).max / 1000000L, 1L)
      z.map(Math.floorDiv(_, qd))
    }
    val z1 = round(Array.fill(dim)(1000000L))
    val z2 = round(norm(z1))
    val loading = norm(z2)
    val got = Learn.queries("q_pca_power")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.map(_._2).toSeq == z2.toSeq)
    assert(got.map(_._3).toSeq == loading.toSeq)
    // the direction is non-degenerate (an all-zero loading would mean
    // the rescale constant swallowed the whole spectrum)
    assert(got.map(_._3).exists(_ != 0L))
  }

  test("q_cluster_eval: metrics match a driver-side recompute from the fitted assignment") {
    val assigned = Learn.fitKMeans(spark, sf, 2)._2
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val labels = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.get(1).toString).toMap
    val cells = assigned.toSeq.map { case (id, c) => (c, labels(id)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    def c2(x: Long) = x * (x - 1) / 2
    val n = cells.values.sum
    val a2 = cells.values.map(c2).sum
    val byC = cells.groupBy(_._1._1).values.map(_.values)
    val sa = byC.map(v => c2(v.sum)).sum
    val pureN = byC.map(_.max).sum
    val sb = cells.groupBy(_._1._2).values.map(v => c2(v.values.sum)).sum
    val cn2 = c2(n)
    val row = Learn.queries("q_cluster_eval")(spark, sf).collect()(0)
    assert(row.getLong(0) == n)
    assert(row.getLong(3) == pureN * 1000000L / n, "purity")
    assert(row.getLong(4) == (cn2 + 2 * a2 - sa - sb) * 1000000L / cn2, "rand")
    val ari = 2.0 * (cn2 * a2 - sa * sb) / (cn2 * (sa + sb) - 2.0 * sa * sb)
    assert(math.abs(row.getDouble(5) - ari) < 1e-4, s"ari ${row.getDouble(5)} vs $ari")
    // sanity: purity and RI are proper fractions, ARI ≤ 1
    assert(row.getLong(3) <= 1000000L && row.getLong(4) <= 1000000L)
    assert(row.getDouble(5) <= 1.0)
  }

  test("q_modularity: moments are internally consistent and bounded") {
    val rows = Graph.queries("q_modularity")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // Σ deg_sum over communities = 2m (every directed entry lands in
    // exactly one source community); Σ in2 ≤ 2m
    val twoM = rows.map(_._4).sum
    assert(twoM % 2 == 0)
    val m = twoM / 2
    assert(rows.map(_._3).sum <= twoM)
    // each row's exact numerator matches its published moments
    rows.foreach { case (c, _, in2, degSum, num, contribMicro) =>
      assert(num == 2 * m * in2 - degSum * degSum, s"community $c numerator")
      assert(contribMicro == Math.floorDiv(num * 1000000L, 4 * m * m),
        s"community $c contribution")
      assert(in2 <= degSum, s"community $c: internal entries exceed degree mass")
    }
    // modularity itself is a proper fraction: |Q| ≤ 1 in micro-units
    val qMicro = rows.map(r => Math.floorDiv(r._5 * 1000000L, 4 * m * m)).sum
    assert(qMicro.abs <= 1000000L + rows.length) // + per-community floor slack
  }

  test("q_graph_sample: edges are real, fanout bounds hold, hash argrank replays") {
    val dirEdges = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .selectExpr("o_custkey * 2 AS u", "l_suppkey * 2 + 1 AS v")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (dirEdges ++ dirEdges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val P = 2147483647L; val A = 1203958717L; val B = 776531401L
    def h(tag: Int, src: Long, dst: Long): Long =
      (A * (((src % P) * 1000003L + tag * 31L + dst) % P) + B) % P
    def topF(tag: Int, src: Long, f: Int): Seq[Long] =
      adj(src).toSeq.sortBy(d => (h(tag, src, d), d)).take(f)
    val got = Graph.queries("q_graph_sample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.foreach { case (root, r1, n1, r2, n2) =>
      assert(adj(root).contains(n1) && adj(n1).contains(n2),
        s"sampled block ($root -> $n1 -> $n2) uses a non-edge")
      assert(r1 >= 1 && r1 <= 3 && r2 >= 1 && r2 <= 2)
      assert(topF(1, root, 3).lift(r1.toInt - 1).contains(n1),
        s"hop-1 sample at ($root, rank $r1) diverges from the hash argrank")
      assert(topF(2, n1, 2).lift(r2.toInt - 1).contains(n2),
        s"hop-2 sample at ($n1, rank $r2) diverges from the hash argrank")
    }
    // node-functional hop-2: blocks through a shared n1 are identical
    val byN1 = got.groupBy(_._3).map { case (n1, rs) => n1 -> rs.map(t => (t._4, t._5)).toSet }
    byN1.foreach { case (n1, pairs) =>
      assert(pairs.size <= 2, s"n1 $n1 has ${pairs.size} distinct hop-2 samples — not node-functional")
    }
  }

  test("q_hard_negatives: brute-force different-label top-2 recompute matches") {
    val emb = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.indices.foldLeft(0L)((acc, i) => { val x = a(i) - b(i); acc + x * x })
    val expected = emb.filter(_._1 % 50 == 0).flatMap { case (qid, ql, qv) =>
      emb.filter(_._2 != ql)
        .map { case (id, l, v) => (id, l, l2(qv, v)) }
        .sortBy { case (id, _, d) => (d, id) }.take(2).zipWithIndex
        .map { case ((id, l, d), i) => (qid, ql, id, l, d, (i + 1).toLong) }
    }.toSet
    val got = Learn.queries("q_hard_negatives")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected, s"got ${got.size} rows vs expected ${expected.size}")
    assert(got.nonEmpty && got.forall { case (_, ql, _, nl, _, _) => ql != nl })
  }

  test("q_louvain: every move matches an independent Scala gain argmax") {
    // Third-path recompute: edges from the raw tables, labels from
    // q_community (the same LP vector the query refines), then the
    // exact Δnum(i: a→b) = 2m·(k_ib − k_ia) − k_i·(Σtot_b − Σtot_a + k_i)
    // argmax per node in plain Scala.
    val dirEdges = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val entries = dirEdges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val m = dirEdges.length.toLong
    val label = Graph.queries("q_community")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val k = entries.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    val stot = k.groupBy { case (n, _) => label(n) }
      .map { case (c, ks) => c -> ks.values.sum }
    val kic = entries.groupBy(_._1).map { case (n, es) =>
      n -> es.groupBy { case (_, nbr) => label(nbr) }
        .map { case (c, xs) => c -> xs.length.toLong }
    }
    val got = Graph.queries("q_louvain")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty && got.length == label.size)
    got.foreach { case (node, oldC, newC, bestGain, moved) =>
      assert(oldC == label(node), s"node $node old community")
      val a = oldC; val ki = k(node)
      val kia = kic(node).getOrElse(a, 0L)
      val cands = kic(node).collect { case (b, kb) if b != a =>
        (2 * m * (kb - kia) - ki * (stot(b) - stot(a) + ki), b)
      }
      if (cands.isEmpty) {
        assert(bestGain == 0L && newC == a && moved == 0L, s"node $node: no candidates")
      } else {
        val (g, b) = cands.maxBy { case (g, b) => (g, -b) }
        assert(bestGain == g, s"node $node best gain: got $bestGain want $g")
        if (g > 0) assert(newC == b && moved == 1L, s"node $node should move to $b")
        else assert(newC == a && moved == 0L, s"node $node should stay")
      }
    }
    // the move step must strictly help somewhere on real data, else
    // the operator is vacuous on the fixture
    assert(got.exists(_._5 == 1L), "no node moved — fixture makes the refinement vacuous")
  }

  test("q_trustrank: full trajectory replays driver-side; restart lands only on seeds") {
    val out = Graph.queries("q_trustrank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
    assert(out.nonEmpty)
    val e0 = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("s"), (col("l_suppkey") * 2 + 1).as("t"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = e0.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val seeds = Tables.customer(spark, sf).filter(col("c_nationkey") === 0)
      .select(col("c_custkey") * 2).collect().map(_.getLong(0)).toSet
    var pr = deg.keys.map(n => n -> (if (seeds(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => (pr(src) * 85) / (deg(src) * 100) }.sum
      }
      pr = contrib.map { case (n, c) => n -> ((if (seeds(n)) 150000L else 0L) + c) }
    }
    val expected = pr.toSeq.map { case (n, t) =>
      (n, if (n % 2 == 0) "customer" else "supplier", seeds(n), t)
    }.sortBy { case (n, _, _, t) => (-t, n) }
    assert(out.toSeq == expected, "trustrank diverges from the driver replay")
    // seeds exist on the fixture and always carry at least the restart;
    // unlike q_pagerank there is NO universal rank floor — trust is
    // whatever actually flowed from the seed set
    assert(out.count(_._3) > 0, "no seed present in the trade graph")
    out.filter(_._3).foreach { case (n, _, _, t) =>
      assert(t >= 150000L, s"seed $n below restart mass")
    }
  }

  test("q_ood_knn: top-20 equals the brute-force 3rd-NN distances (bound is lossless)") {
    val out = Learn.queries("q_ood_knn")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 20)
    val pts = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); s += dd * dd; i += 1 }
      s
    }
    val expected = pts.map { case (id, qv) =>
      val ds = pts.filter(_._1 != id)
        .map { case (oid, oqv) => (d2(qv, oqv), oid) }.sorted
      val (dd3, n3) = ds(2)
      (id, n3, dd3)
    }.sortBy { case (id, _, dd3) => (-dd3, id) }.take(20)
    assert(out.toSeq == expected.toSeq, "q_ood_knn diverges from brute force")
  }

  test("q_coreset: selection trajectory and coverage equal a driver-side greedy replay") {
    val out = Learn.queries("q_coreset")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == 5)
    val pts = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); s += dd * dd; i += 1 }
      s
    }
    // greedy farthest-point replay: seed vec_id 0, argmax ties → low id
    var sel = Vector((0L, pts.find(_._1 == 0L).get._2, 0L))
    for (_ <- 1 until 5) {
      val cand = pts.filter(p => !sel.exists(_._1 == p._1))
        .map { case (id, qv) => (id, qv, sel.map(c => d2(qv, c._2)).min) }
      val far = cand.minBy { case (id, _, dm) => (-dm, id) }
      sel :+= far
    }
    val asn = pts.map { case (_, qv) =>
      val ds = sel.map(c => d2(qv, c._2))
      val m = ds.min
      (sel(ds.indexOf(m))._1, m) // earliest-selected tiebreak
    }
    val expected = sel.zipWithIndex.map { case ((cid, _, fd), r) =>
      val mine = asn.filter(_._1 == cid)
      (r.toLong, cid, fd, mine.length.toLong, mine.map(_._2).max)
    }
    assert(out.toSeq == expected, "coreset diverges from the greedy replay")
    // greedy invariants: the max-min distance is non-increasing, and
    // after all k picks no point sits farther than the last pick stood
    val fars = out.drop(1).map(_._3)
    assert(fars.zip(fars.drop(1)).forall { case (a, b) => b <= a }, "far_d2 not monotone")
    assert(out.map(_._5).max <= fars.last, "coverage radius exceeds the last pick's distance")
  }

  test("q_dbscan: roles and clusters equal an independent driver-side DBSCAN") {
    val out = Learn.queries("q_dbscan")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.nonEmpty)
    // Independent ground truth: quadratic ε-scan over the same augmented
    // quantized set (no cells, no probe), union-find over core-core
    // pairs (min-id root), min-core-cluster border rule.
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val aug = base ++ base.filter(_._1 % 5 == 0).flatMap { case (id, qv) =>
      (1 to 4).map(k => (id + k * 1000000L, qv.map(_ + 40L * k)))
    }
    val eps2 = 640000L
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); s += dd * dd; i += 1 }
      s
    }
    val n = aug.length
    val nbrs = Array.fill(n)(List.empty[Int])
    for (i <- 0 until n; j <- i + 1 until n if d2(aug(i)._2, aug(j)._2) <= eps2) {
      nbrs(i) ::= j; nbrs(j) ::= i
    }
    val isCore = (0 until n).map(i => nbrs(i).size + 1 >= 4)
    val ids = aug.map(_._1)
    val parent = scala.collection.mutable.Map[Long, Long](ids.map(x => x -> x).toSeq: _*)
    def find(x: Long): Long = {
      val p = parent(x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for (i <- 0 until n; j <- nbrs(i) if isCore(i) && isCore(j)) {
      val (ru, rv) = (find(ids(i)), find(ids(j)))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val expected = (0 until n).map { i =>
      val nn = nbrs(i).size + 1L
      if (isCore(i)) (ids(i), nn, "core", find(ids(i)))
      else {
        val coreNb = nbrs(i).filter(isCore(_))
        if (coreNb.nonEmpty) (ids(i), nn, "border", coreNb.map(j => find(ids(j))).min)
        else (ids(i), nn, "noise", -1L)
      }
    }.sortBy(_._1)
    assert(out.toSeq == expected, "DBSCAN output diverges from the independent recompute")
    // the planted fixture must exercise all three roles
    val byRole = out.groupBy(_._3).map { case (k, v) => k -> v.length }
    assert(byRole.getOrElse("core", 0) > 0 && byRole.getOrElse("border", 0) > 0 &&
      byRole.getOrElse("noise", 0) > 0, s"degenerate fixture roles: $byRole")
  }

  test("dbscanCandidates: one dense cell is stripe-bounded, never O(|cell|²)") {
    // Worst case for the coarse codebook: EVERY point homes in one
    // cell, spread along coordinate 1 so ε-stripes (width 800) hold
    // ~10 points each. The candidate census must be EXACTLY the
    // stripe-adjacent pairs — linear in n — where the un-striped
    // cell join would emit n(n−1)/2.
    val n = 900
    val epsQ = 800L
    val hot = spark.range(n).selectExpr(
      "id AS vec_id",
      "0 AS home",
      "array(0L) AS darr", // one centroid, distance 0 → every probe passes
      "0L AS qdist",
      s"(id * 80 + 80000) DIV $epsQ AS g",
      "transform(array(id * 80), v -> CAST(v AS DOUBLE)) AS dv",
      "CAST(id * 80 AS DOUBLE) * CAST(id * 80 AS DOUBLE) AS nrm")
    val cand = Learn.dbscanCandidates(hot, epsQ)
    val got = cand.count()
    // independent census: pairs a<b with |stripe(a) − stripe(b)| <= 1
    def stripe(i: Long) = (i * 80 + 80000) / epsQ
    val expected = (for {
      a <- 0L until n; b <- (a + 1) until n
      if math.abs(stripe(a) - stripe(b)) <= 1
    } yield 1).size.toLong
    assert(got === expected,
      s"stripe census mismatch: got $got, expected $expected")
    assert(got < n.toLong * n / 20,
      s"hot cell must stay subquadratic: $got vs all-pairs ${n.toLong * (n - 1) / 2}")
    // and the pairing stays an equi-join on (cell, stripe)
    val plan = cand.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "candidate pairing must join on (cell, stripe) keys:\n" + plan.take(2000))
  }

  test("clusterLabels: steady-state dedup clustering spends exactly ONE convergence probe") {
    operators.NearDup.clusterLabelCache.invalidateAll()
    Graph.convergenceProbes.set(0)
    val labels = operators.NearDup.clusterLabels(spark, sf)
    labels.count() // drive the clustering to completion
    assert(Graph.convergenceProbes.get() === 1L,
      "shallow dup graph must converge within the first geometric chunk " +
        s"(probes = ${Graph.convergenceProbes.get()})")
    operators.NearDup.clusterLabelCache.invalidateAll()
  }

  test("q_auc_subgroup: each slice replays the pairwise AUC; gaps reconcile to the pooled row") {
    val out = Learn.queries("q_auc_subgroup")(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val scored = Learn.standInScored(spark, sf)
      .select(col("doc_id"), col("lang"), col("score_milli")).collect()
      .map(r => (r.getLong(0), r.getString(1) == "en", r.getLong(2)))
    val srcOf = Tables.documents(spark, sf).select(col("doc_id"), col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // brute-force pairwise AUC (ties count half) per subgroup incl. ALL
    def bruteAuc(rows: Seq[(Boolean, Long)]): (Long, Long, Long) = {
      val pos = rows.filter(_._1).map(_._2); val neg = rows.filterNot(_._1).map(_._2)
      val wins2 = (for (p <- pos; n <- neg)
        yield if (p > n) 2L else if (p == n) 1L else 0L).sum
      (pos.size.toLong, neg.size.toLong,
        wins2 * 1000000L / (2L * pos.size * neg.size))
    }
    val slices = scored.map { case (id, en, sc) => (srcOf(id), en, sc) }
    val groups = slices.groupBy(_._1).map { case (g, xs) => g -> xs.map(t => (t._2, t._3)).toSeq } +
      ("ALL" -> slices.map(t => (t._2, t._3)).toSeq)
    val pooledMicro = out("ALL")._3
    groups.foreach { case (g, rows) =>
      val (np, nn, auc) = bruteAuc(rows)
      val (gp, gn, gAuc, gGap) = out(g)
      assert(gp == np && gn == nn, s"$g: counts")
      assert(gAuc == auc, s"$g: AUC $gAuc vs brute $auc")
      assert(gGap == gAuc - pooledMicro, s"$g: gap identity")
      assert(gAuc >= 0 && gAuc <= 1000000L)
    }
    assert(out("ALL")._4 == 0L)
  }

  test("q_survival: product-limit fold replays serially; curve is monotone; censoring non-vacuous") {
    val out = Learn.queries("q_survival")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // serial driver replay from raw events
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) DIV 3600000000").as("h"),
        expr("event_type = 'purchase' AND CAST(floor(value * 1000 + 0.5) AS BIGINT) > 100000").as("tgt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // .toSeq BEFORE the map: mapping a Map to (life, death) PAIRS
    // would rebuild a Map keyed by life and silently drop users that
    // share a lifetime
    val perUser = ev.groupBy(_._1).toSeq.map { case (_, rows) =>
      val fh = rows.map(_._2).min
      val tp = rows.filter(_._3).map(_._2).sorted.headOption
      (tp.map(_ - fh).getOrElse(rows.map(_._2).max - fh), tp.isDefined)
    }
    assert(perUser.exists(_._2) && perUser.exists(!_._2), "no censored (or no converted) users")
    val n = perUser.size.toLong
    val steps = perUser.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, xs) =>
      (t, xs.count(_._2).toLong, xs.size.toLong)
    }
    var removed = 0L; var sMicro = 1000000L
    val expected = steps.flatMap { case (t, d, m) =>
      val r = n - removed; removed += m
      if (d > 0) { sMicro = sMicro * (r - d) / r; Some((t, r, d, sMicro)) } else None
    }
    assert(out.toSeq == expected, "KM curve diverges from the serial replay")
    // S non-increasing, at-risk strictly decreasing across steps
    assert(out.map(_._4).toSeq == out.map(_._4).sorted.reverse.toSeq)
    assert(out.map(_._2).toSeq == out.map(_._2).sorted.reverse.toSeq)
  }

  test("q_lag_features: point-in-time safety — features replay from strictly preceding rows only") {
    val got = Learn.queries("q_lag_features")(spark, sf).collect()
      .map(r => r.getLong(0) -> (Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(6), r.getLong(7))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getLong(3)))
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val seq = rows.sortBy(r => (r._3.getTime, r._2))
      seq.zipWithIndex.foreach { case ((_, eid, _, _), i) =>
        val frame = seq.slice(math.max(0, i - 3), i + 1).map(_._4)
        val (lag1, lag2, rmean, rvar) = got(eid)
        assert(lag1 == (if (i >= 1) Some(seq(i - 1)._4) else None), s"event $eid lag1")
        assert(lag2 == (if (i >= 2) Some(seq(i - 2)._4) else None), s"event $eid lag2")
        val c = frame.length.toLong
        assert(rmean == frame.sum / c, s"event $eid rolling mean")
        assert(rvar == (c * frame.map(x => x * x).sum - frame.sum * frame.sum) / (c * c),
          s"event $eid rolling variance")
      }
    }
  }

  test("q_target_encode: a row's own target never enters its encoding") {
    val got = Learn.queries("q_target_encode")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val ev = got.values.toSeq
    val byCat = ev.groupBy(_._1).map { case (c, xs) => c -> (xs.map(_._2).sum, xs.length.toLong) }
    val gmean = ev.map(_._2).sum / ev.length
    got.foreach { case (eid, (cat, vm, enc)) =>
      val (sCat, nCat) = byCat(cat)
      assert(enc == (sCat - vm + 20L * gmean) / (nCat - 1 + 20), s"event $eid: LOO form broken")
    }
    // leakage tripwire: using the with-self mean must CHANGE at least
    // some encodings — otherwise the subtract-self is vacuous here
    assert(got.exists { case (_, (cat, vm, enc)) =>
      val (sCat, nCat) = byCat(cat)
      enc != (sCat + 20L * gmean) / (nCat + 20)
    }, "LOO vs plain encoding indistinguishable on this fixture")
  }

  /** (keep-decision, is-en) pairs from the already-oracle-verified
    * classifier scoring pass — the shared fixture for the threshold
    * eval specs below. */
  private def predPos: Seq[(Boolean, Boolean)] =
    Learn.standInScored(spark, sf).collect()
      .map(r => (r.getAs[Long]("score_milli") > 0L) ->
        (r.getAs[String]("lang") == "en")).toSeq

  test("q_mcc: confusion, F1 and MCC replay from the scored rows") {
    val r = Learn.queries("q_mcc")(spark, sf).collect().head
    val pp = predPos
    val tp = pp.count(t => t._1 && t._2).toLong
    val fp = pp.count(t => t._1 && !t._2).toLong
    val fn = pp.count(t => !t._1 && t._2).toLong
    val tn = pp.count(t => !t._1 && !t._2).toLong
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"), r.getAs[Long]("tn"))
      === ((tp, fp, fn, tn)))
    assert(r.getAs[Long]("f1_micro") === 2 * tp * 1000000L / (2 * tp + fp + fn))
    val mcc = (tp * tn - fp * fn).toDouble /
      math.sqrt(((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)).toDouble)
    assert(math.abs(r.getAs[Double]("mcc") - mcc) < 1e-5)
  }

  test("q_log_loss: quantized softplus sums replay from scores") {
    val got = Learn.queries("q_log_loss")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val scored = Learn.standInScored(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("score_milli"), (col("lang") === "en").as("pos"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    scored.groupBy(_._1).foreach { case (src, grp) =>
      val sum = grp.map { case (_, sc, pos) =>
        val w = (if (pos) -sc else sc) / 1000.0
        math.floor((math.max(w, 0.0) + math.log1p(math.exp(-math.abs(w)))) * 10000 + 0.5).toLong
      }.sum
      val (n, gotSum) = got(src)
      assert(n === grp.size.toLong)
      assert(gotSum === sum, s"$src: $gotSum vs naive $sum")
    }
  }

  test("q_conformal: order-statistic threshold and coverage replay") {
    val r = Learn.queries("q_conformal")(spark, sf).collect().head
    val nc = Learn.standInScored(spark, sf)
      .select(col("doc_id"), col("score_milli"), (col("lang") === "en").as("pos"))
      .collect().map(q => (q.getLong(0), if (q.getBoolean(2)) -q.getLong(1) else q.getLong(1)))
    val cal = nc.filter(_._1 % 2 == 0).map(_._2).sorted
    val rank = ((cal.length + 1) * 9 + 9) / 10
    val qhat = cal(rank - 1) // r-th smallest, 1-based
    assert(r.getAs[Long]("n_cal") === cal.length.toLong)
    assert(r.getAs[Long]("r") === rank.toLong)
    assert(r.getAs[Long]("qhat") === qhat)
    val test = nc.filter(_._1 % 2 == 1).map(_._2)
    val cov = test.count(_ <= qhat).toLong
    assert(r.getAs[Long]("n_cov") === cov)
    assert(r.getAs[Long]("cov_micro") === cov * 1000000L / test.length)
  }

  test("q_avg_precision: AP replays from the explicitly sorted ranking") {
    val r = Learn.queries("q_avg_precision")(spark, sf).collect().head
    val ranked = Learn.standInScored(spark, sf)
      .select(col("doc_id"), col("score_milli"), (col("lang") === "en").as("pos"))
      .collect().map(q => (q.getLong(0), q.getLong(1), q.getBoolean(2)))
      .sortBy(t => (-t._2, t._1))
    var cum = 0L; var apNum = 0L
    ranked.zipWithIndex.foreach { case ((_, _, pos), i) =>
      if (pos) { cum += 1; apNum += cum * 1000000L / (i + 1) }
    }
    val nPos = ranked.count(_._3).toLong
    assert(r.getAs[Long]("n_pos") === nPos)
    assert(r.getAs[Long]("ap_micro") === apNum / nPos)
    // R-precision: positives among the top n_pos
    val rp = ranked.take(nPos.toInt).count(_._3).toLong
    assert(r.getAs[Long]("rprec_micro") === rp * 1000000L / nPos)
  }

  test("q_roc_points: monotone sweep ending at (1,1), consistent with q_auc's ordering") {
    val rows = Learn.queries("q_roc_points")(spark, sf).collect()
      .sortBy(-_.getAs[Long]("bin"))
    assert(rows.nonEmpty)
    val tpr = rows.map(_.getAs[Long]("tpr_micro"))
    val fpr = rows.map(_.getAs[Long]("fpr_micro"))
    // sweeping the threshold down only ADDS positives and negatives
    assert(tpr.zip(tpr.tail).forall { case (a, b) => a <= b })
    assert(fpr.zip(fpr.tail).forall { case (a, b) => a <= b })
    assert(tpr.last === 1000000L && fpr.last === 1000000L,
      "the loosest threshold keeps everything")
  }

  test("q_mrr: join-count ranks equal a global-sort replay, reciprocal math exact") {
    val r = graft.operators.SimSearch.queries("q_mrr")(spark, sf).collect().head
    assert(r.getAs[Long]("n_rel") === 3L)
    val best = r.getAs[Long]("best_rank")
    assert(best >= 1L)
    assert(r.getAs[Long]("mrr_micro") <= 1000000L / best,
      "mean reciprocal rank cannot beat the best single rank")
    assert(r.getAs[Long]("mrr_micro") >= 1000000L / best / 3L)
  }

  test("q_fairness_report: gaps are signed deviations from the pooled rates") {
    val rows = Learn.queries("q_fairness_report")(spark, sf).collect()
    assert(rows.length === 8)
    val n = rows.map(_.getAs[Long]("n")).sum
    assert(n === Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val sel = r.getAs[Long]("sel_micro")
      assert(sel >= 0L && sel <= 1000000L)
      // parity_gap restates sel - pooled: all gaps must not share one sign
      // unless every group equals the pool
    }
    val gaps = rows.map(_.getAs[Long]("parity_gap"))
    assert(gaps.exists(_ <= 0L) && gaps.exists(_ >= 0L),
      "deviations from a pooled mean must straddle zero")
  }

  test("q_naive_bayes: confusion matrix partitions the eval half, labels well-formed") {
    val langs = Set("de", "en", "es", "fr", "zh")
    val rows = Learn.queries("q_naive_bayes")(spark, sf).collect()
    val nEval = Tables.documents(spark, sf).filter(col("doc_id") % 2 === 1).count()
    assert(rows.map(_.getAs[Long]("n")).sum === nEval,
      "every eval doc gets exactly one prediction")
    rows.foreach { r =>
      assert(langs.contains(r.getAs[String]("true_lang")))
      assert(langs.contains(r.getAs[String]("pred_lang")))
      assert(r.getAs[Long]("n") > 0L)
    }
  }

  test("q_logreg_gd matches an independent Scala replay of the snapped GD trajectory") {
    val r = Learn.queries("q_logreg_gd")(spark, sf).collect().head
    val rows = Learn.standInScored(spark, sf)
      .select(expr("greatest(least(score_milli, 127999L), -128000L)").as("x"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .collect().map(rr => (rr.getLong(0), rr.getLong(1)))
    def sdiv(a: Long, b: Long): Long = if (a >= 0) a / b else -((-a) / b)
    var (w, b) = (0L, 0L)
    val n = rows.length.toLong
    (1 to 2).foreach { _ =>
      var gx = 0L; var gu = 0L
      rows.foreach { case (x, y) =>
        val sig = 1.0 / (1.0 + math.exp(-((b + w * x).toDouble / 1e12)))
        val u = math.floor((y - sig) * 1000000 + 0.5).toLong
        gx += x * u; gu += u
      }
      w += sdiv(gx, n * 10000); b += sdiv(gu, n * 10000)
    }
    assert(r.getAs[Long]("w_e12") === w, "w after 2 steps")
    assert(r.getAs[Long]("b_e12") === b, "b after 2 steps")
    // with a sane step the loss cannot exceed the w=0 model's ln 2
    val loss = r.getAs[Long]("loss_micro")
    assert(loss > 0L && loss <= 693148L, s"loss_micro $loss")
  }

  test("q_isotonic: minimax fit equals an independent sequential PAV stack replay") {
    val rows = Learn.queries("q_isotonic")(spark, sf).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n"), r.getAs[Long]("np"),
        r.getAs[Long]("iso_micro"))).sortBy(_._1)
    assert(rows.nonEmpty)
    // monotone nondecreasing and a valid probability
    val iso = rows.map(_._4)
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b })
    assert(iso.forall(v => v >= 0L && v <= 1000000L))
    // classic PAV: push blocks, merge while the mean order is violated
    case class Block(w: Long, s: Long) { def mean: Double = s.toDouble / w }
    val stack = collection.mutable.ArrayBuffer.empty[Block]
    rows.foreach { case (_, n, np, _) =>
      var b = Block(n, np)
      while (stack.nonEmpty && stack.last.mean >= b.mean) {
        val t = stack.remove(stack.length - 1)
        b = Block(t.w + b.w, t.s + b.s)
      }
      stack += b
    }
    val pav = stack.flatMap(b => Seq.fill(b.w.toInt)(b.mean)) // per-doc expansion
    val engine = rows.flatMap { case (_, n, _, v) => Seq.fill(n.toInt)(v.toDouble / 1e6) }
    assert(pav.length === engine.length)
    pav.zip(engine).foreach { case (p, e) =>
      assert(math.abs(p - e) < 1e-5, s"PAV $p vs minimax $e")
    }
  }

  test("q_mmd_drift: nonnegative, dominated-by-total share, slice counts add up") {
    val r = Audit.queries("q_mmd_drift")(spark, sf).collect().head
    val mmd2 = r.getAs[Double]("mmd2")
    val share = r.getAs[Double]("top_dim_share")
    assert(mmd2 >= 0.0 && share >= 0.0 && share <= mmd2 + 1e-12)
    assert(r.getAs[Long]("na") + r.getAs[Long]("nb") ===
      Tables.embeddings(spark, sf).count())
    val topDim = r.getAs[Int]("top_dim")
    assert(topDim >= 0 && topDim < 64)
  }

  test("q_ridge_fit matches a naive Scala replay of the same ridge system") {
    val r = Learn.queries("q_ridge_fit")(spark, sf).collect().head
    val rows = Tables.lineitem(spark, sf)
      .selectExpr("CAST(floor(l_quantity + 0.5) AS BIGINT) AS x",
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS z")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length.toDouble
    val sx = rows.map(_._1).sum.toDouble; val sy = rows.map(_._2).sum.toDouble
    val sz = rows.map(_._3).sum.toDouble
    val sxx = rows.map(t => t._1 * t._1).sum.toDouble
    val syy = rows.map(t => t._2 * t._2).sum.toDouble
    val sxy = rows.map(t => t._1 * t._2).sum.toDouble
    val sxz = rows.map(t => t._1 * t._3).sum.toDouble
    val syz = rows.map(t => t._2 * t._3).sum.toDouble
    val (cxx, cyy, cxy) = (n * sxx - sx * sx, n * syy - sy * sy, n * sxy - sx * sy)
    val (cxz, cyz) = (n * sxz - sx * sz, n * syz - sy * sz)
    val det = (cxx + 1e10) * (cyy + 1e10) - cxy * cxy
    val b1 = ((cyy + 1e10) * cxz - cxy * cyz) / det
    val b2 = ((cxx + 1e10) * cyz - cxy * cxz) / det
    assert(math.abs(r.getAs[Double]("beta_qty") - b1) < 1e-4)
    assert(math.abs(r.getAs[Double]("beta_disc") - b2) < 1e-4)
    // (no sign assertion: the synthetic price is NOT quantity-linked,
    // unlike real TPC-H — the fit just has to match the replay)
    assert(r.getAs[Long]("n") === rows.length.toLong)
  }

  test("q_label_noise: confident cells partition within class counts, rates valid") {
    val r = Learn.queries("q_label_noise")(spark, sf).collect().head
    val (c00, c01, c10, c11) = (r.getAs[Long]("c00"), r.getAs[Long]("c01"),
      r.getAs[Long]("c10"), r.getAs[Long]("c11"))
    val total = Tables.documents(spark, sf).count()
    val nPos = Tables.documents(spark, sf).filter(col("lang") === "en").count()
    // pred is exclusive (overlap resolves by margin), so the cells
    // UNDERCOUNT or exactly partition each class — never exceed it
    assert(c10 + c11 <= nPos && c00 + c01 <= total - nPos)
    assert(Seq(c00, c01, c10, c11).forall(_ >= 0L))
    val f0 = r.getAs[Long]("flip0_micro"); val f1 = r.getAs[Long]("flip1_micro")
    assert(f0 >= 0L && f0 <= 1000000L && f1 >= 0L && f1 <= 1000000L)
  }

  test("q_assortativity is a valid correlation over the doubled edge view") {
    val r = Graph.queries("q_assortativity")(spark, sf).collect().head
    val a = r.getAs[Double]("assortativity")
    assert(a >= -1.0 && a <= 1.0)
    // n counts each undirected edge twice (Newman's convention)
    val edges = graft.operators.Graph.tradeBase(spark, sf).count()
    assert(r.getAs[Long]("n") === 2L * edges)
  }

  test("q_reciprocity: mutual edges bounded by total, ratio exact") {
    val r = Graph.queries("q_reciprocity")(spark, sf).collect().head
    val (ne, nm) = (r.getAs[Long]("n_edges"), r.getAs[Long]("n_mutual"))
    assert(ne > 0L && nm >= 0L && nm <= ne)
    assert(r.getAs[Long]("recip_micro") === nm * 1000000L / ne)
  }

  /** Shared driver-side copy of the weighted undirected trade graph
    * (the q_sssp/q_mst derived symmetric weight). */
  private def weightedTradeEdges(): Seq[(Long, Long, Long)] =
    Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
      .distinct().collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), 1L + (r.getLong(0) * r.getLong(1) + r.getLong(0) + r.getLong(1)) % 9))

  test("q_sssp: packed (cost, hops) state matches a driver-side Bellman-Ford replay") {
    val got = Graph.queries("q_sssp")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val edges = weightedTradeEdges()
    val both = edges ++ edges.map { case (u, v, w) => (v, u, w) }
    val adj = both.groupBy(_._1).map { case (k, vs) => k -> vs.map(e => (e._2, e._3)) }
    var st = adj.keySet.filter(_ % 200 == 0).map(_ -> 0L).toMap
    for (_ <- 1 to 4) {
      val relaxed = st.toSeq.flatMap { case (u, pk) =>
        adj.getOrElse(u, Seq.empty).map { case (v, w) => v -> (pk + w * 100 + 1) }
      }
      st = (st.toSeq ++ relaxed).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    }
    assert(got == st.map { case (k, pk) => k -> (pk / 100, pk % 100) })
    // each edge weighs in [1, 9], so cost ∈ [hops, 9·hops] within the 4-round horizon
    assert(got.values.forall { case (dw, h) => h >= 0 && h <= 4 && dw >= h && dw <= 9 * h })
  }

  test("q_closeness: harmonic sums match a driver multi-source BFS replay") {
    val got = Graph.queries("q_closeness")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val edges = weightedTradeEdges().map(e => (e._1, e._2))
    val both = edges ++ edges.map(_.swap)
    val adj = both.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    // fixed 32-node hash-rank panel (round 10 — O(L·n) state)
    val landmarks = adj.keySet.toSeq
      .sortBy(v => ((v * 2654435761L) % 1000003L, v)).take(32).toSet
    var dist = landmarks.map(l => (l, l) -> 0L).toMap
    for (_ <- 1 to 3) {
      val relaxed = dist.toSeq.flatMap { case ((l, u), du) =>
        adj.getOrElse(u, Seq.empty).map(v => (l, v) -> (du + 1))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    }
    val want = dist.toSeq.filter(_._2 > 0).groupBy(_._1._2).map { case (n, xs) =>
      n -> (xs.size.toLong, xs.map(x => 1000000L / x._2).sum)
    }
    assert(got == want)
    assert(got.values.forall(_._1 <= landmarks.size))
  }

  test("q_mst: chosen edges are a forest contained in the unique strict-order MST") {
    val rows = Graph.queries("q_mst")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // weights re-derive from the ids
    rows.foreach { case (_, u, v, w) => assert(w == 1L + (u * v + u + v) % 9) }
    // Kruskal under the same strict (w, u, v) total order yields THE
    // unique MST forest for that order; every Borůvka choice must be in it.
    def mkFind(p: scala.collection.mutable.Map[Long, Long]): Long => Long = {
      def f(x: Long): Long = {
        val px = p.getOrElse(x, x)
        if (px == x) x else { val r = f(px); p(x) = r; r }
      }
      f
    }
    val kp = scala.collection.mutable.Map[Long, Long]()
    val kFind = mkFind(kp)
    val mst = scala.collection.mutable.Set[(Long, Long)]()
    weightedTradeEdges().sortBy { case (u, v, w) => (w, u, v) }.foreach { case (u, v, _) =>
      val (ru, rv) = (kFind(u), kFind(v))
      if (ru != rv) { kp(ru) = rv; mst += ((u, v)) }
    }
    rows.foreach { case (r, u, v, _) =>
      assert(mst.contains((u, v)), s"round-$r edge ($u,$v) outside the unique MST")
    }
    // the chosen set itself is acyclic (forest): union-find admits every edge
    val fp = scala.collection.mutable.Map[Long, Long]()
    val fFind = mkFind(fp)
    rows.foreach { case (r, u, v, _) =>
      val (ru, rv) = (fFind(u), fFind(v))
      assert(ru != rv, s"round-$r edge ($u,$v) closes a cycle")
      fp(ru) = rv
    }
  }

  test("q_cart_tree: splits match an exhaustive driver-side search; counts partition") {
    val rows = Learn.queries("q_cart_tree")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(rows.keySet == Set("root", "L", "R"))
    // children partition the root's docs and positives
    assert(rows("L")._4 + rows("R")._4 == rows("root")._4)
    assert(rows("L")._5 + rows("R")._5 == rows("root")._5)
    // exhaustive replay with the same integer math
    val docs = Tables.documents(spark, sf)
      .selectExpr("n_chars DIV 8 AS f1",
        "CAST(size(split(text, ' ')) AS BIGINT) DIV 8 AS f2",
        "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def best(sub: Seq[(Long, Long, Long)]): (Long, Long, Long, Long, Long) = {
      val n = sub.size.toLong
      val pos = sub.map(_._3).sum
      def imp(p: Long, t: Long): Long =
        1000000L - (p * p + (t - p) * (t - p)) * 1000000L / (t * t)
      val cands = for {
        fid <- Seq(1L, 2L)
        f = (e: (Long, Long, Long)) => if (fid == 1) e._1 else e._2
        b <- sub.map(f).distinct
        left = sub.filter(e => f(e) <= b)
        if left.size < sub.size
      } yield {
        val (l, lp) = (left.size.toLong, left.map(_._3).sum)
        val w = (l * imp(lp, l) + (n - l) * imp(pos - lp, n - l)) / n
        (w * (1L << 40) + fid * (1L << 32) + b, fid, b, w)
      }
      val m = cands.minBy(_._1)
      (m._2, m._3, m._4, n, pos)
    }
    assert(rows("root") == best(docs))
    val (rfid, rb) = (rows("root")._1, rows("root")._2)
    val (lDocs, rDocs) = docs.partition(e => (if (rfid == 1) e._1 else e._2) <= rb)
    assert(rows("L") == best(lDocs))
    assert(rows("R") == best(rDocs))
  }

  test("q_als_rank1: factor trajectory and MAE match a driver-side integer replay") {
    val got = Learn.queries("q_als_rank1")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.length <= 20)
    val rat = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"), col("l_suppkey")).agg(count(lit(1)).as("r"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSeq
    val u3 = rat.groupBy(_._1._1).map { case (c, xs) =>
      c -> xs.map(_._2).sum * 1000L * 1000000L / (100000L + xs.size.toLong * 1000000L)
    }
    val v = rat.groupBy(_._1._2).map { case (sp, xs) =>
      val num = xs.map(x => x._2 * u3(x._1._1)).sum
      val den = xs.map(x => u3(x._1._1) * u3(x._1._1)).sum
      sp -> num * 1000000L / (100000L + den)
    }
    val errs = rat.map { case ((c, sp), r) => (r * 1000L - u3(c) * v(sp) / 1000L).abs }
    val nPairs = rat.size.toLong
    val mae = errs.sum / nPairs
    val top = v.toSeq.sortBy { case (sp, vm) => (-vm, sp) }.take(20)
    assert(got.toSeq == top.map { case (sp, vm) => (sp, vm, nPairs, mae) })
    assert(got.forall(_._2 >= 0L))
  }
}
