package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One arriving vector for the streaming HNSW-insert feed. */
case class ArrVec(vec_id: Long, embedding: Seq[Float])

/** Round-14 pins: TtlMemo staleness contract, Algorithm-4 diversified
  * HNSW links (unit semantics + the recall payoff), filtered ANN
  * pre-vs-post verdicts, and the streaming insert twin's bit-for-bit
  * replay of the batch link page.
  */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  test("TtlMemo: hit within TTL, rebuild on expiry (injected clock), rebuild on invalidate") {
    var now = 0L
    val memo = new graft.operators.TtlMemo[Int](ttlMillis = 100, clock = () => now)
    var builds = 0
    def get(): Int = memo.resolve("k") { builds += 1; builds }
    assert(get() == 1 && get() == 1, "second call within TTL must hit")
    now = 50
    assert(get() == 1)
    now = 151
    assert(get() == 2, "expired entry must rebuild")
    memo.invalidate("k")
    assert(get() == 3, "invalidate must rebuild")
    assert(memo.buildCount == 3)
  }

  test("trainedClassifier: invalidation retrains; retrain on unchanged data is identical") {
    val L = graft.operators.Learn
    val w1 = L.trainedClassifier(spark, sf)
    val afterFirst = L.clsMemo.buildCount
    assert(L.trainedClassifier(spark, sf) == w1, "within TTL the memo must serve")
    assert(L.clsMemo.buildCount == afterFirst, "memo hit must not retrain")
    L.clsMemo.invalidate(L.clsKey(spark, sf))
    val w2 = L.trainedClassifier(spark, sf)
    assert(L.clsMemo.buildCount == afterFirst + 1,
      "invalidate (the regenerated-fixture hook) must retrain")
    assert(w2 == w1, "deterministic retrain on unchanged data")
  }

  test("diversifyLinks: Algorithm-4 keeps direction-diverse links and prunes beam-crowders") {
    // Query at the origin (implicit — d2q is given). Candidate geometry
    // engineered so naive top-4 = {1,2,3,4} but the heuristic must pick
    // {1,3,4}: 2 crowds 1 (closer to 1 than to the query), 5 crowds 1.
    val beam = Seq(
      (0L, 1L, 100L), // (0, 10)
      (0L, 2L, 121L), // (0, 11) — 1 away from pick 1 → pruned
      (0L, 3L, 100L), // (10, 0) — d² to 1 is 200 > 100 → kept
      (0L, 4L, 100L), // (0,-10) — d² to 1/3 is 400/200 → kept
      (0L, 5L, 145L)  // (1, 12) — 5 away from pick 1 → pruned
    ).toDF("qid", "vec_id", "d2q")
    val vecs = Seq(
      (1L, Seq(0L, 10L)), (2L, Seq(0L, 11L)), (3L, Seq(10L, 0L)),
      (4L, Seq(0L, -10L)), (5L, Seq(1L, 12L))
    ).toDF("vec_id", "nv")
    val picks = graft.operators.SimSearch.diversifyLinks(beam, vecs, 4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(picks == Set(1L, 3L, 4L),
      s"heuristic picked $picks, expected {1, 3, 4} (naive top-4 would keep 2)")
  }

  test("q_hnsw_insert: diversified link pages respect levels; picks satisfy the Algorithm-4 invariant") {
    val rows = SparkEntry.queries("q_hnsw_insert")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_links")
      assert(n >= 1L && n <= 4L, s"bad link count: $r")
    }
    rows.groupBy(_.getAs[Long]("new_id")).foreach { case (id, rs) =>
      val layers = rs.map(_.getAs[Long]("layer")).toSet
      assert(layers.contains(0L), s"$id missing layer-0 links")
      assert(layers == (0L to layers.max).toSet, s"$id has a layer gap: $layers")
    }
  }

  // Measured on this fixture: 4/16 for BOTH graphs at ef=8 over 10
  // cold hops — parity, not a win. The synthetic embeddings are
  // unclustered, so naive top-4 beams are rarely CROWDED (the failure
  // mode Algorithm 4 exists for — tight same-region candidate sets
  // that leave no cross-region shortcut links); with nothing to prune,
  // the two graphs nearly coincide and the assertion pins that the
  // heuristic never LOSES navigability at equal M and budget. The
  // diversity semantics themselves are pinned exactly by the unit test
  // above, and the oracle hash-checks the greedy trajectory on every
  // insert. (The r13 68%-at-ef-8 link-quality gap was a property of
  // the naive INSERT beams vs exact truth, not of link selection —
  // recorded here so the next round doesn't re-chase it.)
  test("heuristic M=4 links at ef=8 match-or-beat naive top-4 links at ef=8 (same beams, same budget)") {
    graft.functions.VectorFunctions.register(spark)
    val L = graft.operators.Learn
    val knn8 = L.exactKnnL2(spark, sf, 8)
      .filter(col("a_id") =!= 0 && col("b_id") =!= 0)
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), expr(L.QuantTok).as("nv")).localCheckpoint()
    def sym(adj: DataFrame): DataFrame = adj.select(col("a_id"), col("b_id"))
      .unionByName(adj.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    // both graphs come from the SAME 8-NN candidate lists: naive keeps
    // rank <= 4, the heuristic selects <= 4 direction-diverse ones
    val beamLike = knn8
      .select(col("a_id").as("qid"), col("b_id").as("vec_id"), col("d2").as("d2q"))
    val heurAdj = sym(graft.operators.SimSearch.diversifyLinks(beamLike, emb, 4)
      .select(col("qid").as("a_id"), col("vec_id").as("b_id"))).localCheckpoint()
    val naiveAdj = sym(knn8.filter(col("rn") <= 4)
      .select(col("a_id"), col("b_id"))).localCheckpoint()
    val queries = emb.filter(col("vec_id") % 31 === 7)
      .select(col("vec_id").as("qid"), col("nv").as("qv")).localCheckpoint()
    val d2 = "aggregate(zip_with(nv, qv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
    def scored(c: DataFrame): DataFrame = c
      .join(emb, "vec_id").join(broadcast(queries), "qid")
      .select(col("qid"), col("vec_id"),
        when(col("vec_id") === col("qid"), lit(1000000000000L))
          .otherwise(expr(d2)).as("d2q"))
    val rankQ = row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("d2q"), col("vec_id")))
    def recall(adj: DataFrame, ef: Int, hops: Int = 10): Long = {
      val entry = emb.agg(min(col("vec_id")).as("vec_id"))
      var beam = scored(queries.select(col("qid")).crossJoin(broadcast(entry)))
        .localCheckpoint()
      for (_ <- 1 to hops) {
        val cand = adj
          .join(beam.select(col("vec_id").as("a_id"), col("qid")), "a_id")
          .select(col("qid"), col("b_id").as("vec_id"))
          .unionByName(beam.select(col("qid"), col("vec_id"))).distinct()
        beam = scored(cand)
          .withColumn("rn", rankQ).filter(col("rn") <= ef).drop("rn")
          .localCheckpoint()
      }
      val best = beam.filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid")).agg(min(col("d2q")).as("found"))
      val truth = queries
        .crossJoin(emb.select(col("vec_id").as("cid"), col("nv")))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), expr(d2).as("dd"))
        .groupBy(col("qid")).agg(min(col("dd")).as("tru"))
      best.join(truth, "qid").filter(col("found") === col("tru")).count()
    }
    val nQ = queries.count()
    val rHeur8 = recall(heurAdj, 8)
    val rNaive8 = recall(naiveAdj, 8)
    info(s"recall@1 at ef=8 over $nQ queries: heuristic $rHeur8, naive $rNaive8")
    assert(rHeur8 >= rNaive8,
      s"heuristic links ($rHeur8/$nQ) must not lose to naive top-4 ($rNaive8/$nQ) at equal ef")
  }

  test("q_ann_filtered: pre-filter recall >= post-filter at equal budget; verdicts internally consistent") {
    val rows = SparkEntry.queries("q_ann_filtered")(spark, sf).collect()
    assert(rows.nonEmpty, "empty verdict page")
    rows.foreach { r =>
      val tru = r.getAs[Long]("true_d2")
      assert(r.getAs[Long]("pre_d2") >= tru, s"pre found closer than exact truth?! $r")
      val postIdx = r.fieldIndex("post_d2")
      if (!r.isNullAt(postIdx))
        assert(r.getLong(postIdx) >= tru, s"post found closer than exact truth?! $r")
      else
        assert(r.getAs[Long]("post_kept") == 0L && r.getAs[Long]("post_reached") == 0L,
          s"empty post verdict must report kept=0, reached=0: $r")
      assert((r.getAs[Long]("pre_reached") == 1L) == (r.getAs[Long]("pre_d2") == tru),
        s"pre flag drift: $r")
    }
    val pre = rows.map(_.getAs[Long]("pre_reached")).sum
    val post = rows.map(_.getAs[Long]("post_reached")).sum
    info(s"recall@1: pre-filter $pre/${rows.length}, post-filter $post/${rows.length}")
    assert(pre >= post,
      s"pre-filter recall $pre below post-filter $post at equal candidate budget")
    assert(pre * 4 >= rows.length * 3,
      s"pre-filter recall $pre/${rows.length} under the 3/4 floor")
  }

  test("q_hnsw_tuning: recall climbs and regret falls monotonically with ef; ef=16 meets the serving floor") {
    val rows = SparkEntry.queries("q_hnsw_tuning")(spark, sf).collect()
      .sortBy(_.getAs[Long]("ef"))
    assert(rows.map(_.getAs[Long]("ef")).toSeq == Seq(4L, 8L, 16L))
    assert(rows.map(_.getAs[Long]("n_queries")).distinct.length == 1,
      "every ef must verdict the same query page")
    val rec = rows.map(_.getAs[Long]("n_reached"))
    val reg = rows.map(_.getAs[Long]("regret_d2_sum"))
    assert(rec.sliding(2).forall(p => p(0) <= p(1)),
      s"recall must not fall as ef widens: ${rec.toSeq}")
    assert(reg.sliding(2).forall(p => p(0) >= p(1)),
      s"regret must not grow as ef widens: ${reg.toSeq}")
    rows.foreach(r => assert(r.getAs[Long]("regret_d2_sum") >= 0L,
      s"a beam found a closer-than-true NN?! $r"))
    val n = rows.last.getAs[Long]("n_queries")
    assert(rows.last.getAs[Long]("n_reached") * 4 >= n * 3,
      s"ef=16 recall ${rows.last.getAs[Long]("n_reached")}/$n under the q_hnsw_batch 3/4 floor")
  }

  test("q_hnsw_delete: repair pages cover every affected survivor; repaired links beat the severed floor") {
    val rows = SparkEntry.queries("q_hnsw_delete")(spark, sf).collect()
    assert(rows.nonEmpty, "fixture must produce affected survivors")
    // exact nearest SURVIVING neighbor per affected node — the repair
    // can never beat it (exactness floor), and a repair that found any
    // link at all must report a real distance
    graft.functions.VectorFunctions.register(spark)
    val qt = graft.operators.Learn.QuantTok
    val surv = Tables.embeddings(spark, sf)
      .filter(col("vec_id") =!= 0 && col("vec_id") % 29 =!= 3)
      .select(col("vec_id"), expr(qt).as("nv"))
    val truth = surv.select(col("vec_id").as("a"), col("nv").as("qv"))
      .crossJoin(surv.select(col("vec_id").as("b"), col("nv")))
      .filter(col("a") =!= col("b"))
      .select(col("a"), expr(
        "aggregate(zip_with(nv, qv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
        .as("d2"))
      .groupBy(col("a")).agg(min(col("d2")).as("tru"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("a_id")
      assert(id % 29 != 3, s"a deleted node appears as an affected survivor: $r")
      assert(r.getAs[Long]("n_lost") >= 1L, s"affected without losses: $r")
      val after = r.getAs[Long]("n_links_after")
      assert(after >= 0L && after <= 4L, s"bad repaired link count: $r")
      if (after > 0L)
        assert(r.getAs[Long]("best_link_d2") >= truth(id),
          s"repair 'found' a closer-than-exact survivor?! $r")
      else
        assert(r.isNullAt(r.fieldIndex("best_link_d2")), s"empty repair with a distance: $r")
    }
    val reattached = rows.count(_.getAs[Long]("n_links_after") > 0L)
    assert(reattached == rows.length,
      s"only $reattached/${rows.length} survivors re-linked — bridge repair left orphans")
  }

  test("producer rows really invalidate their own memo keys (key-drift guard)") {
    // Producers hand-renders some cache keys (skey) — if an owning
    // module ever changes its key format, invalidate() becomes a
    // silent no-op and the "cold build" bench row would time a memo
    // HIT, quietly turning build-cost rows back into serve-cost rows.
    // Running each producer twice must therefore rebuild twice.
    //
    // EVERY producer is checked (r14 ADVICE: the old hand-picked
    // subset let a key-format drift in an unlisted module slip the
    // guard) against the SUM of every memo build counter in main
    // source — a producer whose second run bumps no counter anywhere
    // either rebuilt nothing (drifted key) or builds through a cache
    // missing from this list; both must fail here.
    val counters: Seq[() => Long] = Seq(
      () => graft.operators.Ingest.sinkIdCache.buildCount,
      () => graft.operators.Curation.suffixPairCache.buildCount,
      () => graft.operators.TextAnalysis.bpeCache.buildCount,
      () => graft.operators.Graph.tradeEdgeCache.buildCount,
      () => graft.operators.Graph.copurchaseEdgeCache.buildCount,
      () => graft.operators.Graph.lpLabelCache.buildCount,
      () => graft.operators.NearDup.clusterLabelCache.buildCount,
      () => graft.operators.Learn.coarseMemo.buildCount,
      () => graft.operators.Learn.coarseKMemo.buildCount,
      () => graft.operators.Learn.clsMemo.buildCount,
      () => graft.operators.Learn.knnCache.buildCount,
      () => graft.operators.SimSearch.hnswEmbCache.buildCount,
      () => graft.operators.SimSearch.insertPicksCache.buildCount,
      () => graft.operators.SimSearch.staleCoarseMemo.buildCount,
      () => graft.operators.SimSearch.refitCoarseMemo.buildCount,
      () => graft.operators.SimSearch.queryVecMemo.buildCount
    )
    def builds() = counters.map(_()).sum
    for ((name, fn) <- Producers.all.toSeq.sortBy(_._1)
         if !Producers.nonInvalidating(name)) {
      fn(spark, sf).count()
      val c1 = builds()
      fn(spark, sf).count()
      assert(builds() > c1,
        s"$name did not rebuild on a second run — its invalidate key no " +
          "longer matches the owning cache's key format (silent no-op)")
    }
  }

  test("hnswInsertStream: a two-batch feed replays the batch link page bit-for-bit") {
    val arr = Tables.embeddings(spark, sf)
      .filter(col("vec_id") =!= 0 && col("vec_id") % 23 === 11)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => ArrVec(r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq))
    assert(arr.length >= 2, "fixture must hold at least two arrivals")
    val (b1, b2) = arr.splitAt(arr.length / 2)
    val input = MemoryStream[ArrVec](spark)
    val pages = scala.collection.mutable.ArrayBuffer[Array[org.apache.spark.sql.Row]]()
    val q = graft.streaming.VecStreams.hnswInsertStream(input.toDF(), sf) { page =>
      pages += page.collect()
    }
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("new_id"), r.getAs[Long]("layer"), r.getAs[Long]("n_links"),
        r.getAs[Long]("best_link_d2"), r.getAs[Long]("links_sum"))
    val streamed = pages.flatten.map(key).toSet
    val batch = SparkEntry.queries("q_hnsw_insert")(spark, sf).collect().map(key).toSet
    assert(streamed == batch,
      s"streamed page drifted from the batch page:\n only-streamed=${streamed -- batch}\n only-batch=${batch -- streamed}")
  }
}
