package graft

import org.apache.spark.sql.functions._
import graft.operators.SimSearch

class SimSearchSpec extends SparkSpec {
  import spark.implicits._

  test("brute-force cosine: query vector matches itself at 1.0") {
    val top = SimSearch.queries("q_simsearch")(spark, sf)
      .orderBy($"cos_sim".desc, $"vec_id").head()
    assert(top.getLong(0) === 0L)        // vec_id 0 is its own best match
    assert(top.getDouble(2) === 1.0)
  }

  test("cosine values bounded in [-1, 1]") {
    val bad = SimSearch.queries("q_simsearch")(spark, sf)
      .filter(abs($"cos_sim") > 1.0001).count()
    assert(bad === 0)
  }

  test("LSH bucket search returns the query itself and a subset of candidates") {
    val lsh = SimSearch.queries("q_simsearch_lsh")(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    assert(lsh.contains(0L))
    assert(lsh.size <= 20)
  }

  test("IVF probe: contains the query, bounded size, high recall vs exact") {
    val exact = SimSearch.queries("q_simsearch")(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    val ivf = SimSearch.queries("q_simsearch_ivf")(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    assert(ivf.contains(0L), "query vector must be in its own probed cell")
    assert(ivf.size <= 20)
    // nprobe=2 of 16 cells: recall against the exact top-20 should be
    // well above the 2/16 random baseline on this corpus
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall vs exact top-20")
  }

  test("BQ Hamming scan: recall vs exact top-20, bits match driver-side packing") {
    val exact = SimSearch.queries("q_simsearch")(spark, sf)
      .filter($"vec_id" =!= 0).select($"vec_id").as[Long].collect().toSet
    val rows = SimSearch.queries("q_simsearch_bq")(spark, sf).collect()
    assert(rows.length <= 20 && rows.forall(_.getLong(0) != 0L))
    // sign-bit sketch at 64 bits: the 100-candidate Hamming page must
    // recover most of the exact top-20 (1-bit cosine sketch bound)
    val recall = (rows.map(_.getLong(0)).toSet & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"BQ recall $recall vs exact top-20")
    // Hamming distances are consistent with a driver-side repack of
    // the raw embeddings for a few candidates
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def bits(e: Seq[Double]): Seq[Boolean] = e.map(_ > 0)
    val qb = bits(emb(0L))
    rows.take(5).foreach { r =>
      val expected = bits(emb(r.getLong(0))).zip(qb).count { case (a, b) => a != b }
      assert(r.getLong(2) == expected, s"vec ${r.getLong(0)}: hamming ${r.getLong(2)} != $expected")
    }
  }

  test("LSH signatures are deterministic across invocations") {
    val s1 = SimSearch.signatures(spark, sf).orderBy("vec_id").collect().toSeq
    val s2 = SimSearch.signatures(spark, sf).orderBy("vec_id").collect().toSeq
    assert(s1 === s2)
  }

  test("hyperplanes are balanced-ish (md5 bit extraction sane)") {
    val pos = SimSearch.hyperplanes(spark, 16, 64)
      .agg(sum(when($"sign" > 0, 1).otherwise(0))).as[Long].head()
    assert(pos > 300 && pos < 700, s"positive signs: $pos / 1024")
  }

  test("knn per-label: no self-pairs, at most 3 neighbors, labels agree") {
    val knn = SimSearch.queries("q_knn_label")(spark, sf)
    assert(knn.filter($"a_id" === $"b_id").count() === 0)
    assert(knn.groupBy("a_id").count().filter($"count" > 3).count() === 0)
  }

  test("q_ndcg: bounded by 1, ideal ordering of the same grades scores exactly 1") {
    val row = SimSearch.queries("q_ndcg")(spark, sf).collect().head
    val (dcg, idcg, ndcg) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    assert(dcg <= idcg, "actual DCG cannot beat the ideal")
    assert(ndcg >= 0.0 && ndcg <= 1.0)
    // recompute both sums with the same discount table definition
    val disc = (1 to 10).map(i => math.floor(1e6 * math.log(2) / math.log(i + 1)).toLong)
    val stop = Set("the", "and", "of")
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000).toLong).toArray))
      .toMap
    val q0 = emb(0L)
    val items = Tables.documents(spark, sf).select($"doc_id", $"text").collect()
      .flatMap { r =>
        emb.get(r.getLong(0)).map { v =>
          val tk = r.getString(1).split(" ", -1)
          val tfn = tk.count(stop).toLong * 1000000L / tk.length
          val rel = v.indices.foldLeft(0L)((acc, j) => acc + v(j) * q0(j))
          (r.getLong(0), tfn, math.max(rel, 0L))
        }
      }
    def dcgOf(ranked: Seq[Long]): Long =
      ranked.zipWithIndex.map { case (g, i) => g * disc(i) }.sum
    val expDcg = dcgOf(items.sortBy(it => (-it._2, it._1)).take(10).map(_._3).toSeq)
    val expIdcg = dcgOf(items.sortBy(it => (-it._3, it._1)).take(10).map(_._3).toSeq)
    assert(dcg == expDcg && idcg == expIdcg)
  }

  test("q_prec_at_k: overlap equals an independent set intersection of the two arms") {
    val row = SimSearch.queries("q_prec_at_k")(spark, sf).collect().head
    val stop = Set("the", "and", "of")
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000).toLong).toArray))
      .toMap
    val q0 = emb(0L)
    val items = Tables.documents(spark, sf).select($"doc_id", $"text").collect()
      .flatMap { r =>
        emb.get(r.getLong(0)).map { v =>
          val tk = r.getString(1).split(" ", -1)
          val tfn = tk.count(stop).toLong * 1000000L / tk.length
          val rel = v.indices.foldLeft(0L)((acc, j) => acc + v(j) * q0(j))
          (r.getLong(0), tfn, rel)
        }
      }
    val ta = items.sortBy(it => (-it._2, it._1)).take(10).map(_._1).toSet
    val tb = items.sortBy(it => (-it._3, it._1)).take(10).map(_._1).toSet
    assert(row.getLong(1) == (ta & tb).size.toLong)
    assert(row.getLong(2) == row.getLong(1) * 1000000L / 10L)
  }

  test("q_rrf: fused top-20 reproduces from independently computed per-arm ranks") {
    val out = SimSearch.queries("q_rrf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val stop = Set("the", "and", "of")
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000).toLong).toArray))
      .toMap
    val q0 = emb(0L)
    val items = Tables.documents(spark, sf).select($"doc_id", $"text").collect()
      .flatMap { r =>
        emb.get(r.getLong(0)).map { v =>
          val tk = r.getString(1).split(" ", -1) // keep trailing empties, like split()/string_split
          val tfn = tk.count(stop).toLong * 1000000L / tk.length
          val rel = v.indices.foldLeft(0L)((acc, j) => acc + v(j) * q0(j))
          (r.getLong(0), tfn, rel)
        }
      }
    def ranks(key: ((Long, Long, Long)) => Long): Map[Long, Int] =
      items.sortBy(it => (-key(it), it._1)).take(100)
        .zipWithIndex.map { case (it, i) => it._1 -> (i + 1) }.toMap
    val ra = ranks(_._2); val rb = ranks(_._3)
    def term(r: Option[Int]): Long = r.map(x => 1000000000000L / (60 + x)).getOrElse(0L)
    val expected = (ra.keySet ++ rb.keySet).toSeq
      .map(id => (id, term(ra.get(id)) + term(rb.get(id))))
      .sortBy { case (id, sc) => (-sc, id) }.take(20)
    assert(out == expected)
  }

  test("q_ivf_recall: recall is measured against true brute-force top-10 at bounded scan") {
    import spark.implicits._
    val out = SimSearch.queries("q_ivf_recall")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val n = Tables.embeddings(spark, sf).count()
    assert(out.length == 10 && out.map(_._1).toSeq == (0L until 10L))
    out.foreach { case (q, nCand, tp, micro) =>
      // tp ∈ [0, 10], recall_micro is its exact scaled form
      assert(tp >= 0 && tp <= 10 && micro == tp * 100000L, s"query $q recall malformed")
      // candidate volume stays well under the corpus: nprobe=2 of 16
      // cells — the whole point vs brute force; generous 50% ceiling
      // tolerates cell imbalance at fixture scale
      assert(nCand > 0 && nCand <= n / 2, s"query $q scanned $nCand of $n")
    }
    // the panel must be useful: mean recall ≥ 50% on the fixture, and
    // at least one query must show imperfect recall (otherwise the
    // probe covers everything and the metric measures nothing)
    val mean = out.map(_._3).sum / 10.0
    assert(mean >= 5.0, s"mean recall $mean too low — probe or codebook broken")
  }

  test("q_rand_proj: exact replay of the hashed ±1 matrix; JL isometry holds on average") {
    val got = SimSearch.queries("q_rand_proj")(spark, sf).collect()
      .map(r => r.getLong(0) -> (2 to 9).map(r.getLong).toVector).toMap
    val vecs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(cast(embedding as array<double>), x -> CAST(floor(x * 1000000) AS BIGINT)) AS vm")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    def sign(i: Int, j: Int): Long =
      1L - 2L * (((i.toLong * 73856093L) ^ (j.toLong * 19349663L)) >> 16 & 1L)
    val proj = vecs.map { case (id, vm) =>
      id -> (0 to 7).map(j => vm.indices.map(i => sign(i, j) * vm(i)).sum).toVector
    }
    proj.foreach { case (id, p) =>
      assert(got(id) == p, s"vec $id: projection diverges from the driver replay")
    }
    // E[‖Pu−Pv‖²] = k·‖u−v‖² for the ±1 ensemble: the mean ratio over
    // a deterministic pair sample must sit near 1 (k = 8 is noisy per
    // pair — ±√(2/k) ≈ 50% — but the MEAN over ~100 pairs concentrates).
    val ids = vecs.keys.toSeq.sorted
    val ratios = ids.indices.take(ids.length - 37).map { a =>
      val (u, v) = (ids(a), ids(a + 37))
      val d2 = vecs(u).zip(vecs(v)).map { case (x, y) => val t = (x - y).toDouble; t * t }.sum
      val p2 = proj(u).zip(proj(v)).map { case (x, y) => val t = (x - y).toDouble; t * t }.sum
      p2 / (8.0 * d2)
    }
    val meanRatio = ratios.sum / ratios.length
    assert(meanRatio > 0.6 && meanRatio < 1.6, s"JL mean distortion $meanRatio off unity")
  }

  test("q_graph_ann: beam invariants — best non-increasing, trace reaches the true NN") {
    val rows = graft.SparkEntry.queries("q_graph_ann")(spark, sf)
      .orderBy(org.apache.spark.sql.functions.col("hop")).collect()
    assert(rows.length == 9)
    val d2s = rows.map(_.getAs[Long]("d2q"))
    assert(d2s.zip(d2s.tail).forall { case (a, b) => b <= a },
      s"beam best must never regress: ${d2s.mkString(",")}")
    // the (d2q, id)-argmin is deterministic: an unchanged best
    // distance means the SAME node, never a tie-swap
    rows.sliding(2).foreach { case Array(p, c) =>
      if (c.getAs[Long]("d2q") == p.getAs[Long]("d2q"))
        assert(c.getAs[Long]("node_id") == p.getAs[Long]("node_id"))
    }
    // ef=8 navigates this fixture to the exact NN (measured hop <= 4
    // at every SF; pure greedy ef=1 parks in a local minimum)
    assert(rows.last.getAs[Long]("reached") == 1L,
      "beam search no longer reaches the true NN on the fixture")
  }

  test("warm serve calls plan their result without running a Spark job") {
    // the query-vector memo, the coarse codebook and the kNN index are
    // resolved on the first call; after that, building a consumer's
    // DataFrame must run nothing — its own result job is the only one
    val names = Seq("q_simsearch_ivf", "q_simsearch_native", "q_simsearch",
      "q_mrl_recall", "q_ood_knn")
    names.foreach(n => SparkEntry.queries(n)(spark, sf).collect())
    names.foreach { n =>
      val (_, jobs) = jobsIn(SparkEntry.queries(n)(spark, sf))
      assert(jobs === 0, s"$n ran $jobs Spark job(s) before its own result job")
    }
  }
}
