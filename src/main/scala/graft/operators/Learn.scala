package graft.operators

import graft.operators.PlanStash.Ckpt
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Model-adjacent curation operators (SURVEY §2.6 north-star): the two
  * places an LLM-data pipeline runs "a model" INSIDE the engine —
  * scoring every document with a linear quality classifier, and
  * fitting a clustering codebook over the embedding corpus.
  *
  * Both are exact-integer computations so the DuckDB oracle
  * hash-matches (the q_lm_score fixed-point recipe): floats are
  * quantized once at the boundary, then every distance / dot-product /
  * centroid update is BIGINT arithmetic — associative, order-free,
  * partial-aggregation-safe.
  */
object Learn {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------
  // q_classifier_score — fastText-style hashed linear classifier.
  //
  // The real thing (Joulin et al., "Bag of Tricks for Efficient Text
  // Classification") is: token → hash bucket → embedding/weight lookup
  // → sum over the document → linear decision. That exact dataflow,
  // with the model shrunk to fixture scale: 256 hash buckets (first
  // byte of md5(token) — a real hash, identical in both engines), and
  // a deterministic weight table standing in for trained weights
  // (this container ships no model artifacts; swapping in real
  // weights changes the literal array, not the plan).
  //
  // Scale posture: the weight table rides the plan as a codebook-scale
  // literal (256 entries here; a production 2M-bucket table would be a
  // broadcast array — same plan shape), and scoring is MAP-ONLY via an
  // aggregate() lambda over the token array: the text column never
  // shuffles, the filter runs at scan speed. Weights are milli-units,
  // scores exact BIGINT sums.
  // ---------------------------------------------------------------

  /** Deterministic stand-in weights, milli-units in [-1000, 1000]. */
  private val weights: IndexedSeq[Long] =
    (0 until 256).map(b => ((b.toLong * 2654435761L) % 1000003L) % 2001L - 1000L)

  /** First byte of md5(t) as a bucket id 0..255, via hex-digit
    * arithmetic that parses identically in Spark and DuckDB (no conv()
    * in DuckDB, no ascii() multibyte ambiguity). */
  private def bucketSql(hexpos: String => String): String =
    s"(${hexpos("1")} * 16 + ${hexpos("2")})"

  private val sparkBucket =
    bucketSql(p => s"(instr('0123456789abcdef', substring(md5(t), $p, 1)) - 1)")

  private[operators] val duckBucket =
    bucketSql(p => s"(strpos('0123456789abcdef', substr(md5(t), $p, 1)) - 1)")

  // ---------------------------------------------------------------
  // TRAINED hashed classifier — the round-12 VERDICT's last stubbed
  // link in the quality pipeline closed: the SAME 256-bucket fastText
  // dataflow as [[weights]]' stand-in, but with the weight table
  // TRAINED on-engine by full-batch logistic-regression gradient
  // descent on the en/not-en label (q_logreg_gd's snapped-gradient
  // discipline lifted from 1 feature to the 256 hashed features).
  //
  // Per round: z_e12(doc) = b_e12 + Σ_tokens w_e12[bucket(t)] is an
  // exact BIGINT (the weight table rides as an array literal — the
  // broadcast-variable shape); u = ⌊(y − σ(z))·10⁶ + 0.5⌋ snaps the
  // per-doc residual to the e6 grid BEFORE any sum, so the bucket
  // gradients g_j = Σ_docs cnt_j·u are exact integers and the whole
  // trajectory replays CTE-for-CTE in the oracle; updates are
  // Δw_e12[j] = (g_j·10⁶) sdiv n (η = 1 folded into the grid — the
  // e6·e6 product IS the e12 step). Overflow bound: |g_j| ≤ 10⁶ ×
  // (token mass of bucket j), so g_j·10⁶ stays under 2⁶³ while any
  // one md5 bucket holds < 9.2·10⁶ tokens — ~2.4·10⁹ corpus tokens
  // at the observed spread; past that, snap u to e3 (documented knob,
  // same plan).
  //
  // Scale posture — the q_kmeans_fit/MLlib pattern: each round is (a)
  // one MAP-ONLY scoring pass against the 256-long literal, (b) one
  // doc-grain aggregate (n, Σu) and one token-grain partial+final
  // aggregate to 256 rows (codebook-scale driver collect, never
  // data-scale), repeated [[ClsRounds]] times. The driver loop exists
  // because round r's plan depends on round r−1's collected weights.
  // ---------------------------------------------------------------

  private[graft] val ClsRounds = 2

  /** Learning-rate divisor (η = 1/16 on the e6·e6 grid): full-batch GD
    * at η = 1 overshoots — the round-1 step pushes common buckets past
    * the decision scale, round 2's residuals saturate at ±10⁶ and the
    * loss DIVERGES (measured: 2.87 → 20.08 nats·e-6 at η = 1; falls
    * monotonically at 1/16). Folded into the exact update division so
    * the trajectory stays integer-replayable. */
  private[operators] val ClsEtaDiv = 16L

  /** One training round's report: weights/bias AFTER the round's
    * update; gradient summary computed AT the pre-round weights. */
  private[graft] final case class ClsRound(
    w: IndexedSeq[Long], b: Long, gsumU: Long, gAbs: Long, n: Long)

  // TTL'd + session-keyed (r13 VERDICT finding #3): the old plain map
  // keyed by dir alone served stale trained weights if the fixture dir
  // was regenerated in place within one JVM, while the oracle retrained
  // on the new data — every cross-query memo now carries the
  // CachedRelation staleness contract (key includes session identity,
  // 1 h TTL, invalidate = retrain; Round14Spec pins the retrain).
  private[graft] val clsMemo = new TtlMemo[Seq[ClsRound]](ttlMillis = 3600L * 1000)
  private[graft] def clsKey(s: SparkSession, d: String): String =
    s"${System.identityHashCode(s)}:$d"

  /** z_e12 as expression text for one weight state — the scoring pass
    * every round (and the final classifier) shares. */
  private def clsZExpr(w: IndexedSeq[Long], b: Long): String = {
    val warr = w.mkString("array(", "L,", "L)")
    s"${b}L + aggregate(split(text, ' '), 0L, (acc, t) -> " +
      s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"
  }

  /** The snapped per-doc residual (identical text to q_logreg_gd's). */
  private val clsUExpr =
    "CAST(floor((y - 1.0 / (1.0 + exp(-(CAST(z_e12 AS DOUBLE) / 1e12)))) " +
      "* 1000000 + 0.5) AS BIGINT)"

  private def clsScored(s: SparkSession, d: String,
      w: IndexedSeq[Long], b: Long): DataFrame =
    Tables.documents(s, d)
      .withColumn("y", when(col("lang") === "en", 1L).otherwise(0L))
      .withColumn("z_e12", expr(clsZExpr(w, b)))
      .withColumn("u", expr(clsUExpr))

  /** The trained trajectory, memoized per dir (a pure deterministic
    * function of the corpus, like [[coarseCentroids]]): ClsRounds
    * entries, last one = the serving weights. */
  private[graft] def trainedClassifier(s: SparkSession, d: String): Seq[ClsRound] =
    clsMemo.resolve(clsKey(s, d)) {
      var w: IndexedSeq[Long] = IndexedSeq.fill(256)(0L)
      var b = 0L
      (1 to ClsRounds).map { _ =>
        val scored = clsScored(s, d, w, b)
        val head = scored.agg(count(lit(1)).as("n"), sum(col("u")).as("gu")).head
        val n = head.getLong(0); val gu = head.getLong(1)
        val grads = scored
          .select(col("u"), explode(split(col("text"), " ")).as("t"))
          .select(expr(s"CAST($sparkBucket AS INT)").as("bk"), col("u"))
          .groupBy(col("bk")).agg(sum(col("u")).as("g"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val gAbs = grads.valuesIterator.map(math.abs).sum
        // Scala Long / truncates toward zero = Spark DIV = the oracle's
        // sdivSql — the signed floor-free division all three share
        w = w.zipWithIndex.map { case (wj, j) =>
          wj + grads.getOrElse(j, 0L) * 1000000L / (n * ClsEtaDiv) }
        b = b + gu * 1000000L / (n * ClsEtaDiv)
        ClsRound(w, b, gu, gAbs, n)
      }
    }

  /** DuckDB replay of the 2-round training loop, as a WITH-body
    * fragment: CTEs through the post-round weight tables (w1/b1,
    * w2/b2) and the final per-doc score zf. Both classifier oracles
    * share this prefix, so train and apply are checked against ONE
    * replayed trajectory. z2 doubles as the post-round-1 score (the
    * round-2 scoring pass IS the round-1 loss input). */
  private def clsTrainCtes: String = {
    import graft.functions.SqlBridge.sdivSql
    val uOf = (z: String) =>
      s"CAST(floor((y - 1.0 / (1.0 + exp(-(CAST($z AS DOUBLE) / 1e12)))) * 1000000 + 0.5) AS BIGINT)"
    s"""tok AS MATERIALIZED (
       |  SELECT doc_id, $duckBucket AS bk
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
       |docs0 AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |u1 AS MATERIALIZED (
       |  SELECT doc_id, y, ${uOf("0")} AS u FROM docs0),
       |g1 AS MATERIALIZED (
       |  SELECT t.bk, CAST(SUM(u1.u) AS BIGINT) AS g
       |  FROM tok t JOIN u1 ON t.doc_id = u1.doc_id GROUP BY t.bk),
       |s1 AS (SELECT CAST(SUM(u) AS BIGINT) AS gu FROM u1),
       |w1 AS MATERIALIZED (SELECT bk, ${sdivSql("g * 1000000", s"n * $ClsEtaDiv")} AS w FROM g1, nn),
       |b1 AS (SELECT ${sdivSql("gu * 1000000", s"n * $ClsEtaDiv")} AS b FROM s1, nn),
       |z2 AS MATERIALIZED (
       |  SELECT d.doc_id, d.y, b1.b + COALESCE(s.zz, 0) AS z
       |  FROM docs0 d LEFT JOIN (
       |    SELECT t.doc_id, CAST(SUM(w1.w) AS BIGINT) AS zz
       |    FROM tok t JOIN w1 ON t.bk = w1.bk GROUP BY t.doc_id) s
       |    ON s.doc_id = d.doc_id, b1),
       |u2 AS MATERIALIZED (
       |  SELECT doc_id, y, ${uOf("z")} AS u FROM z2),
       |g2 AS MATERIALIZED (
       |  SELECT t.bk, CAST(SUM(u2.u) AS BIGINT) AS g
       |  FROM tok t JOIN u2 ON t.doc_id = u2.doc_id GROUP BY t.bk),
       |s2 AS (SELECT CAST(SUM(u) AS BIGINT) AS gu FROM u2),
       |w2 AS MATERIALIZED (
       |  SELECT w1.bk, w1.w + ${sdivSql("g2.g * 1000000", s"n * $ClsEtaDiv")} AS w
       |  FROM w1 JOIN g2 ON w1.bk = g2.bk, nn),
       |b2 AS (SELECT b1.b + ${sdivSql("gu * 1000000", s"n * $ClsEtaDiv")} AS b FROM s2, b1, nn),
       |zf AS MATERIALIZED (
       |  SELECT d.doc_id, d.y, b2.b + COALESCE(s.zz, 0) AS z
       |  FROM docs0 d LEFT JOIN (
       |    SELECT t.doc_id, CAST(SUM(w2.w) AS BIGINT) AS zz
       |    FROM tok t JOIN w2 ON t.bk = w2.bk GROUP BY t.doc_id) s
       |    ON s.doc_id = d.doc_id, b2)""".stripMargin
  }

  // ---------------------------------------------------------------
  // q_kmeans_fit — Lloyd's k-means TRAINING over the embedding corpus
  // (k = 4, 2 full assign+update iterations, then the final
  // assignment). SemDeDup / IVF consume a codebook; this op FITS one,
  // through the one trainer every codebook shares ([[Lloyd]]).
  // ---------------------------------------------------------------

  private val K = 4
  private[operators] val Dim = 64
  private val Iters = 2

  import graft.functions.SqlBridge.{sdiv, sdivSql}

  /** Squared-distance expression between the (sliced) quantized vector
    * column `qs` and one centroid literal — exact BIGINT via
    * zip_with+aggregate. */
  private def distExpr(cv: Array[Long]): String = {
    val arr = cv.mkString("array(", "L,", "L)")
    s"aggregate(zip_with(qs, $arr, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
  }

  /** Exact BIGINT squared L2 between two array<bigint> Columns — the
    * Column-API twin of [[distExpr]], used wherever the centroid rides
    * a LITERAL ARRAY column instead of unrolled expression text: the
    * codebook becomes ONE Literal object and the distance scan ONE
    * higher-order loop, so plan text and generated code stay O(1) in
    * the codebook size (K separate aggregate() expressions grow
    * codegen O(K·dim), which at K = ⌈√n⌉ would blow Catalyst limits
    * long before the posture scale the scaladocs claim). */
  private[operators] def l2Col(qs: Column, cv: Column): Column =
    aggregate(zip_with(qs, cv, (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** cluster/qdist columns for the given (cid, centroid) list: argmin
    * over the per-centroid distance array, first-min = lowest cid
    * (cents is cid-ascending). The codebook rides as two array
    * LITERALS + one transform loop — value-identical to the unrolled
    * per-centroid expressions, with O(1) plan text (see [[l2Col]]). */
  private[graft] def assign(df: DataFrame, cents: Seq[(Int, Array[Long])]): DataFrame = {
    val cvLit = typedLit(cents.map(_._2.toSeq))
    val cidLit = typedLit(cents.map(_._1))
    df.withColumn("__darr", transform(cvLit, cv => l2Col(col("qs"), cv)))
      .withColumn("qdist", array_min(col("__darr")))
      .withColumn("cluster", element_at(cidLit,
        array_position(col("__darr"), col("qdist")).cast("int")))
      .drop("__darr")
  }

  /** The one Lloyd trainer behind every codebook: [[fitKMeans]]
    * (q_kmeans_fit and the coarse IVF book), the stale and refit
    * maintenance books, PQ's fused subspace books and q_doc_outlier's
    * corpus centroid. Frames carry (vec_id, qs), qs the quantized
    * vector.
    *
    * Exactness recipe: embeddings quantize once to 1e-4 grid BIGINTs
    * ([[QuantTok]]: float→double→*10000→floor is bit-identical in both
    * engines), so squared distances are exact integer sums; centroid
    * updates are floor(sum/count) (Math.floorDiv here, floor(double
    * division) in the oracles — equal because |sum| < 2^53 and the
    * true quotient is ≥ 1/count away from any other integer); argmin
    * ties break to the lowest centroid id ([[assign]]). A cluster that
    * receives no points drops out (the lazy-deletion rule, stated so
    * both engines agree).
    *
    * Scale posture — the MLlib pattern, spelled out: the init is one
    * TakeOrdered, and each round is ONE job with no shuffle: a MAP-ONLY
    * assignment against k·dim centroid literals (what a broadcast
    * variable compiles to at this size) whose rows each partition
    * folds into per-cluster vector sums and counts, so partitions ×
    * k·dim longs reach the driver (codebook-scale, NOT data-scale).
    * The loop lives on the driver because each round's plan depends
    * on the previous round's collected centroids. */
  private[graft] object Lloyd {
    /** Init: the k lowest-vec_id vectors of `frame`, cid in vec_id order. */
    def lowest(frame: DataFrame, k: Int): Seq[(Int, Array[Long])] =
      frame.orderBy(col("vec_id")).limit(k).select(col("qs")).collect().toSeq
        .zipWithIndex.map { case (r, cid) => (cid, r.getSeq[Long](0).toArray) }

    /** One update over (cluster INT, qs ARRAY<BIGINT>) rows: per
      * cluster, floor(Σqs / n) at every position, cid-ascending. Each
      * partition folds its rows into per-cluster sums with the member
      * count in the last slot; the driver merges the partials as the
      * tasks finish. Runs as one SQL execution named "lloyd.update". */
    def update(rows: DataFrame): Seq[(Int, Array[Long])] = {
      val qe = rows.select(col("cluster"), col("qs")).queryExecution
      val sums = SQLExecution.withNewExecutionId(qe, Some("lloyd.update")) {
        qe.toRdd.aggregate(mutable.HashMap.empty[Int, Array[Long]])(
          (acc, r) => {
            val qs = r.getArray(1)
            val n = qs.numElements()
            val s = acc.getOrElseUpdate(r.getInt(0), new Array[Long](n + 1))
            var j = 0
            while (j < n) { s(j) += qs.getLong(j); j += 1 }
            s(n) += 1
            acc
          },
          (a, b) => {
            b.foreach { case (cid, sb) =>
              a.get(cid) match {
                case Some(sa) => sa.indices.foreach(j => sa(j) += sb(j))
                case None => a(cid) = sb
              }
            }
            a
          })
      }
      sums.toSeq.sortBy(_._1).map { case (cid, s) =>
        val n = s.length - 1
        (cid, Array.tabulate(n)(j => Math.floorDiv(s(j), s(n))))
      }
    }

    /** `rounds` of assign-then-update from `init`; `by` is the
      * assignment ([[assign]], or [[assignRouted]] for the refit book). */
    def fit(frame: DataFrame, init: Seq[(Int, Array[Long])], rounds: Int,
        by: (DataFrame, Seq[(Int, Array[Long])]) => DataFrame = assign)
        : Seq[(Int, Array[Long])] =
      (1 to rounds).foldLeft(init) { (cents, _) =>
        update(by(frame, cents))
      }
  }

  /** Two-level coarse ROUTING tables, trained over the cell centroids
    * themselves — driver-side (codebook-scale: K cells → S = ⌈√K⌉
    * super-cells, floor 2), the same deterministic integer recipe as
    * the coarse training so every consumer's oracle replays it
    * CTE-for-CTE ([[routedAssignCtes]]): init = the S lowest-cid cell
    * centroids; ONE Lloyd round (assign cells to the nearest super by
    * integer L2, ties to the lowest sid; update = per-dim floorDiv
    * over member CELL CENTROIDS); members = the cells re-assigned
    * under the trained supers. Returns (routing supers in sid order,
    * member cell lists aligned positionally) — only supers that HAVE
    * members route, so a vector can never land in an empty super.
    */
  private[graft] def superRouting(cents: Seq[(Int, Array[Long])])
      : (Seq[(Int, Array[Long])], Seq[Seq[(Int, Array[Long])]]) = {
    val sorted = cents.sortBy(_._1)
    val byCid = sorted.toMap
    val nSup = math.max(2, math.ceil(math.sqrt(sorted.size.toDouble)).toInt)
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.indices.foldLeft(0L) { (acc, i) => val x = a(i) - b(i); acc + x * x }
    def nearest(cv: Array[Long], sups: Seq[(Int, Array[Long])]): Int =
      sups.map { case (sid, sv) => (l2(cv, sv), sid) }.min._2
    val init = sorted.take(nSup).zipWithIndex.map { case ((_, cv), i) => (i, cv) }
    val trained = sorted.map { case (cid, cv) => (nearest(cv, init), cid) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (sid, ms) =>
        val cvs = ms.map(m => byCid(m._2))
        (sid, Array.tabulate(Dim)(j =>
          Math.floorDiv(cvs.map(_(j)).sum, cvs.size.toLong)))
      }
    val members = sorted.map { case (cid, cv) => (nearest(cv, trained), (cid, cv)) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (sid, ms) => (sid, ms.map(_._2).sortBy(_._1)) }
    val trainedMap = trained.toMap
    (members.map { case (sid, _) => (sid, trainedMap(sid)) }, members.map(_._2))
  }

  /** Two-level ROUTED cell assignment — [[assign]]'s scale path for
    * the IVF SERVING family: the flat argmin is O(K·dim) work per
    * vector, and with K = ⌈√n⌉ that per-vector O(√n·dim) becomes the
    * family's dominant term as the corpus grows; routing through
    * S = ⌈√K⌉ super-cells (nearest super, then argmin over ONLY its
    * member cells) costs O(√K·dim) ≈ O(n^0.25·dim) per vector, the
    * standard two-level coarse quantizer. The assigned cell is the
    * exact argmin WITHIN the routed super's member list — standard
    * IVF approximate routing, replayed CTE-for-CTE by every consumer
    * oracle ([[routedAssignCtes]]); exactness-proof consumers
    * (exactKnnL2, dbscan) keep the flat full-distance-array form their
    * triangle-inequality bounds require. Tiebreaks are (dist, id)
    * lexicographic at both levels, like [[assign]]. Adds the same
    * cluster/qdist columns.
    */
  private[graft] def assignRouted(df: DataFrame, cents: Seq[(Int, Array[Long])]): DataFrame = {
    val (sups, members) = superRouting(cents)
    val supLit = typedLit(sups.zipWithIndex.map { case ((_, sv), i) => (i + 1, sv.toSeq) })
    val memLit = typedLit(members.map(_.map { case (cid, cv) => (cid, cv.toSeq) }))
    val bestSup = array_min(transform(supLit, p =>
      struct(l2Col(col("qs"), p.getField("_2")).as("d"), p.getField("_1").as("i"))))
    df.withColumn("__cands", element_at(memLit, bestSup.getField("i")))
      .withColumn("__best", array_min(transform(col("__cands"), c =>
        struct(l2Col(col("qs"), c.getField("_2")).as("d"), c.getField("_1").as("cid")))))
      .withColumn("qdist", col("__best").getField("d"))
      .withColumn("cluster", col("__best").getField("cid"))
      .drop("__cands", "__best")
  }

  /** The DuckDB twin of [[superRouting]] + [[assignRouted]]: a CTE
    * chain training the super-cells over the cell-centroid CTE `cc`
    * (cid, cv) and routing every vector of `q` (vec_id, $qv [, …])
    * through them, ending in `$out` (vec_id, cell). Mirrors the Scala
    * trainer step for step — same init, same one-round update with
    * floor(sum/count), same (dist, id) tiebreaks — so the assignment
    * hash-matches. */
  private[operators] def routedAssignCtes(out: String, cc: String, q: String,
                                          qv: String = "qv",
                                          pfx: String = ""): String = {
    def l2(a: String, b: String): String =
      s"CAST(list_sum(list_transform(range(1, ${Dim + 1}), " +
        s"j -> ($a[j] - $b[j]) * ($a[j] - $b[j]))) AS BIGINT)"
    // pfx namespaces the internal CTEs so TWO routing chains (e.g.
    // stale vs refit codebook, q_ivf_stale_recall) can coexist in one
    // WITH block; "" keeps every single-chain oracle byte-identical
    s"""${pfx}ss0 AS (
       |  SELECT row_number() OVER (ORDER BY cid) - 1 AS sid, cv AS sv
       |  FROM (SELECT cid, cv FROM $cc ORDER BY cid
       |        LIMIT (SELECT GREATEST(2, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM $cc))),
       |${pfx}ssa1 AS (
       |  SELECT cid, sid, row_number() OVER (PARTITION BY cid ORDER BY dist, sid) AS rn
       |  FROM (SELECT c.cid, s.sid, ${l2("c.cv", "s.sv")} AS dist FROM $cc c, ${pfx}ss0 s)),
       |${pfx}ss1 AS (
       |  SELECT sid, list(ctr ORDER BY pos) AS sv FROM (
       |    SELECT a.sid, t.pos,
       |      CAST(floor(CAST(CAST(SUM(c.cv[t.pos]) AS BIGINT) AS DOUBLE) / COUNT(*)) AS BIGINT) AS ctr
       |    FROM ${pfx}ssa1 a JOIN $cc c USING (cid), range(1, ${Dim + 1}) t(pos)
       |    WHERE a.rn = 1
       |    GROUP BY a.sid, t.pos)
       |  GROUP BY sid),
       |${pfx}ssa2 AS (
       |  SELECT cid, sid, row_number() OVER (PARTITION BY cid ORDER BY dist, sid) AS rn
       |  FROM (SELECT c.cid, s.sid, ${l2("c.cv", "s.sv")} AS dist FROM $cc c, ${pfx}ss1 s)),
       |${pfx}smem AS (SELECT cid, sid FROM ${pfx}ssa2 WHERE rn = 1),
       |${pfx}vsup AS (
       |  SELECT vec_id, sid FROM (
       |    SELECT r.vec_id, s.sid,
       |      row_number() OVER (PARTITION BY r.vec_id
       |        ORDER BY ${l2(s"r.$qv", "s.sv")}, s.sid) AS rn
       |    FROM $q r, (SELECT * FROM ${pfx}ss1 WHERE sid IN (SELECT sid FROM ${pfx}smem)) s)
       |  WHERE rn = 1),
       |$out AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT r.vec_id, c.cid AS cell,
       |      row_number() OVER (PARTITION BY r.vec_id
       |        ORDER BY ${l2(s"r.$qv", "c.cv")}, c.cid) AS rn
       |    FROM $q r JOIN ${pfx}vsup v USING (vec_id)
       |      JOIN ${pfx}smem m ON m.sid = v.sid JOIN $cc c ON c.cid = m.cid)
       |  WHERE rn = 1)""".stripMargin
  }

  /** q_dbscan's candidate-pair generator, factored for the hot-cell
    * census spec (the boundedCellPairs precedent): input is an
    * `assigned` frame carrying (vec_id, home, darr, qdist, g, dv, nrm)
    * where `g` is the ε-width stripe of coordinate 1; output is every
    * (a_id < b_id) candidate with a's ball probe reaching b's home
    * cell AND |stripe(a) − stripe(b)| ≤ 1 — a LOSSLESS superset of the
    * true ε-pairs (single-coordinate bound), with per-cell cost
    * O(Σ_s |s|·|s±1|) instead of O(|cell|²). dva/dvb/nrm_a/nrm_b pass
    * through for the caller's exact integer d² verify.
    */
  private[graft] def dbscanCandidates(assigned: DataFrame, epsQ: Long): DataFrame = {
    val index = assigned
      .select(col("home").as("cell"), col("g"), col("vec_id").as("b_id"),
        col("dv").as("dvb"), col("nrm").as("nrm_b"))
    val probe = assigned
      .select(col("vec_id").as("a_id"), col("dv").as("dva"), col("nrm").as("nrm_a"),
        col("qdist"), col("g").as("g0"), posexplode(col("darr")).as(Seq("cell", "dc")))
      .filter(expr(
        s"sqrt(CAST(dc AS DOUBLE)) <= sqrt(CAST(qdist AS DOUBLE)) + ${2 * epsQ} + 0.5"))
      .select(col("a_id"), col("dva"), col("nrm_a"), col("cell"),
        explode(expr("array(g0 - 1, g0, g0 + 1)")).as("g"))
    // each (a,b) arises at most once: b appears under exactly one
    // (cell, stripe), and a probes each of b's possible stripes once.
    // r16 NOTE: a keyed repartition pinning the join's parallelism was
    // measured and REVERTED — it shuffles the exploded probe rows'
    // 64-dim dv arrays (+40 CPU·s serialization, +76 MB shuffle) for
    // no wall win; the verify filter's CPU is small enough that the
    // AQE-coalesced join stage is not the query's bottleneck (job
    // count is).
    probe.join(index, Seq("cell", "g"))
      .filter(col("a_id") < col("b_id"))
  }

  /** The STAND-IN-weight score frame (doc_id, lang, score_milli, …)
    * that the score-machinery evaluation bank (q_auc, q_roc_points,
    * q_lift, q_calibration, q_mcc, …) ranks — those operators evaluate
    * ranking/calibration ARITHMETIC against a fixed deterministic
    * scorer, independent of the trained classifier's trajectory.
    * Exposed for the specs that brute-force replay those rankings
    * driver-side (the trained scorer serves q_classifier_score/auc/pr,
    * whose oracles replay training instead). */
  private[graft] def standInScored(s: SparkSession, d: String): DataFrame = {
    val warr = weights.mkString("array(", "L,", "L)")
    Tables.documents(s, d)
      .withColumn("score_milli", expr(
        s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
          s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
      .select(col("doc_id"), col("lang"), col("score_milli"))
  }

  /** Mann-Whitney AUC with exact midrank tie handling over a
    * (sc, pos) frame — the q_auc machinery, shared with the trained
    * classifier's self-evaluation (see q_auc's scaladoc above the
    * queries map for the identity and the ×2-integer discipline). The
    * corpus collapses to per-SCORE counts first; the only ordered
    * window runs over that bounded distinct-score census. */
  private def aucOf(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = scored.groupBy(col("sc"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("npos"))
    val below = Window.orderBy(col("sc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val mid = per.withColumn("below",
      coalesce(sum(col("cnt")).over(below), lit(0L)))
    val tot = scored.agg(sum(col("pos")).as("n_pos"),
      (count(lit(1)) - sum(col("pos"))).as("n_neg"))
    mid.crossJoin(broadcast(tot))
      .groupBy(col("n_pos"), col("n_neg"))
      .agg(sum(expr("npos * (2 * below + cnt + 1)")).as("rank_sum2"))
      .withColumn("auc_num", expr("rank_sum2 - n_pos * (n_pos + 1)"))
      .withColumn("auc", round(expr(
        "CAST(rank_sum2 - n_pos * (n_pos + 1) AS DOUBLE) / (2 * n_pos * n_neg)"), 6))
      .select(col("n_pos"), col("n_neg"), col("auc_num"), col("auc"))
  }

  /** The DuckDB twin of [[aucOf]]'s tail: CTEs from a `scored (sc,
    * pos)` relation to the 1-row AUC report. */
  private val aucTailSql =
    """per AS (
      |  SELECT sc, CAST(count(*) AS BIGINT) AS cnt, CAST(SUM(pos) AS BIGINT) AS npos
      |  FROM scored GROUP BY sc),
      |mid AS (
      |  SELECT sc, cnt, npos,
      |    COALESCE(CAST(SUM(cnt) OVER (ORDER BY sc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS below
      |  FROM per),
      |tot AS (
      |  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(count(*) - SUM(pos) AS BIGINT) AS n_neg FROM scored),
      |agg AS (
      |  SELECT n_pos, n_neg,
      |    CAST(SUM(npos * (2 * below + cnt + 1)) AS BIGINT) AS rank_sum2
      |  FROM mid, tot GROUP BY n_pos, n_neg)
      |SELECT n_pos, n_neg, rank_sum2 - n_pos * (n_pos + 1) AS auc_num,
      |  round(CAST(rank_sum2 - n_pos * (n_pos + 1) AS DOUBLE) / (2 * n_pos * n_neg), 6) AS auc
      |FROM agg""".stripMargin

  val queries: Map[String, Q] = Map(
    // Scores every document with the TRAINED weights (see
    // [[trainedClassifier]] — the stand-in literal is gone from the
    // serving path; its oracle replays the whole training trajectory
    // before scoring, so a drift anywhere in train OR apply mismatches)
    "q_classifier_score" -> ((s, d) => {
      val fin = trainedClassifier(s, d).last
      import graft.functions.SqlBridge.sdiv
      Tables.documents(s, d)
        .withColumn("score_e12", expr(clsZExpr(fin.w, fin.b)))
        .select(col("doc_id"), col("lang"),
          expr(sdiv("score_e12", "1000000")).as("score_micro"),
          (col("score_e12") > 0).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // The TRAINING TRAJECTORY itself as a result page — one row per GD
    // round: the round's gradient summary (Σu and Σ|g_j| at the
    // pre-round weights, computed IN-PLAN), the post-round bias, the
    // post-round weight-table L1 mass and id-weighted checksum (driver
    // literals from the memoized trainer — the codebook pattern: the
    // oracle recomputes both from its own CTE replay, so a divergence
    // anywhere in the 256-weight table mismatches), and the mean
    // log-loss AT the post-round weights. Loss falls every round — the
    // training-is-working audit.
    "q_classifier_train" -> ((s, d) => {
      import graft.functions.SqlBridge.sdiv
      val traj = trainedClassifier(s, d)
      val states = (IndexedSeq.fill(256)(0L), 0L) +: traj.map(r => (r.w, r.b))
      // log-loss in the numerically SAFE margin form ln(1 + exp(−m)),
      // m = (2y−1)·z: the naive −[y·ln p + (1−y)·ln(1−p)] underflows
      // 1−p to exactly 0.0 once |z| ≳ 37 (confidently-scored docs after
      // round 1), where DuckDB's ln(0) ERRORS and Spark's returns NULL
      // — the margin form is finite until |z| > 709 and identical-text
      // deterministic on both engines
      val lossE6 =
        """CAST(floor(ln(1.0 + exp(-((2 * y - 1) * CAST(z_e12 AS DOUBLE) / 1e12)))
          |  * 1000000 + 0.5) AS BIGINT)""".stripMargin
      val rows = (1 to ClsRounds).map { r =>
        val (wPrev, bPrev) = states(r - 1)
        val cur = traj(r - 1)
        val scored = clsScored(s, d, wPrev, bPrev)
        val docAgg = scored.agg(count(lit(1)).as("n"), sum(col("u")).as("gsum_u"))
        val gAgg = scored
          .select(col("u"), explode(split(col("text"), " ")).as("t"))
          .select(expr(s"CAST($sparkBucket AS INT)").as("bk"), col("u"))
          .groupBy(col("bk")).agg(sum(col("u")).as("g"))
          .agg(sum(abs(col("g"))).as("g_l1"))
        val lossAgg = clsScored(s, d, cur.w, cur.b)
          .withColumn("l_e6", expr(lossE6))
          .agg(count(lit(1)).as("nl"), sum(col("l_e6")).as("sl"))
          .select(expr("sl DIV nl").as("loss_micro"))
        docAgg.crossJoin(broadcast(gAgg)).crossJoin(broadcast(lossAgg))
          .select(lit(r.toLong).as("round"), col("n"), col("gsum_u"), col("g_l1"),
            lit(cur.b).as("b_e12"),
            lit(cur.w.map(math.abs).sum).as("w_l1_e12"),
            lit(cur.w.zipWithIndex.map { case (wj, j) => wj * (j + 1) }.sum)
              .as("w_checksum"),
            col("loss_micro"))
      }
      rows.reduce(_ unionByName _).orderBy(col("round"))
    }),

    // ONE PLSA EM STEP (Hofmann 1999; the aspect-model ancestor of
    // LDA) over the document corpus, K = 4 topics — the topic-model
    // primitive data-curation pipelines use for corpus composition
    // audits and domain-mixture tagging. Init is CLOSED-FORM hash
    // arithmetic (θ_dz from doc_id, φ_zw from word surface features —
    // length + first/last codepoints), so the E-step needs NO
    // parameter table at all: the posterior P(z|d,w) ∝ θ_dz·φ_zw is
    // computed inline per (doc, word) cell, quantized to exact micro
    // BEFORE the M-step sums it (the repo's fixed-point discipline —
    // summing engine-ordered doubles would break oracle parity). The
    // M-step's topic-word weights n_zw = Σ_d c_dw·p_micro(z|d,w) come
    // out as exact BIGINTs; report the top-10 words per topic.
    //
    // Scale posture: the E-step is entirely MAP-SIDE (closed-form
    // init → no θ/φ join, no window: the 4-term denominator is an
    // inline expression and the K posteriors posexplode from an array
    // literal); the only shuffles are the (doc, word) count and the
    // (z, word) M-step aggregate — both partial+final; the top-10 rank
    // is a WindowGroupLimit-prunable per-topic window over the
    // vocab-grain result.
    "q_plsa_step" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      def theta(z: Int) = s"(1 + ((doc_id % 100000) * 73 + $z * 137) % 1009)"
      def phi(z: Int) =
        s"(1 + (length(w) * 131 + ascii(w) * 31 + ascii(substring(w, length(w), 1)) + $z * 977) % 997)"
      val den = (0 to 3).map(z => s"${theta(z)} * ${phi(z)}").mkString(" + ")
      val nums = (0 to 3).map(z => s"${theta(z)} * ${phi(z)}").mkString("array(", ", ", ")")
      val nw = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .withColumn("den", expr(den))
        .select(col("w"), col("c"), col("den"),
          posexplode(expr(nums)).as(Seq("z", "num")))
        .withColumn("p_micro", expr("(CAST(num AS BIGINT) * 1000000) DIV den"))
        .groupBy(col("z"), col("w"))
        .agg(sum(expr("c * p_micro")).as("weight"))
      nw.withColumn("rk", row_number().over(
          Window.partitionBy(col("z")).orderBy(col("weight").desc, col("w"))).cast("bigint"))
        .filter(col("rk") <= 10)
        .select(col("z").cast("bigint").as("z"), col("w"), col("weight"), col("rk"))
        .orderBy(col("z"), col("rk"))
    }),

    // ROC AUC of the quality classifier as an English detector — the
    // on-engine model-evaluation primitive. EXACT arithmetic via the
    // Mann-Whitney rank-sum identity with PROPER midrank tie handling:
    // AUC = (2·Σ_{pos} avgrank − n₊(n₊+1)) / (2·n₊·n₋), where a tied
    // score group occupying ranks lo..hi contributes avgrank =
    // (lo+hi)/2 — carried ×2 as the integer 2·below + cnt + 1, so no
    // half ever appears. Ranks come from the KS-test posture: the
    // corpus collapses to per-SCORE counts first, and the only ordered
    // window runs over that bounded distinct-score table (a two-phase
    // prefix sum at 100 TB), never over documents. Only the final
    // reporting division is float, on identical exact integers.
    "q_auc" -> ((s, d) => {
      val warr = weights.mkString("array(", "L,", "L)")
      val scored = Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(col("sc"), when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      aucOf(scored)
    }),

    // PRECISION-RECALL curve of the TRAINED classifier — the
    // threshold-sweep page next to q_classifier_auc's scalar (PR is
    // the view that matters under class imbalance, where ROC
    // flatters): one point per DISTINCT score, descending — exactly
    // the operating points a threshold choice can realize. Exact
    // integers: the corpus collapses to the per-score census first,
    // cumulative tp/fp are prefix sums over that bounded table (the
    // q_auc posture — the only ordered window runs over distinct
    // scores, never documents), precision/recall in truncating micro.
    "q_classifier_pr" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val fin = trainedClassifier(s, d).last
      val scored = Tables.documents(s, d)
        .withColumn("sc", expr(clsZExpr(fin.w, fin.b)))
        .select(col("sc"), when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val per = scored.groupBy(col("sc"))
        .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("npos"))
      val w = Window.orderBy(col("sc").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = scored.agg(sum(col("pos")).as("p_all"))
      per
        .withColumn("tp", sum(col("npos")).over(w))
        .withColumn("fp", sum(expr("cnt - npos")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("sc"), col("tp"), col("fp"),
          expr("(tp * 1000000) DIV (tp + fp)").as("precision_micro"),
          expr("(tp * 1000000) DIV p_all").as("recall_micro"))
        .orderBy(col("sc").desc)
    }),

    // AUC of the TRAINED classifier — closes the train → apply →
    // evaluate loop entirely on-engine: the q_auc midrank machinery
    // over [[trainedClassifier]]'s scores; the oracle replays the full
    // training trajectory before ranking, so the reported AUC
    // certifies the whole loop, not just the ranking arithmetic.
    "q_classifier_auc" -> ((s, d) => {
      val fin = trainedClassifier(s, d).last
      val scored = Tables.documents(s, d)
        .withColumn("sc", expr(clsZExpr(fin.w, fin.b)))
        .select(col("sc"), when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      aucOf(scored)
    }),

    // SUBGROUP AUC — the fairness/robustness slice of q_auc (Model
    // Cards, Mitchell et al. 2019: aggregate metrics hide subgroup
    // failures; a detector with pooled AUC 0.9 can be coin-flip on one
    // source): the SAME midrank rank-sum machinery, partitioned by the
    // `source` subgroup, plus the pooled ALL row and each subgroup's
    // signed micro-unit gap to it — the number a model reviewer scans
    // for disparity. Identical exact-integer discipline (per-score
    // counts, ×2 midranks, sign-safe gap division); the only ordered
    // windows run per subgroup over bounded distinct-score tables.
    "q_auc_subgroup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val warr = weights.mkString("array(", "L,", "L)")
      val scored = Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(col("source"), col("sc"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .ckpt() // subgroup arm + pooled arm share one scoring pass
      def aucOf(df: DataFrame, grp: Column): DataFrame = {
        val g = df.withColumn("grp", grp)
        val per = g.groupBy(col("grp"), col("sc"))
          .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("npos"))
        val below = Window.partitionBy(col("grp")).orderBy(col("sc"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val tot = g.groupBy(col("grp"))
          .agg(sum(col("pos")).as("n_pos"), (count(lit(1)) - sum(col("pos"))).as("n_neg"))
        per.withColumn("below", coalesce(sum(col("cnt")).over(below), lit(0L)))
          .groupBy(col("grp"))
          .agg(sum(expr("npos * (2 * below + cnt + 1)")).as("rank_sum2"))
          .join(tot, Seq("grp"))
          .withColumn("auc_micro", expr(
            "((rank_sum2 - n_pos * (n_pos + 1)) * 1000000) DIV (2 * n_pos * n_neg)"))
          .select(col("grp"), col("n_pos"), col("n_neg"), col("auc_micro"))
      }
      val bySrc = aucOf(scored, col("source"))
      val pooled = aucOf(scored, lit("ALL"))
      bySrc.unionByName(pooled)
        .crossJoin(broadcast(pooled.select(col("auc_micro").as("pooled_micro"))))
        .withColumn("gap_micro", col("auc_micro") - col("pooled_micro"))
        .select(col("grp").as("subgroup"), col("n_pos"), col("n_neg"),
          col("auc_micro"), col("gap_micro"))
        .orderBy(col("subgroup"))
    }),

    // Calibration (reliability) table of the quality classifier as an
    // English detector — the companion diagnostic to q_auc: AUC says
    // the RANKING is good, calibration says whether the SCORES mean
    // what a downstream threshold assumes (fastText-style quality
    // filters are used exactly that way: "keep if score > t"). Docs
    // bucket into fixed 2k-milli score bins; per bin, count, positive
    // count, exact integer score sum and positive rate in micro-units.
    // INTEGER-EXACT throughout: the score is CLAMPED to
    // [-128000, 127999] before the +128000 shift and truncating bin
    // division, so the shifted value is non-negative BY CONSTRUCTION —
    // Spark's DIV and DuckDB's // only agree on non-negatives (they
    // truncate vs floor on negatives), and without the clamp that
    // agreement rested on a fixture bound (≤127 tokens ⇒ |score| ≤
    // 127000) that nothing in the query enforced. On the current
    // fixture the clamp is a no-op; under drift, out-of-range docs land
    // deterministically in the edge bins (0 and 127) in BOTH engines
    // instead of silently diverging. One partial+final aggregate over
    // (bin, pos); nothing collects, text never shuffles.
    // GAINS / LIFT table — the decile view model reviewers actually
    // read next to AUC (q_auc) and the calibration curve
    // (q_calibration): rank docs by classifier score, cut into 10
    // equal deciles, report per-decile and CUMULATIVE positive rates
    // and lift vs the base rate. "Top decile captures 2.3× its share
    // of positives" is the sentence that decides whether a quality
    // classifier is worth gating on. Deciles come from a
    // [[Ranks.globalOrderScan]] bucket-offset rank (score-width
    // buckets, negated for the DESC order) + [[Ranks.ntileFromRank]]
    // — the data-grain window partitions by bucket; the cumulative
    // window runs over the 10-row decile table. All counts and rates
    // in exact integer micro.
    "q_lift" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val warr = weights.mkString("array(", "L,", "L)")
      val scored = Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(col("doc_id"), col("sc"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val tot = scored.agg(count(lit(1)).as("tot_n"), sum(col("pos")).as("tot_pos"))
      val dec = Ranks.globalOrderScan(scored, expr("-(sc DIV 2000)"),
          Seq(col("sc").desc, col("doc_id")), "rk")
        .crossJoin(broadcast(tot))
        .withColumn("decile", Ranks.ntileFromRank("rk", "tot_n", 10))
      val per = dec.groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      val cum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.withColumn("cum_n", sum(col("n")).over(cum))
        .withColumn("cum_pos", sum(col("n_pos")).over(cum))
        .crossJoin(broadcast(tot))
        .selectExpr("decile", "n", "n_pos",
          "(n_pos * 1000000) DIV n AS pos_rate_micro",
          "cum_n", "cum_pos",
          "(cum_pos * tot_n * 1000000) DIV (cum_n * tot_pos) AS cum_lift_micro")
        .orderBy(col("decile"))
    }),

    "q_calibration" -> ((s, d) => {
      val warr = weights.mkString("array(", "L,", "L)")
      Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(expr("(greatest(least(sc, 127999L), -128000L) + 128000) DIV 2000").as("bin"),
          col("sc"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
          sum(col("sc")).as("sum_score_milli"))
        .withColumn("pos_rate_micro", expr("(n_pos * 1000000) DIV n"))
        .orderBy(col("bin"))
    }),

    // BRIER decomposition (Murphy 1973) — the scalar summary that
    // q_calibration's reliability TABLE feeds: BS = REL − RES + UNC
    // (+ within-bin variance, reported implicitly via the directly
    // measured BS), where REL punishes miscalibrated bins, RES
    // rewards discriminating bins, and UNC is the irreducible base-
    // rate entropy. Probabilities come from the same clipped milli
    // score mapped affinely to micro units (p = (c+128000)·125/32 —
    // exact integer), bins are q_calibration's 2000-milli cells, and
    // every moment (Σp, Σ(p−o)², n·(p̄−ō)²) is an exact BIGINT; the
    // four finals are one float division each over identical exact
    // integers in identical text, round 6. One partial+final corpus
    // aggregate to 128 bins + a broadcast 1-row total — map-only at
    // any scale, text never shuffles.
    "q_brier" -> ((s, d) => {
      val warr = weights.mkString("array(", "L,", "L)")
      val rows = Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(expr("greatest(least(sc, 127999L), -128000L)").as("c"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .select(expr("(c + 128000) DIV 2000").as("bin"),
          expr("((c + 128000) * 125) DIV 32").as("p"), col("pos"))
      val binAgg = rows.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"),
          sum(col("p")).as("sp"),
          sum(expr("(p - pos * 1000000) * (p - pos * 1000000)")).as("se"))
        .withColumn("pbar", expr("sp DIV n"))
        .withColumn("obar", expr("(np * 1000000) DIV n"))
      val tot = rows.agg(count(lit(1)).as("tn"), sum(col("pos")).as("tnp"))
        .select(col("tn"), expr("(tnp * 1000000) DIV tn").as("ob"))
      binAgg.crossJoin(broadcast(tot))
        .agg(sum(expr("n * (pbar - obar) * (pbar - obar)")).as("rel_raw"),
          sum(expr("n * (obar - ob) * (obar - ob)")).as("res_raw"),
          sum(col("se")).as("se_raw"), max(col("tn")).as("tn"), max(col("ob")).as("ob"))
        .select(col("tn").as("n"),
          round(expr("CAST(se_raw AS DOUBLE) / tn / 1e12"), 6).as("bs"),
          round(expr("CAST(rel_raw AS DOUBLE) / tn / 1e12"), 6).as("rel"),
          round(expr("CAST(res_raw AS DOUBLE) / tn / 1e12"), 6).as("res"),
          round(expr("CAST(ob AS DOUBLE) * (1000000 - ob) / 1e12"), 6).as("unc"))
    }),

    // ROC CURVE table (binned) — the per-threshold readout behind
    // q_auc's single number (and the operating-point picker for
    // q_mcc's shipped gate): sweep the threshold down the
    // q_calibration score bins, reporting cumulative TPR/FPR at each
    // cut. The corpus collapses to the ≤128-bin table first (one
    // partial+final aggregate); the sweep is two windows over that
    // bounded table (the q_auc distinct-value posture — never a
    // corpus sort); rates are exact micro.
    "q_roc_points" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val warr = weights.mkString("array(", "L,", "L)")
      val bins = Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(expr("(greatest(least(sc, 127999L), -128000L) + 128000) DIV 2000").as("bin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
      val w = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bins
        .withColumn("tp", sum(col("np")).over(w))
        .withColumn("fp", sum(expr("n - np")).over(w))
        .crossJoin(broadcast(bins.agg(sum(col("np")).as("pt"),
          sum(expr("n - np")).as("nt"))))
        .select(col("bin"), col("tp"), col("fp"),
          expr("(tp * 1000000) DIV pt").as("tpr_micro"),
          expr("(fp * 1000000) DIV nt").as("fpr_micro"))
        .orderBy(col("bin").desc)
    }),

    // GROUP-FAIRNESS report for the shipped keep-gate (demographic
    // parity + equalized-odds view; Hardt et al. 2016's metrics as a
    // per-group table) — the responsible-AI audit completing
    // q_auc_subgroup (which grades per-group RANKING; this grades
    // the per-group DECISION rule keep ⟺ score > 0): per source
    // group — selection rate (parity), TPR and FPR (equalized odds)
    // — plus each group's signed micro gap to the pooled rate, so
    // the disparate-impact reading is one scan down a column. All
    // exact: confusion cells are one partial+final aggregate per
    // group + a broadcast pooled row, rates truncating micro,
    // NULL-guarded empty classes. Group = source bucket (8 groups).
    "q_fairness_report" -> ((s, d) => {
      val warr = weights.mkString("array(", "L,", "L)")
      val scored = Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(expr("CAST(substring(source, 4) AS BIGINT) % 8").as("grp"),
          when(col("sc") > 0, 1L).otherwise(0L).as("kept"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      def cells(df: org.apache.spark.sql.RelationalGroupedDataset) =
        df.agg(count(lit(1)).as("n"), sum(col("kept")).as("k"),
          sum(expr("kept * pos")).as("tp"), sum(col("pos")).as("p"),
          sum(expr("kept * (1 - pos)")).as("fp"))
      val byGrp = cells(scored.groupBy(col("grp")))
      val pooled = cells(scored.groupBy())
        .select(expr("(k * 1000000) DIV n").as("sel_all"),
          expr("CASE WHEN p > 0 THEN (tp * 1000000) DIV p END").as("tpr_all"),
          expr("CASE WHEN n - p > 0 THEN (fp * 1000000) DIV (n - p) END").as("fpr_all"))
      byGrp.crossJoin(broadcast(pooled))
        .select(col("grp"), col("n"),
          expr("(k * 1000000) DIV n").as("sel_micro"),
          expr("CASE WHEN p > 0 THEN (tp * 1000000) DIV p END").as("tpr_micro"),
          expr("CASE WHEN n - p > 0 THEN (fp * 1000000) DIV (n - p) END").as("fpr_micro"),
          expr("(k * 1000000) DIV n - sel_all").as("parity_gap"),
          expr("CASE WHEN p > 0 THEN (tp * 1000000) DIV p - tpr_all END").as("tpr_gap"))
        .orderBy(col("grp"))
    }),

    // LOGISTIC-REGRESSION training by gradient descent — two
    // unrolled full-batch GD steps fitting P(en | score) on the
    // hashed-classifier feature (the calibration-by-refit companion
    // to q_isotonic's nonparametric repair): w, b carried in exact
    // e12 fixed point; each step is ONE partial+final aggregate of
    // per-row gradient contributions that SNAP to the e6 grid before
    // summing (u = ⌊(y − σ(z))·10⁶ + 0.5⌋ — σ's doubles are
    // identical-text functions of exact integers, so u is
    // deterministic and the gradient sum is exact integer — the
    // discipline that makes distributed float training replayable);
    // η = 1e-10 folds into the unit change (Δw_e12 = Σx·u DIV
    // (n·10⁴)) — sized so η·E[x²] < 1 for the milli-unit feature
    // (a 1e-6 step overshoots by ~10⁴ and the loss explodes).
    // Step 1's σ(0) = 0.5 is exact, so the first gradient needs no
    // special case. A third aggregate reports mean log-loss. At
    // 100 TB: three map-only scans, state is two BIGINTs.
    "q_logreg_gd" -> ((s, d) => {
      val warr = weights.mkString("array(", "L,", "L)")
      val sdiv = (x: String, y: String) =>
        s"(CASE WHEN ($x) >= 0 THEN ($x) DIV ($y) ELSE -((-($x)) DIV ($y)) END)"
      val scored = Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(expr("greatest(least(sc, 127999L), -128000L)").as("x"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      val u =
        """CAST(floor((y - 1.0 / (1.0 + exp(-(CAST(b_e12 + w_e12 * x AS DOUBLE) / 1e12))))
          |  * 1000000 + 0.5) AS BIGINT)""".stripMargin
      val state0 = s.range(1).select(lit(0L).as("w_e12"), lit(0L).as("b_e12"))
      def step(st: DataFrame): DataFrame =
        scored.crossJoin(broadcast(st))
          .withColumn("u", expr(u))
          .agg(sum(expr("x * u")).as("gx"), sum(col("u")).as("gu"),
            count(lit(1)).as("n"), max(col("w_e12")).as("w0"), max(col("b_e12")).as("b0"))
          .select(expr(s"w0 + ${sdiv("gx", "n * 10000")}").as("w_e12"),
            expr(s"b0 + ${sdiv("gu", "n * 10000")}").as("b_e12"))
      val state2 = step(step(state0))
      scored.crossJoin(broadcast(state2))
        .withColumn("p", expr(
          "1.0 / (1.0 + exp(-(CAST(b_e12 + w_e12 * x AS DOUBLE) / 1e12)))"))
        .withColumn("l_e6", expr(
          "CAST(floor(-(y * ln(p) + (1 - y) * ln(1.0 - p)) * 1000000 + 0.5) AS BIGINT)"))
        .agg(count(lit(1)).as("n"), max(col("w_e12")).as("w_e12"),
          max(col("b_e12")).as("b_e12"), sum(col("l_e6")).as("sl"))
        .select(col("n"), col("w_e12"), col("b_e12"),
          expr("sl DIV n").as("loss_micro"))
    }),

    // NAIVE BAYES language classifier — TRAINED, APPLIED and SCORED
    // entirely on-engine (multinomial NB with Laplace smoothing, the
    // fastText-predecessor baseline): train on the even-doc_id half,
    // confusion matrix on the odd half, 5-way over the lang labels —
    // the TRAINED counterpart of q_langid_trigram's heuristic (and a
    // complete supervised train→predict→eval loop as one declarative
    // plan). Exactness: every log-prob is ln of a ratio of exact
    // BIGINTs ((c+1)/(T_cls+V)) snapped to the e6 grid at the
    // (token, class) grain, so per-doc scores are exact integer sums
    // and the argmax is an integer comparison (ties → lexicographic
    // class, stated). Scale shape: the model is a (token)-grain
    // table joined to eval tokens on the token key (the q_lm_score
    // hint-free posture — broadcast at fixture scale, shuffle join
    // at web scale); class totals/priors are a broadcast 1-row;
    // nothing ever materializes at (doc × vocab) grain.
    "q_naive_bayes" -> ((s, d) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("t"))
        .filter(length(col("t")) > 0)
      val train = tok.filter(col("doc_id") % 2 === 0)
      val modelCols = langs.map(l =>
        sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"c_$l"))
      val model = train.groupBy(col("t")).agg(modelCols.head, modelCols.tail: _*)
      val totalCols =
        langs.map(l => sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"t_$l")) :+
          countDistinct(col("t")).as("v")
      val totals = train.agg(totalCols.head, totalCols.tail: _*)
      val docsTrain = Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
      val priorCols =
        langs.map(l => sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"n_$l")) :+
          count(lit(1)).as("nd")
      val priors = docsTrain.agg(priorCols.head, priorCols.tail: _*)
      val evalTok = tok.filter(col("doc_id") % 2 === 1)
      val scoredTok = evalTok
        .join(model, Seq("t"), "left")
        .crossJoin(broadcast(totals))
      val perDocCols = langs.map(l =>
        sum(expr(
          s"CAST(floor(ln(CAST(coalesce(c_$l, 0L) + 1 AS DOUBLE) / CAST(t_$l + v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"))
          .as(s"s_$l"))
      val perDoc = scoredTok.groupBy(col("doc_id"), col("lang"))
        .agg(perDocCols.head, perDocCols.tail: _*)
        .crossJoin(broadcast(priors))
      val withScores = langs.foldLeft(perDoc) { (df, l) =>
        df.withColumn(s"sc_$l", expr(
          s"s_$l + CAST(floor(ln(CAST(n_$l AS DOUBLE) / CAST(nd AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"))
      }
      val stacked = withScores.select(col("doc_id"), col("lang").as("true_lang"),
        expr("stack(5, " +
          langs.map(l => s"'$l', sc_$l").mkString(", ") + ") AS (cls, score)"))
      stacked
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("cls"))))
        .filter(col("rn") === 1)
        .groupBy(col("true_lang"), col("cls").as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("true_lang"), col("pred_lang"))
    }),

    // ISOTONIC calibration curve (Ayer et al. 1955; Zadrozny & Elkan
    // 2002 as the calibration recipe) — the nonparametric repair of
    // whatever miscalibration q_brier's REL term measures: fit the
    // best monotone map from score bins to empirical positive rates.
    // Instead of the sequential PAV stack (a data-dependent while-
    // loop no engine vectorizes), this uses the MINIMAX identity for
    // L2 isotonic regression: v_i = max_{j≤i} min_{k≥i} avg(j..k) —
    // which makes the whole fit three windowed passes over the
    // BIN-PAIR grain (≤ 128² rows, bounded by the score grid, never
    // by corpus size): prefix sums → pair averages → per-(j,i)
    // suffix-min in k → per-i prefix-max in j. Pool averages are
    // doubles over exact BIGINT prefix sums in identical text, and
    // min/max are order-insensitive, so both engines land on
    // bit-identical fits; the curve snaps to micro at the end.
    "q_isotonic" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val warr = weights.mkString("array(", "L,", "L)")
      val binAgg = Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(expr("(greatest(least(sc, 127999L), -128000L) + 128000) DIV 2000").as("bin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
      val wpre = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = binAgg
        .withColumn("cw", sum(col("n")).over(wpre))
        .withColumn("cs", sum(col("np")).over(wpre))
      val left = pre.select(col("bin").as("jb"),
        (col("cw") - col("n")).as("pw"), (col("cs") - col("np")).as("ps"))
      val right = pre.select(col("bin").as("kb"), col("cw"), col("cs"))
      val pairs = left.join(right, col("jb") <= col("kb"))
        .withColumn("avgp", expr("CAST(cs - ps AS DOUBLE) / CAST(cw - pw AS DOUBLE)"))
      val wsuf = Window.partitionBy(col("jb")).orderBy(col("kb").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val v = pairs
        .withColumn("m", min(col("avgp")).over(wsuf))
        .select(col("jb"), col("kb").as("bin"), col("m"))
        .groupBy(col("bin")).agg(max(col("m")).as("v"))
      binAgg.join(v, Seq("bin"))
        .select(col("bin"), col("n"), col("np"),
          expr("(np * 1000000) DIV n").as("raw_micro"),
          expr("CAST(floor(v * 1000000 + 0.5) AS BIGINT)").as("iso_micro"))
        .orderBy(col("bin"))
    }),

    // RIDGE regression, closed form (Hoerl & Kennard 1970) —
    // 2-feature Tikhonov fit of line price on (quantity, discount):
    // the multivariate + regularized extension of q_linear_fit's
    // simple slope. Normal equations run on the N-SCALED centered
    // Gram (C = n·Σxy − ΣxΣy — exact BIGINT-derived, no means, no
    // cancellation), with the ridge λ added to the Gram diagonal
    // (so λ_effective = L/n² in the usual per-sample convention —
    // stated, deterministic, and scale-documented). One map-only
    // moment aggregate over the corpus (per-row fixed-point BEFORE
    // the sums); the 2×2 solve is six float ops over exact integers
    // in identical text on a 1-row frame. At 100 TB nothing changes:
    // same single partial+final aggregate.
    "q_ridge_fit" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("x"),
        expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("y"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("z"))
      val cxx = "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
      val cyy = "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
      val cxy = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
      val cxz = "(CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)"
      val cyz = "(CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)"
      val det = s"(($cxx + 1e10) * ($cyy + 1e10) - $cxy * $cxy)"
      li.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
          sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * z")).as("sxz"),
          sum(expr("y * z")).as("syz"))
        .select(col("n"),
          round(expr(s"(($cyy + 1e10) * $cxz - $cxy * $cyz) / $det"), 6).as("beta_qty"),
          round(expr(s"(($cxx + 1e10) * $cyz - $cxy * $cxz) / $det"), 6).as("beta_disc"),
          round(expr(
            s"""(CAST(sz AS DOUBLE) - (($cyy + 1e10) * $cxz - $cxy * $cyz) / $det * sx
               |  - (($cxx + 1e10) * $cyz - $cxy * $cxz) / $det * sy) / n""".stripMargin), 2)
            .as("intercept_c"))
    }),

    // CONFIDENT-LEARNING label-noise estimate (Northcutt et al.
    // 2021, the binary confident-joint) — how many 'en' labels look
    // wrong to the classifier, and vice versa? Per-class mean score
    // is the confidence threshold; a document counts in cell
    // C[given][pred] only when its score clears the PREDICTED class's
    // threshold (score ≥ t₁ → confidently en, score < t₀ →
    // confidently not-en; a gap between the bands abstains — that is
    // what makes the joint "confident" — and an overlap, which
    // happens when the labeled means fail to separate, resolves to
    // the larger-margin class with ties to 1). Shape: one scoring scan to
    // per-class exact sums (map-only), a broadcast 1-row threshold
    // frame, one counting scan — the q_brier two-pass posture. Means
    // are truncate-toward-zero on possibly-negative sums (the
    // sign-safe CASE), cells and noise rates exact BIGINT/micro.
    "q_label_noise" -> ((s, d) => {
      val warr = weights.mkString("array(", "L,", "L)")
      val sdiv = (x: String, y: String) =>
        s"(CASE WHEN ($x) >= 0 THEN ($x) DIV ($y) ELSE -((-($x)) DIV ($y)) END)"
      val scored = Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(col("sc"), when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val th = scored.agg(
          sum(when(col("pos") === 1, col("sc")).otherwise(0L)).as("s1"),
          sum(col("pos")).as("k1"),
          sum(when(col("pos") === 0, col("sc")).otherwise(0L)).as("s0"),
          sum(expr("1 - pos")).as("k0"))
        .select(expr(sdiv("s1", "k1")).as("t1"), expr(sdiv("s0", "k0")).as("t0"))
      // pred is TOTAL and EXCLUSIVE: when the class bands overlap
      // (t1 < t0 — nothing guarantees the labeled means separate),
      // the doc goes to the class with the larger confidence margin
      // (ties to 1); when they leave a gap, the middle abstains.
      val pred =
        """CASE WHEN sc >= t1 AND sc < t0 THEN
          |       (CASE WHEN sc - t1 >= t0 - sc THEN 1 ELSE 0 END)
          |     WHEN sc >= t1 THEN 1
          |     WHEN sc < t0 THEN 0
          |     ELSE CAST(NULL AS BIGINT) END""".stripMargin
      scored.crossJoin(broadcast(th))
        .withColumn("pred", expr(pred))
        .agg(
          sum(expr("CASE WHEN pos = 0 AND pred = 0 THEN 1 ELSE 0 END")).as("c00"),
          sum(expr("CASE WHEN pos = 0 AND pred = 1 THEN 1 ELSE 0 END")).as("c01"),
          sum(expr("CASE WHEN pos = 1 AND pred = 0 THEN 1 ELSE 0 END")).as("c10"),
          sum(expr("CASE WHEN pos = 1 AND pred = 1 THEN 1 ELSE 0 END")).as("c11"),
          max(col("t0")).as("t0_milli"), max(col("t1")).as("t1_milli"))
        .select(col("t0_milli"), col("t1_milli"),
          col("c00"), col("c01"), col("c10"), col("c11"),
          expr("CASE WHEN c00 + c01 > 0 THEN (c01 * 1000000) DIV (c00 + c01) END")
            .as("flip0_micro"),
          expr("CASE WHEN c10 + c11 > 0 THEN (c10 * 1000000) DIV (c10 + c11) END")
            .as("flip1_micro"))
    }),

    // THRESHOLDED confusion report — MCC, precision/recall/F1 — for
    // the classifier's shipped decision rule (keep ⟺ score > 0): AUC
    // (q_auc) grades the ranking, calibration (q_calibration) the
    // scores; this grades the actual yes/no gate, with Matthews
    // correlation as the headline because it is the only single number
    // that stays honest under the 'en'-heavy class skew (Chicco &
    // Jurman 2020). Confusion counts are one partial+final aggregate
    // (4 exact BIGINTs from a map-only scoring scan — text never
    // shuffles); rates are exact integer micro; MCC's square root is
    // the only float, computed on a 1-row frame from exact counts in
    // identical expression text.
    "q_mcc" -> ((s, d) => {
      val warr = weights.mkString("array(", "L,", "L)")
      Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(expr("CASE WHEN sc > 0 THEN 1 ELSE 0 END").as("pred"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .agg(
          sum(expr("CASE WHEN pred = 1 AND pos = 1 THEN 1 ELSE 0 END")).as("tp"),
          sum(expr("CASE WHEN pred = 1 AND pos = 0 THEN 1 ELSE 0 END")).as("fp"),
          sum(expr("CASE WHEN pred = 0 AND pos = 1 THEN 1 ELSE 0 END")).as("fn"),
          sum(expr("CASE WHEN pred = 0 AND pos = 0 THEN 1 ELSE 0 END")).as("tn"))
        .withColumn("precision_micro", expr("(tp * 1000000) DIV (tp + fp)"))
        .withColumn("recall_micro", expr("(tp * 1000000) DIV (tp + fn)"))
        .withColumn("f1_micro", expr("(2 * tp * 1000000) DIV (2 * tp + fp + fn)"))
        .withColumn("mcc", round(expr(
          """CAST(tp * tn - fp * fn AS DOUBLE)
            | / sqrt(CAST((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) AS DOUBLE))""".stripMargin), 6))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          col("precision_micro"), col("recall_micro"), col("f1_micro"), col("mcc"))
    }),

    // LOG LOSS (cross-entropy) of the classifier under the logistic
    // link p = σ(score/1000), per source — the PROPER scoring rule
    // that calibration work optimizes (Brier's cousin; a model can
    // have great AUC and terrible log loss, and it is log loss that
    // LLM-filtering thresholds inherit). Numerically stable softplus
    // form loss = max(w,0) + ln(1+e^{−|w|}) (never overflows at |z| ≫
    // 0); the per-row loss quantizes to 1e-4 units THEN sums — the
    // q_lm_score fixed-point recipe, so the aggregate is an exact
    // integer sum, associative and partial-aggregation-safe, immune to
    // float summation order at any scale.
    "q_log_loss" -> ((s, d) => {
      val warr = weights.mkString("array(", "L,", "L)")
      Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(col("source"),
          expr("CASE WHEN lang = 'en' THEN -sc / 1000.0D ELSE sc / 1000.0D END").as("w"))
        .select(col("source"), expr(
          "CAST(floor((greatest(w, 0.0D) + ln(1.0D + exp(-abs(w)))) * 10000 + 0.5) AS BIGINT)")
          .as("loss_e4"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("loss_e4")).as("sum_loss_e4"))
        .withColumn("mean_loss_micro", expr("(sum_loss_e4 * 100) DIV n"))
        .orderBy(col("source"))
    }),

    // AVERAGE PRECISION (the area under the precision-recall curve by
    // the step-function convention — what IR and detection papers
    // report as AP) of the classifier's ranking, plus R-precision:
    // AP = (1/n₊)·Σ_{k: rel} P@k over the (score desc, doc_id) total
    // order — the unique tiebreak makes both engines walk the SAME
    // permutation, so every P@k is an exact integer micro division.
    // PR-curve metrics weight the positive class only, which is why AP
    // is the headline under heavy imbalance where ROC-AUC saturates
    // (Davis & Goadrich 2006). Eval-set grain: the rank AND the
    // running positive count both come from ONE [[Ranks.globalOrderScan]]
    // bucket-offset pass (score-width buckets, negated for the DESC
    // order; `sums` carries the inclusive cumpos prefix) —
    // bit-identical to the naive partitionless rank+cumsum window but
    // with per-bucket parallelism, so no single-reducer corpus sort
    // ever materializes (q_lift rides the same helper over the same
    // scored frame).
    "q_avg_precision" -> ((s, d) => {
      val warr = weights.mkString("array(", "L,", "L)")
      val scored = Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(col("doc_id"), col("sc"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val ranked = Ranks.globalOrderScan(scored, expr("-(sc DIV 2000)"),
          Seq(col("sc").desc, col("doc_id")), "k",
          sums = Seq((col("pos"), "cumpos")))
        .ckpt() // AP term sum + R-precision probe share it
      val tot = scored.agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      val apn = ranked.filter(col("pos") === 1)
        .agg(sum(expr("(cumpos * 1000000) DIV k")).as("ap_num"))
      val rp = ranked.crossJoin(broadcast(tot)).filter(col("k") === col("n_pos"))
        .select(col("cumpos").as("rp_cum"))
      tot.crossJoin(broadcast(apn)).crossJoin(broadcast(rp))
        .withColumn("ap_micro", expr("ap_num DIV n_pos"))
        .withColumn("rprec_micro", expr("(rp_cum * 1000000) DIV n_pos"))
        .select(col("n"), col("n_pos"), col("ap_micro"), col("rprec_micro"))
    }),

    // SPLIT CONFORMAL calibration (Vovk's conformal prediction, the
    // Angelopoulos-Bates recipe) — the distribution-free uncertainty
    // layer over the classifier: on a held-out calibration split
    // (doc_id parity — the q_kfold assignment idiom), take the
    // ⌈(n+1)·0.9⌉-th smallest nonconformity (label-signed score) as
    // q̂; the guarantee is ≥ 90% coverage on exchangeable test data,
    // and the query AUDITS it on the test split. Everything is exact
    // integers: the order statistic comes from the distinct-value
    // census + prefix sum (the q_auc posture — no corpus sort, a
    // two-phase prefix sum at 100 TB), the rank r = ceil((n+1)·9/10)
    // via the (a+b−1) DIV b ceiling identity, coverage in micro.
    "q_conformal" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val warr = weights.mkString("array(", "L,", "L)")
      val scored = Tables.documents(s, d)
        .withColumn("sc", expr(
          s"aggregate(split(text, ' '), 0L, (acc, t) -> " +
            s"acc + element_at($warr, CAST($sparkBucket AS INT) + 1))"))
        .select(col("doc_id"),
          expr("CASE WHEN lang = 'en' THEN -sc ELSE sc END").as("nc"))
        .ckpt() // calibration + test arms share one scoring
      val cal = scored.filter(expr("doc_id % 2 = 0"))
      val calTot = cal.agg(count(lit(1)).as("n_cal"))
        .withColumn("r", expr("((n_cal + 1) * 9 + 9) DIV 10"))
      val per = cal.groupBy(col("nc")).agg(count(lit(1)).as("cnt"))
      val cum = Window.orderBy(col("nc"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val qhat = per.withColumn("cum", sum(col("cnt")).over(cum))
        .crossJoin(broadcast(calTot))
        .filter(col("cum") >= col("r"))
        .groupBy(col("n_cal"), col("r"))
        .agg(min(col("nc")).as("qhat"))
      scored.filter(expr("doc_id % 2 = 1"))
        .crossJoin(broadcast(qhat))
        .groupBy(col("n_cal"), col("r"), col("qhat"))
        .agg(count(lit(1)).as("n_test"),
          sum(expr("CASE WHEN nc <= qhat THEN 1 ELSE 0 END")).as("n_cov"))
        .withColumn("cov_micro", expr("(n_cov * 1000000) DIV n_test"))
        .select(col("n_cal"), col("r"), col("qhat"), col("n_test"),
          col("n_cov"), col("cov_micro"))
    }),

    // Embedding outlier report — distance-to-centroid, the standard
    // training-data cleaning signal (mislabeled / out-of-distribution
    // vectors sit far from the corpus mean). Centroid = one
    // Lloyd.update with a single cluster (per-dimension floorDiv(Σqv,
    // n) over the 1e-4-quantized grid, the trainer's exactness
    // argument), folded map-side to one 64-long sum per partition and
    // put into the plan as a literal; each vector's squared distance
    // is then one exact-integer map-only expression feeding a top-20
    // TakeOrdered heap. Two scans, no shuffle.
    "q_doc_outlier" -> ((s, d) => {
      val qdf = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), expr(QuantTok).as("qv"))
      val clit = Lloyd.update(qdf.select(lit(0).as("cluster"), col("qv").as("qs")))
        .flatMap(_._2).mkString("array(", "L,", "L)")
      qdf.withColumn("dist2", expr(
        s"aggregate(zip_with(qv, $clit, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
        .select(col("vec_id"), col("label"), col("dist2"))
        .orderBy(col("dist2").desc, col("vec_id"))
        .limit(20)
    }),

    // One-pass Gram/covariance matrix over the embedding corpus — the
    // PCA / whitening / decorrelation prep (X^T X plus per-dimension
    // sums in a single aggregate). All 64·65/2 upper-triangle moments
    // are EXACT BIGINT sums of quantized products (|qv| ≤ 10⁴ ⇒
    // products ≤ 10⁸, ×2000 rows ≪ 2⁶³); the covariance itself is the
    // one float column, from the identical expression tree in both
    // engines. The d²/2 pair explosion feeds the PARTIAL aggregate
    // inside the same stage, so exploded rows never cross the network
    // — the shuffle carries ≤ partitions·d²/2 partial rows, and the
    // n·d²/2 multiply cost is inherent to a Gram matrix on any
    // engine. Scales exactly like MLlib's summarizer: one scan, one
    // codebook-sized (2080-row) result.
    "q_gram" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      // consumed by the pair pass AND the dim-sum pass — deliberately
      // NOT persisted: the quantize is a map-only scan expression, so
      // re-running it is cheaper than materializing 64-long arrays to
      // the block store (measured)
      val qdf = Tables.embeddings(s, d).select(expr(QuantTok).as("qv"))
      // the first-moment sums are per-DIMENSION (64 values) — they
      // attach to the 2080 pair rows by two dim-key joins instead of
      // being re-aggregated once per pair (which would carry 2 extra
      // longs through every exploded struct and triple the agg state)
      val dims = qdf
        .select(posexplode(col("qv")).as(Seq("j0", "v")))
        .select((col("j0") + 1).as("j"), col("v"))
        .groupBy(col("j")).agg(sum(col("v")).as("s"))
      qdf
        // native fused pair-product generator — the nested-HOF form ran
        // d·(d+1)/2 ≈ 2080 interpreted lambda frames (and allocated 64
        // slice copies) per embedding row
        .select(explode(expr("gram_pairs(qv)")).as("p"))
        .select(col("p.di").as("di"), col("p.dj").as("dj"), col("p.xy").as("xy"))
        .groupBy(col("di"), col("dj"))
        .agg(count(lit(1)).as("n"), sum(col("xy")).as("sxy"))
        .join(dims.select(col("j").as("di"), col("s").as("sx")), Seq("di"))
        .join(dims.select(col("j").as("dj"), col("s").as("sy")), Seq("dj"))
        .withColumn("cov", round(expr(
          """(CAST(sxy AS DOUBLE)
            | - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
            |/ CAST(n - 1 AS DOUBLE)""".stripMargin), 6))
        .select(col("di"), col("dj"), col("n"), col("sxy"), col("sx"), col("sy"), col("cov"))
        .orderBy(col("di"), col("dj"))
    }),

    "q_kmeans_fit" -> ((s, d) =>
      fitKMeans(s, d, Iters)._2
        .select(col("vec_id"), col("cluster"), col("qdist"))
        .orderBy(col("vec_id"))),

    // Clustering EVAL — purity, Rand index and Adjusted Rand of the
    // q_kmeans_fit clusters against the embeddings' ground-truth
    // labels (the q_auc posture again: the unsupervised step ships
    // with its quality scores). Everything flows from the CONTINGENCY
    // TABLE n_ij = |cluster i ∩ label j| — a (k × labels)-grain
    // aggregate, so every downstream moment (pair agreements a =
    // ΣC(n_ij,2), margins ΣC(a_i,2)/ΣC(b_j,2), per-cluster max for
    // purity) is arithmetic over a tiny frame combined via broadcast
    // cross joins (the q_dedup_recall totals pattern). EXACT integers:
    // binomials are x(x−1) DIV 2; ARI's numerator/denominator are the
    // ×2-scaled integer forms 2(C₂·a − s_a·s_b) and C₂(s_a+s_b) −
    // 2·s_a·s_b (products ≤ C₂² ≈ 4·10¹² at fixture n — the BIGINT
    // bound is the documented knob past ~3·10⁹ pairs), with only the
    // final reporting division float (identical exact inputs → bit-
    // equal doubles in both engines).
    "q_cluster_eval" -> ((s, d) => {
      val assigned = fitKMeans(s, d, Iters)._2.select(col("vec_id"), col("cluster"))
      val cells = assigned
        .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("nij"))
        .persist() // contingency-table scale; consumed by 3 rollups
      val tot = cells.agg(sum(col("nij")).as("n"),
        sum(expr("nij * (nij - 1) DIV 2")).as("a2"),
        countDistinct(col("label")).as("n_labels"))
      val ci = cells.groupBy(col("cluster"))
        .agg(sum(col("nij")).as("ai"), max(col("nij")).as("mx"))
        .agg(count(lit(1)).as("k"), sum(expr("ai * (ai - 1) DIV 2")).as("sa"),
          sum(col("mx")).as("pure_n"))
      val lj = cells.groupBy(col("label")).agg(sum(col("nij")).as("bj"))
        .agg(sum(expr("bj * (bj - 1) DIV 2")).as("sb"))
      tot.crossJoin(broadcast(ci)).crossJoin(broadcast(lj))
        .withColumn("c2", expr("n * (n - 1) DIV 2"))
        .select(col("n"), col("k"), col("n_labels"),
          expr("(pure_n * 1000000) DIV n").as("purity_micro"),
          expr("((c2 + 2 * a2 - sa - sb) * 1000000) DIV c2").as("rand_micro"),
          round(expr(
            """CAST(2 * (c2 * a2 - sa * sb) AS DOUBLE)
              | / CAST(c2 * (sa + sb) - 2 * sa * sb AS DOUBLE)""".stripMargin), 6).as("ari"))
    }),

    // Top principal direction by POWER ITERATION over the embedding
    // corpus — the distributed PCA primitive (MLlib's RowMatrix route
    // for tall-skinny data): v ← normalize(Xᵀ(X v)), which never
    // materializes the d×d covariance and touches the data as two
    // matvec passes per round. Two rounds from the all-ones start.
    //
    // Exactness recipe: everything is BIGINT. Per-row scores s = ⟨qv,v⟩
    // are exact; before the second matvec they rescale by ENGINE-
    // PORTABLE FLOOR DIVISION — (a − ((a % n + n) % n)) DIV n, which
    // floors in BOTH engines even for negative a (bare DIV truncates in
    // Spark but // floors in DuckDB; the mod-subtraction makes the
    // dividend exactly divisible, where they agree) — keeping the
    // z-sums < 2⁶³. Normalization divides by qd = max(⌊max|z|/10⁶⌋, 1)
    // with the same fdiv, bounding v at ~10⁶ without the float sqrt an
    // L2 norm would need. Round-1 normalization happens driver-side on
    // the collected 64-row z vector (codebook scale — the q_kmeans_fit
    // contract: the next round's map-only scoring needs v as plan
    // literals); the FINAL round stays declarative (1-row max via
    // broadcast cross join).
    //
    // Scale posture: per round one map-only projection (the ⟨qv,v⟩
    // literal dot) + one partial+final 64-row aggregate (posexplode
    // feeds the partial agg inside its stage — the q_gram shape, so
    // exploded rows never cross the network). 100 TB streams through
    // 2·2 scans; the only driver data is 64 longs per round. The
    // rescale constant (10⁶) is the knob that keeps z-sums in range as
    // row count grows.
    "q_pca_power" -> ((s, d) => {
      val qdf = Tables.embeddings(s, d).select(col("vec_id"), expr(QuantTok).as("qv"))
      def fdiv(a: String, n: String) = s"(($a) - ((($a) % ($n) + ($n)) % ($n))) DIV ($n)"
      def zOf(v: IndexedSeq[Long]): DataFrame = {
        val varr = v.mkString("array(", "L,", "L)")
        qdf
          .withColumn("sraw", expr(
            s"aggregate(zip_with(qv, $varr, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
          .withColumn("sc", expr(fdiv("sraw", "1000000")))
          .select(col("sc"), posexplode(col("qv")).as(Seq("j0", "x")))
          .select((col("j0") + 1).as("j"), (col("x") * col("sc")).as("zx"))
          .groupBy(col("j")).agg(sum(col("zx")).as("z"))
      }
      val v0 = IndexedSeq.fill(Dim)(1000000L)
      val z1 = zOf(v0).collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).map(_._2)
      val qd1 = math.max(z1.map(z => math.abs(z)).max / 1000000L, 1L)
      val v1 = z1.map(z => Math.floorDiv(z, qd1))
      val z2 = zOf(v1)
      val m = z2.agg(greatest(expr("max(abs(z)) DIV 1000000"), lit(1L)).as("qd"))
      z2.crossJoin(broadcast(m))
        .select(col("j"), col("z"), expr(fdiv("z", "qd")).as("loading"))
        .orderBy(col("j"))
    }),

    // Product quantization (Jégou et al. 2011 — the FAISS IVFPQ
    // compression): the 64-dim space splits into 4 independent 16-dim
    // subspaces, each gets its own k=4 codebook (one Lloyd iteration
    // from the lowest-vec_id init), and a vector's code is the tuple
    // of its per-subspace nearest centroids — 64 floats compressed to
    // 4 small ints, with distances reconstructable from 4 lookup
    // tables. Same integer-exactness recipe as q_kmeans_fit, so the
    // full PQ training + encoding trajectory hash-matches DuckDB.
    //
    // Scale posture: each subspace trains like q_kmeans_fit (map-only
    // assignment vs centroid literals, one k·dim-row aggregate to the
    // driver), and the 4 encoders are INDEPENDENT map-only projections
    // fused into one scan pass — the joins below are driver-assembled
    // column packs on vec_id, which AQE resolves to one shuffle-free
    // plan over the shared scan at this size and co-partitioned joins
    // at 100 TB.
    "q_pq_codes" -> ((s, d) => {
      val (_, codes) = fitPq(s, d, 1)
      codes
        .withColumn("distortion",
          (0 until M).map(i => col(s"d$i")).reduce(_ + _))
        .select(col("vec_id") +: (0 until M).map(i => col(s"c$i")) :+ col("distortion"): _*)
        .orderBy(col("vec_id"))
    }),

    // ADC search over the PQ codes (the query half of IVFPQ):
    // the query vector is scored against each subspace CODEBOOK once
    // (m·k = 16 exact integer distances → four 4-entry lookup tables,
    // plan literals), and every database vector's approximate distance
    // is the SUM OF 4 TABLE LOOKUPS on its code tuple — never a
    // 64-dim computation per row. That asymmetry is why PQ search
    // scans billions of compressed codes at memory bandwidth. Top-20
    // by (adc_dist, vec_id); the query (vec_id 0) is excluded like
    // q_simsearch. Integer-exact end to end, so DuckDB replays the
    // same tables and the same top-20.
    "q_pq_search" -> ((s, d) => {
      val (books, codes) = fitPq(s, d, 1)
      // the query's 16-dim slices, for the per-subspace LUTs
      val q0 = SimSearch.queryVec(s, d).grid
      def lutExpr(i: Int): String = {
        val qSlice = q0.slice(i * Sub, (i + 1) * Sub)
        // LUT indexed BY CID, not by position in the surviving-codebook
        // list: under the lazy-deletion rule a cluster that loses all
        // its points drops out of `books`, and positional indexing
        // would then read the wrong entry (or past the array) while
        // the oracle's `JOIN lut_i ON cid = c_i` stays correct. A full
        // K-sized array with a placeholder at dropped cids keeps
        // element_at(cid + 1) ≡ join-on-cid — a dropped cid can never
        // appear in a code, so its placeholder is unreferencable.
        val byCid = books(i).map { case (cid, cv) =>
          cid -> qSlice.indices.map(j => { val x = qSlice(j) - cv(j); x * x }).sum
        }.toMap
        val entries = (0 until K).map(cid => byCid.getOrElse(cid, 0L))
        // L-suffix: an all-small LUT would otherwise type as array<int>
        // and the 4-way sum could overflow int
        s"element_at(array(${entries.map(e => s"${e}L").mkString(", ")}), c$i + 1)"
      }
      codes.filter(col("vec_id") =!= 0)
        .withColumn("adc_dist",
          expr((0 until M).map(lutExpr).mkString(" + ")))
        .select(col("vec_id"), col("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(20)
    }),

    // End-to-end IVFPQ (Jégou et al. 2011 §IV — FAISS's IndexIVFPQ):
    // the composition the two ops above only rehearse separately.
    //  1. COARSE: every vector assigns to its nearest of K = ⌈√n⌉
    //     TRAINED coarse cells (coarseCentroids — one Lloyd round from
    //     the K-lowest-vec_id init; integer L2 argmin vs plan-literal
    //     centroids, the q_kmeans_fit assignment, map-only). The
    //     oracle replays the coarse training round (cc0 → cca → cc)
    //     before everything downstream.
    //  2. RESIDUAL PQ: product quantization trains on the RESIDUAL
    //     r = qv − c_cell (pooled across cells, the paper's choice) —
    //     residuals carry far less energy than raw vectors, so the
    //     same 4×4 codebook budget quantizes much finer. Init skips
    //     vec_id < K (the centroid source rows, whose residuals are
    //     identically zero and would collapse the codebook).
    //  3. ADC SEARCH: the query probes its nprobe=2 nearest coarse
    //     cells; PER PROBED CELL the query residual q − c_p yields 4
    //     subspace LUTs (m·k = 16 integer distances, plan literals,
    //     keyed by cid like q_pq_search), and each candidate's
    //     distance is 4 lookups on its code tuple selected by a CASE
    //     on its cell. Top-20 by (adc_dist, vec_id), query excluded.
    //
    // Scale posture: assignment, residual, encoding, and scoring are
    // ONE map-only lineage over a single corpus scan — no joins
    // anywhere in the search plan (plan-audited); the cell filter
    // applies before any ADC arithmetic, so only the probed nprobe/K of
    // the corpus is ever scored — at 100 TB the cell id is the
    // partition key and the unprobed 14/16 is never read. Training
    // traffic to the driver is codebook-scale (m·k·sub rows per
    // iteration + the √n coarse centroids). Integer-exact end to end,
    // so DuckDB replays coarse assignment, residual training
    // trajectory, LUTs, and the same top-20.
    "q_ivfpq_search" -> ((s, d) => {
      val qdf = Tables.embeddings(s, d).select(col("vec_id"), expr(QuantTok).as("qv"))
      val coarse: Seq[(Int, Array[Long])] = coarseCentroids(s, d)
      val coarseByCid = coarse.toMap
      // TWO-LEVEL routed assignment (assignRouted): per vector
      // O(√K·dim) instead of the flat O(K·dim) that dominated the
      // family once K went ⌈√n⌉ — the oracle replays the routing
      // chain (routedAssignCtes) before everything downstream.
      val assigned = assignRouted(qdf.withColumn("qs", col("qv")), coarse)
        .withColumnRenamed("cluster", "cell").drop("qdist", "qs")
      // full-K positional LITERAL array with a zero-vector placeholder
      // at any lazily-deleted cid (q_pq_search LUT rule: a dropped cid
      // can never be assigned, so its placeholder is unreferencable) —
      // element_at(cell + 1) stays correct under holes; one Literal
      // object, not K·dim unrolled plan text (the l2Col rationale)
      val kCoarse = coarseKOf(s, d)
      val centsLit = typedLit((0 until kCoarse)
        .map(cid => coarseByCid.getOrElse(cid, Array.fill(Dim)(0L)).toSeq))
      val resid = assigned
        .withColumn("rv", zip_with(col("qv"),
          element_at(centsLit, col("cell") + 1), (a, b) => a - b))
        .select(col("vec_id"), col("cell"), col("rv").as("qv"))
      // PQ init still skips vec_id < coarseK: under the trained coarse
      // codebook their residuals are merely small rather than exactly
      // zero, but excluding the init-source rows keeps the residual
      // codebook init well-spread — and the oracle chains carry the
      // same WHERE (vec_id >= the kk-CTE K), so both engines train
      // identically.
      val (books, codes) = fitPqOn(resid, 1, resid.filter(col("vec_id") >= kCoarse))
      // probe: the query's nprobe nearest coarse cells — exact integer
      // arithmetic on the collected codebook (identical to the oracle's)
      val q0 = SimSearch.queryVec(s, d).grid
      def l2(a: Array[Long], b: Array[Long]): Long =
        a.indices.foldLeft(0L) { (acc, i) => val x = a(i) - b(i); acc + x * x }
      val probes = coarse.map { case (cid, cv) => (cid, l2(q0, cv)) }
        .sortBy { case (cid, dd) => (dd, cid) }.take(NProbe).map(_._1)
      // per-probed-cell ADC: LUT entries keyed by cid (q_pq_search rule)
      def adcFor(p: Int): String = {
        val rq = q0.indices.map(i => q0(i) - coarseByCid(p)(i)).toArray
        (0 until M).map { i =>
          val qSlice = rq.slice(i * Sub, (i + 1) * Sub)
          val byCid = books(i).map { case (cid, cv) =>
            cid -> qSlice.indices.map(j => { val x = qSlice(j) - cv(j); x * x }).sum
          }.toMap
          val entries = (0 until K).map(cid => byCid.getOrElse(cid, 0L))
          s"element_at(array(${entries.map(e => s"${e}L").mkString(", ")}), c$i + 1)"
        }.mkString(" + ")
      }
      codes
        .filter(col("cell").isin(probes.map(Integer.valueOf): _*) && col("vec_id") =!= 0)
        .withColumn("adc_dist", expr(
          s"CASE WHEN cell = ${probes(0)} THEN ${adcFor(probes(0))} " +
            s"ELSE ${adcFor(probes(1))} END"))
        .select(col("vec_id"), col("cell"), col("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(20)
    }),

    // HARD-NEGATIVE MINING for contrastive embedding training (the
    // ANCE/DPR corpus-prep step): for each query vector, the top-2
    // nearest vectors carrying a DIFFERENT label — the negatives that
    // actually move a contrastive loss, where random negatives are
    // trivially separated. Distance is exact integer L2 on the 1e-4
    // quantized grid (the QuantTok boundary), so ranking can never
    // drift between engines; queries are a deterministic hash-style
    // sample (vec_id ≡ 0 mod 50 — mining runs on a query SAMPLE per
    // epoch, not the full corpus, exactly as ANCE refreshes).
    //
    // Scale posture: the query block is broadcast (sample-scale) and
    // the corpus is scored MAP-ONLY against it — the 100 TB side
    // never shuffles its vectors; the shuffle carries (qid, neg_id,
    // d2) triples into a per-query top-k window pruned map-side by
    // WindowGroupLimit (the q_window_rank shape).
    "q_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), expr(QuantTok).as("qv"))
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("label").as("q_label"), col("qv").as("q_qv"))
      emb.crossJoin(broadcast(q))
        .filter(col("label") =!= col("q_label"))
        .withColumn("d2", expr(
          "aggregate(zip_with(qv, q_qv, (a, b) -> (a - b) * (a - b)), cast(0 as bigint), (acc, v) -> acc + v)"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))))
        .filter(col("rnk") <= 2)
        .select(col("qid"), col("q_label"), col("vec_id").as("neg_id"),
          col("label").as("neg_label"), col("d2"), col("rnk").cast("bigint").as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // DBSCAN density clustering (Ester et al. 1996) — the DENSITY
    // member of the clustering family (q_kmeans_fit partitions into k
    // cells, q_community/q_louvain cluster graphs, q_semantic_dedup
    // prunes within cells; DBSCAN finds arbitrary-shape dense regions
    // and, uniquely, labels the sparse remainder NOISE — the
    // outlier-cleaning verdict a curation pipeline wants per vector).
    // The fixture corpus is near-uniform on the sphere (no natural
    // density modes), so density structure is PLANTED the q_dedup_embed
    // way: every vec_id ≡ 0 (mod 5) gains 4 jittered copies at
    // +40k·𝟙 on the 1e-4 grid (k = 1..4, applied POST-quantization so
    // both engines see exactly the same integers — floor(x·10⁴)+40k,
    // never floor((x+0.004k)·10⁴) whose ulp at the floor boundary can
    // differ). Chain geometry under ε = 800 grid units (0.08), d² =
    // 64·(40Δk)² = 102400·Δk²: neighbors iff Δk ≤ 2, so with
    // minPts = 4 (self included) the chain interior {k=1,2,3} is core,
    // the endpoints {k=0 (the original), k=4} are border, and every
    // un-copied original is noise (nearest foreign point ≥ 0.63 ≫ ε) —
    // all three DBSCAN roles and the density-chaining rule exercised.
    //
    // Scale posture — the three DBSCAN phases map to machinery already
    // proven here:
    //  1. ε-NEIGHBOR pairs via the EXACT coarse-cell ball probe (the
    //     L2 twin of q_dedup_embed's cosine cone probe): each point
    //     indexes once in its home cell and probes cells c with
    //     d(x,c) ≤ d(x,home) + 2ε — the triangle inequality makes the
    //     probe LOSSLESS for any codebook (if d(x,y) ≤ ε and y homes
    //     in c then d(x,c) ≤ d(x,y)+d(y,c) ≤ ε + d(y,x)+d(x,home(x))
    //     ≤ d(x,home) + 2ε), so the independent all-pairs oracle still
    //     matches; the candidate join is keyed on cell, never all-pairs.
    //     The √ compare is float with a +0.5 margin (d² < 2⁵³ ⇒ √ is
    //     exact to ~1e-6 absolute; slack only widens the candidate
    //     superset) — the verify is exact integer d² ≤ ε².
    //  2. CORE = neighbor count ≥ minPts: one aggregate over exploded
    //     pair endpoints, (id, count) grain.
    //  3. CLUSTERS = connected components of the core-core graph via
    //     the alternating large-star/small-star machinery (q_concomp),
    //     converged-checked; borders attach to their min neighboring
    //     core's cluster (the deterministic version of DBSCAN's
    //     documented border ambiguity), noise labels -1.
    //  Shuffles carry (BIGINT id, BIGINT) pairs throughout — vectors
    //  ship once into the cell-keyed candidate join and never again.
    "q_dbscan" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val epsQ = 800L            // ε on the 1e-4 quantized grid (= 0.08)
      val eps2 = epsQ * epsQ     // exact verify threshold
      val minPts = 4             // neighbor count including the point itself
      val qb = Tables.embeddings(s, d).select(col("vec_id"), expr(QuantTok).as("qv"))
      val copies = qb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("qv"), explode(expr("sequence(1, 4)")).as("k"))
        .select((col("vec_id") + col("k") * 1000000L).as("vec_id"),
          expr("transform(qv, v -> v + 40L * k)").as("qv"))
      // consumed by the probe side, index side, and the role/report
      // joins — materialized once (the q_dedup_winnow rule)
      val pts = qb.unionByName(copies).ckpt()
      val cents = coarseCentroids(s, d)
      // dv/nrm: the pair verify runs as ‖a‖² + ‖b‖² − 2⟨a,b⟩ with the
      // NATIVE codegen'd dot product — every term is an integer below
      // 2⁵³ held in a double (|qv| ≤ 10⁴ + 160 ⇒ |⟨a,b⟩| ≤ 64·1.1e8),
      // so the float arithmetic is EXACT and the compare is the same
      // integer predicate; the interpreted 64-step zip_with lambda per
      // candidate pair was 40× this plan's wall-clock at sf0.1.
      // darr: the full distance array is REQUIRED (the ball probe
      // walks every cell against the ε bound), but the ⌈√n⌉ codebook
      // rides one array literal + a transform loop (the l2Col
      // rationale), not K unrolled aggregates
      val assigned = pts.withColumn("qs", col("qv"))
        .withColumn("darr", transform(typedLit(cents.map(_._2.toSeq)),
          cv => l2Col(col("qs"), cv)))
        .withColumn("qdist", expr("array_min(darr)"))
        .withColumn("home", expr("CAST(array_position(darr, qdist) AS INT) - 1"))
        .withColumn("dv", expr("transform(qv, v -> CAST(v AS DOUBLE))"))
        .withColumn("nrm", expr("dot_product(dv, dv)"))
        // HOT-CELL BOUND: sub-stripe each coarse cell on an ε-width
        // grid over coordinate 1 — a pair with d² ≤ ε² has
        // |a₁ − b₁| ≤ ε (single-coordinate bound), so stripe ids
        // differ by at most 1 and the join on (cell, stripe) with the
        // probe exploding {g−1, g, g+1} is LOSSLESS (the all-pairs
        // oracle is unchanged). A dense ε-region concentrated in one
        // coarse cell now costs O(Σ_s |s|·|s±1|) instead of O(|cell|²)
        // — quadratic only in true ε-clique mass (inherent to exact
        // DBSCAN), never in the cell census. +80000 shifts the
        // quantized coordinate positive so truncating DIV is floor.
        // DbscanHotCellSpec pins the census on a synthetic dense cell.
        .withColumn("g", expr(s"(element_at(qv, 1) + 80000) DIV $epsQ"))
      val pairs = dbscanCandidates(assigned, epsQ)
        .filter(expr(s"nrm_a + nrm_b - 2.0D * dot_product(dva, dvb) <= ${eps2}.0D"))
        .select(col("a_id"), col("b_id"))
        .ckpt() // consumed by degree count, core edges, border attach
      val touch = pairs.select(explode(array(
          struct(col("a_id").as("id"), col("b_id").as("nb")),
          struct(col("b_id").as("id"), col("a_id").as("nb")))).as("e"))
        .select(col("e.id").as("id"), col("e.nb").as("nb"))
      val deg = touch.groupBy(col("id")).agg(count(lit(1)).as("c"))
      val roles = pts.select(col("vec_id"))
        .join(deg.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), (coalesce(col("c"), lit(0L)) + 1).as("n"))
        .withColumn("is_core", col("n") >= minPts)
      val coreIds = roles.filter(col("is_core")).select(col("vec_id"))
      val coreEdges = pairs
        .join(coreIds.withColumnRenamed("vec_id", "a_id"), Seq("a_id"))
        .join(coreIds.withColumnRenamed("vec_id", "b_id"), Seq("b_id"))
        .select(col("a_id").as("u"), col("b_id").as("v"))
      val star = Graph.alternatingStar(coreEdges, 2).ckpt()
      require(Graph.starConverged(star),
        "DBSCAN core components did not converge in 2 star round pairs")
      val coreLab = coreIds
        .join(star.select(col("u").as("vec_id"), col("v").as("root")), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("root"), col("vec_id")).as("core_cluster"))
      val borderLab = touch
        .join(coreLab.select(col("vec_id").as("nb"), col("core_cluster").as("nb_cluster")),
          Seq("nb"))
        .groupBy(col("id")).agg(min(col("nb_cluster")).as("near_core_cluster"))
      roles
        .join(coreLab, Seq("vec_id"), "left")
        .join(borderLab.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("n"),
          when(col("is_core"), "core")
            .when(col("near_core_cluster").isNotNull, "border")
            .otherwise("noise").as("role"),
          coalesce(col("core_cluster"), col("near_core_cluster"), lit(-1L)).as("cluster_id"))
        .orderBy(col("vec_id"))
    }),

    // COUNT-MIN SKETCH heavy hitters (Cormode & Muthukrishnan 2005) —
    // the BATCH face of the sketch family (q_hll_union = mergeable
    // cardinality, heavyHittersTws = streaming Misra-Gries; CMS is the
    // mergeable FREQUENCY summary): d = 4 hash rows × w = 16 counters,
    // est(t) = min_i c[i][h_i(t)] — never an undercount, overcount
    // bounded by row collisions. w = 16 is chosen BELOW the fixture's
    // vocabulary size so collisions actually occur and the one-sided
    // error is exercised, not just asserted. DETERMINISTIC end to end:
    // h_i(t) = hex digit i of md5(t) (the q_classifier_score bucket
    // recipe), counters are exact integer sums — so the full sketch
    // build + estimate trajectory replays in DuckDB, oracle-checkable
    // where real CMS deployments must settle for probabilistic bounds.
    //
    // Scale posture: the sketch build is ONE partial+final aggregate
    // over (row, bucket) — the map-side partial IS the per-partition
    // sketch and the final merge IS the CMS merge (counter-wise sum),
    // i.e. the mergeable-summary serving pattern with d·w = 64 cells
    // of state regardless of corpus size. The estimate phase runs at
    // VOCAB grain: candidates explode into their d (row, bucket) keys
    // and join the broadcast 64-cell table; token text never shuffles
    // (the aggregate keys are single hex-digit buckets).
    "q_cms" -> ((s, d) => {
      def hx(p: Int, c: String) =
        s"(instr('0123456789abcdef', substring(md5($c), $p, 1)) - 1)"
      val harr = (1 to 4).map(p => hx(p, "tok")).mkString("array(", ", ", ")")
      val tok = Tables.documents(s, d).select(explode(split(col("text"), " ")).as("tok"))
      // ONE corpus pass (r16): the token census is checkpointed at
      // vocab grain and BOTH sketch phases derive from it — the (i, b)
      // cell count is Σ true_n over the tokens hashing there, identical
      // to counting corpus (token, row) instances directly, so the
      // second corpus explode (and its 4 md5 calls per corpus token —
      // md5 now runs at VOCAB grain) is gone. Result-identical: same
      // cell sums, same estimates.
      val cand = tok.groupBy(col("tok")).agg(count(lit(1)).as("true_n"))
        .ckpt() // read by the cell derivation AND the estimate probe
      val cells = cand.select(col("true_n"), posexplode(expr(harr)).as(Seq("i", "b")))
        .groupBy(col("i"), col("b")).agg(sum(col("true_n")).as("cnt"))
      cand.select(col("tok"), col("true_n"), posexplode(expr(harr)).as(Seq("i", "b")))
        .join(broadcast(cells), Seq("i", "b"))
        .groupBy(col("tok"), col("true_n")).agg(min(col("cnt")).as("est_n"))
        .withColumn("over_n", expr("est_n - true_n"))
        .orderBy(col("est_n").desc, col("tok"))
        .limit(20)
    }),

    // k-NN DISTANCE outlier report (Ramaswamy, Rastogi & Shim 2000) —
    // the DENSITY-calibrated OOD detector next to q_doc_outlier's
    // centroid distance (a point can sit near the global centroid yet
    // in a local void, and far from it yet inside a dense far cluster;
    // the distance to the k-th neighbor measures LOCAL isolation).
    // Top-20 vectors by exact distance to their 3rd nearest neighbor.
    //
    // EXACT two-pass kNN in L2 — [[exactKnnL2]], the one shared
    // implementation (bound + probe-set proof in its scaladoc).
    "q_ood_knn" -> ((s, d) =>
      exactKnnL2(s, d, k = 3)
        .filter(col("rn") === 3)
        .select(col("a_id").as("vec_id"), col("b_id").as("nn3_id"),
          col("d2").as("knn3_d2"))
        .orderBy(col("knn3_d2").desc, col("vec_id"))
        .limit(20)),

    // SIMPLIFIED SILHOUETTE (the centroid form of Rousseeuw 1987,
    // standard for k-means at scale because it needs K distances per
    // point, not n) — the INTERNAL cluster-quality readout next to
    // q_cluster_eval's label-based external indices: s(x) =
    // (b−a)/max(a,b) with a = distance to the assigned centroid and
    // b = distance to the nearest OTHER centroid, averaged per
    // cluster. The trained codebook is the same memoized fitKMeans
    // trajectory every oracle replays CTE-for-CTE; distances quantize
    // to milli (round-half-up of identical IEEE sqrt on exact integer
    // d²), the ratio lands on the micro grid, and per-cluster means
    // are integer sums DIV counts — no float summation order.
    //
    // Scale posture: map-only against the K-centroid literal array
    // (the q_ood_knn darr shape); one hash aggregate at cluster grain.
    "q_silhouette" -> ((s, d) => {
      val cents = fitKMeans(s, d, Iters)._1.sortBy(_._1)
      val darr = cents.map { case (_, cv) => distExpr(cv) }.mkString("array(", ", ", ")")
      Tables.embeddings(s, d).select(col("vec_id"), expr(QuantTok).as("qv"))
        .withColumn("qs", col("qv"))
        .withColumn("darr", expr(darr))
        .withColumn("own", expr("array_min(darr)"))
        .withColumn("cluster", expr("CAST(array_position(darr, own) AS BIGINT) - 1"))
        .withColumn("srt", expr("array_sort(darr)"))
        .withColumn("a_milli",
          expr("CAST(floor(sqrt(CAST(srt[0] AS DOUBLE)) * 1000 + 0.5) AS BIGINT)"))
        .withColumn("b_milli",
          expr("CAST(floor(sqrt(CAST(srt[1] AS DOUBLE)) * 1000 + 0.5) AS BIGINT)"))
        .withColumn("s_micro",
          expr("((b_milli - a_milli) * 1000000) DIV greatest(b_milli, a_milli, 1)"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("s_micro")).as("ssum"))
        .select(col("cluster"), col("n"), expr("ssum DIV n").as("mean_sil_micro"))
        .orderBy(col("cluster"))
    }),

    // K-DIST KNEE (the Ester et al. 1996 sorted k-distance heuristic)
    // — the ε-SELECTION tool q_dbscan's fixed ε pretends away: sort
    // every point's exact 3-NN distance ascending and pick the curve's
    // knee as the point of maximum deviation BELOW the chord from
    // (1, d₁) to (n, dₙ); dev_i = (n−1)(d₁−d_i) + (i−1)(dₙ−d₁) is
    // exact BIGINT on milli distances (no division — the chord test is
    // multiplied through by n−1), endpoints have dev = 0, and the
    // argmax is a TakeOrdered(1) by (dev DESC, rank). The reported
    // knee distance IS the suggested ε.
    //
    // Scale posture: the 3-NN distances come from the same
    // provably-exact two-pass kNN as q_ood_knn/q_lof (cell-bucketed,
    // never all-pairs); the curve then collapses to the MILLI-DISTANCE
    // CENSUS (bounded distinct values — the q_pot_gpd/q_ks_test
    // recipe), so no window ever sees point-grain rows. The chord
    // deviation dev(i) is linear in the rank with a NON-NEGATIVE slope
    // (dn−d1), so within a tie group of equal d the (dev DESC, rank
    // ASC) argmax sits at the group's max rank (= its cumulative
    // count) — or its min rank when the curve is flat (dn = d1, dev
    // constant) — and the global argmax over the census candidates is
    // identical to the point-grain answer row for row.
    "q_kdist_knee" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val census = exactKnnL2(s, d, k = 3)
        .filter(col("rn") === 3)
        .select(expr("CAST(floor(sqrt(CAST(d2 AS DOUBLE)) * 1000 + 0.5) AS BIGINT)")
          .as("d_milli"))
        .groupBy(col("d_milli")).agg(count(lit(1)).as("c"))
      val curve = census
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("d_milli"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .ckpt() // consumed by the endpoint aggregate AND the dev scan
      val ends = curve.agg(sum(col("c")).as("n"),
        min(col("d_milli")).as("d1"), max(col("d_milli")).as("dn"))
      curve.crossJoin(broadcast(ends))
        .select(col("n"), col("d1"), col("dn"),
          expr("CASE WHEN dn > d1 THEN cum ELSE cum - c + 1 END").as("r"),
          col("d_milli"))
        .withColumn("dev", expr("(n - 1) * (d1 - d_milli) + (r - 1) * (dn - d1)"))
        .orderBy(col("dev").desc, col("r"))
        .limit(1)
        .select(col("n"), col("r").as("knee_rank"),
          col("d_milli").as("eps_milli"), col("dev"))
    }),

    // k-NN REGRESSION eval over the shared exact index — the
    // label-propagation baseline every embedding-quality report runs
    // (if 3-NN labels don't predict a vector's own label, the space
    // isn't organized): predict ŷ(x) = mean of the 3 exact nearest
    // neighbors' labels, report per-true-label MAE and
    // rounded-prediction accuracy, all exact integer micro (sum DIV 3,
    // round-half-up via (p + 5·10⁵) DIV 10⁶ on non-negative preds).
    //
    // Scale posture: reads the MEMOIZED [[exactKnnL2]] index (built
    // once per session for the whole consumer family); labels attach
    // by a node-catalog join; aggregates land on the label grain.
    "q_knn_regression" -> ((s, d) => {
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("y"))
      val preds = exactKnnL2(s, d, k = 3)
        .join(labels.select(col("vec_id").as("b_id"), col("y").as("yn")), "b_id")
        .groupBy(col("a_id"))
        .agg(sum(col("yn")).as("sy"), count(lit(1)).as("nn"))
        .filter(col("nn") === 3)
        .select(col("a_id").as("vec_id"),
          expr("(sy * 1000000) DIV 3").as("pred_micro"))
      preds.join(labels, "vec_id")
        .groupBy(col("y").as("label"))
        .agg(count(lit(1)).as("n"),
          sum(expr("abs(pred_micro - y * 1000000)")).as("sae_micro"),
          sum(expr("CASE WHEN (pred_micro + 500000) DIV 1000000 = y THEN 1 ELSE 0 END"))
            .as("n_round_correct"))
        .withColumn("mae_micro", expr("sae_micro DIV n"))
        .select(col("label"), col("n"), col("mae_micro"), col("n_round_correct"))
        .orderBy(col("label"))
    }),

    // LOCAL OUTLIER FACTOR (Breunig et al. 2000), k = 3 — the
    // density-RATIO outlier score that fixes q_ood_knn's remaining
    // blind spot: a point at the edge of a sparse-but-real cluster has
    // a large 3-NN distance yet is NOT anomalous relative to its
    // neighbors; LOF divides the neighbors' local reachability density
    // by the point's own, so "sparse region" cancels and only
    // "sparser than its surroundings" scores high. Built on the SAME
    // provably-exact two-pass kNN as q_ood_knn (home-cell bound, then
    // a triangle-inequality probe set that must contain the true
    // top-3), but keeping the full rn ≤ 3 lists. Everything after the
    // kNN table is INTEGER fixed point: distances quantize to milli
    // (round-half-up of identical IEEE sqrt), reachability
    // reach(p,o) = max(kdist(o), d(p,o)) is a BIGINT max, lrd inverts
    // the exact reach SUM at pico grain, and the final ratio lands on
    // the milli grid — no float summation order anywhere.
    //
    // Scale posture: the kNN joins are cell-bucketed (never all-pairs
    // — the q_ood_knn posture); the LOF chase is two self-joins of the
    // (point, 3-neighbor) table, shuffling (id, BIGINT) pairs.
    "q_lof" -> ((s, d) => {
      val knn = exactKnnL2(s, d, k = 3)
        .select(col("a_id"), col("b_id"), col("rn"),
          expr("CAST(floor(sqrt(CAST(d2 AS DOUBLE)) * 1000 + 0.5) AS BIGINT)")
            .as("d_milli"))
        .ckpt() // consumed by kdist, reach, and the lrd chase
      val kdist = knn.filter(col("rn") === 3)
        .select(col("a_id").as("b_id"), col("d_milli").as("kd_milli"))
      val lrd = knn
        .join(kdist, Seq("b_id"))
        .select(col("a_id"), greatest(col("d_milli"), col("kd_milli")).as("reach_milli"))
        .groupBy(col("a_id"))
        .agg(sum(col("reach_milli")).as("sr"))
        .select(col("a_id"), expr("3000000000000000 DIV sr").as("lrd_pico"))
      knn.select(col("a_id"), col("b_id"))
        .join(lrd.select(col("a_id").as("b_id"), col("lrd_pico").as("lrd_o")), Seq("b_id"))
        .groupBy(col("a_id"))
        .agg(sum(col("lrd_o")).as("slo"))
        .join(lrd, Seq("a_id"))
        .select(col("a_id").as("vec_id"),
          expr("(slo * 1000) DIV (3 * lrd_pico)").as("lof_milli"))
        .orderBy(col("lof_milli").desc, col("vec_id"))
        .limit(20)
    }),

    // CORESET selection by farthest-point traversal (Gonzalez 1985
    // greedy k-center, 2-approximation) — the geometric DATA-SELECTION
    // primitive (active-learning seed pools, k-center coresets for
    // training-set distillation): greedily pick the point farthest
    // from everything selected so far, so k points COVER the corpus
    // with the smallest max-radius any greedy can certify. Complements
    // the family: k-means fits dense centers, DBSCAN finds dense
    // regions, the coreset picks SPREAD — maximal diversity, the
    // opposite selection pressure from q_semantic_dedup's redundancy
    // pruning. Exact integer d² on the 1e-4 grid; seed = vec_id 0,
    // argmax ties break to the lowest vec_id; assignment ties to the
    // EARLIEST-selected center (first position of the array min).
    //
    // Scale posture — the q_kmeans_fit contract: each of the k−1
    // rounds is ONE map-only min-distance projection against ≤ k
    // centroid literals feeding a TakeOrdered(1) heap (no shuffle, no
    // sort — per-partition max, driver merges partition count rows);
    // the driver loop collects ONE row per round (codebook scale,
    // never data scale). The final assignment + per-center coverage is
    // one more map-only pass + a k-row aggregate. 100 TB of vectors
    // stream through k scans; selection state is k·dim integers.
    "q_coreset" -> ((s, d) => {
      val K = 5
      val q = Tables.embeddings(s, d).select(col("vec_id"), expr(QuantTok).as("qv"))
      def dExpr(cv: Array[Long]): String = {
        val arr = cv.mkString("array(", "L,", "L)")
        s"aggregate(zip_with(qv, $arr, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
      }
      var sel = Vector((0L, SimSearch.queryVec(s, d).grid, 0L)) // (id, qv, far_d2)
      for (_ <- 1 until K) {
        val ds = sel.map(c => dExpr(c._2))
        val dmin = if (ds.size == 1) ds.head else ds.mkString("least(", ", ", ")")
        val far = q.filter(!col("vec_id").isin(sel.map(c => java.lang.Long.valueOf(c._1)): _*))
          .withColumn("dmin", expr(dmin))
          .orderBy(col("dmin").desc, col("vec_id"))
          .head()
        sel :+= ((far.getLong(0), far.getSeq[Long](1).toArray, far.getLong(2)))
      }
      val darr = sel.map(c => dExpr(c._2)).mkString("array(", ", ", ")")
      val cidArr = sel.map(_._1).mkString("array(", "L,", "L)")
      val asn = q
        .withColumn("dx", expr(s"array_min($darr)"))
        .withColumn("center_id", expr(
          s"element_at($cidArr, CAST(array_position($darr, dx) AS INT))"))
        .groupBy(col("center_id"))
        .agg(count(lit(1)).as("n_assigned"), max(col("dx")).as("radius_d2"))
      val traj = s.createDataFrame(
        s.sparkContext.parallelize(sel.zipWithIndex.map { case ((id, _, fd), r) =>
          org.apache.spark.sql.Row(r.toLong, id, fd)
        }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("round",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("center_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("far_d2",
            org.apache.spark.sql.types.LongType, nullable = false))))
      traj.join(asn, Seq("center_id"))
        .select(col("round"), col("center_id"), col("far_d2"),
          col("n_assigned"), col("radius_d2"))
        .orderBy(col("round"))
    }),

    // KAPLAN-MEIER SURVIVAL CURVE (Kaplan & Meier 1958) with right
    // censoring — the time-to-event estimator a plain conversion rate
    // gets wrong whenever observation is cut off early (q_retention's
    // cohort grid assumes everyone is observed forever). Event of
    // interest: a user's first HIGH-VALUE purchase (value > 100, about the top decile —
    // rare enough that a real fraction of users never convert inside
    // the window); time = whole hours from the user's first event.
    // Non-converters are right-CENSORED at their last observed hour —
    // they leave the risk set without counting as conversions, which
    // is exactly the bias KM corrects. The curve is the product-limit
    // S(t) = Π_{t_i ≤ t} (1 − d_i/r_i), folded in integer micro with
    // one truncating DIV per step — a SEQUENTIAL recurrence, replayed
    // identically by both engines: the step table is collapsed to a
    // result-page-scale sorted array and each prefix product is an
    // aggregate() fold (the oracle replays the same arithmetic as a
    // recursive CTE, the q_pack_ffd recipe).
    //
    // Scale posture: the corpus collapses to USER grain in one
    // aggregate, then to DISTINCT-LIFETIME grain (bounded by the
    // observation span in hours, never by corpus size); the prefix
    // fold runs on that bounded array. The 1-row total broadcasts.
    "q_survival" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(ts) DIV 3600000000").as("h"),
        expr("event_type = 'purchase' AND CAST(floor(value * 1000 + 0.5) AS BIGINT) > 100000")
          .as("tgt"))
      val u2 = ev.groupBy(col("user_id"))
        .agg(min(col("h")).as("fh"), max(col("h")).as("lh"),
          min(when(col("tgt"), col("h"))).as("tp"))
        .select(expr("CASE WHEN tp IS NOT NULL THEN tp - fh ELSE lh - fh END").as("life"),
          col("tp").isNotNull.as("death"))
      val n = u2.agg(count(lit(1)).as("nu"))
      val w = Window.orderBy(col("life")).rowsBetween(Window.unboundedPreceding, -1)
      val steps = u2.groupBy(col("life"))
        .agg(sum(when(col("death"), 1L).otherwise(0L)).as("d"), count(lit(1)).as("m"))
        .withColumn("removed", coalesce(sum(col("m")).over(w), lit(0L)))
        .crossJoin(broadcast(n))
        .withColumn("r", col("nu") - col("removed"))
        .filter(col("d") > 0)
      steps
        .agg(sort_array(collect_list(struct(col("life"), col("d"), col("r")))).as("st"))
        .select(posexplode(expr(
          """transform(sequence(1, size(st)), i -> named_struct(
            |  't_h', element_at(st, i).life,
            |  'at_risk', element_at(st, i).r,
            |  'deaths', element_at(st, i).d,
            |  's_micro', aggregate(slice(st, 1, i), 1000000L,
            |      (acc, x) -> (acc * (x.r - x.d)) DIV x.r)))""".stripMargin)))
        .select(col("col.t_h"), col("col.at_risk"), col("col.deaths"), col("col.s_micro"))
        .orderBy(col("t_h"))
    }),

    // LAG / ROLLING FEATURE ENGINEERING — the feature-store transform
    // every tabular training pipeline runs before the model ever sees
    // a row: per user-ordered event, the previous two values, the
    // first difference, and a trailing-4 rolling mean and population
    // variance. All integer: values in milli units, the rolling mean
    // by truncating DIV on non-negative sums, the variance via the
    // computational identity (c·Σx² − (Σx)²) DIV c² — non-negative by
    // Cauchy–Schwarz, so truncation is engine-independent. Overflow
    // envelope: Σx² over a 4-row frame at vm ≤ 5·10⁵ is ≤ 10¹² ≪ 2⁶³.
    //
    // Scale posture: ONE user_id shuffle serves all four window
    // features (same frame family over one sort — Spark plans a
    // single Window node chain, no re-shuffle per feature). Map-only
    // after; at 100 TB this is the classic "point-in-time-safe"
    // feature backfill shape (only PRECEDING rows are referenced, so
    // no leakage by construction).
    "q_lag_features" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val roll = w.rowsBetween(-3, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
        .withColumn("lag1", lag(col("vm"), 1).over(w))
        .withColumn("lag2", lag(col("vm"), 2).over(w))
        .withColumn("delta", col("vm") - col("lag1"))
        .withColumn("rsum", sum(col("vm")).over(roll))
        .withColumn("rsum2", sum(expr("vm * vm")).over(roll))
        .withColumn("rcnt", count(lit(1)).over(roll))
        .withColumn("rmean_milli", expr("rsum DIV rcnt"))
        .withColumn("rvar_m2", expr("(rcnt * rsum2 - rsum * rsum) DIV (rcnt * rcnt)"))
        .select(col("event_id"), col("user_id"), col("vm"), col("lag1"), col("lag2"),
          col("delta"), col("rmean_milli"), col("rvar_m2"))
        .orderBy(col("event_id"))
    }),

    // LEAVE-ONE-OUT TARGET ENCODING with prior smoothing (Micci-
    // Barreca 2001) — the categorical-encoding workhorse of gradient-
    // boosting pipelines, in its leakage-safe form: a row's own target
    // NEVER enters its encoding (subtract-self from the category sum),
    // and low-count categories shrink toward the global mean with
    // pseudo-count α = 20: enc = (Σ_cat − y_i + α·ȳ) DIV (n_cat − 1 + α).
    // All terms are non-negative integers (milli targets), so the
    // truncating division is engine-independent; the global mean is
    // itself an integer DIV of non-negative sums.
    //
    // Scale posture: two aggregates (category grain — tiny; 1-row
    // global) broadcast back over the stream; the encoding itself is
    // MAP-ONLY at scan speed, which is why target encoding works at
    // 100 TB where one-hot explodes. The spec pins the leakage guard
    // by recomputing the subtract-self form per row.
    "q_target_encode" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      val cat = ev.groupBy(col("event_type"))
        .agg(sum(col("vm")).as("s_cat"), count(lit(1)).as("n_cat"))
      val glob = ev.agg(expr("sum(vm) DIV count(*)").as("gmean"))
      ev.join(broadcast(cat), Seq("event_type"))
        .crossJoin(broadcast(glob))
        .withColumn("enc_milli", expr("(s_cat - vm + 20 * gmean) DIV (n_cat - 1 + 20)"))
        .select(col("event_id"), col("event_type"), col("vm"), col("enc_milli"))
        .orderBy(col("event_id"))
    }),

    // Depth-2 CART decision tree TRAINED on-engine by HISTOGRAM-based
    // split finding — the exact mechanism distributed GBDT frameworks
    // (XGBoost/LightGBM "hist" mode) use to scale tree induction:
    // features bucketize to a fixed grid (DIV 8), candidate thresholds
    // are the observed buckets, and the best split per node comes from
    // ONE (node, feature, bucket)-grain histogram + cumulative-sum
    // windows over ≤ bucket-count rows — never a per-threshold rescan
    // of the data. Target: lang = 'en'; features: f1 = n_chars bucket,
    // f2 = whitespace-token-count bucket. Split quality is weighted
    // Gini impurity in exact fixed-point (imp_micro = 10⁶ −
    // (pos² + neg²)·10⁶ DIV n², all non-negative, truncating DIV
    // identical in both engines; BIGINT-safe to ~10⁶ docs per node —
    // beyond that the e6 grid is the documented knob), and the argmin
    // is a PACKED min (imp·2⁴⁰ + fid·2³² + bucket): strict total
    // order, one BIGINT min() per node, no window. Root trains on all
    // docs; the root split's (feature, threshold) — a broadcast 1-row
    // — routes every doc to L/R, and both children train by the same
    // pipeline with the branch key added to every grain.
    //
    // Scale posture: the corpus shuffles once per level into the
    // bucket histogram (map-side partial aggregation does the heavy
    // lifting — the shuffle carries (branch, fid, bucket) cells, not
    // docs); windows run over histogram cells only; the recursion
    // state between levels is one broadcast row per split.
    "q_cart_tree" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(
          expr("n_chars DIV 8").as("f1"),
          expr("CAST(size(split(text, ' ')) AS BIGINT) DIV 8").as("f2"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .persist()
      val w = org.apache.spark.sql.expressions.Window
      def bestSplits(src: DataFrame): DataFrame = {
        val melt = src.select(col("branch"),
            explode(array(
              struct(lit(1L).as("fid"), col("f1").as("b")),
              struct(lit(2L).as("fid"), col("f2").as("b")))).as("m"),
            col("y"))
          .select(col("branch"), col("m.fid").as("fid"), col("m.b").as("b"), col("y"))
        val hist = melt.groupBy(col("branch"), col("fid"), col("b"))
          .agg(sum(col("y")).as("p"), count(lit(1)).as("t"))
        val wOrd = w.partitionBy(col("branch"), col("fid")).orderBy(col("b"))
        val wAll = w.partitionBy(col("branch"), col("fid"))
        hist
          .withColumn("lp", sum(col("p")).over(wOrd))
          .withColumn("lt", sum(col("t")).over(wOrd))
          .withColumn("tp", sum(col("p")).over(wAll))
          .withColumn("tt", sum(col("t")).over(wAll))
          .filter(col("tt") > col("lt")) // right side must be non-empty
          .withColumn("impl", expr(
            "1000000 - (lp*lp + (lt-lp)*(lt-lp)) * 1000000 DIV (lt*lt)"))
          .withColumn("impr", expr(
            "1000000 - ((tp-lp)*(tp-lp) + ((tt-lt)-(tp-lp))*((tt-lt)-(tp-lp))) * 1000000 DIV ((tt-lt)*(tt-lt))"))
          .withColumn("pk", expr(
            s"((lt * impl + (tt-lt) * impr) DIV tt) * ${1L << 40} + fid * ${1L << 32} + b"))
          .groupBy(col("branch"))
          .agg(min(col("pk")).as("pk"), max(col("tt")).as("n_node"), max(col("tp")).as("pos_node"))
          .select(col("branch").as("node"),
            expr(s"(pk DIV ${1L << 32}) % 256").as("fid"),
            (col("pk") % (1L << 32)).as("thr_bucket"),
            expr(s"pk DIV ${1L << 40}").as("imp_micro"),
            col("n_node"), col("pos_node"))
      }
      val root = bestSplits(docs.withColumn("branch", lit("root")))
      val branched = docs.crossJoin(broadcast(
          root.select(col("fid").as("rfid"), col("thr_bucket").as("rb"))))
        .withColumn("branch",
          when(when(col("rfid") === 1, col("f1")).otherwise(col("f2")) <= col("rb"),
            lit("L")).otherwise(lit("R")))
      root.unionByName(bestSplits(branched)).orderBy(col("node"))
    }),

    // Rank-1 ALS matrix-factorization step on the implicit trade
    // rating matrix r(customer, supplier) = lineitem count — the
    // alternating-least-squares recommender primitive (Koren/Bell/
    // Volinsky 2009), in its rank-1 closed form where each update is a
    // ratio of two aggregates: u(c) = Σ_sp r·v / (λ + Σ_sp v²), then
    // v(sp) = Σ_c r·u / (λ + Σ_c u²). Factors live on a MILLI grid
    // (v₀ ≡ 1000 = 1.0, λ_e6 = 10⁵ = 0.1): the update is exactly
    // num·10⁶ DIV (10⁵ + den) over BIGINT sums, so the trajectory is
    // integer-deterministic in both engines (the q_logreg_gd
    // discipline, without per-term snapping because the products stay
    // inside 2⁶³ by construction — Σ r·u₃·10⁶ ≲ 10¹⁶ at fixture
    // grain; at larger grains the milli grid is the knob). Output:
    // top-20 suppliers by trained factor plus the global mean
    // absolute reconstruction error (pred = u·v DIV 1000).
    //
    // Scale posture: textbook MODEL-PARALLEL ALS — the rating matrix
    // shuffles on c for the u-step and on sp for the v-step, carrying
    // (id, BIGINT) pairs; factor vectors live at entity grain and are
    // joined, never collected; the MAE is one scan with both factor
    // joins; the 1-row MAE aggregate attaches by broadcast cross join.
    "q_als_rank1" -> ((s, d) => {
      val rat = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .agg(count(lit(1)).as("r"))
        .persist() // consumed by the u-step, the v-step, and the MAE scan
      // v0 ≡ 1000 for every supplier, so Σ r·v0 = 1000·Σr and Σ v0² = 10⁶·deg
      val u1 = rat.groupBy(col("c"))
        .agg(sum(col("r")).as("sr"), count(lit(1)).as("deg"))
        .select(col("c"), expr("sr * 1000 * 1000000 DIV (100000 + deg * 1000000)").as("u3"))
      val v1 = rat.join(u1, "c")
        .groupBy(col("sp"))
        .agg(sum(expr("r * u3")).as("num"), sum(expr("u3 * u3")).as("den"))
        .select(col("sp"), expr("num * 1000000 DIV (100000 + den)").as("v_milli"))
        .ckpt() // consumed by the MAE scan and the top-20 page
      val mae = rat.join(u1, "c").join(v1, "sp")
        .select(expr("abs(r * 1000 - (u3 * v_milli) DIV 1000)").as("e"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("e")).as("se"))
        .select(col("n_pairs"), expr("se DIV n_pairs").as("mae_milli"))
      v1.orderBy(col("v_milli").desc, col("sp")).limit(20)
        .crossJoin(broadcast(mae))
        .select(col("sp"), col("v_milli"), col("n_pairs"), col("mae_milli"))
        .orderBy(col("v_milli").desc, col("sp"))
    }),

    // GREEDY K-CENTER / farthest-point traversal (Gonzalez 1985) over
    // the embedding corpus — the DETERMINISTIC k-means++ replacement
    // (no RNG: seed = lowest vec_id, each round adds the point
    // farthest from the chosen set, ties to the lowest id) and the
    // 2-approximation to the optimal covering radius. This is the
    // coverage-sampling primitive a curation pipeline uses to pick
    // maximally-diverse exemplars. Four unrolled rounds: each is one
    // corpus scan computing d² to the newest center (exact BIGINT on
    // the ×10⁴ integer grid — the q_kmeans_fit quantization) folded
    // into the running min, plus a TakeOrdered(1) argmax — never a
    // full sort, never a collect; the 1-row selection crossJoin-
    // broadcasts back (the documented never-collect global pattern).
    // Row 5 reports the coverage radius (the would-be 5th selection).
    "q_kcenter" -> ((s, d) => {
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(QuantTok).as("qv"))
        .ckpt() // 4 greedy rounds + the radius share one quantized scan
      val d2 = "aggregate(zip_with(qv, cqv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
      val c1 = base.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id").as("cid"), col("qv").as("cqv"), lit(0L).as("dsel"))
        .ckpt()
      var st = base.crossJoin(broadcast(c1.select(col("cqv"))))
        .select(col("vec_id"), col("qv"), expr(d2).as("dmin"))
        .ckpt()
      var picks = Seq(c1.select(lit(1L).as("round"), col("cid").as("vec_id"),
        col("dsel").as("d2_sel")))
      for (r <- 2 to 4) {
        val ck = st.orderBy(col("dmin").desc, col("vec_id")).limit(1)
          .select(col("vec_id").as("cid"), col("qv").as("cqv"), col("dmin").as("dsel"))
          .ckpt() // 1 row: read by the pick page and the fold
        picks = picks :+ ck.select(lit(r.toLong).as("round"), col("cid").as("vec_id"),
          col("dsel").as("d2_sel"))
        st = st.crossJoin(broadcast(ck.select(col("cqv"))))
          .select(col("vec_id"), col("qv"), least(col("dmin"), expr(d2)).as("dmin"))
          .ckpt()
      }
      val radius = st.orderBy(col("dmin").desc, col("vec_id")).limit(1)
        .select(lit(5L).as("round"), col("vec_id"), col("dmin").as("d2_sel"))
      picks.reduce(_ union _).union(radius).orderBy(col("round"))
    }),

    // ONE EM STEP of a two-component 1-D Gaussian mixture (Dempster
    // 1977) on the event-value distribution — the model-based
    // complement of q_kmeans_fit's hard assignment: soft
    // responsibilities, then closed-form weight/mean updates. The
    // float boundary is crossed ONCE, at distinct-value census grain:
    // r₁(v) = π₁N₁/(π₁N₁+π₂N₂) is evaluated per distinct milli value
    // in identical expression text (the shared σ cancels the
    // normalizing constant) and immediately quantized to integer
    // micro (the q_lm_score recipe) — every downstream moment is an
    // exact BIGINT census sum, so summation order is immaterial. Init
    // μ = (5, 150), σ = 50, π = ½/½. The Σc·r·v moment bound is
    // N·10⁶·|v|max — the documented BIGINT knob (recoarsen the
    // responsibility grid past ~10⁹ rows).
    "q_gmm_step" -> ((s, d) => {
      val census = Tables.events(s, d)
        .groupBy(expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
        .agg(count(lit(1)).as("c"))
      val z1 = "((CAST(vm AS DOUBLE) - 5000.0) / 50000.0)"
      val z2 = "((CAST(vm AS DOUBLE) - 150000.0) / 50000.0)"
      census
        .withColumn("e1", expr(s"exp(-$z1 * $z1 / 2)"))
        .withColumn("e2", expr(s"exp(-$z2 * $z2 / 2)"))
        .withColumn("r1q", expr(
          """CASE WHEN 0.5 * e1 + 0.5 * e2 = 0 THEN CAST(500000 AS BIGINT)
            | ELSE CAST(floor(1000000.0 * (0.5 * e1) / (0.5 * e1 + 0.5 * e2) + 0.5) AS BIGINT)
            | END""".stripMargin))
        .agg(sum(col("c")).as("n"),
          sum(expr("c * r1q")).as("m1"),
          sum(expr("c * (1000000 - r1q)")).as("m2"),
          sum(expr("c * r1q * vm")).as("s1"),
          sum(expr("c * (1000000 - r1q) * vm")).as("s2"))
        .select(col("n"),
          expr("m1 DIV n").as("pi1_micro"),
          expr("m2 DIV n").as("pi2_micro"),
          expr(s"${sdiv("s1", "m1")}").as("mu1_milli"),
          expr(s"${sdiv("s2", "m2")}").as("mu2_milli"))
    }),

    // TWO SUBGRADIENT STEPS of a linear hinge-loss SVM (soft-margin,
    // λ = 0, η = 1/n — Shalev-Shwartz 2011's Pegasos shape with the
    // step snapped to an exact rational, the q_logreg_gd discipline)
    // on per-user (click, view) counts predicting purchase. w₀ = 0
    // makes step 1 closed-form (every margin violates): w₁ = (Σyx)/n,
    // carried as integer NUMERATORS over denominator n so step 2's
    // margin test y·⟨w₁,x⟩ < 1 is the EXACT integer test y·(a·x) < n
    // — no float ever enters the trajectory; the mean hinge loss is
    // reported in exact milli by truncating division. Corpus work:
    // one groupBy + two aggregate scans (the moment crossJoin-
    // broadcasts back). Moment bound n·max|⟨a,x⟩| — documented knob.
    "q_svm_step" -> ((s, d) => {
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x1"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x2"),
          when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) > 0, 1L)
            .otherwise(-1L).as("y"))
        .ckpt() // the step-1 moment + the step-2 margin scan share it
      val st1 = users.agg(count(lit(1)).as("n"),
        sum(expr("y * x1")).as("a1"), sum(expr("y * x2")).as("a2"))
      users.crossJoin(broadcast(st1))
        .withColumn("m", expr("y * (a1 * x1 + a2 * x2)"))
        .agg(max(col("n")).as("n"), max(col("a1")).as("a1"), max(col("a2")).as("a2"),
          sum(expr("CASE WHEN m < n THEN 1 ELSE 0 END")).as("n_viol"),
          sum(expr("CASE WHEN m < n THEN y * x1 ELSE CAST(0 AS BIGINT) END")).as("g1"),
          sum(expr("CASE WHEN m < n THEN y * x2 ELSE CAST(0 AS BIGINT) END")).as("g2"),
          sum(expr("CASE WHEN n - m > 0 THEN n - m ELSE CAST(0 AS BIGINT) END")).as("loss1_num"))
        .select(col("n"), col("a1"), col("a2"), col("n_viol"),
          expr("a1 + g1").as("b1"), expr("a2 + g2").as("b2"),
          expr("(1000 * loss1_num) DIV (n * n)").as("loss1_milli"))
    }),

    // ONE ADABOOST ROUND (Freund & Schapire 1997) over the decision-
    // stump family on per-user click count predicting purchase — with
    // uniform initial weights the weighted error IS the count error,
    // so the whole stump sweep is exact: both polarities of every
    // threshold evaluated from one cumulative pos/neg prefix over the
    // DISTINCT-feature census (the q_roc_points sweep), best stump by
    // (err, θ, polarity) — deterministic ties. α = ½ln((1−ε)/ε) and
    // the Z-factor 2√(ε(1−ε)) (the weight mass after re-normalization)
    // are the only floats, on the 1-row winner in identical text.
    "q_adaboost_step" -> ((s, d) => {
      val cells = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) > 0, 1L)
            .otherwise(0L).as("pos"))
        .groupBy(col("x"))
        .agg(count(lit(1)).as("t"), sum(col("pos")).as("tp"))
        .ckpt() // totals + sweep share the census
      val tot = cells.agg(sum(col("t")).as("nn"), sum(col("tp")).as("np"))
      val wcum = Window.orderBy(col("x")).rowsBetween(Window.unboundedPreceding, 0)
      val sweep = cells
        .withColumn("cum_p", sum(col("tp")).over(wcum))
        .withColumn("cum_n", sum(expr("t - tp")).over(wcum))
        .crossJoin(broadcast(tot))
        .withColumn("err_gt", expr("cum_p + (nn - np) - cum_n"))
        .withColumn("err_le", expr("nn - (cum_p + (nn - np) - cum_n)"))
      val cand = sweep.select(col("x").as("theta"), lit("gt").as("pol"),
          col("err_gt").as("err"), col("nn"))
        .union(sweep.select(col("x").as("theta"), lit("le").as("pol"),
          col("err_le").as("err"), col("nn")))
      cand.orderBy(col("err"), col("theta"), col("pol")).limit(1)
        .select(col("theta"), col("pol"), col("err"), col("nn").as("n"),
          round(expr(
            """CASE WHEN err > 0 AND err < nn
              | THEN ln((CAST(nn AS DOUBLE) - err) / err) / 2 END""".stripMargin), 6).as("alpha"),
          round(expr(
            "2 * sqrt(CAST(err AS DOUBLE) * (nn - err)) / nn"), 6).as("z_factor"))
    }),

    // McNEMAR'S TEST (McNemar 1947) — the PAIRED model comparison the
    // eval bank was missing: two classifiers judged on the SAME users
    // (q_adaboost_step's best stump vs q_svm_step's two-step linear
    // SVM, both predicting purchase), scored not by their separate
    // accuracies but by the DISAGREEMENT cells b (stump right, SVM
    // wrong) and c (the reverse) — the only cells that carry evidence
    // about which model is better. χ² = (|b−c|−1)²/(b+c) with the
    // continuity correction, on the 1-row final. Both models replay
    // their training exactly (the stump sweep and the snapped SVM
    // steps are deterministic integer trajectories), so the whole
    // comparison is oracle-replayable; corpus work = one user-grain
    // aggregate + two 1-row broadcast model fits + one confusion
    // aggregate.
    "q_mcnemar" -> ((s, d) => {
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x1"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x2"),
          when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) > 0, 1L)
            .otherwise(0L).as("pos"))
        .ckpt() // stump fit, SVM fit, and the confusion scan share it
      // best stump on x1 (the q_adaboost_step sweep)
      val cells = users.groupBy(col("x1"))
        .agg(count(lit(1)).as("t"), sum(col("pos")).as("tp"))
      val tot = cells.agg(sum(col("t")).as("nn"), sum(col("tp")).as("np"))
      val wcum = Window.orderBy(col("x1")).rowsBetween(Window.unboundedPreceding, 0)
      val sweep = cells
        .withColumn("cum_p", sum(col("tp")).over(wcum))
        .withColumn("cum_n", sum(expr("t - tp")).over(wcum))
        .crossJoin(broadcast(tot))
        .withColumn("err_gt", expr("cum_p + (nn - np) - cum_n"))
        .withColumn("err_le", expr("nn - (cum_p + (nn - np) - cum_n)"))
      val stump = sweep.select(col("x1").as("theta"), lit("gt").as("pol"), col("err_gt").as("err"))
        .union(sweep.select(col("x1").as("theta"), lit("le").as("pol"), col("err_le").as("err")))
        .orderBy(col("err"), col("theta"), col("pol")).limit(1)
        .select(col("theta"), col("pol"))
      // two-step SVM numerators (the q_svm_step trajectory)
      val st1 = users.agg(count(lit(1)).as("n"),
        sum(expr("(2 * pos - 1) * x1")).as("a1"), sum(expr("(2 * pos - 1) * x2")).as("a2"))
      val svm = users.crossJoin(broadcast(st1))
        .withColumn("m", expr("(2 * pos - 1) * (a1 * x1 + a2 * x2)"))
        .agg(max(col("a1")).as("a1"), max(col("a2")).as("a2"), max(col("n")).as("n"),
          sum(expr("CASE WHEN m < n THEN (2 * pos - 1) * x1 ELSE CAST(0 AS BIGINT) END")).as("g1"),
          sum(expr("CASE WHEN m < n THEN (2 * pos - 1) * x2 ELSE CAST(0 AS BIGINT) END")).as("g2"))
        .select(expr("a1 + g1").as("b1"), expr("a2 + g2").as("b2"))
      users.crossJoin(broadcast(stump)).crossJoin(broadcast(svm))
        .withColumn("p_stump", expr(
          "CASE WHEN (pol = 'gt' AND x1 > theta) OR (pol = 'le' AND x1 <= theta) THEN 1 ELSE 0 END"))
        .withColumn("p_svm", expr("CASE WHEN b1 * x1 + b2 * x2 > 0 THEN 1 ELSE 0 END"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CASE WHEN p_stump = pos AND p_svm <> pos THEN 1 ELSE 0 END")).as("b"),
          sum(expr("CASE WHEN p_stump <> pos AND p_svm = pos THEN 1 ELSE 0 END")).as("c"),
          sum(expr("CASE WHEN p_stump = pos AND p_svm = pos THEN 1 ELSE 0 END")).as("both_right"))
        .select(col("n"), col("b"), col("c"), col("both_right"),
          round(expr(
            """CASE WHEN b + c > 0
              | THEN (abs(b - c) - 1) * (abs(b - c) - 1) / (CAST(b AS DOUBLE) + c) END""".stripMargin), 6)
            .as("chi2"),
          expr(
            """CASE WHEN b + c > 0
              | THEN (abs(b - c) - 1) * (abs(b - c) - 1) / (CAST(b AS DOUBLE) + c) > 3.8415
              | ELSE false END""".stripMargin).as("reject_05"))
    }),

    // EXACT SHAPLEY ATTRIBUTION over a two-binary-feature outcome
    // model (Shapley 1953; the Lundberg-Lee SHAP value computed in
    // CLOSED FORM — two features means two permutations, no sampling):
    // features = above-median clicker / above-median viewer per user
    // (exact lower-median rank cuts — the fixture's saturated "any
    // click" flags would collapse the cells), outcome = above-median
    // spender, value function v(S) = the observed outcome rate
    // conditioned on the coalition's feature values, so
    // φ_click(a,b) = ½[(v(a,·)−v(∅)) +
    // (v(a,b)−v(·,b))] and symmetrically for view; additivity
    // φ_c + φ_v = v(a,b) − v(∅) holds exactly in the rationals and to
    // ±2 micro after truncation (the gap is REPORTED as its own audit
    // column). Every rate is an exact micro integer from the 4-cell /
    // 2-marginal / 1-global census of ONE user-grain aggregate; the
    // Shapley algebra runs at CELL grain via broadcast joins.
    "q_shapley_2feat" -> ((s, d) => {
      val raw = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("cx"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("vx"),
          sum(when(col("event_type") === "purchase",
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).otherwise(0L)).as("sp"))
        .ckpt() // three median cuts + the cell census share it
      // exact lower median of a per-user BIGINT column by census rank cut
      def med(cn: String): DataFrame = {
        val cen = raw.groupBy(col(cn)).agg(count(lit(1)).as("c"))
        val below = Window.orderBy(col(cn)).rowsBetween(Window.unboundedPreceding, -1)
        val tot = cen.agg(sum(col("c")).as("nt"))
        cen.withColumn("bel", coalesce(sum(col("c")).over(below), lit(0L)))
          .crossJoin(broadcast(tot))
          .filter(expr("bel + c >= (nt + 1) DIV 2"))
          .agg(min(col(cn)).as(s"med_$cn"))
      }
      val users = raw
        .crossJoin(broadcast(med("cx")))
        .crossJoin(broadcast(med("vx")))
        .crossJoin(broadcast(med("sp")))
        .select(
          expr("CASE WHEN cx > med_cx THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("a"),
          expr("CASE WHEN vx > med_vx THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("b"),
          expr("CASE WHEN sp > med_sp THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("y"))
      val cells = users.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
        .ckpt() // feeds the marginals, the global, and the cell page
      val ma = cells.groupBy(col("a")).agg(
        expr("(CAST(SUM(s) AS BIGINT) * 1000000) DIV SUM(n)").as("va"))
      val mb = cells.groupBy(col("b")).agg(
        expr("(CAST(SUM(s) AS BIGINT) * 1000000) DIV SUM(n)").as("vb"))
      val g = cells.agg(expr("(SUM(s) * 1000000) DIV SUM(n)").as("v0"))
      cells
        .withColumn("vab", expr("(s * 1000000) DIV n"))
        .join(broadcast(ma), "a")
        .join(broadcast(mb), "b")
        .crossJoin(broadcast(g))
        .select(col("a"), col("b"), col("n"), col("vab").as("rate_micro"),
          expr(sdiv("(va - v0) + (vab - vb)", "2")).as("phi_click_micro"),
          expr(sdiv("(vb - v0) + (vab - va)", "2")).as("phi_view_micro"),
          expr(s"${sdiv("(va - v0) + (vab - vb)", "2")} + ${sdiv("(vb - v0) + (vab - va)", "2")}"
            + " - (vab - v0)").as("additivity_gap_micro"))
        .orderBy(col("a"), col("b"))
    })
  )

  private val M = 4
  private val Sub = Dim / M
  private[graft] val CoarseKFloor = 16
  private[operators] val NProbe = 2

  /** IVF coarse-codebook size for an n-vector corpus: ⌈√n⌉ with a
    * floor of [[CoarseKFloor]] — the standard IVF sizing. The sizing
    * is load-bearing, not cosmetic: [[exactKnnL2]]'s pass-1 home-cell
    * self-join costs Θ(Σ|cell|²) = Θ(n²/K), so a CONSTANT K is
    * quadratic in corpus size (at 100× the corpus each cell holds
    * 100× the vectors and the bound-finding join explodes 10 000×);
    * K ≈ √n keeps pass 1 at O(n^1.5) and each serving list at ~√n —
    * and the codebook stays driver-scale (√n·dim longs: 316 k
    * centroids at n = 10¹¹, the size real IVF deployments train).
    * Deterministic pure function of the corpus COUNT, so every
    * consumer's DuckDB oracle recomputes the same K from the same
    * count (GREATEST(16, ceil(sqrt(count(*)))) — [[CoarseKkCte]]).
    */
  private[graft] def coarseK(n: Long): Int =
    math.max(CoarseKFloor, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** The oracle-side twin of [[coarseK]]: a 1-row CTE every
    * coarse-codebook oracle prepends, plus the scalar-subquery form
    * that replaces the old compile-time constant in LIMIT/WHERE. */
  private[operators] val CoarseKkCte: String =
    s"kk AS (SELECT GREATEST($CoarseKFloor, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k FROM embeddings)"
  private[operators] val CoarseKSql: String = "(SELECT k FROM kk)"

  // same TtlMemo posture as clsMemo/coarseMemo (r14 review finding:
  // this was the one remaining dir-keyed session-less memo — a
  // regenerated fixture dir would have served a STALE K to a fresh
  // codebook retrain while the oracle derived K from the new count)
  private[graft] val coarseKMemo = new TtlMemo[Int](ttlMillis = 3600L * 1000)

  /** [[coarseK]] of the corpus at `d`, memoized per (session, dir)
    * with the shared TTL contract (the count is one columnar scan; the
    * codebook trainer and every IVF consumer share the resolved K). */
  private[graft] def coarseKOf(s: SparkSession, d: String): Int =
    coarseKMemo.resolve(clsKey(s, d)) {
      coarseK(Tables.embeddings(s, d).count())
    }

  /** The quantize-once boundary: float → 1e-4-grid BIGINT per dim. */
  private[graft] val QuantTok =
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))"

  /** PROVABLY-EXACT two-pass k-NN in L2 over the quantized embeddings
    * — the ONE implementation q_ood_knn, q_lof, and q_kdist_knee all
    * consume (three drifting copies of this engine-critical bound
    * would be the sdiv story again):
    *  pass 1 — home-IVF-cell candidates give a per-point UPPER BOUND
    *    r_k(x) on the true k-th-NN distance (k-th-smallest within a
    *    candidate SUBSET can only overestimate); a cell with ≤ k
    *    points yields no bound and falls back to probe-everything
    *    (the lossless degenerate case, INF sentinel).
    *  pass 2 — probe cells c with d(x,c) ≤ d(x,home) + 2·r_k(x): any
    *    true top-k neighbor y has d(x,y) ≤ r_k, so its home cell
    *    passes this filter (triangle inequality, the q_dbscan bound
    *    with ε → r_k(x) pointwise) — the probed candidate set provably
    *    contains the true top-k, and the window rank over it is EXACT.
    * Distances run as the native dot-product norm identity (integers
    * below 2⁵³ in doubles — the q_dbscan argument); both rank windows
    * are WindowGroupLimit-pruned map-side. Returns (a_id, b_id, rn,
    * d2) for rn ≤ k, d2 the exact squared distance as BIGINT.
    *
    * COST BOUND: pass 1's home-cell self-join is Θ(Σ|cell|²) =
    * Θ(n²/K); with the scale-aware K = [[coarseK]](n) ≈ √n it is
    * O(n·√n) and each probed cell's candidate list is ~√n — the
    * constant K = 16 this replaced made the same join quadratic in
    * corpus size (Round11Spec pins the per-cell census bound on a
    * skewed synthetic corpus).
    */
  private[graft] val knnCache = new CachedRelation(ttlMillis = 3600L * 1000)

  private[graft] def exactKnnL2(s: SparkSession, d: String, k: Int): DataFrame = {
    // Memoized per (session, dir, k) — the production posture: an
    // exact-kNN table trains once and serves its consumer family
    // (q_ood_knn, q_lof, q_kdist_knee) the way coarseCentroids serves
    // the IVF family; Bench's memoized flag marks the cache-hit reads.
    //
    // Cache-HIT validation: the index is localCheckpointed, so a hit
    // checks that the storage listing still holds every checkpoint
    // block (no job) and heals on lost blocks — see
    // CachedRelation.resolveProbed (Round11Spec kills the blocks and
    // pins the rebuild through this path).
    knnCache.resolveProbed(knnKey(s, d, k))(exactKnnL2Build(s, d, k))
  }

  /** Memo key for the kNN-index family. The subset form folds a
    * CANONICAL RENDERING OF THE PREDICATE (`pred.toString` — the
    * column-node rendering, identical for identical constructions)
    * into the key alongside the human tag (r13 ADVICE): correctness
    * used to depend silently on callers keeping tag↔pred one-to-one —
    * a future call site reusing a tag with a different predicate would
    * have been served the wrong subset graph from cache; with the
    * rendering in the key it gets its own entry instead. */
  private[graft] def knnKey(s: SparkSession, d: String, k: Int,
      pred: Option[Column] = None, tag: String = ""): String = {
    val p = pred.map(c => s":$c").getOrElse("")
    s"${System.identityHashCode(s)}:$d:$k${if (tag.isEmpty) "" else s":$tag"}$p"
  }

  /** [[exactKnnL2]] restricted to the vectors satisfying `pred` — the
    * kNN graph AMONG a subset (HNSW's upper layers need the kNN of the
    * layer members, which is NOT the member-filtered slice of the full
    * kNN graph: a sampled node's full-corpus neighbors are mostly
    * non-members). Same cone-probe build, same lossless bound — the
    * codebook stays corpus-trained (the probe's triangle argument is
    * per-pair and never assumes the indexed set trained the cells).
    * `tag` keys the memo alongside (dir, k). */
  private[graft] def exactKnnL2Among(s: SparkSession, d: String, k: Int,
      pred: Column, tag: String): DataFrame =
    knnCache.resolveProbed(knnKey(s, d, k, Some(pred), tag))(
      exactKnnL2Build(s, d, k, pred))

  private def exactKnnL2Build(s: SparkSession, d: String, k: Int,
      pred: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorFunctions.register(s)
    val Inf = 1000000000000L // > any real d² (≤ 64·(2·10⁴)² ≈ 2.6e10)
    val q = Tables.embeddings(s, d).filter(pred)
      .select(col("vec_id"), expr(QuantTok).as("qv"))
    val cents = coarseCentroids(s, d)
    // the FULL distance array is required here (the probe filter walks
    // every cell against the triangle bound — flat assignment is what
    // makes the home cell the true argmin the exactness proof needs),
    // but the codebook rides ONE array literal + one transform loop,
    // not K unrolled aggregates (the l2Col rationale)
    val pts = q.withColumn("qs", col("qv"))
      .withColumn("darr", transform(typedLit(cents.map(_._2.toSeq)),
        cv => l2Col(col("qs"), cv)))
      .withColumn("qdist", expr("array_min(darr)"))
      .withColumn("home", expr("CAST(array_position(darr, qdist) AS INT) - 1"))
      .withColumn("dv", expr("transform(qv, v -> CAST(v AS DOUBLE))"))
      .withColumn("nrm", expr("dot_product(dv, dv)"))
      .ckpt() // consumed by pass-1 self-join, probe, index
    val d2x = "nrm_a + nrm_b - 2.0D * dot_product(dva, dvb)"
    val aSide = pts.select(col("vec_id").as("a_id"), col("dv").as("dva"),
      col("nrm").as("nrm_a"), col("home").as("cell"))
    val bSide = pts.select(col("vec_id").as("b_id"), col("dv").as("dvb"),
      col("nrm").as("nrm_b"), col("home").as("cell"))
    val w = Window.partitionBy(col("a_id")).orderBy(col("d2"), col("b_id"))
    val bound = aSide.join(bSide, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("d2", expr(d2x))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === k)
      .select(col("a_id").as("vec_id"), col("d2").cast("long").as("rksq"))
    val probe = pts.join(bound, Seq("vec_id"), "left")
      .withColumn("rksq", coalesce(col("rksq"), lit(Inf)))
      .select(col("vec_id").as("a_id"), col("dv").as("dva"), col("nrm").as("nrm_a"),
        col("qdist"), col("rksq"), posexplode(col("darr")).as(Seq("cell", "dc")))
      .filter(expr("sqrt(CAST(dc AS DOUBLE)) <= " +
        "sqrt(CAST(qdist AS DOUBLE)) + 2.0D * sqrt(CAST(rksq AS DOUBLE)) + 0.5"))
      .select(col("a_id"), col("dva"), col("nrm_a"), col("cell"))
    probe.join(bSide, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("d2", expr(d2x))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("a_id"), col("b_id"), col("rn"), col("d2").cast("long").as("d2"))
      .ckpt() // the memoized index itself: consumers read blocks,
                         // not lineage, even after a catalog cache clear
  }

  /** (vec_id, home) under the trained coarse codebook — exactKnnL2's
    * pass-1 bucketing, exposed for Round11Spec's occupancy census (the
    * per-cell candidate-mass bound on a skewed synthetic corpus). */
  private[graft] def assignHomeCells(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"), expr(QuantTok).as("qv"))
      .withColumn("qs", col("qv"))
    assign(q, coarseCentroids(s, d))
      .select(col("vec_id"), col("cluster").as("home"))
  }

  // same TtlMemo posture as clsMemo (session-keyed, 1 h TTL) — the
  // codebook is the other trained-value memo a regenerated fixture dir
  // would otherwise serve stale
  private[graft] val coarseMemo =
    new TtlMemo[Seq[(Int, Array[Long])]](ttlMillis = 3600L * 1000)

  /** TRAINED IVF coarse codebook — Lloyd's k-means over the quantized
    * embedding grid with k = [[coarseK]](n) (⌈√n⌉, floor 16 — the
    * scale-aware IVF sizing; a constant K made exactKnnL2's pass-1
    * home-cell join quadratic) and ONE update round from the
    * k-lowest-vec_id init, replacing the old "first k vectors"
    * codebook whose cell balance depended on data ORDER (k clumped
    * early vectors → k near-identical centroids → one hot cell doing
    * all the work; GraphLearnSpec pins the improvement on a skewed
    * synthetic corpus). Same [[Lloyd]] trainer as q_kmeans_fit, so
    * every consumer's oracle can replay the training trajectory
    * CTE-for-CTE (with K itself recomputed from count(*) via
    * [[CoarseKkCte]]). Memoized per data dir: the codebook is a
    * deterministic pure function of the corpus (k·dim driver-side
    * longs — codebook-scale, never data-scale), and the IVF family
    * (q_simsearch_ivf, q_knn_label, q_dedup_embed, q_ivfpq_search)
    * shares one training pass per session the way a production index
    * trains once and serves many queries. */
  def coarseCentroids(s: SparkSession, d: String): Seq[(Int, Array[Long])] =
    coarseMemo.resolve(clsKey(s, d)) {
      fitKMeans(s, d, iters = 1, k = coarseKOf(s, d))._1
    }

  /** Product-quantization trainer: ALL subspaces per iteration in ONE
    * pass — assignment is a single map-only select computing every
    * subspace's code against its centroid literals, and the update is
    * ONE [[Lloyd.update]] fold over M rows per vector, each keyed
    * subspace·K + cluster and carrying that subspace's slice (M·K
    * sums of Sub longs per partition to the driver). A
    * per-subspace loop would scan the corpus m times per iteration; at
    * 100 TB the scans ARE the cost, so the fused form is the only
    * defensible plan (and it also makes encoding join-free: codes and
    * distances come out of one select).
    */
  def fitPq(s: SparkSession, d: String, iters: Int): (Array[Seq[(Int, Array[Long])]], DataFrame) = {
    val qdf = Tables.embeddings(s, d).select(col("vec_id"), expr(QuantTok).as("qv"))
    fitPqOn(qdf, iters, qdf)
  }

  /** PQ trainer over an arbitrary (vec_id, qv, …) quantized-vector
    * frame — [[fitPq]] is the raw-embedding instance; IVFPQ trains on
    * coarse-cell residuals. `initDf` selects where the K lowest-vec_id
    * init vectors come from (for residuals that must skip the
    * coarse-centroid source rows, whose residuals are all zero). Extra
    * input columns ride through encode() untouched, so callers can
    * keep e.g. the coarse cell id alongside the codes.
    */
  def fitPqOn(qdf: DataFrame, iters: Int,
              initDf: DataFrame): (Array[Seq[(Int, Array[Long])]], DataFrame) = {
    val init = Lloyd.lowest(initDf.select(col("vec_id"), col("qv").as("qs")), K)
    var books: Array[Seq[(Int, Array[Long])]] = (0 until M).map { i =>
      init.map { case (cid, cv) => (cid, cv.slice(i * Sub, (i + 1) * Sub)) }
    }.toArray

    /** (input columns, c0..c3, d0..d3) — one map-only select. */
    def encode(): DataFrame = {
      val cols = (0 until M).flatMap { i =>
        val darr = books(i).map { case (_, cv) =>
          val arr = cv.mkString("array(", "L,", "L)")
          s"aggregate(zip_with(slice(qv, ${i * Sub + 1}, $Sub), $arr, " +
            "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
        }.mkString("array(", ", ", ")")
        val cids = books(i).map(_._1).mkString("array(", ", ", ")")
        Seq(expr(s"array_min($darr)").as(s"d$i"),
          expr(s"element_at($cids, CAST(array_position($darr, array_min($darr)) AS INT))").as(s"c$i"))
      }
      qdf.select(col("*") +: cols: _*)
    }

    for (_ <- 1 to iters) {
      // M rows per vector, (s·K + c, subspace s's slice): sorted keys
      // are (subspace, cid) order
      val byKey = Lloyd.update(encode().select(inline(array((0 until M).map { i =>
        struct((lit(i * K) + col(s"c$i")).as("cluster"),
          slice(col("qv"), i * Sub + 1, Sub).as("qs"))
      }: _*))))
      books = (0 until M).map { i =>
        byKey.collect { case (key, cv) if key / K == i => (key % K, cv) }
      }.toArray
    }
    (books, encode()) // qv kept for spec-side argmin replay; queries select it away
  }

  /** Lloyd's loop over the quantized embeddings from the k lowest
    * vec_ids ([[Lloyd]]), exposed for spec-level invariants (monotone
    * inertia, argmin consistency); the IVF coarse codebook
    * ([[coarseCentroids]]) passes k = [[coarseK]](n). Returns the
    * trained centroids and the final assignment under them. */
  def fitKMeans(s: SparkSession, d: String, iters: Int,
                k: Int = K): (Seq[(Int, Array[Long])], DataFrame) = {
    val qdf = Tables.embeddings(s, d).select(col("vec_id"), expr(QuantTok).as("qv"))
      .withColumn("qs", col("qv"))
    val cents = Lloyd.fit(qdf, Lloyd.lowest(qdf, k), iters)
    (cents, assign(qdf, cents))
  }

  // ----------------------------- oracles --------------------------

  /** Init CTE: the k lowest-vec_id vectors' [start, start+len) slice,
    * optionally restricted by `where` (residual PQ skips the zero
    * residuals of the coarse-centroid source rows). */
  private[operators] def initCte(c: String, start: Int, len: Int,
                                 where: String = "",
                                 k: String = K.toString): String =
    s"""$c AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
       |    qv[$start:${start + len - 1}] AS cv
       |  FROM (SELECT vec_id, qv FROM q $where ORDER BY vec_id LIMIT $k))""".stripMargin

  /** One Lloyd assignment CTE over centroid CTE `c`, named `a`. */
  private[operators] def assignCte(a: String, c: String, start: Int, len: Int): String =
    s"""$a AS (
       |  SELECT vec_id, cid, dist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |  FROM (
       |    SELECT q.vec_id, $c.cid,
       |      CAST(list_sum(list_transform(range(1, ${len + 1}),
       |        j -> (q.qv[$start + j - 1] - $c.cv[j]) * (q.qv[$start + j - 1] - $c.cv[j]))) AS BIGINT) AS dist
       |    FROM q, $c))""".stripMargin

  /** One centroid-update CTE from assignment CTE `a`, named `c`. */
  private[operators] def updateCte(c: String, a: String, start: Int, len: Int): String =
    s"""$c AS (
       |  SELECT cid, list(ctr ORDER BY pos) AS cv FROM (
       |    SELECT a.cid, t.pos,
       |      CAST(floor(CAST(CAST(SUM(q.qv[$start + t.pos - 1]) AS BIGINT) AS DOUBLE) / COUNT(*)) AS BIGINT) AS ctr
       |    FROM $a a JOIN q USING (vec_id), range(1, ${len + 1}) t(pos)
       |    WHERE a.rn = 1
       |    GROUP BY a.cid, t.pos)
       |  GROUP BY cid)""".stripMargin

  /** One subspace's full train+encode CTE chain (init → assign →
    * update → final assign), suffixed `_$i`. */
  private def pqChain(i: Int, start: Int, len: Int, where: String = ""): String =
    s"""${initCte(s"c0_$i", start, len, where)},
       |${assignCte(s"a1_$i", s"c0_$i", start, len)},
       |${updateCte(s"c1_$i", s"a1_$i", start, len)},
       |${assignCte(s"a2_$i", s"c1_$i", start, len)}""".stripMargin

  /** Exact integer squared L2 between two DuckDB BIGINT lists (the
    * list_reduce form — list_sum widens to HUGEINT). */
  private def ddSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), " +
      s"(x, y) -> x + y)"

  /** q_coreset oracle: the greedy farthest-point trajectory unrolled
    * round by round (dN = running min-distance after round N−1, sN =
    * that round's argmax pick), then the earliest-selected-tiebreak
    * assignment and per-center coverage. */
  private lazy val coresetOracle: String = {
    val rounds = (1 until 5).map { r =>
      val prev = if (r == 1) "q" else s"d${r - 1}"
      val prevSel = if (r == 1) "s0" else s"s${r - 1}"
      val dcol =
        if (r == 1) ddSql("q.qv", "s0.qv")
        else s"least(d${r - 1}.dmin, ${ddSql(s"d${r - 1}.qv", s"$prevSel.qv")})"
      s"""d$r AS (
         |  SELECT $prev.vec_id, $prev.qv, $dcol AS dmin
         |  FROM $prev, $prevSel WHERE $prev.vec_id <> $prevSel.vec_id),
         |s$r AS (SELECT vec_id, qv, dmin FROM d$r ORDER BY dmin DESC, vec_id LIMIT 1)"""
        .stripMargin
    }.mkString(",\n")
    val selUnion = (1 until 5)
      .map(r => s"UNION ALL SELECT $r, vec_id, qv, dmin FROM s$r").mkString("\n")
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |s0 AS (SELECT vec_id, qv FROM q WHERE vec_id = 0),
       |$rounds,
       |sel AS (
       |  SELECT 0 AS r, vec_id, qv, CAST(0 AS BIGINT) AS far_d2 FROM s0
       |$selUnion),
       |scored AS (
       |  SELECT q.vec_id, s.r, s.vec_id AS cid, ${ddSql("q.qv", "s.qv")} AS d2x
       |  FROM q CROSS JOIN sel s),
       |best AS (
       |  SELECT vec_id, cid, d2x FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2x, r) AS rn
       |    FROM scored) t WHERE rn = 1),
       |asn AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned, max(d2x) AS radius_d2
       |  FROM best GROUP BY cid)
       |SELECT CAST(s.r AS BIGINT) AS round, s.vec_id AS center_id,
       |  CAST(s.far_d2 AS BIGINT) AS far_d2, a.n_assigned, a.radius_d2
       |FROM sel s JOIN asn a ON s.vec_id = a.cid ORDER BY round""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_coreset" -> coresetOracle,

    // Same closed-form init, same micro-quantized posterior; ascii()
    // in DuckDB is the same first-codepoint function as Spark's.
    "q_plsa_step" -> {
      def theta(z: Int) = s"(1 + ((doc_id % 100000) * 73 + $z * 137) % 1009)"
      def phi(z: Int) =
        s"(1 + (length(w) * 131 + ascii(w) * 31 + ascii(substr(w, length(w), 1)) + $z * 977) % 997)"
      val den = (0 to 3).map(z => s"${theta(z)} * ${phi(z)}").mkString(" + ")
      val numSel = (0 to 3)
        .map(z => s"SELECT doc_id, w, c, den, $z AS z, ${theta(z)} * ${phi(z)} AS num FROM dwd")
        .mkString("\nUNION ALL\n")
      s"""WITH dw AS (
         |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) > 0 GROUP BY 1, 2),
         |dwd AS (SELECT doc_id, w, c, $den AS den FROM dw),
         |zz AS (
         |$numSel),
         |nw AS (
         |  SELECT z, w,
         |    CAST(SUM(c * ((CAST(num AS BIGINT) * 1000000) // den)) AS BIGINT) AS weight
         |  FROM zz GROUP BY 1, 2),
         |rk_ AS (
         |  SELECT CAST(z AS BIGINT) AS z, w, weight,
         |    CAST(row_number() OVER (PARTITION BY z ORDER BY weight DESC, w) AS BIGINT) AS rk
         |  FROM nw)
         |SELECT z, w, weight, rk FROM rk_ WHERE rk <= 10
         |ORDER BY z, rk""".stripMargin
    },

    // INDEPENDENT algorithm: brute-force all-pairs 3rd-NN (no cells,
    // no bound, no probe — the compare also proves the two-pass bound
    // lossless on the fixture).
    "q_knn_regression" ->
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id, CAST(label AS BIGINT) AS y,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |pr AS (
         |  SELECT a.vec_id AS ai, b.y AS yn,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${ddSql("a.qv", "b.qv")}, b.vec_id) AS rn
         |  FROM q a JOIN q b ON a.vec_id <> b.vec_id),
         |preds AS (
         |  SELECT ai AS vec_id, (CAST(SUM(yn) AS BIGINT) * 1000000) // 3 AS pred_micro
         |  FROM pr WHERE rn <= 3 GROUP BY ai HAVING count(*) = 3)
         |SELECT q.y AS label, CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(abs(pred_micro - q.y * 1000000)) AS BIGINT) // CAST(count(*) AS BIGINT)
         |    AS mae_micro,
         |  CAST(SUM(CASE WHEN (pred_micro + 500000) // 1000000 = q.y THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_round_correct
         |FROM preds JOIN q USING (vec_id)
         |GROUP BY q.y ORDER BY label""".stripMargin,

    "q_ood_knn" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |pr AS (
         |  SELECT a.vec_id AS ai, b.vec_id AS bi, ${ddSql("a.qv", "b.qv")} AS d2
         |  FROM q a JOIN q b ON a.vec_id <> b.vec_id),
         |rk AS (
         |  SELECT ai, bi, d2, row_number() OVER (PARTITION BY ai ORDER BY d2, bi) AS rn
         |  FROM pr)
         |SELECT ai AS vec_id, bi AS nn3_id, d2 AS knn3_d2
         |FROM rk WHERE rn = 3
         |ORDER BY knn3_d2 DESC, vec_id LIMIT 20""".stripMargin,

    // Replays the fitKMeans trajectory CTE-for-CTE (the q_cluster_eval
    // chain), then reads a and b straight off the final assignment's
    // rn = 1 / rn = 2 rows.
    "q_silhouette" ->
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |${initCte("c0", 1, Dim)},
         |${assignCte("a1", "c0", 1, Dim)},
         |${updateCte("c1", "a1", 1, Dim)},
         |${assignCte("a2", "c1", 1, Dim)},
         |${updateCte("c2", "a2", 1, Dim)},
         |${assignCte("a3", "c2", 1, Dim)},
         |p AS (
         |  SELECT vec_id,
         |    CAST(MAX(CASE WHEN rn = 1 THEN cid END) AS BIGINT) AS cluster,
         |    CAST(MAX(CASE WHEN rn = 1 THEN dist END) AS BIGINT) AS da,
         |    CAST(MAX(CASE WHEN rn = 2 THEN dist END) AS BIGINT) AS db
         |  FROM a3 GROUP BY vec_id),
         |m AS (
         |  SELECT cluster,
         |    CAST(floor(sqrt(CAST(da AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS am,
         |    CAST(floor(sqrt(CAST(db AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS bm
         |  FROM p),
         |sv AS (
         |  SELECT cluster,
         |    ((bm - am) * 1000000) // greatest(bm, am, 1) AS s_micro FROM m)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(s_micro) AS BIGINT) // count(*) AS mean_sil_micro
         |FROM sv GROUP BY cluster ORDER BY cluster""".stripMargin,

    "q_kdist_knee" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |pr AS (
         |  SELECT a.vec_id AS ai, b.vec_id AS bi, ${ddSql("a.qv", "b.qv")} AS d2
         |  FROM q a JOIN q b ON a.vec_id <> b.vec_id),
         |rk AS (
         |  SELECT ai, d2, row_number() OVER (PARTITION BY ai ORDER BY d2, bi) AS rn
         |  FROM pr),
         |d3 AS (
         |  SELECT ai AS vec_id,
         |    CAST(floor(sqrt(CAST(d2 AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS d_milli
         |  FROM rk WHERE rn = 3),
         |curve AS MATERIALIZED (
         |  SELECT vec_id, d_milli,
         |    CAST(row_number() OVER (ORDER BY d_milli, vec_id) AS BIGINT) AS r
         |  FROM d3),
         |ends AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(MIN(CASE WHEN r = 1 THEN d_milli END) AS BIGINT) AS d1,
         |    CAST(MAX(d_milli) AS BIGINT) AS dn
         |  FROM curve)
         |SELECT n, r AS knee_rank, d_milli AS eps_milli,
         |  (n - 1) * (d1 - d_milli) + (r - 1) * (dn - d1) AS dev
         |FROM curve, ends
         |ORDER BY dev DESC, r LIMIT 1""".stripMargin,

    // Plain n² replay of the provably-exact two-pass kNN, then the
    // identical integer LOF chase (milli distances, pico lrd).
    "q_lof" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |pr AS (
         |  SELECT a.vec_id AS ai, b.vec_id AS bi, ${ddSql("a.qv", "b.qv")} AS d2
         |  FROM q a JOIN q b ON a.vec_id <> b.vec_id),
         |rk AS (
         |  SELECT ai, bi, d2, row_number() OVER (PARTITION BY ai ORDER BY d2, bi) AS rn
         |  FROM pr),
         |knn AS MATERIALIZED (
         |  SELECT ai, bi, rn,
         |    CAST(floor(sqrt(CAST(d2 AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS d_milli
         |  FROM rk WHERE rn <= 3),
         |kd AS (SELECT ai AS o_id, d_milli AS kd_milli FROM knn WHERE rn = 3),
         |lrd AS MATERIALIZED (
         |  SELECT k.ai,
         |    CAST(3000000000000000 // CAST(SUM(greatest(k.d_milli, kd.kd_milli)) AS BIGINT) AS BIGINT) AS lrd_pico
         |  FROM knn k JOIN kd ON k.bi = kd.o_id
         |  GROUP BY k.ai),
         |agg AS (
         |  SELECT k.ai, CAST(SUM(lo.lrd_pico) AS BIGINT) AS slo
         |  FROM knn k JOIN lrd lo ON k.bi = lo.ai
         |  GROUP BY k.ai)
         |SELECT a.ai AS vec_id, (a.slo * 1000) // (3 * l.lrd_pico) AS lof_milli
         |FROM agg a JOIN lrd l ON a.ai = l.ai
         |ORDER BY lof_milli DESC, vec_id LIMIT 20""".stripMargin,
    "q_classifier_score" -> {
      import graft.functions.SqlBridge.sdivSql
      s"""WITH $clsTrainCtes
         |SELECT d.doc_id, d.lang,
         |  ${sdivSql("zf.z", "1000000")} AS score_micro,
         |  zf.z > 0 AS keep
         |FROM documents d JOIN zf ON zf.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    "q_classifier_train" -> {
      val lossOf = (src: String) =>
        s"""SELECT CAST(SUM(CAST(floor(ln(1.0 + exp(-((2 * y - 1) * CAST(z AS DOUBLE) / 1e12)))
           |    * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sl,
           |  CAST(count(*) AS BIGINT) AS nl
           |FROM $src""".stripMargin
      val roundOf = (r: Int, sN: String, gN: String, bN: String, wN: String, lN: String) =>
        s"""SELECT CAST($r AS BIGINT) AS round, nn.n,
           |  (SELECT gu FROM $sN) AS gsum_u,
           |  (SELECT CAST(SUM(abs(g)) AS BIGINT) FROM $gN) AS g_l1,
           |  (SELECT b FROM $bN) AS b_e12,
           |  (SELECT CAST(SUM(abs(w)) AS BIGINT) FROM $wN) AS w_l1_e12,
           |  (SELECT CAST(SUM(w * (bk + 1)) AS BIGINT) FROM $wN) AS w_checksum,
           |  (SELECT sl // nl FROM $lN) AS loss_micro
           |FROM nn""".stripMargin
      s"""WITH $clsTrainCtes,
         |l1 AS (${lossOf("z2")}),
         |l2 AS (${lossOf("zf")}),
         |r1 AS (${roundOf(1, "s1", "g1", "b1", "w1", "l1")}),
         |r2 AS (${roundOf(2, "s2", "g2", "b2", "w2", "l2")})
         |SELECT * FROM r1 UNION ALL SELECT * FROM r2 ORDER BY round""".stripMargin
    },

    "q_lift" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |dec AS (
         |  SELECT CAST(ntile(10) OVER (ORDER BY sc DESC, doc_id) AS BIGINT) AS decile,
         |    pos
         |  FROM scored),
         |per AS (
         |  SELECT decile, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(pos) AS BIGINT) AS n_pos
         |  FROM dec GROUP BY decile),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS tot_n, CAST(sum(pos) AS BIGINT) AS tot_pos
         |  FROM scored),
         |cum AS (
         |  SELECT decile, n, n_pos,
         |    CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
         |    CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
         |  FROM per)
         |SELECT decile, n, n_pos,
         |  (n_pos * 1000000) // n AS pos_rate_micro,
         |  cum_n, cum_pos,
         |  (cum_pos * tot_n * 1000000) // (cum_n * tot_pos) AS cum_lift_micro
         |FROM cum, tot ORDER BY decile""".stripMargin,

    "q_calibration" ->
      s"""WITH scored AS (
         |  SELECT CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents)
         |SELECT bin, n, n_pos, sum_score_milli,
         |  (n_pos * 1000000) // n AS pos_rate_micro
         |FROM (
         |  SELECT (greatest(least(sc, 127999), -128000) + 128000) // 2000 AS bin,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(pos) AS BIGINT) AS n_pos,
         |    CAST(SUM(sc) AS BIGINT) AS sum_score_milli
         |  FROM scored GROUP BY bin)
         |ORDER BY bin""".stripMargin,

    "q_brier" ->
      s"""WITH scored AS (
         |  SELECT CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |rows_ AS (
         |  SELECT (greatest(least(sc, 127999), -128000) + 128000) // 2000 AS bin,
         |    ((greatest(least(sc, 127999), -128000) + 128000) * 125) // 32 AS p,
         |    pos
         |  FROM scored),
         |ba AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS np,
         |    CAST(SUM(p) AS BIGINT) AS sp,
         |    CAST(SUM((p - pos * 1000000) * (p - pos * 1000000)) AS BIGINT) AS se
         |  FROM rows_ GROUP BY bin),
         |bb AS (
         |  SELECT bin, n, np, se, sp // n AS pbar, (np * 1000000) // n AS obar FROM ba),
         |t2 AS (
         |  SELECT tn, (tnp * 1000000) // tn AS ob
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS tn,
         |          CAST(SUM(pos) AS BIGINT) AS tnp FROM rows_)),
         |agg_ AS (
         |  SELECT CAST(SUM(n * (pbar - obar) * (pbar - obar)) AS BIGINT) AS rel_raw,
         |    CAST(SUM(n * (obar - ob) * (obar - ob)) AS BIGINT) AS res_raw,
         |    CAST(SUM(se) AS BIGINT) AS se_raw, max(tn) AS tn, max(ob) AS ob
         |  FROM bb, t2)
         |SELECT tn AS n,
         |  round(CAST(se_raw AS DOUBLE) / tn / 1e12, 6) AS bs,
         |  round(CAST(rel_raw AS DOUBLE) / tn / 1e12, 6) AS rel,
         |  round(CAST(res_raw AS DOUBLE) / tn / 1e12, 6) AS res,
         |  round(CAST(ob AS DOUBLE) * (1000000 - ob) / 1e12, 6) AS unc
         |FROM agg_""".stripMargin,

    "q_roc_points" ->
      s"""WITH scored AS (
         |  SELECT CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |bins AS (
         |  SELECT (greatest(least(sc, 127999), -128000) + 128000) // 2000 AS bin,
         |    CAST(count(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS np
         |  FROM scored GROUP BY bin),
         |tot AS (
         |  SELECT CAST(SUM(np) AS BIGINT) AS pt,
         |    CAST(SUM(n - np) AS BIGINT) AS nt FROM bins),
         |cum AS (
         |  SELECT bin,
         |    CAST(SUM(np) OVER (ORDER BY bin DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         |    CAST(SUM(n - np) OVER (ORDER BY bin DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
         |  FROM bins)
         |SELECT bin, tp, fp,
         |  (tp * 1000000) // pt AS tpr_micro,
         |  (fp * 1000000) // nt AS fpr_micro
         |FROM cum, tot ORDER BY bin DESC""".stripMargin,

    "q_fairness_report" ->
      s"""WITH scored AS (
         |  SELECT CAST(substr(source, 4) AS BIGINT) % 8 AS grp,
         |    CASE WHEN CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) > 0
         |      THEN 1 ELSE 0 END AS kept,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |bygrp AS (
         |  SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(SUM(kept) AS BIGINT) AS k,
         |    CAST(SUM(kept * pos) AS BIGINT) AS tp, CAST(SUM(pos) AS BIGINT) AS p,
         |    CAST(SUM(kept * (1 - pos)) AS BIGINT) AS fp
         |  FROM scored GROUP BY grp),
         |pooled AS (
         |  SELECT (k * 1000000) // n AS sel_all,
         |    CASE WHEN p > 0 THEN (tp * 1000000) // p END AS tpr_all,
         |    CASE WHEN n - p > 0 THEN (fp * 1000000) // (n - p) END AS fpr_all
         |  FROM (
         |    SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(kept) AS BIGINT) AS k,
         |      CAST(SUM(kept * pos) AS BIGINT) AS tp, CAST(SUM(pos) AS BIGINT) AS p,
         |      CAST(SUM(kept * (1 - pos)) AS BIGINT) AS fp
         |    FROM scored))
         |SELECT grp, n,
         |  (k * 1000000) // n AS sel_micro,
         |  CASE WHEN p > 0 THEN (tp * 1000000) // p END AS tpr_micro,
         |  CASE WHEN n - p > 0 THEN (fp * 1000000) // (n - p) END AS fpr_micro,
         |  (k * 1000000) // n - sel_all AS parity_gap,
         |  CASE WHEN p > 0 THEN (tp * 1000000) // p - tpr_all END AS tpr_gap
         |FROM bygrp, pooled ORDER BY grp""".stripMargin,

    "q_logreg_gd" -> {
      val u =
        """CAST(floor((y - 1.0 / (1.0 + exp(-(CAST(b0 + w0 * x AS DOUBLE) / 1e12))))
          |    * 1000000 + 0.5) AS BIGINT)""".stripMargin
      def stepCte(prev: String, name: String) =
        s"""$name AS (
           |  SELECT w0 + (CASE WHEN gx >= 0 THEN gx // (n * 10000) ELSE -((-gx) // (n * 10000)) END) AS w0,
           |    b0 + (CASE WHEN gu >= 0 THEN gu // (n * 10000) ELSE -((-gu) // (n * 10000)) END) AS b0
           |  FROM (
           |    SELECT CAST(SUM(x * u) AS BIGINT) AS gx, CAST(SUM(u) AS BIGINT) AS gu,
           |      CAST(count(*) AS BIGINT) AS n, max(w0) AS w0, max(b0) AS b0
           |    FROM (SELECT x, y, w0, b0, $u AS u FROM scored, $prev)))""".stripMargin
      s"""WITH scored AS (
         |  SELECT greatest(least(CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT),
         |      127999), -128000) AS x,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |s0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS b0),
         |${stepCte("s0", "s1")},
         |${stepCte("s1", "s2")},
         |fin AS (
         |  SELECT x, y, w0 AS w_e12, b0 AS b_e12,
         |    1.0 / (1.0 + exp(-(CAST(b0 + w0 * x AS DOUBLE) / 1e12))) AS p
         |  FROM scored, s2)
         |SELECT CAST(count(*) AS BIGINT) AS n, max(w_e12) AS w_e12,
         |  max(b_e12) AS b_e12,
         |  CAST(SUM(CAST(floor(-(y * ln(p) + (1 - y) * ln(1.0 - p)) * 1000000 + 0.5)
         |    AS BIGINT)) AS BIGINT) // CAST(count(*) AS BIGINT) AS loss_micro
         |FROM fin""".stripMargin
    },

    "q_naive_bayes" -> {
      val L = Seq("de", "en", "es", "fr", "zh")
      def cnt(col: String, l: String) =
        s"CAST(SUM(CASE WHEN $col = '$l' THEN 1 ELSE 0 END) AS BIGINT)"
      s"""WITH tok AS (
         |  SELECT doc_id, lang, t
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
         |        FROM documents)
         |  WHERE len(t) > 0),
         |train AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
         |model AS (
         |  SELECT t, ${L.map(l => s"${cnt("lang", l)} AS c_$l").mkString(", ")}
         |  FROM train GROUP BY t),
         |totals AS (
         |  SELECT ${L.map(l => s"${cnt("lang", l)} AS t_$l").mkString(", ")},
         |    CAST(count(DISTINCT t) AS BIGINT) AS v
         |  FROM train),
         |priors AS (
         |  SELECT ${L.map(l => s"${cnt("lang", l)} AS n_$l").mkString(", ")},
         |    CAST(count(*) AS BIGINT) AS nd
         |  FROM documents WHERE doc_id % 2 = 0),
         |evaltok AS (SELECT * FROM tok WHERE doc_id % 2 = 1),
         |perdoc AS (
         |  SELECT doc_id, lang,
         |    ${L.map(l =>
               s"""CAST(SUM(CAST(floor(ln(CAST(coalesce(c_$l, 0) + 1 AS DOUBLE)
                  |      / CAST(t_$l + v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s_$l""".stripMargin)
              .mkString(",\n    ")}
         |  FROM evaltok LEFT JOIN model USING (t), totals
         |  GROUP BY doc_id, lang),
         |ws AS (
         |  SELECT doc_id, lang AS true_lang,
         |    ${L.map(l =>
               s"""s_$l + CAST(floor(ln(CAST(n_$l AS DOUBLE) / CAST(nd AS DOUBLE))
                  |      * 1000000 + 0.5) AS BIGINT) AS sc_$l""".stripMargin)
              .mkString(",\n    ")}
         |  FROM perdoc, priors),
         |st AS (
         |  SELECT doc_id, true_lang,
         |    unnest([${L.map(l => s"'$l'").mkString(", ")}]) AS cls,
         |    unnest([${L.map(l => s"sc_$l").mkString(", ")}]) AS score
         |  FROM ws),
         |pred AS (
         |  SELECT doc_id, true_lang, cls AS pred_lang FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, cls) AS rn FROM st)
         |  WHERE rn = 1)
         |SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "q_isotonic" ->
      s"""WITH scored AS (
         |  SELECT CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |ba AS (
         |  SELECT (greatest(least(sc, 127999), -128000) + 128000) // 2000 AS bin,
         |    CAST(count(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS np
         |  FROM scored GROUP BY bin),
         |pre AS (
         |  SELECT bin, n, np,
         |    CAST(SUM(n) OVER (ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
         |    CAST(SUM(np) OVER (ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
         |  FROM ba),
         |pairs AS (
         |  SELECT l.jb, r.kb, r.cw, r.cs, l.pw, l.ps,
         |    CAST(r.cs - l.ps AS DOUBLE) / CAST(r.cw - l.pw AS DOUBLE) AS avgp
         |  FROM (SELECT bin AS jb, cw - n AS pw, cs - np AS ps FROM pre) l
         |  JOIN (SELECT bin AS kb, cw, cs FROM pre) r ON l.jb <= r.kb),
         |mji AS (
         |  SELECT jb, kb AS bin,
         |    min(avgp) OVER (PARTITION BY jb ORDER BY kb DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
         |  FROM pairs),
         |v AS (SELECT bin, max(m) AS v FROM mji GROUP BY bin)
         |SELECT ba.bin AS bin, n, np,
         |  (np * 1000000) // n AS raw_micro,
         |  CAST(floor(v * 1000000 + 0.5) AS BIGINT) AS iso_micro
         |FROM ba JOIN v ON ba.bin = v.bin
         |ORDER BY bin""".stripMargin,

    "q_ridge_fit" -> {
      val cxx = "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
      val cyy = "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
      val cxy = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
      val cxz = "(CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)"
      val cyz = "(CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)"
      val det = s"(($cxx + 1e10) * ($cyy + 1e10) - $cxy * $cxy)"
      s"""WITH li AS (
         |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
         |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS z
         |  FROM lineitem),
         |mo AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(z) AS BIGINT) AS sz,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * z) AS BIGINT) AS sxz,
         |    CAST(SUM(y * z) AS BIGINT) AS syz
         |  FROM li)
         |SELECT n,
         |  round((($cyy + 1e10) * $cxz - $cxy * $cyz) / $det, 6) AS beta_qty,
         |  round((($cxx + 1e10) * $cyz - $cxy * $cxz) / $det, 6) AS beta_disc,
         |  round((CAST(sz AS DOUBLE) - (($cyy + 1e10) * $cxz - $cxy * $cyz) / $det * sx
         |    - (($cxx + 1e10) * $cyz - $cxy * $cxz) / $det * sy) / n, 2) AS intercept_c
         |FROM mo""".stripMargin
    },

    "q_label_noise" ->
      s"""WITH scored AS (
         |  SELECT CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |th AS (
         |  SELECT
         |    (CASE WHEN s1 >= 0 THEN s1 // k1 ELSE -((-s1) // k1) END) AS t1,
         |    (CASE WHEN s0 >= 0 THEN s0 // k0 ELSE -((-s0) // k0) END) AS t0
         |  FROM (
         |    SELECT CAST(SUM(CASE WHEN pos = 1 THEN sc ELSE 0 END) AS BIGINT) AS s1,
         |      CAST(SUM(pos) AS BIGINT) AS k1,
         |      CAST(SUM(CASE WHEN pos = 0 THEN sc ELSE 0 END) AS BIGINT) AS s0,
         |      CAST(SUM(1 - pos) AS BIGINT) AS k0
         |    FROM scored)),
         |pr AS (
         |  SELECT pos,
         |    CASE WHEN sc >= t1 AND sc < t0 THEN
         |           (CASE WHEN sc - t1 >= t0 - sc THEN 1 ELSE 0 END)
         |         WHEN sc >= t1 THEN 1
         |         WHEN sc < t0 THEN 0
         |         ELSE CAST(NULL AS BIGINT) END AS pred,
         |    t0, t1
         |  FROM scored, th),
         |cj AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN pos = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c00,
         |    CAST(SUM(CASE WHEN pos = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c01,
         |    CAST(SUM(CASE WHEN pos = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c10,
         |    CAST(SUM(CASE WHEN pos = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c11,
         |    max(t0) AS t0_milli, max(t1) AS t1_milli
         |  FROM pr)
         |SELECT t0_milli, t1_milli, c00, c01, c10, c11,
         |  CASE WHEN c00 + c01 > 0 THEN (c01 * 1000000) // (c00 + c01) END AS flip0_micro,
         |  CASE WHEN c10 + c11 > 0 THEN (c10 * 1000000) // (c10 + c11) END AS flip1_micro
         |FROM cj""".stripMargin,

    "q_auc" ->
      s"""WITH scored AS (
         |  SELECT CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |$aucTailSql""".stripMargin,

    "q_classifier_auc" ->
      s"""WITH $clsTrainCtes,
         |scored AS (SELECT z AS sc, y AS pos FROM zf),
         |$aucTailSql""".stripMargin,

    "q_classifier_pr" ->
      s"""WITH $clsTrainCtes,
         |scored AS (SELECT z AS sc, y AS pos FROM zf),
         |per AS (
         |  SELECT sc, CAST(count(*) AS BIGINT) AS cnt, CAST(SUM(pos) AS BIGINT) AS npos
         |  FROM scored GROUP BY sc),
         |cum AS (
         |  SELECT sc,
         |    CAST(SUM(npos) OVER (ORDER BY sc DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         |    CAST(SUM(cnt - npos) OVER (ORDER BY sc DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
         |  FROM per),
         |tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p_all FROM scored)
         |SELECT sc, tp, fp,
         |  (tp * 1000000) // (tp + fp) AS precision_micro,
         |  (tp * 1000000) // p_all AS recall_micro
         |FROM cum, tot ORDER BY sc DESC""".stripMargin,

    "q_auc_subgroup" ->
      s"""WITH scored AS (
         |  SELECT source,
         |    CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |tagged AS (
         |  SELECT source AS grp, sc, pos FROM scored
         |  UNION ALL
         |  SELECT 'ALL' AS grp, sc, pos FROM scored),
         |per AS (
         |  SELECT grp, sc, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(SUM(pos) AS BIGINT) AS npos
         |  FROM tagged GROUP BY 1, 2),
         |mid AS (
         |  SELECT grp, sc, cnt, npos,
         |    COALESCE(CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY sc
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS below
         |  FROM per),
         |tot AS (
         |  SELECT grp, CAST(SUM(pos) AS BIGINT) AS n_pos,
         |    CAST(count(*) - SUM(pos) AS BIGINT) AS n_neg
         |  FROM tagged GROUP BY 1),
         |agg AS (
         |  SELECT m.grp, n_pos, n_neg,
         |    ((CAST(SUM(npos * (2 * below + cnt + 1)) AS BIGINT)
         |      - n_pos * (n_pos + 1)) * 1000000) // (2 * n_pos * n_neg) AS auc_micro
         |  FROM mid m JOIN tot t ON m.grp = t.grp GROUP BY m.grp, n_pos, n_neg),
         |pooled AS (SELECT auc_micro AS pooled_micro FROM agg WHERE grp = 'ALL')
         |SELECT grp AS subgroup, n_pos, n_neg, auc_micro,
         |  auc_micro - pooled_micro AS gap_micro
         |FROM agg, pooled ORDER BY subgroup""".stripMargin,

    "q_conformal" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN -sc ELSE sc END AS nc
         |  FROM (SELECT doc_id, lang,
         |          CAST(list_sum(list_transform(string_split(text, ' '),
         |            t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) AS sc
         |        FROM documents)),
         |cal AS (SELECT nc FROM scored WHERE doc_id % 2 = 0),
         |ct AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_cal,
         |    ((count(*) + 1) * 9 + 9) // 10 AS r
         |  FROM cal),
         |per AS (
         |  SELECT nc, CAST(count(*) AS BIGINT) AS cnt FROM cal GROUP BY nc),
         |cum AS (
         |  SELECT nc, CAST(SUM(cnt) OVER (ORDER BY nc
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM per),
         |qh AS (
         |  SELECT n_cal, r, CAST(min(nc) AS BIGINT) AS qhat
         |  FROM cum, ct WHERE cum >= r GROUP BY n_cal, r),
         |tst AS (
         |  SELECT n_cal, r, qhat, CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(SUM(CASE WHEN nc <= qhat THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
         |  FROM scored, qh WHERE doc_id % 2 = 1 GROUP BY n_cal, r, qhat)
         |SELECT n_cal, r, qhat, n_test, n_cov,
         |  (n_cov * 1000000) // n_test AS cov_micro
         |FROM tst""".stripMargin,

    "q_mcc" ->
      s"""WITH scored AS (
         |  SELECT CASE WHEN CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) > 0
         |    THEN 1 ELSE 0 END AS pred,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |c AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN pred = 1 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN pred = 1 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN pred = 0 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN pred = 0 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM scored)
         |SELECT tp, fp, fn, tn,
         |  (tp * 1000000) // (tp + fp) AS precision_micro,
         |  (tp * 1000000) // (tp + fn) AS recall_micro,
         |  (2 * tp * 1000000) // (2 * tp + fp + fn) AS f1_micro,
         |  round(CAST(tp * tn - fp * fn AS DOUBLE)
         |    / sqrt(CAST((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) AS DOUBLE)), 6) AS mcc
         |FROM c""".stripMargin,

    "q_log_loss" ->
      s"""WITH scored AS (
         |  SELECT source,
         |    CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |l AS (
         |  SELECT source,
         |    CAST(floor((greatest(w, 0.0) + ln(1.0 + exp(-abs(w)))) * 10000 + 0.5) AS BIGINT) AS loss_e4
         |  FROM (SELECT source,
         |          CASE WHEN pos = 1 THEN -sc / 1000.0 ELSE sc / 1000.0 END AS w
         |        FROM scored)),
         |g AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(loss_e4) AS BIGINT) AS sum_loss_e4
         |  FROM l GROUP BY 1)
         |SELECT source, n, sum_loss_e4, (sum_loss_e4 * 100) // n AS mean_loss_micro
         |FROM g ORDER BY source""".stripMargin,

    "q_avg_precision" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(string_split(text, ' '),
         |      t -> (($duckBucket * 2654435761) % 1000003) % 2001 - 1000)) AS BIGINT) AS sc,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |ranked AS (
         |  SELECT pos,
         |    CAST(row_number() OVER (ORDER BY sc DESC, doc_id) AS BIGINT) AS k,
         |    CAST(SUM(pos) OVER (ORDER BY sc DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumpos
         |  FROM scored),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos
         |  FROM scored),
         |apn AS (
         |  SELECT CAST(SUM((cumpos * 1000000) // k) AS BIGINT) AS ap_num
         |  FROM ranked WHERE pos = 1),
         |rp AS (
         |  SELECT cumpos AS rp_cum FROM ranked, tot WHERE k = n_pos)
         |SELECT n, n_pos, ap_num // n_pos AS ap_micro,
         |  (rp_cum * 1000000) // n_pos AS rprec_micro
         |FROM tot, apn, rp""".stripMargin,

    "q_doc_outlier" ->
      """WITH q AS (
        |  SELECT vec_id, label, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |cent AS (
        |  SELECT jj.j AS j,
        |    CAST(floor(CAST(CAST(SUM(qv[jj.j]) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS c
        |  FROM q, (SELECT unnest(range(1, 65)) AS j) jj
        |  GROUP BY jj.j),
        |cl AS (SELECT list(c ORDER BY j) AS cs FROM cent)
        |SELECT vec_id, label,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    j -> (qv[j] - cs[j]) * (qv[j] - cs[j]))) AS BIGINT) AS dist2
        |FROM q, cl
        |ORDER BY dist2 DESC, vec_id LIMIT 20""".stripMargin,

    "q_gram" ->
      """WITH q AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |p AS (
        |  SELECT ii.i AS di, jj.j AS dj,
        |    qv[ii.i] * qv[jj.j] AS xy, qv[ii.i] AS x, qv[jj.j] AS y
        |  FROM q,
        |    (SELECT unnest(range(1, 65)) AS i) ii,
        |    (SELECT unnest(range(1, 65)) AS j) jj
        |  WHERE jj.j >= ii.i)
        |SELECT di, dj, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(xy) AS BIGINT) AS sxy,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |  round((CAST(CAST(SUM(xy) AS BIGINT) AS DOUBLE)
        |         - CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) * CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE)
        |           / CAST(CAST(count(*) AS BIGINT) AS DOUBLE))
        |        / CAST(CAST(count(*) AS BIGINT) - 1 AS DOUBLE), 6) AS cov
        |FROM p GROUP BY di, dj
        |ORDER BY di, dj""".stripMargin,

    "q_pca_power" -> {
      // fdiv = engine-portable floor division (see the query comment);
      // each round is s = fdiv(⟨qv, v⟩, 1e6) per row, z_j = Σ s·qv_j,
      // v' = fdiv(z, max(⌊max|z|/1e6⌋, 1)).
      def fdiv(a: String, n: String) = s"(($a) - ((($a) % ($n) + ($n)) % ($n))) // ($n)"
      def round(vPrev: String, s: String, z: String, m: String): String =
        s"""$s AS MATERIALIZED (
           |  SELECT vec_id, ${fdiv(s"SUM(qv[$vPrev.j] * $vPrev.v)", "1000000")} AS sc
           |  FROM q, $vPrev GROUP BY vec_id),
           |$z AS MATERIALIZED (
           |  SELECT dims.j AS j, CAST(SUM($s.sc * q.qv[dims.j]) AS BIGINT) AS z
           |  FROM q JOIN $s USING (vec_id), dims GROUP BY dims.j),
           |$m AS (SELECT greatest(max(abs(z)) // 1000000, 1) AS qd FROM $z)""".stripMargin
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |dims AS (SELECT unnest(range(1, ${Dim + 1})) AS j),
         |v0 AS (SELECT j, CAST(1000000 AS BIGINT) AS v FROM dims),
         |${round("v0", "s1", "z1", "m1")},
         |v1 AS (SELECT j, ${fdiv("z", "qd")} AS v FROM z1, m1),
         |${round("v1", "s2", "z2", "m2")}
         |SELECT j, z, ${fdiv("z", "qd")} AS loading
         |FROM z2, m2 ORDER BY j""".stripMargin
    },

    "q_kmeans_fit" ->
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |${initCte("c0", 1, Dim)},
         |${assignCte("a1", "c0", 1, Dim)},
         |${updateCte("c1", "a1", 1, Dim)},
         |${assignCte("a2", "c1", 1, Dim)},
         |${updateCte("c2", "a2", 1, Dim)},
         |${assignCte("a3", "c2", 1, Dim)}
         |SELECT vec_id, cid AS cluster, dist AS qdist
         |FROM a3 WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "q_cluster_eval" ->
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |${initCte("c0", 1, Dim)},
         |${assignCte("a1", "c0", 1, Dim)},
         |${updateCte("c1", "a1", 1, Dim)},
         |${assignCte("a2", "c1", 1, Dim)},
         |${updateCte("c2", "a2", 1, Dim)},
         |${assignCte("a3", "c2", 1, Dim)},
         |cells AS MATERIALIZED (
         |  SELECT a3.cid AS cluster, e.label, CAST(count(*) AS BIGINT) AS nij
         |  FROM a3 JOIN embeddings e USING (vec_id)
         |  WHERE a3.rn = 1 GROUP BY a3.cid, e.label),
         |tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
         |          CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS a2,
         |          CAST(count(DISTINCT label) AS BIGINT) AS n_labels FROM cells),
         |ci AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k,
         |    CAST(SUM(ai * (ai - 1) // 2) AS BIGINT) AS sa,
         |    CAST(SUM(mx) AS BIGINT) AS pure_n
         |  FROM (SELECT cluster, CAST(SUM(nij) AS BIGINT) AS ai,
         |          CAST(MAX(nij) AS BIGINT) AS mx FROM cells GROUP BY cluster)),
         |lj AS (
         |  SELECT CAST(SUM(bj * (bj - 1) // 2) AS BIGINT) AS sb
         |  FROM (SELECT label, CAST(SUM(nij) AS BIGINT) AS bj FROM cells GROUP BY label))
         |SELECT n, k, n_labels,
         |  (pure_n * 1000000) // n AS purity_micro,
         |  ((n * (n - 1) // 2 + 2 * a2 - sa - sb) * 1000000) // (n * (n - 1) // 2) AS rand_micro,
         |  round(CAST(2 * ((n * (n - 1) // 2) * a2 - sa * sb) AS DOUBLE)
         |        / CAST((n * (n - 1) // 2) * (sa + sb) - 2 * sa * sb AS DOUBLE), 6) AS ari
         |FROM tot, ci, lj""".stripMargin,

    "q_pq_codes" -> {
      val m = 4; val sub = Dim / m
      val chains = (0 until m).map(i => pqChain(i, i * sub + 1, sub)).mkString(",\n")
      val picks = (0 until m).map(i =>
        s"p$i AS (SELECT vec_id, cid AS c$i, dist AS d$i FROM a2_$i WHERE rn = 1)")
        .mkString(",\n")
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |$chains,
         |$picks
         |SELECT vec_id, c0, c1, c2, c3,
         |  CAST(d0 + d1 + d2 + d3 AS BIGINT) AS distortion
         |FROM p0 JOIN p1 USING (vec_id) JOIN p2 USING (vec_id) JOIN p3 USING (vec_id)
         |ORDER BY vec_id""".stripMargin
    },

    "q_pq_search" -> {
      val m = 4; val sub = Dim / m
      val chains = (0 until m).map(i => pqChain(i, i * sub + 1, sub)).mkString(",\n")
      val luts = (0 until m).map { i =>
        val start = i * sub + 1
        s"""lut$i AS (
           |  SELECT c.cid, CAST(list_sum(list_transform(range(1, ${sub + 1}),
           |    j -> (q0.qv[$start + j - 1] - c.cv[j]) * (q0.qv[$start + j - 1] - c.cv[j]))) AS BIGINT) AS ld
           |  FROM c1_$i c, q0)""".stripMargin
      }.mkString(",\n")
      val picks = (0 until m).map(i =>
        s"p$i AS (SELECT vec_id, cid AS c$i FROM a2_$i WHERE rn = 1)")
        .mkString(",\n")
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |q0 AS (SELECT qv FROM q WHERE vec_id = 0),
         |$chains,
         |$luts,
         |$picks
         |SELECT p0.vec_id,
         |  CAST(l0.ld + l1.ld + l2.ld + l3.ld AS BIGINT) AS adc_dist
         |FROM p0 JOIN p1 USING (vec_id) JOIN p2 USING (vec_id) JOIN p3 USING (vec_id)
         |JOIN lut0 l0 ON l0.cid = c0
         |JOIN lut1 l1 ON l1.cid = c1
         |JOIN lut2 l2 ON l2.cid = c2
         |JOIN lut3 l3 ON l3.cid = c3
         |WHERE p0.vec_id <> 0
         |ORDER BY adc_dist, p0.vec_id LIMIT 20""".stripMargin
    },

    "q_ivfpq_search" -> {
      val m = 4; val sub = Dim / m
      // subspace chains train over `q` = the RESIDUAL table; init skips
      // the coarse-centroid source rows (zero residuals)
      val chains = (0 until m)
        .map(i => pqChain(i, i * sub + 1, sub, s"WHERE vec_id >= $CoarseKSql"))
        .mkString(",\n")
      val picks = (0 until m).map(i =>
        s"p$i AS (SELECT vec_id, cid AS c$i FROM a2_$i WHERE rn = 1)")
        .mkString(",\n")
      val luts = (0 until m).map { i =>
        val start = i * sub + 1
        s"""lut$i AS (
           |  SELECT qr.cell, c.cid AS code,
           |    CAST(list_sum(list_transform(range(1, ${sub + 1}),
           |      j -> (qr.rq[$start + j - 1] - c.cv[j]) * (qr.rq[$start + j - 1] - c.cv[j]))) AS BIGINT) AS ld
           |  FROM qres qr, c1_$i c)""".stripMargin
      }.mkString(",\n")
      s"""WITH $CoarseKkCte,
         |raw AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |cc0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
         |  FROM (SELECT vec_id, qv FROM raw ORDER BY vec_id LIMIT $CoarseKSql)),
         |cca AS (
         |  SELECT vec_id, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM (
         |    SELECT r.vec_id, c.cid,
         |      CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |        j -> (r.qv[j] - c.cv[j]) * (r.qv[j] - c.cv[j]))) AS BIGINT) AS dist
         |    FROM raw r, cc0 c)),
         |cc AS (
         |  SELECT cid, list(ctr ORDER BY pos) AS cv FROM (
         |    SELECT a.cid, t.pos,
         |      CAST(floor(CAST(CAST(SUM(r.qv[t.pos]) AS BIGINT) AS DOUBLE) / COUNT(*)) AS BIGINT) AS ctr
         |    FROM cca a JOIN raw r USING (vec_id), range(1, ${Dim + 1}) t(pos)
         |    WHERE a.rn = 1
         |    GROUP BY a.cid, t.pos)
         |  GROUP BY cid),
         |${routedAssignCtes("vcell", "cc", "raw")},
         |q AS MATERIALIZED (
         |  SELECT r.vec_id,
         |    list_transform(range(1, ${Dim + 1}), j -> r.qv[j] - cc.cv[j]) AS qv
         |  FROM raw r JOIN vcell v USING (vec_id) JOIN cc ON cc.cid = v.cell),
         |$chains,
         |$picks,
         |q0 AS (SELECT qv FROM raw WHERE vec_id = 0),
         |qprobe AS (
         |  SELECT cid FROM (
         |    SELECT cc.cid,
         |      CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |        j -> (q0.qv[j] - cc.cv[j]) * (q0.qv[j] - cc.cv[j]))) AS BIGINT) AS dist
         |    FROM cc, q0)
         |  ORDER BY dist, cid LIMIT $NProbe),
         |qres AS (
         |  SELECT p.cid AS cell,
         |    list_transform(range(1, ${Dim + 1}), j -> q0.qv[j] - cc.cv[j]) AS rq
         |  FROM qprobe p JOIN cc ON cc.cid = p.cid, q0),
         |$luts
         |SELECT v.vec_id, v.cell,
         |  CAST(l0.ld + l1.ld + l2.ld + l3.ld AS BIGINT) AS adc_dist
         |FROM vcell v
         |JOIN p0 USING (vec_id) JOIN p1 USING (vec_id)
         |JOIN p2 USING (vec_id) JOIN p3 USING (vec_id)
         |JOIN lut0 l0 ON l0.cell = v.cell AND l0.code = c0
         |JOIN lut1 l1 ON l1.cell = v.cell AND l1.code = c1
         |JOIN lut2 l2 ON l2.cell = v.cell AND l2.code = c2
         |JOIN lut3 l3 ON l3.cell = v.cell AND l3.code = c3
         |WHERE v.vec_id <> 0
         |ORDER BY adc_dist, v.vec_id LIMIT 20""".stripMargin
    },

    // Quantized-grid L2 recomputed per (query, candidate), same
    // row_number argrank.
    "q_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, label AS q_label, qv AS q_qv FROM e WHERE vec_id % 50 = 0),
        |cand AS (
        |  SELECT q.qid, q.q_label, e.vec_id AS neg_id, e.label AS neg_label,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(e.qv) + 1),
        |        i -> (e.qv[i] - q.q_qv[i]) * (e.qv[i] - q.q_qv[i]))),
        |      (a, b) -> a + b) AS d2
        |  FROM e, q WHERE e.label <> q.q_label)
        |SELECT qid, q_label, neg_id, neg_label, d2, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, neg_id) AS rnk
        |  FROM cand) t
        |WHERE rnk <= 2 ORDER BY qid, rnk""".stripMargin,

    // INDEPENDENT algorithm: quadratic all-pairs ε-neighbor scan (no
    // cells, no probe — so the compare also proves the ball probe
    // lossless on the fixture) + recursive-CTE transitive closure for
    // the core components (the q_dedup_cluster pattern).
    "q_dbscan" ->
      """WITH RECURSIVE qb AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |aug AS (
        |  SELECT vec_id, qv FROM qb
        |  UNION ALL
        |  SELECT vec_id + k * 1000000, list_transform(qv, v -> v + 40 * k)
        |  FROM qb, (SELECT unnest([1, 2, 3, 4]) AS k) ks
        |  WHERE vec_id % 5 = 0),
        |pr AS (
        |  SELECT a.vec_id AS ai, b.vec_id AS bi
        |  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        |  WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(a.qv) + 1),
        |        i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))),
        |      (x, y) -> x + y) <= 640000),
        |tch AS (SELECT ai AS id, bi AS nb FROM pr UNION ALL SELECT bi, ai FROM pr),
        |deg AS (
        |  SELECT p.vec_id, 1 + COALESCE(t.c, 0) AS n
        |  FROM aug p LEFT JOIN (
        |    SELECT id, CAST(count(*) AS BIGINT) AS c FROM tch GROUP BY id) t
        |  ON p.vec_id = t.id),
        |core AS (SELECT vec_id FROM deg WHERE n >= 4),
        |ce AS (
        |  SELECT t.id AS src, t.nb AS dst FROM tch t
        |  JOIN core c1 ON t.id = c1.vec_id
        |  JOIN core c2 ON t.nb = c2.vec_id),
        |reach(src, dst) AS (
        |  SELECT DISTINCT src, src FROM ce
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN ce e ON r.dst = e.src),
        |corelab AS (
        |  SELECT c.vec_id, COALESCE(l.cl, c.vec_id) AS cl
        |  FROM core c LEFT JOIN (
        |    SELECT src AS vec_id, min(dst) AS cl FROM reach GROUP BY src) l
        |  ON c.vec_id = l.vec_id),
        |blab AS (
        |  SELECT t.id AS vec_id, min(k.cl) AS bl
        |  FROM tch t JOIN corelab k ON t.nb = k.vec_id GROUP BY t.id)
        |SELECT g.vec_id, g.n,
        |  CASE WHEN cr.vec_id IS NOT NULL THEN 'core'
        |       WHEN bl.bl IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  COALESCE(cr.cl, bl.bl, -1) AS cluster_id
        |FROM deg g
        |LEFT JOIN corelab cr ON g.vec_id = cr.vec_id
        |LEFT JOIN blab bl ON g.vec_id = bl.vec_id
        |ORDER BY g.vec_id""".stripMargin,

    "q_cms" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |hs AS (SELECT tok,
        |  (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) AS b1,
        |  (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) AS b2,
        |  (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) AS b3,
        |  (strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) AS b4
        |  FROM tok),
        |cells AS (
        |  SELECT 0 AS i, b1 AS b, CAST(count(*) AS BIGINT) AS cnt FROM hs GROUP BY b1
        |  UNION ALL
        |  SELECT 1, b2, CAST(count(*) AS BIGINT) FROM hs GROUP BY b2
        |  UNION ALL
        |  SELECT 2, b3, CAST(count(*) AS BIGINT) FROM hs GROUP BY b3
        |  UNION ALL
        |  SELECT 3, b4, CAST(count(*) AS BIGINT) FROM hs GROUP BY b4),
        |cand AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS true_n,
        |    min(b1) AS b1, min(b2) AS b2, min(b3) AS b3, min(b4) AS b4
        |  FROM hs GROUP BY tok)
        |SELECT c.tok, c.true_n,
        |  least(s1.cnt, s2.cnt, s3.cnt, s4.cnt) AS est_n,
        |  least(s1.cnt, s2.cnt, s3.cnt, s4.cnt) - c.true_n AS over_n
        |FROM cand c
        |JOIN cells s1 ON s1.i = 0 AND s1.b = c.b1
        |JOIN cells s2 ON s2.i = 1 AND s2.b = c.b2
        |JOIN cells s3 ON s3.i = 2 AND s3.b = c.b3
        |JOIN cells s4 ON s4.i = 3 AND s4.b = c.b4
        |ORDER BY est_n DESC, tok LIMIT 20""".stripMargin,

    "q_survival" ->
      """WITH RECURSIVE he AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
        |    event_type = 'purchase'
        |      AND CAST(floor(value * 1000 + 0.5) AS BIGINT) > 100000 AS tgt
        |  FROM events),
        |u AS (
        |  SELECT user_id, MIN(h) AS fh, MAX(h) AS lh,
        |    MIN(CASE WHEN tgt THEN h END) AS tp
        |  FROM he GROUP BY 1),
        |u2 AS (
        |  SELECT CASE WHEN tp IS NOT NULL THEN tp - fh ELSE lh - fh END AS life,
        |    tp IS NOT NULL AS death
        |  FROM u),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM u2),
        |grid AS (
        |  SELECT life, CAST(SUM(CASE WHEN death THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM u2 GROUP BY 1),
        |g2 AS (
        |  SELECT life, d,
        |    CAST(COALESCE(SUM(m) OVER (ORDER BY life
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS removed
        |  FROM grid),
        |steps AS (
        |  SELECT row_number() OVER (ORDER BY life) AS i, life, d, nu - removed AS r
        |  FROM g2, n WHERE d > 0),
        |rec AS (
        |  SELECT i, life, d, r, (1000000 * (r - d)) // r AS s FROM steps WHERE i = 1
        |  UNION ALL
        |  SELECT s2.i, s2.life, s2.d, s2.r, (rec.s * (s2.r - s2.d)) // s2.r
        |  FROM rec JOIN steps s2 ON s2.i = rec.i + 1)
        |SELECT life AS t_h, r AS at_risk, d AS deaths, s AS s_micro
        |FROM rec ORDER BY t_h""".stripMargin,

    "q_lag_features" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm
        |  FROM events),
        |f AS (
        |  SELECT event_id, user_id, vm,
        |    lag(vm, 1) OVER w AS lag1,
        |    lag(vm, 2) OVER w AS lag2,
        |    vm - lag(vm, 1) OVER w AS delta,
        |    CAST(SUM(vm) OVER r AS BIGINT) AS rsum,
        |    CAST(SUM(vm * vm) OVER r AS BIGINT) AS rsum2,
        |    CAST(count(*) OVER r AS BIGINT) AS rcnt
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |         r AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, vm, lag1, lag2, delta,
        |  rsum // rcnt AS rmean_milli,
        |  (rcnt * rsum2 - rsum * rsum) // (rcnt * rcnt) AS rvar_m2
        |FROM f ORDER BY event_id""".stripMargin,

    "q_target_encode" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm
        |  FROM events),
        |cat AS (
        |  SELECT event_type, CAST(SUM(vm) AS BIGINT) AS s_cat,
        |    CAST(count(*) AS BIGINT) AS n_cat
        |  FROM ev GROUP BY 1),
        |g AS (SELECT CAST(SUM(vm) AS BIGINT) // CAST(count(*) AS BIGINT) AS gmean FROM ev)
        |SELECT event_id, event_type, vm,
        |  (s_cat - vm + 20 * gmean) // (n_cat - 1 + 20) AS enc_milli
        |FROM ev JOIN cat USING (event_type), g
        |ORDER BY event_id""".stripMargin,

    // Replays the histogram split search level by level: cumulative
    // windows over the bucket histogram (default RANGE frame — b is a
    // group key, so per-partition values are distinct and the frame
    // equals ROWS), packed-min argmin, root split routed by a cross
    // join, children by the same CTEs with the branch key added.
    "q_cart_tree" -> {
      def level(melt: String, out: String): String =
        s"""${out}h AS (
           |  SELECT branch, fid, b, CAST(SUM(y) AS BIGINT) AS p,
           |    CAST(COUNT(*) AS BIGINT) AS t
           |  FROM $melt GROUP BY branch, fid, b),
           |${out}c AS (
           |  SELECT branch, fid, b,
           |    CAST(SUM(p) OVER (PARTITION BY branch, fid ORDER BY b) AS BIGINT) AS lp,
           |    CAST(SUM(t) OVER (PARTITION BY branch, fid ORDER BY b) AS BIGINT) AS lt,
           |    CAST(SUM(p) OVER (PARTITION BY branch, fid) AS BIGINT) AS tp,
           |    CAST(SUM(t) OVER (PARTITION BY branch, fid) AS BIGINT) AS tt
           |  FROM ${out}h),
           |${out}s AS (
           |  SELECT branch,
           |    MIN(((lt * (1000000 - (lp*lp + (lt-lp)*(lt-lp)) * 1000000 // (lt*lt))
           |        + (tt-lt) * (1000000 - ((tp-lp)*(tp-lp) + ((tt-lt)-(tp-lp))*((tt-lt)-(tp-lp))) * 1000000 // ((tt-lt)*(tt-lt)))
           |        ) // tt) * ${1L << 40} + fid * ${1L << 32} + b) AS pk,
           |    MAX(tt) AS n_node, MAX(tp) AS pos_node
           |  FROM ${out}c WHERE tt > lt GROUP BY branch),
           |$out AS (
           |  SELECT branch AS node,
           |    CAST((pk // ${1L << 32}) % 256 AS BIGINT) AS fid,
           |    CAST(pk % ${1L << 32} AS BIGINT) AS thr_bucket,
           |    CAST(pk // ${1L << 40} AS BIGINT) AS imp_micro,
           |    n_node, pos_node
           |  FROM ${out}s)""".stripMargin
      s"""WITH docs AS MATERIALIZED (
         |  SELECT n_chars // 8 AS f1,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) // 8 AS f2,
         |    CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT) ELSE 0 END AS y
         |  FROM documents),
         |m0 AS (
         |  SELECT 'root' AS branch, CAST(1 AS BIGINT) AS fid, f1 AS b, y FROM docs
         |  UNION ALL
         |  SELECT 'root', 2, f2, y FROM docs),
         |${level("m0", "root")},
         |br AS (
         |  SELECT CASE WHEN (CASE WHEN r.fid = 1 THEN docs.f1 ELSE docs.f2 END)
         |                   <= r.thr_bucket
         |         THEN 'L' ELSE 'R' END AS branch, f1, f2, y
         |  FROM docs, root r),
         |m1 AS (
         |  SELECT branch, CAST(1 AS BIGINT) AS fid, f1 AS b, y FROM br
         |  UNION ALL
         |  SELECT branch, 2, f2, y FROM br),
         |${level("m1", "kids")}
         |SELECT node, fid, thr_bucket, imp_micro, n_node, pos_node FROM root
         |UNION ALL
         |SELECT node, fid, thr_bucket, imp_micro, n_node, pos_node FROM kids
         |ORDER BY node""".stripMargin
    },

    "q_als_rank1" ->
      s"""WITH rat AS MATERIALIZED (
         |  SELECT o_custkey AS c, l_suppkey AS sp, CAST(COUNT(*) AS BIGINT) AS r
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |u1 AS (
         |  SELECT c, CAST(SUM(r) AS BIGINT) * 1000 * 1000000
         |    // (100000 + CAST(COUNT(*) AS BIGINT) * 1000000) AS u3
         |  FROM rat GROUP BY c),
         |v1 AS (
         |  SELECT sp, CAST(SUM(r * u3) AS BIGINT) * 1000000
         |    // (100000 + CAST(SUM(u3 * u3) AS BIGINT)) AS v_milli
         |  FROM rat JOIN u1 USING (c) GROUP BY sp),
         |err AS (
         |  SELECT abs(r * 1000 - (u3 * v_milli) // 1000) AS e
         |  FROM rat JOIN u1 USING (c) JOIN v1 USING (sp)),
         |mae AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(e) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mae_milli
         |  FROM err),
         |top AS (SELECT sp, v_milli FROM v1 ORDER BY v_milli DESC, sp LIMIT 20)
         |SELECT sp, v_milli, n_pairs, mae_milli FROM top, mae
         |ORDER BY v_milli DESC, sp""".stripMargin,

    "q_kcenter" -> {
      def dist(v: String, c: String) =
        s"CAST(list_sum(list_transform(range(1, ${Dim + 1}), " +
          s"j -> ($v.qv[j] - $c.cqv[j]) * ($v.qv[j] - $c.cqv[j]))) AS BIGINT)"
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c1 AS (SELECT vec_id AS cid, qv AS cqv FROM q ORDER BY vec_id LIMIT 1),
         |s1 AS (SELECT q.vec_id, q.qv, ${dist("q", "c")} AS dmin FROM q, c1 c),
         |c2 AS (SELECT vec_id AS cid, qv AS cqv, dmin AS dsel FROM s1
         |       ORDER BY dmin DESC, vec_id LIMIT 1),
         |s2 AS (SELECT s.vec_id, s.qv, least(s.dmin, ${dist("s", "c")}) AS dmin
         |       FROM s1 s, c2 c),
         |c3 AS (SELECT vec_id AS cid, qv AS cqv, dmin AS dsel FROM s2
         |       ORDER BY dmin DESC, vec_id LIMIT 1),
         |s3 AS (SELECT s.vec_id, s.qv, least(s.dmin, ${dist("s", "c")}) AS dmin
         |       FROM s2 s, c3 c),
         |c4 AS (SELECT vec_id AS cid, qv AS cqv, dmin AS dsel FROM s3
         |       ORDER BY dmin DESC, vec_id LIMIT 1),
         |s4 AS (SELECT s.vec_id, s.qv, least(s.dmin, ${dist("s", "c")}) AS dmin
         |       FROM s3 s, c4 c),
         |c5 AS (SELECT vec_id, dmin AS dsel FROM s4 ORDER BY dmin DESC, vec_id LIMIT 1)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, cid AS vec_id, CAST(0 AS BIGINT) AS d2_sel FROM c1
         |  UNION ALL SELECT 2, cid, dsel FROM c2
         |  UNION ALL SELECT 3, cid, dsel FROM c3
         |  UNION ALL SELECT 4, cid, dsel FROM c4
         |  UNION ALL SELECT 5, vec_id, dsel FROM c5)
         |ORDER BY round""".stripMargin
    },

    "q_gmm_step" ->
      s"""WITH census AS (
         |  SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1),
         |resp AS (
         |  SELECT vm, c,
         |    exp(-((CAST(vm AS DOUBLE) - 5000.0) / 50000.0)
         |        * ((CAST(vm AS DOUBLE) - 5000.0) / 50000.0) / 2) AS e1,
         |    exp(-((CAST(vm AS DOUBLE) - 150000.0) / 50000.0)
         |        * ((CAST(vm AS DOUBLE) - 150000.0) / 50000.0) / 2) AS e2
         |  FROM census),
         |rq AS (
         |  SELECT vm, c,
         |    CASE WHEN 0.5 * e1 + 0.5 * e2 = 0 THEN CAST(500000 AS BIGINT)
         |         ELSE CAST(floor(1000000.0 * (0.5 * e1) / (0.5 * e1 + 0.5 * e2) + 0.5) AS BIGINT)
         |    END AS r1q
         |  FROM resp),
         |m AS (
         |  SELECT CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(SUM(c * r1q) AS BIGINT) AS m1,
         |    CAST(SUM(c * (1000000 - r1q)) AS BIGINT) AS m2,
         |    CAST(SUM(c * r1q * vm) AS BIGINT) AS s1,
         |    CAST(SUM(c * (1000000 - r1q) * vm) AS BIGINT) AS s2
         |  FROM rq)
         |SELECT n, m1 // n AS pi1_micro, m2 // n AS pi2_micro,
         |  ${sdivSql("s1", "m1")} AS mu1_milli,
         |  ${sdivSql("s2", "m2")} AS mu2_milli
         |FROM m""".stripMargin,

    "q_svm_step" ->
      """WITH users AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x2,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
        |         THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
        |  FROM events GROUP BY user_id),
        |st1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(y * x1) AS BIGINT) AS a1,
        |    CAST(SUM(y * x2) AS BIGINT) AS a2
        |  FROM users),
        |mg AS (
        |  SELECT u.y, u.x1, u.x2, s.n, s.a1, s.a2,
        |    y * (a1 * x1 + a2 * x2) AS m
        |  FROM users u, st1 s),
        |st2 AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(a1) AS BIGINT) AS a1,
        |    CAST(max(a2) AS BIGINT) AS a2,
        |    CAST(SUM(CASE WHEN m < n THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
        |    CAST(SUM(CASE WHEN m < n THEN y * x1 ELSE 0 END) AS BIGINT) AS g1,
        |    CAST(SUM(CASE WHEN m < n THEN y * x2 ELSE 0 END) AS BIGINT) AS g2,
        |    CAST(SUM(CASE WHEN n - m > 0 THEN n - m ELSE 0 END) AS BIGINT) AS loss1_num
        |  FROM mg)
        |SELECT n, a1, a2, n_viol, a1 + g1 AS b1, a2 + g2 AS b2,
        |  (1000 * loss1_num) // (n * n) AS loss1_milli
        |FROM st2""".stripMargin,

    "q_adaboost_step" ->
      """WITH users AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
        |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pos
        |  FROM events GROUP BY user_id),
        |cells AS (
        |  SELECT x, CAST(count(*) AS BIGINT) AS t, CAST(SUM(pos) AS BIGINT) AS tp
        |  FROM users GROUP BY x),
        |tot AS (SELECT CAST(SUM(t) AS BIGINT) AS nn, CAST(SUM(tp) AS BIGINT) AS np FROM cells),
        |sweep AS (
        |  SELECT x,
        |    CAST(SUM(tp) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_p,
        |    CAST(SUM(t - tp) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
        |  FROM cells),
        |errs AS (
        |  SELECT x, cum_p + (nn - np) - cum_n AS err_gt,
        |    nn - (cum_p + (nn - np) - cum_n) AS err_le, nn
        |  FROM sweep, tot),
        |cand AS (
        |  SELECT x AS theta, 'gt' AS pol, err_gt AS err, nn FROM errs
        |  UNION ALL
        |  SELECT x AS theta, 'le' AS pol, err_le AS err, nn FROM errs),
        |best AS (SELECT * FROM cand ORDER BY err, theta, pol LIMIT 1)
        |SELECT theta, pol, err, nn AS n,
        |  round(CASE WHEN err > 0 AND err < nn
        |    THEN ln((CAST(nn AS DOUBLE) - err) / err) / 2 END, 6) AS alpha,
        |  round(2 * sqrt(CAST(err AS DOUBLE) * (nn - err)) / nn, 6) AS z_factor
        |FROM best""".stripMargin,

    "q_mcnemar" ->
      """WITH users AS MATERIALIZED (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x2,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
        |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pos
        |  FROM events GROUP BY user_id),
        |cells AS (
        |  SELECT x1, CAST(count(*) AS BIGINT) AS t, CAST(SUM(pos) AS BIGINT) AS tp
        |  FROM users GROUP BY x1),
        |tot AS (SELECT CAST(SUM(t) AS BIGINT) AS nn, CAST(SUM(tp) AS BIGINT) AS np FROM cells),
        |sweep AS (
        |  SELECT x1,
        |    CAST(SUM(tp) OVER (ORDER BY x1
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_p,
        |    CAST(SUM(t - tp) OVER (ORDER BY x1
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
        |  FROM cells),
        |errs AS (
        |  SELECT x1, cum_p + (nn - np) - cum_n AS err_gt,
        |    nn - (cum_p + (nn - np) - cum_n) AS err_le
        |  FROM sweep, tot),
        |stump AS (
        |  SELECT theta, pol FROM (
        |    SELECT x1 AS theta, 'gt' AS pol, err_gt AS err FROM errs
        |    UNION ALL
        |    SELECT x1 AS theta, 'le' AS pol, err_le AS err FROM errs)
        |  ORDER BY err, theta, pol LIMIT 1),
        |st1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM((2 * pos - 1) * x1) AS BIGINT) AS a1,
        |    CAST(SUM((2 * pos - 1) * x2) AS BIGINT) AS a2
        |  FROM users),
        |svm AS (
        |  SELECT CAST(max(a1) AS BIGINT)
        |      + CAST(SUM(CASE WHEN (2 * pos - 1) * (a1 * x1 + a2 * x2) < n
        |                      THEN (2 * pos - 1) * x1 ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(max(a2) AS BIGINT)
        |      + CAST(SUM(CASE WHEN (2 * pos - 1) * (a1 * x1 + a2 * x2) < n
        |                      THEN (2 * pos - 1) * x2 ELSE 0 END) AS BIGINT) AS b2
        |  FROM users, st1),
        |preds AS (
        |  SELECT pos,
        |    CASE WHEN (pol = 'gt' AND x1 > theta) OR (pol = 'le' AND x1 <= theta)
        |         THEN 1 ELSE 0 END AS p_stump,
        |    CASE WHEN b1 * x1 + b2 * x2 > 0 THEN 1 ELSE 0 END AS p_svm
        |  FROM users, stump, svm),
        |conf AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN p_stump = pos AND p_svm <> pos THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN p_stump <> pos AND p_svm = pos THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN p_stump = pos AND p_svm = pos THEN 1 ELSE 0 END) AS BIGINT) AS both_right
        |  FROM preds)
        |SELECT n, b, c, both_right,
        |  round(CASE WHEN b + c > 0
        |    THEN (abs(b - c) - 1) * (abs(b - c) - 1) / (CAST(b AS DOUBLE) + c) END, 6) AS chi2,
        |  CASE WHEN b + c > 0
        |    THEN (abs(b - c) - 1) * (abs(b - c) - 1) / (CAST(b AS DOUBLE) + c) > 3.8415
        |    ELSE false END AS reject_05
        |FROM conf""".stripMargin,

    "q_shapley_2feat" -> {
      val phiC = sdivSql("(va - v0) + (vab - vb)", "2")
      val phiV = sdivSql("(vb - v0) + (vab - va)", "2")
      def med(cn: String): String =
        s"""med_$cn AS (
           |  SELECT CAST(MIN($cn) AS BIGINT) AS med_$cn FROM (
           |    SELECT $cn,
           |      COALESCE(CAST(SUM(c) OVER (ORDER BY $cn
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS bel,
           |      c, CAST(SUM(c) OVER () AS BIGINT) AS nt
           |    FROM (SELECT $cn, CAST(count(*) AS BIGINT) AS c FROM raw GROUP BY $cn))
           |  WHERE bel + c >= (nt + 1) // 2)""".stripMargin
      s"""WITH raw AS MATERIALIZED (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cx,
         |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS vx,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
         |                  ELSE 0 END) AS BIGINT) AS sp
         |  FROM events GROUP BY user_id),
         |${med("cx")},
         |${med("vx")},
         |${med("sp")},
         |users AS (
         |  SELECT CASE WHEN cx > med_cx THEN 1 ELSE 0 END AS a,
         |    CASE WHEN vx > med_vx THEN 1 ELSE 0 END AS b,
         |    CASE WHEN sp > med_sp THEN 1 ELSE 0 END AS y
         |  FROM raw, med_cx, med_vx, med_sp),
         |cells AS MATERIALIZED (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
         |  FROM users GROUP BY a, b),
         |ma AS (SELECT a, (CAST(SUM(s) AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT) AS va
         |       FROM cells GROUP BY a),
         |mb AS (SELECT b, (CAST(SUM(s) AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT) AS vb
         |       FROM cells GROUP BY b),
         |g AS (SELECT (CAST(SUM(s) AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT) AS v0
         |      FROM cells),
         |page AS (
         |  SELECT cells.a, cells.b, cells.n, (s * 1000000) // n AS vab, va, vb, v0
         |  FROM cells JOIN ma ON cells.a = ma.a JOIN mb ON cells.b = mb.b, g)
         |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, n, vab AS rate_micro,
         |  $phiC AS phi_click_micro,
         |  $phiV AS phi_view_micro,
         |  $phiC + $phiV - (vab - v0) AS additivity_gap_micro
         |FROM page ORDER BY a, b""".stripMargin
    }
  )
}
