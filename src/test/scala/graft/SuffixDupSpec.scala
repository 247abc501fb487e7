package graft

import org.apache.spark.sql.functions._

/** Round-12 family pins: the character-grain suffix-ordering dedup
  * (prefix_len kernel, suffix-order exactness below the context cap),
  * the greedy max-coverage selection invariants, and the watermark
  * detector's exact-integer z² arithmetic.
  */
class SuffixDupSpec extends SparkSpec {

  test("prefix_len: parity with the composable O(L²) form, incl. multi-byte") {
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val cases = Seq(
      ("abcdef", "abcxyz"),       // plain ASCII divergence
      ("same", "same"),           // equal strings: lcp = full length
      ("", "anything"),           // empty left
      ("a", ""),                  // empty right
      ("résumé", "résumé!"),      // multi-byte, one a prefix of the other
      ("café", "cafè"), // é (C3 A9) vs è (C3 A8): shared lead
                                  // byte C3 must NOT count a character
      ("x😀y", "x😀z"), // astral (4-byte) code point
      ("abc", "abd")
    )
    val df = cases.toDF("a", "b")
    val got = df.selectExpr("prefix_len(a, b) AS l").as[Long].collect().toSeq
    // reference: count leading equal CODE POINTS (what DuckDB's
    // character substr compares)
    val want = cases.map { case (a, b) =>
      val ac = a.codePoints.toArray; val bc = b.codePoints.toArray
      ac.zip(bc).takeWhile { case (x, y) => x == y }.length.toLong
    }
    assert(got == want, s"got $got want $want")
    // the composable SQL form the oracle replays, on the same rows
    val sqlForm = df.selectExpr(
      """aggregate(sequence(1, 64), 0L, (acc, i) ->
        |  CASE WHEN i <= least(length(a), length(b))
        |        AND substring(a, 1, i) = substring(b, 1, i)
        |   THEN CAST(i AS BIGINT) ELSE acc END) AS l""".stripMargin)
      .as[Long].collect().toSeq
    assert(got == sqlForm, s"expression $got vs composable $sqlForm")
  }

  test("suffix order: every repeated run ≥ threshold is found, exactly once per position") {
    import spark.implicits._
    // Hand-built corpus: doc 2 quotes doc 1's first 40 chars; doc 3 is
    // unrelated. Coverage must be exactly the quoted span on both
    // sides, nothing on doc 3.
    val quoted = "the quick brown fox jumps over the lazy dog near the river bank today"
    val d2 = quoted.take(40) + " completely different tail content here xyz"
    val d3 = "unrelated filler words with no long shared character runs at all ok"
    val docs = Seq((1L, quoted), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    docs.createOrReplaceTempView("suffix_spec_docs")
    // replicate the pipeline at threshold 32 / cap 64 on the tiny frame
    graft.functions.VectorFunctions.register(spark)
    val suf = docs
      .withColumn("p", explode(expr("sequence(1, length(text))")))
      .select(col("doc_id"), col("p").cast("bigint").as("p"),
        expr("substring(text, p, 64)").as("sk"))
    val rk = operators.Ranks.globalOrderScan(suf, substring(col("sk"), 1, 3),
      Seq(col("sk"), col("doc_id"), col("p")), "r")
    val b = rk.select((col("r") - 1).as("r"), col("doc_id").as("b_doc"),
      col("p").as("b_pos"), col("sk").as("bsk"))
    val pr = rk.select(col("r"), col("doc_id").as("a_doc"),
        col("p").as("a_pos"), col("sk").as("ask"))
      .join(b, "r")
      .select(col("a_doc"), col("a_pos"), col("b_doc"), col("b_pos"),
        expr("prefix_len(ask, bsk)").as("lcp"))
    val hits = pr.filter(col("lcp") >= 32)
      .select(explode(array(
        struct(col("a_doc").as("doc_id"), col("a_pos").as("p")),
        struct(col("b_doc").as("doc_id"), col("b_pos").as("p")))).as("e"))
      .select(col("e.doc_id"), col("e.p")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth: position (d, p) is a dup-start iff some
    // OTHER position shares a ≥32-char prefix with it
    val all = Seq((1L, quoted), (2L, d2), (3L, d3)).flatMap { case (id, t) =>
      (1 to t.length).map(p => (id, p.toLong, t.substring(p - 1).take(64)))
    }
    val truth = (for {
      (d1x, p1, s1) <- all
      (d2x, p2, s2) <- all
      if (d1x, p1) != (d2x, p2)
      if s1.zip(s2).takeWhile { case (x, y) => x == y }.length >= 32
    } yield (d1x, p1)).toSet
    assert(hits == truth,
      s"missed=${(truth -- hits).take(5)} extra=${(hits -- truth).take(5)}")
    assert(truth.nonEmpty && truth.forall(_._1 != 3L))
  }

  test("lifted LCP cap: repeats longer than the 64-char sort key report their TRUE length") {
    // the round-12 formulation capped adjacent LCPs at the 64-char
    // key — a 200-char verbatim copy scored lcp = 64 and
    // q_longest_repeat's top-10 saturated. The true-order +
    // chunk-probe pipeline must report the full length; verified
    // against a brute-force prefix compare of the actual fixture texts.
    val top = graft.SparkEntry.queries("q_longest_repeat")(spark, sf)
      .orderBy(col("rk")).collect()
    val head = top.head
    val lcp0 = head.getAs[Long]("lcp")
    assert(lcp0 > 64L, s"top repeat still capped at the sort key: lcp=$lcp0")
    // rebuild the quote-twin corpus driver-side and compare prefixes
    val base = graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val textOf = base ++ base.filter(_._1 % 4 == 0).map { case (id, t) =>
      (id + 1000000L) -> t.split(" ").take(32).mkString(" ") }
    val sa = textOf(head.getAs[Long]("a_doc")).substring(head.getAs[Long]("a_pos").toInt - 1)
    val sb = textOf(head.getAs[Long]("b_doc")).substring(head.getAs[Long]("b_pos").toInt - 1)
    val brute = sa.zip(sb).takeWhile { case (x, y) => x == y }.length.toLong
    assert(lcp0 == brute, s"reported lcp $lcp0 != brute-force common prefix $brute")
  }

  test("prefix doubling: exact parity with the naive unbounded-suffix rank") {
    import org.apache.spark.sql.expressions.Window
    // the single-reducer form (fine in a test) on the same 1/16 sample
    val naive = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 16 === 1)
      .withColumn("p", explode(expr("sequence(1, length(text))")))
      .select(col("doc_id"), col("p").cast("bigint").as("p"),
        expr("substring(text, p)").as("sfx"))
      .withColumn("rk", rank().over(Window.orderBy(col("sfx"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_suffixes"),
        sum(expr("(rk * p) % 1000003")).as("rank_checksum"),
        min(col("rk")).as("min_rank"))
      .orderBy(col("doc_id")).collect().toSeq
    val got = graft.SparkEntry.queries("q_suffix_rank")(spark, sf)
      .collect().toSeq
    assert(got == naive)
    assert(got.nonEmpty)
  }

  test("plan audit: the suffix scan's data-grain window partitions by bucket") {
    // The checkpointed suffixPairs producers are swept by Round12
    // through PlanStash; this is the targeted audit of the
    // Ranks.globalOrderScan that fullSuffixRanks runs for its base
    // ranks: build it un-checkpointed and assert every Window over
    // base-grain rows is bucket-partitioned; the only partitionless
    // window sits above the bucket-census Aggregate.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
    val suf = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .withColumn("p", explode(expr("sequence(1, length(text))")))
      .select(col("doc_id"), col("p").cast("bigint").as("p"),
        expr("substring(text, p, 64)").as("sk"))
    val scan = operators.Ranks.globalOrderScan(suf, substring(col("sk"), 1, 3),
      Seq(col("sk"), col("doc_id"), col("p")), "r")
    def hasAgg(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case _ => p.children.exists(hasAgg)
    }
    val windows = scan.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      if (w.partitionSpec.isEmpty)
        assert(hasAgg(w.child),
          "partitionless window in the suffix scan must rank the bucket census, not positions")
      else
        assert(w.partitionSpec.exists(_.references.nonEmpty))
    }
  }

  test("q_select_coverage: greedy invariants — distinct winners, non-increasing gains, exact cumsum") {
    val rows = graft.SparkEntry.queries("q_select_coverage")(spark, sf)
      .orderBy(col("sel_round")).collect()
    assert(rows.length == 8)
    val gains = rows.map(_.getAs[Long]("gain"))
    val docs = rows.map(_.getAs[Long]("doc_id"))
    assert(docs.distinct.length == 8, "a winner was re-picked")
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b },
      s"greedy gains must be non-increasing: ${gains.mkString(",")}")
    assert(rows.map(_.getAs[Long]("covered_cum")).toSeq == gains.scanLeft(0L)(_ + _).tail.toSeq)
  }

  test("q_watermark_detect: exact-integer z² and the flag threshold") {
    val rows = graft.SparkEntry.queries("q_watermark_detect")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_pairs"); val g = r.getAs[Long]("n_green")
      assert(r.getAs[Long]("z2_milli") == (2 * g - n) * (2 * g - n) * 1000 / n)
      val want = if (2 * g > n && (2 * g - n) * (2 * g - n) > 9 * n) 1L else 0L
      assert(r.getAs[Long]("flagged") == want)
    }
    // natural word-soup text: the green fraction concentrates near ½,
    // so the 3σ flag fires on at most a small tail
    val flagged = rows.count(_.getAs[Long]("flagged") == 1L)
    assert(flagged.toDouble / rows.length < 0.05,
      s"$flagged/${rows.length} docs flagged — null calibration is off")
  }
}
