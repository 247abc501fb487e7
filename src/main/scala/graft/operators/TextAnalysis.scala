package graft.operators

import graft.operators.PlanStash.Ckpt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis + exact-dedup operators for a training-data pipeline
  * (SURVEY §2.6 M4): tokenization, quality scoring, language-ID
  * heuristic, document fingerprinting, exact dedup — all over the
  * `documents` table, all as codegen'd built-ins (no UDFs).
  *
  * Scale posture: everything here is embarrassingly parallel per-row
  * except the dedup group-by, which shuffles on the 32-char md5
  * fingerprint rather than the document text — at 100 TB that keeps
  * shuffle payloads tiny and skew bounded (hash keys are uniform).
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  /** Tokens of the single-space-separated corpus. Spark `split` takes a
    * regex; a lone space is literal in both engines, and both keep
    * trailing empties, so counts agree with DuckDB's string_split.
    */
  private val toks = "split(text, ' ')"

  /** Marker-word language prediction per doc (shared by q_lang_id and
    * its confusion-matrix eval): argmax of stopword-marker hits with a
    * fixed precedence order, 'und' when no marker fires. */
  private def langPred(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).selectExpr(
      "doc_id", "lang",
      s"size(filter($toks, t -> t IN ('the','and','of'))) AS m_en",
      s"size(filter($toks, t -> t IN ('der','und','das'))) AS m_de",
      s"size(filter($toks, t -> t IN ('le','la','et'))) AS m_fr",
      s"size(filter($toks, t -> t IN ('el','los','y'))) AS m_es")
      .selectExpr("doc_id", "lang",
        """CASE WHEN m_en = 0 AND m_de = 0 AND m_fr = 0 AND m_es = 0 THEN 'und'
                WHEN m_en >= m_de AND m_en >= m_fr AND m_en >= m_es THEN 'en'
                WHEN m_de >= m_fr AND m_de >= m_es THEN 'de'
                WHEN m_fr >= m_es THEN 'fr'
                ELSE 'es' END AS pred_lang""")

  /** Quantized natural-log table L[k] = floor(ln(k)·10⁶ + 0.5) for
    * k = 1..128 — computed once here and embedded as the SAME literal
    * array in the Spark plan and the DuckDB oracle (q_entropy), so
    * neither engine's libm is ever consulted. */
  private val LnMicro: IndexedSeq[Long] =
    (1 to 128).map(k => math.floor(math.log(k.toDouble) * 1e6 + 0.5).toLong)

  private val stop = "('the','a','of','and','to','in','is')"

  /** q_collocation's four G² terms — ONE builder emits the arithmetic
    * for BOTH engines (columns n_ab/n_a/n_b/nn must be in scope), so
    * the double-precision operation trees are token-identical and the
    * engines can only diverge by a libm ulp inside ln (guarded by
    * TextAnalysisSpec's floor-boundary check). Each term is
    * O·ln(O·N/(row·col)) with the O = 0 cells contributing zero. */
  private val llrTermsSql: String = {
    def t(o: String, r: String, c: String) =
      s"(CASE WHEN $o > 0 THEN ($o) * ln((CAST($o AS DOUBLE) * nn) / (CAST($r AS DOUBLE) * ($c))) ELSE 0.0 END)"
    Seq(
      t("n_ab", "n_a", "n_b"),
      t("n_a - n_ab", "n_a", "nn - n_b"),
      t("n_b - n_ab", "nn - n_a", "n_b"),
      t("nn - n_a - n_b + n_ab", "nn - n_a", "nn - n_b")
    ).mkString(" + ")
  }

  /** q_unigram_lm's word-frequency table (word grain, one token
    * shuffle). */
  private def unigramWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(expr(toks)).as("w"))
      .filter(expr("length(w) between 1 and 24"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** q_unigram_lm's vocabulary fold, factored for the bound spec. The
    * piece-count table is corpus-VOCABULARY scale (every 1-4 char
    * substring of every distinct word) — at 100 TB it must never reach
    * the driver unfiltered. So: (1) ONE 1-row total aggregate, (2) the
    * 0.05%-mass cutoff pushed INTO the plan as a literal predicate,
    * (3) collect only the survivors — bounded by construction at
    * (#distinct chars + 2000) entries, because at most 2000 pieces can
    * each hold >= total/2000 of the mass. UnigramVocab bound pinned by
    * TextAnalysisSpec. Returns (sorted (piece, count) vocab, total
    * piece mass).
    */
  private[graft] def unigramVocab(s: SparkSession, d: String): (Array[(String, Long)], Long) = {
    val pieceCntDf = unigramWords(s, d)
      .select(col("freq"), explode(expr(
        "flatten(transform(sequence(1, length(w)), i -> " +
          "transform(sequence(i, least(i + 3, length(w))), j -> substring(w, i, j - i + 1))))")).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
      .ckpt() // consumed by the total aggregate AND the cutoff scan
    val total = pieceCntDf.agg(sum(col("cnt")).as("t")).collect()(0).getLong(0)
    val vocab = pieceCntDf
      .filter(expr(s"length(p) = 1 OR cnt * 2000 >= ${total}L"))
      .orderBy(col("p"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    (vocab, total)
  }

  val queries: Map[String, Q] = Map(

    // GREEN-LIST WATERMARK DETECTOR (Kirchenbauer et al. 2023, "A
    // Watermark for Large Language Models") — the corpus-curation
    // twin: flag documents whose token stream is improbably biased
    // toward the hash-keyed "green" half of the vocabulary, the
    // signature a soft-watermarked generator leaves. The green set for
    // position i is keyed by the PRECEDING token (the paper's
    // self-hash scheme): green iff the 60-bit bigram fingerprint
    // (word_window_hashes(text, 2) — one JVM pass, the hshSql idiom)
    // has even parity, γ = ½. Detection is the paper's one-proportion
    // z-test carried EXACTLY in integers: z² = (2g−n)²/n as z2_milli,
    // flagged = (g > n/2) ∧ (z² > 9) ⇔ (2g−n)² > 9n — exact BIGINT
    // compares, no sqrt ever evaluated. Natural text sits |z| < 3;
    // a γ=½ watermark at the paper's δ=2 lands z ≳ 6 for 300-token
    // docs, so the threshold separates cleanly.
    //
    // Scale posture: MAP-ONLY — per-doc hash pass + arithmetic,
    // nothing shuffles but the per-doc report row.
    "q_watermark_detect" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      Tables.documents(s, d)
        .selectExpr("doc_id", "word_window_hashes(text, 2) AS wh")
        .selectExpr("doc_id", "cast(size(wh) as bigint) AS n_pairs",
          "cast(size(filter(wh, h -> h % 2 = 0)) as bigint) AS n_green")
        // n_pairs = 0 guard (doc with < 2 tokens): Spark's DIV returns
        // NULL on /0 but DuckDB's // RAISES, failing the whole oracle
        // query — carry the identical CASE on both engines instead
        .withColumn("green_permille", expr(
          "CASE WHEN n_pairs > 0 THEN (n_green * 1000) DIV n_pairs END"))
        .withColumn("z2_milli", expr(
          """CASE WHEN n_pairs > 0 THEN
            |((2 * n_green - n_pairs) * (2 * n_green - n_pairs) * 1000) DIV n_pairs
            |END""".stripMargin))
        .withColumn("flagged", expr(
          """CAST(CASE WHEN 2 * n_green > n_pairs
            |  AND (2 * n_green - n_pairs) * (2 * n_green - n_pairs) > 9 * n_pairs
            |  THEN 1 ELSE 0 END AS BIGINT)""".stripMargin))
        .orderBy(col("doc_id"))
    }),

    // FLESCH reading-ease profile per source (Flesch 1948; Kincaid's
    // military-manual recalibration made it THE readability gate) —
    // the classic pre-LLM quality prior, still a useful corpus-audit
    // axis next to q_text_quality's heuristics: too-hard and too-easy
    // both correlate with junk. Syllables ≈ vowel-group runs
    // ([aeiouy]+, the standard cheap approximation); the fixture
    // corpus carries no sentence punctuation, so sentence count uses
    // the declared 15-token pseudo-sentence convention (documented
    // contract, the way readability tools handle unpunctuated ASR/OCR
    // text). FRE in exact integer milli: 206.835 − 1.015·(words/sent)
    // − 84.6·(syll/words), each ratio a non-negative truncating
    // division; per-source means via the sign-safe form (FRE can go
    // negative on dense text). MAP-ONLY per doc + one aggregate —
    // text never shuffles.
    "q_readability" -> ((s, d) =>
      Tables.documents(s, d)
        .selectExpr("source",
          s"CAST(size($toks) AS BIGINT) AS w",
          "CAST(size(regexp_extract_all(text, '[aeiouy]+', 0)) AS BIGINT) AS syl")
        .selectExpr("source",
          "206835 - (1015 * w) DIV ((w + 14) DIV 15) - (84600 * syl) DIV w AS fre_milli")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("fre_milli")).as("sum_fre_milli"),
          sum(expr("CASE WHEN fre_milli >= 60000 THEN 1 ELSE 0 END")).as("n_easy"),
          sum(expr("CASE WHEN fre_milli < 30000 THEN 1 ELSE 0 END")).as("n_hard"))
        .withColumn("mean_fre_micro", expr(
          """CASE WHEN sum_fre_milli >= 0 THEN (sum_fre_milli * 1000) DIV n
            | ELSE -((-sum_fre_milli * 1000) DIV n) END""".stripMargin))
        .select(col("source"), col("n"), col("mean_fre_micro"), col("n_easy"), col("n_hard"))
        .orderBy(col("source"))),

    // Term BURSTINESS ranking (Church & Gale 1995: content words are
    // bursty — high variance-to-mean ratio of per-doc counts — while
    // function words are Poisson-ish, VMR ≈ 1): the
    // distributional-keyword detector that complements frequency
    // ranks (q_zipf), co-occurrence (q_pmi/q_collocation) and graph
    // centrality (q_textrank). VMR over ALL N docs (zeros included)
    // collapses algebraically to (N·Σc² − (Σc)²)/(Σc·(N−1)) on the
    // NONZERO (term, doc) counts only — so the computation is one
    // explode + two aggregates at sparse posting grain, the zeros
    // never materialize (the sparse-moments trick that makes this
    // map-shuffle-cheap at 100 TB), and every quantity is an exact
    // non-negative integer (Cauchy-Schwarz keeps the numerator ≥ 0).
    // Support floor Σc ≥ 50, top-30 by VMR with term tiebreak — a
    // TakeOrdered, never a full sort.
    "q_burstiness" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(expr(toks)).as("t"))
        .groupBy(col("t"), col("doc_id")).agg(count(lit(1)).as("c"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      tf.groupBy(col("t"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("s"), sum(expr("c * c")).as("ss"))
        .filter(col("s") >= 50)
        .crossJoin(broadcast(n))
        .withColumn("vmr_micro", expr("((n_docs * ss - s * s) * 1000000) DIV (s * (n_docs - 1))"))
        .select(col("t"), col("df"), col("s"), col("vmr_micro"))
        .orderBy(col("vmr_micro").desc, col("t"))
        .limit(30)
    }),

    // Per-document token statistics.
    "q_text_stats" -> ((s, d) =>
      Tables.documents(s, d).selectExpr(
        "doc_id",
        s"size($toks) AS n_tokens",
        "length(text) AS n_chars_real",
        s"cast(size(array_distinct($toks)) as bigint) AS n_distinct",
        s"round(aggregate(transform($toks, t -> length(t)), 0, (a, x) -> a + x) / size($toks), 4) AS avg_token_len")
        .selectExpr("doc_id", "cast(n_tokens as bigint) AS n_tokens",
          "cast(n_chars_real as bigint) AS n_chars_real", "n_distinct", "avg_token_len")
        .orderBy(col("doc_id"))),

    // BPE merge-candidate counting — the inner loop of byte-pair-
    // encoding tokenizer TRAINING (Sennrich et al. 2016): count every
    // adjacent symbol pair inside each word occurrence; the most
    // frequent pair is the next merge. One round at the character
    // level (the seed alphabet), top-20 candidates. Pair extraction is
    // MAP-ONLY inside the token array (explode ships (pair) rows into
    // a partial+final count — the corpus text never shuffles), which
    // is exactly how a 100 TB BPE trainer iterates: each merge round
    // is one such aggregate with the current merge table applied
    // map-side. Length-1 tokens are filtered BEFORE the generator
    // (sequence(1, 0) would generate a DESCENDING range in Spark, not
    // an empty one — the i..j direction trap).
    "q_bpe_pairs" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(expr(toks)).as("t"))
        .filter(length(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)),

    // FULL BPE merge-training loop (Sennrich et al. 2016) — the end-to-
    // end tokenizer trainer q_bpe_pairs is one inner iteration of:
    // 5 unrolled merge rounds of (count adjacent symbol pairs, weighted
    // by word frequency) → (deterministic argmax: max count, then
    // lexicographically smallest pair) → (apply the merge map-side
    // everywhere). Output is the learned merge table (round, x, y,
    // merged, n) — the artifact a BPE tokenizer ships.
    //
    // Scale posture: the corpus text shuffles ONCE, into the word-
    // frequency table (map-side partials collapse to vocab grain); all
    // five rounds run over that VOCAB-SCALE frame — pair counts are
    // symbol-alphabet² rows, the winning merge is a broadcast 1-row
    // frame cross-joined into the map-side apply, and each round's
    // word table is persisted (consumed twice per round: pair count +
    // apply — the q_bfs double-consumption lesson). This is exactly
    // the 100 TB BPE recipe: one corpus pass, then driver-free
    // codebook-scale iteration.
    //
    // Merge candidates are restricted to x ≠ y pairs: a self-pair
    // merge (s,s) makes application depend on left-greedy run
    // splitting ("aaa" → [aa, a]) — a sequential-scan semantic whose
    // SQL encodings differ subtly between engines — while for x ≠ y
    // adjacent matches can never overlap, so the merge is a pure
    // per-position function (filter consumed positions, map matched
    // positions) that both engines evaluate identically. The variant
    // is standard practice when determinism matters and costs little:
    // self-pair merges are rare early in real training.
    "q_bpe_train" -> ((s, d) =>
      // served from the memoized training products (r16) — the loop
      // itself is priced by producer:bpe_train
      bpeMerges(s, d).orderBy(col("round"))),

    // BPE ENCODING — applying the learned merge table to segment text,
    // the inference half of the tokenizer whose training half is
    // q_bpe_train. Output is the word → piece-sequence map over the
    // corpus vocabulary after all 5 merges: the exact table a runtime
    // tokenizer would broadcast to encode a 100 TB corpus map-side
    // (encode shuffles the corpus ONCE into word grain; every merge
    // application is then vocab-scale, and re-attaching pieces to
    // documents is a broadcast join of this table — text never carries
    // through the merge rounds).
    "q_bpe_encode" -> ((s, d) => {
      val words = bpeWords(s, d)
      words.select(col("t"),
        array_join(col("syms"), " ").as("encoded"),
        size(col("syms")).cast("long").as("n_pieces"))
        .orderBy(col("t"))
    }),

    // Per-document token counts UNDER the trained BPE — the number a
    // token-budget planner actually needs (q_token_budget counts
    // whitespace words; real budgets are subword counts). The doc →
    // count step is the 100 TB shape: the vocab-grain piece map from
    // the training loop broadcasts into a map-side join against the
    // exploded corpus — the corpus shuffles once into the per-doc
    // aggregate and the merge rounds never see it.
    "q_bpe_tokens" -> ((s, d) => {
      val pieces = bpeWords(s, d)
        .select(col("t"), size(col("syms")).cast("long").as("np"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(expr(toks)).as("t"))
        .filter(col("t") =!= "")
        .join(broadcast(pieces), "t")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("np")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // BPE FERTILITY by language — q_tokenizer_fertility's closed-form
    // proxy table upgraded to the REAL trained subword counts
    // (pieces per word, chars per piece under the 5-round BPE): a
    // tokenizer trained on English text splits other scripts into more
    // pieces, inflating their effective sequence length and training
    // cost; fertility per lang is how that bias is measured. Rides the
    // SAME 5-round trained BPE as q_bpe_encode/q_bpe_tokens (one
    // training loop, vocab-grain piece map broadcast into the exploded
    // corpus); fertility and chars/piece in exact micro via DIV.
    //
    // Scale posture: the corpus shuffles once into the (lang) grain;
    // merge training never sees the corpus (word-frequency table
    // only); the piece map is vocab-grain broadcast.
    "q_bpe_fertility" -> ((s, d) => {
      val pieces = bpeWords(s, d).select(col("t"),
        size(col("syms")).cast("long").as("np"),
        length(col("t")).cast("long").as("nc"))
      Tables.documents(s, d)
        .select(col("lang"), explode(expr(toks)).as("t"))
        .filter(col("t") =!= "")
        .join(broadcast(pieces), "t")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
          sum(col("nc")).as("n_chars"))
        .withColumn("fertility_micro", expr("(n_pieces * 1000000) DIV n_words"))
        .withColumn("chars_per_piece_micro", expr("(n_chars * 1000000) DIV n_pieces"))
        .orderBy(col("lang"))
    }),

    // TRUNCATION-LOSS sweep — what a context-length decision costs in
    // data: for candidate lengths L ∈ {64, 128, 256} whitespace
    // tokens, the share of corpus tokens LOST to truncating every
    // document at L, and how many documents get cut at all. The table
    // a pretraining config review reads next to q_length_bucket's
    // histogram and q_pack_sequences' bin stats before fixing seq_len.
    // Exact integers end to end (min, sums, micro DIV).
    //
    // Scale posture: one doc-grain token count (map-only), a 3-way
    // candidate explode (map-side), one bounded 3-row aggregate — the
    // corpus is scanned once and nothing else moves.
    "q_truncation_loss" -> ((s, d) => {
      Tables.documents(s, d)
        .select(size(split(col("text"), " ")).cast("bigint").as("nt"))
        .select(col("nt"), explode(expr("array(64L, 128L, 256L)")).as("max_len"))
        .groupBy(col("max_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("CASE WHEN nt > max_len THEN 1 ELSE 0 END")).as("n_truncated"),
          sum(col("nt")).as("tokens_total"),
          sum(least(col("nt"), col("max_len"))).as("tokens_kept"))
        .withColumn("loss_micro",
          expr("((tokens_total - tokens_kept) * 1000000) DIV tokens_total"))
        .orderBy(col("max_len"))
    }),

    // Vocabulary coverage curve — the tokenizer-sizing diagnostic:
    // what fraction of corpus token OCCURRENCES do the top-k vocab
    // entries cover? (Drives the vocab-size / OOV-rate tradeoff when
    // fitting a tokenizer; the fixture vocab is 31 words, so the knee
    // is sampled at k ∈ {5, 10, 20}.) One (token, count) aggregate
    // with map-side partials; only ranks ≤ 20 are ever read, so the
    // sequential part is a TakeOrderedAndProject(20) PAGE — at
    // web-scale vocab (10⁸ types) a rank window over the full census
    // would still be one reducer sorting the vocabulary, while the
    // top-k heap is map-side partial + a 20-row merge. The rank +
    // running-sum window then runs over the 20-row page only, plus a
    // broadcast 1-row total. Integer-exact: coverage reports in
    // micro-units via truncating division.
    "q_vocab_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.documents(s, d)
        .select(explode(expr(toks)).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n"))
      val tot = tf.agg(sum(col("n")).as("total"))
      val page = tf.orderBy(col("n").desc, col("t")).limit(20)
      val ord = Window.orderBy(col("n").desc, col("t"))
      page.withColumn("k", row_number().over(ord))
        .withColumn("cum", sum(col("n"))
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("k").isin(5, 10, 20))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("cum").as("cum_tokens"),
          expr("(cum * 1000000) DIV total").as("coverage_micro"))
        .orderBy(col("k"))
    }),

    // Corpus rollup by language.
    "q_text_lang_agg" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          round(avg(size(split(col("text"), " "))), 4).as("avg_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))),

    // CHARACTER-CLASS CENSUS / script-mix audit — the multilingual
    // corpus-hygiene gate that catches what token-level quality rules
    // miss: OCR garbage, code dumped into prose, digit-heavy boiler-
    // plate, and mixed-script spam all show up as anomalous CHARACTER
    // composition long before any token statistic moves. The fixture
    // text is pure lowercase ASCII, so (as in q_pii_scrub) a
    // deterministic mixed-class ribbon is woven in per doc first; the
    // census then counts upper / lower / digit / space per doc with
    // the length-difference idiom (length(x) − length(strip-class(x))
    // — one regex pass per class, no explode), everything else (incl.
    // the non-ASCII 'é') landing in `other`. Ratios are truncated
    // micro shares of exact integers; the suspect flag fires on
    // digit share > 2% — short docs, where the ribbon dominates,
    // trip it; long prose does not (both outcomes pinned non-vacuous
    // by TextAnalysisSpec).
    //
    // Scale posture: map-only at scan speed — no shuffle, no join;
    // every class counter is a codegen'd regexp over the doc. At
    // 100 TB this fuses into the same scan as the other per-doc
    // gates.
    "q_script_mix" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("mixed",
          concat(col("text"), lit(" Ref "), col("doc_id"), lit(": Q"),
            (col("doc_id") % 4 + 1).cast("string"), lit(" (c) 2026 Résumé!")))
        .selectExpr("doc_id",
          "CAST(length(mixed) AS BIGINT) AS n",
          "CAST(length(mixed) - length(regexp_replace(mixed, '[A-Z]', '')) AS BIGINT) AS n_upper",
          "CAST(length(mixed) - length(regexp_replace(mixed, '[a-z]', '')) AS BIGINT) AS n_lower",
          "CAST(length(mixed) - length(regexp_replace(mixed, '[0-9]', '')) AS BIGINT) AS n_digit",
          "CAST(length(mixed) - length(regexp_replace(mixed, ' ', '')) AS BIGINT) AS n_space")
        .selectExpr("doc_id", "n", "n_upper", "n_lower", "n_digit", "n_space",
          "n - n_upper - n_lower - n_digit - n_space AS n_other",
          "(n_digit * 1000000) DIV n AS digit_micro",
          "((n - n_upper - n_lower - n_digit - n_space) * 1000000) DIV n AS other_micro")
        .withColumn("suspect", col("digit_micro") > 20000L)
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: distinct-token ratio + stopword ratio blend.
    "q_text_quality" -> ((s, d) =>
      Tables.documents(s, d).selectExpr(
        "doc_id",
        s"round(size(array_distinct($toks)) / size($toks), 4) AS distinct_ratio",
        s"round(size(filter($toks, t -> t IN $stop)) / size($toks), 4) AS stopword_ratio",
        s"""round(0.5 * (size(array_distinct($toks)) / size($toks))
               + 0.5 * (1.0 - size(filter($toks, t -> t IN $stop)) / size($toks)), 4) AS quality_score""")
        .orderBy(col("doc_id"))),

    // The FINAL quality GATE — the FineWeb / Gopher-rules ensemble
    // that turns the individual quality signals into one keep/drop
    // verdict with an auditable REASON BITMASK (production filters
    // always ship the mask: "why was this dropped" drives every
    // threshold-tuning loop). Six independent rules, each a pure
    // integer predicate over the doc: token count out of range (bits
    // 0/1), no stopword at all (bit 2 — the Gopher "stop word" rule),
    // distinct-token ratio < 30% (bit 3, micro-units via truncating
    // division on non-negatives), mean token length outside [3, 11]
    // chars (bit 4 — token-length sums derived from length(text) and
    // the single-space tokenization, no per-token aggregate), and no
    // language marker firing (bit 5 — the q_lang_id 'und' outcome).
    // keep = mask 0. ENTIRELY map-only at scan speed: no join, no
    // shuffle, no aggregate — at 100 TB this runs at parquet read
    // bandwidth with every predicate codegen'd, which is exactly what
    // a final gate must do. The bitmask is exact-integer arithmetic so
    // both engines agree bit-for-bit.
    "q_quality_ensemble" -> ((s, d) =>
      Tables.documents(s, d).selectExpr(
        "doc_id",
        s"CAST(size($toks) AS BIGINT) AS n_tokens",
        s"size(filter($toks, t -> t IN $stop)) AS n_stop",
        // BIGINT cast BEFORE the ×10⁶: size()/length() are INT32 in
        // Spark, and INT overflow WRAPS silently there (DuckDB's len()
        // is already BIGINT and errors on overflow) — without the cast
        // a >2147-token doc would diverge the engines instead of
        // failing loudly.
        s"(CAST(size(array_distinct($toks)) AS BIGINT) * 1000000) DIV size($toks) AS distinct_micro",
        s"(CAST(length(text) - (size($toks) - 1) AS BIGINT) * 1000000) DIV size($toks) AS mean_len_micro",
        s"size(filter($toks, t -> t IN ('the','and','of','der','und','das','le','la','et','el','los','y'))) AS n_marker")
        .selectExpr("doc_id", "n_tokens", "distinct_micro", "mean_len_micro",
          """CAST(
            |  (CASE WHEN n_tokens < 5 THEN 1 ELSE 0 END)
            |  + (CASE WHEN n_tokens > 120 THEN 2 ELSE 0 END)
            |  + (CASE WHEN n_stop < 1 THEN 4 ELSE 0 END)
            |  + (CASE WHEN distinct_micro < 300000 THEN 8 ELSE 0 END)
            |  + (CASE WHEN mean_len_micro < 3000000 OR mean_len_micro > 11000000 THEN 16 ELSE 0 END)
            |  + (CASE WHEN n_marker = 0 THEN 32 ELSE 0 END)
            |AS BIGINT) AS reasons""".stripMargin)
        .selectExpr("doc_id", "n_tokens", "distinct_micro", "mean_len_micro",
          "reasons", "reasons = 0 AS keep")
        .orderBy(col("doc_id"))),

    // Language-ID n-gram/marker heuristic: argmax of marker-token
    // counts with a fixed tie order (en > de > fr > es), 'und' when no
    // marker fires.
    "q_lang_id" -> ((s, d) => langPred(s, d).orderBy(col("doc_id"))),

    // Language-ID confusion matrix — the eval harness for q_lang_id's
    // marker-word classifier, computed ON-ENGINE against the corpus's
    // ground-truth lang column: (actual, predicted) counts plus each
    // cell's share of its actual-language row (the per-class recall
    // diagonal). One aggregate at matrix grain + a window over the
    // matrix-sized (≤ langs²) slice — the corpus shuffles (lang, pred)
    // pairs only; shares in exact micro-units.
    "q_langid_confusion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      langPred(s, d)
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
        .withColumn("row_total", sum(col("n")).over(Window.partitionBy(col("lang"))))
        .withColumn("share_micro", expr("(n * 1000000) DIV row_total"))
        .select(col("lang"), col("pred_lang"), col("n"), col("share_micro"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // Cohen's kappa between the corpus ground-truth labels and the
    // q_lang_id classifier — the chance-corrected AGREEMENT statistic
    // an annotation/labeling pipeline reports before trusting a weak
    // labeler (Cohen 1960; the label-quality twin of
    // q_langid_confusion's per-cell view). κ = (p_o − p_e)/(1 − p_e)
    // with p_e from the marginal products. ONE corpus pass: a single
    // global aggregate computes n, the agreement count, and both
    // marginals for the closed 5-class label set as conditional sums —
    // no confusion-matrix materialization, no second scan; at 100 TB
    // this is scan + one 1-row reduce. Fixed point: marginal shares
    // quantize to micro first (so nothing ever squares n — no overflow
    // at any corpus size), then p_e sums their products; κ uses the
    // sign-split truncating division (Spark DIV truncates toward zero,
    // DuckDB // floors — they agree only on non-negatives, so the
    // negative-κ branch negates after a non-negative division).
    "q_cohen_kappa" -> ((s, d) => {
      val langs = Seq("en", "de", "fr", "es", "und")
      val m = langPred(s, d).agg(
        count(lit(1)).as("n"),
        sum(when(col("lang") === col("pred_lang"), 1L).otherwise(0L)).as("n_agree") +:
          langs.flatMap(k => Seq(
            sum(when(col("lang") === k, 1L).otherwise(0L)).as(s"r_$k"),
            sum(when(col("pred_lang") === k, 1L).otherwise(0L)).as(s"c_$k"))): _*)
      val peSum = langs
        .map(k => s"((r_$k * 1000000) DIV n) * ((c_$k * 1000000) DIV n)")
        .mkString("(", " + ", ") DIV 1000000")
      m.selectExpr("n", "n_agree",
          "(n_agree * 1000000) DIV n AS po_micro", s"$peSum AS pe_micro")
        .selectExpr("n", "n_agree", "po_micro", "pe_micro",
          """CASE WHEN po_micro >= pe_micro
            |  THEN ((po_micro - pe_micro) * 1000000) DIV (1000000 - pe_micro)
            |  ELSE -(((pe_micro - po_micro) * 1000000) DIV (1000000 - pe_micro))
            |END AS kappa_micro""".stripMargin)
    }),

    // CHARACTER-TRIGRAM language ID (Cavnar & Trenkle 1994, "N-Gram-
    // Based Text Categorization") — the REAL lang-ID tier above
    // q_lang_id's marker words: each language's profile is its top-30
    // char trigrams ranked by corpus frequency; a doc is scored
    // against every profile by OUT-OF-PLACE distance (Σ |doc rank −
    // profile rank|, missing trigram = max penalty 30) and takes the
    // argmin. Profiles train on the corpus's own labels — the
    // operator is the scoring machinery, which is what ships (real
    // profiles are a side artifact exactly like the IVF codebook).
    // All ranks/distances are exact integers (row_number with full
    // tiebreaks), argmin via first-rank window with lang tiebreak.
    //
    // Scale posture: trigram extraction is map-only; shuffles carry
    // (doc, trigram) / (lang, trigram) pairs — text never shuffles.
    // The lang-profile table is ≤ langs×30 rows (broadcast); the doc
    // side keeps only its top-20 trigrams before the 5-langs-per-
    // trigram expansion, so the scoring join is 100·langs rows per doc
    // regardless of doc length.
    "q_langid_trigram" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val K = 30; val M = 20
      // ONE explode + one (doc, tri)-grain aggregate feeds BOTH
      // profiles: a doc has one lang, so (doc_id, lang, tri) counts
      // are already the doc profile's grain, and the lang profile is
      // a second-stage aggregate over this compact table — the
      // trigram explode (the wide part) runs once, and at 100 TB the
      // two-stage rollup is the map-side-partial plan you'd want
      // anyway.
      graft.functions.VectorFunctions.register(s)
      val tcounts = Tables.documents(s, d)
        .selectExpr("doc_id", "lang", "explode(char_ngrams(text, 3)) AS tri")
        .groupBy(col("doc_id"), col("lang"), col("tri")).agg(count(lit(1)).as("c"))
      val langProf = tcounts.groupBy(col("lang"), col("tri")).agg(sum(col("c")).as("c"))
        .withColumn("r_lang", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("c").desc, col("tri"))))
        .filter(col("r_lang") <= K)
        .select(col("lang").as("p_lang"), col("tri"), col("r_lang"))
      val docProf = tcounts
        .withColumn("r_doc", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("c").desc, col("tri"))))
        .filter(col("r_doc") <= M)
        .select(col("doc_id"), col("tri"), col("r_doc"))
      // candidate-language list from the raw table — routing it
      // through tcounts would recompute the whole trigram explode for
      // a 5-row distinct
      val langs = Tables.documents(s, d).select(col("lang").as("p_lang")).distinct()
      val scored = docProf
        .crossJoin(broadcast(langs))
        .join(broadcast(langProf), Seq("p_lang", "tri"), "left")
        .groupBy(col("doc_id"), col("p_lang"))
        .agg(sum(coalesce(expr("CAST(abs(r_doc - r_lang) AS BIGINT)"), lit(K.toLong))).as("dist"))
      val best = scored.withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("dist"), col("p_lang"))))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("p_lang").as("pred_lang"), col("dist"))
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(best, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("pred_lang"),
          (col("lang") === col("pred_lang")).as("correct"), col("dist"))
        .orderBy(col("doc_id"))
    }),

    // TOKENIZER FERTILITY comparison — tokens-per-word and
    // bytes-per-token across the SQL-expressible tokenizer proxies
    // (whitespace words, the [a-z]+ regex word tokens, the len/4
    // subword estimate), per language: the table a tokenizer choice is
    // made from (fertility ≫ 1 on a language = that language pays more
    // context budget per word — the multilingual-tokenizer-fairness
    // audit from the Gopher/XLM-R line of work). Real subword counts
    // (WordPiece/BPE) live in q_tokenize/q_bpe_tokens; this query is
    // deliberately restricted to the closed-form tokenizers so the
    // whole table stays oracle-checkable. Map + one lang-grain
    // aggregate at scan speed; ratios in exact micro units.
    "q_tokenizer_fertility" -> ((s, d) =>
      Tables.documents(s, d).selectExpr("lang",
          s"CAST(size($toks) AS BIGINT) AS w",
          "CAST(regexp_count(text, '[a-z]+') AS BIGINT) AS a",
          "CAST(ceil(length(text) / 4.0) AS BIGINT) AS sub",
          "CAST(length(text) AS BIGINT) AS ch")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(col("a")).as("n_alpha"), sum(col("sub")).as("n_subwords"),
          sum(col("ch")).as("n_chars"))
        .selectExpr("lang", "n_docs", "n_words", "n_alpha", "n_subwords",
          "(n_alpha * 1000000) DIV n_words AS alpha_per_word_micro",
          "(n_subwords * 1000000) DIV n_words AS sub_per_word_micro",
          "(n_chars * 1000000) DIV n_subwords AS bytes_per_sub_micro")
        .orderBy(col("lang"))),

    // Document fingerprinting: content hash + prefix shingle hash —
    // the join key for exact dedup at scale.
    "q_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).selectExpr(
        "doc_id",
        "md5(text) AS fp",
        "md5(substring(text, 1, 64)) AS prefix_fp",
        "cast(length(text) as bigint) AS n_bytes")
        .orderBy(col("doc_id"))),

    // Rolling-window fingerprint sketch: hash every 8-token sliding
    // window (graft.functions.WordShingleHashes — one native pass),
    // keep the bottom-4 hashes as the document's sketch plus the
    // window count. Bottom-k of window hashes is the winnowing-style
    // fingerprint used for containment detection: shared text between
    // two documents shares window hashes regardless of position.
    "q_fingerprint_rolling" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      Tables.documents(s, d)
        .selectExpr("doc_id", "word_shingle_hashes(text, 8) AS ws")
        .selectExpr("doc_id",
          "cast(size(ws) as bigint) AS n_windows",
          "array_min(ws) AS min_fp",
          "slice(array_sort(ws), 1, 4) AS bottom4")
        .selectExpr("doc_id", "n_windows", "min_fp",
          "concat_ws(',', transform(bottom4, h -> cast(h as string))) AS bottom4_csv")
        .orderBy(col("doc_id"))
    }),

    // N-GRAM NOVELTY profiling — per document, the fraction of its
    // distinct 3-gram shingles appearing for the FIRST time in the
    // doc_id-ordered corpus stream (first occurrence = global min
    // doc_id per shingle hash). The corpus-growth diagnostic a
    // training-data pipeline reads before ingesting a new source:
    // novelty ≈ 1 means genuinely new text, novelty ≈ 0 means the
    // source mostly restates what the corpus already holds (the
    // marginal-value-of-data curve from the data-scaling literature,
    // measured at shingle grain).
    //
    // Scale posture: one map-only native shingle-hash pass, then the
    // shuffle carries (doc_id, 60-bit hash) pairs only — never text;
    // the first-occurrence table is a hash-keyed min aggregate with
    // map-side partials (uniform keys, no skew), and the join back is
    // AQE-planned on the same key. Docs too short to shingle
    // (< 3 tokens) have no rows on either side (symmetric exclusion,
    // the q_dedup_recall lesson).
    "q_ngram_novelty" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val ex = Tables.documents(s, d)
        .selectExpr("doc_id", "word_shingle_hashes(text, 3) AS hs")
        .select(col("doc_id"), explode(col("hs")).as("h"))
        // localCheckpoint, not persist: materialized once for the
        // first-occurrence aggregate AND the join back, and the blocks
        // are GC-released with the RDD — a bare persist() leaked one
        // cached copy per invocation across the 251-query loop.
        .ckpt()
      val first = ex.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
      ex.join(first, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_micro", expr("(n_novel * 1000000) DIV n_shingles"))
        .orderBy(col("doc_id"))
    }),

    // CRAWL-SATURATION CURVE — q_ngram_novelty's per-doc profile
    // rolled up along crawl order (doc_id) into 10 position deciles:
    // the fraction of each decile's shingle instances seen for the
    // first time. The curve answers the capacity-planning question
    // "what does the NEXT 10% of crawl buy" — a corpus nearing
    // saturation shows the rate collapsing toward its duplication
    // floor, which is when a pipeline stops paying for more of the
    // same source. Division-free decile assignment (10·(doc_id−1) DIV
    // n, on the dense 1..n fixture ids — the q_curriculum
    // cross-multiplication recipe); same shuffles as the novelty
    // profile (shingle-grain first-occurrence aggregate + join back),
    // decile rollup at aggregate grain.
    "q_novelty_decay" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val ex = Tables.documents(s, d)
        .selectExpr("doc_id", "word_shingle_hashes(text, 3) AS hs")
        .select(col("doc_id"), explode(col("hs")).as("h"))
        .ckpt() // first-occurrence agg AND join back; GC-released (see q_ngram_novelty)
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val first = ex.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
      ex.join(first, "h")
        .crossJoin(broadcast(n))
        .withColumn("decile", expr("(10 * (doc_id - 1)) DIV n + 1"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_micro", expr("(n_novel * 1000000) DIV n_shingles"))
        .orderBy(col("decile"))
    }),

    // Regex token counting (BPE-ish surface form).
    "q_token_regex" -> ((s, d) =>
      Tables.documents(s, d).selectExpr(
        "doc_id",
        "cast(regexp_count(text, '[a-z]+') as bigint) AS n_word_tokens",
        "cast(regexp_count(text, '[0-9]+') as bigint) AS n_num_tokens",
        "cast(ceil(length(text) / 4.0) as bigint) AS n_subword_est")
        .orderBy(col("doc_id"))),

    // S-STEMMER token normalization (Harman 1991 — the light plural
    // stemmer IR pipelines run before indexing/dedup so "model" and
    // "models" collide): -ies→y, -es→drop-s (except -aes/-ees/-oes),
    // -s→drop (except -us/-ss), first match wins. The report is the
    // decision a pipeline owner needs: per language, how many token
    // instances change and how much the VOCABULARY shrinks (the
    // index/embedding-table size lever). Map-only stem + ONE
    // token-grain shuffle into the per-lang aggregate; the two
    // count_distincts expand the shuffle 2× (the q_dq_report posture)
    // — at 100 TB swap approx_count_distinct if exactness is not
    // contractual. Pure CASE/LIKE — identical semantics in DuckDB.
    "q_stem" -> ((s, d) => {
      val stemSql =
        """CASE
          |  WHEN length(w) > 3 AND w LIKE '%ies'
          |    THEN concat(substring(w, 1, length(w) - 3), 'y')
          |  WHEN length(w) > 2 AND w LIKE '%es'
          |       AND NOT (w LIKE '%aes' OR w LIKE '%ees' OR w LIKE '%oes')
          |    THEN substring(w, 1, length(w) - 1)
          |  WHEN length(w) > 1 AND w LIKE '%s'
          |       AND NOT (w LIKE '%us' OR w LIKE '%ss')
          |    THEN substring(w, 1, length(w) - 1)
          |  ELSE w END""".stripMargin
      Tables.documents(s, d)
        .select(col("lang"), explode(expr(toks)).as("w"))
        .withColumn("stem", expr(stemSql))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("stem") =!= col("w"), 1L).otherwise(0L)).as("n_changed"),
          countDistinct(col("w")).as("vocab_before"),
          countDistinct(col("stem")).as("vocab_after"))
        .withColumn("shrink_micro",
          expr("((vocab_before - vocab_after) * 1000000) DIV vocab_before"))
        .orderBy(col("lang"))
    }),

    // RUN-LENGTH repetition profile — the Rae/Gopher-style "repeated
    // token runs" signal q_repetition's set-ratios can't see: a doc
    // that alternates two tokens has high dup_token_frac but max_run
    // 1, while "spam spam spam …" shows up as one long run. Per doc:
    // number of maximal constant runs, the longest run, and runs/token
    // in exact micro (1e6 = no adjacent repetition at all). ENTIRELY
    // map-only array lambdas — boundary positions (i = 1 or tk[i] ≠
    // tk[i−1]) then adjacent-boundary differences — so it runs at scan
    // speed; the identical lambda chain replays in DuckDB.
    "q_repeat_run" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), expr(toks).as("tk"))
        .withColumn("bp", expr(
          """filter(sequence(1, size(tk)), i ->
            |  CASE WHEN i = 1 THEN true
            |       ELSE element_at(tk, i) != element_at(tk, i - 1) END)""".stripMargin))
        .withColumn("ext", expr("concat(bp, array(size(tk) + 1))"))
        .selectExpr("doc_id",
          "CAST(size(tk) AS BIGINT) AS n_tokens",
          "CAST(size(bp) AS BIGINT) AS n_runs",
          """CAST(array_max(transform(sequence(1, size(bp)),
            |  j -> element_at(ext, j + 1) - element_at(ext, j))) AS BIGINT) AS max_run""".stripMargin,
          "(CAST(size(bp) AS BIGINT) * 1000000) DIV size(tk) AS runs_micro")
        .orderBy(col("doc_id"))),

    // Exact dedup at scale (Q-dedup-exact): corpus ∪ mirrored copies,
    // grouped on md5(text) — the big-data-safe form of the reference's
    // id-keyed dict (main.py:158/:205): shuffle carries a 32-char key,
    // the winner is the deterministic min id, copies are counted.
    // Within-document repetition metrics (the Gopher-style repetition
    // filters): duplicate-token and duplicate-bigram fractions. Pure
    // map-only — the native word_shingles expression gives the
    // distinct-bigram count in one JVM pass; total bigrams is just
    // n_tokens − 1. A highly repetitive (low-quality / boilerplate)
    // doc scores near 1.0 on both.
    "q_repetition" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      Tables.documents(s, d).selectExpr(
        "doc_id",
        s"cast(size($toks) as bigint) AS n_tokens",
        s"round(1.0 - size(array_distinct($toks)) / size($toks), 4) AS dup_token_frac",
        s"""CASE WHEN size($toks) <= 1 THEN 0.0
             ELSE round(1.0 - size(word_shingles(text, 2)) / (size($toks) - 1), 4)
           END AS dup_bigram_frac""")
        .orderBy(col("doc_id"))
    }),

    // BM25 relevance scoring for a fixed query term set — the
    // retrieval-standard ranking function (Robertson/Spärck Jones
    // probabilistic model; k1=1.2, b=0.75). Corpus stats (N, Σdl) and
    // per-term document frequencies are tiny aggregates broadcast
    // against the posting rows; per-term partial scores are summed in
    // a FIXED order (one pivoted column per term) so the double
    // addition is engine-reproducible — a sum() over term rows would
    // leave the fold order to the aggregate and break the oracle hash.
    // Scale: one explode→count shuffle at (doc, term) grain for the
    // query terms only (the term predicate filters the token array
    // BEFORE the generator, so non-matching tokens are never exploded).
    "q_bm25" -> ((s, d) => {
      val stats = Tables.documents(s, d)
        .selectExpr("doc_id", s"cast(size($toks) as bigint) AS dl", s"$toks AS tk")
      val corpus = stats.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      // the term predicate applies INSIDE the array, before the
      // generator — only query-term occurrences are ever exploded, so
      // the shuffle is O(matches), not O(corpus tokens)
      val tf = stats.select(col("doc_id"), col("dl"),
          explode(expr("filter(tk, t -> t IN ('the', 'and', 'of'))")).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // broadcast(dfT) is STRUCTURALLY bounded — one row per query
      // term, never corpus-sized — so the hint is safe at any scale
      // (unlike the vocab tables in q_lm_score/q_pmi, which go
      // hint-free and rely on the broadcast threshold).
      val scored = tf.join(broadcast(dfT), "term").crossJoin(broadcast(corpus))
        .withColumn("score_t", expr(
          "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl * n_docs / sum_dl))"))
      scored.groupBy(col("doc_id"))
        .agg(
          coalesce(sum(when(col("term") === "the", col("score_t"))), lit(0.0)).as("s_the"),
          coalesce(sum(when(col("term") === "and", col("score_t"))), lit(0.0)).as("s_and"),
          coalesce(sum(when(col("term") === "of", col("score_t"))), lit(0.0)).as("s_of"))
        .withColumn("bm25", round(col("s_the") + col("s_and") + col("s_of"), 4))
        .select(col("doc_id"), col("bm25"))
        .orderBy(col("doc_id"))
    }),

    // Unigram-LM quality score — the CCNet/KenLM perplexity proxy at
    // its simplest: score(doc) = avg over tokens of ln p(token), with
    // p from the corpus's own unigram counts. The vocabulary is
    // CUTOFF-bounded (count ≥ 5), keeping the model table top-V sized
    // while out-of-vocabulary tokens take the smoothing floor ln(1/T);
    // the vocab join is hint-free so it can shuffle when V outgrows
    // the broadcast budget. Float parity across engines via FIXED-POINT
    // accumulation (the q_vec_quantize precedent): each per-(doc,
    // term) logprob quantizes to integer micro-nats with
    // floor(x·10⁴ + 0.5) — bit-identical in both engines, unlike
    // round(), whose tie-breaking differs when a sum of doubles lands
    // within an ulp of a .xxxx5 boundary — and the per-doc total is
    // then an EXACT integer sum: order-free, partial-aggregation-
    // friendly, no sorted-fold needed. Magnitudes stay far below 2⁶³
    // (|lp_micro| ≲ ln(T)·tf·10⁴ ≈ 3e10/term at 100 TB). Shuffle
    // grain is (doc, distinct token), never raw occurrences.
    "q_lm_score" -> ((s, d) => {
      val stats = Tables.documents(s, d)
        .selectExpr("doc_id", s"$toks AS tk", s"cast(size($toks) as bigint) AS dl")
      val tf = stats.select(col("doc_id"), col("dl"), explode(col("tk")).as("token"))
        .groupBy(col("doc_id"), col("dl"), col("token")).agg(count(lit(1)).as("tf"))
      val vocab = tf.groupBy(col("token")).agg(sum(col("tf")).as("c"))
      val total = vocab.agg(sum(col("c")).as("t"))
      // the vocab join is HINT-FREE: the ≥5-count table is cutoff-
      // bounded but still vocab-sized, and at web scale it outgrows
      // any broadcast budget. At fixture scale AQE broadcasts it
      // anyway (plan-pinned in PlanAuditSpec); past the threshold
      // Spark falls back to a shuffle join on the token key — the
      // correct 100 TB plan, which a pinned hint would forbid.
      val parts = tf.join(vocab.filter(col("c") >= 5), Seq("token"), "left")
        .crossJoin(broadcast(total))
        .withColumn("lp_micro", floor(
          when(col("c").isNotNull, log(col("c") / col("t")))
            .otherwise(log(lit(1.0) / col("t"))) * col("tf") * 10000d + 0.5d))
      parts.groupBy(col("doc_id"), col("dl"))
        .agg(sum(col("lp_micro")).as("sum_micro"))
        .withColumn("score",
          round(col("sum_micro").cast("double") / (col("dl") * 10000d), 4))
        .select(col("doc_id"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // Pointwise mutual information over adjacent token pairs — the
    // collocation statistic behind phrase mining and word2vec-era
    // vocabulary construction: PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) )
    // with p(a,b) over adjacent-pair positions and p(·) over token
    // positions. Pairs below 0.1% relative support are cut (scale-free
    // threshold, so the query is meaningful at every SF). Shuffle
    // grain: (a, b) bigram keys and the vocab-sized unigram table
    // (broadcast) — corpus text shuffles nowhere. PMI quantizes to
    // micro-nats (floor(x·10⁴+0.5), the q_lm_score recipe) so both
    // engines emit identical integers; all count products stay below
    // 2⁵³ as doubles at any SF where counts fit a BIGINT oracle.
    "q_pmi" -> ((s, d) => {
      val docs = Tables.documents(s, d).selectExpr(s"$toks AS tk")
      val pairs = docs
        .selectExpr("posexplode(slice(tk, 1, size(tk) - 1)) AS (i, a)",
          "tk")
        .selectExpr("a", "tk[i + 1] AS b")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      val uni = docs.select(explode(col("tk")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n_t"))
      val totals = uni.agg(sum(col("n_t")).as("tt"))
        .crossJoin(pairs.agg(sum(col("n_ab")).as("pp")))
      // unigram joins are HINT-FREE (same reasoning as q_lm_score):
      // the vocab table is unbounded at web scale, so the plan must be
      // allowed to degrade to a shuffle join on the token key; AQE
      // still broadcasts at fixture scale. Only the 1-row totals keep
      // their hint.
      pairs
        .join(uni.select(col("t").as("a"), col("n_t").as("n_a")), Seq("a"))
        .join(uni.select(col("t").as("b"), col("n_t").as("n_b")), Seq("b"))
        .crossJoin(broadcast(totals))
        .filter(col("n_ab") * 1000 >= col("pp"))
        .withColumn("pmi_micro", floor(
          log((col("n_ab").cast("double") * col("tt") * col("tt")) /
            (col("pp").cast("double") * col("n_a") * col("n_b"))) * 10000d + 0.5d))
        .select(col("a"), col("b"), col("n_ab"), col("pmi_micro").cast("long").as("pmi_micro"))
        .orderBy(col("pmi_micro").desc, col("a"), col("b"))
    }),

    // DUNNING LOG-LIKELIHOOD COLLOCATIONS (Dunning 1993) — the
    // significance-tested upgrade of q_pmi's association score: PMI
    // overweights rare pairs (two hapaxes co-occurring once get a
    // huge score); G² = 2·Σ O·ln(O/E) over the full 2×2 bigram
    // contingency table is the likelihood-ratio test that made
    // "surprise under independence" robust at low counts, and it is
    // THE standard collocation ranker (NLTK, Moses phrase tables).
    // All four margins come from the same bigram aggregate; the four
    // O·ln terms are generated from ONE shared builder
    // ([[llrTermsSql]]) so the Spark plan and the DuckDB oracle parse
    // the IDENTICAL arithmetic expression — doubles stay
    // deterministic because the operation tree is identical and the
    // only libm call (ln of a ratio of exact integers) is quantized
    // by a single floor(·10⁴ + 0.5) with the spec pinning every
    // emitted value away from its floor boundary (the q_psi guard).
    //
    // Scale posture: one (a,b) bigram shuffle + two margin aggregates
    // of it (vocab grain); the 1-row total broadcasts; margin joins
    // are hint-free (AQE broadcasts at fixture scale, shuffles past
    // the threshold — the q_pmi rule). Top-30 via TakeOrdered.
    "q_collocation" -> ((s, d) => {
      val docs = Tables.documents(s, d).selectExpr(s"$toks AS tk")
      val pairs = docs
        .selectExpr("posexplode(slice(tk, 1, size(tk) - 1)) AS (i, a)", "tk")
        .selectExpr("a", "tk[i + 1] AS b")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      val aMarg = pairs.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a"))
      val bMarg = pairs.groupBy(col("b")).agg(sum(col("n_ab")).as("n_b"))
      val tot = pairs.agg(sum(col("n_ab")).as("nn"))
      pairs
        .filter(col("n_ab") >= 5)
        .join(aMarg, Seq("a"))
        .join(bMarg, Seq("b"))
        .crossJoin(broadcast(tot))
        .withColumn("llr_micro", expr(
          s"CAST(floor((2.0 * (${llrTermsSql})) * 10000 + 0.5) AS BIGINT)"))
        .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"), col("llr_micro"))
        .orderBy(col("llr_micro").desc, col("a"), col("b"))
        .limit(30)
    }),

    // Shannon token entropy per document — the information-density
    // quality signal (low entropy = repetitive/templated text; the
    // complement of q_repetition's fraction counters and
    // q_compress_ratio's codec view). Via the integer-argument
    // identity H = ln(n) − (1/n)·Σ tf·ln(tf), every ln in the plan
    // takes a SMALL-INTEGER argument (tf, n ≤ 128 — docs cap at 100
    // tokens), so the quantized table L[k] = floor(ln(k)·10⁶ + 0.5)
    // is computed ONCE in Scala and baked as the same literal array
    // into both the Spark plan and the oracle SQL: neither engine
    // evaluates ln at all, killing the libm-ulp boundary flips that a
    // per-row -ln(tf/n) quantization showed at sf0.1 (3/5000 docs off
    // by one micro-nat). The per-doc numerator n·L[n] − Σ tf·L[tf] is
    // an exact BIGINT.
    // Scale posture: one (doc, distinct-token) shuffle — text never
    // shuffles; the 128-entry ln table is a plan literal.
    "q_entropy" -> ((s, d) => {
      val lnArr = LnMicro.mkString("array(", "L,", "L)")
      Tables.documents(s, d)
        .selectExpr("doc_id", s"$toks AS tk")
        .select(col("doc_id"), expr("cast(size(tk) as bigint)").as("n"),
          explode(col("tk")).as("t"))
        .groupBy(col("doc_id"), col("n"), col("t")).agg(count(lit(1)).as("tf"))
        .withColumn("part", expr(s"tf * element_at($lnArr, CAST(tf AS INT))"))
        .groupBy(col("doc_id"), col("n"))
        .agg(sum(col("part")).as("s"))
        .withColumn("entropy", round(
          (col("n") * expr(s"element_at($lnArr, CAST(n AS INT))") - col("s"))
            .cast("double") / (col("n") * 1000000d), 4))
        .select(col("doc_id"), col("entropy"))
        .orderBy(col("doc_id"))
    }),

    // Inverted-index build — the retrieval-side artifact every search
    // stack materializes from a corpus: per term, document frequency,
    // collection term frequency, and the posting list (sorted doc ids,
    // truncated to the first 20 and CSV-packed for the driver's
    // pandas-based hash — a real index would store the full
    // array<bigint> postings; the df/ctf columns carry the UNtruncated
    // statistics, so the cap is visible, not silent). Top-100 terms by
    // (df desc, term).
    //
    // Scale posture: two aggregates — (term, doc) grain with map-side
    // partial counts, then term grain building the posting head. Text
    // never shuffles; the shuffle payload is (term, doc_id, count)
    // triples, and the per-term collect_list is bounded by the slice.
    "q_inverted_index" -> ((s, d) => {
      val posts = Tables.documents(s, d)
        .select(col("doc_id"), explode(expr(s"$toks")).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      posts.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("ctf"),
          expr("array_join(slice(array_sort(collect_list(doc_id)), 1, 20), ',')")
            .as("postings_head"))
        .orderBy(col("df").desc, col("term"))
        .limit(100)
    }),

    // SPARSE document-to-document top-k similarity via the inverted
    // index — the sparse-retrieval counterpart to the dense ANN family
    // (q_simsearch_*): score(a,b) = Σ_g w(g)² over shared features g,
    // with integer df-damped weights w = 10⁶ DIV df, computed
    // FEATURE-AT-A-TIME by self-joining the postings list — the
    // classic inverted-index join, never a doc×doc product. Features
    // are word 3-GRAMS, not unigrams: this corpus's unigram vocabulary
    // is 31 words with min df ≈ 5% of the corpus (every term is a stop
    // term — nothing discriminates), while trigram df is small and
    // selective — the same reason the near-dup family shingles at
    // n = 3. The load-bearing scale guard is the STOP-FEATURE PRUNE
    // df ≤ 100: a feature's join fan-out is df², so one corpus-wide
    // feature would emit n²/2 pairs — dropping high-df features (which
    // carry ~zero weight anyway, 10⁶ DIV df → 0) bounds every posting
    // list, the same reason BM25 engines keep stop lists and block-max
    // indexes skip low-impact postings. Per-doc top-5 via the
    // WindowGroupLimit-pruned row_number idiom. EXACT integers:
    // weights ≤ 5·10⁵, scores ≪ 2⁶³ — both engines agree bit-for-bit.
    "q_sparse_knn" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.VectorFunctions.register(s)
      val posts = Tables.documents(s, d)
        .select(col("doc_id"), explode(expr("word_shingles(text, 3)")).as("term"))
      val df = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // persisted (the q_pagerank adj pattern): both sides of the
      // posting self-join read this frame — unpersisted, the whole
      // shingle+df+join subtree runs twice
      val w = posts.join(df.filter(col("df").between(2, 100)), "term")
        .select(col("term"), col("doc_id"), expr("1000000 DIV df").as("w"))
        .persist()
      val scores = w.as("x").join(w.as("y"),
          col("x.term") === col("y.term") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
          (col("x.w") * col("y.w")).as("ww"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(sum(col("ww")).as("score"), count(lit(1)).as("n_shared"))
      val both = scores.select(explode(array(
          struct(col("a_id").as("doc_id"), col("b_id").as("nbr_id"),
            col("score"), col("n_shared")),
          struct(col("b_id").as("doc_id"), col("a_id").as("nbr_id"),
            col("score"), col("n_shared")))).as("r"))
        .select(col("r.doc_id"), col("r.nbr_id"), col("r.score"), col("r.n_shared"))
      val rw = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("nbr_id"))
      both.withColumn("rk", row_number().over(rw))
        .filter(col("rk") <= 5)
        .orderBy(col("doc_id"), col("rk"))
    }),

    // Bigram language-model quality score with Stupid Backoff (Brants
    // et al. 2007, "Large Language Models in Machine Translation") —
    // the next step up from q_lm_score's unigram proxy toward the
    // CCNet/KenLM perplexity filter: score(doc) = avg over bigram
    // positions of ln S(b|a), where S(b|a) = c(a,b)/c(a) when the
    // bigram clears the count cutoff (≥ 3 — the vocabulary-pruning
    // rule from q_lm_score) and backs off to 0.4·c(b)/T otherwise.
    // Same fixed-point recipe: per-(doc, bigram) logprobs quantize to
    // integer micro-nats, per-doc totals are exact integer sums.
    //
    // Scale posture: shuffle grain is (doc, distinct bigram) and the
    // (a,b)-keyed model table — text never shuffles. The model joins
    // are HINT-FREE (the bigram table is vocab², unbounded at web
    // scale; AQE broadcasts at fixture scale and shuffles past the
    // threshold — the q_pmi rule); only the 1-row total broadcasts.
    "q_bigram_lm" -> ((s, d) => {
      val docs = Tables.documents(s, d).selectExpr("doc_id", s"$toks AS tk")
      val pairs = docs
        .selectExpr("doc_id", "tk", "posexplode(slice(tk, 1, size(tk) - 1)) AS (i, a)")
        .selectExpr("doc_id", "a", "tk[i + 1] AS b")
      val tf = pairs.groupBy(col("doc_id"), col("a"), col("b")).agg(count(lit(1)).as("tf"))
      val bgc = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      val uni = docs.select(explode(col("tk")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c_t"))
      val total = uni.agg(sum(col("c_t")).as("tt"))
      val parts = tf
        .join(bgc.filter(col("c_ab") >= 3), Seq("a", "b"), "left")
        .join(uni.select(col("t").as("a"), col("c_t").as("c_a")), Seq("a"))
        .join(uni.select(col("t").as("b"), col("c_t").as("c_b")), Seq("b"))
        .crossJoin(broadcast(total))
        .withColumn("lp_micro", floor(
          when(col("c_ab").isNotNull, log(col("c_ab") / col("c_a")))
            .otherwise(log(lit(0.4) * col("c_b") / col("tt"))) * col("tf") * 10000d + 0.5d))
      val nb = docs.selectExpr("doc_id", "cast(size(tk) - 1 as bigint) AS n_bg")
      parts.groupBy(col("doc_id"))
        .agg(sum(col("lp_micro")).as("sum_micro"))
        .join(nb, "doc_id")
        .withColumn("bigram_lp",
          round(col("sum_micro").cast("double") / (col("n_bg") * 10000d), 4))
        .select(col("doc_id"), col("bigram_lp"))
        .orderBy(col("doc_id"))
    }),

    // Interpolated Kneser-Ney bigram probability (Kneser & Ney 1995;
    // Chen & Goodman 1999 eq. 20) — the smoothing KenLM actually ships
    // for the CCNet-style perplexity filter, completing the LM-scoring
    // ladder: unigram MLE (q_lm_score) → Stupid Backoff (q_bigram_lm)
    // → KN, whose continuation probability P_cont(b) = N1+(·b)/N1+(··)
    // ranks words by how many DISTINCT contexts they follow (the
    // "Francisco" correction: frequent-but-predictable words get low
    // continuation mass). D = 3/4, so with integer counts
    //   P_KN(b|a) = [max(4·c_ab − 3, 0)·N1t + 3·N1a·N1b] / (4·c_a·N1t)
    // is a ratio of exact BIGINTs — quantized by one truncating
    // division on non-negatives, both engines bit-identical; no libm.
    // (Fixture-scale products stay ≪ 2⁶³; at 100 TB the model table is
    // trained per-shard and the division runs in 128-bit or scaled-down
    // units — the fixed-point form here is the oracle-parity baseline.)
    // Every doc bigram is in-model by construction (trained on the
    // same corpus), so the discount+continuation interpolation carries
    // all smoothing mass. Shuffle grain: (doc, distinct bigram) + the
    // (a,b)/(a)/(b)-keyed model tables — text never shuffles; the
    // 1-row type total broadcasts; model joins are hint-free (AQE
    // broadcasts at fixture scale, shuffles past threshold).
    "q_kneser_ney" -> ((s, d) => {
      val docs = Tables.documents(s, d).selectExpr("doc_id", s"$toks AS tk")
      val pairs = docs
        .selectExpr("doc_id", "tk", "posexplode(slice(tk, 1, size(tk) - 1)) AS (i, a)")
        .selectExpr("doc_id", "a", "tk[i + 1] AS b")
      val tf = pairs.groupBy(col("doc_id"), col("a"), col("b")).agg(count(lit(1)).as("tf"))
      val bgc = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      val left = bgc.groupBy(col("a"))
        .agg(count(lit(1)).as("n1a"), sum(col("c_ab")).as("c_a"))
      val right = bgc.groupBy(col("b")).agg(count(lit(1)).as("n1b"))
      val types = bgc.agg(count(lit(1)).as("n1t"))
      val parts = tf
        .join(bgc, Seq("a", "b"))
        .join(left, Seq("a"))
        .join(right, Seq("b"))
        .crossJoin(broadcast(types))
        .withColumn("p_micro", expr(
          "((greatest(4 * c_ab - 3, 0) * n1t + 3 * n1a * n1b) * 1000000)" +
            " DIV (4 * c_a * n1t)"))
      val perDoc = parts.groupBy(col("doc_id"))
        .agg(sum(col("p_micro") * col("tf")).as("sum_micro"))
      docs.selectExpr("doc_id", "cast(greatest(size(tk) - 1, 0) as bigint) AS n_bg")
        .join(perDoc, Seq("doc_id"), "left")
        .selectExpr("doc_id", "n_bg",
          "CASE WHEN n_bg = 0 THEN 0 ELSE coalesce(sum_micro, 0) DIV n_bg END AS kn_micro")
        .orderBy(col("doc_id"))
    }),

    "q_dedup_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val mirror = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      docs.unionByName(mirror)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // Real subword segmentation (greedy longest-match WordPiece via
    // the native wordpiece_tokens expression) — the token accounting
    // that q_token_regex approximates with a regex. n_pieces is the
    // number an LLM pretraining budget would count; head_csv pins the
    // actual segmentation. Map-only at scan speed. ORACLE-CHECKED via
    // the SQL-replayed-DP recipe (the q_unigram_lm/q_rouge_l
    // precedent): the greedy cursor loop replays as a recursive CTE —
    // one iteration per emitted piece, bounded by max word length —
    // and the JVM String.hashCode vocab predicate is exact integer
    // arithmetic in SQL (≤ 4 UTF-16 units can't overflow 32 bits, so
    // no wrap to emulate; BMP text keeps DuckDB's code-point substr
    // aligned with Java's unit-indexed substring — the fixture is
    // ASCII). TextAnalysisSpec additionally pins reassembly/vocab
    // invariants against an independent reimplementation.
    "q_tokenize" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      Tables.documents(s, d)
        .withColumn("pieces", expr("wordpiece_tokens(text)"))
        .select(col("doc_id"),
          size(col("pieces")).cast("long").as("n_pieces"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_words"),
          expr("array_join(slice(pieces, 1, 8), ',')").as("head_csv"))
        .orderBy(col("doc_id"))
    }),

    // UNIGRAM-LM subword segmentation (Kudo 2018 — the SentencePiece
    // unigram model), completing the tokenizer triad: BPE trains
    // merges bottom-up (q_bpe_train), WordPiece applies greedy
    // longest-match (q_tokenize), unigram-LM segments each word by
    // exact VITERBI over a piece lattice — min total piece surprisal,
    // ties broken by fewer pieces. Vocabulary = all single chars
    // (reachability floor) ∪ substrings of length 2–4 holding ≥ 0.05%
    // of the occurrence-weighted piece mass; piece cost = quantized
    // surprisal ⌊ln(total/cnt)·10⁴ + 0.5⌋ (the q_bigram_lm micro-nat
    // discipline; a spec guards the floor boundaries against
    // cross-libm drift). The DP minimizes the scalar 64·Σcost +
    // n_pieces — exact lexicographic (cost, pieces) because words cap
    // at 24 chars, so the piece-count term can never cross a 1-unit
    // cost difference.
    //
    // Scale posture: segmentation runs at WORD grain (distinct words),
    // not corpus grain — the 100 TB recipe tokenizes the vocabulary
    // once and joins counts back, exactly like this plan's one
    // token-shuffle into word frequencies. The piece table is
    // KB-scale (vocab substrings) and folds into the plan as literal
    // arrays — the PQ-codebook pattern: the per-word DP is then a
    // MAP-ONLY higher-order expression, no join against a vocab table
    // per candidate piece. The same collected counts are recomputed
    // independently by the oracle's SQL, so a drift between the
    // driver-side fold and the data would hash-mismatch loudly.
    "q_unigram_lm" -> ((s, d) => {
      val words = unigramWords(s, d)
      val (vocab, total) = unigramVocab(s, d)
      val lp = vocab.map(p => "'" + p._1.replace("'", "''") + "'")
        .mkString("array(", ",", ")")
      val lc = vocab
        .map { case (_, c) => math.floor(math.log(total.toDouble / c) * 10000 + 0.5).toLong }
        .mkString("array(", ",", ")")
      def pos(sub: String) = s"array_position($lp, $sub)"
      val piece = "substring(w, j + 1, i - j)"
      val dp =
        s"""aggregate(
           |  sequence(1, length(w)),
           |  concat(array(cast(0 as bigint)), array_repeat(cast(-1 as bigint), length(w))),
           |  (acc, i) -> transform(acc, (dv, k) -> CASE WHEN k = i THEN
           |      coalesce(array_min(filter(transform(sequence(greatest(0, i - 4), i - 1), j ->
           |        CASE WHEN acc[j] >= 0 AND ${pos(piece)} > 0
           |             THEN acc[j] + element_at($lc, cast(${pos(piece)} as int)) * 64 + 1
           |             ELSE NULL END), x -> x IS NOT NULL)), cast(-1 as bigint))
           |    ELSE dv END),
           |  acc -> element_at(acc, length(w) + 1)) AS combined""".stripMargin
      words.selectExpr("w AS word", "freq", "cast(length(w) as bigint) AS n_chars", dp)
        .selectExpr("word", "freq", "n_chars",
          "combined DIV 64 AS cost_micro", "combined % 64 AS n_pieces")
        .orderBy(col("word"))
    }),

    // Canonical-URL dedup — the crawl-curation step BEFORE content
    // dedup: the same page arrives as http/https, with/without www,
    // with tracking params, fragments and trailing slashes, and all
    // of those collapse to one canonical key. The fixture synthesizes
    // the variants deterministically (every 4th doc re-crawled with
    // scheme/www/utm/fragment noise), normalization is a map-only
    // regexp chain (lowercase → https → strip www/utm+fragment →
    // trailing slash), and dedup shuffles the canonical-url string
    // only — at 100 TB this is the q_dedup_exact posture keyed on
    // the URL instead of the content hash.
    "q_dedup_url" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
        .withColumn("url", expr(
          "concat('https://', source, '.example.com/p/', CAST(doc_id AS STRING))"))
      val recrawl = docs.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), expr(
          """concat('HTTP://www.', source, '.EXAMPLE.com/p/',
            |  CAST(doc_id AS STRING), '/?utm_source=feed#frag')""".stripMargin).as("url"))
      docs.unionByName(recrawl)
        .withColumn("canon", expr(
          """regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            |  lower(url),
            |  '^http://', 'https://'),
            |  '^https://www\\.', 'https://'),
            |  '[?#].*$', ''),
            |  '/$', '')""".stripMargin))
        .groupBy(col("canon"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_variants"))
        .orderBy(col("keep_id"))
    }),

    // BLEU-style CLIPPED n-gram precision (Papineni et al. 2002) —
    // the text-overlap EVAL primitive next to the ranking evals
    // (q_auc/q_ndcg/q_prec_at_k grade rankings; this grades generated
    // TEXT against a reference). Candidate = a LOSSY RECONSTRUCTION of
    // each doc (every 4th token replaced by 'the' — a deterministic,
    // engine-identical corruption; a prefix copy would score a
    // trivially perfect precision since its grams are a sub-multiset
    // of the reference's), reference = the original. Per pair and
    // n ∈ {1,2}: p_n = Σ_g min(cnt_cand(g), cnt_ref(g)) / Σ_g
    // cnt_cand(g) in truncating micro-units — CLIPPING is the part of
    // BLEU naive precision lacks (a candidate spamming one reference
    // word scores its reference count, not its own); the brevity
    // penalty's exp is data-dependent float, so the report carries the
    // exact integer token counts and leaves the exp to the reader (the
    // q_linear_fit discipline: exact moments, float at the boundary).
    //
    // Scale posture: counts aggregate at (pair, gram) grain — shuffles
    // carry bounded-length grams with pair ids (the q_tfidf/q_bm25
    // token-shuffle tier, never whole documents); the clip join is
    // co-partitioned on the same (pair, gram) key it aggregated on,
    // and the per-pair rollup + final assembly joins run at PAIR
    // grain. NULLIF guards the no-bigram degenerate pair in BOTH
    // engines (NULL precision, not a crash).
    "q_bleu" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id").as("pair_id"), split(col("text"), " ").as("rtk"))
        .withColumn("ctk", expr(
          "transform(sequence(1, size(rtk)), i -> IF(i % 4 = 0, 'the', element_at(rtk, i)))"))
      def gramCounts(tkCol: String, cntName: String, n: Int): DataFrame = {
        val g = n match {
          case 1 => tkCol
          // CASE guard: Spark's sequence(1, 0) is a DESCENDING [1, 0]
          // (not empty) and element_at(arr, 0) throws — a 1-token doc
          // must yield zero bigrams, not a crash
          case 2 => s"CASE WHEN size($tkCol) >= 2 THEN " +
            s"transform(sequence(1, size($tkCol) - 1), " +
            s"i -> concat(element_at($tkCol, i), ' ', element_at($tkCol, i + 1))) " +
            "ELSE array() END"
        }
        base.select(col("pair_id"), explode(expr(g)).as("g"))
          .groupBy(col("pair_id"), col("g")).agg(count(lit(1)).as(cntName))
      }
      def prec(n: Int): DataFrame = {
        val c = gramCounts("ctk", "cc", n)
        val r = gramCounts("rtk", "cr", n)
        val clip = c.join(r, Seq("pair_id", "g"))
          .groupBy(col("pair_id"))
          .agg(sum(least(col("cc"), col("cr"))).as(s"clip$n"))
        val tot = c.groupBy(col("pair_id")).agg(sum(col("cc")).as(s"tot$n"))
        tot.join(clip, Seq("pair_id"), "left")
          .select(col("pair_id"),
            coalesce(col(s"clip$n"), lit(0L)).as(s"clip$n"),
            expr(s"(coalesce(clip$n, 0L) * 1000000) DIV nullif(tot$n, 0)").as(s"p${n}_micro"))
      }
      base.select(col("pair_id"), size(col("rtk")).cast("bigint").as("n_tokens"))
        .join(prec(1), Seq("pair_id"), "left")
        .join(prec(2), Seq("pair_id"), "left")
        .select(col("pair_id"), col("n_tokens"),
          col("clip1"), col("p1_micro"), col("clip2"), col("p2_micro"))
        .orderBy(col("pair_id"))
    }),

    // chrF (Popović 2015) — the CHARACTER n-gram F-score that replaced
    // BLEU for morphology-rich evaluation: token-grain n-grams punish
    // every inflection mismatch as a whole-word miss; character
    // trigrams give partial credit for shared stems, which is why WMT
    // adopted chrF as a primary metric. Same deterministic fixture as
    // q_bleu (candidate = every 4th token → 'the', reference = the
    // original), whitespace stripped per the metric's definition;
    // trigram extraction is the native [[graft.functions.CharNgrams]]
    // one-pass expression. Clipped overlap gives precision AND recall
    // (chrP/chrR), fused by the exact rational harmonic mean
    // (2PR) DIV (P+R) on micro integers — no float anywhere.
    //
    // Scale posture: counts aggregate at (pair, trigram) grain —
    // shuffles carry 3-char grams with pair ids, never documents; the
    // clip join is co-partitioned on the key it aggregated on; the
    // rollup runs at pair grain. NULLIF guards degenerate pairs.
    "q_chrf" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val base = Tables.documents(s, d)
        .select(col("doc_id").as("pair_id"), split(col("text"), " ").as("rtk"))
        .withColumn("ctk", expr(
          "transform(sequence(1, size(rtk)), i -> IF(i % 4 = 0, 'the', element_at(rtk, i)))"))
        .select(col("pair_id"),
          expr("replace(array_join(rtk, ''), ' ', '')").as("rtxt"),
          expr("replace(array_join(ctk, ''), ' ', '')").as("ctxt"))
        .ckpt() // consumed by both gram arms
      def grams(src: String, cnt: String): DataFrame =
        base.select(col("pair_id"), explode(expr(s"char_ngrams($src, 3)")).as("g"))
          .groupBy(col("pair_id"), col("g")).agg(count(lit(1)).as(cnt))
      val c = grams("ctxt", "cc")
      val r = grams("rtxt", "cr")
      val clip = c.join(r, Seq("pair_id", "g"))
        .groupBy(col("pair_id")).agg(sum(least(col("cc"), col("cr"))).as("ov"))
      val totC = c.groupBy(col("pair_id")).agg(sum(col("cc")).as("tc"))
      val totR = r.groupBy(col("pair_id")).agg(sum(col("cr")).as("tr"))
      totC.join(totR, Seq("pair_id"))
        .join(clip, Seq("pair_id"), "left")
        .select(col("pair_id"), coalesce(col("ov"), lit(0L)).as("n_overlap"),
          expr("(coalesce(ov, 0L) * 1000000) DIV nullif(tc, 0)").as("p_micro"),
          expr("(coalesce(ov, 0L) * 1000000) DIV nullif(tr, 0)").as("r_micro"))
        .withColumn("chrf_micro",
          expr("(2 * p_micro * r_micro) DIV nullif(p_micro + r_micro, 0)"))
        .orderBy(col("pair_id"))
    }),

    // ROUGE-L (Lin 2004) — the LCS-based RECALL eval pairing q_bleu's
    // clipped-precision: BLEU's n-grams demand contiguity, the longest
    // common SUBSEQUENCE credits in-order content however interleaved
    // (the reason summarization eval settled on ROUGE-L). Same lossy
    // reconstruction fixture as q_bleu (every 4th token → 'the'), on a
    // deterministic 20% pair sample at 32-token prefix grain — eval
    // runs on samples, and the bound keeps the oracle's replayed DP
    // (O(n·m²) in portable SQL, vs the native expression's O(n·m))
    // affordable at the cross-SF gate. The LCS itself is the native
    // [[graft.functions.LcsTokens]] rolling-row DP — one JVM pass per
    // pair, MAP-ONLY at scan speed, no shuffle anywhere; P/R/F₁ are
    // truncating micro-unit integers (2PR/(P+R) stays exact rational
    // arithmetic on identical inputs in both engines).
    // GAZETTEER entity extraction — dictionary-based tagging (the
    // declarative tier of NER: a curated entity list matched at token
    // grain, the step every KB-linking / PII-localization pipeline
    // runs before any model): the dictionary is the NATION table's
    // names (a cross-dataset join — the gazetteer lives in the
    // warehouse, not in the query), mentions are deterministically
    // woven into the fixture text first (the q_pii_scrub recipe —
    // synthetic docs contain no real entities), then extraction finds
    // them FROM TEXT via a broadcast semi-match at token grain. Per
    // doc: sorted distinct entity list + mention count.
    //
    // Scale posture: the gazetteer broadcasts (dimension-scale); the
    // token explode feeds a co-partitioned (doc_id) aggregate — text
    // never shuffles, tokens do (the tfidf tier); at 100 TB a
    // multi-token gazetteer swaps the equality for the n-gram join,
    // same shape.
    "q_gazetteer" -> ((s, d) => {
      val gaz = Tables.nation(s, d)
        .select(lower(col("n_name")).as("entity"), col("n_nationkey"))
      val docs = Tables.documents(s, d)
        .withColumn("txt", expr(
          "concat(text, ' visited nation_', CAST(doc_id % 25 AS STRING), " +
            "' and nation_', CAST((doc_id + 7) % 25 AS STRING))"))
      docs.select(col("doc_id"), explode(split(col("txt"), " ")).as("tok"))
        .join(broadcast(gaz), col("tok") === col("entity"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_mentions"),
          array_join(array_sort(collect_set(col("entity"))), ",").as("entities"))
        .orderBy(col("doc_id"))
    }),

    // ZIPF TAIL diagnostic — a log-log frequency-of-frequencies line
    // fit over the token distribution (the corpus-statistics sanity
    // check behind vocab sizing and subword budgeting: natural text
    // slopes near −1; a flat or collapsed line flags synthetic or
    // boilerplate-dominated corpora). ENGINE-EXACT log₂ via the
    // q_degree_dist trick (length(bin(v)) − 1 — no libm anywhere):
    // points are (⌊log₂ freq⌋, ⌊log₂ #tokens-at-that-freq-bucket⌋),
    // the OLS is the q_linear_fit exact-moment form, and the final
    // milli-unit slope/intercept use the ENGINE-PORTABLE FLOOR
    // DIVISION recipe (numerators go negative — bare DIV truncates in
    // Spark where // floors in DuckDB; q_pca_power's guard).
    //
    // Scale posture: token aggregate → bucket aggregate → one 5-moment
    // reduction; each step shrinks by orders of magnitude, nothing
    // collects.
    "q_zipf" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val pts = tf.select(expr("CAST(length(bin(n)) - 1 AS BIGINT)").as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("cnt"))
        .select(col("x"), expr("CAST(length(bin(cnt)) - 1 AS BIGINT)").as("y"))
      def floorDiv(a: String, b: String) = s"(($a) - ((($a) % ($b) + ($b)) % ($b))) DIV ($b)"
      pts.agg(count(lit(1)).as("np"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
        .withColumn("slope_milli", expr(floorDiv(
          "(np * sxy - sx * sy) * 1000", "nullif(np * sxx - sx * sx, 0)")))
        .withColumn("intercept_milli", expr(floorDiv(
          "(sy * sxx - sx * sxy) * 1000", "nullif(np * sxx - sx * sx, 0)")))
        .select(col("np"), col("sx"), col("sy"), col("sxy"), col("sxx"),
          col("slope_milli"), col("intercept_milli"))
    }),

    "q_rouge_l" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      Tables.documents(s, d)
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("pair_id"),
          expr("slice(split(text, ' '), 1, 32)").as("rtk"))
        .withColumn("ctk", expr(
          "transform(sequence(1, size(rtk)), i -> IF(i % 4 = 0, 'the', element_at(rtk, i)))"))
        .select(col("pair_id"),
          size(col("rtk")).cast("bigint").as("n_tokens"),
          expr("CAST(lcs_tokens(ctk, rtk) AS BIGINT)").as("lcs_len"))
        .withColumn("p_micro", expr("(lcs_len * 1000000) DIV n_tokens"))
        .withColumn("r_micro", expr("(lcs_len * 1000000) DIV n_tokens"))
        .withColumn("f_micro", expr(
          "CASE WHEN p_micro + r_micro > 0 THEN (2 * p_micro * r_micro) DIV (p_micro + r_micro) ELSE 0 END"))
        .select(col("pair_id"), col("n_tokens"), col("lcs_len"),
          col("p_micro"), col("r_micro"), col("f_micro"))
        .orderBy(col("pair_id"))
    }),

    // RAKE keyphrase extraction (Rose et al. 2010) — the unsupervised
    // keyword layer a corpus card ships next to q_tfidf's per-doc
    // terms: candidate phrases are maximal stopword-free runs (the
    // shared [[stop]] list marks boundaries; runs longer than 4 tokens
    // are discarded per the standard practice), each word scores
    // deg/freq over the candidate corpus (deg counts co-occurring
    // phrase slots INCLUDING self — one Σ plen aggregate), and a
    // phrase scores the sum of its members' scores. Word scores land
    // on the exact micro grid by truncating division (non-negative)
    // so phrase sums are order-independent BIGINTs. Shuffles carry
    // (doc, pos, word) and word-grain stats — the text column never
    // moves; the only window is the per-doc boundary prefix sum at
    // (doc, token) grain (the q_spec_accept posture). Top-20 page by
    // (score, phrase) — TakeOrdered.
    "q_keyphrase" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .withColumn("st", expr(s"CASE WHEN w IN $stop THEN 1 ELSE 0 END"))
      val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val members = toks
        .withColumn("sid", sum(col("st")).over(win))
        .filter(col("st") === 0)
        .select(col("doc_id"), col("sid"), col("pos"), col("w"))
        .ckpt() // word stats + phrase assembly share it
      val plen = members.groupBy(col("doc_id"), col("sid")).agg(count(lit(1)).as("plen"))
      val mem2 = members.join(plen, Seq("doc_id", "sid")).filter(col("plen") <= 4)
        .ckpt() // consumed by the word census and the phrase rollup
      val wscore = mem2.groupBy(col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .select(col("w"), expr("(deg * 1000000) DIV freq").as("wscore"))
      mem2.join(wscore, "w")
        .groupBy(col("doc_id"), col("sid"))
        .agg(sum(col("wscore")).as("score_micro"),
          max(col("plen")).as("plen"),
          concat_ws(" ",
            expr("transform(array_sort(collect_list(struct(pos, w))), x -> x.w)")).as("phrase"))
        .groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occur"), max(col("plen")).as("len"),
          max(col("score_micro")).as("score_micro"))
        .orderBy(col("score_micro").desc, col("phrase"))
        .limit(20)
    }),

    // QUALITY-CUTOFF RETENTION SWEEP — the threshold-tuning curve
    // behind q_text_quality's score and q_quality_ensemble's gate:
    // for every centi-grid score cutoff, how many docs and tokens
    // survive "keep score ≥ cutoff". The score is the q_text_quality
    // blend evaluated in identical expression text and snapped to the
    // centi grid (exact small-integer rationals → identical doubles →
    // identical floor), so the whole sweep is one map-only projection
    // + one ≤101-row census + prefix windows over it — the corpus is
    // scanned ONCE for every cutoff the curve reports. Retention in
    // exact micro.
    "q_quality_sweep" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = Tables.documents(s, d).selectExpr(
          s"size($toks) AS n_toks",
          s"""CAST(floor((0.5 * (size(array_distinct($toks)) / size($toks))
             |  + 0.5 * (1.0 - size(filter($toks, t -> t IN $stop)) / size($toks)))
             |  * 100 + 0.5) AS BIGINT) AS qc""".stripMargin)
        .groupBy(col("qc"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
        .ckpt() // totals + cumulative sweep share the census
      val tot = cells.agg(sum(col("n_toks")).as("toks_tot"))
      val wfrom = Window.orderBy(col("qc").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      cells
        .withColumn("cum_docs", sum(col("n_docs")).over(wfrom))
        .withColumn("cum_toks", sum(col("n_toks")).over(wfrom))
        .crossJoin(broadcast(tot))
        .select(col("qc"), col("n_docs"), col("n_toks"), col("cum_docs"), col("cum_toks"),
          expr("(cum_toks * 1000000) DIV toks_tot").as("tok_retention_micro"))
        .orderBy(col("qc").desc)
    }),

    // CODE-vs-PROSE detection — the curation signal every web-scale
    // training mix needs (route code to the code pipeline, keep prose
    // quality filters off it): a symbol-density census over the 10
    // canonical code characters ;{}()=<>[] plus average token length,
    // combined into a milli-grain score. The symbol count is a chained
    // LITERAL replace (shared text with the oracle — no regex dialect
    // to diverge on); every ratio is integer fixed-point. The fixture
    // corpus is prose-only, so a deterministic code-ified variant of
    // every 4th doc (tokens joined by ' = (x); ') exercises the
    // positive class — the q_substr_dedup synthetic-corpus recipe.
    //
    // Scale posture: map-only over the scan; no shuffle at all beyond
    // the output sort.
    "q_code_detect" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"), col("text"))
        .unionByName(docs.filter(expr("doc_id % 4 = 0"))
          .select((col("doc_id") + 1000000L).as("doc_id"),
            expr("replace(text, ' ', ' = (x); ')").as("text")))
        .selectExpr("doc_id",
          "CAST(length(text) AS BIGINT) AS n_chars",
          s"CAST(length(text) - length(${stripSymbols("text")}) AS BIGINT) AS sym_cnt",
          "CAST(length(replace(text, ' ', '')) AS BIGINT) AS nonspace",
          "CAST(size(split(text, ' ')) AS BIGINT) AS ntok")
        .selectExpr("doc_id", "n_chars",
          "(sym_cnt * 1000) DIV n_chars AS sym_milli",
          "(nonspace * 1000) DIV ntok AS avg_tok_len_milli")
        .selectExpr("doc_id", "n_chars", "sym_milli", "avg_tok_len_milli",
          "sym_milli * 3 + (greatest(avg_tok_len_milli - 8000, 0) DIV 10) AS code_score_milli")
        .withColumn("is_code", expr("code_score_milli >= 100"))
        .orderBy(col("doc_id"))
    })
  )

  /** DuckDB rendering of [[langPred]] (shared by the q_lang_id and
    * q_langid_confusion oracles). */
  private val langPredSql =
    """SELECT doc_id, lang,
      | CASE WHEN m_en = 0 AND m_de = 0 AND m_fr = 0 AND m_es = 0 THEN 'und'
      |      WHEN m_en >= m_de AND m_en >= m_fr AND m_en >= m_es THEN 'en'
      |      WHEN m_de >= m_fr AND m_de >= m_es THEN 'de'
      |      WHEN m_fr >= m_es THEN 'fr'
      |      ELSE 'es' END AS pred_lang
      |FROM (
      | SELECT doc_id, lang,
      |  len(list_filter(string_split(text, ' '), t -> t IN ('the','and','of'))) AS m_en,
      |  len(list_filter(string_split(text, ' '), t -> t IN ('der','und','das'))) AS m_de,
      |  len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et'))) AS m_fr,
      |  len(list_filter(string_split(text, ' '), t -> t IN ('el','los','y'))) AS m_es
      | FROM documents)""".stripMargin

  /** Shared 5-round BPE merge-training loop (Sennrich et al. 2016):
    * returns (per-round winning-merge frames, final word table with
    * merged symbol sequences). q_bpe_train reports the merge table;
    * q_bpe_encode reports the final word → piece-sequence map. See the
    * q_bpe_train registration comment for the full scale posture and
    * the x ≠ y determinism restriction.
    */
  private def bpeLoop(s: SparkSession, d: String)
      : (Seq[org.apache.spark.sql.DataFrame], org.apache.spark.sql.DataFrame) = {
    val wf = Tables.documents(s, d)
      .select(explode(expr(toks)).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("freq"))
    var words = wf.withColumn("syms", expr(
      "transform(sequence(1, length(t)), i -> substring(t, i, 1))"))
      .select(col("t"), col("freq"), col("syms"))
      .persist()
    var merges: Seq[org.apache.spark.sql.DataFrame] = Nil
    for (r <- 1 to 5) {
      val counts = words.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1), i ->
            |  struct(element_at(syms, i) AS x, element_at(syms, i + 1) AS y))""".stripMargin)).as("p"))
        .filter(col("p.x") =!= col("p.y"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("freq")).as("n"))
      val best = counts.orderBy(col("n").desc, col("x"), col("y")).limit(1)
      merges = merges :+ best.select(lit(r).as("round"), col("x"), col("y"),
        concat(col("x"), col("y")).as("merged"), col("n"))
      words = words
        .crossJoin(broadcast(best.select(col("x").as("mx"), col("y").as("my"))))
        .withColumn("syms", expr(
          """transform(
            |  filter(sequence(1, size(syms)), i ->
            |    NOT(i > 1 AND element_at(syms, i - 1) = mx AND element_at(syms, i) = my)),
            |  i -> IF(element_at(syms, i) = mx AND i < size(syms)
            |            AND element_at(syms, i + 1) = my,
            |          concat(mx, my), element_at(syms, i)))""".stripMargin))
        .select(col("t"), col("freq"), col("syms"))
        .persist()
    }
    (merges, words)
  }

  /** Trained-BPE memo (r16 OPTIMIZATION, the copurchaseEdges pattern):
    * [[bpeLoop]]'s 5-round training was re-paid by each of q_bpe_train /
    * q_bpe_encode / q_bpe_tokens / q_bpe_fertility — four identical
    * corpus word-frequency passes plus four vocab-scale merge loops per
    * (session, dir), exactly the re-build disease the suffix-pair /
    * copurchase memos already fixed. One combined checkpointed frame
    * holds both training products (tag 'm' = the 5-row merge table,
    * tag 'w' = the final word → piece-sequence map), so the loop runs
    * ONCE, priced by the producer:bpe_train bench row; the four
    * consumers are pure filter+select views over it — result-identical
    * by construction (deterministic loop, disjoint tag partitions).
    */
  private[graft] val bpeCache = new CachedRelation(ttlMillis = 3600L * 1000)

  private[graft] def bpeTrainedAll(s: SparkSession, d: String): DataFrame =
    // resolveProbed: the cached frame is localCheckpoint-backed, so a
    // hit checks the storage listing for its blocks and heals on block
    // loss (the suffixPairs pattern)
    bpeCache.resolveProbed(s"${System.identityHashCode(s)}:$d") {
      val (merges, words) = bpeLoop(s, d)
      // materialize the FINAL word table first (one eager checkpoint):
      // this walks the 5 rounds sequentially, populating each round's
      // persisted frame exactly once. Assembling the combined union
      // directly instead lets AQE's broadcast futures race the main
      // job for the unpopulated persists and compute the corpus
      // word-frequency aggregate twice (measured: 12.2 s vs ~3 s).
      val wCk = words.select(col("t"), col("syms")).ckpt()
      val m = merges.reduce(_ unionByName _).select(
        lit("m").as("tag"), col("round"), col("x"), col("y"),
        col("merged"), col("n"),
        lit(null).cast("string").as("t"),
        lit(null).cast("array<string>").as("syms"))
      val w = wCk.select(
        lit("w").as("tag"), lit(null).cast("int").as("round"),
        lit(null).cast("string").as("x"), lit(null).cast("string").as("y"),
        lit(null).cast("string").as("merged"), lit(null).cast("bigint").as("n"),
        col("t"), col("syms"))
      m.unionByName(w).ckpt()
    }

  /** The 5-round merge table (round, x, y, merged, n) — q_bpe_train's
    * page, served from [[bpeTrainedAll]]. */
  private def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeTrainedAll(s, d).filter(col("tag") === "m")
      .select(col("round"), col("x"), col("y"), col("merged"), col("n"))

  /** The final word → piece-sequence map (t, syms) — the vocab-grain
    * frame q_bpe_encode / q_bpe_tokens / q_bpe_fertility broadcast. */
  private def bpeWords(s: SparkSession, d: String): DataFrame =
    bpeTrainedAll(s, d).filter(col("tag") === "w")
      .select(col("t"), col("syms"))

  /** q_bpe_train oracle: the same 5 unrolled merge rounds as the Spark
    * plan, each round a (pair-count, argmax, apply) CTE triple. The
    * winning merge enters the next round's lambdas via a FROM-scope
    * cross join (DuckDB lambdas see cross-joined 1-row tables, but not
    * correlated-subquery outers). `tail` selects what the caller
    * reports: the merge table (q_bpe_train) or the final word table
    * (q_bpe_encode).
    */
  private def bpeOracle(tail: String): String = {
    val rounds = (1 to 5).map { r =>
      s"""c$r AS (
         |  SELECT p.x AS x, p.y AS y, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, unnest(list_transform(range(1, len(syms)),
         |                i -> {'x': syms[i], 'y': syms[i + 1]})) AS p
         |        FROM w${r - 1} WHERE len(syms) >= 2) q
         |  WHERE p.x <> p.y GROUP BY p.x, p.y),
         |m$r AS (SELECT x, y, n FROM c$r ORDER BY n DESC, x, y LIMIT 1),
         |w$r AS (
         |  SELECT t, freq, list_transform(
         |    list_filter(range(1, len(syms) + 1), i ->
         |      NOT(i > 1 AND syms[i - 1] = m.x AND syms[i] = m.y)),
         |    i -> IF(syms[i] = m.x AND i < len(syms) AND syms[i + 1] = m.y,
         |            m.x || m.y, syms[i])) AS syms
         |  FROM w${r - 1}, m$r m)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
       |wf AS (SELECT t, CAST(count(*) AS BIGINT) AS freq FROM tok WHERE t <> '' GROUP BY t),
       |w0 AS (SELECT t, freq,
       |  list_transform(range(1, length(t) + 1), i -> substring(t, i, 1)) AS syms FROM wf),
       |$rounds
       |$tail""".stripMargin
  }

  private def bpeTrainOracle: String = bpeOracle(
    (1 to 5).map(r =>
      s"SELECT $r AS round, x, y, x || y AS merged, n FROM m$r")
      .mkString("\nUNION ALL ") + "\nORDER BY round")

  private def bpeEncodeOracle: String = bpeOracle(
    """SELECT t, array_to_string(syms, ' ') AS encoded,
      |  CAST(len(syms) AS BIGINT) AS n_pieces
      |FROM w5 ORDER BY t""".stripMargin)

  private def bpeTokensOracle: String = bpeOracle(
    """SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(SUM(len(w.syms)) AS BIGINT) AS bpe_tokens
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) d
      |JOIN w5 w ON d.t = w.t
      |WHERE d.t <> ''
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)

  /** Chained literal replace() that strips the 10 code-symbol
    * characters — shared text between the Spark plan and the oracle so
    * the symbol census can never diverge on regex-dialect grounds.
    */
  private[operators] def stripSymbols(colName: String): String =
    Seq(";", "{", "}", "(", ")", "=", "<", ">", "[", "]")
      .foldLeft(colName)((acc, c) => s"replace($acc, '$c', '')")

  val oracles: Map[String, String] = Map(

    // Bigram fingerprints via the positional md5-fold idiom (the
    // q_winnowing wtx shape at window 2), then the same exact-integer
    // parity count and z² arithmetic.
    "q_watermark_detect" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |fp AS (
        |  SELECT doc_id, CAST(len(tk) - 1 AS BIGINT) AS n_pairs,
        |    list_transform(range(1, len(tk)),
        |      i -> list_reduce(list_transform(range(1, 16),
        |        j -> CAST(strpos('0123456789abcdef',
        |               substr(md5(array_to_string(tk[i:i+1], ' ')), j, 1)) - 1 AS BIGINT)),
        |        (a, b) -> a * 16 + b)) AS fps
        |  FROM base),
        |g AS (SELECT doc_id, n_pairs,
        |        CAST(len(list_filter(fps, h -> h % 2 = 0)) AS BIGINT) AS n_green
        |      FROM fp)
        |SELECT doc_id, n_pairs, n_green,
        |  CASE WHEN n_pairs > 0 THEN (n_green * 1000) // n_pairs END AS green_permille,
        |  CASE WHEN n_pairs > 0 THEN
        |    ((2 * n_green - n_pairs) * (2 * n_green - n_pairs) * 1000) // n_pairs
        |  END AS z2_milli,
        |  CAST(CASE WHEN 2 * n_green > n_pairs
        |    AND (2 * n_green - n_pairs) * (2 * n_green - n_pairs) > 9 * n_pairs
        |    THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_readability" ->
      """WITH per AS (
        |  SELECT source,
        |    206835 - (1015 * w) // ((w + 14) // 15) - (84600 * syl) // w AS fre_milli
        |  FROM (SELECT source,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |          CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS syl
        |        FROM documents)),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(fre_milli) AS BIGINT) AS sum_fre_milli,
        |    CAST(SUM(CASE WHEN fre_milli >= 60000 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy,
        |    CAST(SUM(CASE WHEN fre_milli < 30000 THEN 1 ELSE 0 END) AS BIGINT) AS n_hard
        |  FROM per GROUP BY 1)
        |SELECT source, n,
        |  CASE WHEN sum_fre_milli >= 0 THEN (sum_fre_milli * 1000) // n
        |       ELSE -((-sum_fre_milli * 1000) // n) END AS mean_fre_micro,
        |  n_easy, n_hard
        |FROM g ORDER BY source""".stripMargin,

    "q_burstiness" ->
      """WITH tf AS (
        |  SELECT t, doc_id, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1, 2),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |g AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS df, CAST(SUM(c) AS BIGINT) AS s,
        |    CAST(SUM(c * c) AS BIGINT) AS ss
        |  FROM tf GROUP BY 1)
        |SELECT t, df, s,
        |  ((n_docs * ss - s * s) * 1000000) // (s * (n_docs - 1)) AS vmr_micro
        |FROM g, nn WHERE s >= 50
        |ORDER BY vmr_micro DESC, t LIMIT 30""".stripMargin,
    "q_stem" ->
      """WITH t AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |s AS (
        |  SELECT lang, w,
        |    CASE
        |      WHEN length(w) > 3 AND w LIKE '%ies'
        |        THEN concat(substring(w, 1, length(w) - 3), 'y')
        |      WHEN length(w) > 2 AND w LIKE '%es'
        |           AND NOT (w LIKE '%aes' OR w LIKE '%ees' OR w LIKE '%oes')
        |        THEN substring(w, 1, length(w) - 1)
        |      WHEN length(w) > 1 AND w LIKE '%s'
        |           AND NOT (w LIKE '%us' OR w LIKE '%ss')
        |        THEN substring(w, 1, length(w) - 1)
        |      ELSE w END AS stem
        |  FROM t)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN stem <> w THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(count(DISTINCT w) AS BIGINT) AS vocab_before,
        |  CAST(count(DISTINCT stem) AS BIGINT) AS vocab_after,
        |  ((CAST(count(DISTINCT w) AS BIGINT) - CAST(count(DISTINCT stem) AS BIGINT)) * 1000000)
        |    // CAST(count(DISTINCT w) AS BIGINT) AS shrink_micro
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    "q_repeat_run" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |r AS (
        |  SELECT doc_id, tk,
        |    list_filter(range(1, len(tk) + 1), i ->
        |      CASE WHEN i = 1 THEN true ELSE tk[i] <> tk[i - 1] END) AS bp
        |  FROM t),
        |e AS (SELECT doc_id, tk, bp, list_append(bp, len(tk) + 1) AS ext FROM r)
        |SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(len(bp) AS BIGINT) AS n_runs,
        |  CAST(list_max(list_transform(range(1, len(bp) + 1),
        |    j -> ext[j + 1] - ext[j])) AS BIGINT) AS max_run,
        |  (CAST(len(bp) AS BIGINT) * 1000000) // len(tk) AS runs_micro
        |FROM e ORDER BY doc_id""".stripMargin,

    // Greedy longest-match WordPiece, replayed exactly: the per-word
    // cursor loop is a recursive CTE (one round per emitted piece,
    // depth <= max word length), and the wordpiece_tokens vocab
    // predicate — (String.hashCode & 0x7fffffff) % 5 == 0 — is inlined
    // as exact integer arithmetic (31-polynomial over code units;
    // <= 4 units never overflows 32 bits, so no wrap emulation, and
    // hash >= 0 makes the mask a no-op). Valid for BMP text where
    // DuckDB's code-point substr == Java's unit substring; the
    // fixture is ASCII (asserted in TextAnalysisSpec).
    "q_tokenize" ->
      """WITH RECURSIVE words AS (
        |  SELECT doc_id, i AS w_idx, tk[i] AS w
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))),
        |seg AS (
        |  SELECT doc_id, w_idx, w, 1 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM words
        |  UNION ALL
        |  SELECT doc_id, w_idx, w, pos + l,
        |    list_append(pieces, CASE WHEN pos = 1 THEN substr(w, pos, l)
        |                             ELSE '##' || substr(w, pos, l) END)
        |  FROM (
        |    SELECT doc_id, w_idx, w, pos, pieces,
        |      CASE WHEN len(w) - pos + 1 >= 4 AND
        |             (29791 * unicode(substr(w, pos, 1)) + 961 * unicode(substr(w, pos + 1, 1))
        |              + 31 * unicode(substr(w, pos + 2, 1)) + unicode(substr(w, pos + 3, 1))) % 5 = 0 THEN 4
        |           WHEN len(w) - pos + 1 >= 3 AND
        |             (961 * unicode(substr(w, pos, 1)) + 31 * unicode(substr(w, pos + 1, 1))
        |              + unicode(substr(w, pos + 2, 1))) % 5 = 0 THEN 3
        |           WHEN len(w) - pos + 1 >= 2 AND
        |             (31 * unicode(substr(w, pos, 1)) + unicode(substr(w, pos + 1, 1))) % 5 = 0 THEN 2
        |           ELSE 1 END AS l
        |    FROM seg WHERE pos <= len(w))),
        |docp AS (
        |  SELECT doc_id, flatten(list(pieces ORDER BY w_idx)) AS pieces
        |  FROM seg WHERE pos > len(w) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(p.pieces) AS BIGINT) AS n_pieces,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
        |  array_to_string(p.pieces[1:8], ',') AS head_csv
        |FROM documents d JOIN docp p USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_bpe_train" -> bpeTrainOracle,
    "q_bpe_encode" -> bpeEncodeOracle,

    "q_bpe_fertility" -> bpeOracle(
      """SELECT d.lang, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(SUM(len(w.syms)) AS BIGINT) AS n_pieces,
        |  CAST(SUM(length(w.t)) AS BIGINT) AS n_chars,
        |  CAST(SUM(len(w.syms)) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
        |    AS fertility_micro,
        |  CAST(SUM(length(w.t)) AS BIGINT) * 1000000 // CAST(SUM(len(w.syms)) AS BIGINT)
        |    AS chars_per_piece_micro
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents) d
        |JOIN w5 w ON d.t = w.t
        |WHERE d.t <> ''
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),

    "q_truncation_loss" ->
      """WITH nt AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
        |sweep AS (
        |  SELECT max_len, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN nt > max_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
        |    CAST(SUM(nt) AS BIGINT) AS tokens_total,
        |    CAST(SUM(LEAST(nt, max_len)) AS BIGINT) AS tokens_kept
        |  FROM nt, (SELECT unnest([CAST(64 AS BIGINT), CAST(128 AS BIGINT),
        |    CAST(256 AS BIGINT)]) AS max_len)
        |  GROUP BY max_len)
        |SELECT max_len, n_docs, n_truncated, tokens_total, tokens_kept,
        |  ((tokens_total - tokens_kept) * 1000000) // tokens_total AS loss_micro
        |FROM sweep ORDER BY max_len""".stripMargin,
    "q_bpe_tokens" -> bpeTokensOracle,

    // Full replay: vocabulary + quantized surprisals recomputed in
    // SQL (the Spark plan folds the SAME counts as plan literals —
    // this compare proves the fold faithful), then the Viterbi DP as
    // a list_reduce over a [0, -1, …] accumulator with 1-based
    // subscripts; list_position returns 0 on miss in both engines.
    "q_unigram_lm" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |words AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok
        |  WHERE len(w) BETWEEN 1 AND 24 GROUP BY w),
        |pc AS (
        |  SELECT p, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(flatten(list_transform(range(1, len(w) + 1), i ->
        |      list_transform(range(CAST(i AS INTEGER), CAST(least(i + 3, len(w)) AS INTEGER) + 1), j ->
        |        substr(w, CAST(i AS INTEGER), CAST(j - i AS INTEGER) + 1))))) AS p
        |    FROM words) GROUP BY p),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM pc),
        |voc AS (
        |  SELECT p, CAST(floor(ln(CAST(total AS DOUBLE) / cnt) * 10000 + 0.5) AS BIGINT) AS cost
        |  FROM pc, tot WHERE len(p) = 1 OR cnt * 2000 >= total),
        |vm AS (SELECT list(p ORDER BY p) AS lp, list(cost ORDER BY p) AS lc FROM voc),
        |dp AS (
        |  SELECT w AS word, freq, CAST(len(w) AS BIGINT) AS n_chars,
        |    list_reduce(
        |      list_prepend(
        |        list_concat([CAST(0 AS BIGINT)], list_transform(range(1, len(w) + 1), x -> CAST(-1 AS BIGINT))),
        |        list_transform(range(1, len(w) + 1), i -> [CAST(i AS BIGINT)])),
        |      (acc, st) -> list_transform(acc, (dv, k) -> CASE WHEN k = st[1] + 1 THEN
        |          coalesce(list_aggregate(list_filter(
        |            list_transform(range(greatest(0, st[1] - 4), st[1]), j ->
        |              CASE WHEN acc[CAST(j AS INTEGER) + 1] >= 0
        |                     AND list_position(vm.lp, substr(w, CAST(j AS INTEGER) + 1, CAST(st[1] - j AS INTEGER))) > 0
        |                   THEN acc[CAST(j AS INTEGER) + 1]
        |                        + vm.lc[list_position(vm.lp, substr(w, CAST(j AS INTEGER) + 1, CAST(st[1] - j AS INTEGER)))] * 64 + 1
        |                   ELSE NULL END),
        |            x -> x IS NOT NULL), 'min'), CAST(-1 AS BIGINT))
        |        ELSE dv END))[len(w) + 1] AS combined
        |  FROM words, vm)
        |SELECT word, freq, n_chars,
        |  combined // 64 AS cost_micro, combined % 64 AS n_pieces
        |FROM dp ORDER BY word""".stripMargin,

    "q_vocab_coverage" ->
      """WITH tf AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY t),
        |r AS (
        |  SELECT n, row_number() OVER (ORDER BY n DESC, t) AS k,
        |    CAST(SUM(n) OVER (ORDER BY n DESC, t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM tf),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM tf)
        |SELECT k, cum AS cum_tokens, (cum * 1000000) // total AS coverage_micro
        |FROM r, tot WHERE k IN (5, 10, 20) ORDER BY k""".stripMargin,

    "q_bpe_pairs" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |pr AS (
        |  SELECT unnest(list_transform(range(1, length(t)), i -> substring(t, i, 2))) AS pair
        |  FROM tok WHERE length(t) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pr
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_real,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        | round(CAST(list_aggregate(list_transform(string_split(text, ' '), t -> length(t)), 'sum') AS BIGINT)
        |       / len(string_split(text, ' ')), 4) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_lang_agg" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
        | count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_script_mix" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    text || ' Ref ' || doc_id || ': Q' || CAST(doc_id % 4 + 1 AS VARCHAR)
        |      || ' (c) 2026 Résumé!' AS mixed
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(length(mixed) AS BIGINT) AS n,
        |    CAST(length(mixed) - length(regexp_replace(mixed, '[A-Z]', '', 'g')) AS BIGINT) AS n_upper,
        |    CAST(length(mixed) - length(regexp_replace(mixed, '[a-z]', '', 'g')) AS BIGINT) AS n_lower,
        |    CAST(length(mixed) - length(regexp_replace(mixed, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(length(mixed) - length(regexp_replace(mixed, ' ', '', 'g')) AS BIGINT) AS n_space
        |  FROM m)
        |SELECT doc_id, n, n_upper, n_lower, n_digit, n_space,
        |  n - n_upper - n_lower - n_digit - n_space AS n_other,
        |  (n_digit * 1000000) // n AS digit_micro,
        |  ((n - n_upper - n_lower - n_digit - n_space) * 1000000) // n AS other_micro,
        |  (n_digit * 1000000) // n > 20000 AS suspect
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        | round(len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')), 4) AS distinct_ratio,
        | round(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is')))
        |       / len(string_split(text, ' ')), 4) AS stopword_ratio,
        | round(0.5 * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')))
        |     + 0.5 * (1.0 - len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is')))
        |       / len(string_split(text, ' '))), 4) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality_ensemble" ->
      s"""WITH sig AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    len(list_filter(string_split(text, ' '),
         |      t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop,
         |    (len(list_distinct(string_split(text, ' '))) * 1000000)
         |      // len(string_split(text, ' ')) AS distinct_micro,
         |    ((length(text) - (len(string_split(text, ' ')) - 1)) * 1000000)
         |      // len(string_split(text, ' ')) AS mean_len_micro,
         |    len(list_filter(string_split(text, ' '),
         |      t -> t IN ('the','and','of','der','und','das','le','la','et','el','los','y'))) AS n_marker
         |  FROM documents)
         |SELECT doc_id, n_tokens, distinct_micro, mean_len_micro, reasons,
         |  reasons = 0 AS keep
         |FROM (
         |  SELECT doc_id, n_tokens, distinct_micro, mean_len_micro,
         |    CAST(
         |      (CASE WHEN n_tokens < 5 THEN 1 ELSE 0 END)
         |      + (CASE WHEN n_tokens > 120 THEN 2 ELSE 0 END)
         |      + (CASE WHEN n_stop < 1 THEN 4 ELSE 0 END)
         |      + (CASE WHEN distinct_micro < 300000 THEN 8 ELSE 0 END)
         |      + (CASE WHEN mean_len_micro < 3000000 OR mean_len_micro > 11000000 THEN 16 ELSE 0 END)
         |      + (CASE WHEN n_marker = 0 THEN 32 ELSE 0 END)
         |    AS BIGINT) AS reasons
         |  FROM sig)
         |ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      s"""SELECT doc_id, lang, pred_lang FROM ($langPredSql) ORDER BY doc_id""",

    "q_langid_confusion" ->
      s"""WITH pred AS ($langPredSql),
         |m AS (
         |  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY lang, pred_lang)
         |SELECT lang, pred_lang, n,
         |  (n * 1000000) // CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS share_micro
         |FROM m ORDER BY lang, pred_lang""".stripMargin,

    "q_cohen_kappa" ->
      s"""WITH pred AS ($langPredSql),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS r_en,
         |    CAST(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
         |    CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS r_de,
         |    CAST(sum(CASE WHEN pred_lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_de,
         |    CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS r_fr,
         |    CAST(sum(CASE WHEN pred_lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS c_fr,
         |    CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS r_es,
         |    CAST(sum(CASE WHEN pred_lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS c_es,
         |    CAST(sum(CASE WHEN lang = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS r_und,
         |    CAST(sum(CASE WHEN pred_lang = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS c_und
         |  FROM pred),
         |q AS (
         |  SELECT n, n_agree, (n_agree * 1000000) // n AS po_micro,
         |    (((r_en * 1000000) // n) * ((c_en * 1000000) // n)
         |     + ((r_de * 1000000) // n) * ((c_de * 1000000) // n)
         |     + ((r_fr * 1000000) // n) * ((c_fr * 1000000) // n)
         |     + ((r_es * 1000000) // n) * ((c_es * 1000000) // n)
         |     + ((r_und * 1000000) // n) * ((c_und * 1000000) // n)) // 1000000 AS pe_micro
         |  FROM m)
         |SELECT n, n_agree, po_micro, pe_micro,
         |  CASE WHEN po_micro >= pe_micro
         |    THEN ((po_micro - pe_micro) * 1000000) // (1000000 - pe_micro)
         |    ELSE -(((pe_micro - po_micro) * 1000000) // (1000000 - pe_micro))
         |  END AS kappa_micro
         |FROM q""".stripMargin,

    "q_langid_trigram" ->
      """WITH tris AS (
        |  SELECT doc_id, lang, unnest(list_transform(
        |    range(1, greatest(len(text) - 2, 0) + 1), i -> substr(text, i, 3))) AS tri
        |  FROM documents),
        |lp AS (
        |  SELECT lang AS p_lang, tri, r_lang FROM (
        |    SELECT lang, tri, row_number() OVER (
        |      PARTITION BY lang ORDER BY count(*) DESC, tri) AS r_lang
        |    FROM tris GROUP BY lang, tri)
        |  WHERE r_lang <= 30),
        |dp AS (
        |  SELECT doc_id, tri, r_doc FROM (
        |    SELECT doc_id, tri, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY count(*) DESC, tri) AS r_doc
        |    FROM tris GROUP BY doc_id, tri)
        |  WHERE r_doc <= 20),
        |langs AS (SELECT DISTINCT lang AS p_lang FROM tris),
        |scored AS (
        |  SELECT dp.doc_id, langs.p_lang,
        |    CAST(sum(coalesce(abs(dp.r_doc - lp.r_lang), 30)) AS BIGINT) AS dist
        |  FROM dp CROSS JOIN langs
        |  LEFT JOIN lp ON lp.p_lang = langs.p_lang AND lp.tri = dp.tri
        |  GROUP BY dp.doc_id, langs.p_lang),
        |best AS (
        |  SELECT doc_id, p_lang AS pred_lang, dist FROM (
        |    SELECT doc_id, p_lang, dist, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY dist, p_lang) AS rk
        |    FROM scored)
        |  WHERE rk = 1)
        |SELECT d.doc_id, d.lang, b.pred_lang, d.lang = b.pred_lang AS correct, b.dist
        |FROM documents d JOIN best b ON b.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_tokenizer_fertility" ->
      """WITH t AS (
        |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS a,
        |    CAST(ceil(len(text) / 4.0) AS BIGINT) AS sub,
        |    CAST(len(text) AS BIGINT) AS ch
        |  FROM documents),
        |g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(w) AS BIGINT) AS n_words,
        |    CAST(sum(a) AS BIGINT) AS n_alpha, CAST(sum(sub) AS BIGINT) AS n_subwords,
        |    CAST(sum(ch) AS BIGINT) AS n_chars
        |  FROM t GROUP BY lang)
        |SELECT lang, n_docs, n_words, n_alpha, n_subwords,
        |  (n_alpha * 1000000) // n_words AS alpha_per_word_micro,
        |  (n_subwords * 1000000) // n_words AS sub_per_word_micro,
        |  (n_chars * 1000000) // n_subwords AS bytes_per_sub_micro
        |FROM g ORDER BY lang""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp, md5(substr(text, 1, 64)) AS prefix_fp,
        | CAST(length(text) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint_rolling" ->
      """WITH ws AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 6),
        |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
        |        j -> CAST(strpos('0123456789abcdef',
        |               substr(md5(array_to_string(toks[i:i+7], ' ')), j, 1)) - 1 AS BIGINT))),
        |        (a, b) -> a * 16 + b))) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |SELECT doc_id,
        | CAST(len(hs) AS BIGINT) AS n_windows,
        | list_aggregate(hs, 'min') AS min_fp,
        | array_to_string(list_transform(list_sort(hs)[1:4], h -> CAST(h AS VARCHAR)), ',') AS bottom4_csv
        |FROM ws ORDER BY doc_id""".stripMargin,

    // Distinct 3-gram shingle hashes per doc (the NearDup hshSql
    // md5-fold idiom), exploded; first occurrence = min doc_id per
    // hash; novelty in exact micro-units.
    "q_ngram_novelty" ->
      """WITH hsh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
        |        j -> CAST(strpos('0123456789abcdef',
        |               substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), j, 1)) - 1 AS BIGINT))),
        |        (a, b) -> a * 16 + b))) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |ex AS (SELECT doc_id, unnest(hs) AS h FROM hsh),
        |first AS (SELECT h, min(doc_id) AS first_doc FROM ex GROUP BY h)
        |SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN ex.doc_id = first.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  (CAST(SUM(CASE WHEN ex.doc_id = first.first_doc THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(count(*) AS BIGINT) AS novelty_micro
        |FROM ex JOIN first USING (h)
        |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin,

    "q_novelty_decay" ->
      """WITH hsh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
        |        j -> CAST(strpos('0123456789abcdef',
        |               substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), j, 1)) - 1 AS BIGINT))),
        |        (a, b) -> a * 16 + b))) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |ex AS (SELECT doc_id, unnest(hs) AS h FROM hsh),
        |first AS (SELECT h, min(doc_id) AS first_doc FROM ex GROUP BY h),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        |SELECT (10 * (ex.doc_id - 1)) // n + 1 AS decile,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN ex.doc_id = first.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  (CAST(SUM(CASE WHEN ex.doc_id = first.first_doc THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(count(*) AS BIGINT) AS novelty_micro
        |FROM ex JOIN first USING (h), n
        |GROUP BY 1 ORDER BY decile""".stripMargin,

    "q_token_regex" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
        | CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens,
        | CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_repetition" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | round(1.0 - len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')), 4) AS dup_token_frac,
        | CASE WHEN len(string_split(text, ' ')) <= 1 THEN 0.0
        |      ELSE round(1.0 - len(list_distinct(list_transform(range(1, len(string_split(text, ' '))),
        |             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])))
        |           / (len(string_split(text, ' ')) - 1), 4)
        | END AS dup_bigram_frac
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_bm25" ->
      """WITH stats AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |    string_split(text, ' ') AS tk
        |  FROM documents),
        |corpus AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM stats),
        |tf AS (
        |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tk) AS term FROM stats)
        |  WHERE term IN ('the', 'and', 'of')
        |  GROUP BY doc_id, dl, term),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT doc_id, term,
        |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl * n_docs / sum_dl)) AS score_t
        |  FROM tf JOIN dft USING (term), corpus)
        |SELECT doc_id,
        |  round(COALESCE(sum(CASE WHEN term = 'the' THEN score_t END), 0)
        |      + COALESCE(sum(CASE WHEN term = 'and' THEN score_t END), 0)
        |      + COALESCE(sum(CASE WHEN term = 'of' THEN score_t END), 0), 4) AS bm25
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_lm_score" ->
      """WITH stats AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(tk) AS token FROM stats)
        |  GROUP BY doc_id, dl, token),
        |vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY token),
        |total AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM vocab),
        |parts AS (
        |  SELECT doc_id, dl,
        |    CAST(floor(CASE WHEN v.c IS NOT NULL THEN ln(v.c / t) ELSE ln(1.0 / t) END
        |               * tf * 10000 + 0.5) AS BIGINT) AS lp_micro
        |  FROM tf LEFT JOIN (SELECT * FROM vocab WHERE c >= 5) v USING (token), total)
        |SELECT doc_id,
        |  round(CAST(sum(lp_micro) AS DOUBLE) / (dl * 10000), 4) AS score
        |FROM parts GROUP BY doc_id, dl ORDER BY doc_id""".stripMargin,

    "q_pmi" ->
      """WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |pairs AS (
        |  SELECT tk[i] AS a, tk[i + 1] AS b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tk)
        |  GROUP BY 1, 2),
        |uni AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS n_t
        |  FROM (SELECT unnest(tk) AS t FROM tk) GROUP BY t),
        |tot AS (
        |  SELECT (SELECT CAST(sum(n_t) AS BIGINT) FROM uni) AS tt,
        |         (SELECT CAST(sum(n_ab) AS BIGINT) FROM pairs) AS pp)
        |SELECT a, b, n_ab,
        |  CAST(floor(ln((CAST(n_ab AS DOUBLE) * tt * tt) /
        |                (CAST(pp AS DOUBLE) * ua.n_t * ub.n_t)) * 10000 + 0.5) AS BIGINT) AS pmi_micro
        |FROM pairs
        |JOIN uni ua ON ua.t = a
        |JOIN uni ub ON ub.t = b, tot
        |WHERE n_ab * 1000 >= pp
        |ORDER BY pmi_micro DESC, a, b""".stripMargin,

    "q_chrf" ->
      """WITH tk AS (
        |  SELECT doc_id AS pair_id, string_split(text, ' ') AS tk FROM documents),
        |tok AS (
        |  SELECT pair_id, unnest(tk) AS t, unnest(range(1, len(tk) + 1)) AS i FROM tk),
        |base AS (
        |  SELECT pair_id,
        |    string_agg(t, '' ORDER BY i) AS rtxt,
        |    string_agg(CASE WHEN i % 4 = 0 THEN 'the' ELSE t END, '' ORDER BY i) AS ctxt
        |  FROM tok GROUP BY pair_id),
        |cg AS (
        |  SELECT pair_id, substring(ctxt, i, 3) AS g, CAST(count(*) AS BIGINT) AS cc
        |  FROM (SELECT pair_id, ctxt, unnest(range(1, length(ctxt) - 1)) AS i FROM base)
        |  GROUP BY 1, 2),
        |rg AS (
        |  SELECT pair_id, substring(rtxt, i, 3) AS g, CAST(count(*) AS BIGINT) AS cr
        |  FROM (SELECT pair_id, rtxt, unnest(range(1, length(rtxt) - 1)) AS i FROM base)
        |  GROUP BY 1, 2),
        |clip AS (
        |  SELECT pair_id, CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS ov
        |  FROM cg JOIN rg USING (pair_id, g) GROUP BY 1),
        |tc AS (SELECT pair_id, CAST(SUM(cc) AS BIGINT) AS tc FROM cg GROUP BY 1),
        |tr AS (SELECT pair_id, CAST(SUM(cr) AS BIGINT) AS tr FROM rg GROUP BY 1),
        |pr AS (
        |  SELECT pair_id, COALESCE(ov, 0) AS n_overlap,
        |    (COALESCE(ov, 0) * 1000000) // NULLIF(tc, 0) AS p_micro,
        |    (COALESCE(ov, 0) * 1000000) // NULLIF(tr, 0) AS r_micro
        |  FROM tc JOIN tr USING (pair_id) LEFT JOIN clip USING (pair_id))
        |SELECT pair_id, n_overlap, p_micro, r_micro,
        |  (2 * p_micro * r_micro) // NULLIF(p_micro + r_micro, 0) AS chrf_micro
        |FROM pr ORDER BY pair_id""".stripMargin,

    "q_collocation" ->
      s"""WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents),
         |pairs AS (
         |  SELECT tk[i] AS a, tk[i + 1] AS b, CAST(count(*) AS BIGINT) AS n_ab
         |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tk)
         |  GROUP BY 1, 2),
         |am AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM pairs GROUP BY 1),
         |bm AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM pairs GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS nn FROM pairs)
         |SELECT a, b, n_ab, n_a, n_b,
         |  CAST(floor((2.0 * ($llrTermsSql)) * 10000 + 0.5) AS BIGINT) AS llr_micro
         |FROM pairs JOIN am USING (a) JOIN bm USING (b), tot
         |WHERE n_ab >= 5
         |ORDER BY llr_micro DESC, a, b LIMIT 30""".stripMargin,

    "q_entropy" -> {
      val lnList = LnMicro.mkString("[", ",", "]")
      s"""WITH tf AS (
         |  SELECT doc_id, n, t, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         |               unnest(string_split(text, ' ')) AS t
         |        FROM documents)
         |  GROUP BY doc_id, n, t)
         |SELECT doc_id,
         |  round(CAST(any_value(n) * ($lnList)[CAST(any_value(n) AS INT)]
         |             - sum(tf * ($lnList)[CAST(tf AS INT)]) AS BIGINT)
         |        / (any_value(n) * 1000000.0), 4) AS entropy
         |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q_sparse_knn" ->
      """WITH posts AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS term
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM posts GROUP BY term),
        |w AS MATERIALIZED (
        |  SELECT posts.term, posts.doc_id, 1000000 // df AS w
        |  FROM posts JOIN dfreq ON posts.term = dfreq.term
        |  WHERE df BETWEEN 2 AND 100),
        |sc AS (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id,
        |    CAST(SUM(x.w * y.w) AS BIGINT) AS score,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM w x JOIN w y ON x.term = y.term AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id),
        |bo AS (
        |  SELECT a_id AS doc_id, b_id AS nbr_id, score, n_shared FROM sc
        |  UNION ALL
        |  SELECT b_id, a_id, score, n_shared FROM sc)
        |SELECT doc_id, nbr_id, score, n_shared, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, nbr_id) AS rk
        |  FROM bo)
        |WHERE rk <= 5
        |ORDER BY doc_id, rk""".stripMargin,

    "q_inverted_index" ->
      """WITH tf AS (
        |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY term, doc_id)
        |SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS ctf,
        |  array_to_string(list_slice(list_sort(list(doc_id)), 1, 20), ',') AS postings_head
        |FROM tf GROUP BY term
        |ORDER BY df DESC, term LIMIT 100""".stripMargin,

    "q_bigram_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bg AS (
        |  SELECT doc_id, tk[i] AS a, tk[i + 1] AS b
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM tok)),
        |tf AS (SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS tf
        |       FROM bg GROUP BY doc_id, a, b),
        |bgc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b),
        |uni AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c_t
        |  FROM (SELECT unnest(tk) AS t FROM tok) GROUP BY t),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS tt FROM uni),
        |parts AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(CASE WHEN k.c_ab IS NOT NULL THEN ln(k.c_ab / ua.c_t)
        |               ELSE ln(0.4 * ub.c_t / tt) END
        |               * tf.tf * 10000 + 0.5) AS BIGINT) AS lp_micro
        |  FROM tf
        |  LEFT JOIN (SELECT * FROM bgc WHERE c_ab >= 3) k USING (a, b)
        |  JOIN uni ua ON ua.t = tf.a
        |  JOIN uni ub ON ub.t = tf.b, tot),
        |nb AS (SELECT doc_id, CAST(len(tk) - 1 AS BIGINT) AS n_bg FROM tok)
        |SELECT p.doc_id,
        |  round(CAST(sum(lp_micro) AS BIGINT) / (any_value(n_bg) * 10000.0), 4) AS bigram_lp
        |FROM parts p JOIN nb USING (doc_id)
        |GROUP BY p.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_kneser_ney" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bg AS (
        |  SELECT doc_id, tk[i] AS a, tk[i + 1] AS b
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM tok)),
        |tf AS (SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS tf
        |       FROM bg GROUP BY doc_id, a, b),
        |bgc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b),
        |lft AS (SELECT a, CAST(count(*) AS BIGINT) AS n1a,
        |               CAST(sum(c_ab) AS BIGINT) AS c_a
        |        FROM bgc GROUP BY a),
        |rgt AS (SELECT b, CAST(count(*) AS BIGINT) AS n1b FROM bgc GROUP BY b),
        |typ AS (SELECT CAST(count(*) AS BIGINT) AS n1t FROM bgc),
        |parts AS (
        |  SELECT tf.doc_id,
        |    ((greatest(4 * c_ab - 3, 0) * n1t + 3 * n1a * n1b) * 1000000)
        |      // (4 * c_a * n1t) AS p_micro,
        |    tf.tf
        |  FROM tf JOIN bgc USING (a, b) JOIN lft USING (a) JOIN rgt USING (b), typ),
        |perdoc AS (
        |  SELECT doc_id, CAST(sum(p_micro * tf) AS BIGINT) AS sum_micro
        |  FROM parts GROUP BY doc_id),
        |nb AS (SELECT doc_id, CAST(greatest(len(tk) - 1, 0) AS BIGINT) AS n_bg FROM tok)
        |SELECT nb.doc_id, n_bg,
        |  CASE WHEN n_bg = 0 THEN 0
        |       ELSE CAST(coalesce(sum_micro, 0) AS BIGINT) // n_bg END AS kn_micro
        |FROM nb LEFT JOIN perdoc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0)
        |SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM corpus GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "q_dedup_url" ->
      """WITH crawl AS (
        |  SELECT doc_id,
        |    concat('https://', source, '.example.com/p/', CAST(doc_id AS VARCHAR)) AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    concat('HTTP://www.', source, '.EXAMPLE.com/p/',
        |      CAST(doc_id AS VARCHAR), '/?utm_source=feed#frag') AS url
        |  FROM documents WHERE doc_id % 4 = 0),
        |canonized AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(url),
        |      '^http://', 'https://'),
        |      '^https://www\.', 'https://'),
        |      '[?#].*$', ''),
        |      '/$', '') AS canon
        |  FROM crawl)
        |SELECT canon, min(doc_id) AS keep_id, count(*) AS n_variants
        |FROM canonized GROUP BY canon ORDER BY keep_id""".stripMargin,

    "q_bleu" ->
      """WITH base AS (
        |  SELECT doc_id AS pair_id, string_split(text, ' ') AS rtk,
        |    list_transform(range(1, len(string_split(text, ' ')) + 1),
        |      i -> IF(i % 4 = 0, 'the', string_split(text, ' ')[i])) AS ctk
        |  FROM documents),
        |cu AS (SELECT pair_id, unnest(ctk) AS g FROM base),
        |ru AS (SELECT pair_id, unnest(rtk) AS g FROM base),
        |cb AS (SELECT pair_id, unnest(list_transform(range(1, len(ctk)),
        |         i -> ctk[i] || ' ' || ctk[i + 1])) AS g FROM base),
        |rb AS (SELECT pair_id, unnest(list_transform(range(1, len(rtk)),
        |         i -> rtk[i] || ' ' || rtk[i + 1])) AS g FROM base),
        |c1 AS (SELECT pair_id, g, CAST(count(*) AS BIGINT) AS cc FROM cu GROUP BY 1, 2),
        |r1 AS (SELECT pair_id, g, CAST(count(*) AS BIGINT) AS cr FROM ru GROUP BY 1, 2),
        |c2 AS (SELECT pair_id, g, CAST(count(*) AS BIGINT) AS cc FROM cb GROUP BY 1, 2),
        |r2 AS (SELECT pair_id, g, CAST(count(*) AS BIGINT) AS cr FROM rb GROUP BY 1, 2),
        |t1 AS (SELECT pair_id, CAST(SUM(cc) AS BIGINT) AS tot FROM c1 GROUP BY 1),
        |t2 AS (SELECT pair_id, CAST(SUM(cc) AS BIGINT) AS tot FROM c2 GROUP BY 1),
        |k1 AS (SELECT c1.pair_id, CAST(SUM(least(c1.cc, r1.cr)) AS BIGINT) AS clip
        |       FROM c1 JOIN r1 USING (pair_id, g) GROUP BY 1),
        |k2 AS (SELECT c2.pair_id, CAST(SUM(least(c2.cc, r2.cr)) AS BIGINT) AS clip
        |       FROM c2 JOIN r2 USING (pair_id, g) GROUP BY 1),
        |p1 AS (SELECT t.pair_id, COALESCE(k.clip, 0) AS clip1,
        |         (COALESCE(k.clip, 0) * 1000000) // NULLIF(t.tot, 0) AS p1_micro
        |       FROM t1 t LEFT JOIN k1 k USING (pair_id)),
        |p2 AS (SELECT t.pair_id, COALESCE(k.clip, 0) AS clip2,
        |         (COALESCE(k.clip, 0) * 1000000) // NULLIF(t.tot, 0) AS p2_micro
        |       FROM t2 t LEFT JOIN k2 k USING (pair_id)),
        |lens AS (SELECT pair_id, CAST(len(rtk) AS BIGINT) AS n_tokens FROM base)
        |SELECT l.pair_id, l.n_tokens, p1.clip1, p1.p1_micro, p2.clip2, p2.p2_micro
        |FROM lens l
        |LEFT JOIN p1 USING (pair_id)
        |LEFT JOIN p2 USING (pair_id)
        |ORDER BY l.pair_id""".stripMargin,

    // The LCS DP replayed in portable SQL via the unigram_lm
    // list-accumulator trick (fold over [i] step lists, accumulator =
    // the previous DP row), using the prefix-max single-row-update
    // identity dp[i][j] = max(dp[i-1][j], max_{j'<=j, b[j']=a_i}
    // dp[i-1][j'-1]+1) — valid because one candidate token adds at
    // most one match per row; O(n·m²) here vs the native expression's
    // O(n·m), which is why the query samples pairs and caps at 32
    // tokens.
    "q_gazetteer" ->
      """WITH gaz AS (SELECT lower(n_name) AS entity FROM nation),
        |docs AS (
        |  SELECT doc_id,
        |    text || ' visited nation_' || CAST(doc_id % 25 AS VARCHAR)
        |         || ' and nation_' || CAST((doc_id + 7) % 25 AS VARCHAR) AS txt
        |  FROM documents),
        |tk AS (SELECT doc_id, unnest(string_split(txt, ' ')) AS tok FROM docs)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_mentions,
        |  array_to_string(list_sort(list_distinct(list(entity))), ',') AS entities
        |FROM tk JOIN gaz ON tok = entity
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_zipf" ->
      """WITH tf AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |pts AS (
        |  SELECT x, CAST(length(bin(cnt)) - 1 AS BIGINT) AS y FROM (
        |    SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS x,
        |      CAST(count(*) AS BIGINT) AS cnt
        |    FROM tf GROUP BY 1) t),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS np,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM pts)
        |SELECT np, sx, sy, sxy, sxx,
        |  ((np * sxy - sx * sy) * 1000) // NULLIF(np * sxx - sx * sx, 0) AS slope_milli,
        |  ((sy * sxx - sx * sxy) * 1000) // NULLIF(np * sxx - sx * sx, 0) AS intercept_milli
        |FROM m""".stripMargin,

    "q_rouge_l" ->
      """WITH base AS (
        |  SELECT doc_id AS pair_id, (string_split(text, ' '))[1:32] AS rtk
        |  FROM documents WHERE doc_id % 5 = 0),
        |aug AS (
        |  SELECT pair_id, rtk,
        |    list_transform(range(1, len(rtk) + 1),
        |      i -> IF(i % 4 = 0, 'the', rtk[CAST(i AS INTEGER)])) AS ctk
        |  FROM base),
        |dp AS (
        |  SELECT pair_id, CAST(len(rtk) AS BIGINT) AS n_tokens,
        |    list_reduce(
        |      list_prepend(
        |        list_transform(range(0, len(rtk) + 1), x -> CAST(0 AS BIGINT)),
        |        list_transform(range(1, len(ctk) + 1), i -> [CAST(i AS BIGINT)])),
        |      (acc, st) -> list_transform(acc, (ov, k) ->
        |        CASE WHEN k = 1 THEN CAST(0 AS BIGINT) ELSE
        |          greatest(ov, coalesce(list_aggregate(list_filter(
        |            list_transform(range(1, CAST(k AS INTEGER)), jj ->
        |              CASE WHEN rtk[CAST(jj AS INTEGER)] = ctk[CAST(st[1] AS INTEGER)]
        |                   THEN acc[CAST(jj AS INTEGER)] + 1 END),
        |            x -> x IS NOT NULL), 'max'), CAST(0 AS BIGINT)))
        |        END))[len(rtk) + 1] AS lcs_len
        |  FROM aug)
        |SELECT pair_id, n_tokens, lcs_len,
        |  (lcs_len * 1000000) // n_tokens AS p_micro,
        |  (lcs_len * 1000000) // n_tokens AS r_micro,
        |  CASE WHEN (lcs_len * 1000000) // n_tokens > 0
        |       THEN (2 * ((lcs_len * 1000000) // n_tokens) * ((lcs_len * 1000000) // n_tokens))
        |            // (2 * ((lcs_len * 1000000) // n_tokens))
        |       ELSE 0 END AS f_micro
        |FROM dp ORDER BY pair_id""".stripMargin,

    "q_keyphrase" ->
      s"""WITH toks AS (
         |  SELECT doc_id, pos, w,
         |    CASE WHEN w IN $stop THEN 1 ELSE 0 END AS st
         |  FROM (SELECT doc_id,
         |          generate_subscripts(string_split(text, ' '), 1) AS pos,
         |          unnest(string_split(text, ' ')) AS w
         |        FROM documents)),
         |members AS (
         |  SELECT doc_id, pos, w,
         |    CAST(SUM(st) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS sid
         |  FROM toks QUALIFY st = 0),
         |plen AS (
         |  SELECT doc_id, sid, CAST(count(*) AS BIGINT) AS plen
         |  FROM members GROUP BY 1, 2),
         |mem2 AS (
         |  SELECT m.doc_id, m.sid, m.pos, m.w, p.plen
         |  FROM members m JOIN plen p USING (doc_id, sid)
         |  WHERE p.plen <= 4),
         |ws AS (
         |  SELECT w, (CAST(SUM(plen) AS BIGINT) * 1000000)
         |    // CAST(count(*) AS BIGINT) AS wscore
         |  FROM mem2 GROUP BY w),
         |scored AS (
         |  SELECT doc_id, sid,
         |    CAST(SUM(wscore) AS BIGINT) AS score_micro,
         |    CAST(MAX(plen) AS BIGINT) AS plen,
         |    string_agg(w, ' ' ORDER BY pos) AS phrase
         |  FROM mem2 JOIN ws USING (w)
         |  GROUP BY doc_id, sid)
         |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur,
         |  CAST(MAX(plen) AS BIGINT) AS len,
         |  CAST(MAX(score_micro) AS BIGINT) AS score_micro
         |FROM scored GROUP BY phrase
         |ORDER BY score_micro DESC, phrase LIMIT 20""".stripMargin,

    "q_quality_sweep" ->
      s"""WITH scored AS (
         |  SELECT len(string_split(text, ' ')) AS n_toks,
         |    CAST(floor((0.5 * (len(list_distinct(string_split(text, ' ')))
         |        / len(string_split(text, ' ')))
         |      + 0.5 * (1.0 - len(list_filter(string_split(text, ' '),
         |          t -> t IN $stop)) / len(string_split(text, ' '))))
         |      * 100 + 0.5) AS BIGINT) AS qc
         |  FROM documents),
         |cells AS (
         |  SELECT qc, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_toks) AS BIGINT) AS n_toks
         |  FROM scored GROUP BY qc),
         |tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS toks_tot FROM cells),
         |cum AS (
         |  SELECT *,
         |    CAST(SUM(n_docs) OVER (ORDER BY qc DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
         |    CAST(SUM(n_toks) OVER (ORDER BY qc DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
         |  FROM cells)
         |SELECT qc, n_docs, n_toks, cum_docs, cum_toks,
         |  (cum_toks * 1000000) // toks_tot AS tok_retention_micro
         |FROM cum, tot ORDER BY qc DESC""".stripMargin,

    "q_code_detect" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, replace(text, ' ', ' = (x); ') AS text
         |  FROM documents WHERE doc_id % 4 = 0),
         |m AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(length(text) - length(${stripSymbols("text")}) AS BIGINT) AS sym_cnt,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nonspace,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
         |  FROM corpus),
         |r AS (
         |  SELECT doc_id, n_chars,
         |    (sym_cnt * 1000) // n_chars AS sym_milli,
         |    (nonspace * 1000) // ntok AS avg_tok_len_milli
         |  FROM m)
         |SELECT doc_id, n_chars, sym_milli, avg_tok_len_milli,
         |  sym_milli * 3 + (greatest(avg_tok_len_milli - 8000, 0) // 10) AS code_score_milli,
         |  sym_milli * 3 + (greatest(avg_tok_len_milli - 8000, 0) // 10) >= 100 AS is_code
         |FROM r
         |ORDER BY doc_id""".stripMargin
  )
}
