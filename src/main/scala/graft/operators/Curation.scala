package graft.operators

import graft.operators.PlanStash.Ckpt
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Span-grain corpus curation (SURVEY §2.6 north-star, beyond the
  * reference's surface): the operations between "document-level dedup"
  * and "training shards" that act on pieces OF documents — RAG-style
  * chunking, passage-level exact dedup (the distributed, passage-grain
  * analogue of Lee et al.'s "Deduplicating Training Data Makes
  * Language Models Better" suffix-array substring dedup), and
  * duplicate-span removal with document reconstruction.
  *
  * Passages are consecutive NON-overlapping 16-token blocks (the
  * fixture corpus is single-space word soup with no sentence/paragraph
  * boundaries, so fixed token blocks are the natural span unit; with
  * real text the splitter would be paragraph/sentence-aware and
  * everything downstream is unchanged). Chunks are OVERLAPPING
  * 32-token windows at stride 24 — the retrieval-index form, where
  * overlap prevents answers straddling a boundary.
  *
  * Scale posture:
  *  - chunking is MAP-ONLY (split + windowed slice + explode) — at
  *    100 TB it runs at scan speed and emits ~n/stride rows per doc.
  *  - passage dedup shuffles the 32-hex md5 fingerprint of each
  *    passage, NEVER the passage text (the q_dedup_exact posture at
  *    passage grain). Canonical-occurrence choice is a window over
  *    each fingerprint's tiny occurrence group.
  *  - reconstruction re-groups surviving passages by doc_id — the
  *    second and last shuffle; payload is the surviving text exactly
  *    once. A doc whose every passage duplicates an earlier one
  *    vanishes (the degenerate case IS document dedup).
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  /** Passage block size (tokens). */
  private val B = 16

  /** q_mlm_mask's random-token vocabulary cap: the 80-10-10 "random
    * vocabulary token" branch indexes the top-[[MlmVocabCap]] words by
    * (frequency DESC, word ASC) — a bounded, deterministic stand-in
    * for a trained tokenizer vocab, so the driver-side literal fold is
    * O(cap) at ANY corpus size (the previous corpus-distinct collect
    * was unbounded). Shared with the DuckDB oracle via interpolation.
    * A no-op on the fixture (31-word vocab < cap), so the masking
    * output is unchanged there — the cap exists for the 100 TB run. */
  private[graft] val MlmVocabCap = 512

  /** SemDeDup within-cell comparison window: each vector is compared
    * only against cluster-mates at rank distance ≤ SemW (rank =
    * row_number by vec_id within the cell). An order of magnitude above
    * the largest fixture cell, so fixture results equal the uncapped
    * algorithm; at 100 TB it is the guard that keeps a hot cell linear.
    */
  private[graft] val SemW = 1024

  /** Bounded within-cell candidate pairs for SemDeDup-style dedup.
    *
    * Input must carry (vec_id, cell, e); output pairs each row with the
    * cluster-mates at 1 ≤ rank distance ≤ w below it, as
    * (vec_id, e, rnk, b_id, eb, b_rnk).
    *
    * The naive cell-equi self-join enumerates O(|cell|²) rows per cell
    * before any filter — fine when k grows with the corpus (the
    * SemDeDup paper's cost model), quadratic-blowup-silently when a
    * fixed codebook meets a hot cell. Here the pigeonhole trick from
    * the SimHash chunk index bounds enumeration: rows join on
    * (cell, block) where block = (rnk-1) div w and each index row
    * advertises to its own block and the next, so every (probe, mate)
    * pair at distance ≤ w shares a join key, and the join emits at most
    * 2w candidates per probe — O(|cell|·w) per cell, never quadratic.
    */
  private[graft] def boundedCellPairs(assigned: DataFrame, w: Int): DataFrame = {
    val wCell = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    val ranked = assigned.withColumn("rnk", row_number().over(wCell))
    val probe = ranked.withColumn("blk", expr(s"(rnk - 1) div $w"))
    val index = ranked.select(col("cell"), col("vec_id").as("b_id"),
        col("e").as("eb"), col("rnk").as("b_rnk"))
      .withColumn("blk",
        explode(expr(s"array((b_rnk - 1) div $w, (b_rnk - 1) div $w + 1)")))
    probe.join(index, Seq("cell", "blk"))
      .filter(col("b_rnk") < col("rnk") && col("rnk") - col("b_rnk") <= w)
      .drop("blk")
  }

  /** Corpus with injected cross-document duplicate spans: every 4th
    * doc gets a "quoting" twin (doc_id + 1,000,000) carrying its first
    * 32 tokens verbatim — two full passages of exact overlap, the
    * fixture analogue of boilerplate/quotation reuse. (The raw word
    * soup has no natural 16-token repeats; same injection precedent as
    * q_dedup_exact's mirrored copies.)
    */
  private def spanCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val quotes = docs.filter(col("doc_id") % 4 === 0)
      .selectExpr("doc_id + 1000000 AS doc_id",
        "array_join(slice(split(text, ' '), 1, 32), ' ') AS text")
    docs.unionByName(quotes)
  }

  /** (doc_id, pos, ptext): doc → non-overlapping B-token passages.
    * sequence(0, (n-1) div B) enumerates exactly ceil(n/B) block
    * indices; the trailing block keeps its short remainder so every
    * token belongs to exactly one passage.
    */
  private def passages(corpus: DataFrame): DataFrame =
    corpus
      .selectExpr("doc_id", "split(text, ' ') AS tk")
      .selectExpr("doc_id",
        s"posexplode(transform(sequence(0, cast((size(tk) - 1) / $B as int)), " +
          s"b -> array_join(slice(tk, b * $B + 1, $B), ' '))) AS (pos, ptext)")

  /** DuckDB twin of [[spanCorpus]] + [[passages]]: the quote-twin
    * corpus, then lateral block-index enumeration (range cross join +
    * bound filter ≡ Spark's sequence upper bound) with 1-based
    * inclusive list_slice ≡ Spark's (start, length) slice.
    */
  private val passCtes =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |    array_to_string(list_slice(string_split(text, ' '), 1, 32), ' ') AS text
       |  FROM documents WHERE doc_id % 4 = 0),
       |tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
       |pass AS (
       |  SELECT doc_id, b AS pos,
       |    array_to_string(list_slice(tk, b * $B + 1, b * $B + $B), ' ') AS ptext
       |  FROM (SELECT doc_id, tk,
       |          unnest(range(0, (len(tk) + $B - 1) // $B)) AS b FROM tok))""".stripMargin

  /** Suffix-context length (chars): the bounded sort key of the
    * suffix-ordering family. Classic suffix-array property: all
    * occurrences of any shared prefix are CONTIGUOUS in suffix-sorted
    * order provided the sort key covers that prefix — so ordering by
    * the first [[SufCtx]] characters of each suffix detects every
    * repeated substring of length ≤ SufCtx EXACTLY, and the adjacent-
    * pair LCP (capped at SufCtx by construction) is exact below the
    * cap. [[SufDupMin]] (the Lee et al. 2022 ExactSubstr threshold
    * scaled to the ~300-char fixture docs) sits well under the cap.
    */
  private val SufCtx = 64
  private val SufDupMin = 32

  /** Adjacent suffix pairs of the quote-twin corpus in TRUE (unbounded)
    * suffix-sorted order, with exact UNBOUNDED char-grain LCP — the
    * shared frame of the CHARACTER-grain exact-substring family
    * (q_suffix_dup / q_longest_repeat / q_copy_pairs), complementing
    * q_substr_dedup's TOKEN-window fingerprints: arbitrary-alignment
    * character repeats, the actual Lee et al. "Deduplicating Training
    * Data Makes Language Models Better" suffix-array method
    * re-expressed as Spark plans.
    *
    * Pipeline (the round-12 64-char cap LIFTED): explode every
    * character position (map-only), key each suffix by its first
    * [[SufCtx]] chars (the shuffle carries ≤ 64-byte keys, NEVER
    * unbounded suffix text), resolve the ≥ 64-char ties to FULL
    * suffix ranks by [[fullSuffixRanks]]' prefix doubling (work ∝
    * still-tied duplicate mass per round, O(log L) rounds), then take
    * the adjacent pairs with ONE window partitioned by the 3-char key
    * prefix (bucket; monotone under the full-rank order because the
    * rank order refines the bounded-key order) ordered by (rk0, rk,
    * doc_id, p) — its leads are the in-bucket pairs, and a bucket-
    * census Aggregate stitches each bucket's last row to the next
    * bucket's first. The global rank is never materialized. Take the
    * bounded `prefix_len` of the 64-char keys, then EXTEND the
    * saturated pairs (lcp = 64) by 256-char text-chunk probes until the
    * first mismatching chunk — each round touches only the still-
    * saturated pairs (∝ long-repeat mass, never corpus-proportional),
    * and the chunk walk is exact: a partial chunk match ends the LCP
    * at the mismatch, a short tail ends it at the text end.
    *
    * Why the full-rank order matters (and the capped order was wrong
    * for repeats > 64 chars): with bounded keys, suffixes inside one
    * 64-char tie group sat in (doc_id, p) order, so two suffixes
    * sharing 200 chars could be NON-adjacent and the 200-char repeat
    * surfaced as lcp = 64 — q_longest_repeat's "top-10 longest"
    * saturated at the cap. Under the true order the classic
    * suffix-array property holds unbounded: every repeat's length IS
    * some adjacent pair's LCP.
    *
    * Memoized per (session, dir) via [[CachedRelation]] (the
    * clusterLabels pattern, 1 h TTL): three queries consume the same
    * sorted-pair frame, and at 100 TB the position-grain sort is far
    * too expensive to run thrice. Deterministic: ties (IDENTICAL full
    * suffixes) break by (doc_id, pos) in both engines.
    */
  private[graft] val suffixPairCache = new CachedRelation(ttlMillis = 3600L * 1000)

  private[graft] def suffixPairs(s: SparkSession, d: String): DataFrame =
    // resolveProbed, not resolve: the cached frame is backed by
    // localCheckpoint blocks, so a hit checks that the storage listing
    // still holds them all and heals on executor loss (the exactKnnL2
    // pattern) or q_suffix_dup / q_longest_repeat / q_copy_pairs all
    // fail for the rest of the TTL
    suffixPairCache.resolveProbed(s"${System.identityHashCode(s)}:$d") {
      graft.functions.VectorFunctions.register(s)
      val texts = spanCorpus(s, d)
        .select(col("doc_id"), col("text"))
        // sequence(1, length(text)) on an EMPTY text steps DOWNWARD to
        // [1, 0] (Spark sequences are bidirectional) where the oracle's
        // range(1, n+1) is empty — drop zero-length docs before the
        // explode so both engines agree (latent: fixtures are non-empty)
        .filter(length(col("text")) > 0)
        .ckpt() // read by the explode AND every probe round
      val suf = texts
        .withColumn("p", explode(expr("sequence(1, length(text))")))
        .select(col("doc_id"), col("p").cast("bigint").as("p"),
          expr(s"substring(text, p, $SufCtx)").as("sk"))
        .ckpt() // the scan reads it twice (bucket census + probe);
                           // don't pay the position explode per read
        // pin the scan's window parallelism: the hash exchange this
        // repartition emits satisfies the window's ClusteredDistribution
        // (the alias propagates through the scan's projection), and a
        // user repartition is exempt from AQE coalescing — without it
        // the 64 MB advisory target folds the ~160 MB position frame
        // into ~3 sort tasks
        .repartition(col("sk").substr(1, 3))
      // one aggregate feeds two knobs: max doc length bounds the
      // doubling rounds, and the TOTAL length (= the position frame's
      // row count, known before anything position-grain materializes)
      // gates the rank-attach broadcast below
      val maxRow = texts
        .agg(max(length(col("text"))), sum(length(col("text")))).head
      val maxLen = if (maxRow.isNullAt(0)) 0L else maxRow.getInt(0).toLong
      val nPos = if (maxRow.isNullAt(1)) 0L else maxRow.getLong(1)
      val full = fullSuffixRanks(suf, maxLen)
      // ADJACENT PAIRS in the final total order, ONE window pass (r16 —
      // fuses r15's two windows: the rank-materializing row_number pass
      // and the bucket-lead pass shuffled and sorted the full position
      // frame twice, with a checkpoint between). The doubling rounds
      // only permute ranks WITHIN a 64-char tie block ([rk0,
      // rk0 + |block|), blocks never interleave — see fullSuffixRanks),
      // every block is contained in one 3-char-prefix bucket (equal sk
      // ⇒ equal prefix), and the prefix is monotone under the suffix
      // order — so within a bucket, (rk0, rk, doc_id, p) IS the final
      // order, buckets are contiguous ranges of it, and the global rank
      // r need never be materialized: the leads of this single window
      // are exactly the in-bucket adjacent pairs.
      val bkt = substring(col("sk"), 1, 3)
      val wB = Window.partitionBy(bkt)
        .orderBy(col("rk0"), col("rk"), col("doc_id"), col("p"))
      // rank attach: below the gate, broadcasting the narrow (doc_id,
      // p, rk, rk0) rank frame keeps the join map-side over suf's
      // pinned bucket repartition, so the window's ClusteredDistribution
      // is ALREADY satisfied and the whole attach+window chain runs on
      // one exchange (the SMJ form paid two exchanges + two (doc_id, p)
      // sorts, then re-exchanged by bucket for the window). full is
      // corpus-grain, so above the gate the shuffle form returns — the
      // same ≤2M mechanical degradation as the doubling-round gates.
      val attached = if (nPos > 0 && nPos <= 2000000L)
        suf.join(broadcast(full), Seq("doc_id", "p"))
      else suf.join(full, Seq("doc_id", "p"))
      val withLead = attached
        .withColumn("rn", row_number().over(wB))
        .withColumn("b_doc", lead(col("doc_id"), 1).over(wB))
        .withColumn("b_pos", lead(col("p"), 1).over(wB))
        .withColumn("bsk", lead(col("sk"), 1).over(wB))
        .select(col("doc_id"), col("p"), col("sk"), col("rk0"),
          col("rn"), col("b_doc"), col("b_pos"), col("bsk"))
        .ckpt() // read by the in-bucket filter AND the boundary stitch
      val inBucket = withLead.filter(col("bsk").isNotNull)
        .select(col("doc_id").as("a_doc"), col("p").as("a_pos"),
          col("b_doc"), col("b_pos"), col("sk").as("ask"),
          expr("prefix_len(sk, bsk)").as("lcp"))
      // cross-bucket pairs at bucket-census grain: buckets partition
      // the global order into contiguous ranges, so the i-th bucket's
      // LAST row is adjacent to the (i+1)-th bucket's FIRST row. The
      // census is a real Aggregate — one row per bucket carrying its
      // last (bsk null) and first (rn = 1) rows — so the partitionless
      // lead above it provably sorts only #buckets rows, and the plan
      // sweeps resolve that grain from the plan rather than from the
      // data. Ordering buckets by their first row's rk0 (distinct
      // across buckets: different buckets hold different tie blocks)
      // is ordering them by position in the global order.
      val census = withLead.filter(col("bsk").isNull || col("rn") === 1)
        .groupBy(bkt)
        .agg(
          max(when(col("bsk").isNull, struct(col("doc_id"), col("p"), col("sk")))).as("lst"),
          max(when(col("rn") === 1,
            struct(col("doc_id"), col("p"), col("sk"), col("rk0")))).as("fst"))
        .withColumn("nxt", lead(col("fst"), 1).over(Window.orderBy(col("fst.rk0"))))
      val boundary = census.filter(col("nxt").isNotNull)
        .select(col("lst.doc_id").as("a_doc"), col("lst.p").as("a_pos"),
          col("nxt.doc_id").as("b_doc"), col("nxt.p").as("b_pos"),
          col("lst.sk").as("ask"), expr("prefix_len(lst.sk, nxt.sk)").as("lcp"))
      val base = inBucket.unionByName(boundary)
        .ckpt() // split into done/saturated, each read per round
      // unbounded-LCP extension: walk 64-char text chunks past the key
      // until the first non-full chunk match; only still-saturated
      // pairs survive each round, and a chunk past the text end reads
      // as "" (prefix_len 0), so termination is structural
      val ta = texts.select(col("doc_id").as("a_doc"), col("text").as("__ta"))
      val tb = texts.select(col("doc_id").as("b_doc"), col("text").as("__tb"))
      var done = base.filter(col("lcp") < SufCtx)
      var sat = base.filter(col("lcp") === SufCtx)
      var off = SufCtx.toLong
      // the probe CHUNK is an internal knob, independent of the 64-char
      // sort key: prefix_len counts matching chars up to the first
      // mismatch either way, a chunk past the text end reads as ""
      // (adds 0), and the done/sat cut compares against the chunk
      // width — so a 4× wider probe yields the same lcp in a quarter
      // of the rounds (r15: the fixture's ~200-char quote overlaps
      // resolved in 1 extension round instead of 3)
      val ExtCtx = 4 * SufCtx
      while (!sat.isEmpty) {
        val ext = sat.join(ta, "a_doc").join(tb, "b_doc")
          .withColumn("__add", expr(
            s"prefix_len(substring(__ta, cast(a_pos + $off as int), $ExtCtx), " +
              s"substring(__tb, cast(b_pos + $off as int), $ExtCtx))"))
          .withColumn("lcp", col("lcp") + col("__add"))
          .select(col("a_doc"), col("a_pos"), col("b_doc"), col("b_pos"),
            col("ask"), col("lcp"), col("__add"))
          .ckpt() // read by the done-union AND the next round's cut
        done = done.unionByName(ext.filter(col("__add") < ExtCtx).drop("__add"))
        sat = ext.filter(col("__add") === ExtCtx).drop("__add")
        off += ExtCtx
      }
      done
    }

  /** FULL (unbounded-context) suffix min-ranks by PREFIX DOUBLING with
    * DISCARDING (Manber & Myers 1990; the distributed form with the
    * discarding optimization is Flick & Aluru 2015) over an exploded
    * (doc_id, p, sk) frame — see q_suffix_rank's scaladoc for the
    * algorithm contract and tie semantics (min-rank: equal FULL
    * suffixes stay tied; a missing partner ranks 0, sorting a proper
    * prefix before its extensions). Base round is one bucket-offset
    * min-rank scan over the 64-char context; each doubling round
    * touches ONLY the rows whose rank is still tied (work ∝ unresolved
    * duplicate mass), bounded structurally by h doubling past maxLen
    * with an empty-active early exit. Returns (doc_id, p, rk). */
  private def fullSuffixRanks(suf: DataFrame, maxLen: Long): DataFrame = {
    // rk0 (the base bounded-key min-rank) is carried through the
    // doubling rounds unchanged (r15): it is the global offset of each
    // 64-char tie block — doubling only permutes ranks WITHIN a block
    // (nrk ∈ [rk, rk + |group|), blocks never interleave), which is
    // what lets suffixPairs derive the final total order with one
    // window over the sk groups instead of a second full
    // globalOrderScan pass.
    var full = Ranks.globalOrderScan(suf, substring(col("sk"), 1, 3),
        Seq(col("sk"), col("doc_id"), col("p")), "__rn")
      .withColumn("rk", min(col("__rn")).over(Window.partitionBy(col("sk"))))
      .select(col("doc_id"), col("p"), col("rk"), col("rk").as("rk0"))
      .ckpt()
    var active = full
      .withColumn("__c", count(lit(1)).over(Window.partitionBy(col("rk"))))
      .filter(col("__c") > 1).drop("__c")
      .ckpt()
    var h = SufCtx.toLong
    // r16 OPTIMIZATION (guide §3.2, the diversifyLinks size-gate
    // pattern): each doubling round only needs the partner RANKS of
    // the still-active rows and only REWRITES the active rows, but the
    // un-gated joins shuffled (and re-sorted) the FULL position frame
    // twice per round — once to build `part`, once to merge `upd` back
    // (the checkpointed frames carry no size stats, so the planner
    // never broadcast the small side on its own). While the active set
    // is verifiably small (one cheap count over already-materialized
    // blocks — the loop probed emptiness anyway), the partner lookup
    // becomes a broadcast SEMI filter (map-side over full's blocks, no
    // exchange; dropping non-partner rows from the right side of a
    // left join is result-identical) and the merge broadcasts `upd`.
    // Above the gate the round falls back to the r15 shuffle form —
    // the mechanical degradation a pathological all-ties corpus needs.
    var nActive = active.count()
    while (h < maxLen && nActive > 0) {
      val gated = nActive <= 2000000L
      val part = {
        val base = full.select(col("doc_id"), (col("p") - h).as("p"),
          col("rk").as("rk2"))
        if (gated) {
          val partnerKeys = active.select(col("doc_id"), (col("p") + h).as("p"))
          full.join(broadcast(partnerKeys), Seq("doc_id", "p"), "left_semi")
            .select(col("doc_id"), (col("p") - h).as("p"), col("rk").as("rk2"))
        } else base
      }
      val upd = active.join(part, Seq("doc_id", "p"), "left")
        .na.fill(0L, Seq("rk2")) // no partner = proper prefix: sorts first
        .withColumn("nrk", col("rk") - 1 + rank().over(
          Window.partitionBy(col("rk")).orderBy(col("rk2"))))
        .ckpt() // read by the merge AND the next active cut
      val updNrk = upd.select(col("doc_id"), col("p"), col("nrk"))
      full = full.join(if (gated) broadcast(updNrk) else updNrk,
          Seq("doc_id", "p"), "left")
        .select(col("doc_id"), col("p"),
          coalesce(col("nrk"), col("rk")).as("rk"), col("rk0"))
        .ckpt()
      active = upd
        .withColumn("__c", count(lit(1)).over(
          Window.partitionBy(col("rk"), col("rk2"))))
        .filter(col("__c") > 1)
        // DISCARD permanently-tied groups (r15 optimization): rk2 = 0
        // means the suffix has no partner at p + h, i.e. its remaining
        // length is < h; two such suffixes tied on rank share their
        // h-prefix AND both end inside it, so their FULL suffixes are
        // identical — the group can never split at any larger h (a
        // missing partner stays missing as h grows) and min-rank keeps
        // identical suffixes tied by contract. On the fixture this
        // removes the short-tail tie mass (~400k of the 450k active
        // rows) from every doubling round after the first — the
        // "work ∝ unresolved duplicate mass" bound this loop documents,
        // now enforced for the never-resolvable part too.
        .filter(col("rk2") > 0)
        .select(col("doc_id"), col("p"), col("nrk").as("rk"))
      // the count doubles as the old isEmpty probe (same cost class —
      // one cheap scan over upd's already-materialized blocks) and
      // feeds the next round's broadcast gate
      nActive = active.count()
      h *= 2
    }
    full
  }

  val queries: Map[String, Q] = Map(
    // RAG-style chunking: overlapping 32-token windows at stride 24
    // (8-token overlap). Map-only — the transform/posexplode sits
    // directly on the scan; chunk_id is the window ordinal, and the
    // (doc_id, chunk_id) pair is the retrieval-index key.
    "q_chunk" -> ((s, d) => {
      Tables.documents(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS tk")
        .selectExpr("doc_id",
          "posexplode(transform(sequence(0, cast((size(tk) - 1) / 24 as int)), " +
            "b -> slice(tk, b * 24 + 1, 32))) AS (chunk_id, ck)")
        .selectExpr("doc_id", "cast(chunk_id as bigint) AS chunk_id",
          "cast(size(ck) as bigint) AS n_chunk_tokens",
          "array_join(ck, ' ') AS chunk_text")
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Passage-grain duplication report: per document, how many of its
    // B-token passages are non-canonical copies of a passage seen
    // earlier (global first occurrence by (doc_id, pos) keeps the
    // copy; everything else counts as duplicated). The quote twins
    // score dup_frac 1.0; their sources stay 0.
    "q_passage_dup_stats" -> ((s, d) => {
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"), col("pos"))
      passages(spanCorpus(s, d))
        .withColumn("fp", md5(col("ptext")))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pass"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_frac", round(col("n_dup") / col("n_pass"), 4))
        .orderBy(col("doc_id"))
    }),

    // STRIDE-1 substring-grain dedup (Lee et al. 2022 ExactSubstr
    // proper — q_passage_dup_stats' 16-token-BLOCK grain upgraded to
    // every token offset): fingerprint the 16-token window at EVERY
    // position (native word_window_hashes — one JVM pass per doc, md5
    // swappable for a rolling hash without touching the plan), mark
    // every non-first global occurrence (ordered by (doc_id, pos)) as
    // a duplicate window, then per doc measure the UNION of the
    // duplicate windows' [pos, pos+15] spans — a lead()-window
    // interval-union over each doc's sorted duplicate offsets, so a
    // contiguous 32-token quote counts its true 32 covered tokens, not
    // 17 overlapping windows × 16. Reports windows / duplicate windows
    // / covered duplicate tokens / dup-token fraction per document —
    // exactly the "what fraction of this doc is copied text at ANY
    // alignment" statistic block grain under-counts (a span straddling
    // a block boundary is invisible to q_passage_dup_stats).
    //
    // Scale posture: the shuffle carries (doc_id, pos, fp) rows only —
    // fingerprints, never text. Stride-1 means n rows per n-token doc
    // (the inherent ExactSubstr cost; Lee et al. pay the same in
    // suffix-array space); the dedup decision is one row_number window
    // over the fingerprint key and the interval union is per-doc
    // bounded. Quote twins (spanCorpus) score dup_frac 1.0 — every
    // token of the twin lies under some duplicated window.
    "q_substr_dedup" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val L = 16
      val base = spanCorpus(s, d)
        .selectExpr("doc_id", s"word_window_hashes(text, $L) AS wh",
          "cast(size(split(text, ' ')) as bigint) AS n_tokens")
        .persist() // consumed by the window explode AND the report join
      val wins = base
        .select(col("doc_id"), posexplode(col("wh")).as(Seq("p0", "fp")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("fp"))
      val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"), col("pos"))
      val dups = wins.withColumn("rn", row_number().over(wFp)).filter(col("rn") > 1)
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val cov = dups
        .withColumn("nxt", lead(col("pos"), 1).over(wDoc))
        // window at pos covers [pos, pos+L-1]; truncated by the next
        // duplicate window's start (interval union of equal-length
        // intervals over sorted starts)
        .withColumn("covered", when(col("nxt").isNull, lit(L))
          .otherwise(least(lit(L), col("nxt") - col("pos"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dup_windows"),
          sum(col("covered").cast("bigint")).as("dup_tokens"))
      base
        .select(col("doc_id"), col("n_tokens"),
          expr("cast(size(wh) as bigint)").as("n_windows"))
        .join(cov, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_dup_windows", "dup_tokens"))
        .withColumn("dup_frac", round(col("dup_tokens") / col("n_tokens"), 4))
        .orderBy(col("doc_id"))
    }),

    // CHARACTER-grain exact-substring dedup via suffix ordering (Lee
    // et al. 2022's ExactSubstr, the suffix-array form) — what
    // q_substr_dedup's token windows cannot see: repeats at arbitrary
    // CHARACTER alignment (split points, punctuation drift). Every
    // position whose suffix shares ≥ SufDupMin chars with a sorted
    // neighbor starts a duplicated run [p, p+lcp); per-doc coverage is
    // the interval union (running max-end over the per-doc position
    // window — bounded by doc length, never corpus-proportional).
    //
    // Scale posture: one position-grain bucket sort (the memoized
    // suffixPairs frame, 64-byte keys), then per-doc windows over
    // ≤ doclen rows. Quote twins score dup_frac 1.0 — their whole
    // text is their parent's prefix.
    "q_suffix_dup" -> ((s, d) => {
      val pr = suffixPairs(s, d)
      val ends = pr.select(col("a_doc").as("doc_id"), col("a_pos").as("p"), col("lcp"))
        .unionByName(pr.select(col("b_doc").as("doc_id"), col("b_pos").as("p"), col("lcp")))
      val duppos = ends.filter(col("lcp") >= SufDupMin)
        .groupBy(col("doc_id"), col("p")).agg(max(col("lcp")).as("len"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cov = duppos
        .withColumn("pend", max(col("p") + col("len")).over(wDoc))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("dup_positions"),
          sum(greatest(lit(0L), col("p") + col("len") -
            greatest(col("p"), coalesce(col("pend"), lit(0L))))).as("dup_chars"),
          max(col("len")).as("max_lcp"))
      spanCorpus(s, d)
        .select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars"))
        .join(cov, Seq("doc_id"), "left")
        .na.fill(0L, Seq("dup_positions", "dup_chars", "max_lcp"))
        .withColumn("dup_frac", round(col("dup_chars") / col("n_chars"), 4))
        .orderBy(col("doc_id"))
    }),

    // Top-10 repeated substrings of the corpus — the adjacent-pair
    // page of the same memoized suffix order (any repeated substring
    // surfaces as an adjacent LCP; the cap is documented in SufCtx).
    // TakeOrderedAndProject selects the page; the rank window runs
    // over the 10-row page (above GlobalLimit — sweep-compliant).
    "q_longest_repeat" -> ((s, d) => {
      val page = suffixPairs(s, d)
        .orderBy(col("lcp").desc, col("a_doc"), col("a_pos"))
        .limit(10)
      page
        .withColumn("rk", row_number().over(
          Window.orderBy(col("lcp").desc, col("a_doc"), col("a_pos"))).cast("bigint"))
        .select(col("rk"), col("lcp"),
          expr("substring(ask, 1, cast(least(lcp, 40) as int))").as("excerpt"),
          col("a_doc"), col("a_pos"), col("b_doc"), col("b_pos"))
        .orderBy(col("rk"))
    }),

    // Cross-document copy report: which doc PAIRS share long verbatim
    // runs (contamination/boilerplate attribution at char grain — the
    // suffix-order complement of q_crossdup's minhash view). Adjacent
    // suffix pairs from different docs with lcp ≥ SufDupMin, grouped
    // by unordered pair, top-20 by total shared chars. The aggregate
    // is pair-grain (bounded by dup mass, not corpus); the page is
    // TakeOrdered.
    "q_copy_pairs" -> ((s, d) => {
      suffixPairs(s, d)
        .filter(col("lcp") >= SufDupMin && col("a_doc") =!= col("b_doc"))
        .select(least(col("a_doc"), col("b_doc")).as("doc_lo"),
          greatest(col("a_doc"), col("b_doc")).as("doc_hi"), col("lcp"))
        .groupBy(col("doc_lo"), col("doc_hi"))
        .agg(count(lit(1)).as("n_pairs"), max(col("lcp")).as("max_lcp"),
          sum(col("lcp")).as("sum_lcp"))
        .orderBy(col("sum_lcp").desc, col("doc_lo"), col("doc_hi"))
        .limit(20)
    }),

    // FULL suffix ranks by PREFIX DOUBLING with DISCARDING (Manber &
    // Myers 1990; the distributed form with the discarding
    // optimization is Flick & Aluru 2015) — the UNBOUNDED-context
    // complement of suffixPairs' 64-char keys. Base round: one
    // bucket-offset min-rank scan over the 64-char context; then
    // O(log L) doubling rounds, each touching ONLY the rows whose
    // rank is still tied (work ∝ unresolved duplicate mass, not the
    // corpus — after the base round that is the long-run dup
    // positions only). Rank semantics are min-rank (ties share the
    // rank — equal FULL suffixes across duplicate docs stay tied,
    // which is the correct suffix-array answer and what DuckDB's
    // rank() computes on the oracle side by sorting the unbounded
    // suffix strings directly). Missing partner (p + h past doc end)
    // ranks 0 — below every real rank, exactly how a proper prefix
    // sorts before its extensions.
    //
    // The audit statistic runs over the deterministic 1/16 doc-id
    // sample (the rank permutation itself is the operator; the query
    // reports the per-doc checksum page that pins it). Rounds are
    // bounded structurally by h doubling past maxlen, with an
    // empty-active early exit.
    "q_suffix_rank" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") % 16 === 1)
        .select(col("doc_id"), col("text"))
        // empty-text guard: sequence(1, 0) steps DOWN to [1, 0] where
        // the oracle's range(1, n+1) is empty (see suffixPairs)
        .filter(length(col("text")) > 0)
      val suf = docs
        .withColumn("p", explode(expr("sequence(1, length(text))")))
        .select(col("doc_id"), col("p").cast("bigint").as("p"),
          expr(s"substring(text, p, $SufCtx)").as("sk"))
        .ckpt() // the base scan reads it twice (census + probe)
      // null-safe: an empty 1/16 sample makes max() a null row — read
      // it as 0 so the doubling loop is skipped and the (empty) base
      // frame flows straight to the final aggregate like the oracle
      val maxRow = docs.agg(max(length(col("text")))).head
      val maxLen = if (maxRow.isNullAt(0)) 0L else maxRow.getInt(0).toLong
      // base min-rank scan + DISCARDING doubling — the shared
      // [[fullSuffixRanks]] machinery (suffixPairs' true-order pass
      // rides the same helper)
      fullSuffixRanks(suf, maxLen).groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_suffixes"),
          sum(expr("(rk * p) % 1000003")).as("rank_checksum"),
          min(col("rk")).as("min_rank"))
        .orderBy(col("doc_id"))
    }),

    // WINNOWING fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    // the MOSS algorithm) — the GUARANTEED-coverage sparsification of
    // q_substr_dedup's stride-1 fingerprint stream: hash the K-token
    // gram at every offset (same word_window_hashes stream), then keep
    // only the MINIMUM hash of each window of W consecutive grams.
    // Any shared run of ≥ K+W−1 tokens between two documents is
    // guaranteed to surface at least one selected fingerprint in both
    // (the winnowing coverage theorem) while storing ~2/(W+1) of the
    // stream — the principled index-size knob that bottom-k sketching
    // (q_fingerprint_rolling) lacks (bottom-k has no locality
    // guarantee; a shared passage can miss the sketch entirely).
    // Leftmost-min tie-break (plain min over the hash window) — both
    // engines evaluate it identically; the 60-bit hash space makes
    // in-window ties vanishingly rare so self-coverage is unaffected.
    //
    // Scale posture: MAP-ONLY — one JVM pass for the gram hashes, one
    // interpreted-but-hash-only HOF for the window minima (no md5
    // inside the lambda), nothing shuffles but the per-doc report row.
    // Docs shorter than K+W−1 tokens have no complete window and are
    // excluded on BOTH sides (the q_dedup_recall symmetry lesson).
    "q_winnowing" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val K = 8; val W = 4
      Tables.documents(s, d)
        .selectExpr("doc_id", s"word_window_hashes(text, $K) AS wh")
        .filter(size(col("wh")) >= W)
        // greatest() guard: the optimizer may evaluate this projection
        // before the size filter, and sequence(1, 0) DESCENDS in
        // Spark — i = 0 would crash slice (measured in q_dedup_winnow
        // under its self-join plan). The filter still governs output.
        .selectExpr("doc_id", "cast(size(wh) as bigint) AS n_grams",
          s"array_distinct(transform(sequence(1, greatest(size(wh) - ${W - 1}, 1)), i -> array_min(slice(wh, i, $W)))) AS sel")
        .selectExpr("doc_id", "n_grams",
          "cast(size(sel) as bigint) AS n_select",
          s"(cast(size(sel) as bigint) * 1000000) DIV (n_grams - ${W - 1}) AS density_micro",
          "array_min(sel) AS fp_min")
        .orderBy(col("doc_id"))
    }),

    // Compressibility quality signal: DEFLATE-compressed size over raw
    // size (fixture text is ASCII, so chars == bytes). Template junk
    // and highly repetitive text compress far below natural prose —
    // the information-density complement to q_repetition's explicit
    // duplicate-shingle fractions. MAP-ONLY via the native deflate_len
    // expression; at 100 TB it runs at scan speed (deflate throughput
    // ~100 MB/s/core dominates, and nothing shuffles but the report).
    // No DuckDB oracle (SQL engines don't expose raw DEFLATE):
    // spec-pinned in CurationSpec — bounds, repetition monotonicity,
    // determinism — and rows-only-checked by the driver.
    "q_compress_ratio" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      Tables.documents(s, d)
        .selectExpr("doc_id",
          "cast(length(text) as bigint) AS n_bytes",
          "cast(deflate_len(text) as bigint) AS deflate_bytes")
        .withColumn("compress_ratio", round(col("deflate_bytes") / col("n_bytes"), 4))
        .withColumn("keep", col("compress_ratio") >= 0.3)
        .orderBy(col("doc_id"))
    }),

    // DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169 —
    // "Data Selection for Language Models via Importance Resampling"):
    // per-document importance log-weight ln p_target(doc) − ln p_raw(doc)
    // under bag-of-hashed-token models. Features are md5-hashed tokens
    // folded into 256 buckets (the paper's hashed n-gram trick — the
    // model is a fixed-size vector no matter the vocab). Target = the
    // 'en' slice (stand-in for a curated quality corpus), raw = the
    // whole corpus; add-1 smoothing keeps empty buckets finite.
    //
    // Float parity via the q_lm_score fixed-point recipe: each
    // (doc, bucket) contribution quantizes to integer micro-nats
    // (floor(x·10⁴+0.5)), so the per-doc total is an EXACT integer
    // sum — order-free and partial-agg-friendly.
    //
    // 100 TB posture: the corpus is scanned and exploded ONCE — the
    // (doc, bucket, tf) aggregate is the only pass over text; bucket
    // totals roll up from tf (grain: docs × ≤256) and corpus totals
    // from the 256-row bucket table, so the model fit adds no extra
    // scans. The per-doc pass then joins the BROADCAST 256-row bucket
    // table — corpus text never shuffles, only (doc_id, bucket, tf)
    // triples do.
    "q_dsir_weight" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), explode(expr("split(text, ' ')")).as("t"))
        .withColumn("b", expr("cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint) % 256"))
      // lang rides along (functionally dependent on doc_id) so every
      // downstream statistic derives from this one aggregate. The
      // explicit isNotNull on the join key matters: the optimizer adds
      // it to the probe branch only, and the asymmetry would break
      // exchange-reuse canonicalization — leaving TWO corpus scans.
      val tf = toks.filter(col("b").isNotNull)
        .groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("tf"))
      // corpus totals ride ON the bucket table via a window over its
      // 256 rows (one trivial single-partition pass) instead of a
      // separate aggregate branch — a sibling branch re-scans the
      // corpus when exchange reuse doesn't fire, and at 100 TB a
      // second scan is the difference that matters.
      val wAll = Window.partitionBy(lit(1))
      val buckets = tf.groupBy(col("b")).agg(
        sum(col("tf")).as("cr"),
        sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("ct"))
        .withColumn("nr", sum(col("cr")).over(wAll))
        .withColumn("nt", sum(col("ct")).over(wAll))
      // KNOWN LIBM BOUNDARY (the one place the shared-literal-table
      // discipline can't apply): ln() runs on data-dependent count
      // ratios in BOTH engines before the ×10⁴ floor, and libm logs are
      // not correctly rounded — a 1-ulp divergence exactly on a floor
      // boundary would flip the micro-nat. The count domain is
      // unbounded (corpus-scale), so no literal table can cover it;
      // instead CurationSpec's divergence guard recomputes every
      // distinct (ct, cr, nr, nt, tf) combination at all three fixture
      // SFs and asserts each contribution sits ≥ 10⁻⁵ from the nearest
      // floor boundary — ~10⁵× the worst cross-libm drift
      // (≤ |ln|·4ulp·tf·10⁴ ≈ 10⁻¹⁰·tf), measured ≥ 2.9·10⁻³ in
      // practice — so a fixture change that lands near a boundary
      // fails the spec loudly instead of flaking the oracle.
      tf.join(broadcast(buckets), Seq("b"))
        .withColumn("micro", floor(
          (log((col("ct") + 1) / (col("nt") + 256)) -
            log((col("cr") + 1) / (col("nr") + 256))) * col("tf") * 10000d + 0.5d))
        .groupBy(col("doc_id"))
        .agg(sum(col("micro")).as("m"))
        .withColumn("dsir_weight", round(col("m").cast("double") / 10000d, 4))
        .select(col("doc_id"), col("dsir_weight"))
        .orderBy(col("doc_id"))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC dedup
    // over the embedding column: cluster the space (here the same
    // deterministic 16-centroid codebook the IVF index uses; a real
    // run k-means-fits it), then within each cluster drop every vector
    // whose cosine to a LOWER-id cluster-mate exceeds τ = 0.95 —
    // the deterministic keep-first variant of SemDeDup's "keep one
    // per ε-ball". Near-dup pressure comes from the q_dedup_embed
    // mirror recipe (+0.01-perturbed copies of every 5th vector).
    //
    // 100 TB posture: the published algorithm keeps cluster population
    // bounded by growing k with the corpus, but a FIXED codebook has no
    // such guarantee — a hot cell would silently degrade the naive
    // cell-equi self-join to O(|cell|²). The within-cell pairing is
    // therefore rank-blocked (`boundedCellPairs`): each vector is
    // compared only against cluster-mates at rank distance ≤ SemW, and
    // the pigeonhole join on (cell, block) enumerates ≤ 2·SemW
    // candidates per vector, so a hot cell costs O(|cell|·SemW),
    // never quadratic. For every cell with ≤ SemW members (all fixture
    // cells, by an order of magnitude) the result is exactly
    // SemDeDup's keep-first. The argmax cell assignment is map-only
    // (centroids are plan literals), identical to q_simsearch_ivf's.
    "q_semantic_dedup" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val cents = SimSearch.centroidLits(s, d)
      val base = Tables.embeddings(s, d)
      val all = base
        .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS e")
        .unionByName(base.filter(col("vec_id") % 5 === 0)
          .selectExpr("vec_id + 1000000 AS vec_id",
            "transform(embedding, x -> cast(x as double) + 0.01) AS e"))
      val cosc = expr(s"cosine_all(e, array(${cents.mkString(",")}))")  // one call site; see CosineMulti scaladoc
      val assigned = all.withColumn("cosc", cosc)
        .withColumn("cell", expr("cast(array_position(cosc, array_max(cosc)) as int) - 1"))
        .drop("cosc")
      val dropped = boundedCellPairs(assigned, SemW)
        .filter(expr("cosine_sim(e, eb) >= 0.95D"))
        .select(col("vec_id")).distinct()
      assigned.join(dropped, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cell"))
        .orderBy(col("vec_id"))
    }),

    // C4-style boilerplate removal (Raffel et al. 2020, §2.2 of the T5
    // paper removed any three-sentence span that occurred more than
    // once in the corpus): passages whose fingerprint occurs ≥ 3 times
    // are dropped EVERYWHERE — including the first occurrence — unlike
    // q_doc_reconstruct's keep-first dedup; frequency marks the span
    // as template/boilerplate, not content. Output is per-doc: kept
    // passage count and the boilerplate fraction. Same two-shuffle
    // posture as the dedup pair (md5 fingerprints, then doc_id) with
    // one improvement: the fp aggregate is a plain count — map-side
    // partial aggregation applies, no per-group sort at all.
    // A third occurrence tier (doc_id % 8 → a 16-token twin at
    // +2,000,000) pushes every 8th doc's opening passage to frequency
    // 3 — the boilerplate threshold — while % 4 quotes stay at 2.
    "q_boilerplate" -> ((s, d) => {
      val extra = Tables.documents(s, d).filter(col("doc_id") % 8 === 0)
        .selectExpr("doc_id + 2000000 AS doc_id",
          s"array_join(slice(split(text, ' '), 1, $B), ' ') AS text")
      val pass = passages(spanCorpus(s, d).unionByName(extra))
        .withColumn("fp", md5(col("ptext")))
      val freq = pass.groupBy(col("fp")).agg(count(lit(1)).as("n_occ"))
      pass.join(freq, Seq("fp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pass"),
          sum(when(col("n_occ") >= 3, 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("boiler_frac", round(col("n_boiler") / col("n_pass"), 4))
        .orderBy(col("doc_id"))
    }),

    // Duplicate-span REMOVAL with reconstruction (Lee et al.'s ExactSubstr
    // at passage grain): drop every passage whose fingerprint occurred
    // earlier anywhere in the corpus, then rebuild each document from
    // its surviving passages in position order. Docs that lose every
    // passage (the quote twins) disappear — full-document dedup is the
    // degenerate case. collect_list is order-nondeterministic, so the
    // (pos, ptext) structs are array_sort'ed before joining; pos is
    // unique per doc, making the rebuild deterministic.
    "q_doc_reconstruct" -> ((s, d) => {
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"), col("pos"))
      passages(spanCorpus(s, d))
        .withColumn("fp", md5(col("ptext")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("ptext")))),
              x => x.getField("ptext")), " ").as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // Span-corruption target generation (the T5 denoising objective,
    // Raffel et al. 2020 §3.1.4): replace a deterministic ~1/7 of each
    // document's token positions with a sentinel. The schedule is
    // ARITHMETIC, not RNG — position i of doc d masks iff
    // (d·31 + i) ≡ 0 (mod 7) — so the corruption is reproducible
    // across engines, re-runs, and shards (the property a training
    // pipeline actually needs from "random" masking; swap in a
    // splittable hash for production schedules). Entirely MAP-ONLY:
    // the mask decision, sentinel substitution, and re-join all happen
    // inside per-row array lambdas on the scan — zero shuffles, scales
    // as pure scan throughput.
    "q_span_mask" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), expr("split(text, ' ')").as("tk"))
        .select(col("doc_id"),
          expr("CAST(size(tk) AS BIGINT)").as("n_tokens"),
          expr("CAST(size(filter(tk, (t, i) -> (doc_id * 31 + i) % 7 = 0)) AS BIGINT)")
            .as("n_masked"),
          expr("""array_join(transform(tk,
                 |  (t, i) -> IF((doc_id * 31 + i) % 7 = 0, '<extra_id>', t)), ' ')""".stripMargin)
            .as("masked_text"))
        .orderBy(col("doc_id"))),

    // BERT-style MLM TOKEN CORRUPTION (Devlin et al. 2019 — the
    // 15% / 80-10-10 recipe, the second masking objective next to
    // q_span_mask's T5 span corruption): each position draws a
    // deterministic universal hash of (doc_id, pos) — the repo's
    // hash-for-RNG substitution, so re-runs, retries, and both
    // engines corrupt identically. Selected (h₁ mod 1000 < 150)
    // positions split on h₂ mod 10: ≤ 7 → [MASK], = 8 → a RANDOM
    // VOCABULARY token (h₂-indexed into the sorted corpus vocabulary,
    // folded as a plan literal — the q_unigram_lm codebook pattern),
    // = 9 → kept unchanged (the trick that stops the encoder from
    // only attending to [MASK]). ENTIRELY map-only — runs at scan
    // bandwidth, nothing shuffles but the report rows. The vocabulary
    // literal is CAPPED (top MlmVocabCap by frequency) so the driver
    // collect is bounded at any corpus size — a real MLM pipeline
    // indexes its trained tokenizer vocab, which is exactly this
    // shape: a fixed-size, frequency-ranked table.
    "q_mlm_mask" -> ((s, d) => {
      // The random-token branch indexes a BOUNDED vocabulary: top
      // MlmVocabCap words by (freq DESC, word ASC) — a TakeOrderedAnd-
      // Project that collects <= MlmVocabCap rows no matter the corpus
      // size (the full corpus-distinct vocab is unbounded at 100 TB).
      // The tie-break total order makes the set deterministic; the
      // survivors are then alphabetized IN THE PLAN (not driver-side,
      // so Spark's UTF8 byte order matches the oracle's BINARY
      // collation) before folding as the indexable literal.
      val vocab = Tables.documents(s, d)
        .select(explode(expr("split(text, ' ')")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(MlmVocabCap)
        .orderBy(col("w")).collect().map(_.getString(0))
      val vLit = vocab.map(w => "'" + w.replace("'", "''") + "'")
        .mkString("array(", ",", ")")
      val v = vocab.length
      val P = 2147483647L
      val h1 = s"((1103617541 * ((doc_id * 1000003 + i) % $P) + 94370269) % $P)"
      val h2 = s"((1803301271 * ((doc_id * 1000003 + i) % $P) + 592394837) % $P)"
      Tables.documents(s, d)
        .select(col("doc_id"), expr("split(text, ' ')").as("tk"))
        .selectExpr("doc_id", "tk",
          s"""transform(sequence(1, size(tk)), i ->
             |  CASE WHEN $h1 % 1000 >= 150 THEN element_at(tk, i)
             |       WHEN $h2 % 10 <= 7 THEN '[MASK]'
             |       WHEN $h2 % 10 = 8 THEN element_at($vLit, cast(($h2 DIV 10) % $v as int) + 1)
             |       ELSE element_at(tk, i) END) AS ct""".stripMargin,
          s"""transform(sequence(1, size(tk)), i ->
             |  CASE WHEN $h1 % 1000 >= 150 THEN 'clean'
             |       WHEN $h2 % 10 <= 7 THEN 'mask'
             |       WHEN $h2 % 10 = 8 THEN 'random'
             |       ELSE 'keep' END) AS lab""".stripMargin)
        .selectExpr("doc_id",
          "CAST(size(tk) AS BIGINT) AS n_tokens",
          "CAST(size(filter(lab, x -> x = 'mask')) AS BIGINT) AS n_masked",
          "CAST(size(filter(lab, x -> x = 'random')) AS BIGINT) AS n_random",
          "CAST(size(filter(lab, x -> x = 'keep')) AS BIGINT) AS n_kept",
          "array_join(slice(ct, 1, 12), ' ') AS head_corrupted")
        .orderBy(col("doc_id"))
    }),

    // TEMPERATURE-WEIGHTED source sampling (the multilingual α = 0.5
    // rebalance of mT5/XLM-R: p_g ∝ n_g^α lifts low-resource groups
    // without letting the head dominate): per (lang, source) group,
    // weight w = ⌊√n · 10⁶⌋ — IEEE sqrt is CORRECTLY ROUNDED, so both
    // engines produce the identical double and the floor is
    // boundary-safe BY CONSTRUCTION for non-square n (√n irrational ⇒
    // never lands on a grid point; for square n, √n·10⁶ is an exact
    // integer double, also safe) — then exact integer shares
    // w·10⁶ DIV Σw and the implied per-doc sampling rate. The sum is
    // over INTEGER weights, so group iteration order cannot perturb
    // it (a float Σ√n would be order-sensitive — the reason for the
    // per-group quantize-then-integer-sum discipline).
    "q_temp_sample" -> ((s, d) => {
      val g = Tables.documents(s, d)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("w", expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"))
      val tot = g.agg(sum(col("w")).as("tw"), sum(col("n_docs")).as("tn"))
      g.crossJoin(broadcast(tot))
        .withColumn("share_micro", expr("(w * 1000000) DIV tw"))
        // per-doc sampling rate hitting one corpus-size epoch of the
        // rebalanced mixture: rate = share · tn / n_g (micro-units;
        // > 10⁶ ⇒ the low-resource group is upsampled/repeated)
        .withColumn("rate_micro", expr("(((w * 1000000) DIV tw) * tn) DIV n_docs"))
        .select(col("lang"), col("source"), col("n_docs"), col("w"),
          col("share_micro"), col("rate_micro"))
        .orderBy(col("lang"), col("source"))
    }),

    // SIMPSON DIVERSITY index of the source mix per language — the
    // mixture-concentration audit (the ecology/concentration index the
    // Herfindahl–Hirschman literature shares): λ = Σ n_s(n_s−1) /
    // N(N−1), the probability two random docs of the language come
    // from the SAME source (λ → 1 ⇒ the "mixture" is one source
    // wearing many names; 1−λ is the Gini–Simpson diversity). EXACT
    // rational: numerator and denominator are integer products, the
    // micro-unit report divides identical exact integers (truncating,
    // non-negative — Spark DIV ≡ DuckDB //). Pairs with q_gini
    // (revenue concentration) and q_token_budget (share table): one
    // (lang, source)-grain aggregate, one lang-grain rollup, no data
    // ever leaves aggregate grain.
    "q_simpson" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
        .groupBy(col("lang"))
        .agg(sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_sources"),
          sum(expr("n * (n - 1)")).as("same_pairs2"))
        .withColumn("simpson_micro", expr(
          "CASE WHEN n_docs > 1 THEN (same_pairs2 * 1000000) DIV (n_docs * (n_docs - 1)) " +
            "ELSE NULL END"))
        .withColumn("diversity_micro", expr(
          "CASE WHEN n_docs > 1 THEN 1000000 - (same_pairs2 * 1000000) DIV (n_docs * (n_docs - 1)) " +
            "ELSE NULL END"))
        .select(col("lang"), col("n_docs"), col("n_sources"),
          col("simpson_micro"), col("diversity_micro"))
        .orderBy(col("lang"))
    }),

    // NEGATIVE-SAMPLING noise distribution (Mikolov et al. 2013,
    // word2vec NEG / NCE): the unigram distribution raised to 3/4 —
    // the empirical sweet spot between uniform (drowns rare words) and
    // raw unigram (drowns everything under stop words) that every
    // contrastive text objective since has inherited. w = ⌊n^0.75·10³⌋
    // computed as sqrt(n·√n): each step is a correctly-rounded IEEE
    // op on identical inputs, so both engines produce the SAME double
    // before the floor (the q_temp_sample √-discipline, composed);
    // sampling probabilities are exact micro-unit integers over the
    // integer Σw. Top-30 by count (ties → token) keeps the report
    // vocabulary-page-sized.
    //
    // Scale posture: one token-grain aggregate (map-side partials
    // carry (token, count)) + a 1-row broadcast total; the power and
    // the division are map-only arithmetic on the aggregate.
    "q_negative_sampling" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .withColumn("w", expr(
          "CAST(floor(sqrt(CAST(n AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) * 1000) AS BIGINT)"))
      val tot = tf.agg(sum(col("w")).as("tw"))
      tf.crossJoin(broadcast(tot))
        .withColumn("p_micro", expr("(w * 1000000) DIV tw"))
        .select(col("tok"), col("n"), col("w"), col("p_micro"))
        .orderBy(col("n").desc, col("tok"))
        .limit(30)
    })
  )

  /** DuckDB twin of [[suffixPairs]] (unbounded form): quote-twin
    * corpus → per-char positions → FULL suffix strings → row_number
    * over (suffix, doc_id, p) — the single-node order the bucket scan
    * + prefix-doubling ranks equal bit-for-bit — → adjacent-rank join
    * with the UNBOUNDED per-char LCP: the first mismatching character
    * position minus one (linear in the true LCP, the replay of the
    * chunked `prefix_len` walk). `ask` stays the 64-char key (the
    * excerpt column reads ≤ 40 chars of it).
    */
  private val sufCtes =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |    array_to_string(list_slice(string_split(text, ' '), 1, 32), ' ') AS text
       |  FROM documents WHERE doc_id % 4 = 0),
       |sbase AS (SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS n_chars FROM corpus),
       |spos AS (SELECT doc_id, text, unnest(range(1, n_chars + 1)) AS p FROM sbase),
       |suf AS MATERIALIZED (
       |  SELECT doc_id, p, substr(text, CAST(p AS INTEGER)) AS sfx FROM spos),
       |srk AS MATERIALIZED (
       |  SELECT doc_id, p, sfx,
       |    row_number() OVER (ORDER BY sfx, doc_id, p) AS r FROM suf),
       |spr AS (
       |  SELECT a.doc_id AS a_doc, a.p AS a_pos, b.doc_id AS b_doc, b.p AS b_pos,
       |    substr(a.sfx, 1, $SufCtx) AS ask,
       |    COALESCE(list_min(list_transform(
       |        range(1, CAST(least(strlen(a.sfx), strlen(b.sfx)) AS BIGINT) + 1),
       |        i -> CASE WHEN substr(a.sfx, CAST(i AS INTEGER), 1)
       |                    <> substr(b.sfx, CAST(i AS INTEGER), 1)
       |             THEN i END)),
       |      CAST(least(strlen(a.sfx), strlen(b.sfx)) AS BIGINT) + 1) - 1 AS lcp
       |  FROM srk a JOIN srk b ON b.r = a.r + 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    // The suffix-order pipeline CTE-for-CTE, then the same two-sided
    // position projection, per-position max-LCP, and running-max-end
    // interval union.
    "q_suffix_dup" ->
      s"""$sufCtes,
         |ends AS (
         |  SELECT a_doc AS doc_id, a_pos AS p, lcp FROM spr
         |  UNION ALL SELECT b_doc, b_pos, lcp FROM spr),
         |duppos AS (SELECT doc_id, p, max(lcp) AS len FROM ends
         |           WHERE lcp >= $SufDupMin GROUP BY 1, 2),
         |cov AS (
         |  SELECT doc_id, p, len,
         |    max(p + len) OVER (PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pend
         |  FROM duppos),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_positions,
         |    CAST(sum(greatest(0, p + len - greatest(p, COALESCE(pend, 0)))) AS BIGINT) AS dup_chars,
         |    max(len) AS max_lcp
         |  FROM cov GROUP BY 1)
         |SELECT b.doc_id, b.n_chars,
         |  COALESCE(a.dup_positions, 0) AS dup_positions,
         |  COALESCE(a.dup_chars, 0) AS dup_chars,
         |  round(COALESCE(a.dup_chars, 0) / b.n_chars, 4) AS dup_frac,
         |  COALESCE(a.max_lcp, 0) AS max_lcp
         |FROM sbase b LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // The oracle sorts the UNBOUNDED suffix strings directly — the
    // single-node form whose rank() (min-rank tie semantics) the
    // prefix-doubling fixpoint equals by the Manber-Myers invariant.
    "q_suffix_rank" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 16 = 1),
        |spos AS (
        |  SELECT doc_id, text,
        |    unnest(range(1, CAST(strlen(text) AS BIGINT) + 1)) AS p
        |  FROM docs),
        |srk AS (
        |  SELECT doc_id, p,
        |    rank() OVER (ORDER BY substr(text, CAST(p AS INTEGER))) AS rk
        |  FROM spos)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_suffixes,
        |  CAST(sum((rk * p) % 1000003) AS BIGINT) AS rank_checksum,
        |  min(rk) AS min_rank
        |FROM srk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_longest_repeat" ->
      s"""$sufCtes
         |SELECT row_number() OVER (ORDER BY lcp DESC, a_doc, a_pos) AS rk,
         |  lcp, substr(ask, 1, CAST(least(lcp, 40) AS INTEGER)) AS excerpt,
         |  a_doc, a_pos, b_doc, b_pos
         |FROM spr ORDER BY lcp DESC, a_doc, a_pos LIMIT 10""".stripMargin,

    "q_copy_pairs" ->
      s"""$sufCtes
         |SELECT least(a_doc, b_doc) AS doc_lo, greatest(a_doc, b_doc) AS doc_hi,
         |  CAST(count(*) AS BIGINT) AS n_pairs, max(lcp) AS max_lcp,
         |  CAST(sum(lcp) AS BIGINT) AS sum_lcp
         |FROM spr WHERE lcp >= $SufDupMin AND a_doc <> b_doc
         |GROUP BY 1, 2 ORDER BY sum_lcp DESC, doc_lo, doc_hi LIMIT 20""".stripMargin,

    // Same (doc_id, pos) universal hashes; vocabulary as an ordered
    // list cross-joined in (the Spark side folds the identical sorted
    // vocab as a plan literal — the compare proves the fold).
    "q_mlm_mask" -> {
      val P = 2147483647L
      val h1 = s"((1103617541 * ((doc_id * 1000003 + i) % $P) + 94370269) % $P)"
      val h2 = s"((1803301271 * ((doc_id * 1000003 + i) % $P) + 592394837) % $P)"
      s"""WITH vm AS (
         |  SELECT list(w ORDER BY w) AS vl, CAST(count(*) AS BIGINT) AS v FROM (
         |    SELECT w FROM (
         |      SELECT w, count(*) AS c FROM (
         |        SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w)
         |    ORDER BY c DESC, w LIMIT $MlmVocabCap)),
         |base AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |lab AS (
         |  SELECT doc_id, tk,
         |    list_transform(range(1, len(tk) + 1), i ->
         |      CASE WHEN $h1 % 1000 >= 150 THEN 'clean'
         |           WHEN $h2 % 10 <= 7 THEN 'mask'
         |           WHEN $h2 % 10 = 8 THEN 'random'
         |           ELSE 'keep' END) AS lab,
         |    list_transform(range(1, len(tk) + 1), i ->
         |      CASE WHEN $h1 % 1000 >= 150 THEN tk[CAST(i AS INTEGER)]
         |           WHEN $h2 % 10 <= 7 THEN '[MASK]'
         |           WHEN $h2 % 10 = 8 THEN vm.vl[CAST(($h2 // 10) % vm.v AS INTEGER) + 1]
         |           ELSE tk[CAST(i AS INTEGER)] END) AS ct
         |  FROM base, vm)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(lab, x -> x = 'mask')) AS BIGINT) AS n_masked,
         |  CAST(len(list_filter(lab, x -> x = 'random')) AS BIGINT) AS n_random,
         |  CAST(len(list_filter(lab, x -> x = 'keep')) AS BIGINT) AS n_kept,
         |  array_to_string(ct[1:12], ' ') AS head_corrupted
         |FROM lab ORDER BY doc_id""".stripMargin
    },

    "q_temp_sample" ->
      """WITH g AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000) AS BIGINT) AS w
        |  FROM documents GROUP BY lang, source),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw, CAST(SUM(n_docs) AS BIGINT) AS tn FROM g)
        |SELECT lang, source, n_docs, w,
        |  (w * 1000000) // tw AS share_micro,
        |  (((w * 1000000) // tw) * tn) // n_docs AS rate_micro
        |FROM g, tot ORDER BY lang, source""".stripMargin,

    "q_simpson" ->
      """WITH g AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n FROM documents
        |  GROUP BY lang, source),
        |r AS (
        |  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_sources,
        |    CAST(SUM(n * (n - 1)) AS BIGINT) AS same_pairs2
        |  FROM g GROUP BY lang)
        |SELECT lang, n_docs, n_sources,
        |  CASE WHEN n_docs > 1 THEN (same_pairs2 * 1000000) // (n_docs * (n_docs - 1)) END AS simpson_micro,
        |  CASE WHEN n_docs > 1 THEN 1000000 - (same_pairs2 * 1000000) // (n_docs * (n_docs - 1)) END AS diversity_micro
        |FROM r ORDER BY lang""".stripMargin,

    "q_negative_sampling" ->
      """WITH tf AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS n,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE) * sqrt(CAST(count(*) AS DOUBLE))) * 1000) AS BIGINT) AS w
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM tf)
        |SELECT tok, n, w, (w * 1000000) // tw AS p_micro
        |FROM tf, tot ORDER BY n DESC, tok LIMIT 30""".stripMargin,

    "q_span_mask" ->
      """SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(range(1, len(tk) + 1),
        |    i -> (doc_id * 31 + (i - 1)) % 7 = 0)) AS BIGINT) AS n_masked,
        |  array_to_string(list_transform(range(1, len(tk) + 1),
        |    i -> CASE WHEN (doc_id * 31 + (i - 1)) % 7 = 0
        |         THEN '<extra_id>' ELSE tk[i] END), ' ') AS masked_text
        |FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_chunk" ->
      """SELECT doc_id, b AS chunk_id,
        |  CAST(len(list_slice(tk, b * 24 + 1, b * 24 + 32)) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(list_slice(tk, b * 24 + 1, b * 24 + 32), ' ') AS chunk_text
        |FROM (SELECT doc_id, tk, unnest(range(0, (len(tk) + 23) // 24)) AS b
        |      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q_passage_dup_stats" ->
      s"""$passCtes
         |SELECT doc_id, count(*) AS n_pass,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) / count(*), 4) AS dup_frac
         |FROM (SELECT doc_id, pos,
         |        row_number() OVER (PARTITION BY md5(ptext) ORDER BY doc_id, pos) AS rn
         |      FROM pass)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Stride-1 window fingerprints: md5 of the 16-token window text at
    // every offset, folded to the 60-bit prefix (the hshSql idiom —
    // bit-identical to word_window_hashes); then the same
    // non-first-occurrence marking and per-doc interval union.
    "q_substr_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 32), ' ') AS text
        |  FROM documents WHERE doc_id % 4 = 0),
        |base AS (SELECT doc_id, string_split(text, ' ') AS tk,
        |           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM corpus),
        |wtx AS (
        |  SELECT doc_id, i AS pos,
        |    md5(array_to_string(list_slice(tk, i, i + 15), ' ')) AS h
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 14)) AS i FROM base)),
        |win AS (
        |  SELECT doc_id, pos,
        |    list_reduce(list_transform(range(1, 16),
        |      j -> CAST(strpos('0123456789abcdef', substr(h, j, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS fp
        |  FROM wtx),
        |dup AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
        |    FROM win) WHERE rn > 1),
        |cov AS (
        |  SELECT doc_id, pos,
        |    lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |  FROM dup),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
        |    CAST(sum(CASE WHEN nxt IS NULL THEN 16 ELSE least(16, nxt - pos) END) AS BIGINT) AS dup_tokens
        |  FROM cov GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  CAST(greatest(b.n_tokens - 15, 0) AS BIGINT) AS n_windows,
        |  COALESCE(a.n_dup_windows, 0) AS n_dup_windows,
        |  COALESCE(a.dup_tokens, 0) AS dup_tokens,
        |  round(COALESCE(a.dup_tokens, 0) / b.n_tokens, 4) AS dup_frac
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Positional 8-gram hashes via the q_fingerprint_rolling md5-fold
    // idiom (no list_distinct — offset order is load-bearing), then
    // the window-of-4 minimum pick; fps[i:i+3] is DuckDB's inclusive
    // 4-element slice.
    "q_winnowing" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |fp AS (
        |  SELECT doc_id, list_transform(range(1, len(tk) - 6),
        |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
        |      j -> CAST(strpos('0123456789abcdef',
        |             substr(md5(array_to_string(tk[i:i+7], ' ')), j, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b)) AS fps
        |  FROM base),
        |sel AS (
        |  SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_grams,
        |    list_distinct(list_transform(range(1, len(fps) - 2),
        |      i -> list_aggregate(fps[i:i+3], 'min'))) AS sel
        |  FROM fp WHERE len(fps) >= 4)
        |SELECT doc_id, n_grams, CAST(len(sel) AS BIGINT) AS n_select,
        |  (CAST(len(sel) AS BIGINT) * 1000000) // (n_grams - 3) AS density_micro,
        |  list_aggregate(sel, 'min') AS fp_min
        |FROM sel ORDER BY doc_id""".stripMargin,

    "q_boilerplate" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |    array_to_string(list_slice(string_split(text, ' '), 1, 32), ' ') AS text
         |  FROM documents WHERE doc_id % 4 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id,
         |    array_to_string(list_slice(string_split(text, ' '), 1, $B), ' ') AS text
         |  FROM documents WHERE doc_id % 8 = 0),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
         |pass AS (
         |  SELECT doc_id, b AS pos,
         |    array_to_string(list_slice(tk, b * $B + 1, b * $B + $B), ' ') AS ptext
         |  FROM (SELECT doc_id, tk,
         |          unnest(range(0, (len(tk) + $B - 1) // $B)) AS b FROM tok)),
         |freq AS (SELECT md5(ptext) AS fp, count(*) AS n_occ FROM pass GROUP BY 1)
         |SELECT doc_id, count(*) AS n_pass,
         |  CAST(sum(CASE WHEN n_occ >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  round(sum(CASE WHEN n_occ >= 3 THEN 1 ELSE 0 END) / count(*), 4) AS boiler_frac
         |FROM pass JOIN freq ON md5(ptext) = fp
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dsir_weight" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 256 AS b
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents)),
        |tf AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, b),
        |buckets AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS cr,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM toks GROUP BY b),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nr,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt
        |  FROM toks),
        |parts AS (
        |  SELECT doc_id,
        |    CAST(floor((ln((ct + 1) / (nt + 256)) - ln((cr + 1) / (nr + 256)))
        |               * tf * 10000 + 0.5) AS BIGINT) AS micro
        |  FROM tf JOIN buckets USING (b), tot)
        |SELECT doc_id, round(CAST(sum(micro) AS DOUBLE) / 10000, 4) AS dsir_weight
        |FROM parts GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_semantic_dedup" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS c
         |  FROM embeddings WHERE vec_id < 16),
         |cl AS (SELECT list(c ORDER BY k) AS cs FROM cents),
         |allv AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS a FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01) AS a
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |assign AS (
         |  SELECT vec_id, a, list_position(cosl, list_max(cosl)) - 1 AS cell
         |  FROM (
         |    SELECT vec_id, a,
         |      list_transform(cs, c -> list_dot_product(a, c)
         |        / (sqrt(list_dot_product(a, a)) * sqrt(list_dot_product(c, c)))) AS cosl
         |    FROM allv, cl)),
         |ranked AS (
         |  SELECT vec_id, a, cell,
         |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rnk
         |  FROM assign)
         |SELECT x.vec_id, x.cell FROM ranked x
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM ranked y
         |  WHERE y.cell = x.cell AND y.rnk < x.rnk AND x.rnk - y.rnk <= $SemW
         |    AND list_dot_product(x.a, y.a)
         |      / (sqrt(list_dot_product(x.a, x.a)) * sqrt(list_dot_product(y.a, y.a))) >= 0.95)
         |ORDER BY vec_id""".stripMargin,

    "q_doc_reconstruct" ->
      s"""$passCtes
         |SELECT doc_id, count(*) AS n_kept,
         |  string_agg(ptext, ' ' ORDER BY pos) AS clean_text
         |FROM (SELECT doc_id, pos, ptext,
         |        row_number() OVER (PARTITION BY md5(ptext) ORDER BY doc_id, pos) AS rn
         |      FROM pass)
         |WHERE rn = 1
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
