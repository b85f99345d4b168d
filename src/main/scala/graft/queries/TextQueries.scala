package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.model.Tables

/** Text-analysis queries over `documents`: token counting (whitespace +
  * BPE-ish regex), quality stats, language ID, and fingerprinting —
  * the per-document scoring stage of a training-data pipeline.
  *
  * All are narrow map-side transforms (no shuffle except the final
  * aggregate where one exists) built from codegen'd expressions, so at
  * 100 TB they stream through executors at scan speed.
  */
object TextQueries {

  /** Gopher's "contains ≥ 2 of these stop words" vocabulary
    * (Rae et al. 2021 §A1.1). */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Input-spread documents scan for the CPU-dense scan-rooted text
    * derivations (winnow argmins, whole-doc polynomial hashes, RAKE
    * windows) — a no-op at cluster scale (Tables.loadSpread scaladoc).
    * The join/aggregate-dominated queries keep the plain scan: spreading
    * every docs() call measurably regressed them (r16, sf0.1). */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "documents")

  /** Winnowing parameters: k-token grams, w-gram windows. Guarantee
    * threshold t = w + k − 1 = 8 tokens — aligned with the 8-token
    * span screens so the winnowed index detects exactly the runs the
    * full span index does, at ~2/(w+1) of its size. */
  private[queries] val WinnowK = 5
  private[queries] val WinnowW = 4

  /** Position-encoding base for the winnow window argmin: encoded =
    * (hash+1)·C − pos packs (hash, rightmost-pos) into ONE long so the
    * per-window rightmost-minimal gram is a plain `array_min` — no
    * struct ordering relied on, and the identical integer arithmetic
    * replays in the DuckDB oracle. hash < 2^31 ⇒ encoded < 2^51; pos
    * (gram index) must stay < C = 2^20, i.e. docs under ~1M tokens —
    * beyond that, raise C (headroom to 2^43-token docs at long range).
    */
  private[queries] val WinnowPosBase = 1L << 20

  /** Training-sample rail for `text_bpe_train_sampled`: the maximum
    * number of documents the iterative merge loop sees. Deliberately
    * SMALL (128, vs the 16 384 audit caps) so the rail engages at
    * every oracle scale — sf0.01's 500 docs already train on the
    * stride-4 sample — and so the per-merge-round pass cost is a
    * constant, not a corpus scan: BPE merge statistics converge with
    * sample size (the top pair is a corpus-frequency argmax, stable
    * under uniform sampling), which is why production tokenizers train
    * on a bounded sample and encode everything. */
  private[graft] val BpeTrainSampleCap = 128L

  /** BM25 probe query: one rare term (df ≈ 5% — the planted dup
    * marker) and two common ones, so idf spans two orders of
    * magnitude and the ranking exercises both ends of the curve. */
  private[graft] val Bm25QueryTerms = Seq("dup", "spark", "vector")

  /** Rational-idf BM25 top-k over a (doc_id, text) frame — the
    * text_bm25_topk body (see its scaladoc for the arithmetic). */
  private[graft] def bm25TopK(d0: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val d = d0
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val corpus = d.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val tf = d.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val tdf = tf.groupBy("tok").agg(count(lit(1)).as("tdf")) // rows are (doc, tok)
    tf.join(broadcast(tdf), "tok")
      .crossJoin(broadcast(corpus)) // (doc, term) rows × 1 scalar row
      .withColumn("avg_ppm", expr("(1000000 * dl * n_docs) div total_tokens"))
      .withColumn("idf_ppk", expr("(1000 * (2*n_docs - 2*tdf + 1)) div (2*tdf + 1)"))
      .withColumn("tfn_ppm",
        expr("(22000000 * tf * 1000000) div (10000000*tf + 3000000 + 9*avg_ppm)"))
      .withColumn("term_score", expr("(idf_ppk * tfn_ppm) div 1000"))
      .groupBy("doc_id")
      .agg(sum(col("term_score")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(k)
  }

  /** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 §4): hash every k-token gram POSITIONALLY (polyHash31
    * of the space-joined gram — the codegen'd [[KernelExpressions
    * .polyHashArray]] loop), slide a w-gram window over the hash
    * sequence, and select each window's minimal hash, rightmost on
    * ties (robust winnowing — repeated content re-selects the same
    * position). Output: (doc_id, pos, fp), distinct per doc.
    *
    * Everything is per-row array arithmetic inside one projection —
    * zero shuffle, scan-speed at 100 TB, and the selected set is the
    * ~2/(w+1)-density index that makes fingerprint inverted indexes
    * (dedup_winnow) w× cheaper than full span indexes. Docs shorter
    * than k tokens have no grams and drop out (same guard in the
    * oracle); docs with fewer than w grams winnow over one
    * all-gram window (least/greatest clamp, both engines).
    */
  private[graft] def winnowSelected(d: DataFrame, k: Int, w: Int): DataFrame = {
    import graft.functions.KernelExpressions.longDiv
    val C = WinnowPosBase
    val M = 2147483647L
    // Gram hashes COMPOSITIONALLY, not by building each k-token gram
    // string: poly31(t₁‖" "‖t₂‖…) = fold of (H·q_t + a_t) mod M over
    // the per-token a_t = poly31(" "+t) and shift q_t = 31^(len+1),
    // starting from poly31(t₁). Identical values to hashing the
    // joined string (the oracle keeps that form), at one char pass
    // per token instead of one per (gram × token) — the winnow
    // queries' dominant cost at sf1 was exactly that re-splitting.
    val perTok = d
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        transform(col("toks"), t => polyHash31(t)).as("th"),
        transform(col("toks"), t => polyHash31Spaced(t)).as("ta"),
        transform(col("toks"), t => polyShift31Spaced(t)).as("tq"))
    val m = size(col("th")) - lit(k - 1)
    // fold the k−1 appended tokens via shifted slices (same no-lambda-
    // element_at discipline as the window mins below)
    val gramHashes = (1 until k).foldLeft(slice(col("th"), lit(1), m)) { (acc, s) =>
      zip_with(
        zip_with(acc, slice(col("tq"), lit(1 + s), m),
          (x, qq) => (x * qq) % lit(M)),
        slice(col("ta"), lit(1 + s), m),
        (x, aa) => (x + aa) % lit(M))
    }
    val hs = perTok.select(col("doc_id"), gramHashes.as("hs"))
    // encoded (hash, rightmost-pos) per gram: (h_j+1)·C − j (j 1-based)
    val enc = hs.select(col("doc_id"),
      transform(col("hs"),
        (x, i) => (x + lit(1L)) * lit(C) - (i.cast("long") + lit(1L))).as("enc"))
    // Per-window rightmost-min as the elementwise least of the w
    // shifted slices of `enc` — deliberately NOT the per-window
    // element_at lambda: InferFiltersFromGenerate pushes a
    // size(sel) > 0 predicate below these projections, and pushdown
    // substitution inlines each referenced alias into that filter.
    // With element_at inside the window lambda the inlined hash-array
    // expression is re-evaluated once per (window × element) —
    // O(m·w) full gram-hash passes per document (measured 300× on
    // dedup_candidate_audit at sf0.1). In slice form `enc` appears
    // exactly w times, so the worst-case inlined filter costs O(w)
    // extra array passes, never a nested re-evaluation.
    val nw = greatest(size(col("enc")) - lit(w - 1), lit(1))
    val shifted = (1 to w).map(j => slice(col("enc"), lit(j), nw))
    // zip_with pads the shorter side with null and least() skips
    // nulls, so the m < w degenerate collapses to one all-gram window
    val mins = shifted.reduce((a, b) => zip_with(a, b, (x, y) => least(x, y)))
    enc
      .select(col("doc_id"), array_distinct(mins).as("sel"))
      .select(col("doc_id"), explode(col("sel")).as("e"))
      .select(col("doc_id"),
        (lit(C) - pmod(col("e"), lit(C))).as("pos"),
        (longDiv(col("e") + (lit(C) - pmod(col("e"), lit(C))), lit(C)) - lit(1L))
          .as("fp"))
  }

  /** The Gopher rule battery as a pure frame function over
    * (doc_id, text) — entirely stateless map-side column arithmetic,
    * so the same plan would run unchanged on a stream. */
  private[graft] def gopherRules(d0: DataFrame): DataFrame = {
    val d = d0.select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
    d.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      (aggregate(transform(col("toks"), t => length(t).cast("long")), lit(0L), _ + _)
        .cast("double") / size(col("toks")).cast("double")).as("mean_token_len"),
      ((length(col("text")) - length(regexp_replace(col("text"), "[#…]", "")))
        .cast("double") / size(col("toks")).cast("double")).as("symbol_ratio"),
      (expr("size(filter(toks, t -> t rlike '[A-Za-z]'))")
        .cast("double") / size(col("toks")).cast("double")).as("alpha_frac"),
      size(filter(
        array(GopherStops.map(lit): _*),
        w => array_contains(col("toks"), w))).cast("long").as("stop_hits"))
      .withColumn("rule_word_count",
        (col("n_tokens") >= 50L && col("n_tokens") <= 100000L).cast("long"))
      .withColumn("rule_mean_len",
        (col("mean_token_len") >= 3.0 && col("mean_token_len") <= 10.0).cast("long"))
      .withColumn("rule_symbol", (col("symbol_ratio") < 0.1).cast("long"))
      .withColumn("rule_alpha", (col("alpha_frac") >= 0.8).cast("long"))
      .withColumn("rule_stops", (col("stop_hits") >= 2L).cast("long"))
      .withColumn("keep",
        (col("rule_word_count") === 1L && col("rule_mean_len") === 1L &&
          col("rule_symbol") === 1L && col("rule_alpha") === 1L &&
          col("rule_stops") === 1L).cast("long"))
  }

  /** Memoized contamination results, keyed by (session, corpus dir) —
    * get/putIfAbsent, same nesting-safe discipline as the other memo
    * maps. Cleared via [[graft.model.Caches]]. */
  private val contamMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), DataFrame]()
  graft.model.Caches.register(() => contamMemo.clear())

  /** Training docs (source != src0) contaminated by the held-out set:
    * (doc_id, n_shared_spans) for docs sharing ≥ 1 verbatim 8-token
    * span with a src0 document. Shared by the text_contamination query
    * and the end-to-end cleaning pipeline — MEMO-PERSISTED (r17, guide
    * §1.2): both consumers re-ran the corpus span-explode + broadcast
    * probe on every invocation; the result frame is contaminated-docs-
    * sized (tens of rows), never corpus-sized. */
  private[queries] def contaminatedDocs(s: SparkSession, dir: String): DataFrame = {
    val k = (System.identityHashCode(s), dir)
    val got = contamMemo.get(k)
    if (got != null) got
    else {
      val spans = docsSpread(s, dir)
        .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("source"),
          explode(graft.functions.KernelExpressions.sortedNgramSet(col("toks"), 8)).as("span"))
      val evalSpans = spans.filter(col("source") === "src0").select("span").distinct()
      val built = spans.filter(col("source") =!= "src0")
        .join(broadcast(evalSpans), Seq("span"))
        .groupBy("doc_id") // spans are distinct per doc → count = shared spans
        .agg(count(lit(1)).as("n_shared_spans"))
        .persist()
      val prev = contamMemo.putIfAbsent(k, built)
      if (prev != null) prev else built
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Simpson token-diversity quality screen: Σ(c_w/n)² — the
    // collision probability of two random token draws. High values
    // flag keyword-stuffed / low-diversity documents the repetition
    // screen (max run length) misses when the repeats are scattered.
    // Both reported ratios are single divisions of EXACT integer
    // aggregates (Σc², Σc, |W| — summed as longs, order-insensitive),
    // so the result is bit-deterministic on any engine and any
    // partitioning — no floating-point summation order to reconcile.
    // Two keyed hash aggregates ((doc, token) then doc) with map-side
    // partials; at 100 TB this is the same shuffle profile as tf-idf's
    // term-count pass.
    "text_simpson_diversity" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
          sum(col("c") * col("c")).as("s2"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(col("s2").cast("double") / (col("n_tokens") * col("n_tokens")).cast("double"), 6)
            .as("simpson"),
          round(col("n_distinct").cast("double") / col("n_tokens").cast("double"), 6)
            .as("distinct_ratio"))),

    // per-document quality stats
    "text_stats" -> ((s, dir) => {
      val toks = tokens(col("text"))
      docs(s, dir).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        punctCount(col("text")).as("punct_cnt"),
        wordSetRatio(col("text"), langMarkers.toMap.apply("en")).as("stop_ratio"),
        (aggregate(transform(toks, t => length(t).cast("long")), lit(0L), _ + _).cast("double")
          / size(toks).cast("double")).as("avg_token_len"))
    }),

    // corpus token counts per source (whitespace + BPE-ish)
    "text_token_count" -> ((s, dir) =>
      docs(s, dir)
        .select(col("source"),
          size(tokens(col("text"))).cast("long").as("ws"),
          bpeishTokenCount(col("text")).as("bpe"))
        .groupBy("source")
        .agg(sum(col("ws")).as("ws_tokens"), sum(col("bpe")).as("bpe_tokens"),
          count(lit(1)).as("n_docs"))),

    // heuristic language ID (stopword markers, deterministic tie-break)
    "text_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), langId(col("text")).as("pred_lang"))),

    // LANG-ID EVAL — the classifier-vs-gold confusion matrix, the
    // model-eval audit every heuristic in a production pipeline needs
    // next to it (documents carry a gold `lang` label): per
    // (gold, predicted) cell the doc count plus per-gold recall from
    // a broadcast totals frame. One scan + one tiny aggregate; the
    // recall division is exact-integers-into-double, identical in
    // both engines.
    "text_langid_eval" -> ((s, dir) => {
      val scored = docs(s, dir)
        .select(col("lang").as("gold"), langId(col("text")).as("pred"))
      val cells = scored.groupBy("gold", "pred").agg(count(lit(1)).as("n_docs"))
      val totals = cells.groupBy(col("gold").as("g")).agg(sum(col("n_docs")).as("n_gold"))
      cells.join(broadcast(totals), col("gold") === col("g"))
        .select(col("gold"), col("pred"), col("n_docs"),
          (col("gold") === col("pred")).cast("long").as("correct"),
          round(col("n_docs").cast("double") / col("n_gold").cast("double"), 6)
            .as("cell_share"))
    }),

    // corpus vocabulary: top-100 tokens by frequency (explode + hash
    // agg + TakeOrderedAndProject; at 100 TB this is the classic
    // word-count shuffle with map-side partials)
    "text_vocab" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(100)),

    // KMV SET-OPERATION estimates (the theta-sketch workflow): how
    // much vocabulary do two sources share? Per source a k=64
    // bottom-hash sketch of the distinct token set; per source-pair
    // the merged bottom-k yields union / intersection / Jaccard
    // estimates — sound because the combined bottom-k of A∪B is a
    // uniform hash sample of the union, and membership-in-both is
    // checkable against the two component sketches (Beyer et al.
    // 2007). At 100 TB the exact answer shuffles every distinct
    // (source, token) pair; here each source crosses the wire as 64
    // longs and the pair frame is |sources|² sketch rows, data-size-
    // independent. All estimator arithmetic is integer division, so
    // the oracle replays it bit-for-bit.
    "text_vocab_overlap_kmv" -> ((s, dir) => {
      val mins = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .select(col("source"), polyHash31(col("token")).as("h"))
        .groupBy("source")
        .agg(graft.functions.Sketches.kmvMinima(col("h"), 64).as("minima"))
      val a = mins.select(col("source").as("source_a"), col("minima").as("ma"))
      val b = mins.select(col("source").as("source_b"), col("minima").as("mb"))
      // sketch-frame self-join: 20 rows × 64 longs a side — broadcast,
      // the corpus itself is never rescanned or reshuffled
      a.join(broadcast(b), col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"), col("ma"), col("mb"),
          slice(array_sort(array_union(col("ma"), col("mb"))), 1, 64).as("comb"))
        .select(col("source_a"), col("source_b"),
          size(col("comb")).cast("long").as("n_combined"),
          size(filter(col("comb"),
            x => array_contains(col("ma"), x) && array_contains(col("mb"), x)))
            .cast("long").as("n_both"),
          // per-side membership in the combined sample: the
          // denominators of the DIRECTED containment estimates
          size(filter(col("comb"), x => array_contains(col("ma"), x)))
            .cast("long").as("n_a"),
          size(filter(col("comb"), x => array_contains(col("mb"), x)))
            .cast("long").as("n_b"),
          element_at(col("comb"), size(col("comb"))).as("kth"))
        .select(col("source_a"), col("source_b"), col("n_combined"), col("n_both"),
          col("n_a"), col("n_b"),
          when(col("n_combined") < 64, col("n_combined"))
            // 63·(2^31−1) pre-folded, as in q_distinct_kmv
            .otherwise(expr("135291469761 div kth")).as("union_est"))
        .select(col("source_a"), col("source_b"), col("n_combined"), col("n_both"),
          col("union_est"),
          expr("(n_both * union_est) div n_combined").as("inter_est"),
          expr("(1000000 * n_both) div n_combined").as("jaccard_ppm"),
          // cont(A→B) = |A∩B|/|A| ≈ n_both/n_a within the uniform
          // union sample — which side is the quote/subset. n_a CAN be
          // 0 under heavy size skew (all of B's 64 minima below A's
          // smallest hash evicts A from the combined sample entirely);
          // n_both ≤ min(n_a, n_b), so 0/0 is the only division the
          // guard sidesteps and 0 is the faithful estimate there.
          when(col("n_a") > 0, expr("(1000000 * n_both) div n_a"))
            .otherwise(lit(0L)).as("cont_a_in_b_ppm"),
          when(col("n_b") > 0, expr("(1000000 * n_both) div n_b"))
            .otherwise(lit(0L)).as("cont_b_in_a_ppm"))
    }),

    // BM25 TOP-K RETRIEVAL (rational-idf variant): rank the corpus
    // against a query term set with the BM25 tf saturation curve
    // (k₁ = 1.2, b = 0.75) — tf_norm = 22·tf / (10·tf + 3 + 9·dl/avgdl)
    // after clearing denominators — and the log-free rational idf
    // (2N − 2df + 1)/(2df + 1) (the Robertson–Sparck-Jones odds WITHOUT
    // the log: per-term ORDER is identical, and every quantity stays
    // integer-exact so the oracle replays the scores bit-for-bit; a
    // float log would differ across engines in the last ulp and break
    // hash equality). All scaled-integer `div` arithmetic: idf at ppk
    // scale so idf_ppk × tfn_ppm stays < 2⁶³ even at 10⁹ documents.
    // Scale shape: one token explode with the query-term isin filter
    // DIRECTLY above the generator (rows for non-query tokens die
    // before any shuffle), a map-side-combined (doc, term) tf
    // aggregate, a term-count df frame (|terms| rows, broadcast), and
    // TakeOrderedAndProject for the top-k — no corpus-sized shuffle
    // carries text.
    "text_bm25_topk" -> ((s, dir) =>
      bm25TopK(docs(s, dir), Bm25QueryTerms, 20)),

    // ZIPF DEVIATION — the corpus-naturalness audit: natural language
    // token frequencies follow rank-frequency ∝ 1/r; template/
    // synthetic/keyword-stuffed corpora don't. Per top-100 rank:
    // observed ppm share vs the Zipf expectation over the same 100
    // ranks, and the absolute deviation. All arithmetic is
    // scaled-integer (`div` on 1e6/1e12 scales), so the audit is
    // engine-exact — no floating harmonic sums. Cost: the word-count
    // shuffle + windows over the 100-row top frame (index-parameter-
    // sized, single-partition by construction — the corpus never
    // passes through the unpartitioned window).
    "text_zipf_deviation" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val wRank = W.orderBy(col("freq").desc, col("token"))
      val wAll = W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(100)
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .withColumn("tot", sum(col("freq")).over(wAll))
        .withColumn("zw", expr("1000000000000L div rank"))
        .withColumn("hsum", sum(col("zw")).over(wAll))
        .select(col("rank"), col("token"), col("freq"),
          expr("(freq * 1000000L) div tot").as("obs_ppm"),
          expr("(zw * 1000000L) div hsum").as("exp_ppm"))
        .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
    }),

    // document fingerprints: rolling polynomial hash + content digest.
    // plain docs, NOT docsSpread (r17 re-adjudication, measured A/B in
    // one window: spread 0.196 s vs plain 0.103 s warm at 32 cores,
    // and the driver's r16 scaling row agreed — 0.73 ratio): two
    // hashes per row are too cheap to pay for a corpus-sized RR
    // exchange.
    "text_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        polyHash31(col("text")).as("fp_poly"),
        md5(col("text").cast("binary")).as("fp_md5"))),

    // benchmark decontamination: training documents (source != src0)
    // sharing any verbatim 8-token span with the held-out set
    // (source == src0), with the shared-span count — the screening
    // pass every training corpus runs against its eval suites. The
    // eval span set is small by construction (benchmarks, not corpora),
    // so it is BROADCAST and the corpus streams past it map-side —
    // no corpus shuffle at all.
    "text_contamination" -> ((s, dir) => contaminatedDocs(s, dir)),

    // per-document top-3 salient terms by tf-idf (ratio idf: score =
    // tf * N / df — rational arithmetic, so the score is bit-identical
    // across engines; log-idf would hinge on transcendental rounding).
    // Count-min-sketch heavy hitters: the CMS aggregate reduces the
    // exploded token stream map-side into one 4×256 counter array per
    // partition (the shuffle carries sketches, not tokens), then the
    // top-20 exact tokens are point-queried against the broadcast
    // sketch — demonstrating estimate ≥ exact with CMS's ε·N bound.
    // At 100 TB the exact groupBy is the expensive half; the sketch
    // side costs one array per partition regardless of corpus size.
    "text_heavy_hitters_cms" -> ((s, dir) => {
      import graft.functions.Sketches
      val toks = docs(s, dir).select(explode(tokens(col("text"))).as("token"))
      val sketch = toks.agg(Sketches.cmsSketch(col("token"), depth = 4, width = 256).as("sk"))
      val top = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("token")).limit(20)
      val h = polyHash31(col("token"))
      val ests = (0 until 4).map { j =>
        val cell = ((h * lit(Sketches.CmsSketch.RowA(j)) + lit(Sketches.CmsSketch.RowB(j)))
          % lit(Sketches.CmsSketch.P)) % lit(256L)
        element_at(col("sk"), (cell + lit(j * 256L) + lit(1L)).cast("int"))
      }
      top.crossJoin(broadcast(sketch))
        .select(col("token"), col("exact_cnt"), least(ests: _*).as("est_cnt"))
    }),

    // Two shuffles (tf by (doc, token), df by token) + a broadcast of
    // the corpus-size scalar; ranking is a per-doc window. df rides ON
    // the tf aggregate (r17, guide §1.2): tf's key set IS the distinct
    // (doc, token) pairs, so df(token) = rows-per-token of tf — the
    // old independent `toks.distinct().groupBy(token)` branch
    // re-tokenized and re-exploded the whole corpus a second time and
    // paid its own pair-wide shuffle. The df count is
    // count(when(tf ≥ 1, 1)), NOT count(1) — value-identical (tf ≥ 1
    // by construction, so the branch hits on every row) but
    // load-bearing: with count(1) the optimizer prunes the unused tf
    // column from this branch's copy of the inner aggregate, turning
    // it into a keys-only distinct whose exchange no longer
    // canonicalizes equal to tf's, and the corpus is tokenized twice
    // again (count(col("tf")) doesn't survive either: NullPropagation
    // rewrites count(non-nullable) to count(1); the otherwise-less
    // `when` stays nullable, which blocks that rewrite). AQE's runtime
    // stage reuse, not the static plan, is what dedupes the twin
    // exchanges — see plans/r17/text_tfidf_executed.txt.
    "text_tfidf" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token")
        .agg(count(when(col("tf") >= 1L, lit(1))).as("df"))
      val total = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("token"))
      tf.join(dfreq, "token")
        .crossJoin(broadcast(total))
        .withColumn("score",
          round((col("tf") * col("n_docs")).cast("double") / col("df").cast("double"), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "token", "score", "rank")
    }),

    // Gopher-style repetition-quality signals (Rae et al. 2021 §A1.1):
    // distinct-token ratio, top-token fraction, top-bigram fraction, and
    // the keep/drop verdict at fixed thresholds. Entirely map-side: the
    // modal-frequency counts use sort_array + the codegen'd MaxRunLength
    // kernel (O(d log d) per doc), NOT a per-doc explode/groupBy shuffle
    // and NOT the O(d²) distinct×filter formulation the oracle uses —
    // at 100 TB this streams at scan speed like the other text scorers.
    // All fractions are single IEEE divisions of exact integer counts,
    // so the doubles (and the threshold verdict) are engine-exact.
    "text_quality_repetition" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("bg", ngramsOfTokens(col("toks"), 2))
      import graft.functions.KernelExpressions.maxRunLength
      d.select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")).cast("double")).as("distinct_ratio"),
        (maxRunLength(sort_array(col("toks"))).cast("double")
          / size(col("toks")).cast("double")).as("top_token_frac"),
        when(size(col("bg")) === 0, lit(0.0))
          .otherwise(maxRunLength(sort_array(col("bg"))).cast("double")
            / size(col("bg")).cast("double")).as("top_bigram_frac"))
        .withColumn("keep",
          (col("distinct_ratio") >= 0.5 &&
            col("top_token_frac") <= 0.1 &&
            col("top_bigram_frac") <= 0.1).cast("long"))
    }),

    // gibberish screen: per-doc fraction of tokens drawn from the
    // top-100 corpus vocabulary. Natural-language docs put most of
    // their token mass on the head of the distribution; boilerplate /
    // binary-spill / wrong-language docs don't. The vocab is a FIXED-K
    // top-k (one word-count shuffle + TakeOrderedAndProject), so the
    // broadcast side is ~100 strings regardless of corpus size — at
    // 100 TB the scoring pass is map-side at scan speed, and the ratio
    // is a single IEEE division of exact integer counts (engine-exact).
    "text_common_token_ratio" -> ((s, dir) => {
      val vocab = docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(100)
        .agg(collect_list(col("token")).as("vocab"))
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .crossJoin(broadcast(vocab))
        .select(
          col("doc_id"),
          expr("size(filter(toks, t -> array_contains(vocab, t)))")
            .cast("long").as("common_tokens"),
          size(col("toks")).cast("long").as("n_tokens"))
        .withColumn("common_ratio",
          col("common_tokens").cast("double") / col("n_tokens").cast("double"))
    }),

    // the first BPE merge step of tokenizer training: count every
    // ADJACENT token pair across the corpus (with multiplicity —
    // unlike the distinct n-gram sets dedup uses) and rank the top
    // merge candidates. Pair construction is a map-side zip of the
    // token array against itself shifted by one; the aggregate is the
    // classic word-count shuffle + TakeOrderedAndProject. At 100 TB
    // this is exactly one pass per merge round, the dominant cost
    // structure of corpus-scale BPE training.
    "text_bigram_merges" -> ((s, dir) =>
      docs(s, dir)
        .select(tokens(col("text")).as("toks"))
        .select(explode(expr(
          """zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
            |         slice(toks, 2, greatest(size(toks) - 1, 0)),
            |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("pair"))
        .limit(20)),

    // bigram-fluency quality score: the fraction of a document's
    // adjacent token pairs that appear in the corpus's top-1000 bigram
    // list — a cheap LM-free proxy for "reads like the corpus" that
    // catches shuffled/generated word salad whose unigram stats look
    // normal (every token common, no common pair). Corpus pass 1 is
    // the bigram word-count + tie-stable top-1000 (broadcast as ONE
    // array row); pass 2 scores map-side — same broadcast-vocabulary
    // shape as text_common_token_ratio, scan-speed at 100 TB.
    "text_bigram_fluency" -> ((s, dir) => {
      val docPairs = expr(
        """zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
          |         slice(toks, 2, greatest(size(toks) - 1, 0)),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin)
      val top = docs(s, dir)
        .select(tokens(col("text")).as("toks"))
        .select(explode(docPairs).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("pair")).limit(1000)
        .select(col("pair"), lit(1L).as("hit"))
      // membership via BROADCAST HASH JOIN, not a per-pair linear scan
      // of a 1000-element array (O(1) lookup per bigram, and the probe
      // side stays in whole-stage codegen); explode_outer keeps
      // zero-bigram documents in the output
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("prs", docPairs)
        .select(col("doc_id"), size(col("prs")).cast("long").as("n_bigrams"),
          explode_outer(col("prs")).as("pair"))
        .join(broadcast(top), Seq("pair"), "left")
        .groupBy("doc_id")
        .agg(max(col("n_bigrams")).as("n_bigrams"),
          sum(coalesce(col("hit"), lit(0L))).as("common_bigrams"))
        .select(col("doc_id"), col("common_bigrams"), col("n_bigrams"),
          when(col("n_bigrams") === 0L, lit(0.0))
            .otherwise(col("common_bigrams").cast("double") / col("n_bigrams").cast("double"))
            .as("fluency"))
    }),

    // Gopher quality-rule battery (Rae et al. 2021 §A1.1 — the
    // document-level filters, minus the line-shape rules the
    // single-line synthetic corpus cannot exercise): word-count
    // bounds, mean-token-length bounds, symbol-to-word ratio
    // ('#'/'…'), fraction of tokens containing a letter, and the
    // ≥2-distinct-stopwords gate, composed into one keep verdict.
    // Entirely map-side (codegen'd HOFs over the token array plus two
    // regex counts); every reported fraction is a single IEEE division
    // of exact integer counts, so the doubles AND the threshold
    // verdicts are engine-exact. Each rule reports its OWN flag —
    // production filters tune/ablate rules individually, and on this
    // synthetic vocabulary the stopword gate never passes (only 'the'
    // from Gopher's list occurs), which per-rule output makes visible
    // instead of hiding inside an all-zero conjunction. At 100 TB this
    // streams at scan speed next to text_stats — the first gate of
    // the cleaning funnel.
    "text_gopher_rules" -> ((s, dir) => gopherRules(docs(s, dir))),

    // BPE ENCODE — the application step completing the tokenizer
    // story (text_bigram_merges LEARNS the merge table; this applies
    // it): the top-8 learned merges, in rank order, each rewrite every
    // document by greedy left-to-right non-overlapping pair merging —
    // the standard BPE encode loop. The merge table is a driver
    // collect bounded by the TOKENIZER parameter (8 rows), like the
    // ANN index bootstraps; each merge round is ONE stateless map-side
    // HOF fold (struct accumulator: emitted prefix + carried token),
    // so the encode pass is 8 chained codegen'd projections — zero
    // shuffles, scan speed at 100 TB, exactly how you'd run a frozen
    // tokenizer over a corpus. Oracled via a delimiter-encoding trick
    // (the fold's struct accumulator is outside DuckDB's list_reduce):
    // encode the token stream as chr(2)‖tok‖chr(3) concatenated, and
    // each greedy left-to-right non-overlapping merge is EXACTLY one
    // leftmost-first string replace of chr(2)a chr(3)chr(2)b chr(3) —
    // the delimiters make token boundaries unambiguous (originals
    // contain no chr(2)/chr(3), merged tokens hide their inner space
    // inside one delimiter span, so later patterns can't match across
    // or inside a merged token). TextDedupSpec additionally pins a
    // driver-side reimplementation of the fold itself.
    "text_bpe_encode" -> ((s, dir) => {
      val merges = docs(s, dir)
        .select(tokens(col("text")).as("toks"))
        .select(explode(expr(
          """zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
            |         slice(toks, 2, greatest(size(toks) - 1, 0)),
            |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("pair"))
        .limit(8)
        .collect().map(_.getString(0)) // rank-ordered, tokenizer-bounded
      def sq(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
      val encoded = merges.foldLeft("toks") { (acc, pair) =>
        val Array(a, b) = pair.split(" ", 2)
        s"""aggregate($acc,
           |  named_struct('out', cast(array() as array<string>), 'carry', cast(null as string)),
           |  (st, t) -> CASE
           |    WHEN st.carry IS NULL THEN named_struct('out', st.out, 'carry', t)
           |    WHEN st.carry = '${sq(a)}' AND t = '${sq(b)}'
           |      THEN named_struct('out', array_append(st.out, '${sq(pair)}'),
           |                        'carry', cast(null as string))
           |    ELSE named_struct('out', array_append(st.out, st.carry), 'carry', t) END,
           |  st -> CASE WHEN st.carry IS NULL THEN st.out
           |             ELSE array_append(st.out, st.carry) END)""".stripMargin
      }
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("enc", expr(encoded))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(col("enc")).cast("long").as("n_bpe_tokens"),
          round(size(col("enc")).cast("double") / size(col("toks")).cast("double"), 6)
            .as("compression"),
          md5(concat_ws("\u0001", col("enc")).cast("binary")).as("enc_digest"))
    }),

    // ITERATIVE BPE TRAINING — the loop that text_bigram_merges (one
    // count) and text_bpe_encode (frozen table) bracket: learn merge
    // #1, RE-COUNT the re-encoded corpus, learn merge #2, … for 6
    // rounds — true BPE, where merge r's counts see merges 1..r−1
    // (the single-count top-8 table text_bpe_encode freezes is the
    // round-1 approximation). Each round is ONE corpus pass — the
    // documented cost structure of corpus-scale tokenizer training —
    // whose job is a word-count shuffle + a 1-row TakeOrdered; the
    // merge table lives on the driver, bounded by the TOKENIZER
    // parameter (6 rows), like the ANN index bootstraps. Re-encoding
    // is the same chained map-side aggregate-fold as text_bpe_encode,
    // so round r's count runs over r−1 stacked codegen'd projections —
    // no shuffle beyond the count itself. The (freq DESC, a, b)
    // argmax is a total order, hence engine-exact; merged tokens keep
    // their inner spaces, so (a, b) ride as separate columns (a naive
    // split-on-space of "x y z" cannot recover whether x|y z or
    // x y|z merged — the bug the struct pair avoids). PropertySpec
    // pins equivalence with a direct driver-side greedy
    // reimplementation.
    "text_bpe_train" -> ((s, dir) => bpeTrain(s, dir, rounds = 6)),

    // PRODUCTION BPE COMPOSITION — the query a 100 TB tokenizer run
    // actually registers (round-14 de-weak of text_bpe_train, whose
    // whole-corpus loop costs one corpus pass PER MERGE — ~32 000
    // passes at a real 32k vocabulary, measured flat-marginal in
    // SCALING.md round 13): TRAIN the merge table on the deterministic
    // stride sample (shared audit-rail sampler, ≤ [[BpeTrainSampleCap]]
    // docs — cost O(sample × rounds), corpus-size-independent), then
    // ENCODE the full corpus with the frozen table in ONE
    // embarrassingly parallel pass of chained codegen'd StringReplaces
    // (cost O(corpus), zero shuffles — scan speed). The merge table
    // lives on the driver, bounded by the tokenizer parameter, like
    // the ANN index bootstraps. Per-doc output mirrors
    // text_bpe_encode; the oracle replays BOTH stages — the sampled
    // 6-round learn→replace→re-count chain AND the full-corpus frozen
    // encode — so sampling arithmetic, argmax order, and greedy merge
    // semantics are all hash-gated (the stride rail ENGAGES at sf0.01:
    // 500 docs over cap 128 → stride 4).
    "text_bpe_train_sampled" -> ((s, dir) => {
      val merges = bpeTrainMerges(
        graft.queries.DedupQueries.strideSampled(
          docs(s, dir), "doc_id", BpeTrainSampleCap),
        rounds = 6)
      val d2 = "\u0002"; val d3 = "\u0003"
      val enc0 = concat(lit(d2), array_join(col("toks"), d3 + d2), lit(d3))
      val encoded = merges.foldLeft(enc0) { case (acc, (_, a, b, _)) =>
        org.apache.spark.sql.functions.replace(acc,
          lit(d2 + a + d3 + d2 + b + d3), lit(d2 + a + " " + b + d3))
      }
      val nBpe = (length(col("s")) -
        length(org.apache.spark.sql.functions.replace(col("s"), lit(d2), lit(""))))
        .cast("long")
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("s", encoded)
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          nBpe.as("n_bpe_tokens"),
          round(nBpe.cast("double") / size(col("toks")).cast("double"), 6)
            .as("compression"),
          md5(trim(org.apache.spark.sql.functions.replace(
              col("s"), lit(d3 + d2), lit("\u0001")), d2 + d3).cast("binary"))
            .as("enc_digest"))
    }),

    // corpus length distribution: documents histogrammed by token count
    // in width-10 buckets — the first diagnostic run on any training
    // corpus (truncation/padding budgets, outlier screens). Bucketing
    // is pure integer arithmetic (n - n mod 10), so the histogram is
    // engine-exact; one map-side-combined shuffle of ≤ #buckets rows.
    "text_length_histogram" -> ((s, dir) =>
      docs(s, dir)
        .select(size(tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("bucket_lo", col("n_tok") - pmod(col("n_tok"), lit(10L)))
        .groupBy("bucket_lo")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tok")).as("min_tokens"),
          max(col("n_tok")).as("max_tokens"))),

    // Gopher's remaining repetition signals (Rae et al. 2021 §A1.1):
    // the fraction of document CHARACTERS covered by n-grams that
    // occur ≥ 2 times within the doc, for n = 2,3,4 — catches
    // scattered boilerplate repetition that the max-run-length screen
    // (text_quality_repetition) misses and token-level Simpson
    // diversity underweights. Coverage is POSITIONAL (union of the
    // [i, i+n) spans of every duplicated-gram occurrence, overlaps
    // counted once), so the arithmetic is exact-integer char sums and
    // the fraction one division. Shuffle profile per n: one
    // (doc, gram) window for occurrence counts, one (doc, pos)
    // distinct for span union, one (doc, pos) join against token
    // lengths — all keyed WITHIN documents (corpus-ngram-sized, like
    // tf-idf's term pass), so at 100 TB the three n-passes stream in
    // parallel with no cross-document data movement at all.
    "text_dup_ngram_fraction" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
      val tp = base
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"),
          length(col("tok")).cast("long").as("l"))
      val totals = tp.groupBy("doc_id").agg(sum(col("l")).as("total_chars"))
      def forN(n: Int): DataFrame = {
        // sequence() descends when size(toks) < n, so guard to empty
        val grams = base.select(col("doc_id"),
          explode(expr(
            s"""if(size(toks) < $n, array(),
               |   transform(sequence(1, size(toks) - ${n - 1}),
               |     i -> named_struct('gpos', i,
               |            'gram', concat_ws(' ', slice(toks, i, $n)))))""".stripMargin))
            .as("g"))
          .select(col("doc_id"), col("g.gpos").as("gpos"), col("g.gram").as("gram"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"), col("gram"))
        val covered = grams
          .withColumn("cnt", count(lit(1)).over(w)).filter(col("cnt") >= 2)
          .select(col("doc_id"),
            explode(sequence(col("gpos"), col("gpos") + lit(n - 1))).as("pos"))
          .distinct()
        val dup = covered.join(tp, Seq("doc_id", "pos"))
          .groupBy("doc_id").agg(sum(col("l")).as("dup_chars"))
        totals.join(dup, Seq("doc_id"), "left")
          .select(col("doc_id"), lit(n).cast("int").as("n"),
            coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
            col("total_chars"),
            round(coalesce(col("dup_chars"), lit(0L)).cast("double")
              / col("total_chars").cast("double"), 6).as("dup_frac"))
      }
      Seq(2, 3, 4).map(forN).reduce(_ unionByName _)
    }),

    // Per-document mean inverse unigram probability — a corpus-LM
    // rarity score (high = the doc is made of tokens the corpus rarely
    // uses; the LM-free stand-in for "high unigram perplexity" used to
    // screen gibberish and to up-sample tail knowledge). log-prob would
    // make the score transcendental and summation-order-dependent, so
    // the per-occurrence surprise is the RATIONAL N/c_w, fixed-point
    // floored to floor(1e6·N/c_w) via integer `div` (exact in both
    // engines; with the 1e6 scale the product stays inside a long up
    // to N ≈ 9.2e12 corpus tokens — beyond that, widen to DECIMAL(38)).
    // Longs sum exactly in any order, and the only float ops are two
    // final divisions in a fixed association. Shape at 100 TB: one
    // word-count shuffle for the vocabulary, then an inverted-index
    // equi-join on token whose fan is bounded by the map-side
    // (doc, token) combine — Zipf-hot tokens join once per containing
    // doc, not once per occurrence. Same profile as tf-idf.
    "text_unigram_rarity" -> ((s, dir) => {
      val ctd = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val cw = ctd.groupBy("tok").agg(sum(col("c")).as("cw"))
      val n = cw.agg(sum(col("cw")).as("n")) // one scalar row → broadcast
      ctd.join(cw, "tok")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("c"), expr("(1000000L * n) div cw").as("term"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"), sum(col("c") * col("term")).as("sum_term"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("sum_term").cast("double") / lit(1000000.0)
            / col("n_tokens").cast("double"), 6).as("rarity"))
    }),

    // Pairwise total-variation distance between per-source token
    // distributions — the domain-shift audit run before mixing corpora
    // (is src3 "the same language" as src1?) and after any filtering
    // pass (did the quality screen skew the distribution?). TV rather
    // than KL/JS because ½Σ|p−q| clears the denominators exactly:
    // the per-token term is the INTEGER |c₁N₂ − c₂N₁|, summed as
    // longs, one final division by 2N₁N₂ — engine-exact where a
    // log-based divergence would be FP-summation-order-dependent.
    // Shape at 100 TB: one (source, token) word-count shuffle; the
    // pair table is #sources² rows (broadcast); each vocab row is
    // replicated once per pair it participates in — cost is
    // vocab × sources, never corpus-sized.
    "text_source_divergence" -> ((s, dir) => {
      val c = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val tot = c.groupBy("source").agg(sum(col("c")).as("n"))
      val pairs = tot.select(col("source").as("source_a"), col("n").as("n_a"))
        .crossJoin(broadcast(tot.select(col("source").as("source_b"), col("n").as("n_b"))))
        .filter(col("source_a") < col("source_b"))
      val contrib = c
        .join(broadcast(pairs), col("source") === col("source_a"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("tok"),
          col("c").as("c1"), lit(0L).as("c2"))
        .unionByName(c
          .join(broadcast(pairs), col("source") === col("source_b"))
          .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("tok"),
            lit(0L).as("c1"), col("c").as("c2")))
      contrib
        .groupBy("source_a", "source_b", "n_a", "n_b", "tok")
        .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
        .groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(sum(abs(col("c1") * col("n_b") - col("c2") * col("n_a"))).as("tv_num"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          round(col("tv_num").cast("double")
            / (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")), 6)
            .as("tv_distance"))
    }),

    // Per-document n-gram novelty: the fraction of a doc's distinct
    // 8-token spans appearing in NO other document — the memorization-
    // risk / content-originality audit (low novelty = the doc is built
    // from corpus boilerplate; the complement of the contamination and
    // common-span screens, which only flag OVERLAP). Reuses the same
    // sorted distinct-span kernel and inverted span index as the span
    // dedup family: span document-frequency is one map-side-combined
    // shuffle (spans are distinct per doc, so count(*) IS df), the
    // join back is the inverted-index equi-join, and all counts are
    // exact longs with one rounded division. explode+left join keeps
    // sub-8-token docs (zero spans) in the output.
    "text_ngram_novelty" -> ((s, dir) => {
      val spans = docs(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.KernelExpressions.sortedNgramSet(tokens(col("text")), 8))
            .as("span"))
      val df = spans.groupBy("span").agg(count(lit(1)).as("df"))
      val per = spans.join(df, "span")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum((col("df") === 1L).cast("long")).as("novel_spans"))
      docs(s, dir).select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("novel_spans"), lit(0L)).as("novel_spans"),
          when(coalesce(col("n_spans"), lit(0L)) === 0L, lit(0.0))
            .otherwise(round(col("novel_spans").cast("double")
              / col("n_spans").cast("double"), 6)).as("novelty"))
    }),

    // Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken,
    // SIGMOD 2003): one row per SELECTED (pos, fp) — the w×-smaller
    // shift-robust fingerprint index with the paper's guarantee that
    // any verbatim run of ≥ w+k−1 tokens (here 8, matching the span
    // screens) shares at least one selected fingerprint. See
    // [[winnowSelected]] for the plan shape (map-side HOFs, zero
    // shuffle — the selection never leaves the scan task).
    "text_winnow_fingerprint" -> ((s, dir) =>
      winnowSelected(docsSpread(s, dir), WinnowK, WinnowW)),

    // RAKE keyword extraction (Rose et al. 2010) — the classic
    // unsupervised keyphrase miner, corpus-level: candidate phrases
    // are maximal stopword-free token runs (gaps-and-islands over
    // token positions, per-doc — the window is doc-length-bounded, so
    // parallelism is per-document like every other text op);
    // word stats freq(w) = #occurrences, deg(w) = Σ (phrase_len − 1)
    // over the phrases containing each occurrence; per-word score
    // (deg+freq)/freq is materialized FIXED-POINT — each word's
    // rational is floored to 10⁻⁶ INDIVIDUALLY (longDiv), so the
    // phrase score is a sum of exact integers and can never depend on
    // engine fold order. Stopword list = the langMarkers 'en' set the
    // quality scorer already uses. Output: top-20 phrases by score
    // (ties broken by phrase text — total order). Shape at 100 TB:
    // two vocab-sized aggregates + one vocab-keyed equi-join; nothing
    // pairs, nothing collects.
    // plain docs, NOT docsSpread (r17 re-adjudication, one-window A/B
    // at 32 cores: spread 0.964 warm / 1.763 cold vs plain 0.798 /
    // 1.354 — the RR exchange of the corpus text cost more than the
    // 32-way phrase derivation saved at this SF; the phrase pipeline
    // parallelizes through the first keyed shuffle anyway)
    "text_rake_keywords" -> ((s, dir) => rakeKeywords(docs(s, dir)))
  )

  /** RAKE core over any (doc_id, text) frame — see the registered
    * query's scaladoc for semantics; factored out so PropertySpec can
    * replay it against a brute-force in-memory RAKE on random corpora.
    */
  private[graft] def rakeKeywords(d0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.KernelExpressions.longDiv
    val stop = langMarkers.collectFirst { case ("en", ws) => ws }.get
    val toks = d0
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .filter(!col("tok").isin(stop.map(lit): _*))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val phrases = toks
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy("doc_id", "island")
      .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("pt"))
      .select(
        array_join(transform(col("pt"), x => x.getField("tok")), " ").as("phrase"),
        size(col("pt")).cast("long").as("len"))
    val wordStats = phrases
      .select(explode(split(col("phrase"), " ")).as("w"), col("len"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("len") - 1L).as("deg"))
      .select(col("w"),
        longDiv((col("deg") + col("freq")) * lit(1000000L), col("freq"))
          .as("wscore"))
    val distinctPhrases = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"))
    distinctPhrases
      .select(col("phrase"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordStats, "w")
      .groupBy("phrase", "n_occurrences")
      .agg(sum(col("wscore")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("phrase"))
      .limit(20)
  }

  /** DuckDB replay of [[winnowSelected]] — the same positional gram
    * polyhash, the same (hash+1)·C − pos window argmin encoding, the
    * same clamps; shared with the dedup_winnow oracle. Ends in CTE
    * `wsel(doc_id, pos, fp)`. */
  private[queries] val winnowSelCtes: String = {
    val k = WinnowK; val w = WinnowW; val c = WinnowPosBase
    val gram = (0 until k).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
    s"""t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
       |      WHERE len(string_split(text,' ')) >= $k),
       |g AS (SELECT doc_id, list_transform(range(1, len(toks) - ${k - 2}), i ->
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(string_split($gram, ''),
       |            ch -> CAST(ascii(ch) AS BIGINT))),
       |        (h, ch) -> (h * 31 + ch) % 2147483647)) AS hs FROM t),
       |sw AS (SELECT doc_id, list_distinct(
       |        list_transform(range(1, greatest(len(hs) - ${w - 1}, 1) + 1), i ->
       |          list_min(list_transform(range(i, least(i + ${w - 1}, len(hs)) + 1), j ->
       |            (hs[j] + 1) * $c - j)))) AS sel FROM g),
       |wu AS (SELECT doc_id, unnest(sel) AS e FROM sw),
       |wsel AS (SELECT doc_id, CAST($c - (e % $c) AS BIGINT) AS pos,
       |                CAST((e + ($c - (e % $c))) // $c - 1 AS BIGINT) AS fp
       |         FROM wu)""".stripMargin
  }

  /** Iterative BPE training core (see the registered query's
    * scaladoc); factored out so PropertySpec can run it at small
    * round counts against a brute-force greedy reimplementation. */
  /** The iterative BPE training loop over an arbitrary (text) frame —
    * shared by `text_bpe_train` (whole corpus, semantics pin) and
    * `text_bpe_train_sampled` (stride sample + full-corpus encode, the
    * production shape). Returns the learned (round, a, b, freq) table
    * on the driver — bounded by the TOKENIZER parameter, like the ANN
    * index bootstraps. */
  private[graft] def bpeTrainMerges(
      docsDf: DataFrame, rounds: Int): Seq[(Long, String, String, Long)] = {
    val s = docsDf.sparkSession
    // The corpus rides as the chr(2)‖tok‖chr(3) DELIMITER-ENCODED
    // STRING — the same representation the oracle (and text_bpe_encode's
    // oracle) uses — so each greedy left-to-right merge is ONE
    // codegen'd StringReplace, linear in the document. The first cut
    // kept a token array and applied merges as aggregate() HOF folds:
    // higher-order functions are CodegenFallback (interpreted) and the
    // array_append accumulator copies the array per token (O(T²) per
    // doc) — 11.7 s at sf0.1, the slowest query in the suite; this
    // form runs the identical arithmetic in ~1 s. Each round applies
    // its merge to the PERSISTED previous encoding and re-materializes,
    // so round r costs two single-op passes (pair count + encode) —
    // the documented "one corpus pass per round" cost structure —
    // never r stacked rewrites. That structure's ceiling is measured
    // in SCALING.md round 13: marginal cost FLAT at 0.75 s/round (sf1)
    // out to a 256-merge budget, so a 32k-vocab run is ~32000 passes —
    // inherent (merges are sequential by definition), which is why the
    // production contract is train-on-a-bounded-sample +
    // encode-the-corpus (text_bpe_train_sampled, one parallel pass).
    val d2 = "\u0002"; val d3 = "\u0003"
    // (frame, release): persist rounds release via unpersist; the
    // eager-localCheckpoint rounds (every 32nd - plan/lineage
    // truncation, see below) register no CacheManager entry, so their
    // release unpersists the checkpointed RDD snapshot directly -
    // without it, each snapshot lingered in executor storage until the
    // ContextCleaner GC'd the orphaned RDD (round-13 advice: at large
    // merge budgets several corpus-sized snapshots accumulate).
    def materialized(df: DataFrame, viaCheckpoint: Boolean): (DataFrame, () => Unit) =
      if (viaCheckpoint) {
        // release exactly THIS snapshot's RDD (the plan's LogicalRDD
        // leaf), never a global persistent-RDD set diff — on a shared
        // SparkContext a diff would sweep up anything another thread
        // persisted in the window (round-14 advice)
        val d = df.localCheckpoint(true)
        val own = org.apache.spark.sql.graftbridge.Bridge.checkpointRdds(d)
        (d, () => own.foreach(_.unpersist(false)))
      } else {
        // LAZY persist (r16): no eager count() — the next pair-count
        // job materializes the cache as a side effect, so each round
        // costs ONE corpus pass, not two. Correct because the parent
        // round's frame stays pinned until this frame has actually
        // materialized (see prevRelease below): the replace() recompute
        // chain is never more than one link deep.
        (df.persist(), () => { df.unpersist(); () })
      }
    var (cur, release) = materialized(
      docsDf.select(concat(lit(d2), array_join(tokens(col("text")), d3 + d2), lit(d3))
        .as("enc")), viaCheckpoint = false)
    // the previous round's release, deferred one round: dropping the
    // parent before the child materializes would force the child's
    // first consumer to recompute the whole replace chain from the raw
    // corpus (exactly what the old per-round count() paid to avoid —
    // at twice the passes)
    var prevRelease: () => Unit = () => ()
    // split back to tokens for the pair count: tokens never contain
    // the delimiters, so translate-stripping the split residue is exact.
    // (r17 rejected experiment: stripping only the FIRST/LAST split
    // elements — the only ones carrying residue — via
    // when/concat/slice instead of the per-token transform measured
    // marginal 0.355 → 0.400 s/round on a rounds benchmark: the branch + the
    // three-array concat cost more than the per-token string copies
    // they avoided. The transform stays.)
    val toksOfEnc = transform(split(col("enc"), d3 + d2),
      x => translate(x, d2 + d3, ""))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = cur
        .select(toksOfEnc.as("l"))
        .select(explode(expr(
          """zip_with(slice(l, 1, greatest(size(l) - 1, 0)),
            |         slice(l, 2, greatest(size(l) - 1, 0)),
            |         (a, b) -> named_struct('a', a, 'b', b))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("a"), col("b"))
        .limit(1).collect()
      // cur is materialized now (the collect above ran over it) — the
      // grandparent snapshot can finally go; reset to a no-op so the
      // epilogue call is provably one (r17 advice fix: unpersist is
      // idempotent, but the deferred-release invariant should not
      // lean on that)
      prevRelease()
      prevRelease = () => ()
      if (top.isEmpty) exhausted = true
      else {
        val a = top(0).getString(0)
        val b = top(0).getString(1)
        val f = top(0).getLong(2)
        learned += ((r.toLong, a, b, f))
        if (r < rounds) {
          // (r17 resumed-session rejected experiment: attaching the
          // merge pair via crossJoin(broadcast(1-row frame)) +
          // replace(col, col, col) to "stabilize codegen across
          // rounds" OOM'd the driver heap at a 24-round budget —
          // and the premise was wrong anyway: string literals are
          // emitted as references[n] in generated code, so the
          // per-round literal plans already produce identical codegen
          // source and hit the compile cache. The literal form stays.)
          val replaced = cur.select(org.apache.spark.sql.functions.replace(col("enc"),
            lit(d2 + a + d3 + d2 + b + d3), lit(d2 + a + " " + b + d3)).as("enc"))
          // persist() materializes each round but keeps the full
          // parent lineage for recomputation, so a realistic merge
          // budget stacks one plan generation per round until task
          // deserialization recurses past the executor stack (round-13
          // measurement: StackOverflowError at the 256-merge budget).
          // An eager localCheckpoint every 32 rounds truncates both
          // the logical plan and the RDD lineage — same arithmetic,
          // bounded depth at any budget. (Checkpoint rounds are eager,
          // so the parent can be released immediately; persist rounds
          // defer the parent's release until the child materializes.)
          val (next, nextRelease) = materialized(replaced, viaCheckpoint = r % 32 == 0)
          if (r % 32 == 0) { release(); prevRelease = () => () }
          else prevRelease = release
          cur = next
          release = nextRelease
        }
      }
      r += 1
    }
    prevRelease()
    release()
    learned.toSeq
  }

  private[graft] def bpeTrain(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    import s.implicits._
    // plain docs, NOT docsSpread (measured r16, twice): spreading the
    // loop's corpus 32-way REGRESSED it (warm 2.0 → 3.2 s) — each
    // merge round became a 33-task job whose run time doubled its CPU
    // time (allocation contention between 32 concurrent string-heavy
    // tasks on the shared heap, plus a shuffle barrier per round),
    // where the 1-partition form runs the same rounds as cheap
    // single-stage jobs. At cluster scale the input arrives
    // multi-split and the loop parallelizes through the scan itself.
    bpeTrainMerges(docs(s, dir), rounds)
      .map { case (r, a, b, f) => (r, a + " " + b, f) }
      .toDF("round", "pair", "freq")
  }

  val oracles: Map[String, String] = Map(
    "text_winnow_fingerprint" ->
      s"""WITH $winnowSelCtes
         |SELECT doc_id, pos, fp FROM wsel""".stripMargin,

    // the same cleared-denominator rational BM25: every intermediate
    // is BIGINT `//`, so the 20 scores replay bit-for-bit
    "text_bm25_topk" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |corpus AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS BIGINT) AS total_tokens FROM d),
        |tf AS (
        |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, dl, unnest(toks) AS tok FROM d) u
        |  WHERE tok IN ('dup', 'spark', 'vector')
        |  GROUP BY 1, 2, 3),
        |tdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tdf FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT t.doc_id,
        |         ((1000 * (2*c.n_docs - 2*f.tdf + 1)) // (2*f.tdf + 1)) AS idf_ppk,
        |         ((22000000 * t.tf * 1000000) //
        |          (10000000*t.tf + 3000000 +
        |           9*((1000000 * t.dl * c.n_docs) // c.total_tokens))) AS tfn_ppm
        |  FROM tf t JOIN tdf f ON t.tok = f.tok CROSS JOIN corpus c)
        |SELECT doc_id, CAST(sum((idf_ppk * tfn_ppm) // 1000) AS BIGINT) AS score_ppm
        |FROM sc GROUP BY doc_id
        |ORDER BY score_ppm DESC, doc_id LIMIT 20""".stripMargin,

    // integer aggregates, single rounded divisions — order-insensitive,
    // so no float-summation caveats; CAST(n*n) multiplies as BIGINT
    // exactly like Spark's long*long before the double cast
    "text_simpson_diversity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS n_distinct,
        |         CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct,
        |       round(CAST(s2 AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE), 6) AS simpson,
        |       round(CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS distinct_ratio
        |FROM a""".stripMargin,

    "text_stats" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS punct_cnt,
        |       CAST(len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE)
        |         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
        |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |              list_transform(string_split(text, ' '), t -> CAST(length(t) AS BIGINT))),
        |            (a, b) -> a + b) AS DOUBLE)
        |         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
        |FROM documents""".stripMargin,

    "text_token_count" ->
      """SELECT source,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS bpe_tokens,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    "text_lang_id" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text,' '), t -> t IN ('the','and','of','to','a','in','is','it'))) c_en,
        |    len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','ist','nicht'))) c_de,
        |    len(list_filter(string_split(text,' '), t -> t IN ('el','la','los','las','y','es','que'))) c_es,
        |    len(list_filter(string_split(text,' '), t -> t IN ('le','les','et','est','un','une'))) c_fr
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
        |            WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
        |            WHEN c_es >= c_fr THEN 'es'
        |            ELSE 'fr' END AS pred_lang
        |FROM c""".stripMargin,

    // same prediction CTE joined back to the gold label
    "text_langid_eval" ->
      """WITH c AS (
        |  SELECT lang AS gold,
        |    len(list_filter(string_split(text,' '), t -> t IN ('the','and','of','to','a','in','is','it'))) c_en,
        |    len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und','ist','nicht'))) c_de,
        |    len(list_filter(string_split(text,' '), t -> t IN ('el','la','los','las','y','es','que'))) c_es,
        |    len(list_filter(string_split(text,' '), t -> t IN ('le','les','et','est','un','une'))) c_fr
        |  FROM documents),
        |p AS (
        |  SELECT gold,
        |         CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
        |              WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
        |              WHEN c_es >= c_fr THEN 'es'
        |              ELSE 'fr' END AS pred
        |  FROM c),
        |cells AS (
        |  SELECT gold, pred, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM p GROUP BY 1, 2),
        |tot AS (
        |  SELECT gold AS g, CAST(sum(n_docs) AS BIGINT) AS n_gold
        |  FROM cells GROUP BY 1)
        |SELECT gold, pred, n_docs,
        |       CAST(CASE WHEN gold = pred THEN 1 ELSE 0 END AS BIGINT) AS correct,
        |       round(CAST(n_docs AS DOUBLE) / CAST(n_gold AS DOUBLE), 6) AS cell_share
        |FROM cells JOIN tot ON gold = g""".stripMargin,

    "text_vocab" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS freq
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY freq DESC, token LIMIT 100""".stripMargin,

    // same poly31 token hash, per-source bottom-64 via row_number,
    // per-pair combined bottom-64 and the same integer estimators
    "text_vocab_overlap_kmv" ->
      """WITH tok AS (
        |  SELECT DISTINCT source,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(token,''), ch -> CAST(ascii(ch) AS BIGINT))),
        |           (h, ch) -> (h*31+ch)%2147483647) AS h
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)),
        |mins AS (
        |  SELECT source, h FROM (
        |    SELECT source, h,
        |           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |    FROM tok) WHERE rn <= 64),
        |srcs AS (SELECT DISTINCT source FROM mins),
        |pairs AS (
        |  SELECT a.source AS sa, b.source AS sb
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |u AS (
        |  SELECT DISTINCT p.sa, p.sb, m.h
        |  FROM pairs p JOIN mins m ON m.source IN (p.sa, p.sb)),
        |comb AS (
        |  SELECT sa, sb, h FROM (
        |    SELECT sa, sb, h,
        |           row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
        |    FROM u) WHERE rn <= 64),
        |flags AS (
        |  SELECT c.sa, c.sb, c.h,
        |         CASE WHEN EXISTS (SELECT 1 FROM mins x
        |                           WHERE x.source = c.sa AND x.h = c.h)
        |              THEN 1 ELSE 0 END AS ina,
        |         CASE WHEN EXISTS (SELECT 1 FROM mins y
        |                           WHERE y.source = c.sb AND y.h = c.h)
        |              THEN 1 ELSE 0 END AS inb
        |  FROM comb c),
        |agg AS (
        |  SELECT sa, sb, count(*) AS m, sum(ina*inb) AS nb,
        |         sum(ina) AS na, sum(inb) AS nbb, max(h) AS kth
        |  FROM flags GROUP BY 1, 2),
        |est AS (
        |  SELECT sa, sb, m, nb, na, nbb,
        |         CASE WHEN m < 64 THEN m ELSE 135291469761 // kth END AS ue
        |  FROM agg)
        |SELECT sa AS source_a, sb AS source_b,
        |       CAST(m AS BIGINT) AS n_combined,
        |       CAST(nb AS BIGINT) AS n_both,
        |       CAST(ue AS BIGINT) AS union_est,
        |       CAST((nb * ue) // m AS BIGINT) AS inter_est,
        |       CAST((1000000 * nb) // m AS BIGINT) AS jaccard_ppm,
        |       CAST(CASE WHEN na > 0 THEN (1000000 * nb) // na ELSE 0 END AS BIGINT) AS cont_a_in_b_ppm,
        |       CAST(CASE WHEN nbb > 0 THEN (1000000 * nb) // nbb ELSE 0 END AS BIGINT) AS cont_b_in_a_ppm
        |FROM est""".stripMargin,

    // range(1, len) enumerates 1..len−1 → (tokᵢ, tokᵢ₊₁) with
    // multiplicity; the (freq DESC, pair) order is total so the
    // LIMIT-20 cut is tie-stable on both engines
    "text_bigram_merges" ->
      """WITH tok AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |prs AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |           i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1])) AS pair
        |  FROM tok)
        |SELECT pair, CAST(count(*) AS BIGINT) AS freq
        |FROM prs GROUP BY 1 ORDER BY freq DESC, pair LIMIT 20""".stripMargin,

    // same (freq DESC, token) top-100 rank; identical 1e6/1e12
    // scaled-integer arithmetic (// == div on positives)
    "text_zipf_deviation" ->
      """WITH v AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token ORDER BY freq DESC, token LIMIT 100),
        |r AS (
        |  SELECT token, freq,
        |         CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank,
        |         sum(freq) OVER () AS tot
        |  FROM v),
        |z AS (SELECT *, CAST(1000000000000 AS BIGINT) // rank AS zw FROM r),
        |h AS (SELECT *, sum(zw) OVER () AS hsum FROM z)
        |SELECT rank, token, freq,
        |       CAST((freq * 1000000) // tot AS BIGINT) AS obs_ppm,
        |       CAST((zw * 1000000) // hsum AS BIGINT) AS exp_ppm,
        |       CAST(abs((freq * 1000000) // tot - (zw * 1000000) // hsum) AS BIGINT) AS dev_ppm
        |FROM h""".stripMargin,

    // Replays the whole encode: learn the rank-ordered top-8 merge
    // table with the bigram-merges idiom, then apply each merge as ONE
    // leftmost-first replace over the chr(2)‖tok‖chr(3)-encoded token
    // stream (see the query's scaladoc for why that is exactly the
    // greedy fold). COALESCE(…, chr(1)) guards a <8-row merge table:
    // the chr(1) pattern can never occur, so a missing rank is a
    // no-op replace, matching the Spark fold over a short collect.
    "text_bpe_encode" -> {
      val levels = (1 to 8).map { k =>
        val m = s"COALESCE((SELECT pair FROM merges WHERE rk = $k), chr(1))"
        s"""e$k AS (SELECT doc_id, n_tokens, replace(s,
           |  chr(2) || split_part($m, ' ', 1) || chr(3) ||
           |  chr(2) || split_part($m, ' ', 2) || chr(3),
           |  chr(2) || $m || chr(3)) AS s FROM e${k - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |prs AS (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |           i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1])) AS pair
         |  FROM tok),
         |merges AS (
         |  SELECT pair, row_number() OVER (ORDER BY count(*) DESC, pair) AS rk
         |  FROM prs GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 8),
         |e0 AS (SELECT doc_id, len(toks) AS n_tokens,
         |         chr(2) || array_to_string(toks, chr(3) || chr(2)) || chr(3) AS s FROM tok),
         |$levels
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(len(s) - len(replace(s, chr(2), '')) AS BIGINT) AS n_bpe_tokens,
         |       round(CAST(len(s) - len(replace(s, chr(2), '')) AS DOUBLE)
         |             / CAST(n_tokens AS DOUBLE), 6) AS compression,
         |       md5(trim(replace(s, chr(3) || chr(2), chr(1)), chr(2) || chr(3))) AS enc_digest
         |FROM e8""".stripMargin
    },

    // the 6-round learn→replace→re-count chain over the same
    // chr(2)‖tok‖chr(3) delimiter encoding text_bpe_encode validated:
    // each round extracts adjacent pairs by splitting the encoded
    // stream back to a token list (chr(1) joins (a,b) — merged tokens
    // contain spaces, so space cannot be the pair separator), takes
    // the (freq DESC, a, b) argmax, and applies it as one
    // leftmost-first replace. COALESCE(…, chr(1)) keeps an exhausted
    // round a no-op, mirroring the Spark loop's early stop.
    "text_bpe_train" -> {
      val rounds = 6
      val steps = (1 to rounds).map { k =>
        val prev = s"e${k - 1}"
        s"""l$k AS (
           |  SELECT list_transform(string_split(s, chr(3) || chr(2)),
           |           x -> trim(x, chr(2) || chr(3))) AS l
           |  FROM $prev),
           |p$k AS (
           |  SELECT unnest(list_transform(range(1, len(l)),
           |           i -> l[CAST(i AS INTEGER)] || chr(1) || l[CAST(i AS INTEGER) + 1])) AS ab
           |  FROM l$k),
           |m$k AS (
           |  SELECT string_split(ab, chr(1))[1] AS a, string_split(ab, chr(1))[2] AS b,
           |         CAST(count(*) AS BIGINT) AS freq
           |  FROM p$k GROUP BY 1, 2
           |  ORDER BY freq DESC, a, b LIMIT 1),
           |e$k AS (
           |  SELECT replace(s,
           |    chr(2) || COALESCE((SELECT a FROM m$k), chr(1)) || chr(3) ||
           |    chr(2) || COALESCE((SELECT b FROM m$k), chr(1)) || chr(3),
           |    chr(2) || COALESCE((SELECT a || ' ' || b FROM m$k), chr(1)) || chr(3)) AS s
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
      val out = (1 to rounds).map(k =>
        s"SELECT CAST($k AS BIGINT) AS round, a || ' ' || b AS pair, freq FROM m$k")
        .mkString("\nUNION ALL\n")
      s"""WITH tok AS (SELECT string_split(text, ' ') AS toks FROM documents),
         |e0 AS (SELECT chr(2) || array_to_string(toks, chr(3) || chr(2)) || chr(3) AS s FROM tok),
         |$steps
         |$out""".stripMargin
    },

    // both stages replayed: the 6-round learn→replace→re-count chain
    // over the stride-sampled docs (same CTE idiom as text_bpe_train's
    // oracle), then the frozen merge table applied to ALL docs as 6
    // chained leftmost-first replaces (text_bpe_encode's idiom) —
    // sampling arithmetic, argmax order, and greedy merge semantics
    // are all inside the hash
    "text_bpe_train_sampled" -> {
      val rounds = 6
      val trainSteps = (1 to rounds).map { k =>
        val prev = s"e${k - 1}"
        s"""l$k AS MATERIALIZED (
           |  SELECT list_transform(string_split(s, chr(3) || chr(2)),
           |           x -> trim(x, chr(2) || chr(3))) AS l
           |  FROM $prev),
           |p$k AS MATERIALIZED (
           |  SELECT unnest(list_transform(range(1, len(l)),
           |           i -> l[CAST(i AS INTEGER)] || chr(1) || l[CAST(i AS INTEGER) + 1])) AS ab
           |  FROM l$k),
           |m$k AS MATERIALIZED (
           |  SELECT string_split(ab, chr(1))[1] AS a, string_split(ab, chr(1))[2] AS b,
           |         CAST(count(*) AS BIGINT) AS freq
           |  FROM p$k GROUP BY 1, 2
           |  ORDER BY freq DESC, a, b LIMIT 1),
           |e$k AS MATERIALIZED (
           |  SELECT replace(s,
           |    chr(2) || COALESCE((SELECT a FROM m$k), chr(1)) || chr(3) ||
           |    chr(2) || COALESCE((SELECT b FROM m$k), chr(1)) || chr(3),
           |    chr(2) || COALESCE((SELECT a || ' ' || b FROM m$k), chr(1)) || chr(3)) AS s
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
      val encodeSteps = (1 to rounds).map { k =>
        s"""f$k AS MATERIALIZED (SELECT doc_id, n_tokens, replace(s,
           |  chr(2) || COALESCE((SELECT a FROM m$k), chr(1)) || chr(3) ||
           |  chr(2) || COALESCE((SELECT b FROM m$k), chr(1)) || chr(3),
           |  chr(2) || COALESCE((SELECT a || ' ' || b FROM m$k), chr(1)) || chr(3)) AS s
           |  FROM f${k - 1})""".stripMargin
      }.mkString(",\n")
      // every CTE is pinned MATERIALIZED: the m_k argmaxes are
      // referenced as scalar subqueries from BOTH the next training
      // round and the corpus encode chain, and DuckDB's default CTE
      // inlining re-derives the whole upstream chain per reference —
      // measured >8 min at sf0.01 inlined vs 0.5 s materialized
      s"""WITH tok AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |nn AS MATERIALIZED (SELECT count(*) AS cn FROM documents),
         |samp AS MATERIALIZED (
         |  SELECT t.* FROM tok t, nn
         |  WHERE t.doc_id % greatest((cn + ${BpeTrainSampleCap - 1}) // $BpeTrainSampleCap, 1) = 0),
         |e0 AS MATERIALIZED (SELECT chr(2) || array_to_string(toks, chr(3) || chr(2)) || chr(3) AS s FROM samp),
         |$trainSteps,
         |f0 AS MATERIALIZED (SELECT doc_id, len(toks) AS n_tokens,
         |         chr(2) || array_to_string(toks, chr(3) || chr(2)) || chr(3) AS s FROM tok),
         |$encodeSteps
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(len(s) - len(replace(s, chr(2), '')) AS BIGINT) AS n_bpe_tokens,
         |       round(CAST(len(s) - len(replace(s, chr(2), '')) AS DOUBLE)
         |             / CAST(n_tokens AS DOUBLE), 6) AS compression,
         |       md5(trim(replace(s, chr(3) || chr(2), chr(1)), chr(2) || chr(3))) AS enc_digest
         |FROM f$rounds""".stripMargin
    },

    // same pair enumeration; the (freq DESC, pair) top-1000 cut is a
    // total order, so the broadcast vocabulary is engine-identical and
    // the score is one division of exact integer counts
    "text_bigram_fluency" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |dp AS (
        |  SELECT doc_id, list_transform(range(1, len(toks)),
        |           i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1]) AS prs
        |  FROM tok),
        |top AS (
        |  SELECT pair FROM (SELECT unnest(prs) AS pair FROM dp)
        |  GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1000),
        |tv AS (SELECT list(pair) AS vocab FROM top)
        |SELECT doc_id,
        |       CAST(len(list_filter(prs, p -> list_contains(vocab, p))) AS BIGINT) AS common_bigrams,
        |       CAST(len(prs) AS BIGINT) AS n_bigrams,
        |       CASE WHEN len(prs) = 0 THEN 0.0
        |            ELSE CAST(len(list_filter(prs, p -> list_contains(vocab, p))) AS DOUBLE)
        |                 / CAST(len(prs) AS DOUBLE) END AS fluency
        |FROM dp, tv""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |         (h, c) -> (h * 31 + c) % 2147483647) AS fp_poly,
        |       md5(text) AS fp_md5
        |FROM documents""".stripMargin,

    "text_contamination" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, ${DedupQueries.spanListSql} spans FROM documents),
         |u AS (SELECT doc_id, source, unnest(spans) AS span FROM t),
         |ev AS (SELECT DISTINCT span FROM u WHERE source = 'src0')
         |SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_shared_spans
         |FROM u JOIN ev ON u.span = ev.span
         |WHERE u.source <> 'src0'
         |GROUP BY 1""".stripMargin,

    // cell sums replicate the CMS counters row-by-row (same poly31
    // token hash and affine row maps); estimate = min over rows
    "text_heavy_hitters_cms" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
        |ph AS (
        |  SELECT token, c,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(token,''), ch -> CAST(ascii(ch) AS BIGINT))),
        |           (h, ch) -> (h*31+ch)%2147483647) AS h
        |  FROM cnt),
        |rows_ AS (SELECT * FROM (VALUES (0,1583,101),(1,2729,211),(2,4177,307),(3,6073,401)) AS v(j,a,b)),
        |cells AS (
        |  SELECT rows_.j, ((ph.h*rows_.a+rows_.b)%2147483647)%256 AS cell, SUM(ph.c) AS cellsum
        |  FROM ph CROSS JOIN rows_
        |  GROUP BY 1, 2),
        |top AS (SELECT token, c, h FROM ph ORDER BY c DESC, token LIMIT 20)
        |SELECT t.token, t.c AS exact_cnt,
        |       CAST(min(cl.cellsum) AS BIGINT) AS est_cnt
        |FROM top t
        |CROSS JOIN rows_ p
        |JOIN cells cl ON cl.j = p.j AND cl.cell = ((t.h*p.a+p.b)%2147483647)%256
        |GROUP BY 1, 2""".stripMargin,

    "text_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |         round(CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE), 6) AS score
        |  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n)
        |SELECT doc_id, token, score,
        |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS INTEGER) AS rank
        |FROM scored QUALIFY rank <= 3""".stripMargin,

    // the oracle computes modal frequencies the O(d²) way (distinct ×
    // filter) — fine for an oracle, and arithmetically identical to the
    // engine's sorted run-length kernel
    "text_quality_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, toks,
        |         list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1]) AS bg
        |  FROM t),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
        |    CAST(list_max(list_transform(list_distinct(toks),
        |        g -> len(list_filter(toks, x -> x = g)))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) AS top_token_frac,
        |    CASE WHEN len(bg) = 0 THEN 0.0
        |         ELSE CAST(list_max(list_transform(list_distinct(bg),
        |                g -> len(list_filter(bg, x -> x = g)))) AS DOUBLE)
        |              / CAST(len(bg) AS DOUBLE) END AS top_bigram_frac
        |  FROM b)
        |SELECT doc_id, n_tokens, distinct_ratio, top_token_frac, top_bigram_frac,
        |       CAST(CASE WHEN distinct_ratio >= 0.5 AND top_token_frac <= 0.1
        |                       AND top_bigram_frac <= 0.1
        |                  THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m""".stripMargin,

    "text_common_token_ratio" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |top AS (
        |  SELECT token FROM (SELECT token, count(*) AS c FROM tok GROUP BY 1)
        |  ORDER BY c DESC, token LIMIT 100),
        |v AS (SELECT list(token) AS vocab FROM top)
        |SELECT doc_id,
        |       CAST(len(list_filter(string_split(text, ' '),
        |              t -> list_contains(v.vocab, t))) AS BIGINT) AS common_tokens,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_filter(string_split(text, ' '),
        |              t -> list_contains(v.vocab, t))) AS DOUBLE)
        |         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS common_ratio
        |FROM documents CROSS JOIN v""".stripMargin,

    // same exact-integer fractions; the keep CASE replays the Spark
    // side's threshold conjunction on identical doubles
    "text_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) AS mean_token_len,
        |    CAST(length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) AS symbol_ratio,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) AS alpha_frac,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |          w -> list_contains(toks, w))) AS BIGINT) AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_tokens, mean_token_len, symbol_ratio, alpha_frac, stop_hits,
        |       CAST(CASE WHEN n_tokens >= 50 AND n_tokens <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS rule_word_count,
        |       CAST(CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 10.0 THEN 1 ELSE 0 END AS BIGINT) AS rule_mean_len,
        |       CAST(CASE WHEN symbol_ratio < 0.1 THEN 1 ELSE 0 END AS BIGINT) AS rule_symbol,
        |       CAST(CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS BIGINT) AS rule_alpha,
        |       CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS rule_stops,
        |       CAST(CASE WHEN n_tokens >= 50 AND n_tokens <= 100000
        |                  AND mean_token_len >= 3.0 AND mean_token_len <= 10.0
        |                  AND symbol_ratio < 0.1 AND alpha_frac >= 0.8 AND stop_hits >= 2
        |             THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m""".stripMargin,

    "text_length_histogram" ->
      """WITH t AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)
        |SELECT n_tok - n_tok % 10 AS bucket_lo,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(min(n_tok) AS BIGINT) AS min_tokens,
        |       CAST(max(n_tok) AS BIGINT) AS max_tokens
        |FROM t GROUP BY 1""".stripMargin,

    // same positional coverage per n: duplicated grams → union of
    // their [gpos, gpos+n) spans → exact char sums. DuckDB's range()
    // is empty when end ≤ start, so the short-doc guard is implicit.
    "text_dup_ngram_fraction" -> {
      def forN(n: Int) =
        s"""s$n AS (
           |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${n - 2}),
           |           i -> struct_pack(gpos := i,
           |                  gram := array_to_string(
           |                    list_slice(toks, CAST(i AS INTEGER), CAST(i AS INTEGER) + ${n - 1}), ' ')))) AS u
           |  FROM tok),
           |g$n AS (SELECT doc_id, u.gpos AS gpos, u.gram AS gram FROM s$n),
           |d$n AS (SELECT doc_id, gram FROM g$n GROUP BY doc_id, gram HAVING count(*) >= 2),
           |c0$n AS (SELECT g.doc_id, unnest(range(g.gpos, g.gpos + $n)) AS pos
           |         FROM g$n g JOIN d$n d ON d.doc_id = g.doc_id AND d.gram = g.gram),
           |c$n AS (SELECT DISTINCT doc_id, pos FROM c0$n),
           |a$n AS (SELECT c.doc_id, CAST(sum(tp.l) AS BIGINT) AS dup_chars
           |        FROM c$n c JOIN tp ON tp.doc_id = c.doc_id AND tp.pos = c.pos
           |        GROUP BY c.doc_id),
           |r$n AS (
           |  SELECT t.doc_id, CAST($n AS INTEGER) AS n,
           |         coalesce(a.dup_chars, CAST(0 AS BIGINT)) AS dup_chars, t.total_chars,
           |         round(CAST(coalesce(a.dup_chars, CAST(0 AS BIGINT)) AS DOUBLE)
           |               / CAST(t.total_chars AS DOUBLE), 6) AS dup_frac
           |  FROM tot t LEFT JOIN a$n a ON a.doc_id = t.doc_id)""".stripMargin
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |tp0 AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
         |           i -> struct_pack(pos := i, l := len(toks[CAST(i AS INTEGER)])))) AS u
         |  FROM tok),
         |tp AS (SELECT doc_id, u.pos AS pos, CAST(u.l AS BIGINT) AS l FROM tp0),
         |tot AS (SELECT doc_id, CAST(sum(l) AS BIGINT) AS total_chars FROM tp GROUP BY doc_id),
         |${forN(2)},
         |${forN(3)},
         |${forN(4)}
         |SELECT * FROM r2 UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4""".stripMargin
    },

    // fixed-point integer `//` replicates Spark's `div` (both floor on
    // positives); the two trailing divisions share Spark's association
    "text_unigram_rarity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |ctd AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |cw AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cw FROM ctd GROUP BY 1),
        |n AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM cw),
        |s AS (
        |  SELECT ctd.doc_id, CAST(sum(ctd.c) AS BIGINT) AS n_tokens,
        |         CAST(sum(ctd.c * ((1000000 * n.n) // cw.cw)) AS BIGINT) AS sum_term
        |  FROM ctd JOIN cw USING (tok) CROSS JOIN n
        |  GROUP BY 1)
        |SELECT doc_id, n_tokens,
        |       round(CAST(sum_term AS DOUBLE) / 1000000.0
        |             / CAST(n_tokens AS DOUBLE), 6) AS rarity
        |FROM s""".stripMargin,

    // |c₁N₂ − c₂N₁| is exact BIGINT arithmetic; 2.0·n_a·n_b shares
    // Spark's left-to-right double association
    "text_source_divergence" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |pr AS (
        |  SELECT a.source AS source_a, b.source AS source_b, a.n AS n_a, b.n AS n_b
        |  FROM tot a JOIN tot b ON a.source < b.source),
        |m AS (
        |  SELECT pr.source_a, pr.source_b, pr.n_a, pr.n_b, c.tok,
        |         CAST(sum(CASE WHEN c.source = pr.source_a THEN c.c ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN c.source = pr.source_b THEN c.c ELSE 0 END) AS BIGINT) AS c2
        |  FROM pr JOIN c ON c.source IN (pr.source_a, pr.source_b)
        |  GROUP BY 1, 2, 3, 4, 5),
        |s AS (
        |  SELECT source_a, source_b, n_a, n_b,
        |         CAST(sum(abs(c1 * n_b - c2 * n_a)) AS BIGINT) AS tv_num
        |  FROM m GROUP BY 1, 2, 3, 4)
        |SELECT source_a, source_b, n_a, n_b,
        |       round(CAST(tv_num AS DOUBLE) / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
        |         AS tv_distance
        |FROM s""".stripMargin,

    // spans are distinct per doc (list_distinct == SortedNgramSet), so
    // count(*) per span IS document frequency; LEFT JOIN keeps
    // zero-span docs with an exact-zero ratio
    "text_ngram_novelty" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${DedupQueries.spanListSql} AS spans FROM documents),
         |u AS (SELECT doc_id, unnest(spans) AS span FROM t),
         |d AS (SELECT span, CAST(count(*) AS BIGINT) AS df FROM u GROUP BY 1),
         |per AS (
         |  SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |         CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel_spans
         |  FROM u JOIN d USING (span) GROUP BY 1)
         |SELECT t.doc_id,
         |       CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_spans,
         |       CAST(coalesce(per.novel_spans, 0) AS BIGINT) AS novel_spans,
         |       CASE WHEN coalesce(per.n_spans, 0) = 0 THEN 0.0
         |            ELSE round(CAST(per.novel_spans AS DOUBLE) / CAST(per.n_spans AS DOUBLE), 6)
         |       END AS novelty
         |FROM t LEFT JOIN per ON t.doc_id = per.doc_id""".stripMargin,

    // same islands (pos − row_number), same fixed-point word score
    // (integer // floors identically), same total-order top-20
    "text_rake_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(range(len(string_split(text, ' ')))) AS pos
        |  FROM documents),
        |ns AS (
        |  SELECT doc_id, tok, pos,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM tok
        |  WHERE tok NOT IN ('the', 'and', 'of', 'to', 'a', 'in', 'is', 'it')),
        |ph AS (
        |  SELECT string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |         CAST(count(*) AS BIGINT) AS len
        |  FROM ns GROUP BY doc_id, island),
        |ws AS (
        |  SELECT w, CAST(((sum(len - 1) + count(*)) * 1000000) // count(*) AS BIGINT) AS wscore
        |  FROM (SELECT unnest(string_split(phrase, ' ')) AS w, len FROM ph)
        |  GROUP BY w),
        |dp AS (
        |  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
        |  FROM ph GROUP BY phrase)
        |SELECT x.phrase, x.n_occurrences,
        |       CAST(sum(ws.wscore) AS BIGINT) AS score_fp
        |FROM (SELECT phrase, n_occurrences,
        |             unnest(string_split(phrase, ' ')) AS w FROM dp) x
        |JOIN ws ON x.w = ws.w
        |GROUP BY 1, 2
        |ORDER BY score_fp DESC, x.phrase LIMIT 20""".stripMargin
  )
}
