package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.model.Tables

/** The end-to-end corpus-cleaning pipeline — the job a training-data
  * engine exists to run — composed from the individual operators and
  * oracled as ONE query, so the stage composition itself is
  * correctness-gated, not just each stage in isolation.
  *
  * A document survives iff it passes every stage:
  *
  *  1. exact dedup: it is the minimum doc_id of its content digest;
  *  2. near-dup dedup: it is not a non-representative member of a
  *     connected component of n-gram-Jaccard (τ = 0.8) pairs
  *     (component representative = min doc_id, the dedup_survivors
  *     policy);
  *  3. quality: ≥ 10 whitespace tokens and heuristic language ID 'en';
  *  4. decontamination: not from the held-out source (src0) and
  *     sharing no verbatim 8-token span with it.
  *
  * Every stage reuses the already-cached shared frames (shingle index,
  * verified pair frame), so the composed pipeline costs little more
  * than its most expensive stage. Output: kept (doc_id, n_tokens).
  */
object PipelineQueries {

  /** CDC boundary parameters: a chunk boundary falls after token i iff
    * the polyhash of the CdcK-token gram ending at i is ≡ 0 mod
    * CdcDivisor — mean chunk length ≈ CdcDivisor tokens. */
  private[graft] val CdcK = 3
  private[graft] val CdcDivisor = 16L

  /** Content-defined chunking: one row per chunk with its token span
    * and md5 identity (md5, not the 31-bit polyhash, because chunk
    * identity feeds a DISTINCT — at corpus scale a 31-bit space
    * birthday-collides and would silently overcount dedup savings).
    * Boundary grams are hashed with the codegen'd polyHashArray loop;
    * boundary selection, chunk starts, and the explode are per-row
    * array arithmetic — zero shuffle. Docs shorter than CdcK tokens
    * (no full boundary gram) are a single chunk, same clamp in the
    * oracle. */
  private[graft] def cdcChunks(d: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    import graft.functions.KernelExpressions.polyHashArray
    val k = CdcK
    val pt = passthrough.map(col)
    val withStarts = d
      .select(col("doc_id") +: tokens(col("text")).as("toks") +: pt: _*)
      .select(col("doc_id") +: col("toks") +: pt :+
        when(size(col("toks")) >= k, polyHashArray(
          transform(sequence(lit(1), size(col("toks")) - lit(k - 1)),
            i => concat_ws(" ", slice(col("toks"), i, lit(k))))))
          .otherwise(array().cast("array<bigint>")).as("bh"): _*)
      .select(col("doc_id") +: col("toks") +: pt :+
        concat(array(lit(1)),
          transform(filter(sequence(lit(1), greatest(size(col("bh")) - lit(1), lit(1))),
            i => i <= size(col("bh")) - lit(1) &&
              pmod(element_at(col("bh"), i), lit(CdcDivisor)) === 0L),
            i => i + lit(k))).as("starts"): _*)
    def startAt(j: Column) = element_at(col("starts"), j)
    def endAt(j: Column) = when(j === size(col("starts")), size(col("toks")))
      .otherwise(element_at(col("starts"), j + lit(1)) - lit(1))
    withStarts
      .select(col("doc_id") +: col("toks") +: col("starts") +: pt :+
        explode(sequence(lit(1), size(col("starts")))).as("j"): _*)
      .select(col("doc_id") +:
        col("j").cast("long").as("chunk_idx") +:
        startAt(col("j")).cast("long").as("start_tok") +:
        (endAt(col("j")) - startAt(col("j")) + lit(1)).cast("long").as("n_tokens") +:
        md5(concat_ws(" ", slice(col("toks"), startAt(col("j")),
          endAt(col("j")) - startAt(col("j")) + lit(1))).cast("binary"))
          .as("chunk_hash") +: pt: _*)
  }

  /** DuckDB replay of [[cdcChunks]] — same boundary polyhash, same
    * starts construction, same md5 chunk identity. Ends in CTE
    * `cchunks(doc_id, chunk_idx, start_tok, n_tokens, chunk_hash)`. */
  private[graft] val cdcChunkCtes: String = {
    val k = CdcK; val d = CdcDivisor
    val gram = (0 until k).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
    s"""ct AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       |cb AS (SELECT doc_id, toks,
       |         CASE WHEN len(toks) >= $k THEN
       |           list_transform(range(1, len(toks) - ${k - 2}), i ->
       |             list_reduce(list_prepend(CAST(0 AS BIGINT),
       |               list_transform(string_split($gram, ''),
       |                 ch -> CAST(ascii(ch) AS BIGINT))),
       |             (h, ch) -> (h * 31 + ch) % 2147483647))
       |         ELSE CAST([] AS BIGINT[]) END AS bh FROM ct),
       |cs AS (SELECT doc_id, toks,
       |         list_prepend(CAST(1 AS BIGINT),
       |           list_transform(list_filter(range(1, len(bh)), i ->
       |             bh[i] % $d = 0), i -> i + $k)) AS starts FROM cb),
       |cchunks AS (
       |  SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
       |         CAST(starts[j] AS BIGINT) AS start_tok,
       |         CAST((CASE WHEN j = len(starts) THEN len(toks)
       |               ELSE starts[j+1] - 1 END) - starts[j] + 1 AS BIGINT) AS n_tokens,
       |         md5(array_to_string(list_slice(toks, CAST(starts[j] AS INTEGER),
       |           CAST(CASE WHEN j = len(starts) THEN len(toks)
       |                ELSE starts[j+1] - 1 END AS INTEGER)), ' ')) AS chunk_hash
       |  FROM cs, UNNEST(range(1, len(starts) + 1)) AS u(j))""".stripMargin
  }

  /** DSIR hashed-feature space: B buckets of polyHash31(unigram|bigram). */
  private[graft] val dsirB = 1024L

  private val dsirMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), DataFrame]()
  graft.model.Caches.register(() => dsirMemo.clear())

  /** Memoized per-(doc, source, bucket) feature counts, persisted: the
    * feature pass (explode + per-char poly31 fold over every unigram
    * and bigram) is the expensive part of DSIR and the batch query
    * scans its output three times (target counts, source counts,
    * scoring), already collapsed map-side to ≤B distinct buckets per
    * doc. The persist is a session convenience released by
    * `Tables.clearCaches` — the unpersisted plan is identical, just
    * recomputed per scan. */
  private[queries] def dsirBucketCounts(s: SparkSession, dir: String): DataFrame =
    dsirMemo.computeIfAbsent((System.identityHashCode(s), dir), _ =>
      // loadSpread (r16): the feature pass below (tokenize + bigram
      // zip + per-char poly31 fold over every feature) is the
      // CPU-dense scan-root profile — measured 1.08 s single-task on
      // the 1-split scan; a no-op at cluster scale
      dsirBuckets(Tables.loadSpread(s, dir, "documents"))
        .groupBy("doc_id", "source", "bucket").agg(count(lit(1)).as("c"))
        .persist())

  /** Hashed unigram+bigram feature buckets of every document —
    * (doc_id, source, bucket). */
  private[graft] def dsirBuckets(docs: DataFrame): DataFrame = {
    val tk = docs.select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
    val bigrams = expr(
      """zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
        |         slice(toks, 2, greatest(size(toks) - 1, 0)),
        |         (a, b) -> concat(a, ' ', b))""".stripMargin)
    tk.select(col("doc_id"), col("source"),
        explode(concat(col("toks"), bigrams)).as("f"))
      .select(col("doc_id"), col("source"),
        pmod(polyHash31(col("f")), lit(dsirB)).as("bucket"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_clean_corpus" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val exactKeepers = d
        .groupBy(md5(col("text").cast("binary")).as("dg"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val nearDupMembers = DedupQueries.componentLabels(s, dir)
        .filter(col("rep") < col("node")) // non-representative members
        .select(col("node").as("doc_id"))
      val contaminated = TextQueries.contaminatedDocs(s, dir).select("doc_id")
      d.join(exactKeepers, Seq("doc_id"), "left_semi")
        .join(nearDupMembers, Seq("doc_id"), "left_anti")
        .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
        .filter(col("n_tokens") >= 10)
        .filter(langId(col("text")) === "en")
        .filter(col("source") =!= "src0")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id", "n_tokens")
    }),

    // Span SCRUBBING — the application step of exact substring dedup
    // (Lee et al., "Deduplicating Training Data Makes Language Models
    // Better"): dedup_common_spans only DETECTS duplicated 8-token
    // spans; this rewrites the corpus. Policy: a span occurring in ≥2
    // distinct documents is kept verbatim only in its first (min
    // doc_id) document; every other document drops all tokens covered
    // by an occurrence of that span. Output per document: token count,
    // tokens removed, and the md5 of the scrubbed text — a full
    // corpus-rewrite audit, hash-checked against the oracle.
    //
    // Scale shape: every stage is a keyed shuffle — span-string
    // (duplicate detection), (doc_id, position) (covered-token set,
    // deduped because overlapping spans cover the same token), doc_id
    // (reassembly). No joins are broadcast or all-pairs; the span join
    // fans out per OCCURRENCE of a duplicated span, which is the output
    // size of the rewrite itself. At 100 TB the tokenized frame would
    // be persisted across the three passes (here Catalyst just re-scans
    // the parquet — cheaper than pinning at this SF); reassembly
    // collects one document per group, the same row width the scan
    // started with.
    "pipeline_scrub_spans" -> ((s, dir) => {
      val t = Tables.load(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      // 1-based span start positions; docs with <8 tokens have no spans
      val spans = t
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")) - 7)).as("p"))
        .select(col("doc_id"), col("p"),
          concat_ws(" ", slice(col("toks"), col("p"), lit(8))).as("span"))
      val dup = spans.groupBy("span")
        .agg(countDistinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
      val covered = spans.join(dup, "span")
        .filter(col("doc_id") > col("first_doc"))
        .select(col("doc_id"), explode(sequence(col("p"), col("p") + 7)).as("i"))
        .distinct()
      t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          posexplode(col("toks")).as(Seq("i0", "tok")))
        .withColumn("i", col("i0") + 1)
        .join(covered.withColumn("rm", lit(1)), Seq("doc_id", "i"), "left")
        .groupBy("doc_id")
        .agg(
          max(col("n_tokens")).as("n_tokens"),
          sum(when(col("rm").isNotNull, 1L).otherwise(0L)).as("n_removed"),
          md5(concat_ws(" ",
            transform(
              sort_array(collect_list(when(col("rm").isNull, struct(col("i"), col("tok"))))),
              x => x.getField("tok"))).cast("binary")).as("clean_hash"))
    }),

    // Keyed deterministic pseudonymization — the privacy stage of a
    // training-data pipeline: SHA-256 over pepper+key gives stable ids
    // (joinability across tables survives; unlinkable without the
    // pepper), digits in free-text names are masked, and the numeric
    // quasi-identifier is generalized to a coarse bucket. Entirely
    // map-side codegen'd expressions — at 100 TB this streams at scan
    // speed. SHA-256 is bit-identical across engines, so the oracle
    // checks the actual hashes.
    "pipeline_pseudonymize" -> ((s, dir) =>
      Tables.load(s, dir, "customer")
        .select(
          substring(sha2(concat(lit("pepper:"), col("c_custkey").cast("string")), 256), 1, 16).as("pseudo_id"),
          regexp_replace(col("c_name"), "[0-9]", "*").as("name_masked"),
          col("c_mktsegment"),
          (floor(col("c_acctbal") / 1000) * 1000).cast("long").as("bal_bucket"))),

    // Pattern-based PII redaction — the free-text counterpart of
    // pipeline_pseudonymize (which handles keyed/structured columns):
    // emails, then IPv4 addresses, then phone-like digit runs are
    // replaced with typed placeholders, in that order (IP before phone
    // so a dotted quad is never half-eaten by the looser phone
    // pattern). Counts come from the intermediate texts for the same
    // reason — each match is counted under exactly one category.
    // Entirely map-side regex codegen — streams at scan speed at
    // 100 TB. The patterns avoid alternation/backrefs so Java regex
    // (Spark) and RE2 (DuckDB) agree; on the harness corpus (no
    // digits, no '@') the rewrite is the identity and the oracle
    // hash-checks that nothing is over-redacted. PipelineSpec proves
    // the positive path on a fixture corpus with planted PII.
    "pipeline_redact_pii" -> ((s, dir) => {
      import graft.ops.Redact._
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("t1", regexp_replace(col("text"), emailRe, "<EMAIL>"))
        .withColumn("t2", regexp_replace(col("t1"), ipv4Re, "<IP>"))
        .select(
          col("doc_id"), col("source"),
          regexp_replace(col("t2"), phoneRe, "<PHONE>").as("text_redacted"),
          (size(regexp_extract_all(col("text"), lit(emailRe), lit(0))) +
            size(regexp_extract_all(col("t1"), lit(ipv4Re), lit(0))) +
            size(regexp_extract_all(col("t2"), lit(phoneRe), lit(0))))
            .cast("long").as("n_redactions"))
    }),

    // deterministic train/val/test split — the step between cleaning
    // and training. Assignment hashes the STABLE document id (the
    // rolling polynomial hash shared with text_fingerprint), never a
    // random() call: the split is reproducible across runs, engines,
    // and repartitions, and any engine can recompute membership from
    // the id alone. 80/10/10 by hash residue; output is the per-split
    // audit summary (pure map + one tiny map-side-combined aggregate —
    // at 100 TB the same expression feeds a partitionBy("split") write).
    "pipeline_hash_split" -> ((s, dir) => {
      val h = pmod(polyHash31(col("doc_id").cast("string")), lit(10L))
      Tables.load(s, dir, "documents")
        .select(
          when(h < 8, lit("train")).when(h === 8, lit("val"))
            .otherwise(lit("test")).as("split"),
          col("n_chars"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // sequence packing — the step between cleaning and tokenization:
    // documents are laid end-to-end into fixed 2048-token bins, each doc
    // assigned to the bin its FIRST token lands in (start-offset
    // packing, deterministic). Packing is scoped to (lang, shard) where
    // shard = doc_id div 100: a global pack order would serialize the
    // corpus through one sort, while per-shard packing is exactly what a
    // 1000-executor job does (pack within partition, one window sort per
    // shard — parallelism = #langs × #shards, shuffle keyed by both).
    // All arithmetic is integer (div, cumulative sum), so bin ids are
    // engine-exact. Output: per-bin audit (docs, tokens).
    "pipeline_pack_sequences" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("shard", expr("doc_id div 100"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "shard").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      d.withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("bin", expr("(cum - n_tok) div 2048"))
        .groupBy("lang", "shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
    }),

    // deterministic stratified sampling — rebalance the language mix by
    // keeping a per-stratum fraction, membership decided by the SAME
    // stable polynomial id-hash as pipeline_hash_split (mod 100), never
    // random(): reproducible across runs/engines/repartitions, and the
    // sampled set is recomputable from ids alone. Rates: en 20 % (the
    // majority class is downsampled), zh 50 %, others kept whole. Pure
    // map + one tiny aggregate; at 100 TB the same predicate feeds the
    // sampled write directly. Output: per-lang audit with realized rate.
    "pipeline_stratified_sample" -> ((s, dir) => {
      val rate = when(col("lang") === "en", lit(20L))
        .when(col("lang") === "zh", lit(50L)).otherwise(lit(100L))
      val h = pmod(polyHash31(col("doc_id").cast("string")), lit(100L))
      Tables.load(s, dir, "documents")
        .select(col("lang"), (h < rate).cast("long").as("kept"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
        .withColumn("kept_frac",
          col("n_kept").cast("double") / col("n_docs").cast("double"))
    }),

    // domain-mixture audit — per-source token share and the up/down-
    // sampling weight that would equalize the mixture (target = uniform
    // 1/n_sources; weight = total/(n_sources × src_tokens)). One
    // map-side-combined aggregate to #sources rows, then unpartitioned
    // window totals over that tiny frame — the single-partition window
    // touches only post-aggregate cardinality (#sources), never the
    // corpus, so it is scale-free. Shares/weights are mul-then-div IEEE
    // ops on exact integer sums — engine-exact.
    "pipeline_domain_mix" -> ((s, dir) => {
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      Tables.load(s, dir, "documents")
        .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("src_tokens"))
        .withColumn("token_share",
          col("src_tokens").cast("double")
            / sum(col("src_tokens")).over(all).cast("double"))
        .withColumn("mix_weight",
          sum(col("src_tokens")).over(all).cast("double")
            / (count(lit(1)).over(all).cast("double")
              * col("src_tokens").cast("double")))
        .select("source", "n_docs", "src_tokens", "token_share", "mix_weight")
    }),

    // k-anonymity audit (k = 5) — the release gate of the privacy
    // stage: after pseudonymization (pipeline_pseudonymize) the
    // remaining QUASI-identifiers (lang, source, generalized length
    // bucket) must not isolate small groups, or joining any external
    // dataset on those attributes re-identifies them. Emits every
    // equivalence class below k; empty result = releasable. One
    // map-side-combined hash aggregate + a < k filter — audit cost is
    // one scan regardless of corpus size, and the generalization
    // hierarchy (coarser buckets) is a one-constant change.
    "pipeline_k_anonymity" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("lang"), col("source"),
          (col("n_chars") - pmod(col("n_chars"), lit(100L))).as("len_bucket"))
        .groupBy("lang", "source", "len_bucket")
        .agg(count(lit(1)).as("group_size"))
        .filter(col("group_size") < 5)),

    // temperature-scaled sampling mix (α = 0.5): the standard
    // multilingual/multi-source rebalance p_s ∝ n_s^α — α = 1 keeps the
    // natural mix, α = 0 is uniform, √n in between up-samples the tail
    // without flattening the head. Determinism trick: the raw weights
    // √n are IEEE-exact per row (sqrt is correctly rounded everywhere)
    // but their SUM is order-dependent — so each weight is first scaled
    // to an integer (⌊√n · 10⁶⌋) and the normalizer is an exact LONG
    // sum, making every ratio a single division of two engine-identical
    // operands. Plan: one count per source (map-side combined),
    // broadcast of the ≤ #sources-row totals frame — nothing scales
    // with corpus size except the first aggregate's scan.
    "pipeline_temperature_mix" -> ((s, dir) => {
      val perSrc = Tables.load(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("w_scaled",
          floor(sqrt(col("n_docs").cast("double")) * lit(1e6)).cast("long"))
      val totals = perSrc.agg(
        sum(col("w_scaled")).as("w_total"),
        sum(col("n_docs")).as("corpus_docs"))
      perSrc.crossJoin(broadcast(totals))
        .select(col("source"), col("n_docs"),
          (col("n_docs").cast("double") / col("corpus_docs").cast("double"))
            .as("natural_share"),
          (col("w_scaled").cast("double") / col("w_total").cast("double"))
            .as("alpha_share"),
          floor((col("w_scaled").cast("double") / col("w_total").cast("double"))
            * col("corpus_docs").cast("double")).cast("long")
            .as("expected_docs"))
    }),

    // near-dup contamination audit — per-source duplication rate, the
    // health metric a corpus curator watches per ingest batch (a source
    // whose dup_rate jumps is re-crawling itself or mirroring another).
    // A doc counts as near-dup iff it has ≥ 1 τ=0.8 n-gram-Jaccard edge
    // — i.e. it appears in the verified pair frame, no component
    // clustering needed. Reuses the SAME cached pair frame as
    // dedup_ngram_jaccard/dedup_survivors (the audit adds one
    // pair-id distinct + a broadcast-size per-source aggregate on top,
    // nothing quadratic of its own).
    "pipeline_dedup_audit" -> ((s, dir) => {
      val pairs = DedupQueries.ngramJaccardPairs(s, dir)
      val dupDocs = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id")))
        .distinct()
        .withColumn("is_dup", lit(1L))
      Tables.load(s, dir, "documents")
        .select("doc_id", "source")
        .join(dupDocs, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_near_dup"))
        .withColumn("dup_rate",
          col("n_near_dup").cast("double") / col("n_docs").cast("double"))
    }),

    // curriculum bucketing — assign every doc its global length decile
    // (short→long curricula order training data by a difficulty proxy)
    // WITHOUT a global sort: the decile of a doc is determined by how
    // many docs score strictly below it, computed from an equi-depth
    // histogram. One map-side-combined aggregate to #distinct-scores
    // rows, a single-partition cumulative window over that TINY frame
    // (score domain is bounded by max doc length, never corpus size),
    // then a broadcast join maps each doc to its bucket map-side —
    // the same two-pass shape `repartitionByRange` uses to sample
    // range boundaries, made exact and deterministic (ties share a
    // decile; no ntile row-order dependence). Integer arithmetic
    // throughout → engine-exact.
    // DATA SELECTION UNDER A TOKEN BUDGET — the greedy quality-first
    // fill every "train on the best N tokens" recipe runs: rank docs
    // by an integer quality score (type-token-ratio decile — exact
    // integer arithmetic), admit in (score DESC, doc_id) order while
    // the cumulative token count stays within budget = ⌊total/3⌋ (a
    // corpus-relative budget, so the query is scale-free). The global
    // cumulative sum is computed WITHOUT a global sort, the same
    // two-level shape as epoch_shuffle: doc-id ranges bucket the
    // corpus, each (score, bucket) cell cumulates locally under a
    // partitioned window, and cell offsets come from one windowed pass
    // over the tiny (score × bucket) aggregate frame — bucket is
    // monotone in doc_id, so offset + local cum IS the global cum in
    // (score DESC, doc_id) order. A 1000-executor job runs the local
    // windows fully parallel; only the histogram frame is sequential.
    "pipeline_token_budget" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tok"),
          expr("(size(array_distinct(toks)) * 10L) div size(toks)").as("score"))
        .withColumn("bucket", expr("doc_id div 1000"))
      val budget = d.agg(expr("sum(n_tok) div 3").as("budget"))
      val cells = d.groupBy("score", "bucket").agg(sum(col("n_tok")).as("gt"))
        .withColumn("before", coalesce(
          sum(col("gt")).over(W.orderBy(col("score").desc, col("bucket").asc)
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .select("score", "bucket", "before")
      val wLocal = W.partitionBy("score", "bucket").orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      d.join(broadcast(cells), Seq("score", "bucket"))
        .withColumn("cum", col("before") + sum(col("n_tok")).over(wLocal))
        .crossJoin(broadcast(budget)) // corpus rows × 1 scalar row
        .filter(col("cum") <= col("budget"))
        .select("doc_id", "score", "n_tok", "cum")
    }),

    "pipeline_curriculum_deciles" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy("score")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("score"))
      val buckets = d.groupBy("score").agg(count(lit(1)).as("c"))
        .withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
        .withColumn("total", sum(col("c")).over(all))
        .select(col("score"),
          least(lit(9L), expr("(below * 10) div total")).as("decile"))
      d.join(broadcast(buckets), "score").select("doc_id", "score", "decile")
    }),

    // deterministic epoch shuffle — the global training order for one
    // epoch, with NO random() and NO single-partition sort. Each doc's
    // order key is a Lehmer/LCG step mod the prime 2^31-1:
    // h = ((doc_id mod M + 1) · 1103515245 + epoch) mod M — a BIJECTION
    // on [0, M) (multiplier coprime to the prime), i.e. a genuine
    // tie-free permutation, reproducible from ids alone; the epoch
    // number is the additive seed (epoch 2 is a different but equally
    // reproducible permutation). The polynomial string hash the other
    // pipeline ops use would NOT work here: it is order-preserving on
    // equal-length decimal ids (too few mod wraps), which is fine for
    // split/sample membership but not for an order key. The pre-mod on
    // doc_id bounds the product below 2^62 — no ANSI overflow even at
    // 10^12-doc corpora (ids beyond M collide across M-strata only,
    // tie-broken by doc_id). Global position = rank in (h, doc_id)
    // order, computed scale-safely: the key space is cut into 64 fixed
    // ranges (uniform permutation ⇒ balanced buckets), each bucket
    // ranks locally (row_number within its partition), and bucket
    // offsets come from a cumulative window over the 64-row count
    // frame — the same histogram-offset shape as curriculum_deciles. A
    // 1000-executor job writes each bucket's rows in local order and
    // the concatenation IS the shuffled epoch; nothing global ever
    // sorts on one node.
    "pipeline_epoch_shuffle" -> ((s, dir) => {
      val wLocal = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy("h", "doc_id")
      val wBuckets = org.apache.spark.sql.expressions.Window.orderBy("bucket")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val m = lit(2147483647L)
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          pmod((pmod(col("doc_id"), m) + 1L) * 1103515245L + 1L, m).as("h"))
        .withColumn("bucket", expr("h div 33554432")) // ceil((2^31-1)/64)
      val offsets = d.groupBy("bucket").agg(count(lit(1)).as("c"))
        .withColumn("offset", coalesce(sum(col("c")).over(wBuckets), lit(0L)))
        .select("bucket", "offset")
      d.withColumn("local_pos", row_number().over(wLocal).cast("long"))
        .join(broadcast(offsets), "bucket")
        .select(col("doc_id"), col("h"),
          (col("offset") + col("local_pos")).as("pos"))
    }),

    // cross-modal referential audit — the join-health gate of a
    // text↔image (here: documents↔embeddings, same id space) training
    // set: per source, how many text rows have a modality-partner row,
    // how many are missing one, how many partner rows are orphans, and
    // how many partners are structurally broken (wrong dimensionality /
    // zero-norm vectors — the "all-black image" of the embedding
    // world). One id↔id equi-join — the canonical co-partitioned join:
    // at 100 TB both sides bucket by id and the shuffle disappears;
    // orphans surface under the '(orphan)' source so a silent feed
    // mismatch can never hide (an inner join would just drop them).
    "pipeline_crossmodal_audit" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
      val e = Tables.load(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        // in-order left fold, bit-identical to the DuckDB list_reduce
        expr("aggregate(embedding, cast(0 as double), (a, x) -> a + cast(x as double) * cast(x as double))").as("ssq"))
      d.join(e, col("doc_id") === col("vec_id"), "full_outer")
        .groupBy(coalesce(col("source"), lit("(orphan)")).as("source"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("doc_id").isNotNull && col("vec_id").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("doc_id").isNotNull && col("vec_id").isNull, 1L).otherwise(0L)).as("n_missing_partner"),
          sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("n_orphan_partner"),
          sum(when(col("dim").isNotNull && col("dim") =!= 64L, 1L).otherwise(0L)).as("n_wrong_dim"),
          sum(when(col("ssq") === 0d, 1L).otherwise(0L)).as("n_zero_norm"))
    }),

    // overlapping chunk windows — the retrieval/embedding prep stage:
    // each document splits into 128-token windows advancing by 96
    // tokens (32-token overlap keeps sentences that straddle a cut
    // retrievable from both sides). Chunk count is integer-exact
    // (1 + (n_tok − 33) div 96 past the first window), the window grid
    // is a sequence-explode (one→many, map-side, no shuffle at all),
    // and each chunk carries its token span plus the rolling
    // fingerprint of its joined text — the id an embedding/vector
    // store keys on. At 100 TB this runs at scan speed and writes
    // partitioned by doc-hash; the explode factor ≈ n_tok/96 is the
    // output's own size, nothing is amplified beyond the result.
    "pipeline_chunk_windows" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("n_chunks",
          when(col("n_tok") <= 128L, lit(1L))
            .otherwise(expr("1 + (n_tok - 33) div 96")))
      val chunk = slice(col("toks"), (col("chunk_idx") * 96L + 1L).cast("int"), lit(128))
      d.select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_idx"))
        .select(
          col("doc_id"),
          col("chunk_idx"),
          (col("chunk_idx") * 96L).as("start_tok"),
          size(chunk).cast("long").as("n_chunk_tokens"),
          polyHash31(concat_ws(" ", chunk)).as("chunk_fp"))
    }),

    // classifier-score mixing — the FineWeb-Edu-style stage where a
    // quality classifier's score sets each document's sampling rate.
    // The "classifier" here is a deterministic 4-signal proxy (length,
    // size band, lexical diversity, punctuation load — each an
    // integer-exact predicate, so the score is engine-reproducible);
    // swapping in a learned model changes one column, not the
    // operator. Keep-rate = 25% per score point (score 0 drops
    // entirely, score 4 keeps everything); membership reuses the
    // stable id-hash of pipeline_hash_split — never random(), so the
    // mixed corpus is recomputable from ids alone. Pure map + one
    // map-side-combined aggregate: at 100 TB the same predicate feeds
    // the mixed write directly, and the audit costs one scan.
    "pipeline_classifier_mix" -> ((s, dir) => {
      val t = tokens(col("text"))
      val nTok = size(t).cast("long")
      val s1 = (nTok >= 10L).cast("int")
      val s2 = (col("n_chars") >= 100L && col("n_chars") <= 2000L).cast("int")
      val s3 = (size(array_distinct(t)).cast("long") * 2L >= nTok).cast("int")
      val s4 = (length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("long") * 10L
        <= col("n_chars")).cast("int")
      val h = pmod(polyHash31(col("doc_id").cast("string")), lit(100L))
      Tables.load(s, dir, "documents")
        .select(col("lang"), (s1 + s2 + s3 + s4).cast("long").as("score"),
          nTok.as("n_tok"), (h < (s1 + s2 + s3 + s4).cast("long") * 25L).as("kept"))
        .groupBy("lang", "score")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("kept").cast("long")).as("n_kept"),
          sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("kept_tokens"))
    }),

    // corpus-scale decontamination: both sides band through the
    // MinHash-LSH index (no broadcast of either side) — the 100 TB
    // complement to text_contamination's broadcast-span screen. Body
    // and scale notes in DedupQueries.decontaminateLsh.
    "pipeline_decontaminate_lsh" -> ((s, dir) =>
      DedupQueries.decontaminateLsh(s, dir)),

    // DSIR importance weighting (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every
    // training document by how target-like (src0 = the held-out
    // target domain) its hashed n-gram feature bag is, over B = 1024
    // buckets of polyHash31(unigram | bigram), Laplace-smoothed. The
    // canonical DSIR weight is a log-likelihood-ratio SUM; logs are
    // transcendental and FP-summation-order-dependent, so — exactly
    // like tf-idf's ratio idf — the score is the RATIONAL per-feature
    // mean likelihood ratio in fixed point:
    //   r_b = floor(1e4·(t_b+1)(N_s+B) / ((s_b+1)(N_t+B)))
    // summed as exact longs (same monotone intent: target-like docs
    // rank up, off-domain docs down; the 1e4 scale keeps the triple
    // product inside a long through sf0.1 — widen to DECIMAL(38) for
    // corpora past ~1e12 features). Shape at 100 TB: the feature pass
    // is two B-BOUNDED word-count shuffles (map-side combine caps the
    // shuffle at ≤B rows per partition), the ratio table is B rows
    // broadcast, and scoring is one map-side join + exact long sum —
    // the textbook DSIR pipeline, no corpus-sized shuffle anywhere.
    // Deterministic weighted SYSTEMATIC sampling (textbook systematic
    // PPS): "sample ~k docs with inclusion probability ∝ weight,
    // reproducibly, no RNG, no global sort". Docs are laid on a
    // deterministic hash order, the cumulative-weight line is cut into
    // strides of totW/k, and a doc is picked iff its weight interval
    // contains a stride multiple (integer-exact: cum div s strictly
    // increases across the interval). The GLOBAL prefix sum needs no
    // global sort — the order key's top 8 bits are 256 ordered hash
    // ranges, so bucket totals cumulate in one 256-row window and each
    // doc adds its bucket-local running sum: the same order-without-
    // sort shape as curriculum deciles and epoch_shuffle, executor-
    // resident end to end. Weight here = n_chars (compute-proportional
    // sampling); any integer score column drops in.
    "pipeline_weighted_sample" -> ((s, dir) => {
      val k = 100L
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("wgt"),
          polyHash31(col("doc_id").cast("string")).as("key"))
        .withColumn("bucket", expr("key div 8388608")) // 2^23 → 256 ordered ranges
      val wLoc = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy("key", "doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wOff = org.apache.spark.sql.expressions.Window
        .orderBy("bucket")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val offs = d.groupBy("bucket").agg(sum(col("wgt")).as("bw"))
        .withColumn("off", coalesce(sum(col("bw")).over(wOff), lit(0L)))
        .select("bucket", "off")
      val tot = d.agg(sum(col("wgt")).as("tot")) // scalar → broadcast
      d.join(broadcast(offs), "bucket")
        .withColumn("cum", col("off") + sum(col("wgt")).over(wLoc))
        .crossJoin(broadcast(tot))
        .withColumn("stride", greatest(expr(s"tot div ${k}L"), lit(1L)))
        .filter(expr("cum div stride") > expr("(cum - wgt) div stride"))
        .select(col("doc_id"), col("wgt"), col("cum"),
          expr("cum div stride").as("pick_idx"))
    }),

    // Cross-split SEMANTIC leakage audit: after the deterministic
    // hash split (same rule as pipeline_hash_split), any semantic
    // near-dup edge that straddles two splits means an eval example is
    // semantically present in training — the leak that inflates
    // benchmarks even when VERBATIM decontamination passes. The
    // DEFAULT edge set is the MUTUAL-kNN graph (both endpoints rank
    // each other in their top-4 — sim_knn_clusters' edges, ≤ 4n before
    // symmetrization): these are the edges SemDeDup-style grouping
    // actually clusters on, and the audit over them is graph-sized
    // regardless of how dense the near-dup mass is. The exhaustive
    // τ=0.4 pair set survives as pipeline_semantic_leakage_full. The
    // split labels derive from ids already on the edge row — zero
    // joins and zero shuffles beyond the edge query composed.
    "pipeline_semantic_leakage" -> ((s, dir) => {
      def split(c: org.apache.spark.sql.Column) = {
        val h = pmod(polyHash31(c.cast("string")), lit(10L))
        when(h < 8, lit("train")).when(h === 8, lit("val")).otherwise(lit("test"))
      }
      val g = SimilarityQueries.queries("sim_knn_graph")(s, dir)
        .select(col("vec_id"), col("neighbor_id"), col("cos"))
      g.as("a").join(g.as("b"),
          col("a.vec_id") === col("b.neighbor_id") &&
            col("a.neighbor_id") === col("b.vec_id") &&
            col("a.vec_id") < col("a.neighbor_id"))
        .select(col("a.vec_id").as("vec_a"),
          col("a.neighbor_id").as("vec_b"), col("a.cos").as("cos"))
        .withColumn("split_a", split(col("vec_a")))
        .withColumn("split_b", split(col("vec_b")))
        .filter(col("split_a") =!= col("split_b"))
        .select("vec_a", "split_a", "vec_b", "split_b", "cos")
    }),

    // the opt-in EXHAUSTIVE form of the audit above: every SemDeDup
    // τ=0.4 within-cluster pair (the dedup_semantic edge set, k ∝ n),
    // not just the mutual-kNN skeleton — linear under the fixed mean
    // cluster size, but with a near-dup-density-dependent constant
    "pipeline_semantic_leakage_full" -> ((s, dir) => {
      def split(c: org.apache.spark.sql.Column) = {
        val h = pmod(polyHash31(c.cast("string")), lit(10L))
        when(h < 8, lit("train")).when(h === 8, lit("val")).otherwise(lit("test"))
      }
      DedupQueries.queries("dedup_semantic")(s, dir)
        .withColumn("split_a", split(col("vec_a")))
        .withColumn("split_b", split(col("vec_b")))
        .filter(col("split_a") =!= col("split_b"))
        .select("vec_a", "split_a", "vec_b", "split_b", "cos")
    }),

    // GROUP-AWARE split — the FIX for what pipeline_semantic_leakage
    // measures: instead of hashing each vec id independently (which
    // lets a near-dup pair straddle train/test), hash the near-dup
    // COMPONENT representative, so every member of a semantic
    // component lands in the same split by construction. Singletons
    // (no near-dup) group as themselves — their assignment is
    // identical to the naive split, so only ambiguous ids move. The
    // audit reports per-split mass AND replays the leakage count over
    // the grouped labels (n_cross_pairs — 0 by construction, and the
    // oracle proves it independently). Costs one left join against the
    // memoized CC labels plus the pair-frame replay; at 100 TB the
    // labels are a by-product the dedup stage already persisted, so
    // leak-free splitting is a join, not a new pass over the corpus.
    "pipeline_leakage_free_split" -> ((s, dir) => {
      def split(c: org.apache.spark.sql.Column) = {
        val h = pmod(polyHash31(c.cast("string")), lit(10L))
        when(h < 8, lit("train")).when(h === 8, lit("val")).otherwise(lit("test"))
      }
      val labels = DedupQueries.componentLabelsSemantic(s, dir)
        .select(col("node").as("vec_id"), col("rep"))
      val grouped = Tables.load(s, dir, "embeddings").select(col("vec_id"))
        .join(labels, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("rep"), col("vec_id")).as("grp"))
      // This (vec_id, grp) frame is consumed three times (bySplit +
      // both sides of the leak replay) with no shared materialization.
      // A forced `.repartition(col("vec_id"))` shared-shuffle point was
      // measured and REJECTED (r17): warm 0.75/0.79 → 0.85/0.84 s in an
      // alternating gauge-paired A/B — the added exchange of every id
      // costs more than re-running the column-pruned id scan + one
      // broadcast join, and the labels broadcast is already reused
      // across the three consumers at runtime (ReusedExchange in the
      // executed plan). At 100 TB the repeated pass stays cheap for the
      // same reason: it reads only the 8-byte id column.
      val bySplit = grouped
        .groupBy(split(col("grp")).as("split"))
        .agg(count(lit(1)).as("n_vecs"), countDistinct(col("grp")).as("n_groups"))
      val leaks = DedupQueries.queries("dedup_semantic")(s, dir)
        .join(grouped.withColumnRenamed("vec_id", "vec_a")
          .withColumnRenamed("grp", "grp_a"), Seq("vec_a"))
        .join(grouped.withColumnRenamed("vec_id", "vec_b")
          .withColumnRenamed("grp", "grp_b"), Seq("vec_b"))
        .filter(split(col("grp_a")) =!= split(col("grp_b")))
        .agg(count(lit(1)).as("n_cross_pairs"))
      bySplit.crossJoin(broadcast(leaks)) // 3 rows × 1 scalar row
        .select(col("split"), col("n_vecs"), col("n_groups"), col("n_cross_pairs"))
    }),

    "pipeline_dsir_weights" -> ((s, dir) => {
      val B = dsirB
      val ctd = dsirBucketCounts(s, dir)
      // ONE pass over the persisted bucket counts builds both sides
      // (r17, guide §1.2): the old `t`/`sc` groupBys plus the `nt`/`ns`
      // scalar aggregates were FOUR independent scans of the cached
      // (doc, source, bucket) frame (nt/ns re-ran t/sc's whole lineage
      // — nothing pins those intermediate frames); this form scans it
      // once into ≤B rows and derives nt/ns from those rows. Same
      // values by construction: sum(when(src0)) over all rows ≡ the
      // filtered groupBy (null iff the bucket has no src0 rows —
      // exactly the old LEFT JOIN's missing-row null), and
      // nt = Σ_b tc, ns = Σ_b sc are the same integer totals.
      val byBucket = ctd.groupBy("bucket").agg(
        sum(when(col("source") === "src0", col("c"))).as("tc"),
        sum(when(col("source") =!= "src0", col("c"))).as("sc"))
      val nt = byBucket.agg(sum(col("tc")).as("nt"))
      val ns = byBucket.agg(sum(col("sc")).as("ns"))
      // training-doc buckets all appear in sc by construction, so the
      // ratio table is the sc-present rows — never a full 0..B-1
      // enumeration (sc IS NOT NULL ≡ the old inner `sc` side)
      val r = byBucket.filter(col("sc").isNotNull)
        .crossJoin(broadcast(nt)).crossJoin(broadcast(ns))
        .select(col("bucket"),
          expr(s"(10000L * (coalesce(tc, 0L) + 1L) * (ns + ${B}L))" +
            s" div ((sc + 1L) * (nt + ${B}L))").as("r"))
      ctd.filter(col("source") =!= "src0")
        .join(broadcast(r), "bucket")
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_feats"), sum(col("c") * col("r")).as("sum_r"))
        .select(col("doc_id"), col("n_feats"),
          round(col("sum_r").cast("double") / lit(10000.0)
            / col("n_feats").cast("double"), 6).as("dsir_weight"))
    }),

    // content-defined chunking (the rsync/LBFS/restic boundary rule,
    // token-level): a chunk boundary falls AFTER token i exactly when
    // the rolling hash of the k=3-token gram ending at i is ≡ 0
    // mod 16 (mean chunk ≈ 16 tokens) — boundaries depend only on
    // LOCAL content, so inserting or deleting one token re-aligns
    // every boundary past the edit instead of shifting the whole grid
    // the way pipeline_chunk_windows' fixed stride does. That makes
    // chunk-hash dedup shift-robust: the storage/transfer dedup under
    // incremental crawls, where page edits move content without
    // changing most of it. All per-row HOF arithmetic + one explode —
    // zero shuffle, scan speed at 100 TB (the companion
    // dedup_cdc_storage pays the only aggregate).
    "pipeline_cdc_chunks" -> ((s, dir) =>
      cdcChunks(Tables.load(s, dir, "documents"))),

    // SHARD MANIFEST — the metadata a distributed training reader
    // needs per output shard before it opens a single file: row count,
    // token mass, and the id range (the contract a dataloader uses for
    // length-aware scheduling and resumable reads). Shard assignment
    // is the same stable polynomial id-hash as pipeline_hash_split
    // (64 shards), so the manifest is recomputable from ids alone; one
    // map-side-combined aggregate to 64 rows — at 100 TB this is the
    // manifest the sharded write emits as a side output of the same
    // pass.
    "pipeline_shard_manifest" -> ((s, dir) => {
      val shard = pmod(polyHash31(col("doc_id").cast("string")), lit(64L))
      Tables.load(s, dir, "documents")
        .select(shard.as("shard"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
    }),

    // per-source RESERVOIR CAP — keep exactly min(k, n) docs per
    // source, uniformly and deterministically, WITHOUT a per-source
    // sort (the cap-per-domain primitive: bound any one crawl's share
    // of the training mix). The selection key is an injective affine
    // permutation of doc_id mod the Mersenne prime (the q_distinct_kmv
    // hash family) — uniform, engine-replicable, and collision-free
    // for ids < p, so "the k smallest keys" is an exact size-k set.
    // The per-source threshold is the KMV aggregate's bounded k-minima
    // state (map-combined, ≤ k longs per partition×source — never a
    // sort of the source's rows); when a source holds < k docs the
    // minima set is the whole key set and the filter keeps everything.
    // One bounded aggregate + one broadcast join + one audit
    // aggregate; the same `kept` predicate feeds the capped write at
    // 100 TB. Contrast pipeline_stratified_sample: that keeps a FIXED
    // RATE per stratum; this keeps a fixed COUNT, which is what a
    // per-domain cap actually needs when source sizes differ by 10⁶×.
    "pipeline_reservoir_cap" -> ((s, dir) =>
      reservoirCap(Tables.load(s, dir, "documents"), 256))
  )

  /** Reservoir-cap core over any (source, doc_id, n_chars) frame —
    * see the registered query's scaladoc; factored out so
    * PropertySpec can replay it against a brute-force k-smallest on
    * random corpora. */
  private[graft] def reservoirCap(d0: DataFrame, k: Int): DataFrame = {
    val docs = d0.withColumn("h",
      (col("doc_id") * lit(2654435761L) + lit(104729L)) % lit(2147483647L))
    val thr = docs.groupBy("source")
      .agg(graft.functions.Sketches.kmvMinima(col("h"), k).as("minima"))
      .select(col("source"),
        element_at(col("minima"), size(col("minima"))).as("thr"))
    docs.join(broadcast(thr), "source")
      .select(col("source"), col("n_chars"),
        (col("h") <= col("thr")).cast("long").as("kept"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"),
        sum(when(col("kept") === 1L, col("n_chars")).otherwise(lit(0L)))
          .as("kept_chars"))
  }

  val oracles: Map[String, String] = Map(
    "pipeline_cdc_chunks" ->
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, chunk_idx, start_tok, n_tokens, chunk_hash
         |FROM cchunks""".stripMargin,

    // each CTE mirrors an already-validated single-stage oracle
    "pipeline_clean_corpus" ->
      s"""WITH RECURSIVE ek AS (
         |  SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM documents GROUP BY md5(text)),
         |t AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
         |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) g
         |  FROM documents),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(a.g) > 0 AND len(b.g) > 0
         |    AND CAST(len(list_filter(a.g, x -> list_contains(b.g, x))) AS DOUBLE) /
         |        (CAST(len(a.g) + len(b.g) AS DOUBLE) - CAST(len(list_filter(a.g, x -> list_contains(b.g, x))) AS DOUBLE)) >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |members AS (
         |  SELECT src AS doc_id FROM reach GROUP BY src
         |  HAVING least(src, min(dst)) < src),
         |sp AS (
         |  SELECT doc_id, source, ${DedupQueries.spanListSql} spans FROM documents),
         |spu AS (SELECT doc_id, source, unnest(spans) AS span FROM sp),
         |ev AS (SELECT DISTINCT span FROM spu WHERE source = 'src0'),
         |contaminated AS (
         |  SELECT DISTINCT spu.doc_id FROM spu JOIN ev ON spu.span = ev.span
         |  WHERE spu.source <> 'src0'),
         |lang AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split(text,' '), x -> x IN ('the','and','of','to','a','in','is','it'))) c_en,
         |    len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist','nicht'))) c_de,
         |    len(list_filter(string_split(text,' '), x -> x IN ('el','la','los','las','y','es','que'))) c_es,
         |    len(list_filter(string_split(text,' '), x -> x IN ('le','les','et','est','un','une'))) c_fr
         |  FROM documents)
         |SELECT d.doc_id, CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens
         |FROM documents d
         |JOIN ek ON d.doc_id = ek.doc_id
         |JOIN lang l ON d.doc_id = l.doc_id
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM members)
         |  AND len(string_split(d.text,' ')) >= 10
         |  AND l.c_en >= l.c_de AND l.c_en >= l.c_es AND l.c_en >= l.c_fr
         |  AND d.source <> 'src0'
         |  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin,

    // duplicated-span policy mirrored exactly: ≥2 distinct docs, first
    // (min doc_id) keeps its text, coverage positions deduped before
    // token removal; string_agg(ORDER BY i) skips the NULLed removed
    // tokens, and md5 of the rejoined string matches Spark's byte-wise
    "pipeline_scrub_spans" -> {
      val spanTerms = (0 until 8).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |pos AS (
         |  SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM t),
         |sp AS (
         |  SELECT doc_id, i AS p, $spanTerms AS span FROM pos),
         |dup AS (
         |  SELECT span, min(doc_id) AS first_doc
         |  FROM (SELECT DISTINCT doc_id, span FROM sp)
         |  GROUP BY span HAVING count(*) >= 2),
         |cov AS (
         |  SELECT DISTINCT doc_id, i FROM (
         |    SELECT sp.doc_id, unnest(range(sp.p, sp.p + 8)) AS i
         |    FROM sp JOIN dup ON sp.span = dup.span AND sp.doc_id > dup.first_doc)),
         |tok AS (
         |  SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS tok,
         |         generate_subscripts(toks, 1) AS i
         |  FROM t),
         |res AS (
         |  SELECT tok.doc_id, max(tok.n_tokens) AS n_tokens,
         |         sum(CASE WHEN cov.i IS NOT NULL THEN 1 ELSE 0 END) AS n_removed,
         |         string_agg(CASE WHEN cov.i IS NULL THEN tok.tok END, ' ' ORDER BY tok.i) AS clean
         |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.i
         |  GROUP BY tok.doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(n_removed AS BIGINT) AS n_removed,
         |       md5(coalesce(clean, '')) AS clean_hash
         |FROM res""".stripMargin
    },

    // SHA-256 is bit-identical across engines; DuckDB regexp_replace
    // needs the 'g' flag to match Spark's replace-all default
    "pipeline_pseudonymize" ->
      """SELECT substring(sha256('pepper:' || CAST(c_custkey AS VARCHAR)), 1, 16) AS pseudo_id,
        |       regexp_replace(c_name, '[0-9]', '*', 'g') AS name_masked,
        |       c_mktsegment,
        |       CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS bal_bucket
        |FROM customer""".stripMargin,

    // same patterns and application order as graft.ops.Redact; RE2 and
    // Java regex agree on these (no alternation/backrefs/lookaround).
    // DuckDB regexp_replace needs 'g' for Spark's replace-all default.
    "pipeline_redact_pii" ->
      """WITH s1 AS (
        |  SELECT doc_id, source, text,
        |         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |                        '<EMAIL>', 'g') AS t1
        |  FROM documents),
        |s2 AS (
        |  SELECT doc_id, source, text, t1,
        |         regexp_replace(t1, '\b\d{1,3}(?:\.\d{1,3}){3}\b', '<IP>', 'g') AS t2
        |  FROM s1)
        |SELECT doc_id, source,
        |       regexp_replace(t2, '\+?\d[\d().\s-]{7,}\d', '<PHONE>', 'g') AS text_redacted,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |          + len(regexp_extract_all(t1, '\b\d{1,3}(?:\.\d{1,3}){3}\b'))
        |          + len(regexp_extract_all(t2, '\+?\d[\d().\s-]{7,}\d')) AS BIGINT) AS n_redactions
        |FROM s2""".stripMargin,

    // same rolling polynomial hash as the text_fingerprint oracle,
    // applied to the decimal doc_id string
    "pipeline_hash_split" ->
      """WITH h AS (
        |  SELECT n_chars,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
        |             c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h * 31 + c) % 2147483647) % 10 AS b
        |  FROM documents)
        |SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM h GROUP BY 1""".stripMargin,

    "pipeline_pack_sequences" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         CAST(doc_id // 100 AS BIGINT) AS shard
        |  FROM documents),
        |c AS (
        |  SELECT lang, shard, doc_id, n_tok,
        |         sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT lang, shard, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY 1, 2, 3""".stripMargin,

    // same id-hash as the pipeline_hash_split oracle, residue mod 100
    "pipeline_stratified_sample" ->
      """WITH h AS (
        |  SELECT lang,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
        |             c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h * 31 + c) % 2147483647) % 100 AS b,
        |         CASE WHEN lang = 'en' THEN 20 WHEN lang = 'zh' THEN 50
        |              ELSE 100 END AS rate
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN b < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN b < rate THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS kept_frac
        |FROM h GROUP BY 1""".stripMargin,

    "pipeline_domain_mix" ->
      """WITH a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
        |  FROM documents GROUP BY 1)
        |SELECT source, n_docs, src_tokens,
        |       CAST(src_tokens AS DOUBLE)
        |         / CAST(sum(src_tokens) OVER () AS DOUBLE) AS token_share,
        |       CAST(sum(src_tokens) OVER () AS DOUBLE)
        |         / (CAST(count(*) OVER () AS DOUBLE)
        |            * CAST(src_tokens AS DOUBLE)) AS mix_weight
        |FROM a""".stripMargin,

    "pipeline_k_anonymity" ->
      """SELECT lang, source, n_chars - n_chars % 100 AS len_bucket,
        |       CAST(count(*) AS BIGINT) AS group_size
        |FROM documents
        |GROUP BY 1, 2, 3
        |HAVING count(*) < 5""".stripMargin,

    // ⌊√n·10⁶⌋ scaling makes the normalizer an exact integer sum, so
    // every ratio divides two engine-identical operands (see scaladoc)
    "pipeline_temperature_mix" ->
      """WITH s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, n_docs,
        |         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS w_scaled
        |  FROM s),
        |t AS (
        |  SELECT CAST(sum(w_scaled) AS BIGINT) AS w_total,
        |         CAST(sum(n_docs) AS BIGINT) AS corpus_docs
        |  FROM w)
        |SELECT source, n_docs,
        |       CAST(n_docs AS DOUBLE) / CAST(corpus_docs AS DOUBLE) AS natural_share,
        |       CAST(w_scaled AS DOUBLE) / CAST(w_total AS DOUBLE) AS alpha_share,
        |       CAST(floor(CAST(w_scaled AS DOUBLE) / CAST(w_total AS DOUBLE)
        |                  * CAST(corpus_docs AS DOUBLE)) AS BIGINT) AS expected_docs
        |FROM w, t""".stripMargin,

    // the pair CTE mirrors the validated dedup_ngram_jaccard oracle;
    // a doc is near-dup iff it appears on either side of a pair
    "pipeline_dedup_audit" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) g
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE len(a.g) > 0 AND len(b.g) > 0
        |    AND CAST(len(list_filter(a.g, x -> list_contains(b.g, x))) AS DOUBLE) /
        |        (CAST(len(a.g) + len(b.g) AS DOUBLE) - CAST(len(list_filter(a.g, x -> list_contains(b.g, x))) AS DOUBLE)) >= 0.8),
        |dup AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b FROM p))
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(dup.doc_id) AS BIGINT) AS n_near_dup,
        |       CAST(count(dup.doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_rate
        |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
        |GROUP BY 1""".stripMargin,

    // the two-level offset + local-cum decomposition collapses to one
    // plain global cumsum in (score DESC, doc_id) order — the oracle
    // states the SEMANTICS, the Spark plan the scale shape
    "pipeline_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         CAST((len(list_distinct(string_split(text, ' '))) * 10)
        |              // len(string_split(text, ' ')) AS BIGINT) AS score
        |  FROM documents),
        |b AS (SELECT CAST(sum(n_tok) // 3 AS BIGINT) AS budget FROM d),
        |c AS (
        |  SELECT doc_id, score, n_tok,
        |         CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM d)
        |SELECT doc_id, score, n_tok, cum FROM c, b WHERE cum <= budget""".stripMargin,

    // same strict-below histogram arithmetic; integer // division
    "pipeline_curriculum_deciles" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS score
        |  FROM documents),
        |h AS (SELECT score, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
        |b AS (
        |  SELECT score,
        |         COALESCE(sum(c) OVER (ORDER BY score
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
        |         sum(c) OVER () AS total
        |  FROM h)
        |SELECT t.doc_id, t.score,
        |       CAST(least(9, b.below * 10 // b.total) AS BIGINT) AS decile
        |FROM t JOIN b ON t.score = b.score""".stripMargin,

    // same epoch-seeded LCG permutation; the oracle ranks globally —
    // bucketed local ranks + offsets must agree with it exactly
    "pipeline_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         ((doc_id % 2147483647 + 1) * 1103515245 + 1) % 2147483647 AS h
        |  FROM documents)
        |SELECT doc_id, h,
        |       CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM h""".stripMargin,

    // same in-order double fold for the squared norm; the FULL OUTER
    // join + '(orphan)' bucket mirror the engine exactly
    "pipeline_crossmodal_audit" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |           (a, b) -> a + b) AS ssq
        |  FROM embeddings)
        |SELECT coalesce(d.source, '(orphan)') AS source,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |       CAST(sum(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_partner,
        |       CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_partner,
        |       CAST(sum(CASE WHEN e.dim IS NOT NULL AND e.dim <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
        |       CAST(sum(CASE WHEN e.ssq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm
        |FROM documents d FULL OUTER JOIN e ON d.doc_id = e.vec_id
        |GROUP BY 1""".stripMargin,

    // same integer chunk-count arithmetic, the same rolling character
    // fold as the text_fingerprint oracle over each chunk's re-joined
    // text; list_slice end-index form of Spark's (start, length) slice
    "pipeline_chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN n_tok <= 128 THEN 1 ELSE 1 + (n_tok - 33) // 96 END AS n_chunks
        |  FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |       CAST(i * 96 AS BIGINT) AS start_tok,
        |       CAST(len(list_slice(toks, CAST(i*96+1 AS INTEGER), CAST(i*96+128 AS INTEGER))) AS BIGINT) AS n_chunk_tokens,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(array_to_string(
        |             list_slice(toks, CAST(i*96+1 AS INTEGER), CAST(i*96+128 AS INTEGER)), ' '), ''),
        |           ch -> CAST(ascii(ch) AS BIGINT))),
        |         (h, ch) -> (h * 31 + ch) % 2147483647) AS chunk_fp
        |FROM c, UNNEST(range(0, n_chunks)) AS u(i)""".stripMargin,

    // same 4 integer-exact signals, the same id-hash residue as the
    // pipeline_hash_split oracle
    "pipeline_classifier_mix" ->
      """WITH t AS (
        |  SELECT lang, n_chars,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
        |         CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
        |             c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h * 31 + c) % 2147483647) % 100 AS h
        |  FROM documents),
        |sc AS (
        |  SELECT lang, n_tok, h,
        |         (CASE WHEN n_tok >= 10 THEN 1 ELSE 0 END
        |          + CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 1 ELSE 0 END
        |          + CASE WHEN n_uniq * 2 >= n_tok THEN 1 ELSE 0 END
        |          + CASE WHEN n_punct * 10 <= n_chars THEN 1 ELSE 0 END) AS score
        |  FROM t)
        |SELECT lang, CAST(score AS BIGINT) AS score,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN h < score * 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN h < score * 25 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM sc GROUP BY 1, 2""".stripMargin,

    // brute-force train×eval Jaccard at τ=0.8 — the same
    // recall-complete-at-threshold convention as dedup_minhash_lsh
    "pipeline_decontaminate_lsh" ->
      """WITH t AS (
        |  SELECT doc_id, source, list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) g
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
        |         CAST(len(list_filter(a.g, x -> list_contains(b.g, x))) AS DOUBLE) /
        |         (CAST(len(a.g) + len(b.g) AS DOUBLE) - CAST(len(list_filter(a.g, x -> list_contains(b.g, x))) AS DOUBLE)) AS jac
        |  FROM t a JOIN t b ON a.source <> 'src0' AND b.source = 'src0'
        |  WHERE len(a.g) > 0 AND len(b.g) > 0)
        |SELECT train_id, eval_id, jac FROM p WHERE jac >= 0.8""".stripMargin,

    // global ORDER BY (key, doc_id) cumsum — bucket-major hash-range
    // order in the engine is the same total order because the bucket
    // is the key's top bits; stride selection is pure integer div
    "pipeline_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS wgt,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
        |             c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h * 31 + c) % 2147483647) AS key
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, wgt,
        |         CAST(sum(wgt) OVER (ORDER BY key, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |         CAST(sum(wgt) OVER () AS BIGINT) AS tot
        |  FROM t)
        |SELECT doc_id, wgt, cum,
        |       CAST(cum // greatest(tot // 100, 1) AS BIGINT) AS pick_idx
        |FROM c
        |WHERE cum // greatest(tot // 100, 1) > (cum - wgt) // greatest(tot // 100, 1)""".stripMargin,

    // the mutual-kNN edge CTE chain (same kg/mu as sim_knn_clusters,
    // carrying cos) + the hash-split CASE applied to both edge ids
    "pipeline_semantic_leakage" -> {
      def bucketSql(id: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |           list_transform(string_split(CAST($id AS VARCHAR), ''),
           |             c -> CAST(ascii(c) AS BIGINT))),
           |           (h, c) -> (h * 31 + c) % 2147483647) % 10""".stripMargin
      s"""WITH ${SimilarityQueries.semAssignCtes},
         |pr AS (
         |  SELECT x.vec_id, y.vec_id AS neighbor_id,
         |         round(list_reduce(list_prepend(0.0,
         |                 list_transform(range(1, 65), i -> xn.v[i] * yn.v[i])), (p, q) -> p + q)
         |               / (xn.nrm * yn.nrm), 6) AS cos
         |  FROM assign x JOIN assign y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id
         |  JOIN n xn ON xn.vec_id = x.vec_id
         |  JOIN n yn ON yn.vec_id = y.vec_id),
         |kg AS (
         |  SELECT vec_id, neighbor_id, cos FROM (
         |    SELECT vec_id, neighbor_id, cos,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM pr)
         |  WHERE rk <= 4),
         |mu AS (
         |  SELECT a.vec_id AS vec_a, a.neighbor_id AS vec_b, a.cos
         |  FROM kg a JOIN kg b
         |    ON a.vec_id = b.neighbor_id AND a.neighbor_id = b.vec_id
         |   AND a.vec_id < a.neighbor_id),
         |lab AS (
         |  SELECT vec_a, vec_b, cos,
         |         CASE WHEN ${bucketSql("vec_a")} < 8 THEN 'train'
         |              WHEN ${bucketSql("vec_a")} = 8 THEN 'val' ELSE 'test' END AS split_a,
         |         CASE WHEN ${bucketSql("vec_b")} < 8 THEN 'train'
         |              WHEN ${bucketSql("vec_b")} = 8 THEN 'val' ELSE 'test' END AS split_b
         |  FROM mu)
         |SELECT vec_a, split_a, vec_b, split_b, cos
         |FROM lab WHERE split_a <> split_b""".stripMargin
    },

    // the semantic pair CTE chain + the hash-split CASE applied to
    // both pair ids map-side — the exhaustive-audit twin
    "pipeline_semantic_leakage_full" -> {
      def bucketSql(id: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |           list_transform(string_split(CAST($id AS VARCHAR), ''),
           |             c -> CAST(ascii(c) AS BIGINT))),
           |           (h, c) -> (h * 31 + c) % 2147483647) % 10""".stripMargin
      s"""WITH ${SimilarityQueries.semAssignCtes},
         |pr AS (
         |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |         round(list_reduce(list_prepend(0.0,
         |                 list_transform(range(1, 65), i -> xn.v[i] * yn.v[i])), (p, q) -> p + q)
         |               / (xn.nrm * yn.nrm), 6) AS cos
         |  FROM assign x JOIN assign y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |  JOIN n xn ON xn.vec_id = x.vec_id
         |  JOIN n yn ON yn.vec_id = y.vec_id),
         |sp AS (
         |  SELECT vec_a, vec_b, cos,
         |         ${bucketSql("vec_a")} AS ba,
         |         ${bucketSql("vec_b")} AS bb
         |  FROM pr WHERE cos >= 0.4),
         |lab AS (
         |  SELECT vec_a, vec_b, cos,
         |         CASE WHEN ba < 8 THEN 'train' WHEN ba = 8 THEN 'val' ELSE 'test' END AS split_a,
         |         CASE WHEN bb < 8 THEN 'train' WHEN bb = 8 THEN 'val' ELSE 'test' END AS split_b
         |  FROM sp)
         |SELECT vec_a, split_a, vec_b, split_b, cos
         |FROM lab WHERE split_a <> split_b""".stripMargin
    },

    // the semantic pair set under the same recursive-CTE reachability
    // as dedup_survivors_semantic; split hash applied to the GROUP id
    // (component rep, own id for singletons)
    "pipeline_leakage_free_split" -> {
      def bucketSql(id: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |           list_transform(string_split(CAST($id AS VARCHAR), ''),
           |             c -> CAST(ascii(c) AS BIGINT))),
           |           (h, c) -> (h * 31 + c) % 2147483647) % 10""".stripMargin
      s"""WITH RECURSIVE ${SimilarityQueries.semAssignCtes},
         |pr AS (
         |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
         |  FROM assign x JOIN assign y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |  JOIN n xn ON xn.vec_id = x.vec_id
         |  JOIN n yn ON yn.vec_id = y.vec_id
         |  WHERE round(list_reduce(list_prepend(0.0,
         |          list_transform(range(1, 65), i -> xn.v[i] * yn.v[i])), (p, q) -> p + q)
         |        / (xn.nrm * yn.nrm), 6) >= 0.4),
         |ed AS (SELECT vec_a AS src, vec_b AS dst FROM pr
         |       UNION SELECT vec_b, vec_a FROM pr),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM ed
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN ed e2 ON r.dst = e2.src),
         |lab AS (SELECT src AS vec_id, least(src, min(dst)) AS rep FROM reach GROUP BY src),
         |g AS (
         |  SELECT e.vec_id, coalesce(l.rep, e.vec_id) AS grp
         |  FROM embeddings e LEFT JOIN lab l ON l.vec_id = e.vec_id),
         |spl AS (
         |  SELECT vec_id, grp,
         |         CASE WHEN ${bucketSql("grp")} < 8 THEN 'train'
         |              WHEN ${bucketSql("grp")} = 8 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM g),
         |leaks AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_cross_pairs
         |  FROM pr JOIN spl a ON a.vec_id = pr.vec_a
         |          JOIN spl b ON b.vec_id = pr.vec_b
         |  WHERE a.split <> b.split)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(count(DISTINCT grp) AS BIGINT) AS n_groups, n_cross_pairs
         |FROM spl, leaks GROUP BY split, n_cross_pairs""".stripMargin
    },

    // same poly31 char hash as the fingerprint/CMS oracles; `//` is
    // DuckDB's integer floor division = Spark's `div` on positives;
    // the two trailing divisions share Spark's association
    "pipeline_dsir_weights" ->
      """WITH tk AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |ft AS (
        |  SELECT doc_id, source, unnest(toks) AS f FROM tk
        |  UNION ALL
        |  SELECT doc_id, source,
        |         unnest(list_transform(range(1, len(toks)),
        |           i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1])) AS f
        |  FROM tk),
        |h AS (
        |  SELECT doc_id, source,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(f, ''), c -> CAST(ascii(c) AS BIGINT))),
        |           (a, b) -> (a * 31 + b) % 2147483647) % 1024 AS bucket
        |  FROM ft),
        |t AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM h WHERE source = 'src0' GROUP BY 1),
        |s AS (SELECT bucket, CAST(count(*) AS BIGINT) AS sc FROM h WHERE source <> 'src0' GROUP BY 1),
        |nt AS (SELECT CAST(coalesce(sum(tc), 0) AS BIGINT) AS ntv FROM t),
        |ns AS (SELECT CAST(coalesce(sum(sc), 0) AS BIGINT) AS nsv FROM s),
        |r AS (
        |  SELECT s.bucket,
        |         CAST((10000 * (coalesce(t.tc, 0) + 1) * (ns.nsv + 1024))
        |              // ((s.sc + 1) * (nt.ntv + 1024)) AS BIGINT) AS r
        |  FROM s LEFT JOIN t ON s.bucket = t.bucket
        |  CROSS JOIN nt CROSS JOIN ns),
        |d AS (
        |  SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_feats, CAST(sum(r.r) AS BIGINT) AS sum_r
        |  FROM h JOIN r ON h.bucket = r.bucket
        |  WHERE h.source <> 'src0'
        |  GROUP BY 1)
        |SELECT doc_id, n_feats,
        |       round(CAST(sum_r AS DOUBLE) / 10000.0 / CAST(n_feats AS DOUBLE), 6) AS dsir_weight
        |FROM d""".stripMargin,

    "pipeline_shard_manifest" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
        |             c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h * 31 + c) % 2147483647) % 64 AS shard,
        |         len(string_split(text, ' ')) AS n_tok
        |  FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
        |       CAST(max(doc_id) AS BIGINT) AS max_doc_id
        |FROM h GROUP BY 1""".stripMargin,

    // rank-over-the-same-injective-key replica: rn <= k picks exactly
    // the k smallest keys, which is the KMV threshold set
    "pipeline_reservoir_cap" ->
      """WITH d AS (
        |  SELECT source, n_chars,
        |         (doc_id * 2654435761 + 104729) % 2147483647 AS h
        |  FROM documents),
        |r AS (
        |  SELECT source, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN rn <= 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN rn <= 256 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM r GROUP BY 1""".stripMargin
  )
}
