package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Cep, Chains, CorpusPipeline, CorpusStats, Curation, Dedup, Relational, Retrieval, Silver, Similarity, Sketches, SkewOps, TimeSeries}
import graft.functions.TextFns

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory each key maps to.
  *
  * Oracle parity rules (SURVEY §6): identical output column names both
  * sides; sums/avgs of non-integral doubles computed in DECIMAL(18,4)
  * then cast to double in BOTH dialects (exact → order-independent →
  * bit-identical); timestamps cast to µs TIMESTAMP in the DuckDB SQL
  * (Spark truncates parquet ns to µs on read); deterministic tie-breaks
  * on every window / top-k.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.starJoin(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // core relational / reference ETL semantics
    "q1_pricing_agg"      -> (Relational.pricingAgg _),
    "q2_dedup_insert"     -> (Relational.dedupInsert _),
    "q3_join_agg"         -> (Relational.joinAgg _),
    "q4_conditional_agg"  -> (Relational.conditionalAgg _),
    "q5_star_join"        -> (Relational.starJoin _),
    "q6_filter_agg"       -> (Relational.filterAgg _),
    "q7_topk"             -> (Relational.topK _),
    "q8_rolling_avg"      -> (TimeSeries.rollingAvg _),
    "q9_outlier_filter"   -> (TimeSeries.outlierFilter _),
    "q10_self_join_offset" -> (TimeSeries.selfJoinOffset _),
    "q11_latest_per_key"  -> (TimeSeries.latestPerKey _),
    "q12_locf_gapfill"    -> (TimeSeries.locfGapfill _),
    "q13_upsert_merge"    -> (Relational.upsertMerge _),
    "q14_pivot"           -> (Relational.pivotTypes _),
    "q15_sessionize"      -> (TimeSeries.sessionize _),
    "q16_asof_join"       -> (TimeSeries.asofJoin _),
    "q17_ohlc_bars"       -> (TimeSeries.ohlcBars _),
    "q18_json_extract"    -> (TextFns.jsonExtract _),
    "q19_string_parse"    -> (TextFns.stringParse _),
    "q20_session_filter"  -> (TimeSeries.sessionFilter _),
    "q21_window_agg_time" -> (TimeSeries.windowAggTime _),
    "q22_clamp_bounds"    -> (TimeSeries.clampBounds _),
    "q23_anti_semi"       -> (Relational.antiSemi _),
    "q24_dedup_all_cols"  -> (Relational.dedupAllCols _),
    "q25_flatten_nested"  -> (Relational.flattenNested _),
    "q26_asof_custom"     -> (TimeSeries.asofJoinCustom _),
    "q27_transactions_rollup" -> (Relational.transactionsRollup _),
    "q28_verticals_pipeline"  -> (TimeSeries.verticalsPipeline _),
    "q29_grouped_topk"    -> (Relational.groupedTopK _),
    "q30_rollup"          -> (Relational.rollupAgg _),
    "q31_session_calendar" -> (TimeSeries.sessionCalendar _),
    "q32_map_explode"     -> (Relational.mapExplode _),
    "q33_distribution"    -> (Relational.distribution _),
    "q34_above_cust_avg"  -> (Relational.aboveCustomerAvg _),
    "q35_set_ops"         -> (Relational.setOps _),
    "q36_vwap"            -> (TimeSeries.vwap _),
    "q37_bar_resample"    -> (TimeSeries.barResample _),
    "q38_drawdown"        -> (TimeSeries.drawdown _),
    "q39_tz_session"      -> (TimeSeries.tzSession _),
    "q40_winsorize"       -> (Relational.winsorize _),
    "q41_sliding_window"  -> (TimeSeries.slidingWindowAgg _),
    "q42_funnel"          -> (TimeSeries.funnel _),
    "q43_unpivot"         -> (Relational.unpivot _),
    "q44_since_purchase"  -> (Relational.sinceLastPurchase _),
    "q45_fuzzy_match"     -> (Relational.fuzzyMatch _),
    "q46_revenue_share"   -> (Relational.revenueShare _),
    "q47_monthly_revenue" -> (Relational.monthlyRevenue _),
    "q48_bollinger"       -> (TimeSeries.bollinger _),
    "q49_chain_flatten"   -> (Chains.chainFlatten _),
    "q50_symbol_parse"    -> (Chains.parseSymbols _),
    "q51_strike_backfill" -> (Chains.strikeGridBackfill _),
    "q52_quality_merge"   -> (Relational.qualityMerge _),
    "q53_order_legs"      -> (Chains.orderLegsNormalize _),
    "q54_silver_import"   -> (Silver.silverImport _),
    "q55_skew_join"       -> (SkewOps.skewJoinDemo _),
    "q56_range_join"      -> (Relational.rangeJoin _),
    // MATCH_RECOGNIZE-style CEP (SQL:2016 / Flink-CEP — no Spark
    // built-in): greedy `view click* purchase` within 48h per user,
    // skip-past-last-row; per-key tight-loop automaton expression,
    // oracle = per-user recursive CTE replaying the same machine
    "q57_event_pattern"   -> (Cep.eventPattern _),
    // week-cohort × week-offset retention matrix (Monday-truncated
    // first-seen week; offset = day-diff DIV 7 — integer DATE math
    // both engines; monthly degenerates on the one-month events table)
    "q58_cohort_retention" -> (TimeSeries.cohortRetention _),
    // last-touch attribution: purchase ← latest prior non-purchase
    // within 48h (last(ignoreNulls) row window; µs-exact gap)
    "q59_attribution"     -> (TimeSeries.lastTouchAttribution _),
    // session path analysis: top event-type sequences across q15's
    // 30-min sessions, deterministic (count desc, path) top-50
    "q60_event_paths"     -> (TimeSeries.eventPaths _),
    // error-burst CEP (`error{3,}`): maximal consecutive runs via
    // gaps-and-islands — depth-unbounded oracle, unlike q57's
    "q61_error_bursts"    -> (TimeSeries.errorBursts _),
    // SCD2 dimension build: change stream → half-open versioned
    // validity intervals (lead + row_number, one key window)
    "q62_scd2"            -> (TimeSeries.scd2Build _),
    // q63: the SQL surface itself as an entry — the q26 as-of shape
    // written in PURE spark.sql through the asof_join TVF (SqlSurface),
    // proving a SQL-only user reaches the custom plan; oracle = q26's
    "q63_sql_asof"        -> (SqlSurface.q26ViaSql _),
    // bounded-quantifier CEP with start alternation:
    // (view|signup) click{1,2} purchase within 48h — the q57 automaton
    // with overflow/underflow kill states; oracle replays the machine
    "q64_cep_bounded"     -> (Cep.eventPatternBounded _),
    // AFTER MATCH SKIP TO NEXT ROW (overlapping matches):
    // view (click|view)* purchase — interior views open their own
    // attempts, all closing on the same purchase; oracle is pure
    // window SQL (first non-mid boundary row per view)
    "q65_cep_skip_next"   -> (Cep.eventPatternSkipToNext _),
    // LLM-training-data pipeline operators
    "d1_exact_dedup"      -> (Dedup.exactDedup _),
    "d2_minhash_lsh"      -> (Dedup.minhashLsh _),
    // the d2 signatures themselves, hash-exact vs a HUGEINT mod-2^64
    // replay of the whole xxh64→shingle-fold→fmix64→signed-min pipeline
    // — anchors the LSH family's arithmetic to the DuckDB gate
    "d2_sigs"             -> (Dedup.minhashSigs _),
    "d3_simhash"          -> (Dedup.simhash _),
    "d4_ngram_jaccard"    -> (Dedup.ngramJaccard _),
    // registered as the bounded-aggregate formulation (no rank window;
    // the window twin stays as the spec baseline, proven row-equal)
    "d5_embed_topk"       -> (Similarity.embedTopKAgg _),
    "d6_ivf_ann"          -> (Similarity.ivfAnn _),
    "d7_lang_id"          -> (TextFns.langId _),
    "d8_quality_score"    -> (TextFns.qualityScore _),
    "d9_token_count"      -> (TextFns.tokenCount _),
    "d10_fingerprint"     -> (TextFns.fingerprint _),
    "d11_near_dup_cosine" -> (Similarity.nearDupCosine _),
    "d12_text_clean"      -> (TextFns.textClean _),
    "d13_sketch_profile"  -> (Sketches.sketchProfile _),
    "d14_tfidf_rank"      -> (TextFns.tfidfRank _),
    "d15_heavy_hitters"   -> (TextFns.heavyTokens _),
    "d16_quantized_ann"   -> (Similarity.quantizedTopK _),
    "d17_hamming_ann"     -> (Similarity.hammingTopK _),
    "d18_chunking"        -> (TextFns.chunkDocs _),
    "d19_jaccard_lsh"     -> ((s, d) =>
      Dedup.jaccardLsh(s, d).orderBy("id_a", "id_b")),
    // duplicate-CLUSTER formation: iterative min-label propagation over
    // the exact d4 pair list — oracle-exact via a DuckDB recursive-CTE
    // transitive closure (graph ops ARE SQL-expressible for bounded
    // closures, so the driver verifies the component labels themselves)
    // size-gated CC (driver union-find at this edge count; the
    // distributed propagateLabels loop above the gate) — labels are
    // identical either way, and Round7Spec keeps the loop itself
    // oracle-parity-gated on this exact pair list so the distributed
    // path stays verified without billing its ~3× scheduling overhead
    // to every bench capture
    "d20_dup_clusters"    -> ((s, d) =>
      Dedup.connectedComponents(Dedup.ngramJaccard(s, d).select("id_a", "id_b"))
        .orderBy("node")),
    // the composed 100 TB dedup path: LSH pairs → CC → keep-min
    // corpus. Oracle-exact since r15 (LSH capture is deterministic —
    // pair CTE + recursive closure); Round4Spec still gates the
    // probabilistic part (drop-set ⊆ exact pipeline's, high recall)
    "d22_dedup_pipeline"  -> (Dedup.dedupPipeline _),
    // the streaming-incremental twin of d22: three micro-batch upserts
    // against a persisted band index land EXACTLY the batch pipeline's
    // corpus (Round6Spec proves parity for arbitrary splits + replay),
    // so it anchors to the SAME oracle as d22 — end-state correctness
    // is the right gate for a replay-idempotent sink
    "d23_incremental_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val root = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
      val docs = Tables.documents(s, d)
      // buckets sized to the test corpus (the layout knob a deployment
      // sizes to ITS corpus: more buckets = finer pruning, more files).
      // Two cycles exercise every path — empty-store bootstrap, banding
      // against the persisted index, merge-log relabeling — and the
      // corpus is split-count-invariant (Round6Spec proves parity for
      // arbitrary splits), so more cycles here would only re-bill the
      // same per-cycle fixed costs.
      // bucketedIndex: the production layout — the band index is a
      // bucketed table clustered on the full join key, so the
      // steady-state historic join never shuffles the index side
      (0 until 2).foreach { i =>
        graft.operators.IncrementalDedup.upsertBatch(
          docs.filter(pmod(col("doc_id"), lit(2)) === i), root, buckets = 16,
          bucketedIndex = true)
      }
      // the catalog entry is only needed while upserting (the corpus
      // read is a plain parquet scan of docs/): unregister it so a
      // long-lived session running many cycles — Bench runs this entry
      // twice per capture — doesn't accrete one table per temp root
      graft.operators.IncrementalDedup.unregisterBandTable(s, root)
      graft.operators.IncrementalDedup.corpus(s, root).orderBy("doc_id")
    }),
    // multimodal decode pipeline (media-as-binary → partition-local
    // feature extraction). Image decode is REAL (javax.imageio via
    // Multimodal.ImageIoDecoder); the demo corpus's text-byte payloads
    // take the per-row byte-stub fallback, and MultimodalSpec proves
    // the ImageIO path on generated PNGs (exact dims + pixel stats).
    // rows-only: byte-level features aren't SQL-expressible in the
    // oracle (ascii() is codepoints, not bytes).
    "d21_media_features"  -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, element_at}
      val m = graft.multimodal.Multimodal
      import s.implicits._
      m.decodeAuto(m.asMediaTable(s, d).as[m.MediaRow]).toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          col("width"), col("height"), col("decoder"),
          element_at(col("histogram"), 1).as("hist0"), col("checksum"))
        .orderBy("doc_id")
    }),
    // corpus curation (post-dedup hygiene, all oracle-exact):
    // benchmark decontamination via broadcast 8-gram semi-join
    "d24_decontaminate"   -> (Curation.decontaminate _),
    // Gopher-style duplicate-3-gram fraction, one narrow map pass
    "d25_repetition_score" -> (Curation.repetitionScore _),
    // deterministic (md5-hash) domain-mixture downsample — replayable
    "d26_domain_mix"      -> (Curation.domainMixSample _),
    // PII redaction over deterministically-dirtied text (corpus has no
    // natural PII) — count + mask, one narrow map pass
    "d27_pii_redact"      -> (Curation.redactPii _),
    // replayable hash-cut train/val/test assignment
    "d28_stratified_split" -> (Curation.stratifiedSplit _),
    // corpus-wide top-k 3-grams: partial-agg + TakeOrdered
    "d29_ngram_topk"      -> (CorpusStats.ngramTopK _),
    // Zipf audit: top words + cumulative token coverage
    "d30_vocab_coverage"  -> (CorpusStats.vocabCoverage _),
    // exact-greedy token-budget mixing (sized prefix sum)
    "d31_token_budget_mix" -> (Curation.tokenBudgetMix _),
    // product-quantization ANN: M-byte codes + ADC + exact re-rank
    "d32_pq_ann"          -> (Similarity.pqTopK _),
    // unigram-NLL quality score (perplexity proxy, top-V + OOV model)
    "d33_unigram_nll"     -> (CorpusStats.unigramNll _),
    // template/boilerplate mining: multi-doc full-size chunks
    "d34_template_chunks" -> (TextFns.templateChunks _),
    // cross-split near-dup leakage report (d4 pairs × d28 splits)
    "d35_split_leakage"   -> (Curation.splitLeakage _),
    // the FLAGSHIP composed curation pipeline as one driver-visible
    // entry: scrub → gate → exact dedup → blocked near-dup → decon →
    // repetition gate → domain mix → chunks, reported as per-stage
    // retention counts. Oracle-exact since r15: every stage replays in
    // SQL (CorpusPipelineSql) — the LSH stage via the deterministic
    // d19 pair CTE, the decon stage via the general-length xxh64 gram
    // chain
    "d36_corpus_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val docs = Tables.documents(s, d).select("doc_id", "text", "lang", "source")
      val bench = docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text")
      val (_, stats) = CorpusPipeline.buildTrainingCorpus(docs, minWords = 3,
        benchmark = Some(bench), maxRepFrac = 0.9, mixTargetFrac = Some(0.5),
        blockCols = Seq("lang", "source"))
      stats.zipWithIndex.map { case ((st, n), i) => (i.toLong, st, n) }
        .toDF("stage_idx", "stage", "n_rows")
    }),
    // semantic decontamination: embedding-space eval-leakage report —
    // the paraphrase complement of d24's gram decon; one NearestBuckets
    // projection against the broadcast benchmark set (oracle-exact:
    // pivot-exact winner folds since r16; also spec-gated against the
    // brute-force formulation)
    "d38_semantic_decon"  -> (Similarity.semanticDecon _),
    // token-budget chunking: context-length packing in BPE tokens —
    // first-fit word-atomic chunks of ≤64 tokens. Oracle-checked since
    // round 13: the packing walk replays per doc as a recursive CTE of
    // depth = word count on top of the d37 BPE-replay prefix; also
    // spec-gated vs an independent reference packer
    "d39_bpe_chunks"      -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, posexplode}
      val docs = Tables.documents(s, d).select("doc_id", "text")
      // train-once/reuse: the persisted vocab artifact (or the in-JVM
      // memo shared with d37) replaces a per-run wordDict scan + merge
      // loop; identical merges, spec'd round-trip (Round11Spec)
      val vocab = graft.functions.Bpe.corpusVocab(s, d, numMerges = 200)
      docs.select(col("doc_id"),
          posexplode(graft.functions.Bpe.tokenChunks(col("text"), vocab, 64))
            .as(Seq("chunk_idx", "chunk_text")))
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
          graft.functions.Bpe.tokenCount(col("chunk_text"), vocab).as("n_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }),
    // C4-style duplicate-span removal: keep the corpus-wide FIRST
    // occurrence of every span, rebuild docs from their kept spans —
    // the operator that strips boilerplate from otherwise-kept docs
    "d40_span_dedup"      -> (TextFns.spanDedup _),
    // exact substring dedup (Lee et al.): maximal ≥20-token duplicated
    // runs at any offset, via shared-N-gram position islands — the
    // arbitrary-offset complement of d40's fixed spans
    "d41_exact_substr"    -> ((s, d) => Dedup.exactSubstrRuns(s, d)),
    // the removal half: cut every non-first duplicated run occurrence
    // out of the kept docs and splice the remainder (keep-first at
    // gram granularity, token-level anti-join rebuild)
    "d42_substr_clip"     -> ((s, d) => Dedup.exactSubstrClip(s, d)),
    // Gopher char-weighted repetition rules (top-{2,3,4}-gram and
    // duplicated-{5,6,8,10}-gram char fractions + keep flag): seven
    // per-row gram maps in ONE narrow projection — no explode, no
    // shuffle; oracle-exact
    "d43_gopher_repetition" -> (Curation.gopherRepetition _),
    // bigram-LM corpus NLL: CCNet-style conditional-perplexity filter
    // signal (add-one smoothing, corpus-trained counts); oracle-exact
    // under the d33 decimal-sum discipline
    "d44_bigram_lm"       -> (Curation.bigramNll _),
    // SemDeDup: embedding near-dup groups keep ONE least-prototypical
    // member (bucket-blocked pairs + CC + centroid-cosine argmin;
    // oracle-exact since r16: D45Sql closure + keep-rule argmin
    // replay; also spec-gated brute-force parity + keep-rule)
    "d45_semdedup"        -> (Similarity.semDedup _),
    // DSIR importance weights: mean target-vs-raw unigram log-ratio
    // per doc (add-one over the union vocab, benchmark-slice target);
    // oracle-exact under the d33 decimal-sum discipline
    "d46_dsir_weights"    -> (Curation.dsirWeights _),
    // per-(lang, source) corpus health report: volume, size, exact-dup
    // rate, short-doc and duplicate-3-gram fractions; oracle-exact
    "d47_corpus_report"   -> (CorpusStats.corpusReport _),
    // BM25 retrieval: fixed query workload scored against corpus
    // statistics — literal-IN-pruned postings, broadcast scalars,
    // TopKByScore per-query top-k (no rank window); oracle-exact
    "d48_bm25"            -> (Retrieval.bm25Search _),
    // greedy training-sequence packing bounded per (source, shard):
    // one shuffle + a tight loop per <=512-doc group; oracle-exact vs
    // a DuckDB recursive-CTE twin
    "d49_sequence_pack"   -> (Curation.sequencePack _),
    // per-source unigram KL drift vs the corpus distribution (add-one
    // over the full vocab grid); oracle-exact under the d33 decimal-
    // sum discipline
    "d50_unigram_drift"   -> (CorpusStats.unigramDrift _),
    // corpus snapshot diff: per-source added/removed/changed/unchanged
    // between two snapshots (one full-outer PK join + source hash agg);
    // oracle-exact
    "d51_snapshot_diff"   -> (CorpusStats.snapshotDiff _),
    // CCNet perplexity buckets: head/middle/tail rank-thirds over the
    // d44 NLL + deterministic 10% tail sample (surrogate-id rank, no
    // value-quantile knife edge); oracle-exact
    "d52_ccnet_buckets"   -> (Curation.ccnetBuckets _),
    // score docs against a FROZEN reference bigram LM (trained on the
    // benchmark slice): the real CCNet filter shape — unseen grams
    // carry the smoothing floor via left joins; persistable artifact
    // (saveBigramLm/loadBigramLm); oracle-exact
    "d53_lm_score"        -> (Curation.lmScore _),
    // frequency-threshold boilerplate removal (RefinedWeb line-dedup
    // shape): drop EVERY occurrence of any 3-word block appearing in
    // >=5 distinct docs (d40 keeps first occurrences; d34 only
    // reports), rebuild docs from kept blocks; oracle-exact
    "d54_boilerplate"     -> (Curation.boilerplateScrub _),
    // URL/domain curation (C4/RefinedWeb stage 1): normalize planted
    // provenance URLs (case/www/default-port/utm/trailing-slash),
    // extract domain, blocklist filter, keep-min URL dedup;
    // oracle-exact
    "d55_url_filter"      -> (Curation.urlFilter _),
    // deterministic weighted sampling without replacement per source
    // (Efraimidis–Spirakis keys over the replayable md5 uniform,
    // weight = n_chars, k smallest per source via TopKByScore — no
    // per-source window); oracle-exact
    "d57_weighted_sample" -> (Curation.weightedSample _),
    // cross-source set-overlap estimates via theta/KMV sketches (the
    // set-operation sketch HLL can't do): per-source 3-gram sketches
    // in one aggregate + driver-side pairwise union/intersect/jaccard.
    // oracle-exact since r17 (KMV retention = a rank filter over the
    // hash CTE, raw estimator doubles replayed op-for-op); spec-gated
    // error bounds + order-free merge exactness on top
    "d58_set_sketch"      -> ((s, d) => operators.CorpusStats.setOverlap(s, d)),
    // feature-hashing doc embeddings DERIVED in-engine (Weinberger et
    // al. 2009 / HashingVectorizer shape): signed md5 buckets,
    // all-integer accumulation, L2-normalized, LONG format — the
    // posting layout cosine joins want; oracle-exact
    "d59_doc_embed"       -> (Retrieval.hashedEmbed _),
    // hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009)
    // of the d48 BM25 ranking and a cosine ranking over the d59
    // hashed embeddings — the hard-negative-mining / RAG shape;
    // oracle-exact (full CTE twin of both rankers + the fusion)
    "d60_hybrid_rrf"      -> (Retrieval.hybridRrf _),
    // retrieval-quality metrics: nDCG@10 + MRR@10 for the d48 and d60
    // rankings against deterministic term-coverage qrels (distinct
    // query terms per doc) — the evaluation family (d74/d75) applied
    // to the retrievers end-to-end; oracle-exact (runs + qrels + both
    // metrics replay as one CTE over the d48/d60 fragments)
    "d76_retrieval_metrics" -> (Retrieval.retrievalMetrics _),
    // k-means topic clustering over the SELF-DERIVED d59 embeddings:
    // cluster sizes + nearest-to-centroid exemplars (the mixture-
    // balancing / SemDeDup-prep view). Oracle-exact since r16: the
    // k-means fixpoint replays as kmeansReplayCtes (WITH RECURSIVE);
    // spec-gated assignment optimality + size conservation
    // + exemplar minimality + determinism on top
    "d61_topic_clusters"  -> (Similarity.topicClusters _),
    // asymmetric word-set containment |A∩B|/|A| ≥ 0.9 (Broder's second
    // measure — catches quotes/subsets jaccard dilutes away): exact
    // prefix-filter candidates (rarest-global-df tokens, SSJoin shape)
    // + exact integer verify; oracle-exact, directed pairs
    "d62_containment"     -> (Dedup.containment _),
    // subset pruning: drop docs ≥0.9-contained in a larger keeper
    // ((size, doc_id) total order ⇒ one anti-join, no iteration);
    // the quote/excerpt curation pass; oracle-exact
    "d63_subset_prune"    -> (Dedup.subsetPrune _),
    // trained quality classifier (the CCNet/fastText filter family):
    // hashed-unigram logistic regression trained IN-ENGINE against the
    // d33 perplexity teacher, deterministic via decimal-sum gradients.
    // Oracle-exact since r16: the gradient loop replays as the D56Sql
    // recursive CTE; spec-gated on planted separable classes +
    // bit-reproducible retrain + teacher agreement on top
    "d56_quality_classifier" -> (operators.Classifier.qualityClassifier _),
    // BPE token accounting (graft.functions.Bpe): merges trained on the
    // corpus's own word dictionary (one distributed pass + driver merge
    // loop), encode as a codegen'd expression with the merge table as a
    // plan constant. Oracle-checked: BOTH the training loop (merge
    // rank table) and the greedy encode replay as recursive CTEs —
    // training depth = numMerges (≤200), encode depth = word length —
    // with the left-to-right non-overlapping merge pass expressed as
    // odd/even selection within consecutive-candidate islands.
    // Also gated by a property spec against an independent encoder.
    "d37_bpe_token_count" -> ((s, d) => {
      import org.apache.spark.sql.functions.{ceil, col, length, lit}
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val vocab = graft.functions.Bpe.corpusVocab(s, d, numMerges = 200)
      docs.select(col("doc_id"),
        graft.functions.Bpe.tokenCount(col("text"), vocab).as("n_tokens_bpe"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("n_tokens_est"))
        .orderBy("doc_id")
    }),
    // temperature-scaled source mixing (the multilingual α-sampling
    // shape): q_s ∝ (n_s/N)^0.3 shares, replayable md5-uniform cut;
    // oracle-exact under the d33/d57 9dp-round + decimal-sum discipline
    "d64_temperature_mix" -> (Curation.temperatureMix _),
    // PageRank centrality over the exact d4 near-dup pair graph —
    // link-analysis keep-policy signal. EXACT integer 1e-9-unit
    // arithmetic end to end (zero floats), 8 fixed barrier-free
    // rounds; oracle = recursive-CTE power iteration (d37/d56 shape)
    "d65_graph_pagerank"  -> (Dedup.pageRank _),
    // MMR diversity selection over embeddings: top-128 relevance pool
    // (cosine to the exact unit-sum corpus mean) + 24 greedy
    // λ=0.5 rounds; oracle = pivot-exact rel/sims + a depth-24
    // recursive selection replay
    "d66_mmr_diversity"   -> (Similarity.mmrSelect _),
    // winnowing fingerprint overlap (MOSS): window-min k-gram hash
    // selection (tight-loop expression, ~2/(w+1) density, shared-run
    // guarantee) + blocked overlap join; oracle replays the xxh64
    // gram chain + per-window MIN(STRUCT) argmin
    "d67_winnowing"       -> (Dedup.winnowOverlap _),
    // Bloom-filter benchmark decon: 512 KB plan-constant filter, one
    // narrow probe pass (the constant-memory d24); oracle replays the
    // position arithmetic exactly, false positives included
    "d68_bloom_decon"     -> (Curation.bloomDecon _),
    // WEIGHTED PageRank (d65 with jaccard-weighted contributions in
    // exact integer 1e-6 units) + per-node convergence delta of the
    // final round; same barrier-free integer-unit loop, oracle =
    // recursive-CTE replay carrying r_prev
    "d69_weighted_pagerank" -> (Dedup.pageRankWeighted _),
    // contrastive triplet mining (SimCSE/DPR training-set shape):
    // near-dup pairs as (anchor, positive) both ways + deterministic
    // hash-indexed negatives (3 salted md5 candidates, first valid
    // wins, validity = not anchor/pos/direct near-dup); oracle =
    // pair CTE + ROW_NUMBER index + md5 replay + MIN(STRUCT) argmin
    "d70_contrastive_triplets" -> (Curation.contrastiveTriplets _),
    // HARD-negative triplets (DPR shape): per anchor the strongest
    // positive AND the hardest sub-threshold negative from ONE d11
    // bucket-blocked candidate join; pivot-exact oracle with
    // conditional MIN(STRUCT) folds
    "d71_hard_negatives" -> (Similarity.hardTriplets _),
    // k-NN graph over the self-derived d59 embeddings (RETRO-style
    // neighbor table): IVF-blocked anchors multi-probe, bounded
    // TopKByScore per anchor; oracle = d61 preamble + pivot-exact
    // cosines + (cos DESC, id ASC) ROW_NUMBER
    "d72_knn_graph" -> (Similarity.knnGraph _),
    // mutual-kNN graph + component labels (clustering/curriculum
    // hand-off): keep (a,b) iff each is in the other's top-k and
    // cos >= 0.3, label with connectedComponents; oracle = the
    // d72 knn CTE self-joined on the swapped key + reach-closure
    "d73_mutual_knn" -> (Similarity.mutualKnn _),
    // ANN recall gauge: exact brute-force top-5 for a 100-query panel
    // vs the d72 blocked table — in-engine quality measurement of the
    // recall/probe-cost trade; exact tier is panel×n broadcast+TopK
    "d74_ann_recall" -> ((s, d) => Similarity.annRecall(s, d)),
    // LSH recall gauge: the d19 banding's capture rate against the
    // exact d4 pair set per fine jaccard band — both sides DirMemo
    // shared cuts, the gauge is one join + a ≤5-group aggregate
    "d75_lsh_recall" -> (Dedup.lshRecall _),
  )

  // Shared SQL fragments for the DuckDB oracle.
  private val DEC = "DECIMAL(18,4)"

  /** Shared DuckDB mod-2^64 helpers for the integer-replay oracles
    * (d2_sigs / d2 / d3): (a·b) mod 2^64 splits a into 32-bit halves
    * (a full 64×64 product overflows int128); rotl adds the two
    * disjoint bit ranges; le/leAt assemble little-endian lanes from
    * word bytes. */
  private object U64Sql {
    val M64 = "18446744073709551616::HUGEINT"
    private val u32 = BigInt(1) << 32
    def u(l: Long): BigInt = BigInt(java.lang.Long.toUnsignedString(l))
    def mm(a: String, b: BigInt): String =
      s"((($a) % 4294967296) * $b + (((($a) // 4294967296) * ${b % u32}) % 4294967296) * 4294967296) % $M64"
    def rl(x: String, r: Int): String =
      s"((($x) * ${BigInt(1) << r}) % $M64 + (($x) >> ${64 - r}))"
    def le(start: Int, count: Int): String = (0 until count).map { i =>
      s"COALESCE(ord(substr(w,${start + i},1)),0)::HUGEINT * ${BigInt(256).pow(i)}"
    }.mkString(" + ")
    def leAt(startExpr: String, count: Int): String = (0 until count).map { i =>
      s"ord(substr(w, ($startExpr) + $i, 1))::HUGEINT * ${BigInt(256).pow(i)}"
    }.mkString(" + ")
  }

  /** xxhash64(word, seed 42) replayed in HUGEINT SQL: a CTE FRAGMENT
    * that expects a preceding `vocab(w)` CTE and ends in `wh(w, wh)`
    * (unsigned 64-bit word hashes) — shared by the d2-family signature
    * oracle and the d3 SimHash oracle. Lanes per the xxHash64 short
    * path (two optional 8-byte LE lanes, computed-offset 4-byte lane,
    * ≤ 3 tail bytes, avalanche); words past 16 bytes fail loudly. */
  private val Xxh64WordChain: String = {
    import U64Sql._
    val P1 = u(0x9E3779B185EBCA87L); val P2 = u(0xC2B2AE3D27D4EB4FL)
    val P3 = u(0x165667B19E3779F9L); val P4 = u(0x85EBCA77C2B2AE63L)
    val P5 = u(0x27D4EB2F165667C5L)
    s"""h0 AS (
       |  SELECT w, octet_length(encode(w)) AS n,
       |    (42 + $P5 + octet_length(encode(w)))::HUGEINT AS a,
       |    CASE WHEN octet_length(encode(w)) > 16 THEN CAST(error('xxh64 oracle: word over 16 bytes - extend the lanes') AS HUGEINT)
       |         WHEN octet_length(encode(w)) >= 8 THEN ${le(1, 8)}
       |    END AS k8a,
       |    CASE WHEN octet_length(encode(w)) >= 16 THEN ${le(9, 8)} END AS k8b
       |  FROM vocab
       |), h1 AS (
       |  SELECT w, n, a, k8a, k8b,
       |    CASE WHEN n % 8 >= 4 THEN ${leAt("(n // 8) * 8 + 1", 4)} END AS k4,
       |    CASE WHEN n % 4 >= 1 THEN ord(substr(w, n - (n % 4) + 1, 1))::HUGEINT END AS t1,
       |    CASE WHEN n % 4 >= 2 THEN ord(substr(w, n - (n % 4) + 2, 1))::HUGEINT END AS t2,
       |    CASE WHEN n % 4 >= 3 THEN ord(substr(w, n - (n % 4) + 3, 1))::HUGEINT END AS t3
       |  FROM h0
       |), s8a AS (
       |  SELECT w, k8b, k4, t1, t2, t3,
       |    CASE WHEN k8a IS NOT NULL
       |      THEN (${mm(rl(s"xor(a, ${mm(rl(mm("k8a", P2), 31), P1)})", 27), P1)} + $P4) % $M64
       |      ELSE a END AS h
       |  FROM h1
       |), s8 AS (
       |  SELECT w, k4, t1, t2, t3,
       |    CASE WHEN k8b IS NOT NULL
       |      THEN (${mm(rl(s"xor(h, ${mm(rl(mm("k8b", P2), 31), P1)})", 27), P1)} + $P4) % $M64
       |      ELSE h END AS h
       |  FROM s8a
       |), s4 AS (
       |  SELECT w, t1, t2, t3,
       |    CASE WHEN k4 IS NOT NULL
       |      THEN (${mm(rl(s"xor(h, ${mm("k4", P1)})", 23), P2)} + $P3) % $M64
       |      ELSE h END AS h
       |  FROM s8
       |), sb1 AS (
       |  SELECT w, t2, t3,
       |    CASE WHEN t1 IS NOT NULL
       |      THEN ${mm(rl(s"xor(h, (t1 * $P5) % $M64)", 11), P1)}
       |      ELSE h END AS h
       |  FROM s4
       |), sb2 AS (
       |  SELECT w, t3,
       |    CASE WHEN t2 IS NOT NULL
       |      THEN ${mm(rl(s"xor(h, (t2 * $P5) % $M64)", 11), P1)}
       |      ELSE h END AS h
       |  FROM sb1
       |), sb3 AS (
       |  SELECT w,
       |    CASE WHEN t3 IS NOT NULL
       |      THEN ${mm(rl(s"xor(h, (t3 * $P5) % $M64)", 11), P1)}
       |      ELSE h END AS h
       |  FROM sb2
       |), fm1 AS ( SELECT w, ${mm("xor(h, h >> 33)", P2)} AS h FROM sb3
       |), fm2 AS ( SELECT w, ${mm("xor(h, h >> 29)", P3)} AS h FROM fm1
       |), wh AS ( SELECT w, xor(h, h >> 32) AS wh FROM fm2 )""".stripMargin
  }

  /** The d2_sigs oracle: the engine's MinHash signature pipeline
    * (Dedup.minhashSigs / functions.MinHashShingleSig) replayed as pure
    * mod-2^64 integer SQL in DuckDB HUGEINT arithmetic — the d37
    * precedent applied to the LSH family. Stages, each hash-exact:
    *
    *  1. word hashes: Spark xxhash64(word, seed 42). The corpus is
    *     ASCII with words ≤ 8 bytes (≤ 12 on the Amplify dirs' tagged
    *     vocab; fails loudly via the n ≤ 16 guard if the generator ever
    *     widens further), so the xxHash64 short path suffices: two
    *     optional 8-byte LE lanes, one optional 4-byte lane at the
    *     computed offset, ≤ 3 tail bytes, then the xxh64 avalanche.
    *  2. k=3 shingles: FNV-style fold h·0x100000001B3 + next, mod 2^64
    *     (lead() window over word positions).
    *  3. per-permutation v = fmix64(mul_p·h + add_p) (murmur3
    *     finalizer), constants interpolated from
    *     MinHashShingleSig.muls/adds — one derivation, two dialects.
    *  4. signature: SIGNED min per (doc, perm) — the engine's running
    *     min compares Scala longs, so the unsigned value converts to
    *     two's-complement BEFORE the MIN.
    *
    * The CTE ends in `sigs(doc_id, p, v)` so the d2 full-pipeline
    * oracle can extend it with the murmur3 band hashes. */
  private val MinHashSigCte: String = {
    import U64Sql.{M64, u, mm}
    // FNV / murmur3-fmix64 constants (public algorithms)
    val FNV = u(0x100000001B3L)
    val C1 = u(0xFF51AFD7ED558CCDL); val C2 = u(0xC4CEB9FE1A85EC53L)
    val permRows = (0 until 16).map { p =>
      s"(${p}, ${u(graft.functions.MinHashShingleSig.muls(16)(p))}::HUGEINT, " +
        s"${u(graft.functions.MinHashShingleSig.adds(16)(p))}::HUGEINT)"
    }.mkString(",\n    ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents
       |), docs3 AS (
       |  SELECT doc_id, ws FROM toks WHERE len(ws) >= 3
       |), words AS (
       |  SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, unnest(ws) AS w FROM docs3
       |), vocab AS (
       |  SELECT DISTINCT w FROM words
       |), $Xxh64WordChain, seq AS (
       |  SELECT doc_id, wh.wh AS h1,
       |    lead(wh.wh) OVER win AS h2, lead(wh.wh, 2) OVER win AS h3
       |  FROM words JOIN wh USING (w)
       |  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
       |), sh0 AS (
       |  SELECT doc_id, (${mm("h1", FNV)} + h2) % $M64 AS h12, h3
       |  FROM seq WHERE h3 IS NOT NULL
       |), sh AS (
       |  SELECT doc_id, (${mm("h12", FNV)} + h3) % $M64 AS sh
       |  FROM sh0
       |), perms(p, mul, addc) AS ( VALUES
       |    $permRows
       |), pv0 AS (
       |  SELECT doc_id, p,
       |    ((sh % 4294967296) * mul + (((sh // 4294967296) * (mul % 4294967296)) % 4294967296) * 4294967296
       |      + addc) % $M64 AS v
       |  FROM sh, perms
       |), pv1 AS ( SELECT doc_id, p, ${mm("xor(v, v >> 33)", C1)} AS v FROM pv0
       |), pv2 AS ( SELECT doc_id, p, ${mm("xor(v, v >> 33)", C2)} AS v FROM pv1
       |), pv3 AS ( SELECT doc_id, p,
       |    CASE WHEN xor(v, v >> 33) >= 9223372036854775808
       |         THEN xor(v, v >> 33) - $M64
       |         ELSE xor(v, v >> 33) END::BIGINT AS v
       |  FROM pv2
       |), sigs AS (
       |  SELECT doc_id, p, min(v) AS v FROM pv3 GROUP BY doc_id, p
       |)""".stripMargin
  }

  /** Spark's murmur3 `hash()` over each 4-long band slice of the
    * signatures, replayed mod-2^32: a CTE FRAGMENT expecting a
    * preceding `sigs(doc_id, p, v)` (signed BIGINT) and ending in
    * `mb3(doc_id, band, h)` — shared by the d2 and d19 oracles.
    * Murmur3_x86_32.hashLong per element (two k1-mixes over the
    * low/high 32-bit halves, `h ^= 8`, 32-bit avalanche), seed 42,
    * value-validated against Spark; the banded value is the signed
    * long's BIT PATTERN. */
  /** Spark murmur3 `hash()` over LONGs replayed mod-2^32
    * (Murmur3_x86_32.hashLong: two k1-mixes over the low/high halves,
    * `h ^= 8`, 32-bit avalanche; chaining seeds the next element with
    * the previous hash). Shared by [[MurmurBandCte]] (band hashes) and
    * the d6 oracle's k-means seed order. */
  private object M32Sql {
    val M32 = "4294967296::HUGEINT"
    def r32(x: String, r: Int): String =
      s"((($x) * ${1L << r}) % $M32 + (($x) >> ${32 - r}))"
    def mix(h: String, k: String): String = {
      val k3 = s"((${r32(s"(($k) * 3432918353::HUGEINT) % $M32", 15)}) * 461845907) % $M32"
      s"((${r32(s"xor($h, $k3)", 13)}) * 5 + 3864292196) % $M32"
    }
    def fmix32(h: String): String = {
      val a = s"(xor($h, ($h) >> 16) * 2246822507) % $M32"
      val b = s"(xor($a, ($a) >> 13) * 3266489909) % $M32"
      s"xor($b, ($b) >> 16)"
    }
    def hashLong(h: String, u: String): String =
      fmix32(s"xor(${mix(mix(h, s"($u) % $M32"), s"($u) // $M32")}, 8)")
  }

  private val MurmurBandCte: String = {
    import M32Sql.hashLong
    s"""su AS (
       |  SELECT doc_id, p,
       |    CASE WHEN v < 0 THEN v + 18446744073709551616::HUGEINT
       |         ELSE v::HUGEINT END AS u
       |  FROM sigs
       |), bp AS (
       |  SELECT doc_id, p // 4 AS band,
       |    MAX(CASE WHEN p % 4 = 0 THEN u END) AS u0,
       |    MAX(CASE WHEN p % 4 = 1 THEN u END) AS u1,
       |    MAX(CASE WHEN p % 4 = 2 THEN u END) AS u2,
       |    MAX(CASE WHEN p % 4 = 3 THEN u END) AS u3
       |  FROM su GROUP BY doc_id, p // 4
       |), mb0 AS ( SELECT doc_id, band, u1, u2, u3, ${hashLong("42::HUGEINT", "u0")} AS h FROM bp
       |), mb1 AS ( SELECT doc_id, band, u2, u3, ${hashLong("h", "u1")} AS h FROM mb0
       |), mb2 AS ( SELECT doc_id, band, u3, ${hashLong("h", "u2")} AS h FROM mb1
       |), mb3 AS MATERIALIZED ( SELECT doc_id, band, ${hashLong("h", "u3")} AS h FROM mb2
       |)""".stripMargin
  }

  /** The d2 FULL-pipeline oracle: [[MinHashSigCte]]'s signatures plus
    * [[MurmurBandCte]]'s band hashes. Candidates come from BAND HASH
    * equality exactly like the engine (a 2^-32 hash collision would
    * pair docs in both dialects identically), then the positional
    * agreement count, the /16 estimate and the 0.5 floor replay
    * Dedup.minhashLshPairs verbatim. */
  private val MinHashLshSql: String = {
    s"""$MinHashSigCte, $MurmurBandCte, cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM mb3 a JOIN mb3 b
       |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
       |), agree AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS INT) AS n_agree
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.id_a
       |  JOIN sigs sb ON sb.doc_id = c.id_b AND sb.p = sa.p
       |  GROUP BY c.id_a, c.id_b
       |)
       |SELECT id_a, id_b, n_agree,
       |  CAST(n_agree AS DOUBLE) / CAST(16.0 AS DOUBLE) AS est_jaccard
       |FROM agree WHERE n_agree >= 8
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The d19 blocked-LSH oracle: Dedup.ngramJaccardViaLsh replayed end
    * to end — k=1 MinHash signatures over each doc's DISTINCT word set
    * (no shingle fold: the signature minhashes fmix64(mul·wh + add)
    * directly, matching lshBands' shingleK = 1), [[MurmurBandCte]] band
    * hashes, the (band, hash, lang, source)-blocked candidate join, and
    * d4's exact word-set-jaccard ≥ 0.8 verify. Banding is the recall
    * gate and the verify is the precision gate in BOTH dialects, so the
    * emitted pair set is deterministic and hash-exact. Tokenization
    * matches lshTokens: split(lower(text), ' '), empties removed,
    * distinct — NOT the d2 whitespace-collapse flavor. */
  private def jaccardLshPairsCte(docsRel: String): String = {
    import U64Sql.{M64, u}
    val C1 = u(0xFF51AFD7ED558CCDL); val C2 = u(0xC4CEB9FE1A85EC53L)
    import U64Sql.mm
    val permRows = (0 until 16).map { p =>
      s"(${p}, ${u(graft.functions.MinHashShingleSig.muls(16)(p))}::HUGEINT, " +
        s"${u(graft.functions.MinHashShingleSig.adds(16)(p))}::HUGEINT)"
    }.mkString(",\n    ")
    s"""toks AS (
       |  SELECT doc_id, lang, source, string_split(lower(text), ' ') AS ws FROM $docsRel
       |), dw0 AS (
       |  SELECT doc_id, lang, source, unnest(ws) AS w FROM toks
       |), dw AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, lang, source, w FROM dw0 WHERE w <> ''
       |), sizes AS MATERIALIZED ( SELECT doc_id, COUNT(*) AS sz FROM dw GROUP BY doc_id
       |), blocks AS ( SELECT DISTINCT doc_id, lang, source FROM dw
       |), vocab AS ( SELECT DISTINCT w FROM dw
       |), $Xxh64WordChain, perms(p, mul, addc) AS ( VALUES
       |    $permRows
       |), pv0 AS (
       |  SELECT dw.doc_id, p,
       |    ((wh.wh % 4294967296) * mul + (((wh.wh // 4294967296) * (mul % 4294967296)) % 4294967296) * 4294967296
       |      + addc) % $M64 AS v
       |  FROM dw JOIN wh USING (w), perms
       |), pv1 AS ( SELECT doc_id, p, ${mm("xor(v, v >> 33)", C1)} AS v FROM pv0
       |), pv2 AS ( SELECT doc_id, p, ${mm("xor(v, v >> 33)", C2)} AS v FROM pv1
       |), pv3 AS ( SELECT doc_id, p,
       |    CASE WHEN xor(v, v >> 33) >= 9223372036854775808
       |         THEN xor(v, v >> 33) - $M64
       |         ELSE xor(v, v >> 33) END::BIGINT AS v
       |  FROM pv2
       |), sigs AS (
       |  SELECT doc_id, p, min(v) AS v FROM pv3 GROUP BY doc_id, p
       |), $MurmurBandCte, bb AS MATERIALIZED (
       |  SELECT mb3.doc_id, mb3.band, mb3.h, b.lang, b.source
       |  FROM mb3 JOIN blocks b USING (doc_id)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bb a JOIN bb b ON a.band = b.band AND a.h = b.h
       |    AND a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
       |), inter AS (
       |  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN dw a ON a.doc_id = c.id_a
       |  JOIN dw b ON b.doc_id = c.id_b AND b.w = a.w
       |  GROUP BY c.id_a, c.id_b
       |), lshpairs AS MATERIALIZED (
       |  SELECT id_a, id_b, n_inter,
       |    CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
       |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.8
       |)""".stripMargin
  }

  /** General-length xxhash64(s, seed 42) replay for GRAM STRINGS (the
    * d36 decon stage hashes space-joined 8-grams, up to ~103 bytes on
    * the amplified vocab): the full xxHash64 algorithm with the 4-lane
    * stripe path unrolled for inputs < 128 bytes (3 stripe blocks + 3
    * remaining 8-byte lanes + 4-byte lane + 3 tail bytes + avalanche),
    * loud error() beyond. A CTE FRAGMENT expecting `gvocab(w)` and
    * ending in `gwh(w, wh)` — distinct gx_-prefixed CTE names so it
    * composes with [[Xxh64WordChain]] in one statement. Value-validated
    * against Spark xxhash64 across every length class 0..127. */
  private val GramXxh64Chain: String = {
    import U64Sql.{M64, u, mm, rl, leAt}
    val P1 = u(0x9E3779B185EBCA87L); val P2 = u(0xC2B2AE3D27D4EB4FL)
    val P3 = u(0x165667B19E3779F9L); val P4 = u(0x85EBCA77C2B2AE63L)
    val P5 = u(0x27D4EB2F165667C5L)
    def rnd(acc: String, k: String) = mm(rl(s"(($acc) + ${mm(k, P2)}) % $M64", 31), P1)
    def merge1(h: String, v: String) =
      s"(${mm(s"xor($h, ${mm(rl(mm(v, P2), 31), P1)})", P1)} + $P4) % $M64"
    def lane8(h: String, k: String) =
      s"(${mm(rl(s"xor($h, ${mm(rl(mm(k, P2), 31), P1)})", 27), P1)} + $P4) % $M64"
    def lane4(h: String, k: String) =
      s"(${mm(rl(s"xor($h, ${mm(k, P1)})", 23), P2)} + $P3) % $M64"
    def laneB(h: String, b: String) =
      mm(rl(s"xor($h, (($b) * $P5) % $M64)", 11), P1)
    val stripes = (0 until 3).map { i =>
      val cond = s"n >= ${32 * (i + 1)}"
      val upd = (0 until 4).map { j =>
        s"CASE WHEN $cond THEN ${rnd(s"v${j + 1}", leAt(s"${32 * i + 8 * j} + 1", 8))} ELSE v${j + 1} END AS v${j + 1}"
      }.mkString(",\n    ")
      s"""gx_st$i AS (
  SELECT w, n, $upd
  FROM gx_st${if (i == 0) "_init" else (i - 1).toString}
)"""
    }.mkString(", ")
    val lanes = (0 until 3).map { j =>
      val cond = s"(n - (n // 32) * 32) >= ${8 * (j + 1)}"
      s"""gx_l$j AS (
  SELECT w, n,
    CASE WHEN $cond THEN ${lane8("h", leAt(s"(n // 32) * 32 + ${8 * j} + 1", 8))} ELSE h END AS h
  FROM ${if (j == 0) "gx_h0" else s"gx_l${j - 1}"}
)"""
    }.mkString(", ")
    val tails = (0 until 3).map { j =>
      s"""gx_t$j AS (
  SELECT w, n,
    CASE WHEN n % 4 >= ${j + 1} THEN ${laneB("h", s"ord(substr(w, n - (n % 4) + ${j + 1}, 1))::HUGEINT")} ELSE h END AS h
  FROM ${if (j == 0) "gx_k4" else s"gx_t${j - 1}"}
)"""
    }.mkString(", ")
    val mergeAll = merge1(merge1(merge1(merge1(
      s"(${rl("v1", 1)} + ${rl("v2", 7)} + ${rl("v3", 12)} + ${rl("v4", 18)}) % $M64",
      "v1"), "v2"), "v3"), "v4")
    s"""gx_st_init AS (
  SELECT w, octet_length(encode(w)) AS n,
    CASE WHEN octet_length(encode(w)) > 127
         THEN CAST(error('xxh64 gram oracle: input over 127 bytes - extend the stripe unroll') AS HUGEINT)
         ELSE (42 + $P1 + $P2) % $M64 END::HUGEINT AS v1,
    (42 + $P2)::HUGEINT AS v2, 42::HUGEINT AS v3,
    ((42::HUGEINT - $P1) + 18446744073709551616::HUGEINT) % $M64 AS v4
  FROM gvocab
), $stripes, gx_h0 AS (
  SELECT w, n,
    CASE WHEN n < 32 THEN (42 + $P5 + n)::HUGEINT
         ELSE ($mergeAll + n) % $M64
    END AS h
  FROM gx_st2
), $lanes, gx_k4 AS (
  SELECT w, n,
    CASE WHEN n % 8 >= 4 THEN ${lane4("h", leAt("(n // 8) * 8 + 1", 4))} ELSE h END AS h
  FROM gx_l2
), $tails, gx_f1 AS ( SELECT w, ${mm("xor(h, h >> 33)", P2)} AS h FROM gx_t2
), gx_f2 AS ( SELECT w, ${mm("xor(h, h >> 29)", P3)} AS h FROM gx_f1
), gwh AS ( SELECT w, xor(h, h >> 32) AS wh FROM gx_f2 )"""
  }

  /** The d58 KMV/theta-sketch oracle: sketch RETENTION is integer
    * arithmetic (k smallest distinct unsigned xxhash64 values per
    * source — `ROW_NUMBER() OVER (ORDER BY wh) <= k` over the
    * [[GramXxh64Chain]] gram hashes), and every ESTIMATOR step is
    * reproducible IEEE double arithmetic when the operation order is
    * replayed verbatim: toUnit converts through the SIGNED long
    * (cast-to-double THEN add 2^64 THEN divide — dividing first over
    * the unsigned HUGEINT would double-round near 2^64), theta is the
    * k-th smallest's unit position, estimates are (k-1)/θ in the
    * saturated regime and exact counts below k, intersection counts
    * common hashes under min-θ with the strict `<` boundary rule, and
    * math.round replays as FLOOR(x + 0.5) (exact: x < 2^52). The
    * jaccard column is the RAW estimator double on both sides — no
    * decimal rounding, so the hash compare is bit-exact, not a
    * q40-style interpolation knife edge. */
  private val KmvSketchSql: String = {
    val K = 512
    // ThetaSketch.toUnit replayed from the unsigned HUGEINT hash
    def tou(x: String): String =
      s"""(CASE WHEN $x >= 9223372036854775808::HUGEINT
         |  THEN CAST(CAST($x - 18446744073709551616::HUGEINT AS BIGINT) AS DOUBLE)
         |       + 18446744073709551616.0
         |  ELSE CAST(CAST($x AS BIGINT) AS DOUBLE) END) / 18446744073709551616.0""".stripMargin
    s"""WITH srcs AS MATERIALIZED (
       |  SELECT source FROM (
       |    SELECT DISTINCT source FROM documents
       |    WHERE len(string_split(text, ' ')) >= 3) ORDER BY source LIMIT 6
       |), sgram AS MATERIALIZED (
       |  SELECT DISTINCT source, unnest(list_transform(generate_series(1, len(ws) - 2),
       |    i -> array_to_string(ws[i:i+2], ' '))) AS w
       |  FROM (SELECT d.source, string_split(text, ' ') AS ws
       |        FROM documents d JOIN srcs USING (source))
       |  WHERE len(ws) >= 3
       |), gvocab AS MATERIALIZED ( SELECT DISTINCT w FROM sgram
       |), $GramXxh64Chain, sh AS MATERIALIZED (
       |  SELECT DISTINCT source, wh FROM sgram JOIN gwh USING (w)
       |), rk AS MATERIALIZED (
       |  SELECT source, wh, ROW_NUMBER() OVER (PARTITION BY source ORDER BY wh) AS rn,
       |         COUNT(*) OVER (PARTITION BY source) AS cnt
       |  FROM sh
       |), sk AS MATERIALIZED ( SELECT * FROM rk WHERE rn <= $K
       |), tsrc AS MATERIALIZED (
       |  SELECT source, MAX(cnt) AS cnt,
       |    CASE WHEN MAX(cnt) >= $K
       |      THEN MAX(CASE WHEN rn = $K THEN ${tou("wh")} END)
       |      ELSE CAST(1.0 AS DOUBLE) END AS theta,
       |    CASE WHEN MAX(cnt) >= $K
       |      THEN ${K - 1}.0 / MAX(CASE WHEN rn = $K THEN ${tou("wh")} END)
       |      ELSE CAST(MAX(cnt) AS DOUBLE) END AS est
       |  FROM sk GROUP BY source
       |), pth AS MATERIALIZED (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    LEAST(a.theta, b.theta) AS th, a.est AS est_ad, b.est AS est_bd
       |  FROM tsrc a JOIN tsrc b ON a.source < b.source
       |), cmn AS MATERIALIZED (
       |  SELECT x.source AS src_a, y.source AS src_b, x.wh
       |  FROM sk x JOIN sk y ON x.wh = y.wh AND x.source < y.source
       |), ic AS MATERIALIZED (
       |  SELECT p.src_a, p.src_b,
       |    CAST(COUNT(c.wh) FILTER (WHERE p.th >= 1.0 OR ${tou("c.wh")} < p.th)
       |         AS DOUBLE) / ANY_VALUE(p.th) AS est_id
       |  FROM pth p LEFT JOIN cmn c ON c.src_a = p.src_a AND c.src_b = p.src_b
       |  GROUP BY p.src_a, p.src_b
       |), urk AS MATERIALIZED (
       |  SELECT src_a, src_b, wh,
       |    ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY wh) AS rn,
       |    COUNT(*) OVER (PARTITION BY src_a, src_b) AS ucnt
       |  FROM (
       |    SELECT p.src_a, p.src_b, s.wh
       |    FROM pth p JOIN sk s ON s.source = p.src_a OR s.source = p.src_b
       |    GROUP BY p.src_a, p.src_b, s.wh)
       |), uest AS MATERIALIZED (
       |  SELECT src_a, src_b,
       |    CASE WHEN MAX(ucnt) >= $K
       |      THEN ${K - 1}.0 / MAX(CASE WHEN rn = $K THEN ${tou("wh")} END)
       |      ELSE CAST(LEAST(MAX(ucnt), $K) AS DOUBLE) END AS est_ud
       |  FROM urk WHERE rn <= $K GROUP BY src_a, src_b
       |)
       |SELECT p.src_a AS src_a, p.src_b AS src_b,
       |  CAST(FLOOR(p.est_ad + 0.5) AS BIGINT) AS est_a,
       |  CAST(FLOOR(p.est_bd + 0.5) AS BIGINT) AS est_b,
       |  CAST(FLOOR(ic.est_id + 0.5) AS BIGINT) AS est_inter,
       |  CASE WHEN u.est_ud = 0.0 THEN 0.0 ELSE ic.est_id / u.est_ud END AS est_jaccard
       |FROM pth p
       |JOIN ic ON ic.src_a = p.src_a AND ic.src_b = p.src_b
       |JOIN uest u ON u.src_a = p.src_a AND u.src_b = p.src_b
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** The d56 trained-classifier oracle — the d37 "global-state
    * iteration as a recursive CTE" precedent applied to gradient
    * descent. Replayable because every step is integer or
    * reproducible-IEEE arithmetic once the margin is order-free:
    *
    *  1. teacher: the d33 NLL replay + ROW_NUMBER median cut (the
    *     surrogate-rank labels, integer).
    *  2. buckets: pmod(xxhash64(w), 4096) = unsigned wh % 4096
    *     (4096 divides 2^64) over the [[Xxh64WordChain]] hashes.
    *  3. forward margin: weights quantize to 1e-9 units
    *     (FLOOR(w·1e9+0.5) ↔ Math.round) and the per-doc sum is EXACT
    *     long arithmetic (Σ c·u per bucket ≡ the expression's per-word
    *     walk); (su·1e-9)/n then sigmoid — exp() ulp differences are
    *     absorbed by the 9 dp residual round (the d33 discipline).
    *  4. gradients: SUM(DECIMAL(18,9)) of 9 dp-rounded r·x — exact and
    *     order-free; the decimal → double step goes through the exact
    *     1e-9-unit LONG in BOTH engines (BigDecimal.doubleValue and
    *     DuckDB's DECIMAL→DOUBLE cast can round an ulp apart — that
    *     ulp rode into the bias and flipped 100% of unrounded
    *     margins); weight updates replay Scala's operation order
    *     w − (lr·l2)·w − (lr·g)/n with the lr·l2 product interpolated
    *     as the Scala-computed double literal.
    *  5. state (4096 weights + bias as bucket −1) iterates 8 rounds in
    *     one WITH RECURSIVE; the OUTPUT is the raw decision margin
    *     under the final state (exp-free and bit-exact — emitting the
    *     6 dp sigmoid instead measured 7 of 200k rows flipped across a
    *     round boundary at the 40× probe; pred = margin ≥ 0 ≡
    *     sigmoid ≥ 0.5 exactly).
    *
    * The remaining knife edge (a training residual exactly on a
    * 0.5e-9 round boundary) is the same measure-zero class every
    * d33-family oracle carries. */
  private val D56Sql: String = {
    val lr = 10.0
    val lrl2 = lr * 1e-6 // Scala's (lr * l2) product, interpolated exactly
    val B = graft.operators.Classifier.QcBuckets
    s"""WITH RECURSIVE words AS MATERIALIZED (
       |  SELECT doc_id, w
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> ''
       |), counts AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
       |tot AS (SELECT SUM(c) AS total FROM counts),
       |top AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 1000),
       |nll AS MATERIALIZED (
       |  SELECT doc_id,
       |    ROUND(CAST(SUM(CAST(ROUND(-LN(CASE WHEN c IS NOT NULL
       |             THEN c / total ELSE CAST(0.5 AS DOUBLE) / total END), 9)
       |           AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS nll
       |  FROM words LEFT JOIN top USING (w) CROSS JOIN tot
       |  GROUP BY doc_id
       |), lab AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN 2 * ROW_NUMBER() OVER (ORDER BY nll, doc_id)
       |         <= (SELECT COUNT(*) FROM nll) THEN 1.0 ELSE 0.0 END AS y
       |  FROM nll
       |), vocab AS MATERIALIZED (SELECT DISTINCT w FROM words
       |), $Xxh64WordChain, wb AS MATERIALIZED (
       |  SELECT w, CAST(wh % $B AS BIGINT) AS bucket FROM wh
       |), dl AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS n_words FROM words GROUP BY doc_id
       |), px AS MATERIALIZED (
       |  SELECT doc_id, bucket, c,
       |    ROUND(CAST(c AS DOUBLE) / CAST(n_words AS DOUBLE), 9) AS x
       |  FROM (SELECT doc_id, bucket, COUNT(*) AS c
       |        FROM words JOIN wb USING (w) GROUP BY doc_id, bucket)
       |  JOIN dl USING (doc_id)
       |), nlab AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lab
       |), state AS (
       |  SELECT 0 AS it, CAST(bucket AS BIGINT) AS bucket, CAST(0.0 AS DOUBLE) AS w
       |  FROM (SELECT UNNEST(generate_series(0, ${B - 1})) AS bucket)
       |  UNION ALL SELECT 0, CAST(-1 AS BIGINT), CAST(0.0 AS DOUBLE)
       |  UNION ALL
       |  SELECT * FROM (
       |    WITH prev AS (SELECT * FROM state WHERE it < 8),
       |    u AS (SELECT bucket, CAST(FLOOR(w * 1e9 + 0.5) AS BIGINT) AS uw
       |          FROM prev WHERE bucket >= 0),
       |    m AS (
       |      SELECT d.doc_id,
       |        ROUND(1.0 / (1.0 + EXP(-(
       |            (CAST(mu.su AS DOUBLE) * 1e-9) / CAST(d.n_words AS DOUBLE)
       |            + (SELECT w FROM prev WHERE bucket = -1)))) - l.y, 9) AS r
       |      FROM dl d
       |      JOIN (SELECT p.doc_id, SUM(p.c * u.uw) AS su
       |            FROM px p JOIN u USING (bucket) GROUP BY p.doc_id) mu USING (doc_id)
       |      JOIN lab l USING (doc_id)
       |    ),
       |    g AS (
       |      SELECT p.bucket,
       |        ROUND(SUM(CAST(m.r AS DECIMAL(18,9)) * CAST(p.x AS DECIMAL(18,9))), 9) AS gd
       |      FROM px p JOIN m USING (doc_id) GROUP BY p.bucket
       |    ),
       |    bg AS (SELECT SUM(CAST(ROUND(r, 9) AS DECIMAL(18,9))) AS gd FROM m)
       |    SELECT s.it + 1 AS it, s.bucket,
       |      CASE WHEN s.bucket = -1
       |        THEN s.w - ($lr * (CAST(CAST((SELECT gd FROM bg) * 1000000000
       |                                AS BIGINT) AS DOUBLE) * 1e-9))
       |               / (SELECT n FROM nlab)
       |        ELSE (s.w - $lrl2 * s.w)
       |               - ($lr * (CAST(CAST(COALESCE(g.gd, 0) * 1000000000
       |                                AS BIGINT) AS DOUBLE) * 1e-9))
       |               / (SELECT n FROM nlab)
       |      END AS w
       |    FROM prev s LEFT JOIN g USING (bucket)
       |  )
       |), fin AS MATERIALIZED (SELECT bucket, w FROM state WHERE it = 8
       |), fu AS MATERIALIZED (
       |  SELECT bucket, CAST(FLOOR(w * 1e9 + 0.5) AS BIGINT) AS uw
       |  FROM fin WHERE bucket >= 0
       |)
       |SELECT d.doc_id, CAST(l.y AS INT) AS label,
       |  (CAST(mu.su AS DOUBLE) * 1e-9) / CAST(d.n_words AS DOUBLE)
       |    + (SELECT w FROM fin WHERE bucket = -1) AS margin,
       |  (CAST(mu.su AS DOUBLE) * 1e-9) / CAST(d.n_words AS DOUBLE)
       |    + (SELECT w FROM fin WHERE bucket = -1) >= 0.0 AS pred
       |FROM dl d
       |JOIN (SELECT p.doc_id, SUM(p.c * fu.uw) AS su
       |      FROM px p JOIN fu USING (bucket) GROUP BY p.doc_id) mu USING (doc_id)
       |JOIN lab l USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** The d16 int8-quantization ANN oracle: Quantize8 already computes
    * through exact conversions (float → double is lossless), so every
    * step replays — mx = max |f| as double (floored at Double.MIN_VALUE
    * like the Scala accumulator's seed), q_i = HALF-UP-away-from-zero
    * of f/mx·127 (±FLOOR(±v + 0.5) ↔ the guarded Math.round), the dot
    * product is EXACT integer arithmetic, and the score chain
    * ((dot·scale_c)·scale_q)/16129 replays Spark's operator order
    * (127.0·127.0 = 16129 exactly). Ties break on vec_id over
    * bit-equal doubles; no NaN/−0.0 can arise (scales are positive,
    * a zero dot yields +0.0). */
  private val D16Sql: String =
    """WITH mx AS MATERIALIZED (
      |  SELECT vec_id, GREATEST(MAX(ABS(CAST(f AS DOUBLE))), 4.9e-324) AS mx
      |  FROM (SELECT vec_id, UNNEST(embedding) AS f FROM embeddings)
      |  GROUP BY vec_id
      |), qv AS MATERIALIZED (
      |  SELECT vec_id, i,
      |    CAST(CASE WHEN v < 0 THEN -FLOOR(-v + 0.5) ELSE FLOOR(v + 0.5) END
      |         AS BIGINT) AS qi, mx
      |  FROM (
      |    SELECT e.vec_id, t.i,
      |      CAST(e.embedding[t.i] AS DOUBLE) / m.mx * 127.0 AS v, m.mx
      |    FROM embeddings e
      |    JOIN mx m USING (vec_id),
      |    UNNEST(generate_series(1, len(e.embedding))) AS t(i))
      |), dots AS MATERIALIZED (
      |  SELECT c.vec_id, s.vec_id AS q_id, SUM(c.qi * s.qi) AS dot,
      |    ANY_VALUE(c.mx) AS c_mx, ANY_VALUE(s.mx) AS s_mx
      |  FROM qv c JOIN qv s ON c.i = s.i AND s.vec_id < 10 AND c.vec_id <> s.vec_id
      |  GROUP BY c.vec_id, s.vec_id
      |), ranked AS (
      |  SELECT q_id, vec_id,
      |    CAST(dot AS DOUBLE) * c_mx * s_mx / 16129.0 AS score,
      |    ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY CAST(dot AS DOUBLE) * c_mx * s_mx / 16129.0 DESC,
      |               vec_id ASC) AS rk
      |  FROM dots
      |)
      |SELECT q_id, vec_id AS neighbor_id, score, CAST(rk AS INT) AS rk
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** 64-wide pivot machinery for the float-ANN oracles (the d32
    * pivot-exact technique generalized): every dot / squared-norm /
    * L2 score is ONE expression whose association matches the engine
    * loop (((t1+t2)+t3)+…), evaluated over vectors pivoted to 64
    * columns — so assignments, rankings, thresholds AND emitted
    * doubles are all bit-exact with NO unordered SQL sums anywhere
    * (an approx-rank version measured real flips: Amplify rotation
    * copies have identical embeddings whose unordered sums land ulps
    * apart). Dim is pinned to the corpus's 64 and guarded loudly. */
  private object Vec64Sql {
    val Dim = 64
    def pivotCols(src: String, as: String): String = (1 to Dim)
      .map(j => s"MAX(CASE WHEN i = $j THEN $src END) AS $as$j").mkString(", ")
    def dot(x: Int => String, y: Int => String): String = (1 to Dim)
      .map(j => s"(${x(j)}) * (${y(j)})").reduce((a, b) => s"($a) + ($b)")
    def sq(x: Int => String): String = dot(x, x)
    def col(p: String)(j: Int): String = s"$p$j"
    /** `evp(vec_id, x1..x64)`, `dimn` (with the loud 64-dim guard) and
      * the EXACT `ee(vec_id, ee)` — expects `exi(vec_id, i, x, ux)`. */
    val derived: String =
      s"""dimn AS MATERIALIZED (
         |  SELECT CASE WHEN MAX(i) <> $Dim
         |    THEN CAST(error('vec oracle expects $Dim-dim embeddings') AS BIGINT)
         |    ELSE MAX(i) END AS d FROM exi
         |), evp AS MATERIALIZED (
         |  SELECT vec_id, ${pivotCols("x", "x")}
         |  FROM exi CROSS JOIN dimn GROUP BY vec_id
         |), ee AS MATERIALIZED (
         |  SELECT vec_id, ${sq(col("x"))} AS ee FROM evp)""".stripMargin
    /** The embeddings-table preamble shared by d6/d11/d32/d38/d45. */
    val embPreamble: String =
      s"""ev AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
         |), exi AS MATERIALIZED (
         |  SELECT vec_id, t.i, CAST(embedding[t.i] AS DOUBLE) AS x,
         |    CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS ux
         |  FROM ev, UNNEST(generate_series(1, len(embedding))) AS t(i)
         |), $derived""".stripMargin
    /** adaptiveK(count) as the `kk(k)` CTE. */
    val adaptiveK: String =
      s"""kk AS MATERIALIZED (
         |  SELECT GREATEST(2, LEAST(4096,
         |    CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)) + 0.5) AS BIGINT))) AS k
         |  FROM ev)""".stripMargin
  }

  /** Shared k-means replay fragment: expects `ev(vec_id, …)`,
    * `exi(vec_id, i, x, ux)`, `evp`/`ee` ([[Vec64Sql.derived]]) and a
    * `kk(k)` CTE; emits `seeds` (murmur3-ordered — [[M32Sql.hashLong]]
    * replays Spark's hash(vec_id), signed order), the recursive `cent`
    * state and `fin(c_id, i, c)` + its pivot `fcp(c_id, c1..c64)` —
    * the centroids after `iters` rounds. Assignment scores replay
    * NearestBuckets' (ee − 2ec) + cc with ec/cc as pivot-exact
    * expressions, so ROW_NUMBER's (score, c_id) order equals the
    * strict-better scan INCLUDING exact ties (identical twin vectors);
    * means are exact unit sums / count through the engine's REAL cast.
    * Centroid updates are integer arithmetic (order-free
    * VectorSumAgg), so identical assignments give bit-identical
    * centroids. Splice into a WITH RECURSIVE list. */
  private def kmeansReplayCtes(iters: Int): String = {
    import M32Sql.hashLong
    import Vec64Sql.{dot, sq, col}
    val ec = dot(col("v.x"), col("c.c"))
    s"""hh AS (
       |  SELECT vec_id,
       |    CASE WHEN h >= 2147483648::HUGEINT THEN CAST(h - 4294967296::HUGEINT AS BIGINT)
       |         ELSE CAST(h AS BIGINT) END AS h32
       |  FROM (
       |    SELECT vec_id, ${hashLong("42::HUGEINT", "u")} AS h
       |    FROM (SELECT vec_id,
       |            CASE WHEN vec_id < 0 THEN vec_id + 18446744073709551616::HUGEINT
       |                 ELSE vec_id::HUGEINT END AS u FROM ev))
       |), seeds AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h32, vec_id) - 1 AS BIGINT) AS c_id,
       |         vec_id
       |  FROM hh QUALIFY ROW_NUMBER() OVER (ORDER BY h32, vec_id) <= (SELECT k FROM kk)
       |), cent AS (
       |  SELECT 0 AS it, s.c_id, e.i, e.x AS c
       |  FROM seeds s JOIN exi e USING (vec_id)
       |  UNION ALL
       |  SELECT * FROM (
       |    WITH prev AS (SELECT * FROM cent WHERE it < $iters),
       |    cpx AS (SELECT c_id, ${Vec64Sql.pivotCols("c", "c")} FROM prev GROUP BY c_id),
       |    ccs AS (SELECT c_id, ${sq(col("c"))} AS cc FROM cpx),
       |    asg AS (
       |      SELECT vec_id, c_id FROM (
       |        SELECT v.vec_id, c.c_id,
       |          ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |            ORDER BY (ee.ee - 2.0 * ($ec)) + ccs.cc ASC, c.c_id ASC) AS rn
       |        FROM evp v CROSS JOIN cpx c
       |        JOIN ccs ON ccs.c_id = c.c_id JOIN ee ON ee.vec_id = v.vec_id)
       |      WHERE rn = 1),
       |    mns AS (
       |      SELECT a.c_id, e.i,
       |        CAST(CAST((CAST(SUM(e.ux) AS DOUBLE) * 1e-6)
       |               / CAST(COUNT(*) AS DOUBLE) AS REAL) AS DOUBLE) AS c
       |      FROM asg a JOIN exi e USING (vec_id) GROUP BY a.c_id, e.i)
       |    SELECT it0.it + 1 AS it, mns.c_id, mns.i, mns.c
       |    FROM (SELECT DISTINCT it FROM prev) it0, mns
       |  )
       |), fin AS MATERIALIZED (SELECT c_id, i, c FROM cent WHERE it = $iters
       |), fcp AS MATERIALIZED (
       |  SELECT c_id, ${Vec64Sql.pivotCols("c", "c")} FROM fin GROUP BY c_id
       |), fcc AS MATERIALIZED (SELECT c_id, ${sq(col("c"))} AS cc FROM fcp)""".stripMargin
  }

  /** The d6 IVF-ANN oracle — the full pipeline including distributed
    * k-means ([[kmeansReplayCtes]]): cosine bucket assignment (argmax,
    * p=1 corpus / p=2 queries), candidate join within buckets, exact
    * cosine ranking and output — every score a [[Vec64Sql]]
    * pivot-exact expression. */
  private val D6Sql: String = {
    import Vec64Sql.{dot, col}
    val ec = dot(col("v.x"), col("c.c"))
    val qdot = dot(col("a.x"), col("b.x"))
    s"""WITH RECURSIVE ${Vec64Sql.embPreamble}
       |, ${Vec64Sql.adaptiveK}
       |, ${kmeansReplayCtes(2)}
       |, fsc AS MATERIALIZED (
       |  SELECT v.vec_id, c.c_id,
       |    ($ec) / (SQRT(ee.ee) * SQRT(fcc.cc)) AS s
       |  FROM evp v CROSS JOIN fcp c
       |  JOIN fcc ON fcc.c_id = c.c_id JOIN ee ON ee.vec_id = v.vec_id
       |), cb AS MATERIALIZED (
       |  SELECT vec_id, c_id AS bucket FROM (
       |    SELECT vec_id, c_id,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, c_id ASC) AS rn
       |    FROM fsc) WHERE rn = 1
       |), qb AS MATERIALIZED (
       |  SELECT vec_id AS q_id, c_id AS bucket FROM (
       |    SELECT vec_id, c_id,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, c_id ASC) AS rn
       |    FROM fsc WHERE vec_id < 10) WHERE rn <= 2
       |), cand AS MATERIALIZED (
       |  SELECT q.q_id, c.vec_id
       |  FROM cb c JOIN qb q USING (bucket)
       |  WHERE c.vec_id <> q.q_id
       |), fcos AS (
       |  SELECT cd.q_id, cd.vec_id,
       |    ($qdot) / (SQRT(eb.ee) * SQRT(ea.ee)) AS cos
       |  FROM cand cd
       |  JOIN evp a ON a.vec_id = cd.vec_id JOIN evp b ON b.vec_id = cd.q_id
       |  JOIN ee ea ON ea.vec_id = cd.vec_id JOIN ee eb ON eb.vec_id = cd.q_id
       |)
       |SELECT q_id, vec_id AS neighbor_id, cos, CAST(rk AS INT) AS rk
       |FROM (SELECT q_id, vec_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
       |      FROM fcos)
       |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  /** The d66 MMR oracle: pivot-exact relevance to the exact unit-sum
    * corpus mean (the k-means mns formula — REAL-cast per-dim means),
    * top-128 relevance pool, pairwise pivot-exact pool sims, then a
    * depth-24 recursive greedy replay. Each round carries the full
    * selected set forward (the recursive reference sees only the last
    * iteration — the d37/d56 state-carry shape) and appends the
    * (0.5·rel − 0.5·MAX sim-to-selected) argmax with (score desc,
    * vec_id asc) tie-break — exactly Similarity.mmrSelectOf\'s driver
    * loop, whose float ops are the same left-associated expressions. */
  private val D66Sql: String = {
    import Vec64Sql.{dot, sq, col}
    val relDot = dot(col("v.x"), col("m.m"))
    val simDot = dot(col("va.x"), col("vb.x"))
    s"""WITH RECURSIVE ${Vec64Sql.embPreamble}
       |, mv AS MATERIALIZED (
       |  SELECT i, CAST(CAST((CAST(SUM(ux) AS DOUBLE) * 1e-6)
       |    / CAST(COUNT(*) AS DOUBLE) AS REAL) AS DOUBLE) AS m
       |  FROM exi GROUP BY i
       |), mvp AS MATERIALIZED (SELECT ${Vec64Sql.pivotCols("m", "m")} FROM mv
       |), mm AS MATERIALIZED (SELECT ${sq(col("m"))} AS mm FROM mvp
       |), relv AS MATERIALIZED (
       |  SELECT v.vec_id, ($relDot) / (SQRT(ee.ee) * SQRT(mm.mm)) AS rel
       |  FROM evp v CROSS JOIN mvp m CROSS JOIN mm
       |  JOIN ee ON ee.vec_id = v.vec_id
       |), pool AS MATERIALIZED (
       |  SELECT vec_id, rel FROM relv
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id ASC) <= 128
       |), sims AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    ($simDot) / (SQRT(ea.ee) * SQRT(eb.ee)) AS sim
       |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
       |  JOIN evp va ON va.vec_id = a.vec_id JOIN evp vb ON vb.vec_id = b.vec_id
       |  JOIN ee ea ON ea.vec_id = a.vec_id JOIN ee eb ON eb.vec_id = b.vec_id
       |), sel AS (
       |  SELECT 1 AS it, 1 AS rnd, vec_id
       |  FROM (SELECT vec_id FROM pool ORDER BY rel DESC, vec_id ASC LIMIT 1)
       |  UNION ALL
       |  SELECT * FROM (
       |    -- joins only: DuckDB mis-binds the recursive working table
       |    -- inside correlated scalar subqueries (measured: the
       |    -- subquery saw an EMPTY prev every round → NULL scores →
       |    -- vec_id-ascending picks), so candidate exclusion is a
       |    -- LEFT-JOIN anti filter and max-sim a join + GROUP BY.
       |    -- Empty-prev termination: the sel_b join yields nothing →
       |    -- scored/pick empty → both branches empty → recursion stops.
       |    WITH prev AS (SELECT * FROM sel WHERE it < 24),
       |    mx AS (SELECT MAX(it) AS mit FROM prev),
       |    scored AS (
       |      SELECT p.vec_id, p.rel, MAX(s.sim) AS msim
       |      FROM pool p
       |      JOIN sims s ON s.ia = p.vec_id
       |      JOIN prev sel_b ON sel_b.vec_id = s.ib
       |      LEFT JOIN prev done ON done.vec_id = p.vec_id
       |      WHERE done.vec_id IS NULL
       |      GROUP BY p.vec_id, p.rel),
       |    pick AS (
       |      SELECT vec_id FROM scored
       |      ORDER BY CAST(0.5 AS DOUBLE) * rel - CAST(0.5 AS DOUBLE) * msim DESC,
       |        vec_id ASC LIMIT 1)
       |    SELECT mx.mit + 1 AS it, prev.rnd, prev.vec_id FROM prev, mx, pick
       |    UNION ALL
       |    SELECT mx.mit + 1, mx.mit + 1, pick.vec_id FROM pick, mx))
       |SELECT CAST(s.rnd AS BIGINT) AS rnd, s.vec_id, r.rel
       |FROM sel s JOIN relv r ON r.vec_id = s.vec_id
       |WHERE s.it = (SELECT MAX(it) FROM sel) ORDER BY rnd""".stripMargin
  }

  /** The d67 winnowing oracle: 4-gram strings per position → the
    * general-length xxh64 chain ([[GramXxh64Chain]]) → SIGNED hashes
    * (the MinHash sign lesson: Spark's window min compares signed
    * longs) → per-window-start argmin via MIN(STRUCT(h, pos)) (ties →
    * leftmost, exactly [[graft.functions.WinnowSelect]]'s strict-<
    * scan) → distinct per-doc fingerprints → the d4-shaped blocked
    * overlap join. Short docs (0 < m < 8 grams) winnow one
    * whole-array window, mirrored by wl = LEAST(8, m). */
  private val D67Sql: String =
    s"""WITH pdocs AS MATERIALIZED (
       |  SELECT doc_id, lang, source,
       |    CASE WHEN doc_id % 4 = 0 THEN text || ' ' ||
       |      array_to_string(list_transform(generate_series(1, 24),
       |        i -> 'p' || source || lang || CAST(doc_id // 2048 AS VARCHAR)
       |             || 'w' || CAST(i AS VARCHAR)), ' ')
       |    ELSE text END AS text
       |  FROM documents
       |), tk AS MATERIALIZED (
       |  SELECT doc_id, lang, source, string_split(lower(text), ' ') AS ws FROM pdocs
       |), gp AS MATERIALIZED (
       |  -- struct-unnest in SELECT: the lateral FROM-UNNEST(generate_series)
       |  -- form measured 10x slower on the same row count
       |  SELECT doc_id, lang, source, g.pos AS pos, g.w AS w FROM (
       |    SELECT doc_id, lang, source,
       |      unnest(list_transform(generate_series(1, len(ws) - 3),
       |        i -> {'pos': i - 1, 'w': array_to_string(ws[i:i+3], ' ')})) AS g
       |    FROM tk WHERE len(ws) >= 4)
       |), gvocab AS MATERIALIZED (SELECT DISTINCT w FROM gp
       |), $GramXxh64Chain, ph AS MATERIALIZED (
       |  SELECT gp.doc_id, gp.lang, gp.source, gp.pos,
       |    CASE WHEN wh >= 9223372036854775808::HUGEINT
       |         THEN CAST(wh - 18446744073709551616::HUGEINT AS BIGINT)
       |         ELSE CAST(wh AS BIGINT) END AS hs
       |  FROM gp JOIN gwh USING (w)
       |), dm AS MATERIALIZED (SELECT doc_id, MAX(pos) + 1 AS m FROM ph GROUP BY doc_id
       |), sel AS MATERIALIZED (
       |  -- frame-windowed argmin (truncating frame covers the short-doc
       |  -- whole-array window); equals the per-start join formulation
       |  -- row-for-row, without materializing m*w joined rows
       |  SELECT doc_id, mn FROM (
       |    SELECT ph.doc_id, ph.pos, dm.m,
       |      MIN({'h': ph.hs, 'p': ph.pos}) OVER (PARTITION BY ph.doc_id ORDER BY ph.pos
       |        ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn
       |    FROM ph JOIN dm USING (doc_id))
       |  WHERE pos <= m - LEAST(8, m)
       |), fps AS MATERIALIZED (
       |  SELECT DISTINCT s.doc_id, p.lang, p.source, (s.mn).h AS h
       |  FROM sel s JOIN ph p ON p.doc_id = s.doc_id AND p.pos = (s.mn).p
       |), sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
       |  FROM fps a JOIN fps b ON a.lang = b.lang AND a.source = b.source
       |    AND a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id_a, id_b, n_shared,
       |  CAST(n_shared AS DOUBLE) / (sa.n_fp + sb.n_fp - n_shared) AS resemblance
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |WHERE n_shared >= 2 ORDER BY id_a, id_b""".stripMargin

  /** The d68 Bloom-decon oracle: bench + training 8-gram strings →
    * [[GramXxh64Chain]] → the filter's position arithmetic replayed on
    * the UNSIGNED hash (h1 = wh mod 2^22 ≡ the engine's signed-long
    * low-bit mask; odd stride h2 from bits 18.., p_i = (h1 + i·h2)
    * mod 2^22) → a gram hits iff all 3 positions appear in the bench
    * position set — three equi-joins. Exact INCLUDING the Bloom's
    * false positives: the approximation replays bit-for-bit. */
  private val D68Sql: String = {
    val m = graft.operators.Curation.BloomM
    s"""WITH tr AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  WHERE doc_id % 7 <> 0 AND len(string_split(text, ' ')) >= 8
       |), be AS MATERIALIZED (
       |  SELECT string_split(text, ' ') AS ws FROM documents
       |  WHERE doc_id % 7 = 0 AND len(string_split(text, ' ')) >= 8
       |), bg AS MATERIALIZED (
       |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(ws) - 7),
       |    i -> array_to_string(ws[i:i+7], ' '))) AS w
       |  FROM be
       |), cg AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
       |    i -> array_to_string(ws[i:i+7], ' '))) AS w
       |  FROM tr
       |), gvocab AS MATERIALIZED (SELECT DISTINCT w FROM cg UNION SELECT w FROM bg
       |), $GramXxh64Chain, bset AS MATERIALIZED (
       |  SELECT DISTINCT ((wh % $m) + t.i *
       |      ((((wh >> 18) % $m) - ((wh >> 18) % $m) % 2) + 1)) % $m AS p
       |  FROM (SELECT DISTINCT wh FROM bg JOIN gwh USING (w)) bwh,
       |    UNNEST([0, 1, 2]) AS t(i)
       |), dp AS MATERIALIZED (
       |  SELECT doc_id, (wh % $m) AS h1,
       |    ((((wh >> 18) % $m) - ((wh >> 18) % $m) % 2) + 1) AS h2
       |  FROM cg JOIN gwh USING (w)
       |), hits AS MATERIALIZED (
       |  SELECT d.doc_id, COUNT(*) AS n_hits
       |  FROM dp d
       |  JOIN bset b0 ON b0.p = d.h1 % $m
       |  JOIN bset b1 ON b1.p = (d.h1 + d.h2) % $m
       |  JOIN bset b2 ON b2.p = (d.h1 + 2 * d.h2) % $m
       |  GROUP BY d.doc_id
       |), ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM cg GROUP BY doc_id)
       |SELECT ng.doc_id, ng.n_grams,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  COALESCE(h.n_hits, 0) > 0 AS contaminated
       |FROM ng LEFT JOIN hits h ON h.doc_id = ng.doc_id
       |ORDER BY ng.doc_id""".stripMargin
  }

  /** The d61 topic-clusters oracle: [[kmeansReplayCtes]] over the
    * d59-derived dense corpus embeddings (D59Ctes\' w_norm is already
    * oracle-exact; the vector is its bucket expansion cast through
    * REAL like collapseDense\'s array<float>), k = 16, 5 rounds. The
    * final L2 assignment and the per-cluster exemplar argmin both rank
    * on pivot-exact scores, so exact ties (Amplify rotation copies
    * with identical embeddings) break on c_id / vec_id exactly like
    * the engine. */
  private val D61Sql: String = {
    import Vec64Sql.{dot, col}
    val dims = graft.operators.Retrieval.EmbedDims
    val ec = dot(col("v.x"), col("c.c"))
    s"""WITH RECURSIVE $D59Ctes,
       |ev AS MATERIALIZED (SELECT DISTINCT doc_id AS vec_id FROM demb
       |), kk AS MATERIALIZED (SELECT CAST(16 AS BIGINT) AS k
       |), exi AS MATERIALIZED (
       |  SELECT g.vec_id, g.b + 1 AS i,
       |    CAST(CAST(COALESCE(d.w_norm, 0.0) AS REAL) AS DOUBLE) AS x,
       |    CAST(FLOOR(CAST(CAST(COALESCE(d.w_norm, 0.0) AS REAL) AS DOUBLE) * 1e6
       |               + 0.5) AS BIGINT) AS ux
       |  FROM (SELECT e.vec_id, t.b FROM ev e,
       |        UNNEST(generate_series(0, ${dims - 1})) AS t(b)) g
       |  LEFT JOIN demb d ON d.doc_id = g.vec_id AND d.bucket = g.b
       |), ${Vec64Sql.derived}
       |, ${kmeansReplayCtes(5)}
       |, fasg AS MATERIALIZED (
       |  SELECT vec_id, c_id, d2 FROM (
       |    SELECT v.vec_id, c.c_id,
       |      (ee.ee - 2.0 * ($ec)) + fcc.cc AS d2,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY (ee.ee - 2.0 * ($ec)) + fcc.cc ASC, c.c_id ASC) AS rn
       |    FROM evp v CROSS JOIN fcp c
       |    JOIN fcc ON fcc.c_id = c.c_id JOIN ee ON ee.vec_id = v.vec_id)
       |  WHERE rn = 1
       |), wd2 AS MATERIALIZED (
       |  SELECT c_id, vec_id, d2 FROM (
       |    SELECT c_id, vec_id, d2,
       |      ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY d2 ASC, vec_id ASC) AS rn
       |    FROM fasg) WHERE rn = 1
       |)
       |SELECT CAST(a.c_id AS INT) AS cluster_id, COUNT(*) AS n_docs,
       |  ANY_VALUE(w.vec_id) AS exemplar_id,
       |  ROUND(ANY_VALUE(w.d2), 6) AS exemplar_d2
       |FROM fasg a JOIN wd2 w USING (c_id)
       |GROUP BY a.c_id ORDER BY cluster_id""".stripMargin
  }

  /** Shared top-2-bucket blocking over the trained centroids
    * (pivot-exact L2 rank) — the d11/d45 pair-mine front end. */
  private val BlkCte: String = {
    import Vec64Sql.{dot, col}
    val ec = dot(col("v.x"), col("c.c"))
    s"""blk AS MATERIALIZED (
       |  SELECT vec_id, c_id AS bucket FROM (
       |    SELECT v.vec_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY (ee.ee - 2.0 * ($ec)) + fcc.cc ASC, c.c_id ASC) AS rn
       |    FROM evp v CROSS JOIN fcp c
       |    JOIN fcc ON fcc.c_id = c.c_id JOIN ee ON ee.vec_id = v.vec_id)
       |  WHERE rn <= 2)""".stripMargin
  }

  /** Pair cosine over the pivoted vectors — `nrm` is the engine\'s
    * per-vector SQRT of the exact squared norm. */
  private val PairCosSelect: String = {
    import Vec64Sql.{dot, col}
    val pd = dot(col("a.x"), col("b.x"))
    s"""($pd) / (SQRT(ea.ee) * SQRT(eb.ee))"""
  }

  /** The d11 cosine near-dup oracle: [[kmeansReplayCtes]] blocking
    * (top-2 L2 buckets), pair cosines as pivot-exact expressions —
    * the 0.30 threshold decision and the emitted cos are bit-exact
    * with no bands or folds needed. */
  private val D11Sql: String = {
    s"""WITH RECURSIVE ${Vec64Sql.embPreamble}
       |, ${Vec64Sql.adaptiveK}
       |, ${kmeansReplayCtes(2)}
       |, $BlkCte
       |, prs AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, MIN(a.bucket) AS bucket
       |  FROM blk a JOIN blk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  GROUP BY a.vec_id, b.vec_id
       |)
       |SELECT * FROM (
       |  SELECT CAST(p.bucket AS INT) AS bucket, p.id_a AS id_a, p.id_b AS id_b,
       |    $PairCosSelect AS cos
       |  FROM prs p
       |  JOIN evp a ON a.vec_id = p.id_a JOIN evp b ON b.vec_id = p.id_b
       |  JOIN ee ea ON ea.vec_id = p.id_a JOIN ee eb ON eb.vec_id = p.id_b)
       |WHERE cos >= CAST(0.3 AS DOUBLE)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The d71 hard-triplet oracle: the d11 blocking + pivot-exact pair
    * cosines, then per-anchor conditional MIN(STRUCT(−cos, id)) folds
    * for the strongest positive and the hardest sub-threshold
    * negative — single-expression doubles end to end, no unordered
    * sums (the pivot-exact discipline). */
  private val D71Sql: String = {
    s"""WITH RECURSIVE ${Vec64Sql.embPreamble}
       |, ${Vec64Sql.adaptiveK}
       |, ${kmeansReplayCtes(2)}
       |, $BlkCte
       |, cpairs AS MATERIALIZED (
       |  SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id
       |  FROM blk a JOIN blk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  GROUP BY a.vec_id, b.vec_id
       |), scored AS MATERIALIZED (
       |  SELECT p.anchor_id, p.cand_id, $PairCosSelect AS cos
       |  FROM cpairs p
       |  JOIN evp a ON a.vec_id = p.anchor_id JOIN evp b ON b.vec_id = p.cand_id
       |  JOIN ee ea ON ea.vec_id = p.anchor_id JOIN ee eb ON eb.vec_id = p.cand_id
       |), win AS (
       |  SELECT anchor_id,
       |    MIN(CASE WHEN cos >= CAST(0.3 AS DOUBLE)
       |      THEN {'c': -cos, 'v': cand_id} END) AS p,
       |    MIN(CASE WHEN cos < CAST(0.3 AS DOUBLE)
       |      THEN {'c': -cos, 'v': cand_id} END) AS n
       |  FROM scored GROUP BY anchor_id)
       |SELECT anchor_id, p.v AS pos_id, -p.c AS cos_pos,
       |  n.v AS neg_id, -n.c AS cos_neg
       |FROM win WHERE p IS NOT NULL AND n IS NOT NULL
       |ORDER BY anchor_id""".stripMargin
  }

  /** The d72 k-NN-graph oracle: the d61 preamble (d59 unit weights →
    * pivoted vectors → k-means replay), blk top-2 anchor probes +
    * top-2 candidate assignments (candAssign=2, the r20 knee default —
    * the measured sweep in Similarity), pivot-exact pair cosines, and the
    * (cos DESC, id ASC) ROW_NUMBER top-k the engine's TopKByScore is
    * row-for-row equal to. */
  /** Shared d72 CTE chain — the d59 self-embedding preamble, the
    * k-means replay, the IVF-blocked pair cosines, and the ranked
    * `knn` neighbor CTE. D72Sql selects the top-k rows; D73Sql chains
    * the mutual self-join + reach-closure labels on top of it. */
  private val D72KnnCtes: String = {
    import Vec64Sql.{dot, col}
    val ec = dot(col("v.x"), col("c.c"))
    val dims = graft.operators.Retrieval.EmbedDims
    s"""$D59Ctes,
       |ev AS MATERIALIZED (SELECT DISTINCT doc_id AS vec_id FROM demb
       |), ${Vec64Sql.adaptiveK}
       |, exi AS MATERIALIZED (
       |  SELECT g.vec_id, g.b + 1 AS i,
       |    CAST(CAST(COALESCE(d.w_norm, 0.0) AS REAL) AS DOUBLE) AS x,
       |    CAST(FLOOR(CAST(CAST(COALESCE(d.w_norm, 0.0) AS REAL) AS DOUBLE) * 1e6
       |               + 0.5) AS BIGINT) AS ux
       |  FROM (SELECT e.vec_id, t.b FROM ev e,
       |        UNNEST(generate_series(0, ${dims - 1})) AS t(b)) g
       |  LEFT JOIN demb d ON d.doc_id = g.vec_id AND d.bucket = g.b
       |), ${Vec64Sql.derived}
       |, ${kmeansReplayCtes(5)}
       |, $BlkCte
       |, fasg AS MATERIALIZED (
       |  SELECT vec_id, c_id FROM (
       |    SELECT v.vec_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY (ee.ee - 2.0 * ($ec)) + fcc.cc ASC, c.c_id ASC) AS rn
       |    FROM evp v CROSS JOIN fcp c
       |    JOIN fcc ON fcc.c_id = c.c_id JOIN ee ON ee.vec_id = v.vec_id)
       |  WHERE rn <= 2
       |), cpairs AS MATERIALIZED (
       |  SELECT a.vec_id AS q_id, f.vec_id AS cand_id
       |  FROM blk a JOIN fasg f ON f.c_id = a.bucket AND f.vec_id <> a.vec_id
       |  GROUP BY a.vec_id, f.vec_id
       |), scored AS MATERIALIZED (
       |  SELECT p.q_id, p.cand_id, $PairCosSelect AS cos
       |  FROM cpairs p
       |  JOIN evp a ON a.vec_id = p.q_id JOIN evp b ON b.vec_id = p.cand_id
       |  JOIN ee ea ON ea.vec_id = p.q_id JOIN ee eb ON eb.vec_id = p.cand_id)
       |, knn AS MATERIALIZED (
       |  SELECT q_id, cand_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, cand_id ASC) AS rk
       |  FROM scored)""".stripMargin
  }

  private val D72Sql: String =
    s"""WITH RECURSIVE $D72KnnCtes
       |SELECT q_id, cand_id AS neighbor_id, cos, CAST(rk AS INT) AS rk
       |FROM knn WHERE rk <= 5
       |ORDER BY q_id, rk""".stripMargin

  /** The d73 mutual-kNN oracle: the d72 knn CTE joined to itself on
    * the swapped (q, cand) key (mutuality), the 0.3 cos bar on both
    * directions (identical scores — the pivot-exact dot is
    * bit-symmetric), then the d45 reach-closure LEAST-label rule for
    * component ids. */
  private val D73Sql: String =
    s"""WITH RECURSIVE $D72KnnCtes
       |, ke AS MATERIALIZED (
       |  SELECT q_id, cand_id, cos FROM knn
       |  WHERE rk <= 5 AND cos >= CAST(0.3 AS DOUBLE))
       |, mut AS MATERIALIZED (
       |  SELECT f.q_id AS id_a, f.cand_id AS id_b, f.cos
       |  FROM ke f JOIN ke r ON r.q_id = f.cand_id AND r.cand_id = f.q_id
       |  WHERE f.q_id < f.cand_id)
       |, medges AS (
       |  SELECT id_a AS node, id_b AS other FROM mut
       |  UNION SELECT id_b, id_a FROM mut)
       |, mreach AS (
       |  SELECT node, other FROM medges
       |  UNION
       |  SELECT r.node, e.other FROM mreach r JOIN medges e ON r.other = e.node)
       |, mlabels AS MATERIALIZED (
       |  SELECT node, LEAST(node, MIN(other)) AS cluster_id
       |  FROM mreach GROUP BY node)
       |SELECT m.id_a, m.id_b, m.cos, l.cluster_id
       |FROM mut m JOIN mlabels l ON l.node = m.id_a
       |ORDER BY id_a, id_b""".stripMargin

  /** The d74 ANN-recall oracle: exact top-5 per panel query (pivot-
    * exact cosines, (cos DESC, id ASC) — bit-equal scores, strict
    * total order) left-joined against the shared d72 knn CTE; the
    * hit count and the count/5 double division replay exactly. */
  private val D74Sql: String =
    s"""WITH RECURSIVE $D72KnnCtes
       |, qs AS MATERIALIZED (
       |  SELECT vec_id FROM ev
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 100)
       |, epairs AS MATERIALIZED (
       |  SELECT q.vec_id AS q_id, e.vec_id AS cand_id
       |  FROM qs q JOIN ev e ON e.vec_id <> q.vec_id)
       |, escored AS MATERIALIZED (
       |  SELECT p.q_id, p.cand_id, $PairCosSelect AS cos
       |  FROM epairs p
       |  JOIN evp a ON a.vec_id = p.q_id JOIN evp b ON b.vec_id = p.cand_id
       |  JOIN ee ea ON ea.vec_id = p.q_id JOIN ee eb ON eb.vec_id = p.cand_id)
       |, etop AS MATERIALIZED (
       |  SELECT q_id, cand_id FROM (
       |    SELECT q_id, cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, cand_id ASC) AS rn
       |    FROM escored) WHERE rn <= 5)
       |SELECT e.q_id, COUNT(k.cand_id) AS n_hit,
       |  CAST(COUNT(k.cand_id) AS DOUBLE) / CAST(5 AS DOUBLE) AS recall
       |FROM etop e LEFT JOIN (SELECT q_id, cand_id FROM knn WHERE rk <= 5) k
       |  ON k.q_id = e.q_id AND k.cand_id = e.cand_id
       |GROUP BY e.q_id
       |ORDER BY e.q_id""".stripMargin

  /** The d45 SemDeDup oracle: the d11 pair mine, the d36
    * transitive-closure LEAST-label rule for groups, and the keep-rule
    * argmin over pivot-exact per-vector centroid cosines — cent_cos is
    * an output column for every vector and the (cent_cos, vec_id)
    * representative choice replays exactly, including ties between
    * identical twin vectors. */
  private val D45Sql: String = {
    import Vec64Sql.{dot, col}
    val ec = dot(col("v.x"), col("c.c"))
    s"""WITH RECURSIVE ${Vec64Sql.embPreamble}
       |, ${Vec64Sql.adaptiveK}
       |, ${kmeansReplayCtes(2)}
       |, centcos AS MATERIALIZED (
       |  SELECT vec_id, s AS cent_cos FROM (
       |    SELECT v.vec_id, c.c_id,
       |      ($ec) / (SQRT(ee.ee) * SQRT(fcc.cc)) AS s,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ($ec) / (SQRT(ee.ee) * SQRT(fcc.cc)) DESC, c.c_id ASC) AS rn
       |    FROM evp v CROSS JOIN fcp c
       |    JOIN fcc ON fcc.c_id = c.c_id JOIN ee ON ee.vec_id = v.vec_id)
       |  WHERE rn = 1
       |), $BlkCte
       |, dpairs AS MATERIALIZED (
       |  SELECT id_a, id_b FROM (
       |    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |    FROM blk a JOIN blk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) p
       |  JOIN evp a ON a.vec_id = p.id_a JOIN evp b ON b.vec_id = p.id_b
       |  JOIN ee ea ON ea.vec_id = p.id_a JOIN ee eb ON eb.vec_id = p.id_b
       |  WHERE $PairCosSelect >= CAST(0.3 AS DOUBLE)
       |), edges AS (
       |  SELECT id_a AS node, id_b AS other FROM dpairs
       |  UNION SELECT id_b, id_a FROM dpairs
       |), reach AS (
       |  SELECT node, other FROM edges
       |  UNION
       |  SELECT r.node, e.other FROM reach r JOIN edges e ON r.other = e.node
       |), labels AS MATERIALIZED (
       |  SELECT node, LEAST(node, MIN(other)) AS cid FROM reach GROUP BY node
       |), reps AS MATERIALIZED (
       |  SELECT cid, vec_id AS rep_id FROM (
       |    SELECT l.cid, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY l.cid
       |        ORDER BY c.cent_cos ASC, c.vec_id ASC) AS rn
       |    FROM labels l JOIN centcos c ON c.vec_id = l.node) WHERE rn = 1
       |)
       |SELECT c.vec_id,
       |  COALESCE(l.cid, c.vec_id) AS group_id,
       |  CASE WHEN l.cid IS NULL THEN TRUE ELSE c.vec_id = r.rep_id END AS kept,
       |  c.cent_cos
       |FROM centcos c
       |LEFT JOIN labels l ON l.node = c.vec_id
       |LEFT JOIN reps r ON r.cid = l.cid
       |ORDER BY vec_id""".stripMargin
  }

  /** The d38 semantic-decontamination oracle: benchmark = the vec_id %
    * 97 slice mapped onto dense slots in id order; per corpus vector
    * the argmax-cosine benchmark slot and the 0.80 threshold — both on
    * pivot-exact scores, so duplicate benchmark vectors tie to the
    * lower slot exactly like the strict-better scan. */
  private val D38Sql: String = {
    import Vec64Sql.{dot, sq, col}
    val qd = dot(col("v.x"), col("b.x"))
    s"""WITH RECURSIVE ${Vec64Sql.embPreamble}
       |, bv AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS slot,
       |         vec_id AS bench_vec_id
       |  FROM ev WHERE vec_id % 97 = 0
       |), bvp AS MATERIALIZED (
       |  SELECT bv.slot, bv.bench_vec_id, p.*
       |  FROM bv JOIN evp p ON p.vec_id = bv.bench_vec_id
       |), bcc AS MATERIALIZED (
       |  SELECT slot, ${sq(col("x"))} AS cc FROM bvp
       |), win AS MATERIALIZED (
       |  SELECT vec_id, slot, s FROM (
       |    SELECT v.vec_id, b.slot,
       |      ($qd) / (SQRT(ee.ee) * SQRT(bcc.cc)) AS s,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ($qd) / (SQRT(ee.ee) * SQRT(bcc.cc)) DESC, b.slot ASC) AS rn
       |    FROM evp v CROSS JOIN bvp b
       |    JOIN bcc ON bcc.slot = b.slot JOIN ee ON ee.vec_id = v.vec_id)
       |  WHERE rn = 1
       |)
       |SELECT w.vec_id, bv.bench_vec_id, w.s AS bench_cos
       |FROM win w JOIN bv USING (slot)
       |WHERE w.s >= CAST(0.8 AS DOUBLE)
       |ORDER BY vec_id""".stripMargin
  }

  /** The d32 PQ/ADC oracle — the last float ANN pipeline, and the one
    * with NO approximation anywhere in the replay: every FP step is
    * exactly ordered. NormalizeF folds the norm in index order and
    * divides through double→REAL; the per-subspace distances pivot the
    * 4 elements into one expression whose association matches the
    * encode loop (((t1²+t2²)+t3²)+t4², float−float differences are
    * exact in double), so assignments are EXACT, not ulp-ranked;
    * codebook means are unit-exact with COALESCE keeping memberless
    * codewords (PqEncode's next = clone semantics); the ADC score
    * folds the 16 table lookups in subspace order; and the refine
    * re-rank folds the full 64-dim dot like the d6 output stage.
    * Config mirrors the registered entry: m=16, k=16 (sub=4 at the
    * 64-dim corpus), 4 training rounds, refine 50, top 5. */
  private val D32Sql: String = {
    val (m, k, iters, refine, topK) = (16, 16, 4, 50, 5)
    // exactly-ordered 4-term expressions (the encode/table loops'
    // association): (((a1+a2)+a3)+a4
    def d4(x: Int => String, c: Int => String): String =
      (1 to 4).map(j => s"((${x(j)}) - (${c(j)})) * ((${x(j)}) - (${c(j)}))")
        .reduce((a, b) => s"($a) + ($b)")
    def dot4(x: Int => String, c: Int => String): String =
      (1 to 4).map(j => s"(${x(j)}) * (${c(j)})")
        .reduce((a, b) => s"($a) + ($b)")
    val dvc = d4(j => s"v.x$j", j => s"c.c$j")
    val qdc = dot4(j => s"v.x$j", j => s"c.c$j")
    def pivot(src: String) = (1 to 4)
      .map(j => s"MAX(CASE WHEN j = $j THEN $src END) AS ${src.split('.').last}$j")
      .mkString(", ")
    s"""WITH RECURSIVE ev AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |), exi AS MATERIALIZED (
       |  SELECT vec_id, t.i, CAST(embedding[t.i] AS DOUBLE) AS x
       |  FROM ev, UNNEST(generate_series(1, len(embedding))) AS t(i)
       |), dimn AS MATERIALIZED (SELECT MAX(i) AS d FROM exi
       |), nfold AS (
       |  SELECT vec_id, 0 AS i, CAST(0.0 AS DOUBLE) AS s FROM ev
       |  UNION ALL
       |  SELECT f.vec_id, f.i + 1, f.s + e.x * e.x
       |  FROM nfold f JOIN exi e ON e.vec_id = f.vec_id AND e.i = f.i + 1
       |  WHERE f.i < (SELECT d FROM dimn)
       |), nrm AS MATERIALIZED (
       |  SELECT vec_id, GREATEST(SQRT(s), 1e-30) AS nrm
       |  FROM nfold WHERE i = (SELECT d FROM dimn)
       |), nexi AS MATERIALIZED (
       |  -- NormalizeF: (float / double-nrm).toFloat, per element
       |  SELECT e.vec_id, e.i,
       |    CAST((e.i - 1) // 4 AS BIGINT) AS mi, CAST((e.i - 1) % 4 + 1 AS BIGINT) AS j,
       |    CAST(CAST(e.x / n.nrm AS REAL) AS DOUBLE) AS x,
       |    CAST(FLOOR(CAST(CAST(e.x / n.nrm AS REAL) AS DOUBLE) * 1e6 + 0.5)
       |         AS BIGINT) AS u
       |  FROM exi e JOIN nrm n USING (vec_id)
       |), vsub AS MATERIALIZED (
       |  SELECT vec_id, mi, ${pivot("x")}
       |  FROM nexi GROUP BY vec_id, mi
       |), hh AS (
       |  SELECT vec_id,
       |    CASE WHEN h >= 2147483648::HUGEINT THEN CAST(h - 4294967296::HUGEINT AS BIGINT)
       |         ELSE CAST(h AS BIGINT) END AS h32
       |  FROM (
       |    SELECT vec_id, ${M32Sql.hashLong("42::HUGEINT", "u")} AS h
       |    FROM (SELECT vec_id,
       |            CASE WHEN vec_id < 0 THEN vec_id + 18446744073709551616::HUGEINT
       |                 ELSE vec_id::HUGEINT END AS u FROM ev))
       |), seeds AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h32, vec_id) - 1 AS BIGINT) AS code,
       |         vec_id
       |  FROM hh QUALIFY ROW_NUMBER() OVER (ORDER BY h32, vec_id) <= $k
       |), cbst AS (
       |  SELECT 0 AS it, n.mi, s.code, n.j, n.x AS c
       |  FROM seeds s JOIN nexi n USING (vec_id)
       |  UNION ALL
       |  SELECT * FROM (
       |    WITH prev AS (SELECT * FROM cbst WHERE it < $iters),
       |    cbp AS (SELECT mi, code, ${pivot("c")} FROM prev GROUP BY mi, code),
       |    asgn AS (
       |      SELECT vec_id, mi, code FROM (
       |        SELECT v.vec_id, v.mi, c.code,
       |          ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.mi
       |            ORDER BY $dvc ASC, c.code ASC) AS rn
       |        FROM vsub v JOIN cbp c ON c.mi = v.mi) WHERE rn = 1),
       |    mns AS (
       |      SELECT a.mi, a.code, e.j,
       |        CAST(CAST((CAST(SUM(e.u) AS DOUBLE) * 1e-6)
       |               / CAST(COUNT(*) AS DOUBLE) AS REAL) AS DOUBLE) AS c
       |      FROM asgn a JOIN nexi e ON e.vec_id = a.vec_id AND e.mi = a.mi
       |      GROUP BY a.mi, a.code, e.j)
       |    SELECT it0.it + 1 AS it, p.mi, p.code, p.j, COALESCE(m.c, p.c) AS c
       |    FROM prev p
       |    LEFT JOIN mns m ON m.mi = p.mi AND m.code = p.code AND m.j = p.j,
       |    (SELECT DISTINCT it FROM prev) it0
       |  )
       |), fcb AS MATERIALIZED (
       |  SELECT mi, code, ${pivot("c")} FROM cbst WHERE it = $iters GROUP BY mi, code
       |), codes AS MATERIALIZED (
       |  SELECT vec_id, mi, code FROM (
       |    SELECT v.vec_id, v.mi, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.mi
       |        ORDER BY $dvc ASC, c.code ASC) AS rn
       |    FROM vsub v JOIN (SELECT mi, code, c1, c2, c3, c4 FROM fcb) c ON c.mi = v.mi)
       |  WHERE rn = 1
       |), qtab AS MATERIALIZED (
       |  SELECT v.vec_id AS q_id, v.mi, c.code, $qdc AS t
       |  FROM (SELECT * FROM vsub WHERE vec_id < 10) v
       |  JOIN fcb c ON c.mi = v.mi
       |), prs AS MATERIALIZED (
       |  SELECT q.q_id, c.vec_id
       |  FROM (SELECT DISTINCT q_id FROM qtab) q, (SELECT DISTINCT vec_id FROM codes) c
       |  WHERE c.vec_id <> q.q_id
       |), afold AS (
       |  SELECT q_id, vec_id, CAST(-1 AS BIGINT) AS mi, CAST(0.0 AS DOUBLE) AS s
       |  FROM prs
       |  UNION ALL
       |  SELECT f.q_id, f.vec_id, f.mi + 1, f.s + qt.t
       |  FROM afold f
       |  JOIN codes cd ON cd.vec_id = f.vec_id AND cd.mi = f.mi + 1
       |  JOIN qtab qt ON qt.q_id = f.q_id AND qt.mi = f.mi + 1 AND qt.code = cd.code
       |  WHERE f.mi < ${m - 1}
       |), cand AS MATERIALIZED (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY s DESC, vec_id ASC) AS rn
       |    FROM afold WHERE mi = ${m - 1}) WHERE rn <= $refine
       |), rfold AS (
       |  SELECT q_id, vec_id, 0 AS i, CAST(0.0 AS DOUBLE) AS s FROM cand
       |  UNION ALL
       |  SELECT f.q_id, f.vec_id, f.i + 1, f.s + ec2.x * eq.x
       |  FROM rfold f
       |  JOIN nexi ec2 ON ec2.vec_id = f.vec_id AND ec2.i = f.i + 1
       |  JOIN nexi eq ON eq.vec_id = f.q_id AND eq.i = f.i + 1
       |  WHERE f.i < (SELECT d FROM dimn)
       |)
       |SELECT q_id, vec_id AS neighbor_id, s AS score, CAST(rk AS INT) AS rk
       |FROM (
       |  SELECT q_id, vec_id, s,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY s DESC, vec_id ASC) AS rk
       |  FROM rfold WHERE i = (SELECT d FROM dimn))
       |WHERE rk <= $topK ORDER BY q_id, rk""".stripMargin
  }

  /** The d36 flagship-pipeline oracle: every stage of
    * CorpusPipeline.buildTrainingCorpus (the registered config: scrub →
    * minWords=3 gate → exact dedup → (lang, source)-blocked LSH near-dup
    * → benchmark 8-gram-hash decon → 0.9 repetition gate → 0.5 domain
    * mix → chunks) replayed in one statement, emitting the same
    * per-stage retention counts. Deterministic throughout: the scrub is
    * d12's regex replay, the near-dup stage is the d19/d22 pair CTE over
    * the deduped scrubbed corpus + transitive closure, the decon stage
    * hashes gram STRINGS with [[GramXxh64Chain]] and matches on HASH
    * equality exactly like contaminatedIds (a 64-bit collision would
    * drop the same doc in both dialects), the repetition gate is d25's
    * list_distinct formulation, the mix is d26's md5-hash sample with
    * rates computed from the gated corpus, and the chunk count is
    * d18's window geometry ((len-1)//10 + 1 per doc). */
  private val CorpusPipelineSql: String = {
    val scrub = "trim(regexp_replace(regexp_replace(regexp_replace(lower(text), " +
      "'https?://[^ ]+', ' ', 'g'), '[^ ]+@[^ ]+', ' ', 'g'), '\\s+', ' ', 'g'))"
    s"""WITH RECURSIVE sc0 AS (
       |  SELECT doc_id, lang, source, $scrub AS text FROM documents
       |), sc AS MATERIALIZED ( SELECT * FROM sc0 WHERE text <> ''
       |), qg AS MATERIALIZED ( SELECT * FROM sc WHERE len(string_split(text, ' ')) >= 3
       |), ed_keep AS ( SELECT MIN(doc_id) AS doc_id FROM qg GROUP BY md5(text)
       |), ed AS MATERIALIZED ( SELECT qg.* FROM qg JOIN ed_keep USING (doc_id)
       |), ${jaccardLshPairsCte("ed")}, edges AS (
       |  SELECT id_a AS node, id_b AS other FROM lshpairs
       |  UNION SELECT id_b, id_a FROM lshpairs
       |), reach AS (
       |  SELECT node, other FROM edges
       |  UNION
       |  SELECT r.node, e.other FROM reach r JOIN edges e ON r.other = e.node
       |), labels AS MATERIALIZED (
       |  SELECT node, LEAST(node, MIN(other)) AS cid FROM reach GROUP BY node
       |), nd AS MATERIALIZED (
       |  SELECT ed.* FROM ed
       |  LEFT JOIN labels l ON l.node = ed.doc_id
       |  WHERE l.node IS NULL OR l.cid = ed.doc_id
       |), bsc AS (
       |  SELECT doc_id, $scrub AS text FROM documents WHERE doc_id % 7 = 0
       |), bg AS MATERIALIZED (
       |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(ws) - 7),
       |    i -> array_to_string(ws[i:i+7], ' '))) AS w
       |  FROM (SELECT string_split(text, ' ') AS ws FROM bsc
       |        WHERE text <> '' AND len(string_split(text, ' ')) >= 8)
       |), cg AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
       |    i -> array_to_string(ws[i:i+7], ' '))) AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM nd)
       |  WHERE len(ws) >= 8
       |), gvocab AS MATERIALIZED (
       |  SELECT DISTINCT w FROM cg UNION SELECT w FROM bg
       |), $GramXxh64Chain, bh AS MATERIALIZED (
       |  SELECT DISTINCT wh FROM bg JOIN gwh USING (w)
       |), contaminated AS MATERIALIZED (
       |  SELECT DISTINCT cg.doc_id FROM cg JOIN gwh USING (w) JOIN bh USING (wh)
       |), dc AS MATERIALIZED (
       |  SELECT nd.* FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
       |), rg AS MATERIALIZED (
       |  SELECT dc.* FROM (
       |    SELECT doc_id, lang, source, text, string_split(text, ' ') AS ws FROM dc) dc
       |  WHERE len(ws) < 3 OR
       |    (len(ws) - 2 - len(list_distinct(list_transform(
       |       generate_series(1, len(ws) - 2), i -> array_to_string(ws[i:i+2], ' ')))))
       |      / (len(ws) - 2) <= 0.9
       |), mix_counts AS ( SELECT source, COUNT(*) AS n_src FROM rg GROUP BY source
       |), mix_rates AS (
       |  SELECT source,
       |    LEAST(CAST(1.0 AS DOUBLE),
       |          CAST(0.5 AS DOUBLE) * (SELECT SUM(n_src) FROM mix_counts)
       |            / (SELECT COUNT(*) FROM mix_counts) / n_src) AS keep_rate
       |  FROM mix_counts
       |), dm AS MATERIALIZED (
       |  SELECT rg.* FROM rg JOIN mix_rates USING (source)
       |  WHERE CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |          / 4294967296.0 < keep_rate
       |), chn AS (
       |  SELECT COALESCE(SUM((len(string_split(text, ' ')) - 1) // 10 + 1), 0) AS n FROM dm
       |)
       |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
       |       CAST(n_rows AS BIGINT) AS n_rows
       |FROM (VALUES
       |  (0, 'scrubbed',        (SELECT COUNT(*) FROM sc)),
       |  (1, 'quality_gate',    (SELECT COUNT(*) FROM qg)),
       |  (2, 'exact_dedup',     (SELECT COUNT(*) FROM ed)),
       |  (3, 'near_dedup',      (SELECT COUNT(*) FROM nd)),
       |  (4, 'decontaminated',  (SELECT COUNT(*) FROM dc)),
       |  (5, 'repetition_gate', (SELECT COUNT(*) FROM rg)),
       |  (6, 'domain_mix',      (SELECT COUNT(*) FROM dm)),
       |  (7, 'chunks',          (SELECT n FROM chn))) t(stage_idx, stage, n_rows)
       |ORDER BY stage_idx""".stripMargin
  }

  /** The d3 SimHash oracle: per-doc 64-bit fingerprints (xxhash64 word
    * hashes via [[Xxh64WordChain]], ±1 bit votes over the DISTINCT word
    * set, sign → bit) then the engine's 4×16-bit banding and hamming ≤ 3
    * verify — all deterministic integer arithmetic, so the whole d3
    * pipeline is hash-exact. DuckDB's HUGEINT keeps the fingerprint
    * unsigned; banding takes plain (fpu >> 16b) % 65536, identical to
    * Spark's sign-extending shiftright & 65535 because the mask keeps
    * only original-bit positions ≤ 63; hamming is bit_count(xor). */
  private val SimHashSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents
       |), dw0 AS (
       |  SELECT doc_id, unnest(ws) AS w FROM toks
       |), dw AS (
       |  SELECT DISTINCT doc_id, w FROM dw0
       |), vocab AS (
       |  SELECT DISTINCT w FROM dw
       |), $Xxh64WordChain,
       |bits AS (SELECT unnest(generate_series(0, 63)) AS b),
       |votes AS (
       |  SELECT dw.doc_id, bits.b,
       |    SUM(CASE WHEN (wh.wh >> bits.b) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM dw JOIN wh USING (w) CROSS JOIN bits
       |  GROUP BY dw.doc_id, bits.b
       |), fp AS (
       |  SELECT doc_id,
       |    COALESCE(SUM(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END), 0)::HUGEINT AS fpu
       |  FROM votes GROUP BY doc_id
       |), banded AS (
       |  SELECT doc_id, fpu, bands.band, (fpu >> (bands.band * 16)) % 65536 AS bucket
       |  FROM fp, (SELECT unnest(generate_series(0, 3)) AS band) bands
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(MIN(bit_count(xor(a.fpu, b.fpu))) AS INT) AS hd
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fpu, b.fpu)) <= 3
       |GROUP BY a.doc_id, b.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  /** Shared BPE-replay CTE prefix for the d37/d39 oracles: train the
    * merge table (recursive, depth = numMerges) and greedy-encode every
    * distinct corpus word (recursive, depth = word length), ending in
    * `ntok(w, n)` — per-word token counts. `ntok` is MATERIALIZED:
    * d39's packing recursion re-reads it every step, and DuckDB would
    * otherwise inline (re-run) the whole two-level recursion per step. */
  private val BpeCte =
    """WITH RECURSIVE
      |words0 AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
      |words AS (SELECT doc_id, w FROM words0 WHERE w <> ''),
      |dict AS (
      |  SELECT w, COUNT(*) AS cnt FROM words GROUP BY w
      |  ORDER BY cnt DESC, w ASC LIMIT 50000),
      |train(it, kind, w, cnt, syms, a, b) AS (
      |  SELECT 0, 's', w, cnt,
      |         list_transform(generate_series(1, LENGTH(w)), i -> SUBSTR(w, CAST(i AS INT), 1)),
      |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      |  FROM dict
      |  UNION ALL
      |  (
      |    WITH prev AS (SELECT it, w, cnt, syms FROM train WHERE kind = 's' AND it < 200),
      |    pairs AS (
      |      SELECT prev.syms[g.p] AS a, prev.syms[g.p + 1] AS b, SUM(prev.cnt) AS n
      |      FROM prev, UNNEST(generate_series(1, len(prev.syms) - 1)) AS g(p)
      |      GROUP BY 1, 2),
      |    best AS (SELECT a, b FROM pairs WHERE n >= 2 ORDER BY n DESC, a ASC, b ASC LIMIT 1),
      |    cand AS (
      |      SELECT prev.w, g.p
      |      FROM prev, best, UNNEST(generate_series(1, len(prev.syms) - 1)) AS g(p)
      |      WHERE prev.syms[g.p] = best.a AND prev.syms[g.p + 1] = best.b),
      |    sel AS (
      |      SELECT w, p FROM (
      |        SELECT w, p, p - MIN(p) OVER (PARTITION BY w, isl) AS off
      |        FROM (SELECT w, p, p - ROW_NUMBER() OVER (PARTITION BY w ORDER BY p) AS isl
      |              FROM cand)) WHERE off % 2 = 0),
      |    stepped AS (
      |      SELECT prev.it + 1 AS it, prev.w, prev.cnt,
      |        list(CASE WHEN s1.p IS NOT NULL THEN best.a || best.b
      |                  ELSE prev.syms[g.p] END ORDER BY g.p) AS syms
      |      FROM prev
      |      CROSS JOIN best
      |      CROSS JOIN UNNEST(generate_series(1, len(prev.syms))) AS g(p)
      |      LEFT JOIN sel s1 ON s1.w = prev.w AND s1.p = g.p
      |      LEFT JOIN sel s2 ON s2.w = prev.w AND s2.p = g.p - 1
      |      WHERE s2.p IS NULL
      |      GROUP BY prev.it, prev.w, prev.cnt, best.a, best.b)
      |    SELECT it, 's', w, cnt, syms, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM stepped
      |    UNION ALL
      |    SELECT DISTINCT prev.it + 1, 'm', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
      |      CAST(NULL AS VARCHAR[]), best.a, best.b
      |    FROM prev, best
      |  )
      |),
      |merges AS (
      |  SELECT a, b, ROW_NUMBER() OVER (ORDER BY it) - 1 AS rnk
      |  FROM train WHERE kind = 'm'),
      |cw AS (SELECT DISTINCT w FROM words),
      |enc(it, w, syms) AS (
      |  SELECT 0, w,
      |         list_transform(generate_series(1, LENGTH(w)), i -> SUBSTR(w, CAST(i AS INT), 1))
      |  FROM cw
      |  UNION ALL
      |  (
      |    WITH prevE AS (SELECT it, w, syms FROM enc),
      |    bestE AS (
      |      SELECT w, a, b FROM (
      |        SELECT prevE.w, m.a, m.b,
      |               ROW_NUMBER() OVER (PARTITION BY prevE.w ORDER BY m.rnk) AS rn
      |        FROM prevE, UNNEST(generate_series(1, len(prevE.syms) - 1)) AS g(p)
      |        JOIN merges m ON m.a = prevE.syms[g.p] AND m.b = prevE.syms[g.p + 1])
      |      WHERE rn = 1),
      |    candE AS (
      |      SELECT prevE.w, g.p
      |      FROM prevE JOIN bestE ON bestE.w = prevE.w,
      |           UNNEST(generate_series(1, len(prevE.syms) - 1)) AS g(p)
      |      WHERE prevE.syms[g.p] = bestE.a AND prevE.syms[g.p + 1] = bestE.b),
      |    selE AS (
      |      SELECT w, p FROM (
      |        SELECT w, p, p - MIN(p) OVER (PARTITION BY w, isl) AS off
      |        FROM (SELECT w, p, p - ROW_NUMBER() OVER (PARTITION BY w ORDER BY p) AS isl
      |              FROM candE)) WHERE off % 2 = 0)
      |    SELECT prevE.it + 1, prevE.w,
      |      list(CASE WHEN s1.p IS NOT NULL THEN bestE.a || bestE.b
      |                ELSE prevE.syms[g.p] END ORDER BY g.p) AS syms
      |    FROM prevE
      |    JOIN bestE ON bestE.w = prevE.w
      |    CROSS JOIN UNNEST(generate_series(1, len(prevE.syms))) AS g(p)
      |    LEFT JOIN selE s1 ON s1.w = prevE.w AND s1.p = g.p
      |    LEFT JOIN selE s2 ON s2.w = prevE.w AND s2.p = g.p - 1
      |    WHERE s2.p IS NULL
      |    GROUP BY prevE.it, prevE.w, bestE.a, bestE.b
      |  )
      |),
      |final AS (
      |  SELECT w, syms FROM (
      |    SELECT w, syms, ROW_NUMBER() OVER (PARTITION BY w ORDER BY it DESC) AS rn FROM enc)
      |  WHERE rn = 1),
      |ntok AS MATERIALIZED (SELECT w, CAST(len(syms) AS BIGINT) AS n FROM final)""".stripMargin
  private def dsum(c: String) = s"CAST(SUM(CAST($c AS $DEC)) AS DOUBLE)"

  /** The d44 bigram-NLL oracle, shared verbatim with d52's CTE so the
    * bucket ranking can never drift from the score it ranks. */
  private val D44Sql: String =
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS ng, ws[i] AS w1
      |  FROM docs, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
      |  WHERE len(ws) >= 2),
      |cb AS (SELECT ng, COUNT(*) AS cb FROM grams GROUP BY ng),
      |words AS (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents),
      |cu AS (SELECT w, COUNT(*) AS cu FROM words GROUP BY w),
      |v AS (SELECT COUNT(*) AS v FROM cu)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(CAST(SUM(CAST(ROUND(-LN(CAST(cb + 1 AS DOUBLE) / (cu + v)), 9)
      |        AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS nll2
      |FROM grams JOIN cb USING (ng) JOIN cu ON grams.w1 = cu.w CROSS JOIN v
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The d48 BM25 CTE chain (through `ranked`), shared verbatim with
    * d60's oracle so the fused lexical ranking can never drift from the
    * ranking d48 verifies. */
  private lazy val D48Ctes: String = {
    val vals = graft.operators.Retrieval.BmQueries
      .flatMap { case (qid, ws) => ws.map(w => s"($qid, '$w')") }.mkString(", ")
    val terms = graft.operators.Retrieval.BmQueries.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(", ")
    s"""docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |words AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, UNNEST(ws) AS w
       |  FROM docs),
       |scal AS (SELECT COUNT(*) AS n, CAST(SUM(CAST(len(ws) AS BIGINT)) AS BIGINT) AS sdl
       |  FROM docs),
       |qt(query_id, qw) AS (VALUES $vals),
       |tf AS (SELECT doc_id, w, MAX(dl) AS dl, COUNT(*) AS tf FROM words
       |  WHERE w IN ($terms) GROUP BY doc_id, w),
       |dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
       |per AS (SELECT qt.query_id AS query_id, tf.doc_id AS doc_id,
       |    CAST(ROUND(
       |      LN(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |      * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
       |         (tf + CAST(1.2 AS DOUBLE) *
       |          (0.25 + CAST(0.75 AS DOUBLE) * dl / (CAST(sdl AS DOUBLE) / n))))
       |    , 9) AS DECIMAL(18,9)) AS term
       |  FROM tf JOIN dfreq USING (w) JOIN qt ON tf.w = qt.qw CROSS JOIN scal),
       |sc AS (SELECT query_id, doc_id, SUM(term) AS s FROM per
       |  GROUP BY query_id, doc_id),
       |ranked AS (SELECT query_id, doc_id, s,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rnk
       |  FROM sc)""".stripMargin
  }

  /** The d59 hashed-embedding CTE chain (through `demb`), shared
    * verbatim with d60's oracle — the semantic side of the fusion is
    * scored on exactly the unit weights d59 verifies. */
  private lazy val D59Ctes: String = {
    val dims = graft.operators.Retrieval.EmbedDims
    s"""tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS w
       |  FROM documents),
       |hx AS (SELECT doc_id, CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) AS h
       |  FROM tok WHERE w <> ''),
       |raw AS (SELECT doc_id, CAST(h % $dims AS INT) AS bucket,
       |    CAST(SUM(CASE WHEN (h & $dims) = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w_raw
       |  FROM hx GROUP BY doc_id, CAST(h % $dims AS INT)),
       |nz AS (SELECT * FROM raw WHERE w_raw <> 0),
       |nrms AS (SELECT doc_id, sqrt(CAST(SUM(w_raw * w_raw) AS DOUBLE)) AS nrm
       |  FROM nz GROUP BY doc_id),
       |demb AS (SELECT doc_id, bucket, w_raw, ROUND(w_raw / nrm, 9) AS w_norm
       |  FROM nz JOIN nrms USING (doc_id))""".stripMargin
  }

  /** The d60 fusion CTE chain (lexical slice of d48's `ranked`, the
    * VALUES-hashed query embeddings, bucket-join cosines, row_number
    * fusion → `fr`) — shared verbatim by the d60 oracle and d76's
    * metrics oracle, which grades exactly the ranking d60 verifies.
    * Expects [[D48Ctes]] and [[D59Ctes]] spliced before it. */
  private lazy val D60Ctes: String = {
    val dims = graft.operators.Retrieval.EmbedDims
    val k = graft.operators.Retrieval.TopK
    val rk = graft.operators.Retrieval.RrfK
    val qvals = graft.operators.Retrieval.BmQueries
      .map { case (qid, ws) => s"($qid, '${ws.mkString(" ")}')" }.mkString(", ")
    s"""lex AS (SELECT query_id, doc_id, CAST(rnk AS INT) AS lex_rnk
       |  FROM ranked WHERE rnk <= $k),
       |qtok AS (SELECT query_id, UNNEST(string_split(lower(qtext), ' ')) AS w
       |  FROM (VALUES $qvals) AS q(query_id, qtext)),
       |qhx AS (SELECT query_id, CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) AS h
       |  FROM qtok WHERE w <> ''),
       |qraw AS (SELECT query_id, CAST(h % $dims AS INT) AS bucket,
       |    CAST(SUM(CASE WHEN (h & $dims) = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w_raw
       |  FROM qhx GROUP BY query_id, CAST(h % $dims AS INT)),
       |qnz AS (SELECT * FROM qraw WHERE w_raw <> 0),
       |qnrms AS (SELECT query_id, sqrt(CAST(SUM(w_raw * w_raw) AS DOUBLE)) AS nrm
       |  FROM qnz GROUP BY query_id),
       |qemb AS (SELECT query_id, bucket, ROUND(w_raw / nrm, 9) AS qw
       |  FROM qnz JOIN qnrms USING (query_id)),
       |cos AS (SELECT query_id, d.doc_id AS doc_id,
       |    SUM(CAST(ROUND(qw * d.w_norm, 9) AS DECIMAL(18,9))) AS cos
       |  FROM demb d JOIN qemb USING (bucket) GROUP BY query_id, d.doc_id),
       |semr AS (SELECT query_id, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, doc_id) AS INT) AS sem_rnk
       |  FROM cos),
       |sem AS (SELECT query_id, doc_id, sem_rnk FROM semr WHERE sem_rnk <= $k),
       |fused AS (SELECT COALESCE(l.query_id, s.query_id) AS query_id,
       |    COALESCE(l.doc_id, s.doc_id) AS doc_id,
       |    COALESCE(ROUND(CAST(1 AS DOUBLE) / ($rk + l.lex_rnk), 9), CAST(0 AS DOUBLE)) +
       |    COALESCE(ROUND(CAST(1 AS DOUBLE) / ($rk + s.sem_rnk), 9), CAST(0 AS DOUBLE)) AS rrf
       |  FROM lex l FULL JOIN sem s
       |    ON l.query_id = s.query_id AND l.doc_id = s.doc_id),
       |fr AS (SELECT query_id, doc_id, rrf,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY rrf DESC, doc_id) AS rnk
       |  FROM fused)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  CAST(CAST(SUM(CAST(l_extendedprice AS $DEC) * (CAST(1 AS $DEC) - CAST(l_discount AS $DEC))) AS $DEC) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS avg_qty,
         |  ${dsum("l_extendedprice")} / COUNT(*) AS avg_price,
         |  ${dsum("l_discount")} / COUNT(*) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_dedup_insert" ->
      """SELECT DISTINCT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM events s
        |WHERE ts >= TIMESTAMP '2024-01-25'
        |  AND NOT EXISTS (SELECT 1 FROM events h
        |                  WHERE h.ts < TIMESTAMP '2024-01-04'
        |                    AND h.user_id = s.user_id AND h.event_type = s.event_type)
        |ORDER BY event_id""".stripMargin,

    "q3_join_agg" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  ${dsum("o_totalprice")} AS total_price,
         |  ${dsum("o_totalprice")} / COUNT(*) AS avg_price
         |FROM orders JOIN customer ON c_custkey = o_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q4_conditional_agg" ->
      s"""SELECT user_id,
         |  CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN -value ELSE value END AS $DEC)) AS DOUBLE) AS net_value,
         |  CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN -value ELSE value END AS $DEC)) AS DOUBLE) / COUNT(*) AS avg_signed,
         |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_buys,
         |  COUNT(*) AS n_events
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q5_star_join" ->
      s"""SELECT r_name, n_name,
         |  CAST(CAST(SUM(CAST(l_extendedprice AS $DEC) * (CAST(1 AS $DEC) - CAST(l_discount AS $DEC))) AS $DEC) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN nation ON n_nationkey = s_nationkey
         |  JOIN region ON r_regionkey = n_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q6_filter_agg" ->
      s"""SELECT
         |  CAST(CAST(SUM(CAST(l_extendedprice AS $DEC) * CAST(l_discount AS $DEC)) AS $DEC) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    "q7_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q8_rolling_avg" ->
      s"""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         |  CAST(SUM(CAST(value AS $DEC)) OVER w AS DOUBLE) / COUNT(*) OVER w AS roll_avg
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,

    "q9_outlier_filter" ->
      s"""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, avg_pre, avg_fol,
         |  CASE WHEN ((avg_pre - value > 50.0 AND avg_fol - value > 50.0)
         |          OR (value - avg_pre > 50.0 AND value - avg_fol > 50.0)) THEN 1 ELSE 0 END AS is_outlier
         |FROM (
         |  SELECT event_id, user_id, ts, value,
         |    CAST(SUM(CAST(value AS $DEC)) OVER wp AS DOUBLE) / COUNT(*) OVER wp AS avg_pre,
         |    CAST(SUM(CAST(value AS $DEC)) OVER wf AS DOUBLE) / COUNT(*) OVER wf AS avg_fol
         |  FROM events
         |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
         |         wf AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING)
         |) ORDER BY event_id""".stripMargin,

    "q10_self_join_offset" ->
      """SELECT s.l_orderkey, s.l_linenumber AS s_line, l.l_linenumber AS l_line,
        |  s.l_extendedprice AS s_price, l.l_extendedprice AS l_price,
        |  s.l_extendedprice - l.l_extendedprice AS net
        |FROM lineitem s JOIN lineitem l
        |  ON s.l_orderkey = l.l_orderkey AND s.l_linenumber = l.l_linenumber + 1
        |ORDER BY s.l_orderkey, s_line""".stripMargin,

    "q11_latest_per_key" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q12_locf_gapfill" ->
      """WITH bounds AS (SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events),
        |days AS (SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
        |daily AS (
        |  SELECT user_id, day, value AS close_v FROM (
        |    SELECT user_id, CAST(ts AS DATE) AS day, value,
        |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |grid AS (SELECT u.user_id, d.day FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN days d)
        |SELECT g.user_id, g.day, dd.close_v,
        |  last_value(dd.close_v IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_close
        |FROM grid g LEFT JOIN daily dd ON dd.user_id = g.user_id AND dd.day = g.day
        |ORDER BY g.user_id, g.day""".stripMargin,

    "q13_upsert_merge" ->
      s"""WITH t AS (
         |  SELECT user_id, event_type, COUNT(*) AS cnt, ${dsum("value")} AS total, 'T' AS src
         |  FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY user_id, event_type),
         |s AS (
         |  SELECT user_id, event_type, COUNT(*) AS cnt, ${dsum("value")} AS total, 'S' AS src
         |  FROM events WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY user_id, event_type)
         |SELECT * FROM t
         |UNION ALL
         |SELECT * FROM s WHERE NOT EXISTS (
         |  SELECT 1 FROM t WHERE t.user_id = s.user_id AND t.event_type = s.event_type)
         |ORDER BY user_id, event_type""".stripMargin,

    "q14_pivot" ->
      s"""SELECT user_id,
         |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS $DEC) END) AS DOUBLE) AS click_total,
         |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS $DEC) END) AS DOUBLE) AS view_total,
         |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS $DEC) END) AS DOUBLE) AS purchase_total,
         |  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS $DEC) END) AS DOUBLE) AS signup_total,
         |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS $DEC) END) AS DOUBLE) AS error_total
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q15_sessionize" ->
      s"""WITH flagged AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
         |                 THEN 1 ELSE 0 END AS new_sess
         |  FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events)),
         |sess AS (
         |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM flagged)
         |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
         |  CAST(MIN(ts) AS TIMESTAMP) AS t_start, CAST(MAX(ts) AS TIMESTAMP) AS t_end,
         |  ${dsum("value")} AS session_value
         |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q16_asof_join" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, last_view_value FROM (
        |  SELECT *, last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_value
        |  FROM events WHERE event_type IN ('view', 'purchase'))
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "q26_asof_custom" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, q_value,
        |  CAST(q_ts AS TIMESTAMP) AS q_ts
        |FROM (
        |  SELECT *,
        |    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS) OVER w AS q_value,
        |    last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS) OVER w AS q_ts
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    // q63 runs the same semantics as q26 through the SQL TVF surface
    "q63_sql_asof" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, q_value,
        |  CAST(q_ts AS TIMESTAMP) AS q_ts
        |FROM (
        |  SELECT *,
        |    last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS) OVER w AS q_value,
        |    last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS) OVER w AS q_ts
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "q27_transactions_rollup" ->
      s"""SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice,
         |  total_qty, avg_signed_price, n_legs
         |FROM orders o LEFT JOIN (
         |  SELECT l_orderkey,
         |    CAST(SUM(l_quantity) AS DOUBLE) AS total_qty,
         |    CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN -l_extendedprice
         |                       ELSE l_extendedprice END AS $DEC)) AS DOUBLE) / COUNT(*) AS avg_signed_price,
         |    COUNT(*) AS n_legs
         |  FROM lineitem GROUP BY l_orderkey) s ON s.l_orderkey = o.o_orderkey
         |WHERE o_orderstatus IN ('F', 'O')
         |ORDER BY o_orderkey""".stripMargin,

    "q28_verticals_pipeline" ->
      s"""WITH paired AS (
         |  SELECT event_id, user_id, ts, value - prev_value AS net FROM (
         |    SELECT event_id, user_id, ts, value,
         |      lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
         |    FROM events)
         |  WHERE prev_value IS NOT NULL),
         |flagged AS (
         |  SELECT * FROM (
         |    SELECT *,
         |      CAST(SUM(CAST(net AS $DEC)) OVER wp AS DOUBLE) / COUNT(*) OVER wp AS avg_pre,
         |      CAST(SUM(CAST(net AS $DEC)) OVER wf AS DOUBLE) / COUNT(*) OVER wf AS avg_fol
         |    FROM paired
         |    WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
         |           wf AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING))
         |  WHERE NOT COALESCE(((avg_pre - net > 50.0 AND avg_fol - net > 50.0)
         |                   OR (net - avg_pre > 50.0 AND net - avg_fol > 50.0)), FALSE)),
         |clamped AS (
         |  SELECT event_id, user_id, ts, net, LEAST(GREATEST(net, 0.0), 10.0) AS o FROM flagged)
         |SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, net, o,
         |  CAST(SUM(CAST(o AS $DEC)) OVER wr AS DOUBLE) / COUNT(*) OVER wr AS avg_r
         |FROM clamped
         |WINDOW wr AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,

    "q25_flatten_nested" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events ORDER BY user_id, ts""".stripMargin,

    "q31_session_calendar" ->
      s"""SELECT CAST(ts AS DATE) AS day,
         |  CAST(isodow(ts) <= 5 AS INTEGER) AS is_open,
         |  COUNT(*) AS n_events,
         |  CAST(SUM(CAST(isodow(ts) <= 5 AND
         |        (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) BETWEEN 390 AND 780
         |        AS INTEGER)) AS BIGINT) AS n_in_session,
         |  CAST(SUM(CASE WHEN isodow(ts) <= 5 AND
         |        (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) BETWEEN 390 AND 780
         |        THEN CAST(value AS $DEC) END) AS DOUBLE) AS session_value
         |FROM events GROUP BY day, is_open ORDER BY day""".stripMargin,

    "q32_map_explode" ->
      """SELECT user_id, event_type, COUNT(*) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "q33_distribution" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY c_mktsegment, o_orderkey""".stripMargin,

    "q34_above_cust_avg" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice, cust_avg FROM orders
         |JOIN (SELECT o_custkey AS k, ${dsum("o_totalprice")} / COUNT(*) AS cust_avg
         |      FROM orders GROUP BY o_custkey) a ON a.k = o_custkey
         |WHERE o_totalprice > cust_avg ORDER BY o_orderkey""".stripMargin,

    "q35_set_ops" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error'
        |GROUP BY user_id HAVING COUNT(*) > 15
        |ORDER BY user_id""".stripMargin,

    "q36_vwap" ->
      s"""SELECT user_id, CAST(ts AS DATE) AS day,
         |  CAST(CAST(SUM(CAST(value AS $DEC) * CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS DECIMAL(28,4)) AS DOUBLE)
         |    / CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS DOUBLE) AS vwap,
         |  CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS total_vol,
         |  COUNT(*) AS n_ticks
         |FROM events GROUP BY user_id, day
         |HAVING SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) > 0
         |ORDER BY user_id, day""".stripMargin,

    "q37_bar_resample" ->
      s"""WITH hourly AS (
         |  SELECT user_id, bar,
         |    MAX(CASE WHEN rn_a = 1 THEN value END) AS open_v,
         |    MAX(value) AS high_v, MIN(value) AS low_v,
         |    MAX(CASE WHEN rn_d = 1 THEN value END) AS close_v,
         |    COUNT(*) AS n_ticks, ${dsum("value")} AS volume
         |  FROM (
         |    SELECT *, date_trunc('hour', ts) AS bar,
         |      row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts) ORDER BY ts, event_id) AS rn_a,
         |      row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC) AS rn_d
         |    FROM events)
         |  GROUP BY user_id, bar),
         |ranked AS (
         |  SELECT *, CAST(bar AS DATE) AS day,
         |    row_number() OVER (PARTITION BY user_id, CAST(bar AS DATE) ORDER BY bar ASC) AS rn_a2,
         |    row_number() OVER (PARTITION BY user_id, CAST(bar AS DATE) ORDER BY bar DESC) AS rn_d2
         |  FROM hourly)
         |SELECT user_id, day,
         |  MAX(CASE WHEN rn_a2 = 1 THEN open_v END) AS open_v,
         |  MAX(high_v) AS high_v, MIN(low_v) AS low_v,
         |  MAX(CASE WHEN rn_d2 = 1 THEN close_v END) AS close_v,
         |  CAST(SUM(n_ticks) AS BIGINT) AS n_ticks,
         |  ${dsum("volume")} AS volume
         |FROM ranked GROUP BY user_id, day ORDER BY user_id, day""".stripMargin,

    "q38_drawdown" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  MAX(value) OVER w AS run_max,
        |  MAX(value) OVER w - value AS drawdown
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q39_tz_session" ->
      s"""WITH pacified AS (
         |  SELECT value,
         |    timezone('America/Los_Angeles', make_timestamptz(epoch_us(ts))) AS pac
         |  FROM events)
         |SELECT CAST(pac AS DATE) AS pac_day, COUNT(*) AS n_events,
         |  CAST(SUM(CASE WHEN EXTRACT(hour FROM pac) * 60 + EXTRACT(minute FROM pac)
         |                     BETWEEN 390 AND 780 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_session,
         |  CAST(SUM(CASE WHEN EXTRACT(hour FROM pac) * 60 + EXTRACT(minute FROM pac)
         |                     BETWEEN 390 AND 780 THEN CAST(value AS $DEC) END) AS DOUBLE) AS session_value
         |FROM pacified GROUP BY pac_day ORDER BY pac_day""".stripMargin,

    "q40_winsorize" ->
      s"""WITH bounds AS (
         |  SELECT event_type AS et, ROUND(quantile_cont(value, 0.05), 6) AS p05,
         |         ROUND(quantile_cont(value, 0.95), 6) AS p95
         |  FROM events GROUP BY event_type)
         |SELECT event_type, COUNT(*) AS n_events,
         |  CAST(SUM(CAST(LEAST(GREATEST(value, p05), p95) AS $DEC)) AS DOUBLE) AS clipped_sum,
         |  CAST(SUM(CASE WHEN value < p05 OR value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
         |FROM events JOIN bounds ON et = event_type
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q41_sliding_window" ->
      s"""SELECT ws, event_type, COUNT(*) AS n_events, ${dsum("value")} AS total_value
         |FROM (
         |  SELECT e.*, TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND *
         |    ((CAST(FLOOR(epoch_us(ts) / 7200000000.0) AS BIGINT) - k.k) * 7200) AS ws
         |  FROM events e CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS k) k)
         |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,

    "q42_funnel" ->
      """WITH c AS (SELECT user_id, MIN(ts) AS tc FROM events
        |           WHERE event_type = 'click' GROUP BY user_id),
        |v AS (SELECT e.user_id, MIN(e.ts) AS tv FROM events e
        |      JOIN c ON c.user_id = e.user_id AND e.ts > c.tc
        |      WHERE e.event_type = 'view' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS tp FROM events e
        |      JOIN v ON v.user_id = e.user_id AND e.ts > v.tv
        |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM c) AS n_step1,
        |       (SELECT COUNT(*) FROM v) AS n_step2,
        |       (SELECT COUNT(*) FROM p) AS n_step3""".stripMargin,

    "q43_unpivot" ->
      s"""WITH wide AS (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS $DEC) END) AS DOUBLE) AS click_total,
         |    CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS $DEC) END) AS DOUBLE) AS view_total,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS $DEC) END) AS DOUBLE) AS purchase_total,
         |    CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS $DEC) END) AS DOUBLE) AS signup_total,
         |    CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS $DEC) END) AS DOUBLE) AS error_total
         |  FROM events GROUP BY user_id)
         |SELECT user_id, event_type, total FROM (
         |  SELECT user_id, 'click' AS event_type, click_total AS total FROM wide
         |  UNION ALL SELECT user_id, 'view', view_total FROM wide
         |  UNION ALL SELECT user_id, 'purchase', purchase_total FROM wide
         |  UNION ALL SELECT user_id, 'signup', signup_total FROM wide
         |  UNION ALL SELECT user_id, 'error', error_total FROM wide)
         |WHERE total IS NOT NULL ORDER BY user_id, event_type""".stripMargin,

    "q44_since_purchase" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |  CAST(purchase_grp AS BIGINT) AS purchase_grp,
        |  CAST(row_number() OVER (PARTITION BY user_id, purchase_grp ORDER BY ts, event_id) - 1 AS BIGINT) AS since_purchase
        |FROM (
        |  SELECT *, SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_grp
        |  FROM events)
        |WHERE purchase_grp > 0 ORDER BY event_id""".stripMargin,

    "q45_fuzzy_match" ->
      """SELECT a.p_brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY id_a, id_b""".stripMargin,

    "q46_revenue_share" ->
      s"""WITH base AS (
         |  SELECT r_name, n_name,
         |    CAST(CAST(SUM(CAST(l_extendedprice AS $DEC) * (CAST(1 AS $DEC) - CAST(l_discount AS $DEC))) AS $DEC) AS DOUBLE) AS revenue
         |  FROM lineitem
         |    JOIN supplier ON s_suppkey = l_suppkey
         |    JOIN nation ON n_nationkey = s_nationkey
         |    JOIN region ON r_regionkey = n_regionkey
         |  GROUP BY r_name, n_name)
         |SELECT r_name, n_name, revenue,
         |  CAST(CAST(SUM(CAST(revenue AS $DEC)) OVER (PARTITION BY r_name) AS $DEC) AS DOUBLE) AS region_revenue,
         |  revenue / CAST(CAST(SUM(CAST(revenue AS $DEC)) OVER (PARTITION BY r_name) AS $DEC) AS DOUBLE) AS share
         |FROM base ORDER BY r_name, n_name""".stripMargin,

    "q47_monthly_revenue" ->
      s"""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         |  COUNT(*) AS n_orders, ${dsum("o_totalprice")} AS revenue
         |FROM orders GROUP BY month ORDER BY month""".stripMargin,

    "q48_bollinger" ->
      s"""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         |  s1 / n AS mid,
         |  s1 / n + 2.0 * sqrt(GREATEST(CASE WHEN n > 1 THEN (s2 - (s1 * s1) / n) / (n - 1.0) ELSE 0.0 END, 0.0)) AS upper,
         |  s1 / n - 2.0 * sqrt(GREATEST(CASE WHEN n > 1 THEN (s2 - (s1 * s1) / n) / (n - 1.0) ELSE 0.0 END, 0.0)) AS lower
         |FROM (
         |  SELECT event_id, user_id, ts, value,
         |    CAST(SUM(CAST(value AS $DEC)) OVER w AS DOUBLE) AS s1,
         |    CAST(SUM(CAST(CAST(value AS $DEC) * CAST(value AS $DEC) AS DECIMAL(28,8))) OVER w AS DOUBLE) AS s2,
         |    CAST(COUNT(*) OVER w AS DOUBLE) AS n
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         |ORDER BY event_id""".stripMargin,

    "q29_grouped_topk" ->
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders JOIN customer ON c_custkey = o_custkey)
        |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin,

    "q30_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q17_ohlc_bars" ->
      s"""SELECT user_id, CAST(bar AS TIMESTAMP) AS bar,
         |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open_v,
         |  MAX(value) AS high_v, MIN(value) AS low_v,
         |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close_v,
         |  COUNT(*) AS n_ticks, ${dsum("value")} AS volume
         |FROM (
         |  SELECT *, date_trunc('hour', ts) AS bar,
         |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts) ORDER BY ts, event_id) AS rn_a,
         |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC) AS rn_d
         |  FROM events)
         |GROUP BY user_id, bar ORDER BY user_id, bar""".stripMargin,

    "q18_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q19_string_parse" ->
      """SELECT p_partkey, p_brand,
        |  CAST(split_part(p_brand, '#', 2) AS INTEGER) AS brand_num,
        |  split_part(p_name, ' ', 1) AS name_head,
        |  upper(p_type) AS type_u, p_size
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q20_session_filter" ->
      s"""SELECT event_type, COUNT(*) AS n_events, ${dsum("value")} AS total_value
         |FROM events
         |WHERE EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts) BETWEEN 390 AND 780
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q21_window_agg_time" ->
      s"""SELECT TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * (CAST(FLOOR(epoch_us(ts) / 21600000000.0) AS BIGINT) * 21600) AS ws,
         |  event_type, COUNT(*) AS n_events, ${dsum("value")} AS total_value
         |FROM events GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,

    "q22_clamp_bounds" ->
      """SELECT event_id, user_id, value,
        |  LEAST(GREATEST(value - 100.0, 0.0), 10.0) AS clamped
        |FROM events ORDER BY event_id""".stripMargin,

    "q23_anti_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q24_dedup_all_cols" ->
      """SELECT DISTINCT l_suppkey, l_returnflag, l_linestatus
        |FROM lineitem ORDER BY l_suppkey, l_returnflag, l_linestatus""".stripMargin,

    "q49_chain_flatten" ->
      """SELECT event_id AS contract_id, user_id,
        |  CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END AS cp,
        |  CAST(ts AS DATE) + CAST(event_id % 21 AS INTEGER) AS expiry,
        |  CAST(event_id % 21 AS INTEGER) AS dte,
        |  CAST(CAST(FLOOR(value) AS BIGINT) * 5 AS INTEGER) AS strike,
        |  value - 0.05 AS bid,
        |  value + 0.05 AS ask,
        |  CAST(event_id % 1000 AS INTEGER) AS volume,
        |  make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 1000) * 1000) AS dtime,
        |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS weekly
        |FROM events ORDER BY contract_id""".stripMargin,

    "q50_symbol_parse" ->
      """WITH base AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 3 = 0 THEN 'SPXW' ELSE 'SPX' END AS root0,
        |    DATE '2024-01-01' + CAST(p_partkey % 365 AS INTEGER) AS expiry0,
        |    CASE WHEN p_size % 2 = 0 THEN 'C' ELSE 'P' END AS cp_c,
        |    CAST(FLOOR(p_retailprice) AS BIGINT) * 1000 AS strike1000
        |  FROM part),
        |sym AS (
        |  SELECT p_partkey,
        |    rpad(root0, 6, ' ') || strftime(expiry0, '%y%m%d') || cp_c ||
        |      lpad(CAST(strike1000 AS VARCHAR), 8, '0') AS symbol
        |  FROM base)
        |SELECT p_partkey, symbol,
        |  trim(substring(symbol, 1, 6)) AS root,
        |  CASE WHEN substring(symbol, 13, 1) = 'C' THEN 1 ELSE -1 END AS cp,
        |  CAST(strptime(substring(symbol, 7, 6), '%y%m%d') AS DATE) AS expiry,
        |  CAST(substring(symbol, 14, 8) AS BIGINT) / 1000.0 AS strike,
        |  CASE WHEN trim(substring(symbol, 1, 6)) = 'SPXW' THEN 1 ELSE 0 END AS weekly
        |FROM sym ORDER BY p_partkey""".stripMargin,

    "q51_strike_backfill" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr, value
        |  FROM events),
        |bounds AS (
        |  SELECT day,
        |    CAST(FLOOR(MIN(value) / 5) * 5 AS INTEGER) AS lo,
        |    CAST(CEIL(MAX(value) / 5) * 5 AS INTEGER) AS hi
        |  FROM ev WHERE hr >= 9 AND hr < 11 GROUP BY day),
        |obs AS (
        |  SELECT day, CAST(FLOOR(value / 5) * 5 AS INTEGER) AS strike, hr,
        |    MAX(value) AS mark
        |  FROM ev WHERE hr BETWEEN 9 AND 13 GROUP BY day, strike, hr),
        |grid AS (
        |  SELECT day, CAST(UNNEST(generate_series(lo, hi, 5)) AS INTEGER) AS strike, hr
        |  FROM bounds CROSS JOIN (SELECT CAST(UNNEST(generate_series(9, 13)) AS INTEGER) AS hr) AS hrs)
        |SELECT g.day, g.strike, g.hr, o.mark,
        |  last_value(o.mark IGNORE NULLS) OVER (
        |    PARTITION BY g.day, g.strike ORDER BY g.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_mark
        |FROM grid g LEFT JOIN obs o
        |  ON o.day = g.day AND o.strike = g.strike AND o.hr = g.hr
        |ORDER BY g.day, g.strike, g.hr""".stripMargin,

    "q52_quality_merge" ->
      """SELECT user_id, day, best_source, q_rank, best_value, ts FROM (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type AS best_source,
        |    CASE event_type WHEN 'purchase' THEN 1 WHEN 'click' THEN 2
        |         WHEN 'view' THEN 3 WHEN 'signup' THEN 4 ELSE 5 END AS q_rank,
        |    value AS best_value, CAST(ts AS TIMESTAMP) AS ts,
        |    row_number() OVER (
        |      PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY CASE event_type WHEN 'purchase' THEN 1 WHEN 'click' THEN 2
        |               WHEN 'view' THEN 3 WHEN 'signup' THEN 4 ELSE 5 END ASC,
        |               ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, day""".stripMargin,

    "q53_order_legs" ->
      """SELECT l_orderkey AS order_id,
        |  CAST(row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_returnflag)
        |    AS INTEGER) AS leg_id,
        |  1 AS activity_id,
        |  CASE WHEN l_returnflag = 'R' THEN 'SELL' ELSE 'BUY' END AS instruction,
        |  'SYM' || CAST(l_partkey % 100 AS VARCHAR) AS symbol,
        |  l_quantity AS exec_qty,
        |  l_extendedprice AS exec_price,
        |  CASE WHEN l_returnflag = 'R' THEN l_extendedprice
        |       ELSE -l_extendedprice END AS signed_price
        |FROM lineitem ORDER BY order_id, leg_id""".stripMargin,

    "q54_silver_import" ->
      """WITH staged AS (
        |  SELECT event_id, event_type AS source, value AS mark,
        |    date_trunc('minute', CAST(ts AS TIMESTAMP)) AS t,
        |    CASE WHEN event_id % 97 = 0 THEN '$SPX' ELSE
        |      rpad(CASE WHEN event_id % 3 = 0 THEN 'SPXW' ELSE 'SPX' END, 6, ' ') ||
        |      strftime(CAST(ts AS DATE) + CAST(event_id % 21 AS INTEGER), '%y%m%d') ||
        |      (CASE WHEN event_id % 2 = 0 THEN 'C' ELSE 'P' END) ||
        |      lpad(CAST(GREATEST(CAST(FLOOR(value) AS BIGINT), 0) * 5000 AS VARCHAR), 8, '0')
        |    END AS symbol
        |  FROM events),
        |parsed AS (
        |  -- parse exprs carry the SAME '$SPX' guard as the row filter:
        |  -- the optimizer can substitute dim's strike <> 0 below this
        |  -- projection and reorder it ahead of the filter, where an
        |  -- unguarded CAST of the index row's '' substring errors
        |  SELECT source, mark, t,
        |    CASE WHEN symbol <> '$SPX' THEN
        |      (CASE WHEN substring(symbol, 13, 1) = 'C' THEN 1 ELSE -1 END) END AS cp,
        |    CASE WHEN symbol <> '$SPX' THEN
        |      CAST(try_strptime(substring(symbol, 7, 6), '%y%m%d') AS DATE) END AS expiry,
        |    CASE WHEN symbol <> '$SPX' THEN
        |      TRY_CAST(substring(symbol, 14, 8) AS BIGINT) / 1000.0 END AS strike
        |  FROM staged WHERE symbol <> '$SPX'),
        |dim AS (
        |  SELECT CAST(dense_rank() OVER (ORDER BY expiry, cp, strike) AS BIGINT) AS opt_id,
        |    strike, cp, expiry
        |  FROM (SELECT DISTINCT strike, cp, expiry FROM parsed
        |        WHERE strike <> 0 AND cp IS NOT NULL AND expiry IS NOT NULL)),
        |gated AS (
        |  SELECT *, CASE source WHEN 'purchase' THEN 1 WHEN 'click' THEN 2
        |       WHEN 'view' THEN 3 WHEN 'signup' THEN 4 ELSE 5 END AS q_rank
        |  FROM parsed
        |  WHERE mark IS NOT NULL AND t IS NOT NULL
        |    AND (EXTRACT(hour FROM timezone('America/Los_Angeles', make_timestamptz(epoch_us(t)))) * 60 +
        |         EXTRACT(minute FROM timezone('America/Los_Angeles', make_timestamptz(epoch_us(t)))))
        |        BETWEEN 390 AND 780),
        |series AS (
        |  SELECT strike, cp, expiry, t,
        |    (MIN({'r': q_rank, 'm': -mark})).r AS best_rank,
        |    -(MIN({'r': q_rank, 'm': -mark})).m AS mark,
        |    COUNT(*) AS n_obs
        |  FROM gated GROUP BY strike, cp, expiry, t)
        |SELECT d.opt_id, d.strike, d.cp, d.expiry, s.t, s.best_rank, s.mark, s.n_obs
        |FROM series s JOIN dim d
        |  ON d.strike = s.strike AND d.cp = s.cp AND d.expiry = s.expiry
        |ORDER BY opt_id, t""".stripMargin,

    // q55: the oracle runs the PLAIN join — salting must be a pure
    // execution-strategy change with zero row-set effect
    "q55_skew_join" ->
      s"""WITH f AS (
         |  SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey END AS jk,
         |         l_orderkey, l_linenumber
         |  FROM lineitem),
         |cohorts AS (
         |  SELECT CASE WHEN o_orderkey % 10 < 7 THEN 0 ELSE o_orderkey END AS jk,
         |         COUNT(*) AS cohort_orders,
         |         ${dsum("o_totalprice")} AS cohort_value
         |  FROM orders GROUP BY 1)
         |SELECT jk, l_orderkey, l_linenumber, cohort_orders, cohort_value
         |FROM f JOIN cohorts USING (jk)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // q56: the oracle runs the NAIVE range-predicate join — the
    // day-bucket equi-join must be a pure execution-strategy change
    // q58: weekly cohorts (Monday-truncated in both engines; day diffs
    // of week-aligned DATEs are divisible by 7, so offsets are exact
    // integer division)
    "q62_scd2" ->
      """SELECT user_id,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS version, value,
        |  CAST(ts AS TIMESTAMP) AS valid_from,
        |  CAST(lead(ts) OVER w AS TIMESTAMP) AS valid_to,
        |  lead(ts) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,

    // q61: struct-argmin/argmax endpoints ({'ts':…,'id':…} min/max —
    // the q54 argmin discipline) so runs don't assume event_id is
    // monotone with ts
    "q61_error_bursts" ->
      """WITH flagged AS (
        |  SELECT *, CASE WHEN event_type = 'error' AND
        |      (prev_t IS NULL OR prev_t <> 'error') THEN 1 ELSE 0 END AS run_start
        |  FROM (SELECT *, lag(event_type) OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t FROM events)),
        |runs AS (
        |  SELECT *, SUM(run_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, run_id, COUNT(*) AS n_errors,
        |    MIN({'ts': CAST(ts AS TIMESTAMP), 'id': event_id}) AS s,
        |    MAX({'ts': CAST(ts AS TIMESTAMP), 'id': event_id}) AS e
        |  FROM runs WHERE event_type = 'error'
        |  GROUP BY user_id, run_id)
        |SELECT user_id, s.id AS start_event_id, s.ts AS start_ts,
        |  e.id AS end_event_id, e.ts AS end_ts, n_errors
        |FROM agg WHERE n_errors >= 3
        |ORDER BY user_id, start_event_id""".stripMargin,

    "q60_event_paths" ->
      """WITH flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |                 THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events)),
        |sess AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged),
        |paths AS (
        |  SELECT user_id, session_id,
        |    STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM sess GROUP BY user_id, session_id)
        |SELECT path, COUNT(*) AS n_sessions
        |FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 50""".stripMargin,

    "q58_cohort_retention" ->
      """WITH cohorts AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort
        |  FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS m
        |  FROM events),
        |sizes AS (SELECT cohort, COUNT(*) AS n_cohort FROM cohorts GROUP BY cohort),
        |ret AS (
        |  SELECT c.cohort AS cohort,
        |    CAST(date_diff('day', c.cohort, a.m) // 7 AS INT) AS offset_w,
        |    COUNT(DISTINCT a.user_id) AS n_active
        |  FROM activity a JOIN cohorts c USING (user_id)
        |  GROUP BY c.cohort, date_diff('day', c.cohort, a.m) // 7)
        |SELECT cohort, offset_w, n_active, n_cohort,
        |  CAST(n_active AS DOUBLE) / n_cohort AS retention
        |FROM ret JOIN sizes USING (cohort)
        |ORDER BY cohort, offset_w""".stripMargin,

    // q59: LAST_VALUE(... IGNORE NULLS) over the same row window; the
    // gap is integer MICROSECONDS (date_diff µs ≡ unix_micros
    // subtraction — second-granularity epoch floors can diverge at
    // double-ulp boundaries, µs integers cannot)
    "q59_attribution" ->
      """WITH base AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN
        |        {'ts': CAST(ts AS TIMESTAMP), 'id': event_id, 't': event_type} END
        |      IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr
        |  FROM events),
        |p AS (
        |  SELECT *, date_diff('microsecond', attr.ts, ts) AS gap_us,
        |    attr IS NOT NULL AND date_diff('microsecond', attr.ts, ts) <= 172800000000 AS fresh
        |  FROM base WHERE event_type = 'purchase')
        |SELECT event_id, user_id, ts,
        |  CASE WHEN fresh THEN attr.id END AS attr_event_id,
        |  CASE WHEN fresh THEN attr.t END AS attr_type,
        |  CASE WHEN fresh THEN gap_us END AS gap_us
        |FROM p ORDER BY event_id""".stripMargin,

    // q57: the per-user recursive CTE replays EventMatches' automaton
    // row by row — state (st, s_ts, s_id, nmid) AFTER row i plus the
    // match emitted AT row i. Branch order mirrors the expression:
    // in-span purchase completes, in-span click continues, a view
    // (re)starts, anything else (incl. span expiry) goes idle.
    "q57_event_pattern" -> {
      val h = graft.operators.Cep.SpanHours
      s"""WITH RECURSIVE base AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
         |         WHEN 'purchase' THEN 2 ELSE 3 END AS tag,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
         |                            ORDER BY ts, event_id) AS INT) AS i
         |  FROM events),
         |rec AS (
         |  SELECT user_id, i,
         |    CASE WHEN tag = 0 THEN 1 ELSE 0 END AS st,
         |    CASE WHEN tag = 0 THEN ts END AS s_ts,
         |    CASE WHEN tag = 0 THEN event_id END AS s_id,
         |    0 AS nmid,
         |    CAST(NULL AS BIGINT) AS m_sid, CAST(NULL AS TIMESTAMP) AS m_sts,
         |    CAST(NULL AS BIGINT) AS m_eid, CAST(NULL AS TIMESTAMP) AS m_ets,
         |    CAST(NULL AS INT) AS m_nmid
         |  FROM base WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.i,
         |    CASE WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN 0
         |         WHEN r.st = 1 AND b.tag = 1 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN 1
         |         WHEN b.tag = 0 THEN 1 ELSE 0 END,
         |    CASE WHEN r.st = 1 AND b.tag = 1 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN r.s_ts
         |         WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN NULL
         |         WHEN b.tag = 0 THEN b.ts END,
         |    CASE WHEN r.st = 1 AND b.tag = 1 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN r.s_id
         |         WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN NULL
         |         WHEN b.tag = 0 THEN b.event_id END,
         |    CASE WHEN r.st = 1 AND b.tag = 1 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN r.nmid + 1
         |         ELSE 0 END,
         |    CASE WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN r.s_id END,
         |    CASE WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN r.s_ts END,
         |    CASE WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN b.event_id END,
         |    CASE WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN b.ts END,
         |    CASE WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR THEN CAST(r.nmid AS INT) END
         |  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, m_sid AS start_event_id, m_sts AS start_ts,
         |  m_eid AS end_event_id, m_ets AS end_ts, m_nmid AS n_mid
         |FROM rec WHERE m_eid IS NOT NULL
         |ORDER BY user_id, start_event_id""".stripMargin
    },

    // q64: the q57 machine plus the two bounded-quantifier transitions —
    // a mid that would exceed max_mid KILLS the attempt (falls through
    // to the ELSE/NULL branches), an in-span end emits a match only
    // when nmid lands inside [1, 2]; start set is (view|signup)
    "q64_cep_bounded" -> {
      val h = graft.operators.Cep.SpanHours
      s"""WITH RECURSIVE base AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         |    CASE WHEN event_type IN ('view', 'signup') THEN 0
         |         WHEN event_type = 'click' THEN 1
         |         WHEN event_type = 'purchase' THEN 2 ELSE 3 END AS tag,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
         |                            ORDER BY ts, event_id) AS INT) AS i
         |  FROM events),
         |rec AS (
         |  SELECT user_id, i,
         |    CASE WHEN tag = 0 THEN 1 ELSE 0 END AS st,
         |    CASE WHEN tag = 0 THEN ts END AS s_ts,
         |    CASE WHEN tag = 0 THEN event_id END AS s_id,
         |    0 AS nmid,
         |    CAST(NULL AS BIGINT) AS m_sid, CAST(NULL AS TIMESTAMP) AS m_sts,
         |    CAST(NULL AS BIGINT) AS m_eid, CAST(NULL AS TIMESTAMP) AS m_ets,
         |    CAST(NULL AS INT) AS m_nmid
         |  FROM base WHERE i = 1
         |  UNION ALL
         |  SELECT b.user_id, b.i,
         |    CASE WHEN r.st = 1 AND b.tag = 1 AND b.ts <= r.s_ts + INTERVAL $h HOUR
         |              AND r.nmid + 1 <= 2 THEN 1
         |         WHEN b.tag = 0 THEN 1 ELSE 0 END,
         |    CASE WHEN r.st = 1 AND b.tag = 1 AND b.ts <= r.s_ts + INTERVAL $h HOUR
         |              AND r.nmid + 1 <= 2 THEN r.s_ts
         |         WHEN b.tag = 0 THEN b.ts END,
         |    CASE WHEN r.st = 1 AND b.tag = 1 AND b.ts <= r.s_ts + INTERVAL $h HOUR
         |              AND r.nmid + 1 <= 2 THEN r.s_id
         |         WHEN b.tag = 0 THEN b.event_id END,
         |    CASE WHEN r.st = 1 AND b.tag = 1 AND b.ts <= r.s_ts + INTERVAL $h HOUR
         |              AND r.nmid + 1 <= 2 THEN r.nmid + 1
         |         ELSE 0 END,
         |    CASE WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR
         |              AND r.nmid BETWEEN 1 AND 2 THEN r.s_id END,
         |    CASE WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR
         |              AND r.nmid BETWEEN 1 AND 2 THEN r.s_ts END,
         |    CASE WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR
         |              AND r.nmid BETWEEN 1 AND 2 THEN b.event_id END,
         |    CASE WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR
         |              AND r.nmid BETWEEN 1 AND 2 THEN b.ts END,
         |    CASE WHEN r.st = 1 AND b.tag = 2 AND b.ts <= r.s_ts + INTERVAL $h HOUR
         |              AND r.nmid BETWEEN 1 AND 2 THEN CAST(r.nmid AS INT) END
         |  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.i = r.i + 1)
         |SELECT user_id, m_sid AS start_event_id, m_sts AS start_ts,
         |  m_eid AS end_event_id, m_ets AS end_ts, m_nmid AS n_mid
         |FROM rec WHERE m_eid IS NOT NULL
         |ORDER BY user_id, start_event_id""".stripMargin
    },

    // q65: SKIP TO NEXT ROW needs no recursion — for the pattern
    // view (click|view)* purchase every interior row of a match is a
    // mid by construction, so each view's attempt is decided entirely
    // by the FIRST following non-(click|view) row: a match iff that
    // boundary row is an in-span purchase, with n_mid = the row gap.
    // (The reverse running MIN over boundary row numbers is the whole
    // automaton; matches overlap exactly where interior views open
    // their own attempts onto the same purchase.)
    "q65_cep_skip_next" -> {
      val us = graft.operators.Cep.SpanUs
      s"""WITH base AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         |    CASE WHEN event_type = 'view' THEN 4
         |         WHEN event_type = 'click' THEN 1
         |         WHEN event_type = 'purchase' THEN 2 ELSE 3 END AS tag,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |                       ORDER BY ts, event_id) AS rn
         |  FROM events),
         |nb AS (
         |  SELECT user_id, event_id, ts, tag, rn,
         |    MIN(CASE WHEN tag IN (2, 3) THEN rn END) OVER (
         |      PARTITION BY user_id ORDER BY rn
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nb_rn
         |  FROM base)
         |SELECT v.user_id, v.event_id AS start_event_id, v.ts AS start_ts,
         |  b.event_id AS end_event_id, b.ts AS end_ts,
         |  CAST(b.rn - v.rn - 1 AS INT) AS n_mid
         |FROM nb v JOIN base b ON b.user_id = v.user_id AND b.rn = v.nb_rn
         |WHERE v.tag = 4 AND b.tag = 2
         |  AND date_diff('microsecond', v.ts, b.ts) <= $us
         |ORDER BY v.user_id, start_event_id""".stripMargin
    },

    "q56_range_join" ->
      s"""WITH camp AS (
         |  SELECT o_orderkey AS campaign_id, o_orderdate AS c_start,
         |         o_orderdate + INTERVAL 15 DAY AS c_end
         |  FROM orders WHERE o_totalprice > 495000)
         |SELECT campaign_id, c_start, COUNT(*) AS n_items,
         |  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_rev
         |FROM camp JOIN lineitem
         |  ON l_shipdate >= c_start AND l_shipdate < c_end
         |GROUP BY campaign_id, c_start
         |ORDER BY campaign_id""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,

    // d2_sigs: full HUGEINT mod-2^64 replay of the MinHash signature
    // pipeline (see MinHashSigCte's scaladoc) — the LSH family's anchor
    "d2_sigs" ->
      s"""$MinHashSigCte
         |SELECT doc_id, p::INTEGER AS perm, v AS sig_val
         |FROM sigs ORDER BY doc_id, perm""".stripMargin,

    // d2: the WHOLE MinHash+LSH pipeline — signatures + murmur3 band
    // hashes + candidate join + agreement estimate (see MinHashLshSql)
    "d2_minhash_lsh" -> MinHashLshSql,

    // d36: the composed flagship pipeline, every stage replayed (see
    // CorpusPipelineSql) — per-stage retention counts, hash-exact
    "d36_corpus_pipeline" -> CorpusPipelineSql,

    // d3: the WHOLE SimHash pipeline — fingerprints + 16-bit banding +
    // hamming ≤ 3 verify (see SimHashSql)
    "d3_simhash" -> SimHashSql,

    // d19: the blocked-LSH scale path end to end — k=1 signatures +
    // murmur band hashes + blocked candidate join + exact jaccard
    // verify (see JaccardLshPairsCte)
    "d19_jaccard_lsh" ->
      s"""WITH RECURSIVE ${jaccardLshPairsCte("documents")}
         |SELECT id_a, id_b, n_inter, jaccard FROM lshpairs
         |ORDER BY id_a, id_b""".stripMargin,

    // d22: the composed scale-dedup pipeline — the d19 pair set (now
    // deterministic in SQL) → transitive-closure components → keep the
    // min doc per cluster (d20's closure pattern on LSH edges)
    "d22_dedup_pipeline" ->
      s"""WITH RECURSIVE ${jaccardLshPairsCte("documents")}, edges AS (
         |  SELECT id_a AS node, id_b AS other FROM lshpairs
         |  UNION SELECT id_b, id_a FROM lshpairs
         |), reach AS (
         |  SELECT node, other FROM edges
         |  UNION
         |  SELECT r.node, e.other FROM reach r JOIN edges e ON r.other = e.node
         |), labels AS (
         |  SELECT node, LEAST(node, MIN(other)) AS cid FROM reach GROUP BY node
         |)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |LEFT JOIN labels l ON l.node = d.doc_id
         |WHERE l.node IS NULL OR l.cid = d.doc_id
         |ORDER BY doc_id""".stripMargin,

    // d23: the streaming-incremental twin lands EXACTLY the batch d22
    // corpus (Round6Spec parity for arbitrary splits + replay), and the
    // batch corpus is now SQL-derivable — so the incremental entry
    // anchors to the SAME oracle: end-state correctness is the right
    // gate for a replay-idempotent sink.
    "d23_incremental_dedup" ->
      s"""WITH RECURSIVE ${jaccardLshPairsCte("documents")}, edges AS (
         |  SELECT id_a AS node, id_b AS other FROM lshpairs
         |  UNION SELECT id_b, id_a FROM lshpairs
         |), reach AS (
         |  SELECT node, other FROM edges
         |  UNION
         |  SELECT r.node, e.other FROM reach r JOIN edges e ON r.other = e.node
         |), labels AS (
         |  SELECT node, LEAST(node, MIN(other)) AS cid FROM reach GROUP BY node
         |)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |LEFT JOIN labels l ON l.node = d.doc_id
         |WHERE l.node IS NULL OR l.cid = d.doc_id
         |ORDER BY doc_id""".stripMargin,

    // d17: sign-bit packing is EXACT even over float embeddings (only
    // the comparison v > 0 is evaluated, no FP arithmetic), and the
    // hamming top-k tie-break is deterministic (hd asc, vec_id asc) —
    // so the coarsest ANN tier is fully oracle-able.
    "d17_hamming_ann" ->
      """WITH pos AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |         unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings
        |), bits AS (
        |  SELECT vec_id,
        |    COALESCE(SUM(CASE WHEN i <= 64 AND v > 0
        |      THEN (1::HUGEINT << (i - 1)) ELSE 0::HUGEINT END), 0)::HUGEINT AS bits
        |  FROM pos GROUP BY vec_id
        |), q AS (
        |  SELECT vec_id AS q_id, bits AS q_bits FROM bits WHERE vec_id < 10
        |), scored AS (
        |  SELECT q.q_id, b.vec_id AS neighbor_id,
        |    CAST(bit_count(xor(b.bits, q.q_bits)) AS INT) AS hd,
        |    ROW_NUMBER() OVER (PARTITION BY q.q_id
        |      ORDER BY bit_count(xor(b.bits, q.q_bits)) ASC, b.vec_id ASC) AS rk
        |  FROM bits b JOIN q ON b.vec_id <> q.q_id
        |)
        |SELECT q_id, neighbor_id, hd, CAST(rk AS INT) AS rk
        |FROM scored WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "d4_ngram_jaccard" ->
      """WITH tok0 AS (
        |  SELECT doc_id, lang, source, UNNEST(string_split(lower(text), ' ')) AS w FROM documents),
        |tok AS (SELECT DISTINCT doc_id, lang, source, w FROM tok0 WHERE w <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, n_inter,
        |  CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // d62: directed containment — n_inter/sz_a with the threshold as an
    // integer test (n_inter·10 ≥ sz_a·9), so no FP boundary can flip a
    // pair; the double division itself is one IEEE op both engines.
    "d62_containment" ->
      """WITH tok0 AS (
        |  SELECT doc_id, lang, source, UNNEST(string_split(lower(text), ' ')) AS w FROM documents),
        |tok AS (SELECT DISTINCT doc_id, lang, source, w FROM tok0 WHERE w <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, n_inter,
        |  CAST(n_inter AS DOUBLE) / sa.sz AS containment
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a
        |WHERE n_inter * 10 >= sa.sz * 9
        |ORDER BY id_a, id_b""".stripMargin,

    // d63: the d62 pair CTE + the (size, doc_id) keeper order as one
    // NOT IN anti-join — no recursion (the total order makes chain
    // absorption transitivity-free)
    "d63_subset_prune" ->
      """WITH tok0 AS (
        |  SELECT doc_id, lang, source, UNNEST(string_split(lower(text), ' ')) AS w FROM documents),
        |tok AS (SELECT DISTINCT doc_id, lang, source, w FROM tok0 WHERE w <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |drops AS (
        |  SELECT DISTINCT id_a FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE n_inter * 10 >= sa.sz * 9
        |    AND (sb.sz > sa.sz OR (sb.sz = sa.sz AND id_b < id_a)))
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id_a FROM drops)
        |ORDER BY doc_id""".stripMargin,

    "d20_dup_clusters" ->
      """WITH RECURSIVE tok0 AS (
        |  SELECT doc_id, lang, source, UNNEST(string_split(lower(text), ' ')) AS w FROM documents),
        |tok AS (SELECT DISTINCT doc_id, lang, source, w FROM tok0 WHERE w <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.8),
        |edges AS (
        |  SELECT id_a AS node, id_b AS other FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT node, other FROM edges
        |  UNION
        |  SELECT r.node, e.other FROM reach r JOIN edges e ON r.other = e.node)
        |SELECT node, LEAST(node, MIN(other)) AS cluster_id
        |FROM reach GROUP BY node ORDER BY node""".stripMargin,

    // d5 exact cosine top-k: the independent anchor for the whole ANN
    // recall ladder (d6/d16/d17/d32 gate against this truth).
    // Bit-exact cross-engine: DuckDB list_inner_product on DOUBLE[]
    // accumulates sequentially in double, identical to DotProductF's
    // float→double loop; sqrt / * / / are IEEE correctly-rounded, so
    // the cosine doubles (and hence the (cos desc, vec_id asc)
    // ranking) match Spark bit-for-bit with NO rounding needed.
    "d5_embed_topk" ->
      """WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS q_vec, nrm AS q_nrm FROM n WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, c.vec_id AS neighbor_id,
        |         list_inner_product(q.q_vec, c.v) / (q.q_nrm * c.nrm) AS cos
        |  FROM n c JOIN q ON c.vec_id <> q.q_id)
        |SELECT q_id, neighbor_id, cos, CAST(rk AS INTEGER) AS rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rk
        |      FROM scored)
        |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "d7_lang_id" -> {
      def cnt(tok: String) = s"CAST((length(t) - length(replace(t, '$tok', ''))) / ${tok.length} AS BIGINT)"
      s"""WITH scored AS (
         |  SELECT lang,
         |    ${cnt(" the ")} + ${cnt(" and ")} AS s_en,
         |    ${cnt(" el ")} + ${cnt(" los ")} AS s_es,
         |    ${cnt(" le ")} + ${cnt(" les ")} AS s_fr,
         |    ${cnt(" der ")} + ${cnt(" und ")} AS s_de,
         |    ${cnt(" de ")} AS s_zh
         |  FROM (SELECT lang, lower(text) AS t FROM documents))
         |SELECT lang,
         |  CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
         |       WHEN s_de >= s_zh THEN 'de' ELSE 'zh' END AS pred_lang,
         |  COUNT(*) AS n_docs
         |FROM scored GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin
    },

    "d8_quality_score" -> {
      def c(tok: String) = s"CAST((length(text) - length(replace(text, '$tok', ''))) / ${tok.length} AS BIGINT)"
      def cl(tok: String) = s"CAST((length(lower(text)) - length(replace(lower(text), '$tok', ''))) / ${tok.length} AS BIGINT)"
      s"""SELECT doc_id, lang,
         |  CAST(length(text) AS DOUBLE) AS n_chars_m,
         |  CAST(length(text) AS DOUBLE) / CAST(${c(" ")} + 1 AS DOUBLE) AS avg_word_len,
         |  (CAST(${c(".")} AS DOUBLE) + CAST(${c(",")} AS DOUBLE)) / CAST(${c(" ")} + 1 AS DOUBLE) AS punct_ratio,
         |  (CAST(${cl(" the ")} + ${cl(" a ")} + ${cl(" of ")} AS DOUBLE)) / CAST(${c(" ")} + 1 AS DOUBLE) AS stopword_ratio
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "d9_token_count" -> {
      def c(tok: String) = s"CAST((length(text) - length(replace(text, '$tok', ''))) / ${tok.length} AS BIGINT)"
      s"""SELECT doc_id,
         |  ${c(" ")} + 1 AS n_words,
         |  CAST(CEIL(length(text) / 4.0) AS BIGINT) AS n_tokens_est,
         |  ${c(" data ")} + ${c(" table ")} AS n_domain_terms
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "d12_text_clean" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
        |    'https?://[^ ]+', ' ', 'g'), '[^ ]+@[^ ]+', ' ', 'g'), '\s+', ' ', 'g')) AS clean_text,
        |  CAST(length(text) AS BIGINT) - length(trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
        |    'https?://[^ ]+', ' ', 'g'), '[^ ]+@[^ ]+', ' ', 'g'), '\s+', ' ', 'g'))) AS n_removed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d14_tfidf_rank" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS w FROM documents),
        |terms AS (SELECT doc_id, w, COUNT(*) AS tc FROM tok WHERE w <> '' GROUP BY doc_id, w),
        |dfreq AS (SELECT w AS w2, COUNT(*) AS df FROM terms GROUP BY w),
        |weighted AS (
        |  SELECT doc_id, w, tc * ((SELECT COUNT(*) FROM documents) - df) AS weight
        |  FROM terms JOIN dfreq ON w = w2),
        |agg AS (SELECT doc_id, CAST(SUM(weight) AS BIGINT) AS score, COUNT(*) AS n_terms
        |        FROM weighted GROUP BY doc_id),
        |top AS (SELECT doc_id, w AS top_term FROM (
        |  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, w DESC) AS rn
        |  FROM weighted) WHERE rn = 1)
        |SELECT a.doc_id, a.score, t.top_term, a.n_terms
        |FROM agg a JOIN top t ON t.doc_id = a.doc_id ORDER BY a.doc_id""".stripMargin,

    "d15_heavy_hitters" ->
      """SELECT lang, w, COUNT(*) AS n FROM (
        |  SELECT lang, UNNEST(string_split(lower(text), ' ')) AS w FROM documents)
        |WHERE w <> '' GROUP BY lang, w ORDER BY lang, w""".stripMargin,

    "d18_chunking" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents)
        |SELECT doc_id, k AS chunk_idx,
        |  array_to_string(list_slice(ws, k * 10 + 1, k * 10 + 20), ' ') AS chunk_text,
        |  CAST(len(string_split(array_to_string(list_slice(ws, k * 10 + 1, k * 10 + 20), ' '), ' ')) AS BIGINT) AS n_chunk_words
        |FROM w, UNNEST(range(CAST(floor((len(ws) - 1) / 10) AS BIGINT) + 1)) AS t(k)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "d10_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |  md5(text) AS fp_raw
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d24_decontaminate" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS ng
        |  FROM docs, UNNEST(generate_series(1, len(ws) - 7)) AS t(i)
        |  WHERE len(ws) >= 8),
        |bench AS (SELECT DISTINCT ng FROM grams WHERE doc_id % 7 = 0)
        |SELECT doc_id, COUNT(DISTINCT ng) AS n_hits
        |FROM grams JOIN bench USING (ng)
        |WHERE doc_id % 7 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d25_repetition_score" ->
      """WITH ng AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(ws) - 2),
        |                   i -> array_to_string(ws[i:i+2], ' ')) AS ngs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |  WHERE len(ws) >= 3)
        |SELECT doc_id, CAST(len(ngs) AS BIGINT) AS n_ngrams,
        |  (len(ngs) - len(list_distinct(ngs))) / len(ngs) AS rep_frac
        |FROM ng ORDER BY doc_id""".stripMargin,

    "d27_pii_redact" ->
      """WITH dirty AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 3 = 0
        |       THEN ' user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0
        |       THEN ' ' || CAST(doc_id % 900 + 100 AS VARCHAR)
        |         || '-' || CAST(doc_id % 89 + 10 AS VARCHAR)
        |         || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END
        |  || CASE WHEN doc_id % 7 = 0
        |       THEN ' (' || CAST(doc_id % 800 + 200 AS VARCHAR)
        |         || ') 555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END
        |  AS text FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}|\d{3}-\d{2}-\d{4}|\(\d{3}\) \d{3}-\d{4}')) AS BIGINT) AS n_pii,
        |  regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}|\d{3}-\d{2}-\d{4}|\(\d{3}\) \d{3}-\d{4}', '<PII>', 'g') AS clean
        |FROM dirty ORDER BY doc_id""".stripMargin,

    "d28_stratified_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN u < CAST(0.9 AS DOUBLE) THEN 'train'
        |       WHEN u < CAST(0.95 AS DOUBLE) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |        CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |          / 4294967296.0 AS u
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "d29_ngram_topk" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT array_to_string(ws[i:i+2], ' ') AS ng
        |  FROM docs, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
        |  WHERE len(ws) >= 3)
        |SELECT ng, COUNT(*) AS n_occ
        |FROM grams GROUP BY ng
        |ORDER BY n_occ DESC, ng
        |LIMIT 50""".stripMargin,

    "d30_vocab_coverage" ->
      """WITH words AS (
        |  SELECT w FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |counts AS (SELECT w, COUNT(*) AS n_occ FROM words GROUP BY w),
        |top AS (SELECT w, n_occ FROM counts ORDER BY n_occ DESC, w LIMIT 100)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, w) AS BIGINT) AS rnk,
        |  w, n_occ,
        |  CAST(SUM(n_occ) OVER (ORDER BY n_occ DESC, w
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST((SELECT SUM(n_occ) FROM counts) AS DOUBLE) AS cum_frac
        |FROM top ORDER BY rnk""".stripMargin,

    "d31_token_budget_mix" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
        |    CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      / 4294967296.0 AS u
        |  FROM documents),
        |counts AS (SELECT source, SUM(n_tokens) AS src_tokens FROM toks GROUP BY source),
        |budgets AS (SELECT source,
        |  CAST(0.5 AS DOUBLE) * (SELECT SUM(src_tokens) FROM counts)
        |    / (SELECT COUNT(*) FROM counts) AS budget
        |  FROM counts),
        |c AS (SELECT doc_id, source, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM toks)
        |SELECT doc_id, source, n_tokens FROM c JOIN budgets USING (source)
        |WHERE cum <= budget ORDER BY doc_id""".stripMargin,

    "d35_split_leakage" ->
      """WITH tok0 AS (
        |  SELECT doc_id, lang, source, UNNEST(string_split(lower(text), ' ')) AS w FROM documents),
        |tok AS (SELECT DISTINCT doc_id, lang, source, w FROM tok0 WHERE w <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b,
        |    CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
        |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.8)
        |SELECT id_a, id_b, jaccard,
        |  CASE WHEN ua < CAST(0.9 AS DOUBLE) THEN 'train'
        |       WHEN ua < CAST(0.95 AS DOUBLE) THEN 'val' ELSE 'test' END AS split_a,
        |  CASE WHEN ub < CAST(0.9 AS DOUBLE) THEN 'train'
        |       WHEN ub < CAST(0.95 AS DOUBLE) THEN 'val' ELSE 'test' END AS split_b
        |FROM (SELECT id_a, id_b, jaccard,
        |        CAST(CONCAT('0x', SUBSTRING(md5(CAST(id_a AS VARCHAR)), 1, 8)) AS BIGINT)
        |          / 4294967296.0 AS ua,
        |        CAST(CONCAT('0x', SUBSTRING(md5(CAST(id_b AS VARCHAR)), 1, 8)) AS BIGINT)
        |          / 4294967296.0 AS ub
        |      FROM pairs)
        |WHERE (CASE WHEN ua < CAST(0.9 AS DOUBLE) THEN 'train'
        |            WHEN ua < CAST(0.95 AS DOUBLE) THEN 'val' ELSE 'test' END) <>
        |      (CASE WHEN ub < CAST(0.9 AS DOUBLE) THEN 'train'
        |            WHEN ub < CAST(0.95 AS DOUBLE) THEN 'val' ELSE 'test' END)
        |ORDER BY id_a, id_b""".stripMargin,

    "d34_template_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |c AS (SELECT doc_id,
        |        array_to_string(list_slice(ws, k * 10 + 1, k * 10 + 20), ' ') AS chunk_text
        |      FROM w, UNNEST(range(CAST(floor((len(ws) - 1) / 10) AS BIGINT) + 1)) AS t(k))
        |SELECT chunk_text, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
        |FROM c WHERE len(string_split(chunk_text, ' ')) = 20
        |GROUP BY chunk_text HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, chunk_text""".stripMargin,

    "d40_span_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, k AS span_idx,
        |        array_to_string(list_slice(ws, k * 10 + 1, k * 10 + 10), ' ') AS span_text
        |      FROM w, UNNEST(range(CAST(floor((len(ws) - 1) / 10) AS BIGINT) + 1)) AS t(k)),
        |f AS (SELECT span_text, MIN(doc_id * 1048576 + span_idx) AS keep_key
        |      FROM s WHERE len(string_split(span_text, ' ')) = 10
        |      GROUP BY span_text),
        |kept AS (
        |  SELECT keep_key // 1048576 AS doc_id, keep_key % 1048576 AS span_idx, span_text
        |  FROM f
        |  UNION ALL
        |  SELECT doc_id, span_idx, span_text FROM s
        |  WHERE len(string_split(span_text, ' ')) < 10),
        |r AS (SELECT doc_id, string_agg(span_text, ' ' ORDER BY span_idx) AS clean_text,
        |        COUNT(*) AS n_kept
        |      FROM kept GROUP BY doc_id)
        |SELECT doc_id, clean_text,
        |  CAST(floor((len(string_split(d.text, ' ')) - 1) / 10) AS BIGINT) + 1 AS n_spans,
        |  n_kept
        |FROM documents d JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "d41_exact_substr" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+19], ' ') AS gram
        |      FROM w, UNNEST(generate_series(1, len(ws) - 19)) AS t(i)),
        |shared AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |sp AS (SELECT doc_id, pos,
        |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |       FROM g JOIN shared USING (gram))
        |SELECT doc_id, MIN(pos) AS start_tok,
        |  MAX(pos) - MIN(pos) + 20 AS n_tokens
        |FROM sp GROUP BY doc_id, grp
        |ORDER BY doc_id, start_tok""".stripMargin,

    "d42_substr_clip" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+19], ' ') AS gram
        |      FROM w, UNNEST(generate_series(1, len(ws) - 19)) AS t(i)),
        |st AS (SELECT gram, COUNT(*) AS c, MIN(doc_id * 1048576 + pos) AS first_key
        |       FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |rm AS (SELECT doc_id, pos FROM g JOIN st USING (gram)
        |       WHERE doc_id * 1048576 + pos <> first_key),
        |isl AS (SELECT doc_id, pos,
        |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM rm),
        |runs AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 19 AS e
        |         FROM isl GROUP BY doc_id, grp),
        |rmtok AS (SELECT DISTINCT doc_id, t.tok
        |          FROM runs, UNNEST(generate_series(s, e)) AS t(tok)),
        |tok AS (SELECT doc_id, i - 1 AS tok, ws[i] AS wd
        |        FROM w, UNNEST(generate_series(1, len(ws))) AS t(i)),
        |kept AS (SELECT tok.doc_id, tok.tok, tok.wd
        |         FROM tok LEFT JOIN rmtok
        |           ON tok.doc_id = rmtok.doc_id AND tok.tok = rmtok.tok
        |         WHERE rmtok.doc_id IS NULL),
        |r AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY tok) AS clean_text,
        |        COUNT(*) AS n_kept
        |      FROM kept GROUP BY doc_id)
        |SELECT doc_id, clean_text,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) - n_kept AS n_removed
        |FROM documents d JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // d37: the FULL BPE replay in SQL (the shared [[BpeCte]] prefix +
    // the per-doc token rollup). Training is a recursive CTE of
    // depth numMerges (≤200): the working table carries one state row
    // per dict word plus one 'm' (merge) row per round; the globally
    // most-frequent pair (count desc, pair asc, count ≥ 2 — Bpe.train's
    // exact tie-break) is an aggregate over the recursive reference
    // (DuckDB allows it). Greedy encode is a second recursive CTE of
    // depth = word length over the DISTINCT corpus words, stepping the
    // per-word lowest-rank present pair. The left-to-right
    // non-overlapping "merge all occurrences" pass both loops share is
    // expressed relationally: candidate positions grouped into
    // consecutive islands (overlaps only happen when a = b), keep the
    // even offsets, drop the position after each kept one.
    "d37_bpe_token_count" ->
      s"""$BpeCte
         |SELECT d.doc_id,
         |  CAST(COALESCE(SUM(ntok.n), 0) AS BIGINT) AS n_tokens_bpe,
         |  CAST(CEIL(LENGTH(d.text) / 4.0) AS BIGINT) AS n_tokens_est
         |FROM documents d
         |LEFT JOIN words ON words.doc_id = d.doc_id
         |LEFT JOIN ntok ON ntok.w = words.w
         |GROUP BY d.doc_id, d.text
         |ORDER BY d.doc_id""".stripMargin,

    // d39: the packing walk on top of the BPE replay — per doc, a
    // recursive CTE of depth = word count steps the EXACT first-fit
    // loop (close-before when the word overflows the open chunk,
    // close-after when the chunk fills to/past budget — both can fire
    // in ONE step, hence the two emit slots), positions from the raw
    // split with empties dropped. wtok/doclen/ntok MATERIALIZED: the
    // recursion re-reads them each step and DuckDB would otherwise
    // inline (re-run) the whole encode recursion per step.
    "d39_bpe_chunks" ->
      s"""$BpeCte,
         |wpos0 AS (
         |  SELECT doc_id, g.p AS rawp, parts[g.p] AS w
         |  FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
         |       UNNEST(generate_series(1, len(parts))) AS g(p)),
         |wpos AS (
         |  SELECT doc_id, w,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rawp) AS i
         |  FROM wpos0 WHERE w <> ''),
         |wtok AS MATERIALIZED (
         |  SELECT wpos.doc_id, wpos.i, wpos.w, ntok.n
         |  FROM wpos JOIN ntok ON ntok.w = wpos.w),
         |doclen AS MATERIALIZED (SELECT doc_id, MAX(i) AS nw FROM wtok GROUP BY doc_id),
         |packed(doc_id, i, used, open_txt, ci, em1_ci, em1_txt, em1_n, em2_ci, em2_txt, em2_n) AS (
         |  SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST('' AS VARCHAR), CAST(0 AS BIGINT),
         |         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         |         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
         |  FROM doclen
         |  UNION ALL
         |  SELECT p.doc_id, p.i + 1,
         |    CASE WHEN u1 >= 64 THEN 0 ELSE u1 END,
         |    CASE WHEN u1 >= 64 THEN '' ELSE o1 END,
         |    CASE WHEN u1 >= 64 THEN c1 + 1 ELSE c1 END,
         |    CASE WHEN pre THEN p.ci END,
         |    CASE WHEN pre THEN p.open_txt END,
         |    CASE WHEN pre THEN p.used END,
         |    CASE WHEN u1 >= 64 THEN c1 END,
         |    CASE WHEN u1 >= 64 THEN o1 END,
         |    CASE WHEN u1 >= 64 THEN u1 END
         |  FROM (
         |    SELECT p.*, w.w, w.n,
         |      (p.used > 0 AND p.used + w.n > 64) AS pre,
         |      CASE WHEN (p.used > 0 AND p.used + w.n > 64) OR p.used = 0
         |           THEN w.w ELSE p.open_txt || ' ' || w.w END AS o1,
         |      CASE WHEN (p.used > 0 AND p.used + w.n > 64)
         |           THEN w.n ELSE p.used + w.n END AS u1,
         |      CASE WHEN (p.used > 0 AND p.used + w.n > 64)
         |           THEN p.ci + 1 ELSE p.ci END AS c1
         |    FROM packed p JOIN wtok w ON w.doc_id = p.doc_id AND w.i = p.i + 1
         |  ) p
         |),
         |emitted AS (
         |  SELECT doc_id, em1_ci AS ci, em1_txt AS txt, em1_n AS n FROM packed WHERE em1_ci IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id, em2_ci, em2_txt, em2_n FROM packed WHERE em2_ci IS NOT NULL
         |  UNION ALL
         |  SELECT p.doc_id, p.ci, p.open_txt, p.used
         |  FROM packed p JOIN doclen d ON d.doc_id = p.doc_id AND p.i = d.nw
         |  WHERE p.used > 0
         |)
         |SELECT doc_id, CAST(ci AS INT) AS chunk_idx, txt AS chunk_text, CAST(n AS BIGINT) AS n_tokens
         |FROM emitted ORDER BY doc_id, chunk_idx""".stripMargin,

    "d33_unigram_nll" ->
      """WITH words AS (
        |  SELECT doc_id, w
        |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |counts AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
        |tot AS (SELECT SUM(c) AS total FROM counts),
        |top AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 1000)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(CAST(SUM(CAST(ROUND(-LN(CASE WHEN c IS NOT NULL
        |           THEN c / total ELSE CAST(0.5 AS DOUBLE) / total END), 9)
        |         AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS nll
        |FROM words LEFT JOIN top USING (w) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Gopher char-weighted repetition: per k, (doc, gram) counts → the
    // (count, gram)-lexicographic winner GopherStats picks, derived in
    // TWO phases (max count per doc, then string-max gram among the
    // tied rows) — measured 5× faster and far lighter than a struct
    // MAX({'c','ng'}) over the full gram-count table, with an
    // identical winner by construction. LEFT JOIN + COALESCE mirrors
    // the (0,0) short-doc case. Generated over the shared k/threshold
    // lists so the two dialects can never drift on what is measured.
    "d43_gopher_repetition" -> {
      val topKs = graft.operators.Curation.GopherTopThresholds
      val dupKs = graft.operators.Curation.GopherDupThresholds
      val topSet = topKs.map(_._1).toSet
      val ctes = (topKs ++ dupKs).map(_._1).map { k =>
        val base =
          s"""g$k AS (SELECT doc_id, array_to_string(ws[i:i+${k - 1}], ' ') AS ng
             |  FROM docs, UNNEST(generate_series(1, len(ws) - ${k - 1})) AS t(i)
             |  WHERE len(ws) >= $k),
             |s$k AS (SELECT doc_id, ng, COUNT(*) AS c FROM g$k GROUP BY doc_id, ng),
             |a$k AS (SELECT doc_id, MAX(c) AS mc,
             |    SUM(CASE WHEN c >= 2 THEN c * LEN(ng) ELSE 0 END) AS dup
             |  FROM s$k GROUP BY doc_id)""".stripMargin
        if (!topSet(k)) base else base +
          s""",
             |t$k AS (SELECT s$k.doc_id AS doc_id, MAX(s$k.ng) AS bng
             |  FROM s$k JOIN a$k ON s$k.doc_id = a$k.doc_id AND s$k.c = a$k.mc
             |  GROUP BY s$k.doc_id)""".stripMargin
      }.mkString(",\n")
      val joins = (topKs ++ dupKs).map(_._1)
        .map(k => s"LEFT JOIN a$k ON d.doc_id = a$k.doc_id" +
          (if (topSet(k)) s" LEFT JOIN t$k ON d.doc_id = t$k.doc_id" else ""))
        .mkString("\n")
      val topCols = topKs.map { case (k, _) =>
        s"""CAST(COALESCE(a$k.mc * LEN(t$k.bng), 0) AS DOUBLE)
           |  / LEN(d.text) AS top${k}_frac""".stripMargin
      }
      val dupCols = dupKs.map { case (k, _) =>
        s"CAST(COALESCE(a$k.dup, 0) AS DOUBLE) / LEN(d.text) AS dup${k}_frac"
      }
      val keep = (topKs.map { case (k, t) => s"top${k}_frac < $t" } ++
        dupKs.map { case (k, t) => s"dup${k}_frac < $t" }).mkString(" AND ")
      s"""WITH docs AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         |$ctes,
         |base AS (SELECT d.doc_id, LEN(d.text) AS n_chars,
         |${(topCols ++ dupCols).mkString(",\n")}
         |FROM docs d
         |$joins)
         |SELECT doc_id, n_chars,
         |  ${(topKs.map(k => s"top${k._1}_frac") ++ dupKs.map(k => s"dup${k._1}_frac")).mkString(", ")},
         |  ($keep) AS keep
         |FROM base ORDER BY doc_id""".stripMargin
    },

    "d44_bigram_lm" -> D44Sql,

    // CCNet buckets: rank thirds over the EXACT d44 NLL (embedded as a
    // subquery so the two entries can never drift) — integer bucket
    // math, ROW_NUMBER over the tie-free (nll2, doc_id) order, the d26
    // md5 hash rule for the tail sample.
    "d52_ccnet_buckets" ->
      s"""WITH nll AS ($D44Sql),
         |n AS (SELECT COUNT(*) AS c FROM nll),
         |r AS (SELECT doc_id, nll2,
         |    ROW_NUMBER() OVER (ORDER BY nll2, doc_id) AS rn FROM nll)
         |SELECT doc_id, nll2,
         |  CAST(((rn - 1) * 3) // c AS INT) AS bucket,
         |  CASE ((rn - 1) * 3) // c WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
         |       ELSE 'tail' END AS tier,
         |  (((rn - 1) * 3) // c < 2) OR
         |    (CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |          / 4294967296.0 < CAST(0.1 AS DOUBLE)) AS keep
         |FROM r CROSS JOIN n ORDER BY doc_id""".stripMargin,

    // Weighted sample: hex-parse pairing (CAST('0x…') ↔ conv(…,16,10)),
    // 9 dp key round absorbs ln() ulp differences, row_number over
    // (skey, doc_id) ≡ the aggregate's (score desc, id asc) order.
    "d57_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    round(-ln((CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |                         AS BIGINT) AS DOUBLE) + 1) / 4294967296.0)
        |          / greatest(n_chars, 1), 9) AS skey
        |  FROM documents),
        |r AS (SELECT source, doc_id, skey,
        |        row_number() OVER (PARTITION BY source ORDER BY skey, doc_id) AS rn
        |      FROM s)
        |SELECT source, rn, doc_id, skey FROM r
        |WHERE rn <= 50 ORDER BY source, rn""".stripMargin,

    // Boilerplate scrub: same non-overlapping 3-word block geometry
    // (1-based i here, 0-based block_idx in Spark — the slice windows
    // coincide), fullb arithmetic identical, string_agg ORDER BY
    // block_idx ≡ sort_array over (block_idx, blk) structs, COALESCE
    // for all-boiler docs (string_agg over zero rows is NULL, Spark's
    // array_join over an empty array is ''). `fullb` not `full`:
    // FULL is reserved in the oracle dialect.
    "d54_boilerplate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |blocks AS (
        |  SELECT doc_id, i AS block_idx,
        |         array_to_string(ws[(i-1)*3+1:(i-1)*3+3], ' ') AS blk,
        |         len(ws) - (i-1)*3 >= 3 AS fullb
        |  FROM toks,
        |       LATERAL (SELECT unnest(generate_series(1,
        |                  CAST(ceil(len(ws) / 3.0) AS BIGINT))) AS i)),
        |boiler AS (SELECT blk FROM blocks WHERE fullb
        |           GROUP BY blk HAVING count(DISTINCT doc_id) >= 5),
        |marked AS (SELECT b.doc_id, b.block_idx, b.blk,
        |                  b.fullb AND b.blk IN (SELECT blk FROM boiler) AS is_b
        |           FROM blocks b)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
        |       CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |       coalesce(string_agg(CASE WHEN NOT is_b THEN blk END,
        |                           ' ' ORDER BY block_idx), '') AS text_clean
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // URL curation: planting CASEs mirror Curation.withUrls verbatim;
    // the normalization chain is the same regex sequence (RE2 '\1'
    // backrefs here vs Java '$1' in Spark; the 'g' flag on the utm
    // strip because this dialect replaces only the first match by
    // default, Spark replaces all); dedup via min/count windows.
    "d55_url_filter" ->
      """WITH urls0 AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END ||
        |     CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
        |     source || '.EXAMPLE.com' ||
        |     CASE WHEN doc_id % 14 = 0 THEN ':443' ELSE '' END ||
        |     '/page/' ||
        |     CASE WHEN doc_id % 9 = 0 THEN 'dup' ELSE CAST(doc_id AS VARCHAR) END ||
        |     CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END ||
        |     CASE WHEN doc_id % 4 = 0
        |          THEN '?utm_source=feed&utm_id=' || CAST(doc_id % 10 AS VARCHAR)
        |          ELSE '' END) AS url
        |  FROM documents),
        |n1 AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^([^/]*//[^/?]*)', 1)),
        |      '^(https?://)www\.', '\1'),
        |      '^(https://[^/:?]*):443$', '\1'),
        |      '^(http://[^/:?]*):80$', '\1') AS pre,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      substring(url, length(regexp_extract(url, '^([^/]*//[^/?]*)', 1)) + 1),
        |      '[?&]utm_[^&]*', '', 'g'),
        |      '^([^?&]*)&', '\1?'),
        |      '/$', '') AS rest
        |  FROM urls0),
        |urls AS (
        |  SELECT doc_id, url, pre || rest AS url_norm,
        |    regexp_extract(pre || rest, '^[a-z]+://([^/:?]+)', 1) AS domain
        |  FROM n1)
        |SELECT doc_id, url, url_norm, domain,
        |  count(*) OVER (PARTITION BY url_norm) AS n_dups,
        |  (domain NOT IN ('src3.example.com', 'src11.example.com')
        |   AND doc_id = min(doc_id) OVER (PARTITION BY url_norm)) AS keep
        |FROM urls ORDER BY doc_id""".stripMargin,

    // Frozen-LM scoring: the reference slice's counts via LEFT joins +
    // COALESCE floors, otherwise the d44 term verbatim.
    "d53_lm_score" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS ng, ws[i] AS w1
        |  FROM docs, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2),
        |ref AS (SELECT doc_id, ws FROM docs WHERE doc_id % 7 = 0),
        |tcb AS (SELECT ng, COUNT(*) AS cb FROM (
        |  SELECT array_to_string(ws[i:i+1], ' ') AS ng
        |  FROM ref, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2) GROUP BY ng),
        |tcu AS (SELECT w, COUNT(*) AS cu
        |  FROM (SELECT UNNEST(ws) AS w FROM ref) GROUP BY w),
        |tv AS (SELECT COUNT(*) AS v FROM tcu)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(ROUND(-LN(CAST(COALESCE(cb, 0) + 1 AS DOUBLE)
        |        / (COALESCE(cu, 0) + v)), 9)
        |        AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS nll_lm
        |FROM grams LEFT JOIN tcb USING (ng) LEFT JOIN tcu ON grams.w1 = tcu.w
        |CROSS JOIN tv
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DSIR: the three double divisions and the LN are parenthesized
    // exactly as the Spark side computes them; totals stay integral
    // (CAST(SUM AS BIGINT) — DuckDB SUM(BIGINT) is HUGEINT) so every
    // input to the float math is exact in both engines.
    "d46_dsir_weights" ->
      """WITH raw_words AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |tgt_words AS (
        |  SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
        |  WHERE doc_id % 7 = 0),
        |cr AS (SELECT w, COUNT(*) AS cr FROM raw_words GROUP BY w),
        |ct AS (SELECT w, COUNT(*) AS ct FROM tgt_words GROUP BY w),
        |scal AS (
        |  SELECT (SELECT COUNT(*) FROM (SELECT w FROM cr UNION SELECT w FROM ct)) AS v,
        |    (SELECT CAST(SUM(cr) AS BIGINT) FROM cr) AS tr,
        |    (SELECT CAST(SUM(ct) AS BIGINT) FROM ct) AS tt)
        |SELECT doc_id, COUNT(*) AS n_words,
        |  ROUND(CAST(SUM(CAST(ROUND(LN(
        |      (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / (tt + v)) /
        |      (CAST(cr + 1 AS DOUBLE) / (tr + v))), 9)
        |    AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS dsir_w
        |FROM raw_words JOIN cr USING (w) LEFT JOIN ct USING (w) CROSS JOIN scal
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d47_corpus_report" ->
      """WITH per AS (
        |  SELECT lang, source, text, len(ws) AS nw, LEN(text) AS nc,
        |    CASE WHEN len(ws) >= 3 THEN len(ngs) ELSE 0 END AS n_ng,
        |    CASE WHEN len(ws) >= 3 THEN len(ngs) - len(list_distinct(ngs))
        |         ELSE 0 END AS dup_ng
        |  FROM (SELECT lang, source, text, ws,
        |      list_transform(generate_series(1, len(ws) - 2),
        |                     i -> array_to_string(ws[i:i+2], ' ')) AS ngs
        |    FROM (SELECT lang, source, text, string_split(text, ' ') AS ws
        |          FROM documents)))
        |SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(nw) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(SUM(nc) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
        |  CAST(COUNT(*) - COUNT(DISTINCT text) AS DOUBLE) / COUNT(*) AS dup_rate,
        |  CAST(SUM(CASE WHEN nw < 20 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |    AS short_frac,
        |  CASE WHEN SUM(n_ng) = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE CAST(SUM(dup_ng) AS DOUBLE) / SUM(n_ng) END AS rep3_frac
        |FROM per GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // BM25: the VALUES list is generated from Retrieval.BmQueries (the
    // dialects cannot drift on the workload); every float literal is
    // CAST to DOUBLE (bare DuckDB decimals would run decimal math);
    // ranking compares the EXACT decimal sums, ties break on doc_id —
    // the same (score desc, id asc) order TopKByScore maintains.
    "d48_bm25" ->
      s"""WITH $D48Ctes
         |SELECT CAST(query_id AS INT) AS query_id, CAST(rnk AS INT) AS rnk,
         |  doc_id, ROUND(CAST(s AS DOUBLE), 6) AS score
         |FROM ranked WHERE rnk <= ${graft.operators.Retrieval.TopK}
         |ORDER BY query_id, rnk""".stripMargin,

    "d6_ivf_ann" -> D6Sql,

    "d11_near_dup_cosine" -> D11Sql,

    "d32_pq_ann" -> D32Sql,

    "d38_semantic_decon" -> D38Sql,

    "d45_semdedup" -> D45Sql,

    "d61_topic_clusters" -> D61Sql,

    "d16_quantized_ann" -> D16Sql,

    "d56_quality_classifier" -> D56Sql,

    "d58_set_sketch" -> KmvSketchSql,

    "d59_doc_embed" ->
      s"""WITH $D59Ctes
         |SELECT doc_id, bucket, w_raw, w_norm FROM demb
         |ORDER BY doc_id, bucket""".stripMargin,

    // d60: the full CTE twin — d48's ranked lexical list + d59's unit
    // weights + a VALUES-hashed query side + row_number fusion. The
    // rrf contributions round to 9 dp per ranker; the two-term sum is
    // one IEEE add of identical doubles, so ties and order agree.
    "d60_hybrid_rrf" ->
      s"""WITH $D48Ctes,
         |$D59Ctes,
         |$D60Ctes
         |SELECT CAST(query_id AS INT) AS query_id, CAST(rnk AS INT) AS rnk,
         |  doc_id, rrf
         |FROM fr WHERE rnk <= ${graft.operators.Retrieval.TopK}
         |ORDER BY query_id, rnk""".stripMargin,

    // d76: retrieval-quality metrics — term-coverage qrels (distinct
    // query terms per doc, from the SAME words CTE BM25 scores), both
    // registered rankings union'd, per-rank DCG terms 9dp-rounded and
    // decimal-summed (the d33 discipline — the round absorbs ln()
    // ulps in the log2 discount), ideal ordering by (rel DESC,
    // doc_id) = TopKByScore's tie-break, displayed metrics 6dp of the
    // exact decimal's double cast (the d48 discipline).
    "d76_retrieval_metrics" -> {
      val k = graft.operators.Retrieval.TopK
      def dterm(rel: String, rank: String): String =
        s"""CAST(ROUND(CAST($rel AS DOUBLE) /
           |      (LN(CAST(($rank) + 1 AS DOUBLE)) / LN(CAST(2 AS DOUBLE))), 9)
           |    AS DECIMAL(18,9))""".stripMargin
      s"""WITH $D48Ctes,
         |$D59Ctes,
         |$D60Ctes,
         |runs AS (
         |  SELECT 'bm25' AS system, query_id, doc_id, CAST(rnk AS INT) AS rnk
         |  FROM ranked WHERE rnk <= $k
         |  UNION ALL
         |  SELECT 'rrf' AS system, query_id, doc_id, CAST(rnk AS INT) AS rnk
         |  FROM fr WHERE rnk <= $k),
         |qrel AS MATERIALIZED (
         |  SELECT qt.query_id AS query_id, w.doc_id AS doc_id,
         |    CAST(COUNT(DISTINCT w.w) AS INT) AS rel
         |  FROM words w JOIN qt ON w.w = qt.qw
         |  GROUP BY qt.query_id, w.doc_id),
         |graded AS (
         |  SELECT r.system, r.query_id, r.doc_id, r.rnk,
         |    COALESCE(q.rel, 0) AS rel
         |  FROM runs r LEFT JOIN qrel q
         |    ON q.query_id = r.query_id AND q.doc_id = r.doc_id),
         |persys AS (
         |  SELECT system, query_id,
         |    SUM(${dterm("rel", "rnk")}) AS dcg_d,
         |    MIN(CASE WHEN rel >= 1 THEN rnk END) AS frel
         |  FROM graded GROUP BY system, query_id),
         |ideal AS (
         |  SELECT query_id, rel,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, doc_id) AS irnk
         |  FROM qrel),
         |idcg AS (
         |  SELECT query_id, SUM(${dterm("rel", "irnk")}) AS idcg_d
         |  FROM ideal WHERE irnk <= $k GROUP BY query_id)
         |SELECT CAST(p.query_id AS INT) AS query_id, p.system AS system,
         |  COALESCE(CAST(1 AS DOUBLE) / frel, CAST(0 AS DOUBLE)) AS rr,
         |  ROUND(CAST(dcg_d AS DOUBLE), 6) AS dcg,
         |  COALESCE(ROUND(CAST(idcg_d AS DOUBLE), 6), CAST(0 AS DOUBLE)) AS idcg,
         |  CASE WHEN idcg_d > 0
         |    THEN ROUND(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE), 6)
         |    ELSE CAST(0 AS DOUBLE) END AS ndcg
         |FROM persys p LEFT JOIN idcg i ON i.query_id = p.query_id
         |ORDER BY p.query_id, p.system""".stripMargin
    },

    // Sequence packing: a per-(source, shard) recursive CTE replays the
    // SAME greedy reset-accumulator walk PackSeqs runs as a tight loop —
    // recursion advances all groups one row per iteration, so depth is
    // the max group size (<= shardSize), never the corpus.
    "d49_sequence_pack" -> {
      val c = graft.operators.Curation.PackCapacity
      val sh = graft.operators.Curation.PackShard
      s"""WITH RECURSIVE base AS (
         |  SELECT source, doc_id // $sh AS shard, doc_id,
         |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source, doc_id // $sh
         |                            ORDER BY doc_id) AS INT) AS i
         |  FROM documents),
         |rec AS (
         |  SELECT source, shard, doc_id, n_tok, i,
         |    1 AS seq_id, 0 AS tok_offset, n_tok AS acc
         |  FROM base WHERE i = 1
         |  UNION ALL
         |  SELECT b.source, b.shard, b.doc_id, b.n_tok, b.i,
         |    CASE WHEN r.acc + b.n_tok <= $c THEN r.seq_id ELSE r.seq_id + 1 END,
         |    CASE WHEN r.acc + b.n_tok <= $c THEN r.acc ELSE 0 END,
         |    CASE WHEN r.acc + b.n_tok <= $c THEN r.acc + b.n_tok ELSE b.n_tok END
         |  FROM rec r JOIN base b
         |    ON b.source = r.source AND b.shard = r.shard AND b.i = r.i + 1)
         |SELECT source, shard, doc_id, n_tok, seq_id, tok_offset
         |FROM rec ORDER BY source, shard, doc_id""".stripMargin
    },

    // KL drift: corpus counts are the rollup of per-source counts in
    // BOTH dialects; the smoothed probabilities divide a double-cast
    // integral numerator by an integral (ts + v) exactly as the Spark
    // side does, and the per-term 9 dp round + decimal sum gives the
    // order-independent total.
    "d50_unigram_drift" ->
      """WITH words AS (
        |  SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |cs AS (SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w),
        |cc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS ccnt FROM cs GROUP BY w),
        |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ts, COUNT(*) AS nd
        |  FROM cs GROUP BY source),
        |tot AS (SELECT CAST(SUM(ccnt) AS BIGINT) AS tc, COUNT(*) AS v FROM cc)
        |SELECT st.source AS source, MAX(ts) AS n_tokens, MAX(nd) AS n_distinct,
        |  ROUND(CAST(SUM(CAST(ROUND(
        |      (CAST(COALESCE(c, 0) + 1 AS DOUBLE) / (ts + v)) *
        |      LN((CAST(COALESCE(c, 0) + 1 AS DOUBLE) / (ts + v)) /
        |         (CAST(ccnt + 1 AS DOUBLE) / (tc + v)))
        |    , 9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS kl
        |FROM cc CROSS JOIN st
        |LEFT JOIN cs ON cs.source = st.source AND cs.w = cc.w
        |CROSS JOIN tot
        |GROUP BY st.source ORDER BY source""".stripMargin,

    // Snapshot diff: the same deterministic old/new slices; counts of
    // nullable keys use COUNT(col) (skips nulls) in both dialects.
    "d51_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 10 < 9),
        |n AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 10 = 5 THEN text || ' EDITED' ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 > 0)
        |SELECT COALESCE(o.source, n.source) AS source,
        |  COUNT(o.doc_id) AS n_old, COUNT(n.doc_id) AS n_new,
        |  CAST(SUM(CASE WHEN o.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS added,
        |  CAST(SUM(CASE WHEN n.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed,
        |  CAST(SUM(CASE WHEN o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
        |           AND o.text <> n.text THEN 1 ELSE 0 END) AS BIGINT) AS changed,
        |  CAST(SUM(CASE WHEN o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
        |           AND o.text = n.text THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |GROUP BY COALESCE(o.source, n.source) ORDER BY source""".stripMargin,

    "d26_domain_mix" ->
      """WITH counts AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
        |rates AS (SELECT source,
        |  LEAST(CAST(1.0 AS DOUBLE),
        |        CAST(0.5 AS DOUBLE) * (SELECT SUM(n_src) FROM counts)
        |          / (SELECT COUNT(*) FROM counts) / n_src) AS keep_rate
        |  FROM counts),
        |u AS (SELECT doc_id, source,
        |        CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |          / 4294967296.0 AS u
        |      FROM documents)
        |SELECT doc_id, source FROM u JOIN rates USING (source)
        |WHERE u < keep_rate ORDER BY doc_id""".stripMargin,

    // d64: the α=0.3 temperature shares replay with the exact op order
    // of Curation.temperatureMixOf — 9dp-rounded pow terms (absorbs
    // JVM-vs-libm pow ulps), exact DECIMAL(18,9) denominator (unscaled
    // ≪ 2^53 so the double cast is the same single rounding), 9dp
    // keep_rate. Literal halves/alpha CAST to DOUBLE (a bare DuckDB
    // numeric literal is DECIMAL).
    "d64_temperature_mix" ->
      """WITH docs AS (SELECT doc_id,
        |    CASE WHEN doc_id % 100 < 55 THEN 'g0'
        |         WHEN doc_id % 100 < 80 THEN 'g1'
        |         WHEN doc_id % 100 < 92 THEN 'g2'
        |         WHEN doc_id % 100 < 98 THEN 'g3'
        |         ELSE 'g4' END AS source
        |  FROM documents),
        |counts AS (SELECT source, COUNT(*) AS n_src FROM docs GROUP BY source),
        |tot AS (SELECT SUM(n_src) AS total FROM counts),
        |terms AS (SELECT source, n_src,
        |    ROUND(POWER(CAST(n_src AS DOUBLE) / CAST((SELECT total FROM tot) AS DOUBLE),
        |      CAST(0.3 AS DOUBLE)), 9) AS t
        |  FROM counts),
        |den AS (SELECT SUM(CAST(t AS DECIMAL(18,9))) AS den FROM terms),
        |rates AS (SELECT source,
        |    ROUND(LEAST(CAST(1.0 AS DOUBLE),
        |      CAST(0.5 AS DOUBLE) * CAST((SELECT total FROM tot) AS DOUBLE)
        |        * (t / CAST((SELECT den FROM den) AS DOUBLE))
        |        / CAST(n_src AS DOUBLE)), 9) AS keep_rate
        |  FROM terms),
        |u AS (SELECT doc_id, source,
        |    CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      / 4294967296.0 AS u
        |  FROM docs)
        |SELECT doc_id, source, keep_rate FROM u JOIN rates USING (source)
        |WHERE u < keep_rate ORDER BY doc_id""".stripMargin,

    // d65: the d4/d20 pair CTE feeding an 8-round recursive power
    // iteration in EXACT integer 1e-9 units (// is DuckDB integer
    // division, matching Spark's DIV on positive values; SUM(BIGINT)
    // is HUGEINT, cast back down — masses are ≤1e9 units so 85·sum
    // fits BIGINT). Multi-consumed CTEs MATERIALIZED (the recursion
    // re-reads edges/deg every round).
    "d65_graph_pagerank" ->
      """WITH RECURSIVE tok0 AS (
        |  SELECT doc_id, lang, source, UNNEST(string_split(lower(text), ' ')) AS w FROM documents),
        |tok AS MATERIALIZED (SELECT DISTINCT doc_id, lang, source, w FROM tok0 WHERE w <> ''),
        |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.8),
        |edges AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg),
        |pr AS (
        |  SELECT 0 AS it, src AS node,
        |    CAST(1000000000 // (SELECT n FROM nn) AS BIGINT) AS r FROM deg
        |  UNION ALL
        |  SELECT * FROM (
        |    WITH prev AS (SELECT * FROM pr WHERE it < 8),
        |    contrib AS (
        |      SELECT e.dst AS node, p.r // d.deg AS c
        |      FROM edges e JOIN prev p ON p.node = e.src JOIN deg d ON d.src = e.src),
        |    nxt AS (
        |      SELECT node,
        |        CAST(150000000 // (SELECT n FROM nn) + (85 * SUM(c)) // 100 AS BIGINT) AS r
        |      FROM contrib GROUP BY node)
        |    SELECT it0.it + 1 AS it, nxt.node, nxt.r
        |    FROM (SELECT DISTINCT it FROM prev) it0, nxt))
        |SELECT p.node, d.deg, p.r AS r_units, CAST(p.r AS DOUBLE) * 1e-9 AS pagerank
        |FROM pr p JOIN deg d ON d.src = p.node WHERE p.it = 8 ORDER BY p.node""".stripMargin,

    // d69: the d65 replay with jaccard-weighted contributions — pairs
    // gain an exact integer 1e-6-unit weight w = (1e6·inter)//union,
    // contributions are (r·w)//W_u, and the recursion carries the
    // previous round's rank so the final rows emit the per-node
    // convergence delta. Same integer-division/HUGEINT notes as d65.
    "d69_weighted_pagerank" ->
      """WITH RECURSIVE tok0 AS (
        |  SELECT doc_id, lang, source, UNNEST(string_split(lower(text), ' ')) AS w FROM documents),
        |tok AS MATERIALIZED (SELECT DISTINCT doc_id, lang, source, w FROM tok0 WHERE w <> ''),
        |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS MATERIALIZED (
        |  SELECT id_a, id_b,
        |    CAST((1000000 * n_inter) // (sa.sz + sb.sz - n_inter) AS BIGINT) AS w
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.8
        |    AND (1000000 * n_inter) // (sa.sz + sb.sz - n_inter) >= 1),
        |edges AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst, w FROM pairs
        |  UNION ALL SELECT id_b, id_a, w FROM pairs),
        |wout AS MATERIALIZED (
        |  SELECT src, CAST(SUM(w) AS BIGINT) AS w_out, COUNT(*) AS deg
        |  FROM edges GROUP BY src),
        |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM wout),
        |pr AS (
        |  SELECT 0 AS it, src AS node,
        |    CAST(1000000000 // (SELECT n FROM nn) AS BIGINT) AS r,
        |    CAST(NULL AS BIGINT) AS r_prev FROM wout
        |  UNION ALL
        |  SELECT * FROM (
        |    WITH prev AS (SELECT * FROM pr WHERE it < 8),
        |    contrib AS (
        |      SELECT e.dst AS node, (p.r * e.w) // d.w_out AS c
        |      FROM edges e JOIN prev p ON p.node = e.src JOIN wout d ON d.src = e.src),
        |    nxt AS (
        |      SELECT node,
        |        CAST(150000000 // (SELECT n FROM nn) + (85 * SUM(c)) // 100 AS BIGINT) AS r
        |      FROM contrib GROUP BY node)
        |    SELECT it0.it + 1 AS it, nxt.node, nxt.r, pv.r AS r_prev
        |    FROM (SELECT DISTINCT it FROM prev) it0, nxt JOIN prev pv ON pv.node = nxt.node))
        |SELECT p.node, d.deg, d.w_out AS w_out_units, p.r AS r_units,
        |  CAST(p.r AS DOUBLE) * 1e-9 AS pagerank, ABS(p.r - p.r_prev) AS delta_units
        |FROM pr p JOIN wout d ON d.src = p.node WHERE p.it = 8 ORDER BY p.node""".stripMargin,

    // d70: the d4 pair CTE + deterministic negatives. idx is a plain
    // ROW_NUMBER over doc_id (the Spark side's surrogate ids
    // are window-identical by contract); candidates replay the
    // established md5-hex-parse uniform; the min-salt pick is the
    // MIN(STRUCT) argmin. pairs is MATERIALIZED (consumed by both
    // orientations AND the validity anti-join).
    "d70_contrastive_triplets" ->
      """WITH tok0 AS (
        |  SELECT doc_id, lang, source, UNNEST(string_split(lower(text), ' ')) AS w FROM documents),
        |tok AS MATERIALIZED (SELECT DISTINCT doc_id, lang, source, w FROM tok0 WHERE w <> ''),
        |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
        |inter AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS MATERIALIZED (
        |  SELECT id_a, id_b,
        |    CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS j
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.8),
        |idx AS MATERIALIZED (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS idx FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |ori AS (
        |  SELECT id_a AS anchor_id, id_b AS pos_id, j FROM pairs
        |  UNION ALL SELECT id_b, id_a, j FROM pairs),
        |cand AS (
        |  SELECT o.anchor_id, o.pos_id, o.j, sv.s,
        |    1 + CAST(CONCAT('0x', SUBSTRING(md5(
        |      CAST(o.anchor_id AS VARCHAR) || '#' || CAST(o.pos_id AS VARCHAR)
        |        || '#' || CAST(sv.s AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % (SELECT n FROM nn) AS nidx
        |  FROM ori o, (SELECT UNNEST([0, 1, 2]) AS s) sv),
        |withneg AS (
        |  SELECT c.anchor_id, c.pos_id, c.j, c.s, i.doc_id AS neg_id
        |  FROM cand c JOIN idx i ON i.idx = c.nidx),
        |valid AS (
        |  SELECT w.* FROM withneg w
        |  LEFT JOIN pairs p ON p.id_a = LEAST(w.anchor_id, w.neg_id)
        |    AND p.id_b = GREATEST(w.anchor_id, w.neg_id)
        |  WHERE w.neg_id <> w.anchor_id AND w.neg_id <> w.pos_id
        |    AND p.id_a IS NULL),
        |win AS (
        |  SELECT anchor_id, pos_id,
        |    MIN({'s': s, 'neg_id': neg_id}) AS m, MIN(j) AS j_pos
        |  FROM valid GROUP BY anchor_id, pos_id)
        |SELECT anchor_id, pos_id, m.neg_id AS neg_id, j_pos
        |FROM win ORDER BY anchor_id, pos_id""".stripMargin,

    "d66_mmr_diversity" -> D66Sql,

    "d71_hard_negatives" -> D71Sql,

    "d72_knn_graph" -> D72Sql,
    "d73_mutual_knn" -> D73Sql,
    "d74_ann_recall" -> D74Sql,

    // d75: the d4 blocked-exact pair CTE (renamed e* to dodge the LSH
    // CTE's `sizes`) left-joined against the d19 lshpairs CTE; band =
    // FLOOR(jaccard·20) of the same integer-input double both engines
    // compute, recall = CAST/CAST count division
    "d75_lsh_recall" ->
      s"""WITH RECURSIVE ${jaccardLshPairsCte("documents")}
         |, etok0 AS (
         |  SELECT doc_id, lang, source, UNNEST(string_split(lower(text), ' ')) AS w FROM documents)
         |, etok AS (SELECT DISTINCT doc_id, lang, source, w FROM etok0 WHERE w <> '')
         |, esizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM etok GROUP BY doc_id)
         |, einter AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
         |  FROM etok a JOIN etok b
         |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |, eexact AS MATERIALIZED (
         |  SELECT id_a, id_b,
         |    CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
         |  FROM einter JOIN esizes sa ON sa.doc_id = id_a JOIN esizes sb ON sb.doc_id = id_b
         |  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.8)
         |SELECT CAST(FLOOR(e.jaccard * 20) AS INT) AS band,
         |  COUNT(*) AS n_exact, COUNT(l.id_a) AS n_caught,
         |  CAST(COUNT(l.id_a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
         |FROM eexact e LEFT JOIN lshpairs l
         |  ON l.id_a = e.id_a AND l.id_b = e.id_b
         |GROUP BY CAST(FLOOR(e.jaccard * 20) AS INT)
         |ORDER BY band""".stripMargin,

    "d67_winnowing" -> D67Sql,

    "d68_bloom_decon" -> D68Sql,
  )
}
