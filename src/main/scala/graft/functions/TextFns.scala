package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Column-level text/string/JSON functions, all composed from
  * `org.apache.spark.sql.functions._` so they stay inside whole-stage
  * codegen (no UDFs on the hot path).
  */
object TextFns {

  /** Occurrences of `token` in `c` via length arithmetic — portable to
    * the DuckDB oracle (replace/length exist everywhere) and codegen'd. */
  private def countPlain(c: Column, token: String): Column =
    ((length(c) - length(replace(c, lit(token), lit("")))) / token.length).cast("long")

  /** q18: JSON field extraction from a raw payload column.
    * Reference analog: SCHWAB.JSON_TRANSACTIONS stores whole order JSON
    * (tools/db.py insert_raw_json); downstream SQL pulls typed fields.
    */
  def jsonExtract(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")
  }

  /** q19: structured string parsing into typed columns.
    * Reference analog: dbo.ParseSPXSymbol_ITVF — option symbol →
    * (CP, Expiry, Strike) (docs/sql_server.md). Here: 'Brand#17' →
    * brand number, plus p_type token split.
    */
  def stringParse(s: SparkSession, d: String): DataFrame = {
    Tables.part(s, d)
      .select(col("p_partkey"),
        col("p_brand"),
        split_part(col("p_brand"), lit("#"), lit(2)).cast("int").as("brand_num"),
        split_part(col("p_name"), lit(" "), lit(1)).as("name_head"),
        upper(col("p_type")).as("type_u"),
        col("p_size"))
      .orderBy("p_partkey")
  }

  /** d7: heuristic language ID via per-language marker-token votes.
    * Counts are exact integers (replace-arithmetic) so the winner is
    * deterministic; ties broken by fixed language order.
    */
  def langId(s: SparkSession, d: String): DataFrame =
    langIdOf(Tables.documents(s, d))

  /** Core of [[langId]] over any (lang, text) frame. */
  def langIdOf(docs: DataFrame): DataFrame = {
    val t = lower(col("text"))
    val en = countPlain(t, " the ") + countPlain(t, " and ")
    val es = countPlain(t, " el ") + countPlain(t, " los ")
    val fr = countPlain(t, " le ") + countPlain(t, " les ")
    val de = countPlain(t, " der ") + countPlain(t, " und ")
    val zh = countPlain(t, " de ")
    docs
      .withColumn("pred_lang",
        when(en >= es && en >= fr && en >= de && en >= zh, "en")
          .when(es >= fr && es >= de && es >= zh, "es")
          .when(fr >= de && fr >= zh, "fr")
          .when(de >= zh, "de")
          .otherwise("zh"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_lang")
  }

  /** d8: document quality scoring — length / punctuation / stopword /
    * whitespace ratios (the usual pre-training heuristics). One
    * projection, no shuffle; ratios are fixed-shape double expressions
    * so both engines produce identical IEEE results.
    */
  def qualityScore(s: SparkSession, d: String): DataFrame =
    qualityScoreOf(Tables.documents(s, d))

  /** Core of [[qualityScore]] over any (doc_id, lang, text) frame. */
  def qualityScoreOf(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nChars = length(t).cast("double")
    val nWords = (countPlain(t, " ") + 1L).cast("double")
    val nPeriods = countPlain(t, ".").cast("double")
    val nCommas = countPlain(t, ",").cast("double")
    val stop = (countPlain(lower(t), " the ") + countPlain(lower(t), " a ") +
      countPlain(lower(t), " of ")).cast("double")
    docs
      .select(col("doc_id"), col("lang"),
        nChars.as("n_chars_m"),
        (nChars / nWords).as("avg_word_len"),
        ((nPeriods + nCommas) / nWords).as("punct_ratio"),
        (stop / nWords).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** d9: token counting — whitespace tokens plus a BPE-ish estimate
    * (ceil(chars/4), the common ~4-chars-per-token heuristic). */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    tokenCountOf(Tables.documents(s, d))

  /** Core of [[tokenCount]] over any (doc_id, text) frame. */
  def tokenCountOf(docs: DataFrame): DataFrame = {
    val t = col("text")
    val words = countPlain(t, " ") + 1L
    val bpeEst = ceil(length(t) / lit(4.0)).cast("long")
    docs
      .select(col("doc_id"), words.as("n_words"), bpeEst.as("n_tokens_est"),
        (countPlain(t, " data ") + countPlain(t, " table ")).as("n_domain_terms"))
      .orderBy("doc_id")
  }

  /** d12: text cleaning / scrubbing for training data — strip URLs and
    * email-shaped tokens, collapse whitespace, trim. The usual
    * pre-tokenization scrub pass; pure projection, no shuffle.
    */
  def textClean(s: SparkSession, d: String): DataFrame =
    textCleanOf(Tables.documents(s, d))

  /** Core of [[textClean]] over any (doc_id, text) frame. */
  def textCleanOf(docs: DataFrame): DataFrame = {
    val cleaned = trim(regexp_replace(regexp_replace(regexp_replace(
      lower(col("text")),
      "https?://[^ ]+", " "),
      "[^ ]+@[^ ]+", " "),
      "\\s+", " "))
    docs
      .select(col("doc_id"), cleaned.as("clean_text"),
        (length(col("text")).cast("long") - length(cleaned)).as("n_removed"))
      .orderBy("doc_id")
  }

  /** d14: TF-IDF-shaped relevance scoring with exact integer
    * arithmetic (linear idf: N - df), so the DuckDB oracle matches
    * bit-for-bit: per doc, score = Σ_term tc(term, doc) · (N − df(term)),
    * plus the doc's top term by that weight. The float-log variant is a
    * one-line swap in production; integer weights keep the correctness
    * gate exact. Two shuffles: term stats, then per-doc rollup.
    */
  def tfidfRank(s: SparkSession, d: String): DataFrame =
    tfidfRankOf(Tables.documents(s, d),
      wordsIn = Some(Tables.tokLong(s, d).select(col("doc_id"), col("w"))))

  /** Core of [[tfidfRank]] over any (doc_id, text) frame; `wordsIn`
    * (a raw (doc_id, w) word stream, empties tolerated) substitutes
    * the tokenize pass — the registered entry feeds the shared
    * [[Tables.tokLong]] cut. */
  def tfidfRankOf(docs: DataFrame, wordsIn: Option[DataFrame] = None): DataFrame = {
    val nDocs = docs.count() // dimension-table-sized count, computed once
    // per-word lower(): identical to exploding split(lower(text)) —
    // lowercasing never maps to/from ' '
    val terms = wordsIn.getOrElse(
        docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w")))
      .select(col("doc_id"), lower(col("w")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tc"))
    val df_ = terms.groupBy("w").agg(count(lit(1)).as("df"))
    terms.join(df_, "w")
      .withColumn("weight", col("tc") * (lit(nDocs) - col("df")))
      .groupBy("doc_id")
      .agg(sum(col("weight")).as("score"),
        max(struct(col("weight"), col("w"))).getField("w").as("top_term"),
        count(lit(1)).as("n_terms"))
      .orderBy("doc_id")
  }

  /** d15: per-language frequent tokens via the SpaceSaving
    * heavy-hitters aggregate (graft.functions.HeavyHittersAgg, a custom
    * TypedImperativeAggregate). The oracle is the plain GROUP BY the
    * sketch replaces at scale, so the sketch must stay in its EXACT
    * regime (capacity ≥ per-group distinct items) — a fixed constant
    * silently leaves it when the corpus vocabulary outgrows it (64 was
    * sized to the 1× corpus and broke at 10×; 1024 was one synthetic
    * vocab doubling from breaking at 30×). Capacity is therefore
    * AUTO-SIZED from an exact per-lang distinct-count probe (one
    * map-side-combined aggregate over the token stream, a bounded
    * n_langs-row driver pull), rounded up to the next power of two with
    * a 1024 floor so it stays stable across small corpus growth. At
    * true open-vocabulary scale you'd pin a capacity and accept the
    * sketch's ±n/capacity estimates — the exact regime is the
    * correctness-gate contract, not the 100 TB one. Sketch state stays
    * O(capacity) per (lang, partition) regardless.
    */
  def heavyTokens(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.tokLong(s, d).select(col("lang"), lower(col("w")).as("w"))
    // the probe is a pure function of the corpus: memoize it per
    // (session, dir-content) so repeated entry runs pay ONE distinct
    // aggregation, not one per execution (it was the entry's dominant
    // cost at sf0.1). DirMemo's fingerprint re-probes when the driver
    // regenerates the dir; the loud 2^20 exact-regime ceiling is inside
    // the probe and still applies on every (re)build.
    val cap = graft.ops.DirMemo.cached(s, d, "d15_exact_capacity") {
      java.lang.Integer.valueOf(
        probedExactCapacity(tok.filter(col("w") =!= "")))
    }.intValue()
    heavyTokensOf(Tables.documents(s, d), pinnedCapacity = cap, wordsIn = Some(tok))
  }

  /** Exact-regime SpaceSaving capacity for a (lang, w) token stream:
    * next power of two ≥ the max per-lang distinct count, floored at
    * 1024 (stability across small corpus growth), failing LOUDLY past
    * 2^20 — beyond that a per-group exact roster is no longer
    * sketch-sized and the caller must opt into the approximate regime
    * with an explicit pinnedCapacity. */
  private[graft] def probedExactCapacity(tok: DataFrame): Int = {
    val maxDistinct = tok.groupBy("lang")
      .agg(countDistinct(col("w")).as("v"))
      .agg(coalesce(max(col("v")), lit(0L))).collect()(0).getLong(0)
    val nextPow2 =
      if (maxDistinct <= 1L) 1L
      else java.lang.Long.highestOneBit(maxDistinct - 1) << 1
    require(nextPow2 <= (1L << 20),
      s"d15 exact-regime capacity $maxDistinct exceeds 2^20 — corpus is " +
        "open-vocabulary; pass pinnedCapacity to opt into the sketch's " +
        "approximate regime (recall-gated, not hash-exact)")
    math.max(1024L, nextPow2).toInt
  }

  /** Core of [[heavyTokens]] over any (lang, text) frame.
    *
    * `pinnedCapacity = 0` (registered-entry default) runs the exact
    * regime: an exact per-lang distinct probe sizes the SpaceSaving
    * buffers to cover the whole vocabulary, and corpora past 2^20
    * distinct fail loudly rather than silently approximate against an
    * exact oracle. `pinnedCapacity > 0` is the production opt-in for
    * genuinely open-vocabulary corpora: skip the probe, run the sketch
    * at the pinned size, and accept the SpaceSaving ±n/capacity
    * error bound (counts become upper-bound estimates — gate with a
    * recall spec, not a hash oracle). */
  private[graft] def heavyTokensOf(docs: DataFrame,
      pinnedCapacity: Int = 0, wordsIn: Option[DataFrame] = None): DataFrame = {
    val tok = wordsIn.getOrElse(
        docs.select(col("lang"), explode(split(lower(col("text")), " ")).as("w")))
      .filter(col("w") =!= "")
    val cap = if (pinnedCapacity > 0) pinnedCapacity else probedExactCapacity(tok)
    tok.groupBy(col("lang"))
      .agg(graft.functions.HeavyHitters.heavyHitters(col("w"), cap).as("hh"))
      .select(col("lang"), explode(col("hh")).as("h"))
      .select(col("lang"), col("h.item").as("w"), col("h.est_count").as("n"))
      .orderBy("lang", "w")
  }

  /** The d18 chunk-window generator over a split-words column — THE
    * single definition of the chunk geometry (size 20, stride 10),
    * shared by d18, d34, and the pipeline's chunk stage so they cannot
    * silently diverge. */
  private[graft] val ChunkSize = 20
  private[graft] val ChunkStride = 10
  private[graft] def chunkWindows(wsCol: String): Column = expr(
    s"""transform(sequence(0, cast(floor((size($wsCol) - 1) / $ChunkStride) as int)),
       |  k -> concat_ws(' ', slice($wsCol, k * $ChunkStride + 1, $ChunkSize)))""".stripMargin)

  /** d18: document chunking — overlapping word windows (size 20,
    * stride 10), the unit-of-training-example splitter every LLM data
    * pipeline runs. Chunk generation is a codegen'd transform over
    * word offsets + one explode; no UDF, no driver loop.
    */
  def chunkDocs(s: SparkSession, d: String): DataFrame =
    chunkDocsOf(Tables.documents(s, d))

  /** Core of [[chunkDocs]] over any (doc_id, text) frame. */
  def chunkDocsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .select(col("doc_id"),
        posexplode(chunkWindows("ws")).as(Seq("chunk_idx", "chunk_text")))
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
      .withColumn("n_chunk_words",
        size(split(col("chunk_text"), " ")).cast("long"))
      .orderBy("doc_id", "chunk_idx")

  /** d34: template/boilerplate mining over an explicit (doc_id, text)
    * frame — see [[templateChunks]]. */
  def templateChunksOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .select(col("doc_id"), explode(chunkWindows("ws")).as("chunk_text"))
      .filter(size(split(col("chunk_text"), " ")) === ChunkSize)
      .groupBy("chunk_text")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("chunk_text"))

  /** d34: template/boilerplate mining — full-size d18 chunks appearing
    * in MORE THAN ONE document, with distinct-doc and occurrence
    * counts: the pass that surfaces shared boilerplate (headers,
    * licenses, navigation) for removal before training. Scale shape:
    * the d1 exact-dedup hash-groupBy at chunk granularity — one
    * map-side-combined shuffle of the chunk strings, nothing pairwise.
    * Tail windows (< chunkSize words) are excluded: single words and
    * fragments are not templates.
    */
  def templateChunks(s: SparkSession, d: String): DataFrame =
    templateChunksOf(Tables.documents(s, d))

  /** d40 span geometry: NON-overlapping word windows (overlap would
    * make removal+rebuild ambiguous — a removed word can't half-belong
    * to a kept window). Size = the d18/d34 stride so the two chunk
    * families tile the same offsets. */
  private[graft] val SpanSize = 10

  /** Packed (doc_id, span_idx) occurrence key: a PRIMITIVE long, so the
    * keep-first min aggregates in a HashAggregate (a min over
    * struct(doc_id, span_idx) falls back to SortAggregate — two full
    * sorts of the span table, see Silver.bestMarkAggs). Bounds: span_idx
    * < 2^20 (docs up to ~10M words) and doc_id < 2^43; under ANSI a
    * violation THROWS (overflow) instead of silently corrupting keys. */
  private val SpanPack = 1L << 20

  /** Rebuild core of d40: per-doc (clean_text, n_kept) after corpus-
    * wide keep-first span removal. Docs whose every span was removed
    * are ABSENT (callers inner-join, which drops them). */
  private[graft] def spanRebuilt(docs: DataFrame): DataFrame = {
    val spans = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast((size(ws) - 1) div $SpanSize as int)),
           |  k -> concat_ws(' ', slice(ws, k * $SpanSize + 1, $SpanSize)))""".stripMargin))
        .as(Seq("span_idx", "span_text")))
    val full = size(split(col("span_text"), " ")) === SpanSize
    // keep-first needs NO join-back: every span group keeps exactly its
    // min occurrence, so the min-key aggregate IS the kept set — decode
    // (doc_id, span_idx) straight from the packed key. One shuffle on
    // span_text, map-side combined, primitive buffer.
    val firsts = spans.filter(full)
      .groupBy("span_text")
      .agg(min(col("doc_id") * SpanPack + col("span_idx")).as("keep_key"))
      .select(expr(s"keep_key div $SpanPack").as("doc_id"),
        pmod(col("keep_key"), lit(SpanPack)).cast("int").as("span_idx"),
        col("span_text"))
    // sub-size tail spans are EXEMPT from dedup (a 2-word tail is not
    // boilerplate, and removing it corpus-wide would gut short docs —
    // the d34 tail-window discipline applied to removal)
    val kept = firsts.unionByName(
      spans.filter(!full).select("doc_id", "span_idx", "span_text"))
    kept.groupBy("doc_id")
      .agg(expr("array_join(transform(sort_array(collect_list(" +
          "struct(span_idx, span_text))), x -> x.span_text), ' ')").as("clean_text"),
        count(lit(1)).as("n_kept"))
  }

  /** d40 as an in-pipeline transform: `text` replaced by the span-
    * deduped rebuild, every carry-through column preserved, fully-
    * removed docs dropped. The CorpusPipeline's opt-in boilerplate-
    * strip stage. */
  def spanScrub(docs: DataFrame): DataFrame =
    spanScrubWith(docs, spanRebuilt(docs))

  /** [[spanScrub]] against a pre-computed [[spanRebuilt]] frame — lets
    * the pipeline apply one rebuild to both an observed and an
    * un-observed branch of the same stage. */
  private[graft] def spanScrubWith(docs: DataFrame, rebuilt: DataFrame): DataFrame =
    docs.join(rebuilt.select("doc_id", "clean_text"), Seq("doc_id"))
      .withColumn("text", col("clean_text")).drop("clean_text")

  /** d40: C4-style duplicate-span removal over an explicit
    * (doc_id, text) frame — see [[spanDedup]]. */
  def spanDedupOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        (expr(s"(size(split(text, ' ')) - 1) div $SpanSize") + 1)
          .cast("long").as("n_spans"))
      .join(spanRebuilt(docs), Seq("doc_id"))
      .select(col("doc_id"), col("clean_text"), col("n_spans"), col("n_kept"))
      .orderBy("doc_id")

  /** d40: C4-style duplicate-span removal (Raffel et al. 2020 §2.2's
    * "discard all but one of any three-sentence span occurring more
    * than once", re-expressed on the corpus's word-window spans): hash
    * every non-overlapping [[SpanSize]]-word span, keep exactly the
    * FIRST occurrence corpus-wide (min (doc_id, span_idx)), and REBUILD
    * each document from its kept spans in order. d1 drops whole
    * duplicate docs and d34 only *reports* shared chunks — this is the
    * operator that strips duplicated boilerplate out of documents that
    * are otherwise kept. Docs whose every span was removed drop out
    * (nothing left to train on).
    *
    * Scale shape: span explode → ONE map-side-combined hash-groupBy on
    * span text (primitive packed-key min, no window, no join-back) →
    * per-doc rebuild groupBy → co-partitioned doc_id join for the
    * original span counts. Never pairwise; at 100 TB each shuffle key
    * is a ≤[[SpanSize]]-word string or a doc id.
    */
  def spanDedup(s: SparkSession, d: String): DataFrame =
    spanDedupOf(Tables.documents(s, d))

  /** d10: normalized content fingerprint: lowercase, collapse runs of
    * whitespace, md5. Reference analog: scripts/scwhab_hash.py (account
    * hashing) + dedup keys in the silver layer.
    */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    fingerprintOf(Tables.documents(s, d))

  /** Core of [[fingerprint]] over any (doc_id, text) frame. */
  def fingerprintOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"),
        md5(col("text")).as("fp_raw"))
      .orderBy("doc_id")
}
