package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-corpus curation operators a 100 TB LLM data pipeline runs
  * after dedup: benchmark decontamination, intra-document repetition
  * scoring, and deterministic domain-mixture resampling. All three are
  * oracle-checked (exact SQL twins in SparkEntry.oracleSql) — unlike
  * the LSH/ANN family these are exact set/arithmetic semantics, so
  * they get the strong gate.
  *
  * Reference analog: the staging→silver cleansing layer
  * (/root/reference/docs/sql_server.md "the data at this point is
  * mostly pristine") generalized to the corpus-hygiene passes every
  * published LLM data pipeline (C4, Gopher, RefinedWeb) describes.
  */
object Curation {

  /** Word n-grams as strings, built by the tight-loop [[graft.functions.WordNgrams]]
    * expression (byte-identical output to the interpreted
    * transform(array_join(slice(…))) lambda it replaced — the HOF ran
    * row-at-a-time through the interpreter over the whole corpus). Docs
    * shorter than n words contribute none: the expression returns an
    * empty array, and the size filter prunes them before the split
    * column even materializes. */
  private[operators] def explodedNgrams(docs: DataFrame, n: Int): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= n)
      .withColumn("ng", explode(graft.functions.VectorExprs.wordNgrams(col("ws"), n)))
      .select("doc_id", "ng")

  /** d24: benchmark decontamination — flag training docs sharing any
    * word 8-gram with the held-out eval slice (doc_id % 7 == 0 stands
    * in for the benchmark corpus), with the overlapping-gram count as
    * the contamination score. The shape that survives 100 TB: eval
    * suites are tiny, so their distinct-gram set BROADCASTS and the
    * corpus side is one map-side explode + broadcast semi-join +
    * groupBy(doc) — no corpus-sized shuffle of gram strings.
    */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    decontaminateOf(docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0))
  }

  /** Core of [[decontaminate]] over explicit training/benchmark frames
    * (both (doc_id, text)). Scored variant (per-doc distinct-gram
    * overlap) — the gating paths that only need the contaminated id
    * SET use [[contaminatedIds]], which skips the countDistinct. */
  def decontaminateOf(training: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    val bench = explodedNgrams(benchmark, n).select("ng").distinct()
    explodedNgrams(training, n)
      .join(broadcast(bench), "ng")
      .groupBy("doc_id")
      .agg(countDistinct(col("ng")).as("n_hits"))
      .orderBy("doc_id")
  }

  /** The contaminated doc_id SET against a pre-built distinct gram-HASH
    * frame — the single decontamination-gate implementation shared by
    * CorpusPipeline.buildTrainingCorpus and curateBatch (one broadcast
    * semi-join + distinct; no per-doc scoring aggregation). The gate
    * compares 64-bit xxhash64 gram hashes (the fused NgramHashes
    * expression), not gram strings: the corpus side explodes one long
    * per position instead of a ~50-char string, and the broadcast
    * hashed relation shrinks ~6×. A hash collision (≈2⁻⁶⁴ per candidate
    * pair) could at worst drop one extra doc from a GATING path — the
    * oracle-exact d24 report ([[decontaminateOf]]) stays string-exact. */
  private[graft] def contaminatedIds(training: DataFrame,
      benchGramHashes: DataFrame, n: Int = 8): DataFrame =
    training
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= n)
      .withColumn("ngh",
        explode(graft.functions.VectorExprs.ngramHashes(col("ws"), n)))
      .select("doc_id", "ngh")
      .join(broadcast(benchGramHashes), "ngh")
      .select("doc_id").distinct()

  /** d25: Gopher-style repetition gauge — the fraction of a document's
    * word 3-grams that are duplicates of an earlier one. Pure per-row
    * array arithmetic (no explode, no shuffle): the scale cost is one
    * narrow map pass, the cheapest possible shape. Division stays
    * int-exact into one double op so both engines produce identical
    * bits.
    */
  def repetitionScore(s: SparkSession, d: String): DataFrame =
    repetitionScoreOf(Tables.documents(s, d))

  /** Core of [[repetitionScore]] over an explicit (doc_id, text) frame.
    * [[graft.functions.NgramStats]] computes gram count + distinct count
    * in one pass without materializing the gram array (same byte-exact
    * string equality as the transform + array_distinct cascade it
    * replaced, so the DuckDB twin is untouched). */
  def repetitionScoreOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 3)
      .withColumn("st", graft.functions.VectorExprs.ngramStats(col("ws"), 3))
      .select(col("doc_id"),
        col("st.n_ngrams").as("n_ngrams"),
        ((col("st.n_ngrams") - col("st.n_distinct")).cast("double")
          / col("st.n_ngrams")).as("rep_frac"))
      .orderBy("doc_id")

  /** Deterministic uniform in [0, 1) from the doc id: first 8 hex
    * chars of md5, identical in DuckDB as
    * CAST(CONCAT('0x', SUBSTRING(md5(...), 1, 8)) AS BIGINT) / 2^32.
    * Hash-based, not rand(): the sample is REPLAYABLE — the property
    * that makes a 100 TB sampling job restartable and auditable. */
  private def hashU: org.apache.spark.sql.Column =
    expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
      .divide(lit(4294967296.0))

  /** d26: domain-mixture resampling — resample the corpus toward a
    * UNIFORM source mixture at `targetFrac` of its size: every source
    * gets the same row budget (targetFrac × total / n_sources), so
    * over-represented domains are downsampled toward it and already-
    * small ones are kept whole (keep_rate capped at 1). Selection is
    * by the deterministic per-doc hash, never rand().
    * Scale shape: one tiny per-source count agg broadcast back onto a
    * single filtering map pass over the corpus; no corpus shuffle, and
    * a re-run (or a replayed micro-batch) keeps exactly the same docs.
    */
  def domainMixSample(s: SparkSession, d: String): DataFrame =
    domainMixSampleOf(Tables.documents(s, d).select("doc_id", "source"))

  /** Core of [[domainMixSample]] over an explicit (doc_id, source)
    * frame. The arithmetic runs left-to-right in doubles over exact
    * ints — the identical op sequence the DuckDB oracle writes, so the
    * keep_rate bits match across engines. */
  def domainMixSampleOf(docs: DataFrame, targetFrac: Double = 0.5): DataFrame =
    mixKeepFilter(docs, targetFrac)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Combined PII pattern: e-mail, SSN-like id, US-phone-like. Kept to
    * a regex subset whose semantics are identical in Java regex (Spark)
    * and RE2 (DuckDB) — character classes, bounded repeats, alternation
    * — so the oracle comparison is byte-exact. */
  val PiiPattern: String =
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}|\\d{3}-\\d{2}-\\d{4}|\\(\\d{3}\\) \\d{3}-\\d{4}"

  /** d27: PII redaction — mask e-mail / SSN-like / phone-like spans and
    * count them per document. One narrow map pass, no shuffle: the
    * cheapest scale shape, same as d25. The synthetic corpus carries no
    * natural PII, so the registered query plants it deterministically
    * first ([[dirtyDocs]], mirrored in the oracle) — otherwise the
    * redaction would be a no-op demo. */
  def redactPii(s: SparkSession, d: String): DataFrame =
    redactPiiOf(dirtyDocs(Tables.documents(s, d).select("doc_id", "text")))

  /** Deterministic dirty-text builder for the d27 entry: doc_id mod 3
    * appends an e-mail, mod 5 an SSN-like id, mod 7 a phone (so rows
    * carry zero to three PII spans). Value ranges keep each group at
    * fixed digit width, so no lpad is needed in either dialect. */
  def dirtyDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 3 === 0, concat(
        lit(" user"), col("doc_id").cast("string"), lit("@mail.example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, concat(
        lit(" "), (col("doc_id") % 900 + 100).cast("string"),
        lit("-"), (col("doc_id") % 89 + 10).cast("string"),
        lit("-"), (col("doc_id") % 9000 + 1000).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, concat(
        lit(" ("), (col("doc_id") % 800 + 200).cast("string"),
        lit(") 555-"), (col("doc_id") % 9000 + 1000).cast("string")))
        .otherwise(lit(""))).as("text"))

  /** Core of [[redactPii]] over an explicit (doc_id, text) frame. */
  def redactPiiOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(PiiPattern), lit(0)))
        .cast("long").as("n_pii"),
      regexp_replace(col("text"), PiiPattern, "<PII>").as("clean"))
      .orderBy("doc_id")

  /** d28: stratified train/val/test assignment — the same replayable
    * md5-hash uniform as d26 cut at fixed thresholds, so any re-run
    * (or a late-arriving shard) lands every doc in the same split
    * without coordination. Thresholds are UPPER BOUNDS (not fractions
    * to sum) so both dialects compare against the same literals — a
    * Scala-side 0.9 + 0.05 would be 0.9500000000000001 and flip docs
    * on the knife edge vs the oracle's 0.95. */
  def stratifiedSplit(s: SparkSession, d: String): DataFrame =
    stratifiedSplitOf(Tables.documents(s, d).select("doc_id", "source"))

  /** The split label as a pure function of a doc-id column — usable
    * anywhere a doc id appears without joining the assignment table
    * (the property hash-based splits exist for). */
  def splitOf(docId: org.apache.spark.sql.Column, trainUpper: Double = 0.9,
      valUpper: Double = 0.95): org.apache.spark.sql.Column = {
    val u = conv(substring(md5(docId.cast("string")), 1, 8), 16, 10)
      .cast("bigint").divide(lit(4294967296.0))
    when(u < trainUpper, "train").when(u < valUpper, "val").otherwise("test")
  }

  /** Core of [[stratifiedSplit]]: keeps every input column, appends
    * `split`. */
  def stratifiedSplitOf(docs: DataFrame, trainUpper: Double = 0.9,
      valUpper: Double = 0.95): DataFrame =
    docs
      .withColumn("split", splitOf(col("doc_id"), trainUpper, valUpper))
      .orderBy("doc_id")

  /** d35: cross-split contamination report — exact near-duplicate
    * pairs (the d4 mining, jaccard ≥ 0.8) whose endpoints landed in
    * DIFFERENT splits of the d28 assignment: every row is an eval
    * example whose near-twin sits in training. Split labels are
    * computed INLINE from each endpoint's hash (a pure function of the
    * id — no join against a corpus-sized assignment table), so the
    * report costs one narrow map + filter over the mined pairs. */
  def splitLeakage(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccard(s, d)
      .withColumn("split_a", splitOf(col("id_a")))
      .withColumn("split_b", splitOf(col("id_b")))
      .filter(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "jaccard", "split_a", "split_b")
      .orderBy("id_a", "id_b")

  /** d31: token-budget mixing — the exact-greedy twin of d26. Every
    * source gets the same TOKEN budget (targetFrac × total tokens /
    * n_sources) and keeps its docs in hash-priority order until the
    * running token total crosses it, so the sampled mixture is balanced
    * by token mass, not doc count (what a training run actually
    * consumes). Replayable: priority is the md5 hash, never rand().
    *
    * Scale shape: the running sum is a per-source ordered prefix sum —
    * a naive window would sort each source inside ONE partition (5 TB a
    * partition at 100 TB with 20 sources). Instead the two-level
    * Silver.rangedRunningSum: identical cum values to the global
    * window, skew bounded by the range partitioner. */
  def tokenBudgetMix(s: SparkSession, d: String): DataFrame =
    tokenBudgetMixOf(Tables.documents(s, d).select("doc_id", "source", "text"))

  /** Core of [[tokenBudgetMix]] over an explicit (doc_id, source, text)
    * frame. `bpeVocab` switches token accounting from whitespace words
    * to real BPE tokenizer tokens (graft.functions.Bpe) — same plan
    * shape, the n_tokens projection swaps one codegen'd expression for
    * another; budgets are set in the units LLM training budgets
    * actually use. */
  def tokenBudgetMixOf(docs: DataFrame, targetFrac: Double = 0.5,
      partitions: Int = 32,
      bpeVocab: Option[graft.functions.BpeVocab] = None): DataFrame = {
    val nTokens = bpeVocab match {
      case Some(v) => graft.functions.Bpe.tokenCount(col("text"), v)
      case None => size(array_remove(split(col("text"), " "), "")).cast("long")
    }
    val toks = docs.select(col("doc_id"), col("source"),
      nTokens.as("n_tokens"))
      .withColumn("u", hashU)
    val counts = toks.groupBy("source").agg(sum(col("n_tokens")).as("src_tokens"))
    val budgets = counts
      .crossJoin(broadcast(counts.agg(sum(col("src_tokens")).as("total"),
        count(lit(1)).as("n_groups"))))
      .select(col("source"),
        (lit(targetFrac) * col("total") / col("n_groups")).as("budget"))
    Silver.rangedRunningSum(toks, Seq("source"), Seq("u", "doc_id"),
        col("n_tokens"), "_run", partitions)
      .join(broadcast(budgets), "source")
      .filter(col("_run") <= col("budget"))
      .select("doc_id", "source", "n_tokens")
      .orderBy("doc_id")
  }

  /** The mix filter with carry-through columns (used standalone by d26
    * and as a [[CorpusPipeline]] stage): keeps rows whose per-doc hash
    * clears the source's budget rate; any extra columns ride along. */
  def mixKeepFilter(docs: DataFrame, targetFrac: Double): DataFrame = {
    val ids = docs.select("doc_id", "source")
    val counts = ids.groupBy("source").agg(count(lit(1)).as("n_src"))
    val totals = counts.agg(sum(col("n_src")).as("total"),
      count(lit(1)).as("n_groups"))
    val rates = counts
      .crossJoin(broadcast(totals))
      .select(col("source"),
        least(lit(1.0),
          lit(targetFrac) * col("total") / col("n_groups") / col("n_src"))
          .as("keep_rate"))
    docs
      .withColumn("u", hashU)
      .join(broadcast(rates), "source")
      .filter(col("u") < col("keep_rate"))
      .drop("u", "keep_rate")
  }

  /** Top-gram ks and their max allowed char fractions (Rae et al. 2021
    * §A1.1, public): fraction of characters inside occurrences of the
    * single most frequent k-gram. */
  val GopherTopThresholds: Seq[(Int, Double)] =
    Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)

  /** Duplicate-gram ks and max allowed char fractions: characters inside
    * k-grams that occur 2+ times (overlap-ignoring, the published
    * accounting). */
  val GopherDupThresholds: Seq[(Int, Double)] =
    Seq(5 -> 0.15, 6 -> 0.14, 8 -> 0.12, 10 -> 0.10)

  /** d43: Gopher-style char-weighted repetition rules — the quality
    * filter family d25's count-based gauge doesn't cover. For each doc:
    * the char fraction of the most frequent {2,3,4}-gram and of all
    * duplicated {5,6,8,10}-grams, plus the combined keep flag at the
    * published thresholds. All seven gram maps are per-row hash passes
    * inside one narrow projection ([[graft.functions.GopherStats]]) —
    * no explode, no shuffle, the cheapest scale shape (same as d25).
    * Fractions are integer/integer double divisions, so both engines
    * produce identical bits and the thresholds are shared literals.
    */
  def gopherRepetition(s: SparkSession, d: String): DataFrame =
    gopherRepetitionOf(Tables.documents(s, d).select("doc_id", "text"))

  /** Core of [[gopherRepetition]] over an explicit (doc_id, text)
    * frame. Docs shorter than k words contribute zero mass for that k
    * (GopherStats returns (0,0)), mirroring the oracle's LEFT JOIN +
    * COALESCE(0).
    *
    * Empty-text docs (n_chars = 0): every frac is 0/0 = NaN and the
    * keep flag is false — identically in BOTH engines (IEEE NaN
    * comparisons are false in Spark and DuckDB alike), so oracle parity
    * holds. Semantically that classifies an empty doc as a drop, which
    * is the behavior a quality filter wants; callers needing NaN-free
    * report columns should pre-filter length(text) > 0. */
  def gopherRepetitionOf(docs: DataFrame): DataFrame = {
    // ONE GopherAll eval per row, materialized through inline(array(…))
    // so the frac columns and keep flag are plain field reads — the
    // per-k GopherStats + project-collapse formulation re-ran the whole
    // interpreted scan (split included) once per consuming column,
    // measured 29 µs/doc at 1 M docs vs ~4 µs for the fused pass.
    docs
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("n_chars"),
        inline(array(graft.functions.VectorExprs.gopherAll(
          col("ws"), col("n_chars"), GopherTopThresholds, GopherDupThresholds))))
      .orderBy("doc_id")
  }

  /** The combined Gopher keep predicate as a pure Column over a word
    * array and a char count — the d43 rules usable as a pipeline
    * filter without materializing the report columns. A single
    * getField on one GopherAll eval: one fused scan per row. */
  def gopherKeep(ws: org.apache.spark.sql.Column,
      nChars: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.VectorExprs
      .gopherAll(ws, nChars, GopherTopThresholds, GopherDupThresholds)
      .getField("keep")

  /** d49: greedy training-sequence packing (the T5/LLM-pretraining
    * "packing" step, public): docs in doc_id order are packed into
    * sequences of at most `capacity` whitespace tokens — accumulate
    * until the next doc would overflow, then start a new sequence; a
    * doc longer than the capacity gets a sequence of its own. Packing
    * runs independently per (source, shard) where shard = doc_id div
    * `shardSize`: the greedy scan is inherently sequential, so the
    * 100 TB-honest formulation BOUNDS each sequential unit to a
    * deterministic shard (exactly what published packers do per data
    * shard) instead of pretending a corpus-wide serial scan scales.
    *
    * Scale shape: ONE shuffle to (source, shard) — groups of at most
    * `shardSize` docs — then the [[graft.functions.PackSeqs]] tight
    * loop per group and an explode back to rows. No window, no driver
    * pass. Output: (source, shard, doc_id, n_tok, seq_id 1-based in
    * the shard, tok_offset within its sequence).
    */
  /** Packing geometry, shared with the d49 oracle SQL generator. */
  val PackCapacity = 256
  val PackShard = 512

  def sequencePack(s: SparkSession, d: String): DataFrame =
    sequencePackOf(Tables.documents(s, d).select("doc_id", "text", "source"),
      capacity = PackCapacity, shardSize = PackShard)

  /** Core of [[sequencePack]]. */
  def sequencePackOf(docs: DataFrame, capacity: Int, shardSize: Int): DataFrame =
    docs
      .select(col("source"), expr(s"doc_id DIV $shardSize").as("shard"),
        col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
      .groupBy("source", "shard")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_tok")))).as("items"))
      .select(col("source"), col("shard"),
        explode(graft.functions.VectorExprs.packSeqs(col("items"), capacity)).as("p"))
      .select(col("source"), col("shard"), col("p.doc_id").as("doc_id"),
        col("p.n_tok").as("n_tok"), col("p.seq_id").as("seq_id"),
        col("p.tok_offset").as("tok_offset"))
      .orderBy("source", "shard", "doc_id")

  /** d44: bigram-LM corpus NLL (the CCNet-style LM-perplexity filter
    * signal, public) — per doc, the mean negative log of the add-one-
    * smoothed conditional bigram probability under the corpus's OWN
    * counts: term(w1,w2) = -ln((c(w1 w2) + 1) / (c(w1) + V)), V = the
    * corpus's distinct-word count. Complements d33 (unigram, top-V
    * truncated): conditional structure scores word ORDER, so shuffled
    * boilerplate that fools a unigram model stands out.
    *
    * Scale shape: gram rows shuffle twice on string keys (bigram and
    * unigram count tables, both map-side combined) and join back on the
    * same keys — the canonical count-join shape AQE handles at any
    * corpus size; V rides as one broadcast scalar. Cross-engine float
    * parity uses the d33 discipline: per-term round to 9 dp (absorbs
    * ≤1-ulp ln() differences), order-independent DECIMAL(18,9) sum,
    * final mean rounded to 6 dp.
    */
  def bigramNll(s: SparkSession, d: String): DataFrame =
    // DirMemo shared cut (r20): beyond the count tables (already
    // memoized), d44 AND d52 each re-ran the per-doc NLL aggregation
    // itself (gram explode + two count joins + groupBy); the whole
    // registered d44 frame is now built once per (session, dir
    // content) and d52's bucketing slices it — same nll2 bit-for-bit
    graft.ops.DirMemo.cached(s, d, "bigramNllFrame") {
      bigramNllWithLm(Tables.documents(s, d).select("doc_id", "text"),
        corpusBigramCounts(s, d)).localCheckpoint(eager = false)
    }

  /** Core of [[bigramNll]] over an explicit (doc_id, text) frame. Docs
    * with fewer than 2 words have no bigrams and drop out (same rows
    * the oracle's join produces). */
  def bigramNllOf(docs: DataFrame): DataFrame =
    bigramNllWithLm(docs, trainBigramLmOf(docs))

  /** [[bigramNllOf]] with the count tables supplied — INNER joins, so
    * with `lm` trained on `docs` itself (the d44 semantics: every join
    * hits) the result is byte-identical to the inlined-count
    * formulation this replaces. Factored out so d44 and d52 can share
    * one materialization of the two count shuffles per corpus
    * ([[corpusBigramCounts]]) instead of each paying them. */
  private def bigramNllWithLm(docs: DataFrame, lm: BigramLm): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        explode(graft.functions.VectorExprs.wordNgrams(split(col("text"), " "), 2))
          .as("ng"))
      .withColumn("w1", substring_index(col("ng"), " ", 1))
    grams
      .join(lm.cb, "ng")
      .join(lm.cu, col("w1") === col("w"))
      .crossJoin(broadcast(lm.v))
      .withColumn("term",
        round(-log((col("cb") + lit(1)).cast("double") / (col("cu") + col("v"))), 9)
          .cast("decimal(18,9)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("term")).cast("double") / count(lit(1)), 6).as("nll2"))
      .orderBy("doc_id")
  }

  /** Per-(session, sf-dir) memo of the corpus's own bigram-LM count
    * tables, lazily localCheckpointed: whichever of the registered
    * d44/d52 entries runs first materializes the two count shuffles
    * (plus the one-row V) ONCE; the other — and every warm re-run —
    * reuses the cut. Bounded: counts are vocabulary/gram-table-sized
    * (the artifact d53 persists to parquet), one entry per sf dir,
    * content-fingerprinted via [[graft.ops.DirMemo]] so a regenerated
    * dir rebuilds. The *Of cores stay pure (explicit-frame callers are
    * not memoized — a DataFrame is not a safe cache key). */
  private def corpusBigramCounts(s: SparkSession, d: String): BigramLm =
    graft.ops.DirMemo.cached(s, d, "bigramLm") {
      val lm = trainBigramLmOf(Tables.documents(s, d).select("doc_id", "text"))
      val cu = lm.cu.localCheckpoint(false)
      val cb = lm.cb.localCheckpoint(false)
      // V from the CHECKPOINTED cu so it rides the same materialization
      BigramLm(cu, cb, cu.agg(count(lit(1)).as("v")))
    }

  /** A frozen bigram LM: the count tables [[bigramNllOf]] computes
    * in-flight, as reusable frames — `cu` (w, cu), `cb` (ng, cb), and
    * the one-row vocab size `v`. Train once on a REFERENCE corpus,
    * score any stream of raw docs against it (the real CCNet shape:
    * the filter LM is trained on clean text, not on the data it
    * filters). Persistable via [[saveBigramLm]]/[[loadBigramLm]] with
    * a layout marker — the BpeVocab/IVF-store artifact discipline. */
  case class BigramLm(cu: DataFrame, cb: DataFrame, v: DataFrame)

  /** Train the frozen LM's count tables from a (doc_id, text) frame —
    * the EXACT counts d44 derives (same gram expression, same keys). */
  def trainBigramLmOf(ref: DataFrame): BigramLm = {
    val grams = ref.select(
      explode(graft.functions.VectorExprs.wordNgrams(split(col("text"), " "), 2)).as("ng"))
    val cb = grams.groupBy("ng").agg(count(lit(1)).as("cb"))
    val cu = ref.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    BigramLm(cu, cb, cu.agg(count(lit(1)).as("v")))
  }

  def saveBigramLm(lm: BigramLm, path: String): Unit = {
    lm.cu.write.mode("overwrite").parquet(s"$path/cu")
    lm.cb.write.mode("overwrite").parquet(s"$path/cb")
    lm.v.coalesce(1).write.mode("overwrite").parquet(s"$path/v")
    val p = new org.apache.hadoop.fs.Path(s"$path/_layout")
    val fs = p.getFileSystem(lm.cu.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write("graft-bigram-lm v1\n".getBytes("UTF-8"))
    out.close()
  }

  def loadBigramLm(s: SparkSession, path: String): BigramLm = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_layout")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no bigram-LM layout marker at $path — not a trained store")
    BigramLm(s.read.parquet(s"$path/cu"), s.read.parquet(s"$path/cb"),
      s.read.parquet(s"$path/v"))
  }

  /** d53: score docs against a FROZEN bigram LM — add-one smoothed
    * like d44, but unseen grams/words carry the smoothing floor
    * (LEFT join + coalesce 0) instead of being impossible: the scored
    * corpus need not overlap the training corpus at all. Scored
    * against its own training corpus this reduces exactly to
    * [[bigramNllOf]] (every join hits — spec-gated). Docs with fewer
    * than 2 words drop, as in d44.
    *
    * Scale shape: the LM tables are vocab/gram-bounded (broadcast
    * when small, shuffle joins on gram keys when not — the same d44
    * plan with the count side read from the artifact instead of
    * recomputed), one broadcast scalar, d33 float discipline.
    */
  def lmScore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // the benchmark slice (the d36/d38/d46 convention) stands in for
    // the clean reference corpus the filter LM is trained on
    lmScoreOf(docs, trainBigramLmOf(docs.filter(col("doc_id") % 7 === 0)))
  }

  /** Core of [[lmScore]]: per-doc mean NLL of `docs` under `lm`. */
  def lmScoreOf(docs: DataFrame, lm: BigramLm): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        explode(graft.functions.VectorExprs.wordNgrams(split(col("text"), " "), 2))
          .as("ng"))
      .withColumn("w1", substring_index(col("ng"), " ", 1))
    grams
      .join(lm.cb, Seq("ng"), "left")
      .join(lm.cu, col("w1") === col("w"), "left")
      .crossJoin(broadcast(lm.v))
      .withColumn("term",
        round(-log((coalesce(col("cb"), lit(0L)) + lit(1)).cast("double") /
          (coalesce(col("cu"), lit(0L)) + col("v"))), 9)
          .cast("decimal(18,9)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("term")).cast("double") / count(lit(1)), 6).as("nll_lm"))
      .orderBy("doc_id")
  }

  /** d52: CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * public): rank every doc by the d44 bigram-LM NLL and split the
    * corpus into head/middle/tail THIRDS by rank (low NLL = most
    * fluent = head); keep head+middle whole plus a deterministic 10%
    * hash sample of the tail — the standard LM-filtered training mix.
    * Rank thirds rather than value quantiles on purpose: bucket
    * boundaries are integer-exact in both engines (no cross-engine
    * percentile-interpolation knife edge — the q40 lesson) and ties
    * are impossible because doc_id joins the sort key.
    *
    * Scale shape: d44's count shuffles/joins + the two-level
    * surrogate-id rank (Silver.surrogateIds — no single-partition
    * window), one broadcast total, hash-replayable tail sample.
    */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame =
    // slice the registered d44 frame's DirMemo cut — the ranking input
    // is the same NLL frame either way (inner joins, own corpus)
    ccnetBucketsFromNll(bigramNll(s, d))

  /** Core of [[ccnetBuckets]] over an explicit (doc_id, text) frame. */
  def ccnetBucketsOf(docs: DataFrame, tailKeep: Double = 0.1): DataFrame =
    ccnetBucketsFromNll(bigramNllOf(docs), tailKeep)

  /** Bucketing stage of [[ccnetBuckets]] over a precomputed d44 NLL
    * frame (doc_id, …, nll2). */
  private def ccnetBucketsFromNll(nllIn: DataFrame, tailKeep: Double = 0.1): DataFrame = {
    val nll = nllIn.select("doc_id", "nll2")
    val ranked = Silver.surrogateIds(nll, Seq("nll2", "doc_id"), "rnk")
    val tot = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("bucket", expr("cast(((rnk - 1) * 3) div n as int)"))
      .withColumn("tier",
        element_at(lit(Array("head", "middle", "tail")), col("bucket") + 1))
      .withColumn("keep", col("bucket") < 2 || hashU < lit(tailKeep))
      .select("doc_id", "nll2", "bucket", "tier", "keep")
      .orderBy("doc_id")
  }

  /** d46: DSIR-style importance weights (Xie et al. 2023, public) —
    * per raw doc, the mean log-ratio of target-domain vs raw-corpus
    * unigram probability, add-one smoothed over the UNION vocabulary:
    * the score importance-resampling pipelines rank raw web data by to
    * match a target domain. The registered entry targets the
    * deterministic benchmark slice (doc_id % 7 == 0 — the d36/d38
    * convention). Positive = looks more like the target than the raw
    * corpus.
    *
    * Scale shape: two count shuffles (map-side combined) + a count
    * join on word keys + one broadcast totals scalar — d44's shape. At
    * 100 TB the published method replaces raw words with HASHED
    * n-gram buckets to bound the feature table; the plan is unchanged,
    * only the key becomes `xxhash64(w) % buckets`. Cross-engine float
    * parity: d33 discipline (per-term 9 dp round, DECIMAL(18,9) sum,
    * 6 dp mean).
    */
  def dsirWeights(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val tok = Tables.tokLong(s, d).select("doc_id", "w")
    dsirWeightsOf(docs, docs.filter(col("doc_id") % 7 === 0),
      rawWordsIn = Some(tok),
      targetWordsIn = Some(tok.filter(col("doc_id") % 7 === 0).select("w")))
  }

  /** Core of [[dsirWeights]]: weight every `raw` doc against the
    * `target` sample's unigram distribution. The `*WordsIn` options
    * substitute the two tokenize passes ((doc_id, w) and (w), raw
    * split, no empty filter) — the registered entry slices BOTH from
    * the shared [[Tables.tokLong]] cut. */
  def dsirWeightsOf(raw: DataFrame, target: DataFrame,
      rawWordsIn: Option[DataFrame] = None,
      targetWordsIn: Option[DataFrame] = None): DataFrame = {
    val rawWords = rawWordsIn.getOrElse(raw.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w")))
    val cr = rawWords.groupBy("w").agg(count(lit(1)).as("cr"))
    val ct = targetWordsIn.getOrElse(
        target.select(explode(split(col("text"), " ")).as("w")))
      .groupBy("w").agg(count(lit(1)).as("ct"))
    // union vocabulary size + both totals as ONE broadcast scalar row
    val scal = cr.select("w").union(ct.select("w")).distinct()
      .agg(count(lit(1)).as("v"))
      .crossJoin(cr.agg(sum(col("cr")).as("tr")))
      .crossJoin(ct.agg(sum(col("ct")).as("tt")))
    rawWords
      .join(cr, "w")
      .join(ct, Seq("w"), "left")
      .crossJoin(broadcast(scal))
      .withColumn("term",
        round(log(
          ((coalesce(col("ct"), lit(0L)) + lit(1)).cast("double") / (col("tt") + col("v"))) /
            ((col("cr") + lit(1)).cast("double") / (col("tr") + col("v")))), 9)
          .cast("decimal(18,9)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        round(sum(col("term")).cast("double") / count(lit(1)), 6).as("dsir_w"))
      .orderBy("doc_id")
  }

  /** d55 blocklist: registrable domains whose docs are dropped
    * outright (the C4/RefinedWeb stage-1 URL filter's blocklist seam —
    * a production deployment swaps in the real list). */
  private[graft] val UrlBlocklist = Seq("src3.example.com", "src11.example.com")

  /** Deterministic URL planting for the d55 entry (the [[dirtyDocs]]
    * discipline — the synthetic corpus carries no provenance URLs):
    * scheme case / www prefix / explicit default port / tracking query
    * / trailing slash all vary on doc_id residues so normalization has
    * real work, and doc_id % 9 == 0 docs share a 'dup' path so URL
    * dedup has real collisions. Mirrored verbatim in the oracle SQL. */
  private[graft] def withUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      when(col("doc_id") % 2 === 0, "HTTPS://").otherwise("http://"),
      when(col("doc_id") % 3 === 0, "WWW.").otherwise(""),
      col("source"), lit(".EXAMPLE.com"),
      when(col("doc_id") % 14 === 0, ":443").otherwise(""),
      lit("/page/"),
      when(col("doc_id") % 9 === 0, lit("dup")).otherwise(col("doc_id").cast("string")),
      when(col("doc_id") % 6 === 0, "/").otherwise(""),
      when(col("doc_id") % 4 === 0,
        concat(lit("?utm_source=feed&utm_id="), (col("doc_id") % 10).cast("string")))
        .otherwise(lit(""))).as("url"))

  /** d55: URL/domain curation — the stage-1 pass of every published
    * web-corpus pipeline (C4 §2.1, RefinedWeb §3.1): normalize each
    * doc's provenance URL (lowercase scheme+host, strip `www.`,
    * strip explicit default ports, strip `utm_*` tracking params
    * re-anchoring any surviving query, strip the trailing slash),
    * extract the domain, drop blocklisted domains, and URL-dedup
    * (keep the min-doc_id holder of each normalized URL — C4 keeps
    * one page per URL). Emits the audit row per doc: raw + normalized
    * URL, domain, duplicate count, keep flag.
    *
    * Scale shape: the normalization is a per-row codegen'd regex chain
    * (no shuffle); the dedup is ONE hash-groupBy on url_norm (min +
    * count, primitive buffers) and a co-partitioned equi-join back —
    * never pairwise, shuffle keys are single URLs. Blocklist is a
    * literal IN (a production list becomes a broadcast anti-join). */
  def urlFilter(s: SparkSession, d: String): DataFrame =
    urlFilterOf(withUrls(Tables.documents(s, d).select("doc_id", "source")),
      UrlBlocklist)

  /** The d55 normalization chain over a frame carrying a `url` column
    * — appends url_norm + domain. Narrow per-row ops only, so it
    * composes unchanged into the streaming twin
    * (graft.streaming.UrlStream). */
  private[graft] def normalizeUrlCols(docs: DataFrame): DataFrame = docs
    // scheme://host[:port] prefix, lowercased; path+query untouched
    .withColumn("pre", lower(regexp_extract(col("url"), "^([^/]*//[^/?]*)", 1)))
    .withColumn("rest", expr("substring(url, length(pre) + 1)"))
    .withColumn("pre", regexp_replace(col("pre"), "^(https?://)www\\.", "$1"))
    .withColumn("pre", regexp_replace(col("pre"), "^(https://[^/:?]*):443$", "$1"))
    .withColumn("pre", regexp_replace(col("pre"), "^(http://[^/:?]*):80$", "$1"))
    // strip tracking params; if the leading param was stripped,
    // re-anchor the survivors ('/p&id=1' → '/p?id=1')
    .withColumn("rest", regexp_replace(col("rest"), "[?&]utm_[^&]*", ""))
    .withColumn("rest", regexp_replace(col("rest"), "^([^?&]*)&", "$1?"))
    .withColumn("rest", regexp_replace(col("rest"), "/$", ""))
    .withColumn("url_norm", concat(col("pre"), col("rest")))
    .withColumn("domain", regexp_extract(col("url_norm"), "^[a-z]+://([^/:?]+)", 1))
    .drop("pre", "rest")

  /** Core of [[urlFilter]] over an explicit (doc_id, url) frame. */
  def urlFilterOf(docs: DataFrame, blocklist: Seq[String]): DataFrame = {
    val urls = normalizeUrlCols(docs).select("doc_id", "url", "url_norm", "domain")
    val stats = urls.groupBy("url_norm")
      .agg(min(col("doc_id")).as("canon_id"), count(lit(1)).as("n_dups"))
    urls.join(stats, "url_norm")
      .select(col("doc_id"), col("url"), col("url_norm"), col("domain"),
        col("n_dups"),
        (!col("domain").isInCollection(blocklist) &&
          col("doc_id") === col("canon_id")).as("keep"))
      .orderBy("doc_id")
  }

  /** d57 sample size per source. */
  private[graft] val WsampleK = 50

  /** d57: deterministic weighted sampling WITHOUT replacement per
    * source (Efraimidis–Spirakis 2006, public): selection key
    * −ln(u)/w with u the replayable md5-hash uniform (the d26/d28
    * discipline — any re-run or late shard draws the same u per doc)
    * and weight w = doc length in chars, take the k smallest keys per
    * source. The quality/length-weighted downsampling step between
    * scoring and training-set assembly: every doc has selection
    * probability proportional to its weight, replayable without
    * coordination.
    *
    * Scale shape: per-source top-k via [[graft.functions.TopKAgg]]
    * (TypedImperativeAggregate, k-slot buffer) — the exchange moves
    * one ≤k state per (source, partition), NEVER a per-source window
    * (one partition per source at 100 TB). Float parity: the key is
    * rounded to 9 dp in both dialects (absorbs ≤1-ulp ln()
    * differences, the d33 discipline) and ties break on doc_id inside
    * the aggregate's (score desc, id asc) order.
    */
  def weightedSample(s: SparkSession, d: String): DataFrame =
    weightedSampleOf(Tables.documents(s, d).select("doc_id", "source", "n_chars"))

  /** Core of [[weightedSample]] over an explicit (doc_id, source,
    * n_chars) frame — the TVF delegation point. */
  def weightedSampleOf(docs: DataFrame): DataFrame = {
    // u' = (h32 + 1) / 2^32 ∈ (0, 1]: +1 keeps ln() off zero
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("bigint")
    val skey = round(
      -log((u + lit(1L)).cast("double") / lit(4294967296.0)) /
        greatest(col("n_chars"), lit(1L)), 9)
    docs.withColumn("skey", skey)
      .groupBy("source")
      .agg(graft.functions.TopKAgg.topKByScore(
        struct((-col("skey")).as("score"), col("doc_id").as("id")), WsampleK)
        .as("topk"))
      .select(col("source"), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rn"),
        col("t.id").as("doc_id"), (-col("t.score")).as("skey"))
      .orderBy("source", "rn")
  }

  /** In-pipeline form of d54: per-doc rebuilt text with boilerplate
    * blocks removed, fully-scrubbed docs dropped (nothing left to
    * train on — the d40 discipline). */
  private[graft] def boilerplateRebuilt(docs: DataFrame,
      minDocs: Int = BoilerMinDocs): DataFrame =
    boilerplateScrubOf(docs, minDocs)
      .filter(col("text_clean") =!= "")
      .select("doc_id", "text_clean")

  /** Apply a [[boilerplateRebuilt]] frame to a corpus: `text` replaced
    * by the scrubbed rebuild, carry-through columns preserved,
    * fully-scrubbed docs dropped (inner join). Split out so the
    * pipeline can apply ONE rebuild to both an observed and an
    * un-observed branch of the same stage (the spanScrubWith
    * discipline). */
  private[graft] def boilerplateScrubWith(docs: DataFrame,
      rebuilt: DataFrame): DataFrame =
    docs.join(rebuilt, Seq("doc_id"))
      .withColumn("text", col("text_clean")).drop("text_clean")

  /** d54 block geometry: NON-overlapping 3-word windows (the removal
    * ambiguity argument of TextFns.SpanSize, at the granularity the
    * line-frequency filters of RefinedWeb/CCNet run at — their "line"
    * is this corpus's short word block). */
  private[graft] val BoilerBlockSize = 3
  /** A full block appearing in at least this many DISTINCT docs is
    * boilerplate. */
  private[graft] val BoilerMinDocs = 5

  /** d54: frequency-threshold boilerplate removal (the RefinedWeb
    * line-dedup / CCNet line-filter shape): drop EVERY occurrence of
    * any full-size block that appears in ≥ [[BoilerMinDocs]] distinct
    * documents — unlike d40 (keep-FIRST span occurrence) and d34
    * (mining report only), a block frequent enough to be boilerplate
    * is presumed template noise everywhere, including its first
    * occurrence. Sub-size tail blocks are exempt from removal (the d40
    * tail discipline: a 1-word tail is not a template, and dropping
    * high-frequency single words corpus-wide would gut the text).
    * Per doc: total blocks, dropped blocks, and the rebuilt text.
    *
    * Scale shape: block explode → ONE map-side-combined hash-groupBy
    * on block text for the boilerplate set (bounded by boilerplate
    * density, so AQE broadcasts the probe join at any corpus size) →
    * mark via left join → per-doc rebuild groupBy. Never pairwise. The
    * exploded block table feeds both the frequency agg and the probe
    * side, so it is lazily localCheckpointed once (the d48 shared-
    * branch discipline — a broadcast branch re-executes its subtree).
    */
  def boilerplateScrub(s: SparkSession, d: String): DataFrame =
    boilerplateScrubOf(Tables.documents(s, d).select("doc_id", "text"))

  /** Core of [[boilerplateScrub]] over an explicit (doc_id, text)
    * frame. */
  def boilerplateScrubOf(docs: DataFrame,
      minDocs: Int = BoilerMinDocs): DataFrame = {
    val bs = BoilerBlockSize
    val blocks = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_ws"), posexplode(expr(
        s"""transform(sequence(0, cast((size(ws) - 1) div $bs as int)),
           |  k -> concat_ws(' ', slice(ws, k * $bs + 1, $bs)))""".stripMargin))
        .as(Seq("block_idx", "blk")))
      .withColumn("fullb", col("n_ws") - col("block_idx") * bs >= bs)
      .localCheckpoint(false)
    val boiler = blocks.filter(col("fullb"))
      .groupBy("blk").agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("blk"), lit(true).as("hit"))
    blocks.join(boiler, Seq("blk"), "left")
      .withColumn("is_b", col("fullb") && col("hit").isNotNull)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("is_b"), 1L).otherwise(0L)).as("n_boiler"),
        expr("array_join(transform(sort_array(collect_list(" +
          "case when not is_b then struct(block_idx, blk) end)), " +
          "x -> x.blk), ' ')").as("text_clean"))
      .orderBy("doc_id")
  }

  /** d64: temperature-scaled source mixing — the multilingual α-sampling
    * shape (Lample & Conneau 2019 §3.1, public: sample language s with
    * probability ∝ p_s^α). Source s's share of the output follows
    * q_s ∝ (n_s/N)^α: α < 1 FLATTENS the source distribution without
    * d26's hard uniform target — rare sources gain share, dominant ones
    * are trimmed, relative order is preserved (α=1 keeps the natural
    * mix, α=0 degenerates to d26's uniform). keep_rate_s =
    * min(1, targetFrac·N·q_s/n_s); selection is the d26/d28 replayable
    * md5 uniform, never rand(), so re-runs and late shards keep the
    * same docs.
    *
    * Scale shape: identical to d26 — one tiny per-source count agg
    * (sources ≪ rows), rates broadcast back onto a single filtering
    * map pass; no corpus shuffle, restart-safe.
    *
    * Float parity (d33/d57 discipline): each pow() term rounds to 9 dp
    * (absorbs JVM-vs-libm pow ulps), the share denominator sums the
    * rounded terms as exact DECIMAL(18,9) (order-free; its unscaled
    * value ≪ 2^53 so the double cast is the same single rounding in
    * both engines), and keep_rate itself is a 9 dp round so the
    * u < keep_rate cut compares identical bits across engines.
    *
    * The synthetic corpus has EXACTLY uniform sources (the d26 lesson:
    * any rebalancer is a no-op demo on it), so the registered entry
    * regroups docs into a deterministic Zipf-ish 55/25/12/6/2% skew
    * first — small groups then boost toward keep_rate 1, the dominant
    * one is trimmed hardest, which is the semantics under test. */
  def temperatureMix(s: SparkSession, d: String): DataFrame =
    temperatureMixOf(skewedMixInput(s, d))

  /** The registered d64 input: docs under the deterministic skew
    * regroup (exposed for the TVF parity spec). */
  private[graft] def skewedMixInput(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), skewedSourceGroups.as("source"))

  /** Deterministic skewed regrouping (mirrored in the oracle SQL). */
  private def skewedSourceGroups: org.apache.spark.sql.Column =
    when(col("doc_id") % 100 < 55, "g0")
      .when(col("doc_id") % 100 < 80, "g1")
      .when(col("doc_id") % 100 < 92, "g2")
      .when(col("doc_id") % 100 < 98, "g3")
      .otherwise("g4")

  /** d68 Bloom geometry: 2^22 bits = 512 KB of plan constant, 3
    * probes. At the sf0.1 bench-slice gram count (~70k) the fill is
    * ~5%, FP rate ~1e-4; the FILTER SIZE is corpus-independent — the
    * property that makes this the 100 TB shape (d24's broadcast
    * semi-join ships the whole bench gram table; this ships 512 KB
    * however large the eval suite's vocabulary grows). */
  val BloomM: Int = 1 << 22
  val BloomK: Int = 3

  /** d68: Bloom-filter benchmark decontamination — the constant-memory
    * variant of d24: benchmark 8-grams compress into a [[graft.functions.BloomBits]]
    * plan constant; each training doc's gram stream probes it in ONE
    * narrow map pass (no explode, no join, no shuffle — the cheapest
    * possible decon gate). One-sided by construction: NO false
    * negatives (every truly contaminated doc is flagged — the Bloom
    * guarantee, spec-gated against d24's exact semi-join), a
    * deterministic false-positive set that the ORACLE REPLAYS EXACTLY
    * (positions are pure hash arithmetic, so the DuckDB twin flags
    * the same FP docs bit-for-bit — an approximation with an exact
    * gate, like the LSH family). */
  def bloomDecon(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    bloomDeconOf(docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0))
  }

  /** Core of [[bloomDecon]] over explicit training/benchmark frames.
    * The benchmark side is eval-suite-sized by contract (its distinct
    * gram hashes are a driver pull, the semanticDecon discipline). */
  def bloomDeconOf(training: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    val benchHashes = benchmark
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= n)
      .select(explode(graft.functions.VectorExprs.ngramHashes(col("ws"), n)).as("ngh"))
      .distinct()
      .collect().map(_.getLong(0))
    val bits = graft.functions.BloomBits.build(benchHashes, BloomM, BloomK)
    training
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"),
        (size(col("ws")) - (n - 1)).cast("long").as("n_grams"),
        graft.functions.VectorExprs.bloomProbe(
          graft.functions.VectorExprs.ngramHashes(col("ws"), n), bits).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
      .orderBy("doc_id")
  }

  /** Core of [[temperatureMix]] over an explicit (doc_id, source)
    * frame. Every double op is ordered exactly as the oracle SQL writes
    * it: t = round(pow(n_s/N, α), 9); keep_rate =
    * round(min(1, ((targetFrac·N)·(t/den))/n_s), 9). */
  def temperatureMixOf(docs: DataFrame, alpha: Double = 0.3,
      targetFrac: Double = 0.5): DataFrame = {
    // counts feeds totals AND terms (and terms feeds denom AND rates):
    // lazy cuts keep the corpus-scan aggregation to ONE execution
    // instead of four plan-branch re-runs
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
      .localCheckpoint(eager = false)
    val totals = counts.agg(sum(col("n_src")).as("total"))
    val terms = counts.crossJoin(broadcast(totals))
      .withColumn("t", round(
        pow(col("n_src").cast("double") / col("total").cast("double"),
          lit(alpha)), 9))
      .localCheckpoint(eager = false)
    val denom = terms.agg(sum(col("t").cast("decimal(18,9)")).as("den"))
    val rates = terms.crossJoin(broadcast(denom))
      .select(col("source"),
        round(least(lit(1.0),
          lit(targetFrac) * col("total").cast("double")
            * (col("t") / col("den").cast("double"))
            / col("n_src").cast("double")), 9).as("keep_rate"))
    docs
      .withColumn("u", hashU)
      .join(broadcast(rates), "source")
      .filter(col("u") < col("keep_rate"))
      .select("doc_id", "source", "keep_rate")
      .orderBy("doc_id")
  }

  /** d70: contrastive TRIPLET mining — training-set construction for
    * embedding/retrieval models (the SimCSE/DPR data shape): each
    * near-dup pair becomes (anchor, positive) in BOTH orientations,
    * and the negative is a deterministic hash-indexed corpus draw
    * that is verified NOT to be the anchor, the positive, or a direct
    * near-dup of the anchor. Three salted candidates per triplet, the
    * first valid one wins (min salt); a triplet with no valid
    * candidate drops (deterministic — no rand(), replayable and
    * restart-stable like every sampling op in this engine).
    *
    * Scale shape: positives are the d4/d19 pair set (bounded by
    * near-dup density, never corpus²); the negative lookup indexes
    * docs by the two-level surrogate-id scheme (no single-partition
    * window) and pays ONE corpus-scale co-shuffle of (idx → doc_id)
    * against the 3·|pairs| candidate rows; validity checks are
    * anti-joins against the pair set. Corpus count arrives as a
    * broadcast one-row frame (no driver action).
    *
    * Oracle parity: candidate index = 1 + (first-8-hex-digits of
    * md5("anchor#pos#salt") as integer) mod n — the established
    * md5-uniform replay (d26/d28/d57) — and the min-salt pick is the
    * documented MIN(STRUCT) argmin, so the whole construction is
    * hash-exact in DuckDB. */
  def contrastiveTriplets(s: SparkSession, d: String): DataFrame =
    contrastiveTripletsOf(
      Dedup.ngramJaccard(s, d).select("id_a", "id_b", "jaccard"),
      Tables.documents(s, d).select("doc_id"))

  /** Core of [[contrastiveTriplets]] over explicit (id_a, id_b,
    * jaccard) pairs (id_a < id_b) and a (doc_id) corpus frame. The
    * corpus count is count(DISTINCT doc_id) so it always matches the
    * surrogate index's max idx (Silver.surrogateIds ranks DISTINCT
    * ids): a docs view carrying duplicate doc_ids draws from the same
    * uniform range the index covers instead of silently invalidating
    * the candidates whose nidx lands past the index. */
  def contrastiveTripletsOf(pairs: DataFrame, docs: DataFrame,
      salts: Int = 3): DataFrame = {
    // multi-consumed: both orientations + the negative-validity
    // anti-join — one cut, one mining pass
    val p = pairs.localCheckpoint(eager = false)
    val idx = Silver.surrogateIds(docs.select("doc_id"), Seq("doc_id"), "idx")
    val nn = broadcast(docs.agg(count_distinct(col("doc_id")).as("n")))
    val ori = p.select(col("id_a").as("anchor_id"), col("id_b").as("pos_id"),
        col("jaccard"))
      .union(p.select(col("id_b").as("anchor_id"), col("id_a").as("pos_id"),
        col("jaccard")))
    val cand = ori.crossJoin(nn)
      .select(col("anchor_id"), col("pos_id"), col("jaccard"), col("n"),
        explode(array((0 until salts).map(lit(_)): _*)).as("s"))
      .withColumn("nidx", expr(
        """1L + cast(conv(substring(md5(concat(
          |  cast(anchor_id as string), '#', cast(pos_id as string), '#',
          |  cast(s as string))), 1, 8), 16, 10) as bigint) % n""".stripMargin))
    val withNeg = cand.join(
      idx.select(col("idx").as("nidx"), col("doc_id").as("neg_id")), "nidx")
    val valid = withNeg
      .filter(col("neg_id") =!= col("anchor_id") &&
        col("neg_id") =!= col("pos_id"))
      .join(p.select("id_a", "id_b"),
        least(col("anchor_id"), col("neg_id")) === col("id_a") &&
          greatest(col("anchor_id"), col("neg_id")) === col("id_b"),
        "left_anti")
    // min-salt winner via the struct argmin (group sizes ≤ salts —
    // the SortAggregate fallback is irrelevant at this row count)
    valid.groupBy("anchor_id", "pos_id")
      .agg(min(struct(col("s"), col("neg_id"))).as("m"),
        min(col("jaccard")).as("j_pos"))
      .select(col("anchor_id"), col("pos_id"),
        col("m.neg_id").as("neg_id"), col("j_pos"))
      .orderBy("anchor_id", "pos_id")
  }
}
