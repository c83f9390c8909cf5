package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftshim
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Cep, CorpusStats, Curation, Dedup, Retrieval, Similarity}
import graft.plans.AsOfJoin

/** SQL-surface access to the engine: table-valued functions that make
  * the flagship operators reachable from plain `spark.sql`, the way the
  * reference exposes its whole surface as stored procedures
  * (/root/reference/docs/sql_server.md; sql/opt.sql:252-391). A user who
  * speaks only SQL can now run the as-of join, the exact near-dup
  * miners, BM25 search and the CEP automaton:
  *
  * {{{
  *   SELECT * FROM asof_join('trades', 'quotes', 'user_id', 'ts', 'user_id_r', 'q_ts')
  *   SELECT * FROM ngram_jaccard('docs')
  *   SELECT * FROM containment_pairs('docs')
  *   SELECT * FROM bm25_search('docs', 7, 'fast vector query')
  *   SELECT * FROM event_pattern('events', 172800000000, 'view', 'click', 'purchase')
  *   SELECT * FROM exact_dedup('docs')
  *   SELECT * FROM span_dedup('docs')
  *   SELECT * FROM boilerplate_scrub('docs', 3)
  *   SELECT * FROM gopher_gate('docs')
  *   SELECT * FROM corpus_report('docs')
  *   SELECT * FROM url_filter('urls', 'spam.example.com,ads.example.com')
  *   SELECT * FROM weighted_sample('docs')
  *   SELECT * FROM domain_mix('docs', 0.5)
  *   SELECT * FROM stratified_split('docs', 0.9, 0.95)
  *   SELECT * FROM token_budget_mix('docs', 0.5)
  *   SELECT * FROM sequence_pack('docs', 256, 512)
  *   SELECT * FROM ccnet_buckets('docs', 0.1)
  * }}}
  *
  * Dataset arguments are passed as VIEW NAMES (string literals) resolved
  * against the live catalog when the TVF analyzes — the same relations a
  * stored procedure would name. Each builder delegates to the engine's
  * `*Of` core, so a SQL call and the registered Scala entry produce the
  * same plan shape (hash parity spec-gated in SqlSurfaceSpec); scalar
  * building blocks (minhash_sig, simhash64, event_matches, gopher_stats,
  * dot_f, …) register alongside in
  * [[graft.functions.VectorExprs.register]] so bespoke variants stay
  * SQL-composable too.
  *
  * Wiring: [[Graft.install]] (runtime) or
  * `--conf spark.sql.extensions=graft.GraftExtensions` (deploy-time —
  * builders resolve view names through the then-active session).
  */
object SqlSurface {

  private def active: SparkSession =
    SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("graft TVF invoked with no active SparkSession"))

  private def table(name: String): DataFrame = active.table(name)

  private def strArg(fn: String, es: Seq[Expression], i: Int): String = {
    val e = es(i)
    require(e.foldable, s"$fn: argument ${i + 1} must be a literal string")
    e.eval() match {
      case u: UTF8String => u.toString
      case s: String => s
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} must be a string literal, got $other")
    }
  }

  private def longArg(fn: String, es: Seq[Expression], i: Int): Long = {
    val e = es(i)
    require(e.foldable, s"$fn: argument ${i + 1} must be a literal integer")
    e.eval() match {
      case l: Long => l
      case n: Int => n.toLong
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} must be an integer literal, got $other")
    }
  }

  private def csvArg(fn: String, es: Seq[Expression], i: Int): Seq[String] =
    strArg(fn, es, i).split(",").map(_.trim).filter(_.nonEmpty).toSeq

  // a bare SQL literal like 0.5 analyzes as DECIMAL — accept the
  // numeric family and widen (the fraction knobs are doubles inside)
  private def dblArg(fn: String, es: Seq[Expression], i: Int): Double = {
    val e = es(i)
    require(e.foldable, s"$fn: argument ${i + 1} must be a numeric literal")
    e.eval() match {
      case d: Double => d
      case f: Float => f.toDouble
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case l: Long => l.toDouble
      case n: Int => n.toDouble
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} must be a numeric literal, got $other")
    }
  }

  /** `asof_join(left, right, lkey, ltime, rkey, rtime[, lseq, rseq])`:
    * the [[graft.plans.AsOfJoin]] custom plan (q26's operator) — for
    * each left row, the newest right row of the same key at-or-before
    * its time; seq columns break timestamp ties deterministically.
    * Column names must be unambiguous across the two views (rename on
    * the right, as [[graft.plans.AsOf.join]] requires). */
  private def asofJoinBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "asof_join"
    require(es.length == 6 || es.length == 8,
      s"$fn(left, right, lkey, ltime, rkey, rtime[, lseq, rseq]) takes 6 or 8 args, got ${es.length}")
    val a = es.indices.map(strArg(fn, es, _))
    val lp = graftshim.analyzed(table(a(0)))
    val rp = graftshim.analyzed(table(a(1)))
    def attr(p: LogicalPlan, side: String, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"$fn: column $n not found in $side view (${p.output.map(_.name).mkString(", ")})"))
    AsOfJoin(lp, rp,
      attr(lp, "left", a(2)), attr(lp, "left", a(3)),
      attr(rp, "right", a(4)), attr(rp, "right", a(5)),
      if (es.length == 8) Some(attr(lp, "left", a(6))) else None,
      if (es.length == 8) Some(attr(rp, "right", a(7))) else None)
  }

  /** `ngram_jaccard(docs_view)`: the d4 exact word-set-jaccard ≥ 0.8
    * near-dup miner (banded self-join + bitset intersection) over a
    * (doc_id, lang, source, text) view. */
  private def ngramJaccardBuilder(es: Seq[Expression]): LogicalPlan = {
    require(es.length == 1, s"ngram_jaccard(docs_view) takes 1 arg, got ${es.length}")
    graftshim.analyzed(Dedup.ngramJaccardOf(table(strArg("ngram_jaccard", es, 0))))
  }

  /** `containment_pairs(docs_view[, t_num, t_den])`: the d62 directed
    * containment miner (prefix-filtered set join, default threshold
    * 9/10) over a (doc_id, lang, source, text) view. */
  private def containmentBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "containment_pairs"
    require(es.length == 1 || es.length == 3,
      s"$fn(docs_view[, t_num, t_den]) takes 1 or 3 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0))
    val plan =
      if (es.length == 3)
        Dedup.containmentOf(docs,
          longArg(fn, es, 1).toInt, longArg(fn, es, 2).toInt)
      else Dedup.containmentOf(docs)
    graftshim.analyzed(plan)
  }

  /** `bm25_search(docs_view)` — d48's fixed query battery — or
    * `bm25_search(docs_view, query_id, 'space separated terms')` for an
    * ad-hoc query, over a (doc_id, text) view. */
  private def bm25Builder(es: Seq[Expression]): LogicalPlan = {
    val fn = "bm25_search"
    require(es.length == 1 || es.length == 3,
      s"$fn(docs_view[, query_id, terms]) takes 1 or 3 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("doc_id", "text")
    val plan =
      if (es.length == 3)
        Retrieval.bm25SearchOf(docs, Seq(longArg(fn, es, 1).toInt ->
          strArg(fn, es, 2).split(" ").map(_.trim).filter(_.nonEmpty).toSeq))
      else Retrieval.bm25SearchOf(docs)
    graftshim.analyzed(plan)
  }

  /** The CEP TVFs over a (user_id, ts, event_id, event_type) view, both
    * run by the one automaton ([[graft.functions.CepMachine]], `start
    * mid{m,n} end` within span; tag sets are comma-separated lists, mids
    * may be ''; a start type that is also a mid makes matches overlap):
    *  - `event_pattern(events_view[, span_us[, starts, mids, ends[,
    *    min_mid, max_mid]]])`, defaults = q57's `view click* purchase`
    *    (m=0, n=∞);
    *  - `event_pattern_skip_next(events_view[, span_us[, starts, mids,
    *    ends]])`, defaults = q65's `view (click|view)* purchase`.
    * They differ only in their default mids and in taking mid bounds. */
  private def eventPatternBuilder(fn: String, defaultMids: Seq[String], bounds: Boolean)(
      es: Seq[Expression]): LogicalPlan = {
    val arities = if (bounds) Seq(1, 2, 5, 7) else Seq(1, 2, 5)
    require(arities.contains(es.length),
      s"$fn(events_view[, span_us[, starts, mids, ends" +
        s"${if (bounds) "[, min_mid, max_mid]" else ""}]]) " +
        s"takes ${arities.init.mkString(", ")} or ${arities.last} args, got ${es.length}")
    val events = table(strArg(fn, es, 0))
    val span = if (es.length >= 2) longArg(fn, es, 1) else Cep.SpanUs
    val plan =
      if (es.length >= 5)
        Cep.eventPatternOf(events, span,
          csvArg(fn, es, 2), csvArg(fn, es, 3), csvArg(fn, es, 4),
          if (es.length == 7) longArg(fn, es, 5).toInt else 0,
          if (es.length == 7) longArg(fn, es, 6).toInt else Int.MaxValue)
      else Cep.eventPatternOf(events, span, midTypes = defaultMids)
    graftshim.analyzed(plan)
  }

  // ---- curation/dedup flagship TVFs ---------------------------------
  // One pattern for the whole family: a single docs-view argument
  // (optionally + literal params), delegating to the entry's *Of core
  // so the SQL call and the registered Scala entry share a plan shape.

  private def oneViewBuilder(fn: String, core: DataFrame => DataFrame)(
      es: Seq[Expression]): LogicalPlan = {
    require(es.length == 1, s"$fn(docs_view) takes 1 arg, got ${es.length}")
    graftshim.analyzed(core(table(strArg(fn, es, 0))))
  }

  /** `exact_dedup(docs_view)`: d1 — content-hash groups with the kept
    * (smallest) doc id and duplicate count, over a (doc_id, text) view. */
  private val exactDedupBuilder =
    oneViewBuilder("exact_dedup", Dedup.exactDedupOf) _

  /** `span_dedup(docs_view)`: d40 — C4-style duplicate-span removal
    * with per-doc rebuilt clean text, over a (doc_id, text) view. */
  private val spanDedupBuilder =
    oneViewBuilder("span_dedup", graft.functions.TextFns.spanDedupOf) _

  /** `boilerplate_scrub(docs_view[, min_docs])`: d54 — drop word blocks
    * shared by ≥ min_docs documents and rebuild each doc, over a
    * (doc_id, text) view. */
  private def boilerplateBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "boilerplate_scrub"
    require(es.length == 1 || es.length == 2,
      s"$fn(docs_view[, min_docs]) takes 1 or 2 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("doc_id", "text")
    val plan =
      if (es.length == 2) Curation.boilerplateScrubOf(docs, longArg(fn, es, 1).toInt)
      else Curation.boilerplateScrubOf(docs)
    graftshim.analyzed(plan)
  }

  /** `gopher_gate(docs_view)`: d43 — Gopher repetition fractions and
    * the keep/drop gate flag, over a (doc_id, text) view. */
  private val gopherGateBuilder =
    oneViewBuilder("gopher_gate",
      (docs: DataFrame) => Curation.gopherRepetitionOf(docs.select("doc_id", "text"))) _

  /** `corpus_report(docs_view)`: d47 — per-(lang, source) corpus health
    * report, over a (lang, source, text) view. */
  private val corpusReportBuilder =
    oneViewBuilder("corpus_report",
      (docs: DataFrame) => CorpusStats.corpusReportOf(docs.select("lang", "source", "text"))) _

  /** `url_filter(urls_view[, 'blocked.dom,other.dom'])`: d55 — URL
    * normalization + canonical-dedup + blocklist gate over a
    * (doc_id, url) view; blocklist is a comma-separated literal
    * (default: the registered entry's list). */
  private def urlFilterBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "url_filter"
    require(es.length == 1 || es.length == 2,
      s"$fn(urls_view[, blocklist_csv]) takes 1 or 2 args, got ${es.length}")
    val urls = table(strArg(fn, es, 0)).select("doc_id", "url")
    val block = if (es.length == 2) csvArg(fn, es, 1) else Curation.UrlBlocklist
    graftshim.analyzed(Curation.urlFilterOf(urls, block))
  }

  // ---- batch 2: the text-analysis / corpus-stats / near-dup battery --
  import graft.functions.{TextFns => TF}

  /** `ngram_topk(docs_view[, n, k])`: d29 — top-k word n-grams
    * corpus-wide (defaults n=3, k=50) over a (doc_id, text) view. */
  private def ngramTopkBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "ngram_topk"
    require(es.length == 1 || es.length == 3,
      s"$fn(docs_view[, n, k]) takes 1 or 3 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("doc_id", "text")
    val (n, k) =
      if (es.length == 3) (longArg(fn, es, 1).toInt, longArg(fn, es, 2).toInt)
      else (3, 50)
    graftshim.analyzed(CorpusStats.ngramTopKOf(docs, n, k))
  }

  /** `vocab_coverage(docs_view[, k])`: d30 — top-k words with their
    * cumulative token-coverage fraction (default k=100). */
  private def vocabCoverageBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "vocab_coverage"
    require(es.length == 1 || es.length == 2,
      s"$fn(docs_view[, k]) takes 1 or 2 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("text")
    val k = if (es.length == 2) longArg(fn, es, 1).toInt else 100
    graftshim.analyzed(CorpusStats.vocabCoverageOf(docs, k))
  }

  /** `unigram_nll(docs_view[, vocab_cap])`: d33 — per-doc mean unigram
    * negative log likelihood under a self-trained top-V model. */
  private def unigramNllBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "unigram_nll"
    require(es.length == 1 || es.length == 2,
      s"$fn(docs_view[, vocab_cap]) takes 1 or 2 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("doc_id", "text")
    val cap = if (es.length == 2) longArg(fn, es, 1).toInt else 1000
    graftshim.analyzed(CorpusStats.unigramNllOf(docs, cap))
  }

  private val batch2OneView: Seq[(String, DataFrame => DataFrame)] = Seq(
    "lang_id" -> (docs => TF.langIdOf(docs.select("lang", "text"))),
    "quality_score" -> (docs => TF.qualityScoreOf(docs.select("doc_id", "lang", "text"))),
    "token_count" -> (docs => TF.tokenCountOf(docs.select("doc_id", "text"))),
    "text_clean" -> (docs => TF.textCleanOf(docs.select("doc_id", "text"))),
    "doc_fingerprint" -> (docs => TF.fingerprintOf(docs.select("doc_id", "text"))),
    "tfidf_rank" -> (docs => TF.tfidfRankOf(docs.select("doc_id", "text"))),
    "chunk_docs" -> (docs => TF.chunkDocsOf(docs.select("doc_id", "text"))),
    "heavy_tokens" -> (docs => TF.heavyTokensOf(docs.select("lang", "text"))),
    "minhash_pairs" -> (docs => Dedup.minhashLshOf(docs.select("doc_id", "text"))),
    "simhash_pairs" -> (docs => Dedup.simhashOf(docs.select("doc_id", "text"))),
    // duplicate clusters over the exact d4 pair list (d20).
    // Dedup.connectedComponents counts (and, under its edge gate,
    // labels) when the TVF ANALYZES — a SQL user pays the mining cost
    // at statement analysis, like a stored procedure would.
    "dup_clusters" -> (docs => Dedup.connectedComponents(
      Dedup.ngramJaccardOf(docs).select("id_a", "id_b")).orderBy("node")))

  // ---- batch 3: sampling / packing / bucketing -----------------------

  /** `weighted_sample(docs_view)`: d57 — deterministic weighted
    * reservoir per source (Efraimidis–Spirakis exp-key order, char
    * weights) over a (doc_id, source, n_chars) view. */
  private val weightedSampleBuilder =
    oneViewBuilder("weighted_sample", (docs: DataFrame) =>
      Curation.weightedSampleOf(docs.select("doc_id", "source", "n_chars"))) _

  /** `domain_mix(docs_view[, target_frac])`: d26 — per-source
    * budget-balanced sampling (deterministic md5 keep-hash) over a
    * (doc_id, source) view. */
  private def domainMixBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "domain_mix"
    require(es.length == 1 || es.length == 2,
      s"$fn(docs_view[, target_frac]) takes 1 or 2 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("doc_id", "source")
    val frac = if (es.length == 2) dblArg(fn, es, 1) else 0.5
    graftshim.analyzed(Curation.domainMixSampleOf(docs, frac))
  }

  /** `stratified_split(docs_view[, train_upper, val_upper])`: d28 —
    * the hash-based train/val/test label appended to every input
    * column (defaults 0.9 / 0.95). */
  private def stratifiedSplitBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "stratified_split"
    require(es.length == 1 || es.length == 3,
      s"$fn(docs_view[, train_upper, val_upper]) takes 1 or 3 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0))
    val (tu, vu) =
      if (es.length == 3) (dblArg(fn, es, 1), dblArg(fn, es, 2)) else (0.9, 0.95)
    graftshim.analyzed(Curation.stratifiedSplitOf(docs, tu, vu))
  }

  /** `token_budget_mix(docs_view[, target_frac])`: d31 — per-source
    * ordered token-budget cut over a (doc_id, source, text) view. */
  private def tokenBudgetMixBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "token_budget_mix"
    require(es.length == 1 || es.length == 2,
      s"$fn(docs_view[, target_frac]) takes 1 or 2 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("doc_id", "source", "text")
    val frac = if (es.length == 2) dblArg(fn, es, 1) else 0.5
    graftshim.analyzed(Curation.tokenBudgetMixOf(docs, frac))
  }

  /** `sequence_pack(docs_view[, capacity, shard_size])`: d49 — greedy
    * reset-accumulator packing inside bounded (source, shard) groups
    * over a (doc_id, text, source) view. */
  private def sequencePackBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "sequence_pack"
    require(es.length == 1 || es.length == 3,
      s"$fn(docs_view[, capacity, shard_size]) takes 1 or 3 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("doc_id", "text", "source")
    val (cap, shard) =
      if (es.length == 3) (longArg(fn, es, 1).toInt, longArg(fn, es, 2).toInt)
      else (Curation.PackCapacity, Curation.PackShard)
    graftshim.analyzed(Curation.sequencePackOf(docs, cap, shard))
  }

  /** `ccnet_buckets(docs_view[, tail_keep])`: d52 — head/middle/tail
    * perplexity tiers from a self-trained bigram LM over a
    * (doc_id, text) view. */
  private def ccnetBucketsBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "ccnet_buckets"
    require(es.length == 1 || es.length == 2,
      s"$fn(docs_view[, tail_keep]) takes 1 or 2 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("doc_id", "text")
    val keep = if (es.length == 2) dblArg(fn, es, 1) else 0.1
    graftshim.analyzed(Curation.ccnetBucketsOf(docs, keep))
  }

  /** `set_overlap(docs_view[, k, max_sources])`: d58 — pairwise
    * cross-source 3-gram overlap estimates from KMV/theta sketches
    * over a (source, text) view. */
  private def setOverlapBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "set_overlap"
    require(es.length == 1 || es.length == 3,
      s"$fn(docs_view[, k, max_sources]) takes 1 or 3 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("source", "text")
    val (k, mx) =
      if (es.length == 3) (longArg(fn, es, 1).toInt, longArg(fn, es, 2).toInt)
      else (512, 6)
    graftshim.analyzed(CorpusStats.setOverlapOf(docs, k, mx))
  }

  // ---- batch 4: mixing / graph / diversity / fingerprint decon -------

  /** `temperature_mix(docs_view[, alpha, target_frac])`: d64 —
    * α-sampling source rebalance over a (doc_id, source) view. */
  private def temperatureMixBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "temperature_mix"
    require(es.length == 1 || es.length == 3,
      s"$fn(docs_view[, alpha, target_frac]) takes 1 or 3 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("doc_id", "source")
    val (a, f) =
      if (es.length == 3) (dblArg(fn, es, 1), dblArg(fn, es, 2)) else (0.3, 0.5)
    graftshim.analyzed(Curation.temperatureMixOf(docs, a, f))
  }

  /** `graph_pagerank(pairs_view[, iters])`: d65 — integer-unit
    * PageRank over an undirected (id_a, id_b) pair view. */
  private def pageRankBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "graph_pagerank"
    require(es.length == 1 || es.length == 2,
      s"$fn(pairs_view[, iters]) takes 1 or 2 args, got ${es.length}")
    val pairs = table(strArg(fn, es, 0)).select("id_a", "id_b")
    val iters = if (es.length == 2) longArg(fn, es, 1).toInt else 8
    graftshim.analyzed(Dedup.pageRankOf(pairs, iters))
  }

  /** `graph_pagerank_weighted(pairs_view[, iters])`: d69 —
    * integer-unit weighted PageRank over an (id_a, id_b, w_units)
    * pair view; w_units ≥ 1 (zero-weight rows are dropped). */
  private def pageRankWeightedBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "graph_pagerank_weighted"
    require(es.length == 1 || es.length == 2,
      s"$fn(pairs_view[, iters]) takes 1 or 2 args, got ${es.length}")
    val pairs = table(strArg(fn, es, 0)).select("id_a", "id_b", "w_units")
    val iters = if (es.length == 2) longArg(fn, es, 1).toInt else 8
    graftshim.analyzed(Dedup.pageRankWeightedOf(pairs, iters))
  }

  /** `contrastive_triplets(pairs_view, docs_view[, salts])`: d70 —
    * (anchor, positive, negative) training triplets from an
    * (id_a, id_b, jaccard) pair view and a (doc_id) corpus view. */
  private def contrastiveTripletsBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "contrastive_triplets"
    require(es.length == 2 || es.length == 3,
      s"$fn(pairs_view, docs_view[, salts]) takes 2 or 3 args, got ${es.length}")
    val pairs = table(strArg(fn, es, 0)).select("id_a", "id_b", "jaccard")
    val docs = table(strArg(fn, es, 1)).select("doc_id")
    val salts = if (es.length == 3) longArg(fn, es, 2).toInt else 3
    graftshim.analyzed(Curation.contrastiveTripletsOf(pairs, docs, salts))
  }

  /** `hard_negatives(embs_view[, k, multi_assign])`: d71 — per-anchor
    * strongest positive + hardest sub-threshold negative over a
    * (vec_id, embedding) view. COST NOTE: unlike the bounded
    * setOverlap/mmr builder-time work, this builder runs CORPUS-SCALE
    * driver actions at SQL ANALYSIS time (adaptive-k count + the full
    * k-means centroid train are eager inside hardTripletsOf), and
    * analysis is serialized under the session lock — pass an explicit
    * `k` to skip the count, and prefer the Scala API when the TVF
    * would appear in many concurrently-analyzed queries. */
  private def hardNegativesBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "hard_negatives"
    require(es.length == 1 || es.length == 3,
      s"$fn(embs_view[, k, multi_assign]) takes 1 or 3 args, got ${es.length}")
    val embs = table(strArg(fn, es, 0)).select("vec_id", "embedding")
    val (k, ma) =
      if (es.length == 3) (Some(longArg(fn, es, 1).toInt), longArg(fn, es, 2).toInt)
      else (None: Option[Int], 2)
    graftshim.analyzed(Similarity.hardTripletsOf(embs, k, ma))
  }

  /** `knn_graph(embs_view[, k_neighbors])`: d72 — per-vector top-k
    * neighbor table over a (vec_id, embedding) view. COST NOTE: the
    * same analysis-time weight as `hard_negatives` — knnGraphOf
    * eagerly runs the adaptive-k count and the k-means train inside
    * this builder; prefer the Scala API for concurrent analysis paths. */
  private def knnGraphBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "knn_graph"
    require(es.length == 1 || es.length == 2,
      s"$fn(embs_view[, k_neighbors]) takes 1 or 2 args, got ${es.length}")
    val embs = table(strArg(fn, es, 0)).select("vec_id", "embedding")
    val kn = if (es.length == 2) longArg(fn, es, 1).toInt else 5
    graftshim.analyzed(Similarity.knnGraphOf(embs, kn))
  }

  /** `mutual_knn(knn_view[, min_cos])`: d73 — mutual-kNN edges +
    * component labels over a (q_id, neighbor_id, cos) neighbor view
    * (the `knn_graph` output shape). Pure composition — no
    * analysis-time driver work beyond the CC gate at execution. */
  private def mutualKnnBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "mutual_knn"
    require(es.length == 1 || es.length == 2,
      s"$fn(knn_view[, min_cos]) takes 1 or 2 args, got ${es.length}")
    val knn = table(strArg(fn, es, 0)).select("q_id", "neighbor_id", "cos")
    val mc = if (es.length == 2) dblArg(fn, es, 1) else 0.30
    graftshim.analyzed(Similarity.mutualKnnOf(knn, mc))
  }

  /** `ann_recall(embs_view, knn_view[, panel, top_k])`: d74 — per-query
    * recall of an approximate neighbor view (the `knn_graph` output
    * shape) against the exact brute-force top-k over a
    * (vec_id, embedding) corpus view. Pure composition — no
    * analysis-time driver work. */
  private def annRecallBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "ann_recall"
    require(es.length == 2 || es.length == 4,
      s"$fn(embs_view, knn_view[, panel, top_k]) takes 2 or 4 args, got ${es.length}")
    val emb = table(strArg(fn, es, 0)).select("vec_id", "embedding")
    val knn = table(strArg(fn, es, 1)).select("q_id", "neighbor_id", "rk")
    val (p, k) =
      if (es.length == 4) (longArg(fn, es, 2).toInt, longArg(fn, es, 3).toInt)
      else (100, 5)
    graftshim.analyzed(Similarity.annRecallOf(emb, knn, p, k))
  }

  /** `retrieval_metrics(docs_view[, top_k])`: d76 — nDCG@k + MRR@k for
    * the BM25 and hybrid-RRF rankings over a (doc_id, text) view
    * against term-coverage qrels. Deferred plan work only (the
    * rankings and qrels build lazily inside the returned plan). */
  private def retrievalMetricsBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "retrieval_metrics"
    require(es.length == 1 || es.length == 2,
      s"$fn(docs_view[, top_k]) takes 1 or 2 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("doc_id", "text")
    val k = if (es.length == 2) longArg(fn, es, 1).toInt
      else graft.operators.Retrieval.TopK
    graftshim.analyzed(Retrieval.retrievalMetricsOf(docs, topK = k))
  }

  /** `mmr_select(embs_view[, k, pool])`: d66 — greedy MMR diversity
    * picks over a (vec_id, embedding) view. Builder-time driver work
    * (mean + pool pull) is bounded, the setOverlap precedent. */
  private def mmrSelectBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "mmr_select"
    require(es.length == 1 || es.length == 3,
      s"$fn(embs_view[, k, pool]) takes 1 or 3 args, got ${es.length}")
    val embs = table(strArg(fn, es, 0)).select("vec_id", "embedding")
    val (k, p) =
      if (es.length == 3) (longArg(fn, es, 1).toInt, longArg(fn, es, 2).toInt)
      else (24, 128)
    graftshim.analyzed(Similarity.mmrSelectOf(embs, k, p))
  }

  /** `winnow_overlap(docs_view[, k, w, min_shared])`: d67 — winnowing
    * fingerprint overlap pairs over a (doc_id, text, lang, source)
    * view (no passage planting — the caller's corpus is the input). */
  private def winnowOverlapBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "winnow_overlap"
    require(es.length == 1 || es.length == 4,
      s"$fn(docs_view[, k, w, min_shared]) takes 1 or 4 args, got ${es.length}")
    val docs = table(strArg(fn, es, 0)).select("doc_id", "text", "lang", "source")
    val (k, w, ms) =
      if (es.length == 4) (longArg(fn, es, 1).toInt, longArg(fn, es, 2).toInt,
        longArg(fn, es, 3).toInt)
      else (4, 8, 2)
    graftshim.analyzed(Dedup.winnowOverlapOf(docs, k, w, ms))
  }

  /** `bloom_decon(train_view, bench_view[, n])`: d68 — Bloom-filter
    * benchmark decon; the bench view's gram set is a builder-time
    * driver pull (eval-suite-sized by contract). */
  private def bloomDeconBuilder(es: Seq[Expression]): LogicalPlan = {
    val fn = "bloom_decon"
    require(es.length == 2 || es.length == 3,
      s"$fn(train_view, bench_view[, n]) takes 2 or 3 args, got ${es.length}")
    val tr = table(strArg(fn, es, 0)).select("doc_id", "text")
    val be = table(strArg(fn, es, 1)).select("doc_id", "text")
    val n = if (es.length == 3) longArg(fn, es, 2).toInt else 8
    graftshim.analyzed(Curation.bloomDeconOf(tr, be, n))
  }

  /** Name → builder for every graft TVF (one registration list shared
    * by the runtime and the conf-based extension paths). */
  val tableFunctions: Seq[(String, Seq[Expression] => LogicalPlan)] =
    batch2OneView.map { case (n, core) => n -> (oneViewBuilder(n, core) _) } ++ Seq(
    "ngram_topk" -> (ngramTopkBuilder _),
    "vocab_coverage" -> (vocabCoverageBuilder _),
    "unigram_nll" -> (unigramNllBuilder _)) ++ Seq(
    "asof_join" -> (asofJoinBuilder _),
    "ngram_jaccard" -> (ngramJaccardBuilder _),
    "containment_pairs" -> (containmentBuilder _),
    "bm25_search" -> (bm25Builder _),
    "event_pattern" -> eventPatternBuilder("event_pattern", Seq("click"), bounds = true) _,
    "event_pattern_skip_next" ->
      eventPatternBuilder("event_pattern_skip_next", Seq("click", "view"), bounds = false) _,
    "exact_dedup" -> exactDedupBuilder,
    "span_dedup" -> spanDedupBuilder,
    "boilerplate_scrub" -> (boilerplateBuilder _),
    "gopher_gate" -> gopherGateBuilder,
    "corpus_report" -> corpusReportBuilder,
    "url_filter" -> (urlFilterBuilder _),
    "weighted_sample" -> weightedSampleBuilder,
    "domain_mix" -> (domainMixBuilder _),
    "stratified_split" -> (stratifiedSplitBuilder _),
    "token_budget_mix" -> (tokenBudgetMixBuilder _),
    "sequence_pack" -> (sequencePackBuilder _),
    "ccnet_buckets" -> (ccnetBucketsBuilder _),
    "set_overlap" -> (setOverlapBuilder _),
    "temperature_mix" -> (temperatureMixBuilder _),
    "graph_pagerank" -> (pageRankBuilder _),
    "graph_pagerank_weighted" -> (pageRankWeightedBuilder _),
    "contrastive_triplets" -> (contrastiveTripletsBuilder _),
    "hard_negatives" -> (hardNegativesBuilder _),
    "knn_graph" -> (knnGraphBuilder _),
    "mutual_knn" -> (mutualKnnBuilder _),
    "ann_recall" -> (annRecallBuilder _),
    "retrieval_metrics" -> (retrievalMetricsBuilder _),
    "mmr_select" -> (mmrSelectBuilder _),
    "winnow_overlap" -> (winnowOverlapBuilder _),
    "bloom_decon" -> (bloomDeconBuilder _))

  /** Register all TVFs on a live session (what [[Graft.install]] calls). */
  def register(spark: SparkSession): Unit = {
    val treg = spark.sessionState.tableFunctionRegistry
    tableFunctions.foreach { case (name, builder) =>
      treg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  private val q63Seq = new java.util.concurrent.atomic.AtomicLong(0)

  /** q63 registered entry: q26's as-of semantics expressed in PURE
    * `spark.sql` through the asof_join TVF — the registered proof that
    * a SQL-only user reaches the custom AsOfJoin plan. Same output and
    * oracle as q26 (hash parity is the point). View names are unique
    * per invocation (two concurrent bench calls must not clobber each
    * other's inputs, and a user's own `trades` view must survive) and
    * dropped once the statement is analyzed — `spark.sql` resolves the
    * names eagerly, so the returned frame doesn't need them. */
  def q26ViaSql(s: SparkSession, d: String): DataFrame = {
    Graft.install(s)
    import org.apache.spark.sql.functions.col
    val n = q63Seq.incrementAndGet()
    val tv = s"graft_q63_trades_$n"
    val qv = s"graft_q63_quotes_$n"
    val ev = Tables.events(s, d)
    ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
      .createOrReplaceTempView(tv)
    ev.filter(col("event_type") === "view")
      .select(col("user_id").as("user_id_r"), col("ts").as("q_ts"),
        col("value").as("q_value"), col("event_id").as("q_event_id"))
      .createOrReplaceTempView(qv)
    try s.sql(
      s"""SELECT event_id, user_id, ts, value, q_value, q_ts
         |FROM asof_join('$tv', '$qv',
         |               'user_id', 'ts', 'user_id_r', 'q_ts',
         |               'event_id', 'q_event_id')
         |ORDER BY event_id""".stripMargin)
    finally {
      s.catalog.dropTempView(tv)
      s.catalog.dropTempView(qv)
    }
  }

  /** Injection tuples for [[GraftExtensions]] (deploy-time conf path). */
  def injectable: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] =
    tableFunctions.map { case (name, builder) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(SqlSurface.getClass.getCanonicalName, name),
        builder)
    }
}
