package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed end-to-end training-corpus build — the pipeline an LLM
  * data team actually ships, assembled from the individual operators:
  *
  *   raw docs → scrub → quality gate → exact dedup → near-dup dedup
  *            → [span dedup] → [decontaminate] → repetition gate
  *            → [domain mix] → chunked training examples
  *
  * Each stage is the same declarative transform its standalone query
  * uses (d12 scrub, d8-style gates, d1 exact dedup, d2 LSH + connected
  * components, d24 decontamination, d25 repetition, d26 mixing, d18
  * chunking), so the composition inherits their scale properties: no
  * stage is O(rows²), every pairwise step goes through bounded
  * candidate generation, and the curation gates are broadcast joins or
  * pure map passes.
  */
object CorpusPipeline {

  /** The d12 scrub as one reusable transform — applied to the corpus
    * as stage 1 and to the decontamination benchmark (both sides of a
    * gram match must normalize identically). */
  private[graft] def scrubText(df: DataFrame): DataFrame =
    df.withColumn("text",
      trim(regexp_replace(regexp_replace(regexp_replace(
        lower(col("text")),
        "https?://[^ ]+", " "),
        "[^ ]+@[^ ]+", " "),
        "\\s+", " ")))
      .filter(col("text") =!= "")

  /** @param docs (doc_id: long, text: string) + any carry-through cols
    * @param minWords quality gate: minimum whitespace words post-scrub
    * @param benchmark held-out eval docs (doc_id, text); when given,
    *   docs sharing any word 8-gram are dropped (d24)
    * @param maxRepFrac repetition gate: drop docs whose duplicate-
    *   3-gram fraction exceeds this (1.0 = off)
    * @param mixTargetFrac when given AND docs carry a `source` column,
    *   resample toward the uniform source mixture at this corpus
    *   fraction (d26) before chunking
    * @return (chunks, per-stage row counts in pipeline order). Stage
    *   counts ride as `Dataset.observe()` counters on the plans that
    *   run anyway — the old per-stage cache()+count() put eight serial
    *   driver barriers in the middle of the pipeline (measured as the
    *   concurrent Bench's critical path). The only real
    *   materializations left are the exact-dedup cut (eager — it is
    *   both the branch point the near-dup miner and the main chain
    *   share, and the action that delivers the pre-cut stage counters:
    *   observations upstream of a lineage cut deliver ONLY with the
    *   cut's own action, a lazy cut would leave them undelivered
    *   forever), the CC loop's one convergence count, and the final
    *   chunk count on the returned cached frame (the caller unpersists
    *   it when done). Cuts go through graft.ops.Checkpoints.cut:
    *   reliable under an installed checkpoint dir, local otherwise.
    */
  def buildTrainingCorpus(docs: DataFrame, minWords: Int = 5,
      benchmark: Option[DataFrame] = None,
      maxRepFrac: Double = 1.0,
      mixTargetFrac: Option[Double] = None,
      blockCols: Seq[String] = Seq.empty,
      spanDedup: Boolean = false,
      gopherGate: Boolean = false,
      boilerplateScrub: Boolean = false,
      boilerplateMinDocs: Int = Curation.BoilerMinDocs,
      subsetPrune: Boolean = false,
      qualityModel: Option[Classifier.Model] = None): (DataFrame, Seq[(String, Long)]) = {
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[(String, org.apache.spark.sql.Observation)]
    def observed(name: String, df: DataFrame): DataFrame = {
      val o = new org.apache.spark.sql.Observation()
      stats += name -> o
      df.observe(o, count(lit(1)).as("rows"))
    }

    // 1. scrub: URL/email strip, whitespace collapse, lowercase (d12).
    //    scrubbed0/quality0 are the UN-observed twins the dedup-key
    //    branch derives from: the keep-id aggregation re-reads the
    //    quality rows, and routing both branches through one observe
    //    node would put duplicate metric nodes in a single query.
    val scrubbed0 = scrubText(docs)
    val scrubbed = observed("scrubbed", scrubbed0)

    // 2. quality gate: length floor (cheap heuristics first — drop
    //    before any shuffle touches the rows)
    def lengthGate(df: DataFrame): DataFrame =
      df.filter(size(split(col("text"), " ")) >= minWords)
    val quality0 = lengthGate(scrubbed0)
    val quality = observed("quality_gate", lengthGate(scrubbed))

    // 3. exact dedup on the normalized fingerprint, keep smallest id
    //    (d1), cut eagerly: the one pre-CC barrier (see @return note)
    val keepIds = quality0
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val exact = graft.ops.Checkpoints.cut(observed("exact_dedup",
      quality.join(keepIds, Seq("doc_id"), "left_semi")), eager = true)

    // 4. near-dup dedup: MinHash-LSH candidate pairs (bounded by
    //    banding) → connected components → keep one doc per cluster (d2).
    //    With blockCols, the d19/d22 blocked + exact-verified path —
    //    MANDATORY on corpora with dense corpus-wide similarity (the
    //    synthetic docs are ~21% near-dup dense at sf0.1; an unblocked
    //    miner there is output-bound, not plan-bound)
    val pairs =
      if (blockCols.nonEmpty)
        Dedup.ngramJaccardViaLsh(
          exact.select((Seq("doc_id", "text") ++ blockCols).map(col): _*),
          blockCols = blockCols)
      else {
        val words = exact.select(col("doc_id"), split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 3)
        Dedup.minhashLshPairs(words)
      }
    // size-gated CC (connectedComponentsAuto): the edge count of a
    // BLOCKED near-dup mine is true-pair-bound, so most corpora land
    // under the driver union-find gate — measured 3× cheaper than 8
    // scheduled label-propagation rounds on tiny graphs, and its two
    // driver actions (count + collect) don't serialize the concurrent
    // bench now that per-query FAIR pools exist. Above the gate the
    // barrier-free bounded loop runs as before (per-round lazy cuts,
    // one convergence count).
    val cc = Dedup.connectedComponentsAuto(pairs.select("id_a", "id_b"))
    val drop = cc.filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("doc_id"))
    // un-observed twin for the side branches that re-read a stage's
    // rows (decon gram mining, mix budget totals) — cheap narrow
    // re-execution from the exact cut, never a duplicate metric node
    val nearDeduped0 = exact.join(drop, Seq("doc_id"), "left_anti")
    val nearDeduped = observed("near_dedup", nearDeduped0)

    // 4b (opt-in). C4-style duplicate-span removal (d40): strip
    //    corpus-wide repeated spans out of the KEPT docs — near-dup
    //    dedup drops whole documents, this removes the boilerplate the
    //    survivors still share. The rebuild mines spans from the
    //    un-observed twin and is applied to both branches via
    //    spanScrubWith, so no metric node duplicates; downstream gates
    //    then see the de-boilerplated text (grams of removed spans
    //    can't re-contaminate).
    val (spanned0, spanned) =
      if (spanDedup) {
        val rb = graft.functions.TextFns.spanRebuilt(
          nearDeduped0.select("doc_id", "text"))
        (graft.functions.TextFns.spanScrubWith(nearDeduped0, rb),
          observed("span_dedup",
            graft.functions.TextFns.spanScrubWith(nearDeduped, rb)))
      } else (nearDeduped0, nearDeduped)

    // 4c (opt-in). Frequency-threshold boilerplate removal (d54): drop
    //    EVERY occurrence of any block frequent across the surviving
    //    corpus and rebuild docs — the RefinedWeb line-filter
    //    complement of 4b's keep-first span dedup. Same twin
    //    discipline: one rebuild frame, applied to both branches;
    //    fully-scrubbed docs drop (inner join).
    val (boiled0, boiled) =
      if (boilerplateScrub) {
        val rb = Curation.boilerplateRebuilt(spanned0.select("doc_id", "text"),
          boilerplateMinDocs)
        (Curation.boilerplateScrubWith(spanned0, rb),
          observed("boilerplate_scrub", Curation.boilerplateScrubWith(spanned, rb)))
      } else (spanned0, spanned)

    // 4d (opt-in). Subset pruning (d63): drop survivors ≥0.9-contained
    //    in a LARGER surviving doc (quotes/excerpts the jaccard miner
    //    structurally under-scores). Pairs mine once from the
    //    un-observed twin over the pipeline's blockCols; the small
    //    drop-id frame is lazily cut so BOTH branch anti-joins (and the
    //    d48-lesson broadcast duplication) reuse one mine.
    val (pruned0, pruned) =
      if (subsetPrune) {
        val base = boiled0.select((Seq("doc_id", "text") ++ blockCols).map(col): _*)
        val drops = Dedup.subsetDrops(base,
          Dedup.containmentOf(base, blockCols = blockCols)).localCheckpoint(false)
        (boiled0.join(drops.hint("shuffle_hash"), Seq("doc_id"), "left_anti"),
          observed("subset_prune",
            boiled.join(drops.hint("shuffle_hash"), Seq("doc_id"), "left_anti")))
      } else (boiled0, boiled)

    // 5. benchmark decontamination (d24): anti-join away docs sharing
    //    any 8-gram with the eval slice — the contaminated-id list is
    //    tiny (broadcast gram join inside decontaminateOf). The
    //    benchmark goes through the SAME scrub first: gram matching is
    //    only sound when both sides are normalized identically.
    val decon = benchmark match {
      case Some(b) => observed("decontaminated",
        pruned.join(
          Curation.contaminatedIds(pruned0.select("doc_id", "text"),
            // lazy cut: the bench scrub + gram explode + distinct
            // otherwise re-run inside the broadcast branch (measured
            // ~0.7 s of the 10× decon stage)
            benchmarkGrams(b).localCheckpoint(eager = false)),
          Seq("doc_id"), "left_anti"))
      case None => pruned
    }

    // 6. repetition gate (d25): per-row duplicate-3-gram fraction.
    //    Docs under 3 words pass unconditionally (no 3-grams exist, and
    //    sequence(1, k<1) would descend / slice(ws, 0, _) would throw
    //    under ANSI if a caller set minWords < 3)
    val repGated =
      if (maxRepFrac >= 1.0) decon
      else observed("repetition_gate", decon
        .withColumn("ws", split(col("text"), " "))
        .filter(repetitionKeep(col("ws"), maxRepFrac))
        .drop("ws"))

    // 6b (opt-in). Gopher char-weighted repetition rules (d43): the
    //    published top-gram / duplicated-gram char-fraction cuts as a
    //    second per-row gate — catches boilerplate-heavy docs whose
    //    3-gram COUNT fraction passes step 6 but whose char mass is
    //    dominated by a few repeated long grams. Same narrow shape as
    //    step 6 (seven per-row hash passes, no shuffle).
    val gophered =
      if (!gopherGate) repGated
      else observed("gopher_gate", repGated
        .filter(Curation.gopherKeep(split(col("text"), " "),
          length(col("text")).cast("long"))))

    // 6c (opt-in). FROZEN model-based quality gate (d56): score each
    //    doc under a pre-trained hashed-linear classifier artifact
    //    (Classifier.loadModel) and keep score ≥ 0.5 — the production
    //    CCNet/fastText setup: the expensive teacher ran at training
    //    time, the pipeline pays one narrow plan-constant expression
    //    pass. No shuffle, same shape as 6/6b.
    val modelGated = qualityModel match {
      case Some(m) => observed("model_gate",
        gophered.filter(Classifier.scoreCol(col("text"), m) >= 0.5))
      case None => gophered
    }

    // 7. domain mixture (d26): deterministic hash sample toward the
    //    uniform source budget; carry-through columns survive. The mix
    //    budget aggregates its own input (two consumers), so the mix
    //    INPUT is the pipeline's second eager cut — it also delivers
    //    the near_dedup/decon/repetition counters; without mixing those
    //    ride to the final chunk count instead and no cut is taken.
    val mixed = mixTargetFrac match {
      case Some(f) if modelGated.columns.contains("source") =>
        observed("domain_mix", Curation.mixKeepFilter(
          graft.ops.Checkpoints.cut(modelGated, eager = true), f))
      case _ => modelGated
    }

    // 8. chunk to training examples: overlapping word windows (d18's
    //    shared chunk geometry — one definition, cannot diverge)
    val chunks = observed("chunks", mixed
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        posexplode(graft.functions.TextFns.chunkWindows("ws"))
          .as(Seq("chunk_idx", "chunk_text"))))
      .cache()

    // ONE terminal action fills every remaining observation (the
    // pre-cut ones already landed with their cut's action)
    chunks.count()
    (chunks, stats.toSeq.map { case (n, o) =>
      n -> o.get("rows").asInstanceOf[Long] })
  }

  /** Keep predicate for the repetition gate over a split-words column.
    * Docs under 3 words pass unconditionally (no 3-grams exist; the
    * CASE guard also keeps the gram expression from seeing them). */
  private[graft] def repetitionKeep(ws: org.apache.spark.sql.Column,
      maxRepFrac: Double): org.apache.spark.sql.Column =
    when(size(ws) < 3, lit(true)).otherwise {
      val st = graft.functions.VectorExprs.ngramStats(ws, 3)
      (st.getField("n_ngrams") - st.getField("n_distinct")).cast("double") /
        st.getField("n_ngrams") <= maxRepFrac
    }

  /** The STATELESS curation gates as one batch transform — scrub →
    * word-count floor → repetition gate → benchmark-gram
    * decontamination — shared by the batch pipeline's entry points and
    * the streaming ingestion path (EventStream.curatedInsertStream).
    * Every gate is row-deterministic (or batch-local for the decon
    * semi-join), so a REPLAYED micro-batch re-derives the identical
    * keep set: the property the streaming sink's replay idempotence
    * rests on. `benchGrams` is the pre-scrubbed distinct 8-gram HASH
    * set of the eval suite ([[benchmarkGrams]]; tiny → broadcast),
    * computed once at stream start, not per batch. */
  def curateBatch(docs: DataFrame, benchGrams: Option[DataFrame] = None,
      minWords: Int = 5, maxRepFrac: Double = 1.0,
      qualityModel: Option[Classifier.Model] = None,
      bloomBits: Option[graft.functions.BloomBits] = None): DataFrame = {
    val scrubbed = scrubText(docs)
      .filter(size(split(col("text"), " ")) >= minWords)
    val repGated =
      if (maxRepFrac >= 1.0) scrubbed
      else scrubbed
        .withColumn("ws", split(col("text"), " "))
        .filter(repetitionKeep(col("ws"), maxRepFrac))
        .drop("ws")
    // frozen-model gate (6c's streaming-safe form): a pure row
    // function of the text, so a replayed micro-batch re-derives the
    // identical keep set — the property the streaming sink needs
    val modelGated = qualityModel match {
      case Some(m) => repGated.filter(Classifier.scoreCol(col("text"), m) >= 0.5)
      case None => repGated
    }
    // constant-memory decon gate (d68): the 512 KB plan-constant Bloom
    // probe replaces the exact gram semi-join — one narrow filter, no
    // join, no gram broadcast. One-sided: everything the exact gate
    // drops, this drops too (plus a deterministic hash-arithmetic FP
    // set), so the Bloom-gated corpus is a SUBSET of the exact-gated
    // one and replay idempotence is untouched (pure row function).
    val bloomGated = bloomBits match {
      case Some(bits) =>
        modelGated.filter {
          val ws = split(col("text"), " ")
          when(size(ws) < 8, lit(true)).otherwise(
            graft.functions.VectorExprs.bloomProbe(
              graft.functions.VectorExprs.ngramHashes(ws, 8), bits) === 0L)
        }
      case None => modelGated
    }
    benchGrams match {
      case Some(bg) =>
        bloomGated.join(
          Curation.contaminatedIds(bloomGated.select("doc_id", "text"), bg),
          Seq("doc_id"), "left_anti")
      case None => bloomGated
    }
  }

  /** The benchmark side of the CONSTANT-MEMORY decon gate: the same
    * scrubbed distinct 8-gram hashes as [[benchmarkGrams]], compressed
    * into the d68 512 KB [[graft.functions.BloomBits]] plan constant.
    * Call once at stream start (eval suites are tiny and static); the
    * per-batch gate is then one narrow probe filter — nothing
    * benchmark-sized ships with any batch, however large the eval
    * suite's vocabulary grows. */
  def benchmarkBloom(benchmark: DataFrame, n: Int = 8): graft.functions.BloomBits =
    graft.functions.BloomBits.build(
      benchmarkGrams(benchmark, n).collect().map(_.getLong(0)),
      Curation.BloomM, Curation.BloomK)

  /** The benchmark side of [[curateBatch]]'s decontamination gate:
    * scrub (identically to the corpus) and collect the distinct word
    * 8-gram xxhash64 HASHES (see Curation.contaminatedIds for why the
    * gate compares hashes). Call once on the static eval suite, pass
    * the result to every batch. */
  def benchmarkGrams(benchmark: DataFrame, n: Int = 8): DataFrame =
    scrubText(benchmark)
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= n)
      .select(explode(graft.functions.VectorExprs.ngramHashes(col("ws"), n)).as("ngh"))
      .distinct()

  /** Write training examples as partitioned parquet shards — the
    * pipeline's terminal sink. Discipline (measured, see build notes):
    * repartition on (partition column, shard) FIRST, or every write
    * task opens a file in every partition directory and the next
    * reader's footer scan drowns in tasks×dirs tiny files. The shard
    * column caps files per directory at `shardsPerPartition` while
    * keeping the write parallel across shards. */
  def writeTrainingShards(chunks: DataFrame, dir: String,
      partitionCol: String = "split", shardsPerPartition: Int = 4): Unit = {
    chunks
      .withColumn("_shard", pmod(hash(col("doc_id")), lit(shardsPerPartition)))
      .repartition(col(partitionCol), col("_shard"))
      .drop("_shard")
      .write.mode("overwrite").partitionBy(partitionCol).parquet(dir)
  }
}
