package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Term-based retrieval over the corpus — the inverted-index sibling of
  * the embedding ANN ladder (Similarity.scala): BM25 scoring of a fixed
  * query workload against corpus-derived statistics. The published
  * Robertson/Lucene BM25 (public: Robertson & Zaragoza 2009, Lucene's
  * BM25Similarity):
  *
  *   idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
  *   w(t, d)   = idf · (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl))
  *   score(q,d)= Σ_{t ∈ q} w(t, d)        (k1 = 1.2, b = 0.75)
  *
  * Scale shape: the query-term dictionary is tiny, so the exploded
  * word stream is pruned by a literal IN before ANY aggregation — tf
  * is a map-side-combined count over (doc, term) for query terms only,
  * df a second-level count over that, and N/avgdl one broadcast scalar
  * row. The per-query top-k rides [[graft.functions.TopKByScore]]
  * (bounded partial-agg state, no rank window, no full sort of the
  * candidate set). Nothing in the plan scales with vocabulary or with
  * corpus² — only with the posting lists of the queried terms, which
  * is the inverted-index cost a 100 TB search pays by construction.
  *
  * Cross-engine float parity: per-term scores round to 9 dp and sum as
  * DECIMAL(18,9) (order-independent); ties rank by doc_id asc; the
  * displayed score is the 6 dp double of the exact decimal sum.
  */
object Retrieval {

  /** The fixed query workload (query_id → terms). Literal in both
    * dialects so the two engines can never drift on what is asked. */
  val BmQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join", "merge"),
    2 -> Seq("slow", "scan", "filter"),
    3 -> Seq("dup", "row", "table"),
    4 -> Seq("window", "order", "sort"),
    5 -> Seq("fast", "vector", "query"))

  val TopK = 10

  /** d48 registered entry. */
  def bm25Search(s: SparkSession, d: String): DataFrame =
    lexRanking(s, d)

  /** DirMemo-keyed shared cut of the d48 BM25 ranking: d48 itself,
    * d60 (fusion's lexical side) and d76 (metrics) all slice it —
    * each previously rebuilt the posting table + ranking per bench
    * pass (the d4-family / knnTable lesson). Deterministic, tiny
    * (≤ |queries|·topK rows), re-fingerprinted per dir content. */
  private def lexRanking(s: SparkSession, d: String): DataFrame =
    graft.ops.DirMemo.cached(s, d, "bm25Ranked") {
      bm25SearchOf(Tables.documents(s, d).select("doc_id", "text"))
        .localCheckpoint(eager = false)
    }

  /** Core of [[bm25Search]] over an explicit (doc_id, text) frame. */
  def bm25SearchOf(docs: DataFrame,
      queries: Seq[(Int, Seq[String])] = BmQueries): DataFrame = {
    val withDl = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("dl"))
    // N and Σdl as ONE broadcast scalar row
    val scal = withDl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val termSet = queries.flatMap(_._2).distinct
    // postings for queried terms only: the literal IN prunes the word
    // stream BEFORE the (doc, term) count shuffle. The posting table is
    // cut with a lazy localCheckpoint because BOTH tf scoring and the
    // df dictionary read it — without the cut, the broadcast(dfreq)
    // branch re-executes the whole corpus explode+filter+shuffle
    // (column pruning rewrites its aggregate, so ReuseExchange cannot
    // match; measured 15 s → 9 s at 1 M docs). Materializing queried-
    // term postings once is exactly the inverted-index slice a search
    // engine persists anyway.
    val tf = withDl.select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
      .filter(col("w").isin(termSet: _*))
      .groupBy("doc_id", "w").agg(max("dl").as("dl"), count(lit(1)).as("tf"))
      .localCheckpoint(false)
    bm25Score(tf, scal, queries)
  }

  /** Shared BM25 scoring tail over a (doc_id, w, dl, tf) posting frame
    * and a one-row (n, sdl) corpus-stats frame — the query-time plan
    * both the corpus-scan path and the persisted-index path run. */
  private def bm25Score(tf: DataFrame, scal: DataFrame,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, ws) => ws.map(qid -> _) }
      .toDF("query_id", "qw")
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val denom = col("tf") +
      lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))
    val perTerm = tf.join(broadcast(dfreq), "w")
      .join(broadcast(qterms), col("w") === col("qw"))
      .crossJoin(broadcast(scal))
      .withColumn("avgdl", col("sdl").cast("double") / col("n"))
      .withColumn("idf",
        log(lit(1.0) + ((col("n") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("term",
        round(col("idf") * ((col("tf") * lit(2.2)) / denom), 9)
          .cast("decimal(18,9)"))
    val scores = perTerm.groupBy("query_id", "doc_id")
      .agg(sum(col("term")).as("s"))
    scores.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topKByScore(
        struct(col("s").cast("double"), col("doc_id")), TopK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.id").as("doc_id"), round(col("col.score"), 6).as("score"))
      .orderBy("query_id", "rnk")
  }

  // ---- persisted inverted index --------------------------------------
  // The build-once/query-many artifact (the IVF-index / BpeVocab store
  // discipline applied to term search): postings (doc_id, w, dl, tf)
  // land partitioned by (batch_id, bucket = pmod(hash(w), buckets)) so
  // query time reads ONLY the buckets its terms hash into (partition-
  // dir pruning, never a corpus scan), and corpus stats (n docs, Σdl)
  // land as one row per batch, summed at query time. Appends are
  // replay-idempotent the partition-overwrite way: a batch is a pure
  // function of its input docs and overwrites its own batch_id
  // partitions (same contract as corpusHealthStream; batches must
  // carry disjoint doc sets, which the streaming intake guarantees by
  // construction). A _layout marker pins `buckets` — querying or
  // appending with a different bucket count fails loudly
  // (IncrementalDedup's marker discipline).

  private def postingsPath(root: String) = s"$root/postings"
  private def statsPath(root: String) = s"$root/stats"
  private def layoutPath(root: String) = new org.apache.hadoop.fs.Path(s"$root/_layout")

  private def writeLayout(spark: SparkSession, root: String, buckets: Int): Unit = {
    val fs = layoutPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(layoutPath(root))) {
      val out = fs.create(layoutPath(root), true)
      out.write(s"buckets=$buckets\n".getBytes("UTF-8"))
      out.close()
    }
  }

  private def checkLayout(spark: SparkSession, root: String, buckets: Int): Unit = {
    val fs = layoutPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(layoutPath(root))) {
      val in = fs.open(layoutPath(root))
      val txt = scala.io.Source.fromInputStream(in).mkString
      in.close()
      val stored = txt.linesIterator.collectFirst {
        case l if l.startsWith("buckets=") => l.stripPrefix("buckets=").trim.toInt
      }
      require(stored.contains(buckets),
        s"term index at $root was built with buckets=${stored.getOrElse("?")}, got $buckets")
    }
  }

  /** Build (or rebuild) the base index from a (doc_id, text) frame.
    * The base lands as batch_id = -1; streaming appends use their
    * micro-batch ids (≥ 0). A REBUILD deletes the whole root first:
    * dynamic partition overwrite only replaces the base's own
    * batch_id=-1 partitions, so stale streaming-append partitions from
    * a prior run would otherwise survive and double-count their docs
    * in both postings and the summed (n, avgdl) stats. */
  def buildTermIndex(docs: DataFrame, root: String, buckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rootPath)) fs.delete(rootPath, true)
    writeLayout(spark, root, buckets)
    writeIndexBatch(docs, root, batchId = -1L, buckets)
  }

  private[graft] def writeIndexBatch(docs: DataFrame, root: String,
      batchId: Long, buckets: Int): Unit = {
    val spark = docs.sparkSession
    checkLayout(spark, root, buckets)
    val withDl = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("dl"))
    val postings = withDl
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(max("dl").as("dl"), count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(hash(col("w")), lit(buckets)))
      .withColumn("batch_id", lit(batchId))
    // dynamic overwrite scoped to THESE writes via the writer option —
    // a session-wide conf.set would silently change overwrite semantics
    // for every later partitioned write in the same session
    // repartition on the partition columns first or every task opens a
    // file per (batch, bucket) dir (the tiny-files lesson)
    postings.repartition(col("bucket"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "bucket")
      .parquet(postingsPath(root))
    withDl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("batch_id", lit(batchId))
      .coalesce(1)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(statsPath(root))
  }

  /** Query the persisted index: reads ONLY the buckets the query terms
    * hash into plus the tiny stats table — no corpus scan. */
  def bm25SearchIndexed(spark: SparkSession, root: String,
      queries: Seq[(Int, Seq[String])] = BmQueries,
      buckets: Int = 64): DataFrame = {
    import spark.implicits._
    checkLayout(spark, root, buckets)
    val termSet = queries.flatMap(_._2).distinct
    // bucket ids for the query terms, via the SAME hash the writer used
    // (bounded driver pull: one row per distinct term)
    val qBuckets = termSet.toDF("w")
      .select(pmod(hash(col("w")), lit(buckets)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val tf = spark.read.parquet(postingsPath(root))
      .filter(col("bucket").isin(qBuckets: _*) && col("w").isin(termSet: _*))
      .select("doc_id", "w", "dl", "tf")
    val scal = spark.read.parquet(statsPath(root))
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("sdl"))
    bm25Score(tf, scal, queries)
  }

  // ---- hashed doc embeddings (d59) -----------------------------------

  /** Embedding width for [[hashedEmbedOf]] — 64 signed buckets (bits
    * 0-5 of the word hash pick the bucket, bit 6 the sign). */
  val EmbedDims = 64

  /** Per-(session, sf-dir) memo of the corpus's hashed embeddings,
    * lazily localCheckpointed: whichever of the registered d59/d60
    * entries runs first pays the tokenize+hash+normalize shuffles ONCE
    * (the d44/d52 count-table discipline, content-fingerprinted via
    * [[graft.ops.DirMemo]] so a regenerated dir rebuilds); the other —
    * and every warm re-run — reuses the cut. The *Of core stays pure
    * (explicit-frame callers are not memoized — a DataFrame is not a
    * safe cache key). */
  private def corpusEmb(s: SparkSession, d: String): DataFrame =
    graft.ops.DirMemo.cached(s, d, "hashedEmb") {
      hashedEmbedOf(Tables.documents(s, d).select("doc_id", "text"))
        .localCheckpoint(false)
    }

  /** d59 registered entry: [[hashedEmbedOf]] over the corpus. */
  def hashedEmbed(s: SparkSession, d: String): DataFrame =
    corpusEmb(s, d).orderBy("doc_id", "bucket")

  /** Feature-hashing doc embeddings (public: Weinberger et al. 2009,
    * the scikit-learn HashingVectorizer / fastText-bucket shape): each
    * word hashes into one of `dims` SIGNED buckets via the replayable
    * md5 uniform (the d26/d28/d57 cross-engine discipline), the per-doc
    * signed counts L2-normalize into a unit sparse vector, emitted in
    * LONG format (doc_id, bucket, w_raw, w_norm). Relational form is
    * deliberate: cosine between any two vector sets is then ONE
    * equi-join on bucket plus a sum — the posting layout an index
    * persists — and the engine can now DERIVE embeddings for new text
    * instead of only consuming a pre-embedded column.
    *
    * Exactness: signed counts and their squared sums are all-integer
    * (order-independent under any partitioning); the only float ops are
    * one sqrt and one divide, single IEEE ops that are bit-identical
    * cross-engine, then a 9 dp display round. Scale: one explode + one
    * (doc, bucket) hash agg + one per-doc agg + join back — shuffles on
    * doc_id only, NO vocabulary axis (that is the point of feature
    * hashing: the width is fixed at 100 TB too).
    */
  def hashedEmbedOf(docs: DataFrame, dims: Int = EmbedDims): DataFrame = {
    require((dims & (dims - 1)) == 0, s"dims must be a power of two, got $dims")
    val raw = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("h"))
      .select(col("doc_id"),
        pmod(col("h"), lit(dims.toLong)).cast("int").as("bucket"),
        when(col("h").bitwiseAND(lit(dims.toLong)) === 0, lit(1))
          .otherwise(lit(-1)).as("sgn"))
      .groupBy("doc_id", "bucket")
      .agg(sum(col("sgn")).as("w_raw"))
      .filter(col("w_raw") =!= 0) // sparse: cancelled buckets drop out
    val norms = raw.groupBy("doc_id")
      .agg(sqrt(sum(col("w_raw") * col("w_raw")).cast("double")).as("nrm"))
    raw.join(norms, "doc_id")
      .select(col("doc_id"), col("bucket"), col("w_raw"),
        round(col("w_raw") / col("nrm"), 9).as("w_norm"))
  }

  /** Collapse [[hashedEmbedOf]]'s long format into the dense
    * (vec_id, embedding: array<float>) shape the ANN ladder
    * (Similarity.embedTopKAggOf / buildIvfIndex / pqTopKOf) consumes —
    * the bridge that lets the engine embed NEW text and immediately
    * index/search it with the existing machinery. The per-doc collapse
    * is map_from_entries + a 64-slot fill (interpreted HOF — fine for
    * an index-build path, which runs once per corpus; the QUERY path
    * scores with codegen'd DotProductF on the dense column).
    * Round12dSpec: a planted near-duplicate's dense vector retrieves
    * its source as the top-1 ANN neighbor, and dense self-dot ≈ 1. */
  def denseEmbedOf(docs: DataFrame, dims: Int = EmbedDims): DataFrame =
    collapseDense(hashedEmbedOf(docs, dims), dims)

  /** Dense corpus embeddings through the memoized d59 cut — what the
    * registered self-embedding consumers (d61, the d72/d73 knn chain,
    * d74) ride so the corpus is tokenized+hashed once per (session,
    * dir) no matter how many entries need vectors.
    *
    * The dense COLLAPSE is memoized too (r21): the long→dense collapse
    * is its own corpus-shaped pass (a doc_id shuffle + collect_list +
    * an interpreted 64-slot HOF fill) and three registered entries ran
    * it independently, twice per bench pass each — the CLAUDE.md rule
    * ("any corpus-shaped derived frame consumed by several registered
    * entries belongs behind DirMemo") applied to the dense view.
    * Values are unchanged by construction: map keys (buckets) are
    * unique per doc, so the collapse is collect-order-independent. */
  def denseEmbed(s: SparkSession, d: String): DataFrame =
    graft.ops.DirMemo.cached(s, d, "denseEmb") {
      collapseDense(corpusEmb(s, d), EmbedDims).localCheckpoint(false)
    }

  private def collapseDense(long: DataFrame, dims: Int): DataFrame =
    long.groupBy(col("doc_id").as("vec_id"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("w_norm")))).as("m"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)),
          b => coalesce(element_at(col("m"), b), lit(0.0d)))
          .cast("array<float>").as("embedding"))

  // ---- hybrid retrieval (d60) ----------------------------------------

  /** Reciprocal-rank-fusion constant (Cormack et al. 2009's k=60). */
  val RrfK = 60

  /** d60 registered entry: [[hybridRrfOf]] over the corpus, reusing
    * the memoized d59 embedding cut for the semantic side. */
  def hybridRrf(s: SparkSession, d: String): DataFrame =
    hybridRrfOf(Tables.documents(s, d).select("doc_id", "text"),
      dembOpt = Some(corpusEmb(s, d)), lexOpt = Some(lexRanking(s, d)))

  /** Hybrid retrieval — reciprocal-rank fusion (public: Cormack,
    * Clarke & Buettcher 2009) of the BM25 lexical ranking (d48) and a
    * semantic ranking by cosine over the hashed embeddings (d59):
    * rrf(d) = Σ_r 1/(k + rank_r(d)) over the rankers whose top-k
    * retrieved d. This is the hard-negative-mining / RAG-retrieval
    * shape: the lexical and semantic views disagree exactly where the
    * informative training pairs live.
    *
    * Query vectors hash the literal query terms through the SAME
    * pipeline (tf=1 per term); cosine = one equi-join on bucket with
    * the 9dp-round + DECIMAL(18,9) sum (d33 order-independent
    * discipline) over the ALREADY-ROUNDED unit weights, so both engines
    * multiply identical doubles. Per-query top-k rides TopKByScore (no
    * rank window); the fusion itself touches ≤ 2·topK rows per query.
    * At 100 TB the semantic candidate set comes from the IVF index
    * probe (d6) instead of the full bucket join — the fusion tail is
    * unchanged.
    */
  def hybridRrfOf(docs: DataFrame,
      queries: Seq[(Int, Seq[String])] = BmQueries,
      topK: Int = TopK,
      dembOpt: Option[DataFrame] = None,
      lexOpt: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lex = lexOpt.getOrElse(bm25SearchOf(docs, queries))
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val qdocs = queries.map { case (qid, ws) => (qid.toLong, ws.mkString(" ")) }
      .toDF("doc_id", "text")
    val qemb = hashedEmbedOf(qdocs)
      .select(col("doc_id").cast("int").as("query_id"),
        col("bucket"), col("w_norm").as("qw"))
    val demb = dembOpt.getOrElse(hashedEmbedOf(docs))
      .select(col("doc_id"), col("bucket"), col("w_norm").as("dw"))
    val cos = demb.join(broadcast(qemb), "bucket")
      .withColumn("term", round(col("qw") * col("dw"), 9).cast("decimal(18,9)"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("term")).as("cos"))
    val sem = cos.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topKByScore(
        struct(col("cos").cast("double"), col("doc_id")), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("sem_rnk"))
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        when(col("lex_rnk").isNotNull,
          round(lit(1.0) / (lit(RrfK) + col("lex_rnk")), 9)).otherwise(lit(0.0)) +
        when(col("sem_rnk").isNotNull,
          round(lit(1.0) / (lit(RrfK) + col("sem_rnk")), 9)).otherwise(lit(0.0)))
    fused.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topKByScore(
        struct(col("rrf"), col("doc_id")), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.id").as("doc_id"), col("col.score").as("rrf"))
      .orderBy("query_id", "rnk")
  }

  // ---- retrieval-quality metrics (d76) --------------------------------

  /** d76 registered entry: [[retrievalMetricsOf]] over the corpus,
    * reusing the memoized d59 embedding cut for the semantic side. */
  def retrievalMetrics(s: SparkSession, d: String): DataFrame =
    retrievalMetricsOf(Tables.documents(s, d).select("doc_id", "text"),
      dembOpt = Some(corpusEmb(s, d)), lexOpt = Some(lexRanking(s, d)),
      wordsIn = Some(Tables.tokLong(s, d).select("doc_id", "w")))

  /** d76: retrieval-quality METRICS — nDCG@k and MRR@k for the two
    * registered retrievers (d48 BM25, d60 hybrid RRF) against
    * deterministic TERM-COVERAGE qrels: rel(q, d) = the number of
    * DISTINCT query terms of q that appear in d (an integer-exact,
    * label-free graded judgment derived relationally from the same
    * word stream BM25 scores — the evaluation-family sibling of
    * d74/d75, grading the retrievers end-to-end where those grade
    * blocking). One row per (query, system): reciprocal rank of the
    * first rel ≥ 1 hit, DCG@k = Σ rel_i / log2(i + 1) over the
    * ranking, IDCG@k over the corpus-wide ideal ordering, and their
    * nDCG ratio.
    *
    * Scale shape: qrels prune the exploded word stream by the tiny
    * query-term dictionary BEFORE any shuffle (the d48 posting
    * discipline — cost is the queried terms' posting lists, never the
    * corpus); the ideal top-k rides TopKByScore; both retriever runs
    * are the registered plans (the lexical ranking is computed once
    * and shared with the fusion via lexOpt).
    *
    * Cross-engine float parity: per-rank DCG terms round to 9 dp and
    * sum as DECIMAL(18,9) (order-free — the d33 discipline; the 9 dp
    * round absorbs JVM-vs-libm ln() ulps in the log2 discount);
    * emitted dcg/idcg/ndcg round to 6 dp of the exact decimal's
    * double cast (the d48 display discipline). rank-1 discounts are
    * EXACT (ln(2)/ln(2) = 1.0 in both engines); rr = 1/rank is one
    * IEEE division of identical small ints. */
  def retrievalMetricsOf(docs0: DataFrame,
      queries: Seq[(Int, Seq[String])] = BmQueries,
      topK: Int = TopK,
      dembOpt: Option[DataFrame] = None,
      lexOpt: Option[DataFrame] = None,
      wordsIn: Option[DataFrame] = None): DataFrame = {
    val spark = docs0.sparkSession
    import spark.implicits._
    // one cut feeds bm25, the fusion's embedding side and the qrels
    val docs = docs0.localCheckpoint(false)
    // the lexical ranking feeds its own run AND the fusion
    val lex = lexOpt.getOrElse(
      bm25SearchOf(docs, queries).localCheckpoint(false))
    val bmRun = lex
      .select(col("query_id"), col("doc_id"), col("rnk"),
        lit("bm25").as("system"))
    val rrfRun = hybridRrfOf(docs, queries, topK, dembOpt, Some(lex))
      .select(col("query_id"), col("doc_id"), col("rnk"),
        lit("rrf").as("system"))
    val qterms = queries.flatMap { case (qid, ws) => ws.map(qid -> _) }
      .toDF("query_id", "qw")
    // term-coverage qrels; consumed by the graded join AND the ideal.
    // wordsIn (the registered entry's shared tokLong slice) skips the
    // corpus re-explode; empties in the raw token cut can't match a
    // query term, so the equi-join restores the exact stream (r20)
    val qrel = wordsIn
      .map(_.select(col("doc_id"), col("w")))
      .getOrElse(docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w")))
      .join(broadcast(qterms), col("w") === col("qw"))
      .groupBy("query_id", "doc_id")
      .agg(countDistinct(col("w")).cast("int").as("rel"))
      .localCheckpoint(false)
    val ln2 = log(lit(2.0))
    def dcgTerm(rel: org.apache.spark.sql.Column,
        rank: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(rel.cast("double") /
        (log((rank + lit(1)).cast("double")) / ln2), 9)
        .cast("decimal(18,9)")
    // the runs frame is BOUNDED (≤ 2·|queries|·topK rows): semi-join
    // qrel down to the graded pairs and broadcast both tiny sides —
    // the full qrel never shuffles for the grading join (it feeds only
    // the IDCG partial aggregate), so nothing here scales past the
    // queried terms' posting lists
    val runs = bmRun.unionByName(rrfRun).localCheckpoint(eager = false)
    val relevant = qrel.join(
      broadcast(runs.select("query_id", "doc_id")),
      Seq("query_id", "doc_id"), "left_semi")
    val graded = runs
      .join(broadcast(relevant), Seq("query_id", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0)))
    val perSys = graded.groupBy("query_id", "system")
      .agg(sum(dcgTerm(col("rel"), col("rnk"))).as("dcg_d"),
        min(when(col("rel") >= 1, col("rnk"))).as("frel"))
    val idcg = qrel.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topKByScore(
        struct(col("rel").cast("double"), col("doc_id")), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .groupBy("query_id")
      .agg(sum(dcgTerm(col("col.score"), col("pos") + lit(1))).as("idcg_d"))
    perSys.join(broadcast(idcg), Seq("query_id"), "left")
      .select(col("query_id"), col("system"),
        coalesce(lit(1.0) / col("frel"), lit(0.0)).as("rr"),
        round(col("dcg_d").cast("double"), 6).as("dcg"),
        coalesce(round(col("idcg_d").cast("double"), 6), lit(0.0)).as("idcg"),
        when(col("idcg_d") > 0,
          round(col("dcg_d").cast("double") / col("idcg_d").cast("double"), 6))
          .otherwise(lit(0.0)).as("ndcg"))
      .orderBy("query_id", "system")
  }

  /** Streaming index maintenance: each micro-batch of (doc_id, text)
    * docs is appended as its own batch_id partition set — replay
    * overwrites in place (see the layout note above). */
  def termIndexAppendStream(stream: DataFrame, root: String, checkpoint: String,
      buckets: Int = 64,
      monitor: Option[graft.ops.Monitoring.FreshnessMonitor] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    writeLayout(stream.sparkSession, root, buckets)
    monitor.foreach(_.register(root))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeIndexBatch(batch.toDF().select("doc_id", "text"), root, batchId, buckets)
        monitor.foreach(_.record(root))
      }
      .start()
  }
}
