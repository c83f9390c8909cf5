package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{CentroidSet, VectorExprs}

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (Array[Float], 64-dim in the testdata).
  *
  * Scale design: the query side is small → broadcast; the corpus
  * streams. Top-k reduces per partition before the final k-row merge
  * (TakeOrdered via window + filter per query key). The IVF variant
  * prunes the corpus to the probed centroid bucket — the 100 TB path:
  * bucket assignment is a write-time partitioning key, so a query scans
  * only its probed buckets.
  */
object Similarity {

  /** Dot product via the custom codegen'd Catalyst expression
    * (graft.functions.DotProductF) — the zip_with/aggregate HOF
    * equivalent runs interpreted and is ~20× slower on 64-dim vectors. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dotF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Bake a centroid DataFrame (c_id int, c_vec array<float>) into the
    * plan-constant [[CentroidSet]] behind [[graft.functions.NearestBuckets]].
    * Bounded driver pull: every caller's centroid count is capped by
    * [[adaptiveK]] (4096 × 64 dims × 4 B ≈ 1 MB) — the same rows the
    * old formulation collected into a broadcast join side.
    */
  def centroidSetOf(cents: DataFrame): CentroidSet =
    CentroidSet(cents.select("c_id", "c_vec").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)))

  /** Per-row top-`p` centroid buckets as an exploded (…, bucket[, score])
    * projection — the assignment shape shared by every IVF/k-means
    * caller. Replaces crossJoin(broadcast(cents)) + rank window: that
    * plan materialized n×k expanded rows AND exchanged them on vec_id
    * (at the adaptiveK cap, 4096× corpus volume per pass); this one is
    * a narrow map inside whole-stage codegen — zero expansion, zero
    * shuffle, bit-identical scores and tie-breaks (Round10Spec).
    */
  private def explodeNearest(df: DataFrame, cs: CentroidSet, p: Int,
      cosine: Boolean, carry: Seq[String]): DataFrame =
    df.select(carry.map(col) :+
      explode(VectorExprs.nearestBuckets(col("embedding"), cs, p, cosine)).as("nb"): _*)

  /** Per-query bounded top-k shared by every ANN tier's registered
    * path: the [[graft.functions.TopKByScore]] partial aggregate
    * instead of a rank window — one ≤k-entry state per (query,
    * partition) through the exchange, no per-partition sort of the
    * candidate set. Row-for-row equal to the
    * Window.partitionBy(q_id).orderBy(score desc, vec_id asc) +
    * row_number formulation it replaces (tie-breaks and NaN order
    * included — see TopKByScore's scaladoc; Round10Spec gates d5).
    * `scored` must carry (q_id, vec_id, scoreCol). For ASCENDING
    * metrics (hamming distance) pass asc = true: the score is negated
    * into the buffer and back out, so (-score desc) ≡ (score asc).
    * `scoreType` restores a non-double score column's dtype. */
  private def topKExplode(scored: DataFrame, scoreCol: String, topK: Int,
      asc: Boolean = false, scoreType: String = "double"): DataFrame = {
    val in = if (asc) negate(col(scoreCol)) else col(scoreCol)
    val out0 = if (asc) negate(col("t.score")) else col("t.score")
    scored.groupBy("q_id")
      .agg(graft.functions.TopKAgg.topKByScore(
        struct(in.cast("double"), col("vec_id")), topK).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("neighbor_id"),
        out0.cast(scoreType).as(scoreCol),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** d5: brute-force cosine top-k: first 10 vectors are the query set,
    * broadcast against the corpus; per-query top-5 via rank window —
    * kept as the SPEC BASELINE the aggregate formulation (and every
    * ANN tier's recall) is measured against; the registered d5 entry
    * runs [[embedTopKAgg]].
    */
  def embedTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)
    emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("q_vec"), col("embedding")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rk"))
      .orderBy("q_id", "rk")
  }

  /** [[embedTopK]]'s scale formulation: per-query top-k via the
    * bounded [[graft.functions.TopKByScore]] partial aggregate instead
    * of a rank window. The window plan exchanges every scored candidate
    * row and sorts per partition (WindowGroupLimit prunes partials to k
    * first, but the exchanged data is still row-shaped); the aggregate
    * moves one ≤k-entry state per (query, partition) — the TakeOrdered
    * shape that holds when the query set outgrows the 10-vector demo.
    * Row-for-row equal to the window formulation (Round10Spec).
    */
  def embedTopKAgg(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    embedTopKAggOf(emb, queries)
  }

  /** Core of [[embedTopKAgg]] over explicit corpus/query frames. */
  def embedTopKAggOf(emb: DataFrame, queries: DataFrame, topK: Int = 5): DataFrame =
    emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("q_vec"), col("embedding")))
      .groupBy("q_id")
      .agg(graft.functions.TopKAgg.topKByScore(
        struct(col("cos"), col("vec_id")), topK).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cos"), (col("pos") + 1).cast("int").as("rk"))
      .orderBy("q_id", "rk")

  /** Default IVF bucket count for an n-vector corpus: k ≈ √n, capped.
    * √n balances the two costs that bound bucketed pairwise/probe work —
    * bucket COUNT (centroid broadcast + k-means driver traffic, O(k))
    * and bucket POPULATION (within-bucket candidates, O(n/k)) — so both
    * grow as √n instead of one of them growing linearly. The cap keeps
    * the centroid broadcast bounded (4096 × 64 dims × 4 B ≈ 1 MB) on
    * arbitrarily large corpora; beyond it, raise nprobe/multi-assign
    * rather than k (IVF probe cost is nprobe/k of the corpus either
    * way). Floor of 2: one bucket would mean an unblocked cross join.
    */
  def adaptiveK(n: Long, cap: Int = 4096): Int =
    math.max(2L, math.min(cap.toLong, math.round(math.sqrt(n.toDouble)))).toInt

  /** d6: IVF-bucketed ANN with a corpus-size-scaled coarse quantizer
    * from distributed k-means ([[kmeans]]): k = [[adaptiveK]](n) ≈ √n
    * capped, so the centroid broadcast stays bounded and within-bucket
    * scan cost grows as √n — the shape that survives 100 TB (a fixed
    * tiny k would let bucket population grow linearly with the corpus;
    * a corpus-proportional k would blow up the broadcast). Queries probe
    * their `nprobe` nearest buckets (nprobe = 2 here; more probes = more
    * recall, linearly more scan) — corpus vectors live in exactly one
    * bucket, so probing several buckets cannot duplicate candidates. At
    * write time `bucket` becomes a partition key, so a probe scans only
    * its bucket's files.
    */
  def ivfAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val nprobe = 2
    // shared memoized quantizer (identical k, seeds, iterations)
    val cs = CentroidSet(embQuantizer(s, d)._2)
    def assignTo(df: DataFrame, probes: Int): DataFrame =
      explodeNearest(df, cs, probes, cosine = true, Seq("vec_id", "embedding"))
        .select(col("vec_id"), col("embedding"), col("nb.bucket").as("bucket"))
    val assigned = assignTo(emb, probes = 1)
    // query side: filter FIRST, assign only the 10 query vectors — the
    // corpus-wide assignment must not be recomputed inside the
    // broadcast branch
    val queries = assignTo(emb.filter(col("vec_id") < 10), probes = nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"), col("bucket"))
    // corpus vectors live in ONE bucket, so the probe join emits each
    // (query, vector) candidate at most once — the bounded aggregate's
    // group input is duplicate-free like the window's was
    topKExplode(
      assigned.join(broadcast(queries), Seq("bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", cosine(col("q_vec"), col("embedding"))),
      "cos", 5)
      .orderBy("q_id", "rk")
  }

  /** d16: scalar int8 quantization of the embedding column (per-vector
    * symmetric scale = 127/max|x|) and top-k search over the quantized
    * vectors — 4× smaller vectors, the memory/IO story of a 100 TB ANN
    * corpus. Recall vs full precision is spec-checked.
    */
  def quantize8(v: Column): Column = graft.functions.VectorExprs.quantize8(v)

  def quantizedTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .withColumn("qv", quantize8(col("embedding")))
      .select(col("vec_id"), col("qv.q").as("q"), col("qv.scale").as("qscale"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("q").as("q_q"), col("qscale").as("q_scale"))
    // int8 dot product via the codegen'd DotProductI8 expression — the
    // HOF aggregate(zip_with(...)) formulation ran INTERPRETED per
    // (corpus × query) pair and made the "fast" quantized tier the
    // slowest ANN entry in the bench
    val qdot = graft.functions.VectorExprs.dotI8(col("q"), col("q_q"))
    topKExplode(
      emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .withColumn("score",
          qdot.cast("double") * col("qscale") * col("q_scale") / (127.0 * 127.0)),
      "score", 5)
      .orderBy("q_id", "rk")
  }

  /** d17: binary (sign-bit) embeddings + Hamming-distance search:
    * 64-dim float vector → one packed long (64× compression); distance
    * = bit_count(xor). The coarsest, fastest ANN tier.
    */
  def packSigns(colName: String): Column =
    graft.functions.VectorExprs.packSigns64(col(colName))

  def hammingTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .withColumn("bits", packSigns("embedding"))
      .select("vec_id", "bits")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("bits").as("q_bits"))
    // ascending metric: hd rides the buffer negated, dtype restored
    topKExplode(
      emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .withColumn("hd", bit_count(col("bits").bitwiseXOR(col("q_bits")))),
      "hd", 5, asc = true, scoreType = "int")
      .orderBy("q_id", "rk")
  }

  /** Train a product-quantization codebook: per subspace (m contiguous
    * dim/m-wide slices), Lloyd's k-means with `k` sub-centroids —
    * ALL m subspaces fitted simultaneously: each iteration is ONE
    * corpus pass (PqEncode assigns every subspace in a single tight
    * loop), one posexplode to (subspace, code) pairs, and one tiny
    * map-side-combined shuffle of m×k sub-vector sums. Training m
    * independent k-means runs would cost m×iters jobs; this costs
    * iters. Returns codebook(m)(k)(subDim) — kilobytes, a driver-side
    * constant the PQ expressions bake in. Empty clusters keep their
    * previous centroid; seeds are slices of the k hash-smallest
    * vectors (the kmeans seeding discipline), so training is
    * deterministic end to end.
    */
  def trainPqCodebook(emb: DataFrame, m: Int, k: Int,
      iters: Int): Array[Array[Array[Float]]] = {
    import graft.functions.VectorExprs
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val seeds = emb.orderBy(hash(col("vec_id")), col("vec_id")).limit(k)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    require(seeds.length >= 2, "PQ training needs at least 2 vectors")
    var cb = Array.tabulate(m, seeds.length) { (mi, j) =>
      seeds(j).slice(mi * sub, mi * sub + sub)
    }
    for (_ <- 1 to iters) {
      val means = emb
        .select(col("embedding"),
          posexplode(VectorExprs.pqEncode(col("embedding"), cb)).as(Seq("mi", "code")))
        .select(col("mi"), col("code"),
          expr(s"slice(embedding, mi * $sub + 1, $sub)").as("subv"))
        .groupBy("mi", "code")
        .agg(graft.functions.VectorAgg.vectorSum(col("subv")).as("vs"),
          count(lit(1)).as("n"))
        .collect()
      val next = cb.map(_.clone())
      means.foreach { r =>
        val mi = r.getInt(0)
        val code = r.getByte(1).toInt & 0xFF
        val vs = r.getSeq[Double](2)
        val n = r.getLong(3).toDouble
        next(mi)(code) = vs.map(x => (x / n).toFloat).toArray
      }
      cb = next
    }
    cb
  }

  /** d32: product-quantization ANN — the middle tier of the compression
    * ladder (float32 → int8 d16 → PQ codes → sign bits d17): M-byte
    * codes (64× compression at 64-dim), asymmetric-distance scoring
    * (one M×K lookup table per QUERY, M array reads per candidate),
    * exact float re-rank of the top `refine` PQ candidates. Scale
    * shape: candidate generation touches only the code column (M bytes
    * a row — the whole 100 TB corpus's codes fit where 1.6 TB of floats
    * would not), queries broadcast, and only queries×refine rows ever
    * re-read the float embeddings (broadcast back against the corpus —
    * or a bucket-pruned read when codes live in an IVF layout).
    */
  def pqTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    // the unit-vector cut + trained codebook are deterministic
    // functions of the embeddings table (hash-ordered seeds, fixed
    // m/k/iters), so they ride DirMemo like embQuantizer: the bench's
    // warm pass (and any same-session re-run) skips the 4-iteration
    // training instead of re-collecting m×k vector-sums per pass
    // (r21; driver-side value is m·k·subDim floats ≈ kilobytes)
    val (unit, cb) = graft.ops.DirMemo.cached(s, d, "pqCodebook") {
      val u = unitEmb(emb).localCheckpoint(false)
      (u, trainPqCodebook(u, m = 16, k = 16, iters = 4))
    }
    pqTopKOf(emb, emb.filter(col("vec_id") < 10), trained = Some((unit, cb)))
  }

  /** L2-normalize the embedding column (zero vectors guarded inside the
    * expression). On the unit sphere dot ≡ cosine, so the PQ ADC score
    * approximates the cosine the exact tiers rank by. One tight-loop
    * NormalizeF pass — the HOF formulation ran interpreted on every
    * training iteration's corpus scan. */
  private def unitEmb(df: DataFrame): DataFrame =
    df.withColumn("embedding",
      graft.functions.VectorExprs.normalizeF(col("embedding")))

  /** Core of [[pqTopK]]: corpus + explicit query frame (both
    * (vec_id, embedding)). Vectors are L2-normalized first — PQ
    * approximates COSINE (what d5 ranks by), not raw dot, and the
    * re-rank scores cosine exactly. */
  def pqTopKOf(emb: DataFrame, queries: DataFrame, m: Int = 16, k: Int = 16,
      iters: Int = 4, topK: Int = 5, refine: Int = 50,
      trained: Option[(DataFrame, Array[Array[Array[Float]]])] = None): DataFrame = {
    import graft.functions.VectorExprs
    // one lazy cut feeds the iters+1 codebook-training passes, the
    // code build AND the exact re-rank — without it every training
    // iteration re-reads and re-normalizes the corpus (the d61
    // un-cut-iterative-input lesson applied to PQ training; r20).
    // `trained` lets the registered entry pass its memoized
    // (unit frame, codebook) pair instead (the centsIn pattern).
    val (unit, cb) = trained.getOrElse {
      val u = unitEmb(emb).localCheckpoint(false)
      (u, trainPqCodebook(u, m, k, iters))
    }
    val codes = unit.select(col("vec_id"),
      VectorExprs.pqEncode(col("embedding"), cb).as("codes"))
    val qt = unitEmb(queries).select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"),
      VectorExprs.pqQueryTable(col("embedding"), cb).as("tbl"))
    // stride = the TRAINED codebook's width, not the k parameter: a
    // corpus smaller than k seeds fewer centroids, and a k-stride ADC
    // would index past the table (or read the wrong subspace's cells)
    val stride = cb(0).length
    // ADC refine stage as the bounded aggregate: one ≤refine-entry
    // state per (query, partition) through the exchange — the window
    // formulation exchanged every scored (corpus × query) row. The
    // query vector rejoins from the tiny broadcast qt for the re-rank.
    val cand = topKExplode(
      codes.join(broadcast(qt), col("vec_id") =!= col("q_id"))
        .withColumn("approx", VectorExprs.pqAdc(col("codes"), col("tbl"), stride)),
      "approx", refine)
      .select(col("q_id"), col("neighbor_id").as("vec_id"))
      .join(broadcast(qt.select("q_id", "q_vec")), "q_id")
    // exact re-rank: only queries×refine candidate rows re-touch the
    // float corpus, and the tiny candidate set broadcasts. score =
    // dot of unit vectors = cosine of the originals.
    topKExplode(
      unit.join(broadcast(cand), "vec_id")
        .withColumn("score", dot(col("embedding"), col("q_vec"))),
      "score", topK)
      .orderBy("q_id", "rk")
  }

  /** Distributed Lloyd's k-means over the embedding column — the real
    * coarse quantizer behind IVF. Deterministic init (first k vectors
    * by id). Each iteration: broadcast centroids, argmin-assign (one
    * pass), per-cluster mean via the custom `vector_sum`
    * TypedImperativeAggregate (graft.functions.VectorSumAgg) — ONE
    * map-side-combined shuffle moving one k×dim-bounded vector per
    * partition, instead of the posexplode + per-dimension groupBy
    * formulation (dim× row blowup + two shuffles).
    */
  def kmeans(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    kmeansArrays(emb, k, iters).toSeq.toDF("c_id", "c_vec")
  }

  /** [[kmeans]] returning the driver-side centroid arrays directly —
    * the form every plan-constant consumer ([[CentroidSet]]) wants,
    * without a LocalTableScan round trip through a DataFrame. */
  private[graft] def kmeansArrays(emb: DataFrame, k: Int,
      iters: Int): Array[(Int, Array[Float])] = {
    // seed with the k smallest hash(vec_id): a deterministic
    // pseudo-random spread over the whole corpus (one distributed
    // TakeOrdered pass). First-k-by-id seeding put every seed inside
    // whatever cluster happened to own the low ids, and k-means from
    // co-located seeds converges to a lopsided quantizer (measured in
    // the drift spec: baseline meanD2 5x worse, bucket skew 3x).
    var cents = emb.orderBy(hash(col("vec_id")), col("vec_id")).limit(k)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).toArray) }
    for (_ <- 1 to iters) {
      // argmin inside the scan projection (NearestBuckets p=1) — each
      // iteration is ONE narrow pass + the k×dim vector-sum shuffle;
      // the old crossJoin+window exchanged n×k expanded rows per iter
      val assigned = emb.withColumn("c_id",
        VectorExprs.nearestBuckets(col("embedding"), CentroidSet(cents), 1,
          cosine = false).getItem(0).getField("bucket"))
      val means = assigned
        .groupBy("c_id")
        .agg(graft.functions.VectorAgg.vectorSum(col("embedding")).as("vsum"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val s = r.getSeq[Double](1)
          val n = r.getLong(2).toDouble
          (r.getInt(0), s.map(x => (x / n).toFloat).toArray)
        }
      if (means.nonEmpty) cents = means
    }
    cents
  }

  /** Shared corpus quantizer over the dir's embeddings table: the
    * corpus row count and the [[adaptiveK]] 2-iter [[kmeansArrays]]
    * centroids, DirMemo-keyed on dir content (the tokLong/ngramJaccard
    * discipline applied to the ANN family). d6/d11/d45/d71 each train
    * the IDENTICAL quantizer — same deterministic hash-ordered seeds,
    * same k = adaptiveK(n), same 2 Lloyd iterations — so building it
    * once per (session, dir content) changes no result bit while
    * saving three redundant k-means trainings and four corpus count
    * jobs per bench pass (r20 optimization round, guide §1.2 "don't
    * compute things twice").
    *
    * Driver-memory bound (the CentroidSet discipline): the memoized
    * value is k ≤ adaptiveK's 4096 cap × dim float centroids — ≈1 MB
    * at 64 dims — plus one Long; the training collects are likewise
    * k×dim-bounded (kmeansArrays' vector-sum rows), never corpus-
    * shaped, so the memo is safe at any corpus size. */
  private[graft] def embQuantizer(s: SparkSession,
      d: String): (Long, Array[(Int, Array[Float])]) =
    graft.ops.DirMemo.cached(s, d, "embQuantizer") {
      // lazy cut: the count + seed pass + 2 Lloyd iterations otherwise
      // each re-read the parquet (the un-cut-iterative-input lesson)
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
        .localCheckpoint(eager = false)
      val n = emb.count()
      (n, kmeansArrays(emb, adaptiveK(n), iters = 2))
    }

  /** Assignment of every vector to its nearest centroid (squared-L2). */
  def assign(emb: DataFrame, cents: DataFrame): DataFrame =
    assignMulti(emb, cents, probes = 1)

  /** Multi-assignment: every vector lands in its `probes` nearest
    * centroid buckets. probes > 1 is the standard recall knob for
    * bucket-blocked pairwise ops — a pair split across neighboring
    * buckets by single-assignment still collides if either's second
    * bucket is shared — at probes× the candidate volume. */
  def assignMulti(emb: DataFrame, cents: DataFrame, probes: Int): DataFrame =
    explodeNearest(emb, centroidSetOf(cents), probes, cosine = false, Seq("vec_id"))
      .select(col("vec_id"), col("nb.bucket").as("bucket"), col("nb.score").as("d2"))

  /** Persist an IVF ANN index: every vector assigned to its nearest
    * fixed-k centroid bucket, written as parquet PARTITIONED BY bucket.
    * At 100 TB this is the write-time layout that turns an ANN probe
    * into a partition-pruned scan of nprobe buckets instead of a full
    * corpus pass. Returns the centroid table (persist it alongside).
    */
  def buildIvfIndex(emb: DataFrame, k: Int, iters: Int, path: String): DataFrame = {
    val cents = kmeans(emb, k, iters)
    emb.join(assign(emb, cents).select("vec_id", "bucket"), "vec_id")
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    cents
  }

  /** Incrementally maintain a persisted IVF index: assign NEW vectors
    * to the EXISTING centroids (broadcast argmin — no k-means rerun, no
    * corpus re-scan) and append them into their bucket partitions; a
    * partitioned append only touches the buckets the batch lands in.
    * This is the reference's append-only parquet + merge discipline
    * applied to the ANN index: at 100 TB a full rebuild per ingest
    * cycle re-clusters the world, while the append is one narrow pass
    * over the new batch. The standard trade is centroid DRIFT — the
    * quantizer stays frozen while the distribution moves — so probe
    * results over (initial ∪ appended) equal a one-shot index built
    * with the SAME centroids exactly (spec-gated), and a periodic
    * [[buildIvfIndex]] re-clustering resets drift when recall decays.
    *
    * Replay-safe: an at-least-once re-delivery (streaming restart,
    * retried foreachBatch) must not duplicate vectors, so already-
    * indexed vec_ids are anti-joined away first — the INDEX is the
    * authority, like the other graft sinks. Assignment is
    * deterministic under frozen centroids, so a re-delivered vector
    * lands in its original bucket and the guard scan prunes to the
    * batch's own buckets.
    */
  def appendToIvfIndex(newEmb: DataFrame, cents: DataFrame, path: String): IvfDrift = {
    val s = newEmb.sparkSession
    val dedup = newEmb.dropDuplicates("vec_id")
    val assigned = dedup
      .join(assign(dedup, cents).select("vec_id", "bucket", "d2"), "vec_id")
      .localCheckpoint(eager = true)
    // per-append drift gauge over the arriving batch (one ≤k-row
    // aggregation on the already-materialized assignment): the trend a
    // deployment watches to schedule re-clustering
    val drift = driftOfAssigned(assigned, cents.count())
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val novel =
      if (!fs.exists(hPath)) assigned
      else {
        // ONE bounded driver action (≤ k bucket ids + the id box).
        // The guard scan is bucket-dir pruned AND vec_id-footer-box
        // pruned (Sinks.readPruned): index files cluster by insertion
        // batch, so a replayed batch touches exactly the files its
        // failed attempt wrote and a fresh monotone-id batch skips the
        // touched buckets' whole history — the guard cost stops
        // growing with index lifetime (the r19 tripletMineStream
        // discipline applied to the index itself).
        val stats = assigned.agg(
          collect_set(col("bucket")).as("bks"),
          min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi")).head()
        val bks = stats.getSeq[Int](0)
        val exact = 1L << 53
        val longIds = assigned.schema("vec_id").dataType ==
          org.apache.spark.sql.types.LongType
        val boxed =
          if (!longIds || stats.isNullAt(1)) None
          else {
            val (lo, hi) = (stats.getLong(1), stats.getLong(2))
            if (lo <= -exact || hi >= exact) None else Some((lo, hi))
          }
        val seen = boxed match {
          case Some((lo, hi)) =>
            graft.sources.Sinks.readPruned(s, path,
                Seq(("vec_id", lo.toDouble, hi.toDouble)),
                bks.map(b => s"bucket=$b").toSet)
              .select("vec_id")
          case None =>
            s.read.parquet(path)
              .filter(col("bucket").isin(bks: _*)).select("vec_id")
        }
        assigned.join(seen, Seq("vec_id"), "left_anti")
      }
    // zero-row partitioned append would poison a fresh path; repartition
    // on the partition column bounds the writer fan-out (tasks × buckets
    // tiny files otherwise)
    if (!novel.isEmpty)
      novel.drop("d2").repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(path)
    assigned.unpersist()
    drift
  }

  // ---- centroid-drift management -----------------------------------
  // The frozen-quantizer trade documented on appendToIvfIndex needs a
  // GAUGE (is the arriving distribution still the one the centroids
  // were fit to?) and a RESET (periodic re-cluster). The gauge is two
  // numbers per batch: mean squared distance-to-centroid (the k-means
  // objective per vector — rises as the distribution moves away from
  // the frozen centers) and bucket skew (max bucket share × k; 1.0 =
  // uniform — a drifted batch crowds into the few buckets nearest its
  // new mode, which is also exactly what makes probe recall decay:
  // fewer, fuller buckets mean the true neighbors concentrate outside
  // the probed set for more queries).

  /** Drift gauge: n vectors measured, mean squared distance to the
    * nearest frozen centroid, and bucket skew (max share × k). */
  case class IvfDrift(n: Long, meanD2: Double, bucketSkew: Double)

  private def driftOfAssigned(assigned: DataFrame, k: Long): IvfDrift = {
    val per = assigned.groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("d2").as("sd2"))
      .select("n", "sd2").collect()
    val n = per.map(_.getLong(0)).sum
    if (n == 0) IvfDrift(0L, 0.0, 1.0)
    else IvfDrift(n, per.map(_.getDouble(1)).sum / n,
      per.map(_.getLong(0)).max.toDouble * k / n)
  }

  /** One-pass drift measurement of `emb` against frozen `cents` —
    * run it on the initial index content right after [[buildIvfIndex]]
    * to get the BASELINE the per-append gauges are compared to. */
  def ivfDrift(emb: DataFrame, cents: DataFrame): IvfDrift =
    driftOfAssigned(assign(emb, cents), cents.count())

  /** Re-cluster trigger: the arriving distribution has drifted once its
    * mean squared distance-to-centroid exceeds the baseline's by
    * `maxDistRatio`, or its bucket skew passes `maxSkew`. Thresholds
    * are deployment knobs; the recall-decay spec pins that a
    * distribution shift big enough to decay probe recall trips this
    * with the defaults, and an in-distribution append does not. */
  def shouldRecluster(baseline: IvfDrift, current: IvfDrift,
      maxDistRatio: Double = 1.5, maxSkew: Double = 4.0): Boolean =
    current.n > 0 &&
      (current.meanD2 > baseline.meanD2 * maxDistRatio || current.bucketSkew > maxSkew)

  /** The drift RESET: re-fit the quantizer on the index's CURRENT
    * content and rebuild into `newPath` (index generations are
    * versioned by path — the caller swaps readers to the new
    * generation and retires the old one, and must persist the returned
    * centroids alongside it; appends against the old centroids stop at
    * the swap, per the single-writer discipline all graft stores
    * follow). Cost is one full pass over the index — the periodic
    * maintenance job [[appendToIvfIndex]]'s docs prescribe, now with
    * [[shouldRecluster]] to schedule it on evidence instead of a
    * timer. */
  def reclusterIvfIndex(s: SparkSession, path: String, newPath: String,
      k: Int = 0, iters: Int = 2): DataFrame = {
    val emb = s.read.parquet(path).select("vec_id", "embedding")
    val kk = if (k > 0) k else adaptiveK(emb.count())
    buildIvfIndex(emb, kk, iters, newPath)
  }

  /** Probe a persisted IVF index: queries are assigned to their nprobe
    * nearest centroids (broadcast), and the bucket equi-join against
    * the partitioned index lets dynamic partition pruning skip every
    * unprobed bucket's files — the scan cost is nprobe/k of the corpus.
    */
  def probeIvfIndex(s: SparkSession, path: String, cents: DataFrame,
      queries: DataFrame, topK: Int = 5, nprobe: Int = 2): DataFrame = {
    val idx = s.read.parquet(path)
    val q = explodeNearest(queries, centroidSetOf(cents), nprobe,
        cosine = true, Seq("vec_id", "embedding"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("nb.bucket").as("bucket"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)
    idx.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("q_vec"), col("embedding")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rk"))
  }

  /** Persist the composed IVF-PQ index — the 100 TB ANN layout: the
    * coarse quantizer's buckets partition the corpus on disk (probes
    * become partition-pruned scans of nprobe/k of the files), PQ codes
    * make the in-bucket candidate pass M bytes a row, and the float
    * embedding rides in the same row group for the final re-rank —
    * parquet column pruning keeps it UNREAD until then (the candidate
    * scan's ReadSchema is (vec_id, codes) only). Vectors are stored
    * L2-normalized; returns (centroids, codebook) — persist both
    * beside the index, they are the index's generation identity like
    * [[buildIvfIndex]]'s centroids.
    */
  def buildIvfPqIndex(emb: DataFrame, kIvf: Int, m: Int, kPq: Int,
      iters: Int, path: String): (DataFrame, Array[Array[Array[Float]]]) = {
    import graft.functions.VectorExprs
    val unit = unitEmb(emb)
    val cents = kmeans(unit, kIvf, iters)
    val cb = trainPqCodebook(unit, m, kPq, iters)
    unit.join(assign(unit, cents).select("vec_id", "bucket"), "vec_id")
      .withColumn("codes", VectorExprs.pqEncode(col("embedding"), cb))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    (cents, cb)
  }

  private val PqLayoutVersion = "graft-pq-v1"

  /** Persist the (centroids, codebook) pair that is an IVF-PQ index's
    * generation identity (see [[buildIvfPqIndex]]): centroids as their
    * (c_id, c_vec) frame, the codebook flattened to (mi, code, c_vec)
    * rows, and a `_layout` marker pinning version + (m, k, sub) dims —
    * the Classifier/BpeVocab artifact precedent. Floats round-trip
    * through parquet FLOAT columns bit-exact, so a loaded model probes
    * identically to the trained one (spec'd); an index you must retrain
    * per session is not an index at 100 TB. */
  def savePqModel(s: SparkSession, cents: DataFrame,
      cb: Array[Array[Array[Float]]], path: String): Unit = {
    import s.implicits._
    require(cb.nonEmpty && cb.head.nonEmpty, "empty codebook")
    graft.ops.Artifacts.invalidate(s, path)
    cents.select(col("c_id"), col("c_vec")).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    cb.zipWithIndex.flatMap { case (subcb, mi) =>
      subcb.zipWithIndex.map { case (v, code) => (mi, code, v.toSeq) }
    }.toSeq.toDF("mi", "code", "c_vec").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebook")
    graft.ops.Artifacts.writeLayout(s, path, PqLayoutVersion, Seq(
      "m" -> cb.length.toString, "k" -> cb.head.length.toString,
      "sub" -> cb.head.head.length.toString))
  }

  /** Load a persisted PQ model; fails fast on a missing/foreign/torn
    * artifact, and verifies the codebook's shape against the marker. */
  def loadPqModel(s: SparkSession, path: String): (DataFrame, Array[Array[Array[Float]]]) = {
    val layout = graft.ops.Artifacts.readLayout(s, path, PqLayoutVersion, "PQ")
    def dim(name: String): Int =
      graft.ops.Artifacts.layoutValue(layout, name, path, "PQ").toInt
    val (m, k, sub) = (dim("m"), dim("k"), dim("sub"))
    val cb = Array.fill(m, k)(null: Array[Float])
    s.read.parquet(s"$path/codebook").collect().foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
    }
    cb.zipWithIndex.foreach { case (subcb, mi) =>
      subcb.zipWithIndex.foreach { case (v, code) =>
        require(v != null && v.length == sub,
          s"PQ artifact at $path: codeword ($mi, $code) missing or wrong width")
      }
    }
    (s.read.parquet(s"$path/centroids"), cb)
  }

  /** Probe a persisted IVF-PQ index: nprobe nearest buckets per query
    * (broadcast centroid argmax) → ADC over the pruned buckets' code
    * column → top-`refine` per query → exact cosine re-rank reading
    * the float column of only those buckets. Two scans of the SAME
    * pruned partition set, the first touching M bytes a row.
    */
  def probeIvfPq(s: SparkSession, path: String, cents: DataFrame,
      cb: Array[Array[Array[Float]]], queries: DataFrame, topK: Int = 5,
      nprobe: Int = 2, refine: Int = 50): DataFrame = {
    import graft.functions.VectorExprs
    val k = cb(0).length
    val q = explodeNearest(unitEmb(queries), centroidSetOf(cents), nprobe,
        cosine = true, Seq("vec_id", "embedding"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        VectorExprs.pqQueryTable(col("embedding"), cb).as("tbl"),
        col("nb.bucket").as("bucket"))
    val idx = s.read.parquet(path)
    val wA = Window.partitionBy("q_id").orderBy(col("approx").desc, col("vec_id").asc)
    val cand = idx.select("vec_id", "codes", "bucket")
      .join(broadcast(q.select("q_id", "tbl", "bucket")), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("approx", VectorExprs.pqAdc(col("codes"), col("tbl"), k))
      .withColumn("rk", row_number().over(wA))
      .filter(col("rk") <= refine)
      .select("q_id", "vec_id", "bucket")
    val wB = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    idx.select("vec_id", "embedding", "bucket")
      .join(broadcast(cand), Seq("bucket", "vec_id"))
      .join(broadcast(q.select("q_id", "q_vec").dropDuplicates("q_id")), "q_id")
      .withColumn("score", dot(col("embedding"), col("q_vec")))
      .withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("score"), col("rk"))
      .orderBy("q_id", "rk")
  }

  /** d38: semantic decontamination — the embedding-space complement of
    * d24's 8-gram benchmark decontamination: an eval item PARAPHRASED
    * into the training corpus shares no 8-gram, but its embedding sits
    * next to the eval item's. Reports every corpus vector whose cosine
    * to its nearest benchmark vector reaches `threshold` (the leakage
    * report — the caller anti-joins the ids away, exactly like d24's
    * contaminated-id list).
    *
    * Scale shape: eval suites are TINY and static, so the benchmark
    * embeds as a plan constant inside ONE NearestBuckets projection —
    * the whole operator is a narrow map over the corpus (zero
    * expansion, zero shuffle, no candidate generation needed at all);
    * at 100 TB it rides the same scan as the rest of the curation
    * gates. Ties between equal-cosine benchmark vectors resolve to the
    * smallest benchmark id, like every assignment in this family.
    */
  def semanticDecon(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    semanticDeconOf(emb, emb.filter(col("vec_id") % 97 === 0))
  }

  /** Core of [[semanticDecon]]. Benchmark ids are mapped onto dense
    * CentroidSet slots in id order (the set's ids are Int; benchmark
    * ids stay Long end to end) and translated back via a tiny
    * broadcast join. */
  def semanticDeconOf(corpus: DataFrame, bench: DataFrame,
      threshold: Double = 0.80): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    // The benchmark is a driver pull that becomes a per-task plan
    // constant (k×dim floats), so it must be eval-suite sized — the
    // same 4096 discipline as adaptiveK's cap. Fail fast with the
    // contract spelled out instead of a silent driver OOM when someone
    // passes a corpus-sized frame as `bench`.
    val cap = 4096
    val bvs = bench.select("vec_id", "embedding").limit(cap + 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(bvs.length <= cap,
      s"semanticDeconOf: benchmark has >$cap vectors — it is collected to the " +
        "driver and baked into every task's plan; pass the eval suite, not a corpus")
    require(bvs.nonEmpty, "semantic decontamination needs a non-empty benchmark")
    val cs = CentroidSet(bvs.zipWithIndex.map { case ((_, v), i) => (i, v) })
    val slots = bvs.zipWithIndex.map { case ((id, _), i) => (i, id) }.toSeq
      .toDF("slot", "bench_vec_id")
    corpus
      .select(col("vec_id"),
        VectorExprs.nearestBuckets(col("embedding"), cs, 1, cosine = true)
          .getItem(0).as("nb"))
      .select(col("vec_id"), col("nb.bucket").as("slot"),
        col("nb.score").as("bench_cos"))
      .filter(col("bench_cos") >= threshold)
      .join(broadcast(slots), "slot")
      .select("vec_id", "bench_vec_id", "bench_cos")
      .orderBy("vec_id")
  }

  /** d66: MMR diversity selection (Carbonell & Goldstein 1998, public)
    * — the training-data subset-selection shape: greedily pick k
    * exemplars maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-selected, so the picks are both central AND mutually
    * diverse (the seed-selection / demo-selection / dedup-aware
    * sampling primitive). Relevance = cosine to the corpus mean
    * direction (the exact unit-sum mean, REAL-cast — the k-means mean
    * formula); similarity = pairwise cosine.
    *
    * Scale shape: the greedy walk is restricted to a candidate POOL of
    * the top-`poolSize` by relevance — the distributed part is one
    * narrow NearestBuckets projection (cosine to a plan-constant mean)
    * + TakeOrdered, which scales to any corpus; the O(pool²·dim)
    * greedy then runs on the driver over a CONSTANT-sized pull
    * (poolSize×64 floats), corpus-size-independent by construction —
    * the d58 bounded-driver-work discipline.
    *
    * Oracle parity: the driver loop's float ops replicate the
    * pivot-exact SQL bit for bit — dot/norm accumulate left-to-right
    * over the 64 dims exactly like the Vec64Sql expressions (and like
    * [[graft.functions.ExprHelpers.nearestBuckets]], which computes
    * the distributed rel column), maxSim is an exact running max, and
    * the score is (0.5·rel) − (0.5·maxSim) with literal halves in both
    * dialects; ties break (score desc, vec_id asc) everywhere. */
  def mmrSelect(s: SparkSession, d: String): DataFrame =
    mmrSelectOf(Tables.embeddings(s, d).select("vec_id", "embedding"))

  /** Core of [[mmrSelect]] over an explicit (vec_id, embedding) frame.
    * `lambda` must be a double whose complement 1−λ is exact (0.5
    * default) — the oracle writes both as literals. */
  def mmrSelectOf(embs: DataFrame, k: Int = 24, poolSize: Int = 128,
      lambda: Double = 0.5): DataFrame = {
    val s = embs.sparkSession
    import s.implicits._
    val mrow = embs.agg(
      graft.functions.VectorAgg.vectorSum(col("embedding")).as("vs"),
      count(lit(1)).as("n")).collect()(0)
    require(!mrow.isNullAt(0), "mmrSelectOf: empty embedding frame")
    val n = mrow.getLong(1)
    val mean = mrow.getSeq[Double](0).map(x => (x / n).toFloat).toArray
    val meanSet = CentroidSet(Array((0, mean)))
    // pool: top-poolSize by (rel desc, vec_id asc) — TakeOrdered (no
    // window, per-partition partial top-k), embedding carried along
    val pool = embs
      .select(col("vec_id"), col("embedding"),
        VectorExprs.nearestBuckets(col("embedding"), meanSet, 1, cosine = true)
          .getItem(0).getField("score").as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(poolSize)
      .collect()
    // Σx² with the same left-to-right float→double loop as the SQL
    // pivot expressions and ExprHelpers.nearestBuckets
    def sq(v: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < v.length) { val x = v(i).toDouble; acc += x * x; i += 1 }
      acc
    }
    def dotd(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val ids = pool.map(_.getLong(0))
    val vecs = pool.map(_.getSeq[Float](1).toArray)
    val rels = pool.map(_.getDouble(2))
    val ees = vecs.map(sq)
    val m = ids.length
    // −∞ init: after the first pick every slot takes its true max (sims
    // can be NEGATIVE — a 0.0 floor would diverge from the oracle's
    // MAX over the selected set). Round 1 scores on rel alone (the
    // oracle's seed row), which λ·rel ranks identically.
    val maxSim = Array.fill(m)(Double.NegativeInfinity)
    val taken = Array.fill(m)(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var rnd = 0
    while (rnd < math.min(k, m)) {
      var best = -1
      var bestScore = 0.0
      var i = 0
      while (i < m) {
        if (!taken(i)) {
          val score =
            if (rnd == 0) lambda * rels(i)
            else lambda * rels(i) - (1.0 - lambda) * maxSim(i)
          val c = java.lang.Double.compare(score, bestScore)
          // (score desc, vec_id asc): ids are pool-ordered by (rel
          // desc, id asc), but equal scores can pair ids out of pool
          // order, so compare ids explicitly
          if (best < 0 || c > 0 || (c == 0 && ids(i) < ids(best))) {
            best = i; bestScore = score
          }
        }
        i += 1
      }
      taken(best) = true
      rnd += 1
      out += ((rnd.toLong, ids(best), rels(best)))
      // incremental running max against the newest pick ≡ MAX over the
      // selected set (exact, order-free)
      var j = 0
      while (j < m) {
        if (!taken(j)) {
          val sim = dotd(vecs(j), vecs(best)) /
            (Math.sqrt(ees(j)) * Math.sqrt(ees(best)))
          if (java.lang.Double.compare(sim, maxSim(j)) > 0) maxSim(j) = sim
        }
        j += 1
      }
    }
    out.toSeq.toDF("rnd", "vec_id", "rel").orderBy("rnd")
  }

  /** d11: embedding-cosine near-duplicate pairs, blocked by the
    * operator's OWN IVF buckets (the d6 quantizer) — self-contained:
    * no reliance on a pre-existing cluster column. k defaults to
    * [[adaptiveK]](n) ≈ √n so within-bucket pair work stays bounded as
    * the corpus grows, and multiAssign = 2 recovers most pairs that a
    * single assignment would split across neighboring buckets.
    */
  def nearDupCosine(s: SparkSession, d: String): DataFrame =
    nearDupCosinePairs(Tables.embeddings(s, d).select("vec_id", "embedding"),
      centsIn = Some(CentroidSet(embQuantizer(s, d)._2)))
      .orderBy("id_a", "id_b")

  /** Core bucket-blocked near-dup pipeline over any (vec_id, embedding)
    * frame.
    * @param k bucket count; None → [[adaptiveK]](corpus size)
    * @param multiAssign buckets per vector (recall knob: a pair is
    *   found iff the two vectors SHARE at least one of their buckets;
    *   candidate volume grows ~multiAssign², recall → 1)
    * @param threshold minimum cosine to report
    */
  def nearDupCosinePairs(emb0: DataFrame, k: Option[Int] = None,
      multiAssign: Int = 2, threshold: Double = 0.30,
      centsIn: Option[CentroidSet] = None): DataFrame = {
    // Pre-compute each vector's norm ONCE before the pairwise join —
    // inside the join it would be recomputed per pair (O(pairs·dim)
    // extra work).
    val emb = emb0.select("vec_id", "embedding")
      .withColumn("nrm", norm(col("embedding")))
    // centsIn (the registered entry's shared [[embQuantizer]] cut)
    // skips both the count job and the k-means training — bit-identical
    // centroids by construction
    lazy val kk = k.getOrElse(adaptiveK(emb.count()))
    val cs = centsIn.getOrElse(centroidSetOf(kmeans(emb, kk, iters = 2)))
    // Inline multi-assignment carrying (embedding, nrm) straight
    // through the narrow NearestBuckets projection — no corpus-sized
    // join back (assignMulti returns only ids, and joining it to emb
    // would add a wide shuffle per self-join side), and no shuffle at
    // all before the bucket-blocked pair join.
    val blocked = explodeNearest(emb, cs,
        multiAssign, cosine = false, Seq("vec_id", "embedding", "nrm"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("nb.bucket").as("bucket"))
    val a = blocked.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("v_a"), col("nrm").as("n_a"))
    val b = blocked.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("v_b"), col("nrm").as("n_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      // multi-assignment can find the same pair in several shared
      // buckets — dedupe, keeping the smallest bucket id for provenance
      .groupBy("id_a", "id_b")
      .agg(min(col("bucket")).as("bucket"), max(col("cos")).as("cos"))
      .select("bucket", "id_a", "id_b", "cos")
  }

  /** d71: HARD-negative triplet mining (the DPR/contrastive-training
    * recipe, Karpukhin et al. 2020, public) — d70 draws negatives
    * uniformly; retrieval training wants the HARDEST ones: for every
    * anchor, the highest-cosine candidate that is NOT a near-dup.
    * One bucket-blocked candidate join (the d11 front end: own IVF
    * buckets, multi-assign recall knob, never corpus²) yields per
    * anchor BOTH the strongest positive (argmax cos among ≥ threshold
    * candidates) and the hardest negative (argmax cos among
    * < threshold candidates); anchors missing either side drop.
    * Deterministic tie-break (cos desc, vec_id asc) via the
    * MIN(STRUCT(−cos, id)) argmin — the negate round trip is
    * hash-safe (q54 discipline).
    *
    * Oracle parity: the d11 pivot-exact pair cosines + the same
    * conditional struct-min folds — every emitted double is a single
    * expression whose association matches the engine, no unordered
    * sums anywhere (the r16 pivot-exact lesson). Approximation
    * surface: candidates are bucket-blocked, so "hardest" means
    * hardest WITHIN the multi-assigned buckets — the same documented
    * trade as d11/d45, and exactly what the oracle replays. */
  def hardTriplets(s: SparkSession, d: String): DataFrame =
    hardTripletsOf(Tables.embeddings(s, d).select("vec_id", "embedding"),
      centsIn = Some(CentroidSet(embQuantizer(s, d)._2)))

  /** Core of [[hardTriplets]] over any (vec_id, embedding) frame. */
  def hardTripletsOf(emb0: DataFrame, k: Option[Int] = None,
      multiAssign: Int = 2, threshold: Double = 0.30,
      centsIn: Option[CentroidSet] = None): DataFrame = {
    val emb = emb0.select("vec_id", "embedding")
      .withColumn("nrm", norm(col("embedding")))
    lazy val kk = k.getOrElse(adaptiveK(emb.count()))
    val blocked = explodeNearest(emb,
        centsIn.getOrElse(centroidSetOf(kmeans(emb, kk, iters = 2))),
        multiAssign, cosine = false, Seq("vec_id", "embedding", "nrm"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("nb.bucket").as("bucket"))
    val a = blocked.select(col("bucket"), col("vec_id").as("anchor_id"),
      col("embedding").as("v_a"), col("nrm").as("n_a"))
    val b = blocked.select(col("bucket"), col("vec_id").as("cand_id"),
      col("embedding").as("v_b"), col("nrm").as("n_b"))
    val scored = a.join(b, Seq("bucket"))
      .filter(col("anchor_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      // multi-assignment dedup: identical cos in every shared bucket
      .groupBy("anchor_id", "cand_id")
      .agg(max(col("cos")).as("cos"))
    scored.groupBy("anchor_id")
      .agg(
        min(when(col("cos") >= lit(threshold),
          struct(negate(col("cos")).as("c"), col("cand_id").as("v")))).as("p"),
        min(when(col("cos") < lit(threshold),
          struct(negate(col("cos")).as("c"), col("cand_id").as("v")))).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("anchor_id"),
        col("p.v").as("pos_id"), negate(col("p.c")).as("cos_pos"),
        col("n.v").as("neg_id"), negate(col("n.c")).as("cos_neg"))
      .orderBy("anchor_id")
  }

  /** [[hardTriplets]] against a FROZEN quantizer and an explicit
    * candidate pool — the streaming/incremental face of d71: anchors
    * multi-probe their nearest `multiAssign` frozen buckets (the
    * standard IVF query pattern), candidates come from the pool's
    * STORED single-assignment bucket column (the persisted index
    * layout appendToIvfIndex maintains). Per-batch cost is bounded by
    * the probed buckets' population — never pool². Deterministic
    * under frozen centroids, which is what makes the streaming sink
    * replay-idempotent. */
  /** @param requireBoth true (the batch/d71 semantics) emits only
    *   anchors with BOTH a positive and a negative; false keeps every
    *   SCORED anchor with nullable sides — the streaming sink needs
    *   the "no triplet at insertion time" decision as a row, or a
    *   replayed/re-delivered anchor whose future positive has since
    *   arrived would re-qualify and break replay idempotence. */
  def hardTripletsAgainst(anchors0: DataFrame, pool0: DataFrame,
      cents: DataFrame, multiAssign: Int = 2,
      threshold: Double = 0.30, requireBoth: Boolean = true): DataFrame = {
    val anchors = anchors0.select("vec_id", "embedding")
      .withColumn("nrm", norm(col("embedding")))
    val probed = explodeNearest(anchors, centroidSetOf(cents), multiAssign,
        cosine = false, Seq("vec_id", "embedding", "nrm"))
      .select(col("vec_id").as("anchor_id"), col("embedding").as("v_a"),
        col("nrm").as("n_a"), col("nb.bucket").as("bucket"))
    val members = pool0.select(col("vec_id").as("cand_id"),
        col("embedding").as("v_b"), col("bucket"))
      .withColumn("n_b", norm(col("v_b")))
    val scored = probed.join(members, Seq("bucket"))
      .filter(col("anchor_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .groupBy("anchor_id", "cand_id")
      .agg(max(col("cos")).as("cos"))
    val folded = scored.groupBy("anchor_id")
      .agg(
        min(when(col("cos") >= lit(threshold),
          struct(negate(col("cos")).as("c"), col("cand_id").as("v")))).as("p"),
        min(when(col("cos") < lit(threshold),
          struct(negate(col("cos")).as("c"), col("cand_id").as("v")))).as("n"))
    (if (requireBoth) folded.filter(col("p").isNotNull && col("n").isNotNull)
     else folded)
      .select(col("anchor_id"),
        col("p.v").as("pos_id"), negate(col("p.c")).as("cos_pos"),
        col("n.v").as("neg_id"), negate(col("n.c")).as("cos_neg"))
      .orderBy("anchor_id")
  }

  /** d45: SemDeDup-style semantic dedup (Abbas et al. 2023, public) —
    * embedding near-duplicate GROUPS resolved to one kept
    * representative each. Candidate pairs come from the d11
    * bucket-blocked cosine join (multi-assigned k-means buckets, never
    * corpus²), groups from size-gated connected components, and within
    * each group every vector is dropped except the one LEAST similar
    * to its k-means centroid — the paper's keep-rule: the least
    * prototypical member carries the most marginal information.
    * Deterministic end to end (hash-seeded k-means, argmin tie-break
    * on vec_id), so a re-run keeps exactly the same vectors.
    * Oracle-exact since r16 via the pivot-exact recipe (Vec64Sql dot
    * columns + kmeansReplayCtes + recursive-CTE closure); the k=1
    * brute-force parity + keep-rule specs (Round11Spec) remain as the
    * structural gate.
    */
  def semDedup(s: SparkSession, d: String): DataFrame =
    semDedupOf(Tables.embeddings(s, d).select("vec_id", "embedding"),
      centsIn = Some(CentroidSet(embQuantizer(s, d)._2)))
      .orderBy("vec_id")

  /** Core of [[semDedup]] over any (vec_id, embedding) frame.
    * @param threshold minimum cosine for two vectors to be semantic
    *   duplicates
    * @param k bucket count; None → [[adaptiveK]](corpus size)
    * @param multiAssign buckets per vector for pair recall (see
    *   [[nearDupCosinePairs]])
    * Output: every vec_id with its duplicate group (own id when it has
    * no near-dup), the keep decision, and its centroid cosine.
    */
  def semDedupOf(emb0: DataFrame, threshold: Double = 0.30,
      k: Option[Int] = None, multiAssign: Int = 2,
      centsIn: Option[CentroidSet] = None): DataFrame = {
    val emb = emb0.select("vec_id", "embedding")
      .withColumn("nrm", norm(col("embedding")))
    lazy val kk = k.getOrElse(adaptiveK(emb.count()))
    val cs = centsIn.getOrElse(centroidSetOf(kmeans(emb, kk, iters = 2)))
    // The keep-rule's centroid cosine rides the same narrow projection
    // that feeds pair blocking — one corpus scan, no assignment join.
    val withCos = emb.withColumn("cent_cos",
      VectorExprs.nearestBuckets(col("embedding"), cs, 1, cosine = true)
        .getItem(0).getField("score"))
    val blocked = explodeNearest(withCos, cs, multiAssign, cosine = false,
        Seq("vec_id", "embedding", "nrm"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("nb.bucket").as("bucket"))
    val a = blocked.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("v_a"), col("nrm").as("n_a"))
    val b = blocked.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("v_b"), col("nrm").as("n_b"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")) >= lit(threshold))
      .select("id_a", "id_b").distinct()
    val comps = Dedup.connectedComponentsAuto(pairs)
    val members = withCos.select("vec_id", "cent_cos")
      .join(comps, col("vec_id") === col("node"))
      .select(col("vec_id"), col("cent_cos"), col("cluster_id"))
    // argmin by (cent_cos, vec_id): struct-min falls back to
    // SortAggregate, but `members` is only the duplicate-group rows —
    // bounded by true near-dup density, not corpus size — so the sort
    // is over a tiny frame (the q54 primitive-buffer rule targets
    // fact-table aggregations, not this).
    val reps = members.groupBy("cluster_id")
      .agg(min(struct(col("cent_cos"), col("vec_id"))).as("best"))
      .select(col("cluster_id"), col("best.vec_id").as("rep_id"))
    val flagged = members.join(reps, "cluster_id")
      .select(col("vec_id"), col("cluster_id"),
        (col("vec_id") === col("rep_id")).as("kept"))
    withCos.select("vec_id", "cent_cos")
      .join(flagged, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("group_id"),
        coalesce(col("kept"), lit(true)).as("kept"),
        col("cent_cos"))
  }

  // ---- topic clustering (d61) ----------------------------------------

  /** d61 registered entry: k-means topic clusters over the corpus's
    * SELF-DERIVED hashed embeddings (Retrieval.denseEmbed's memoized
    * cut) — the mixture-balancing / SemDeDup-prep view: how the corpus
    * splits into embedding-space groups, how big each group is, and
    * which doc exemplifies it. Oracle-exact since r16: the k-means
    * fixpoint replays in DuckDB via kmeansReplayCtes (WITH RECURSIVE
    * rounds over Vec64Sql pivot columns, unit-exact means);
    * Round12dSpec still gates assignment optimality (every vector sits
    * in its true nearest cluster), size conservation, exemplar
    * minimality, and same-session determinism.
    *
    * Deliberately NOT sliced from [[embQuantizer]] (r21 audit): that
    * memo is the adaptiveK/2-iter quantizer over the EMBEDDINGS table,
    * while this entry's semantics are k=16 topic clusters at 5 Lloyd
    * iterations over the doc-derived denseEmbed vectors — different
    * input, k, and iteration count, all three pinned by the DuckDB
    * replay, so there is no shared frame to memoize. */
  def topicClusters(s: SparkSession, d: String): DataFrame =
    topicClustersOf(Retrieval.denseEmbed(s, d))

  /** d72: k-NN GRAPH construction over the self-derived d59 corpus
    * embeddings — the neighbor table retrieval-augmented pretraining
    * (RETRO-style preprocessing), graph-based clustering and
    * curriculum mining all start from: every document's top-k nearest
    * OTHER documents by cosine. IVF-blocked like the whole ANN
    * family: anchors multi-probe their `multiAssign` nearest buckets,
    * candidates index into their `candAssign` nearest buckets (both 2
    * — the knee of the measured r20 recall/cost curve, see
    * [[knnGraphOf]]), per-anchor top-k via the bounded TopKByScore
    * partial aggregate (one ≤k state per (anchor, partition) — no
    * corpus-wide rank window). "Nearest" is bucket-scoped — the
    * documented d11/d45/d71 trade; d74 measures it per corpus
    * (sf0.1 md5-panel recall@5: 0.650 at the default, up from 0.498
    * single-assign).
    *
    * Oracle parity: the d61 preamble (d59 unit weights → pivoted
    * vectors → k-means replay) + pivot-exact pair cosines + a
    * (cos DESC, id ASC) ROW_NUMBER — TopKByScore is row-for-row equal
    * to that window by contract. */
  def knnGraph(s: SparkSession, d: String): DataFrame =
    knnTable(s, d).orderBy("q_id", "rk")

  /** DirMemo-keyed shared cut of the d72 neighbor table: d72 itself
    * and d73 (mutual-kNN) both consume it — without the memo d73
    * would re-run the whole kmeans + bucketed pair mine per bench
    * pass (the d4-family lesson). Deterministic (hash-seeded k-means,
    * pivot-exact cosines), lazily checkpointed, re-fingerprinted per
    * dir content. */
  private def knnTable(s: SparkSession, d: String): DataFrame =
    graft.ops.DirMemo.cached(s, d, "knnGraph") {
      knnGraphOf(Retrieval.denseEmbed(s, d)).localCheckpoint(eager = false)
    }

  /** Core of [[knnGraph]] over any (vec_id, embedding) frame.
    * k defaults to [[adaptiveK]](n): blocked pair volume is n²/k, so a
    * FIXED k grows it quadratically with the corpus while √n buckets
    * keep it at n^1.5 — measured before the fix, the 10× oracle sat on
    * ~300 M pivot-dot pair rows at k=16 vs ~22 M adaptive.
    *
    * `candAssign` is the IVF recall lever the d74 gauge measured
    * (r20): indexing each CANDIDATE into its `candAssign` nearest
    * buckets multiplies blocked pair volume by ~candAssign but lets an
    * anchor find neighbors that fell just across its probe-bucket
    * boundary. Measured sf0.1 curve (a one-off sweep, md5-panel recall@5
    * vs pre-dedup blocked pair volume, n=5000/k=71):
    * (anchor,cand)=(2,1) 0.498 @ 0.86 M pairs → (3,1) 0.582 @ 1.30 M →
    * (2,2) 0.650 @ 1.76 M → (3,2) 0.738 @ 2.66 M → (3,3) 0.810 @
    * 4.04 M. At EQUAL pair volume the symmetric config wins: (2,2)
    * 0.650 ≥ (4,1) 0.646 @ 1.75 M, and halving k is strictly worse
    * ((2,1) k=35 reads 0.530 @ 1.72 M). Marginal recall per pair drops
    * past (2,2) — +0.9 M pairs buys +0.152 up to it, +0.088 after —
    * so the default rides that knee. */
  def knnGraphOf(emb0: DataFrame, kNeighbors: Int = 5, k: Option[Int] = None,
      iters: Int = 5, multiAssign: Int = 2, candAssign: Int = 2): DataFrame = {
    // cut before the iterative quantizer: kmeans re-reads its input
    // once per round (the d61 un-cut-iterative-input lesson)
    val emb = emb0.select("vec_id", "embedding").localCheckpoint(false)
    val kk = k.getOrElse(adaptiveK(emb.count()))
    knnAgainstImpl(emb, kmeans(emb, kk, iters), kNeighbors, multiAssign,
      candAssign)
  }

  /** Frozen-centroid twin of [[knnGraphOf]]: the same IVF-blocked
    * neighbor table with EXTERNALLY supplied centroids — the batch
    * parity target for the streaming neighbor-log maintenance
    * ([[graft.streaming.EventStream.knnMaintainStream]]), same role
    * [[hardTripletsAgainst]] plays for d71. */
  def knnGraphAgainst(emb0: DataFrame, cents: DataFrame,
      kNeighbors: Int = 5, multiAssign: Int = 2): DataFrame =
    knnAgainstImpl(
      emb0.select("vec_id", "embedding").localCheckpoint(false),
      cents, kNeighbors, multiAssign)

  /** `candAssign` defaults to 1 here (candidates in their single
    * nearest bucket — the physical IVF index layout): knnGraphAgainst
    * is the batch parity target of [[graft.streaming.EventStream
    * .knnMaintainStream]], whose persisted index stores each vector
    * once. The registered d72 builds with candAssign from
    * [[knnGraphOf]] instead, where the candidate side is a plan-time
    * explode, not a store layout. */
  private def knnAgainstImpl(embCut: DataFrame, cents: DataFrame,
      kNeighbors: Int, multiAssign: Int, candAssign: Int = 1): DataFrame = {
    val emb = embCut.withColumn("nrm", norm(col("embedding")))
    val cs = centroidSetOf(cents)
    val anchors = explodeNearest(emb, cs, multiAssign, cosine = false,
        Seq("vec_id", "embedding", "nrm"))
      .select(col("vec_id").as("q_id"), col("embedding").as("v_a"),
        col("nrm").as("n_a"), col("nb.bucket").as("bucket"))
    val cands = explodeNearest(emb, cs, candAssign, cosine = false,
        Seq("vec_id", "embedding", "nrm"))
      .select(col("vec_id"), col("embedding").as("v_b"),
        col("nrm").as("n_b"), col("nb.bucket").as("bucket"))
    val scored = anchors.join(cands, Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      // multi-probe dedup: identical cos in every shared bucket
      .groupBy("q_id", "vec_id")
      .agg(max(col("cos")).as("cos"))
    topKExplode(scored, "cos", kNeighbors)
      .orderBy("q_id", "rk")
  }

  /** d74: ANN RECALL gauge — in-engine evaluation of the
    * bucket-blocked d72 neighbor table against the EXACT brute-force
    * top-k for a fixed query panel (the `panel` lowest vec_ids): per
    * query, how many of the exact top-k neighbors the IVF-blocked
    * graph found. The recall/probe-cost trade every ANN tier's
    * scaladoc cites (multiAssign, adaptiveK) becomes a per-corpus
    * measured number — the quality-side complement of the IvfDrift
    * gauge, runnable on any corpus without labels.
    *
    * Scale shape: the exact tier is |panel| × n through the d5
    * broadcast + bounded TopKByScore shape (panel is a constant —
    * never corpus²); the approx side slices the DirMemo-shared d72
    * cut; the comparison is one left join on (q_id, neighbor_id).
    *
    * Oracle parity: exact top-k CTE over pivot-exact cosines
    * (cos DESC, id ASC — bit-equal scores, strict total order) + the
    * shared d72 knn CTE; the intersection count and the
    * count/topK double division replay exactly. */
  def annRecall(s: SparkSession, d: String, panel: Int = 100,
      topK: Int = 5): DataFrame = {
    require(topK <= 5, "the memoized d72 table holds 5 neighbors")
    annRecallOf(Retrieval.denseEmbed(s, d).select("vec_id", "embedding"),
      knnTable(s, d), panel, topK)
  }

  /** Core of [[annRecall]] over explicit (vec_id, embedding) corpus
    * and (q_id, neighbor_id, …, rk) approximate-neighbor frames.
    * The panel is md5-ordered (the d26/d28 replayable-uniform
    * discipline, r20): the `panel` LOWEST ids would be a biased sample
    * wherever id order correlates with insertion order or content;
    * md5(id) order is a deterministic uniform draw that replays
    * verbatim in the oracle dialect. */
  def annRecallOf(emb: DataFrame, knn: DataFrame, panel: Int = 100,
      topK: Int = 5): DataFrame = {
    val qs = emb.orderBy(md5(col("vec_id").cast("string"))).limit(panel)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val exact = embedTopKAggOf(emb, qs, topK)
      .select("q_id", "neighbor_id")
    val approx = knn.filter(col("rk") <= topK)
      .select(col("q_id"), col("neighbor_id"), lit(1).as("hit"))
    exact.join(approx, Seq("q_id", "neighbor_id"), "left")
      .groupBy("q_id")
      .agg(count(col("hit")).as("n_hit"))
      .select(col("q_id"), col("n_hit"),
        (col("n_hit").cast("double") / lit(topK).cast("double")).as("recall"))
      .orderBy("q_id")
  }

  /** Read view over a streaming neighbor-candidate LOG (the
    * [[graft.streaming.EventStream.knnMaintainStream]] store): the
    * current per-anchor top-k. (q_id, vec_id) duplicates collapse via
    * max(cos) FIRST (scores for a pair are identical by construction —
    * frozen centroids, deterministic dot — so replay-appended rows
    * can't occupy two top-k slots), then the bounded TopKByScore pass.
    * Equals [[knnGraphAgainst]] over the same vectors and centroids
    * row-for-row — the spec-gated stream≡batch contract. */
  def knnFromLog(log: DataFrame, kNeighbors: Int = 5): DataFrame =
    topKExplode(
      log.select("q_id", "vec_id", "cos")
        .groupBy("q_id", "vec_id").agg(max(col("cos")).as("cos")),
      "cos", kNeighbors)
      .orderBy("q_id", "rk")

  /** Streaming d73: mutual-kNN clustering over the LIVE candidate log
    * — the incremental clustering hand-off. Because [[knnFromLog]] is
    * spec-equal to the [[knnGraphAgainst]] batch twin under any split
    * and replay, this is the one-line corollary: mutual edges +
    * component labels over the current view equal batch
    * [[mutualKnnOf]] over the same vectors and centroids row-for-row
    * (Round20Spec gates it under a 3-way split + replay). */
  def mutualKnnFromLog(log: DataFrame, kNeighbors: Int = 5,
      minCos: Double = 0.30): DataFrame =
    mutualKnnOf(knnFromLog(log, kNeighbors), minCos)

  /** Compact a knnMaintainStream candidate log down to the current
    * per-anchor top-k rows (the log otherwise grows by ≤k rows per
    * affected anchor per batch). Crash-safe WITHOUT markers or
    * renames, because the [[knnFromLog]] view collapses (q, cand)
    * duplicates and ignores beaten candidates: the protocol is
    * snapshot-files → append the top-k rows → delete the snapshot
    * files, and at EVERY crash point the surviving row set is
    * (top-k rows) ∪ (subset of old rows), whose view equals the
    * original exactly. Concurrent stream appends land in files
    * outside the snapshot and are never deleted.
    *
    * CONTRACT: the log is a FLAT directory of parquet files — exactly
    * what [[graft.streaming.EventStream.knnMaintainStream]] writes.
    * The snapshot listing skips subdirectories, so a hive-partitioned
    * log would silently compact nothing; the require below turns that
    * misuse into a loud error instead. */
  def compactKnnLog(s: SparkSession, logPath: String,
      kNeighbors: Int = 5): Unit = {
    val root = new org.apache.hadoop.fs.Path(logPath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val entries = fs.listStatus(root).toSeq
      .filter(st => !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
    require(!entries.exists(_.isDirectory),
      s"compactKnnLog expects a FLAT log directory (knnMaintainStream's " +
        s"layout); $logPath contains subdirectories — a partitioned " +
        s"store needs its own compactor")
    val old = entries.map(_.getPath)
    if (old.isEmpty) return
    // read EXACTLY the snapshot files; cut lineage before appending to
    // the same directory (the write must not re-list the input path)
    val topk = knnFromLog(
        s.read.parquet(old.map(_.toString): _*), kNeighbors)
      .select(col("q_id"), col("neighbor_id").as("vec_id"), col("cos"))
      .localCheckpoint(eager = true)
    topk.write.mode("append").parquet(logPath)
    topk.unpersist()
    old.foreach(fs.delete(_, false))
  }

  /** d73: MUTUAL-kNN graph + component labels — the clustering /
    * curriculum hand-off the d72 neighbor table exists for: keep the
    * undirected edge (a, b) iff EACH endpoint is in the other's top-k
    * AND the similarity clears `minCos` (the family's 0.30 near-dup
    * bar — mutuality alone still chains weak links on a near-random
    * corpus), then label the surviving graph with connected
    * components. One row per mutual edge: (id_a, id_b, cos,
    * cluster_id), cluster_id = component-minimum id on both ends.
    *
    * Scale shape: input is the d72 table (n·k rows, n^1.5 build), the
    * mutual check is ONE equi-self-join on (id_a, id_b) — no new pair
    * volume — and components go through connectedComponentsAuto
    * (driver union-find below the edge gate, barrier-free bounded
    * label propagation above it). The minCos prune bounds component
    * size by true similarity density, so the closure never inherits a
    * giant weak-link component.
    *
    * Oracle parity: the d72 knn CTE joined to itself on the swapped
    * key + the d45 reach-closure LEAST-label rule; cos is the d72
    * pivot-exact dot (bit-symmetric — products commute element-wise
    * and the accumulation order is the vector index both ways, so the
    * (a→b) score IS the (b→a) score). */
  def mutualKnn(s: SparkSession, d: String): DataFrame =
    mutualKnnOf(knnTable(s, d))

  /** Core of [[mutualKnn]] over any (q_id, neighbor_id, cos, rk)
    * neighbor table (d72 shape). */
  def mutualKnnOf(knn: DataFrame, minCos: Double = 0.30): DataFrame = {
    // one cut feeds both sides of the mutual self-join + the CC input
    // (the multi-consumed-frame rule)
    val k = knn.select("q_id", "neighbor_id", "cos")
      .filter(col("cos") >= minCos)
      .localCheckpoint(eager = false)
    val fwd = k.filter(col("q_id") < col("neighbor_id"))
      .select(col("q_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cos"))
    val rev = k.filter(col("q_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("id_a"), col("q_id").as("id_b"))
    val mutual = fwd.join(rev, Seq("id_a", "id_b"), "left_semi")
      .localCheckpoint(eager = false)
    val labels = graft.operators.Dedup
      .connectedComponentsAuto(mutual.select("id_a", "id_b"))
    mutual
      .join(labels.select(col("node").as("id_a"), col("cluster_id")), "id_a")
      .select(col("id_a"), col("id_b"), col("cos"), col("cluster_id"))
      .orderBy("id_a", "id_b")
  }

  /** Core over any (vec_id, embedding) frame — runs equally on the
    * pre-embedded `embeddings` table. Scale shape: kmeans is iters
    * narrow passes + a k×dim vector-sum shuffle each (centroids ride
    * the plan as a codegen'd constant, never a join side); the report
    * is one hash agg with a bounded TopKByScore(1) exemplar slot per
    * (cluster, partition) — no windows, no struct-min SortAggregate
    * over the corpus. */
  def topicClustersOf(emb0: DataFrame, k: Int = 16, iters: Int = 5): DataFrame = {
    // one lazy cut feeds the iters+1 k-means/assign passes — without it
    // the upstream plan (for d61: the dense collapse over the corpus)
    // re-executes once per iteration (measured 17 s → 5 s at the 10×
    // dir; the un-cut-iterative-input lesson)
    val emb = emb0.localCheckpoint(false)
    val cents = kmeans(emb, k, iters)
    assign(emb, cents)
      .groupBy(col("bucket").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.TopKAgg.topKByScore(
          struct(negate(col("d2")), col("vec_id")), 1).as("ex"))
      .select(col("cluster_id"), col("n_docs"),
        col("ex").getItem(0).getField("id").as("exemplar_id"),
        round(negate(col("ex").getItem(0).getField("score")), 6).as("exemplar_d2"))
      .orderBy("cluster_id")
  }
}
