package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Large-scale deduplication operators for training-data pipelines.
  *
  * Scale design: every near-dup variant is candidate-generation via an
  * equi-joinable bucket key (LSH band hash, simhash prefix, blocking
  * key) followed by pairwise verification *within* buckets — never an
  * O(n²) cross join. At 100 TB the bucket join shuffles on the band
  * hash; per-bucket pair counts stay bounded by construction.
  */
object Dedup {

  /** d41: exact substring dedup at ≥N tokens (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" —
    * their suffix-array ExactSubstr, re-expressed at N-gram resolution
    * as the scale-honest Spark shape): report every MAXIMAL token run
    * that also occurs elsewhere in the corpus (another doc OR another
    * offset of the same doc). A duplicated run of L ≥ N tokens is
    * exactly a maximal consecutive stretch of positions whose N-gram
    * occurs ≥ 2 times corpus-wide, so:
    *
    *   1. per-position N-gram xxhash64 ([[graft.functions.NgramHashes]]
    *      — only 8 bytes per position ever leave the scan),
    *   2. occurrence counts by gram hash (ONE map-side-combined
    *      shuffle), shared = count ≥ 2,
    *   3. join positions back on the hash (co-partitioned — the count
    *      and the join shuffle on the same key),
    *   4. per-doc merge of consecutive shared positions into maximal
    *      runs ([[graft.functions.IslandRuns]] — a tight loop over the
    *      doc's sorted positions, no window).
    *
    * Approximation vs a true suffix array (documented, standard for
    * distributed dedup): runs are N-gram-resolution (a duplicated run
    * shorter than N is invisible), adjacent positions shared with
    * DIFFERENT partners chain into one reported run, and two grams
    * colliding in 64-bit hash space could fuse groups (≪ 1e-8 at
    * corpus scale). Complements d40: fixed-boundary whole-span removal
    * there, arbitrary-offset duplicated-run DETECTION here (the report
    * a C4/RefinedWeb-style pipeline feeds into span clipping).
    *
    * Oracle-expressible: DuckDB mirrors it with a gaps-and-islands
    * window over the gram STRINGS (no hashing) — the Spark side stays
    * window-free, the oracle proves run-for-run equality.
    */
  def exactSubstrRuns(s: SparkSession, d: String, minTokens: Int = 20): DataFrame =
    exactSubstrRunsOf(Tables.documents(s, d), minTokens,
      posIn = if (minTokens == 20) Some(substrPosFrame(s, d)) else None)

  /** DirMemo shared cut of the (doc_id, pos, h) 20-gram hash posting
    * frame over the raw corpus — d41 AND d42 each consumed this
    * identical explode TWICE (the count aggregate + the join probe
    * side, un-cut), so the corpus gram-hash pass ran 4× per bench
    * pass; one lazily checkpointed build now feeds all four consumers
    * (r20; the d4-memo lesson at the posting level). */
  private def substrPosFrame(s: SparkSession, d: String): DataFrame =
    graft.ops.DirMemo.cached(s, d, "substrPos20") {
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(
          graft.functions.VectorExprs.ngramHashes(split(col("text"), " "), 20))
          .as(Seq("pos", "h")))
        .localCheckpoint(eager = false)
    }

  /** Core of [[exactSubstrRuns]] over an explicit (doc_id, text) frame.
    * `posIn` substitutes the (doc_id, pos, h) gram-hash explode (the
    * registered entry passes the shared [[substrPosFrame]] cut). */
  def exactSubstrRunsOf(docs: DataFrame, minTokens: Int,
      posIn: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorExprs
    val pos = posIn.getOrElse(docs
      .select(col("doc_id"), posexplode(
        VectorExprs.ngramHashes(split(col("text"), " "), minTokens))
        .as(Seq("pos", "h"))))
    val shared = pos.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    pos.join(shared, Seq("h"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"),
        explode(VectorExprs.islandRuns(col("ps"), minTokens)).as("run"))
      .select(col("doc_id"),
        col("run.start_tok").cast("long").as("start_tok"),
        col("run.n_tokens").cast("long").as("n_tokens"))
      .orderBy("doc_id", "start_tok")
  }

  /** d42: exact substring CLIP — the removal half of Lee et al. 2021
    * (their tool cuts every duplicated substring occurrence but one;
    * [[exactSubstrRuns]] only reports them). Keep-first at N-gram
    * granularity, the d40 discipline applied at arbitrary offsets:
    *
    *   - a shared gram occurrence (count ≥ 2) is KEPT iff it is the
    *     corpus-wide first occurrence of that gram (min packed
    *     (doc_id, pos) — same primitive group-min as d40, no window,
    *     no second pass),
    *   - every token covered by a NON-first shared occurrence is
    *     removed ([[graft.functions.IslandRuns]] merges removable
    *     positions, then the ranges explode to token indices),
    *   - documents rebuild from their kept tokens in order (splicing
    *     across cuts, exactly like the reference tools); docs whose
    *     every token was covered drop out.
    *
    * Deterministic corpus-order keep-first (documented approximation:
    * where a first-occurrence run overlaps a non-first run of a
    * DIFFERENT gram, the overlap tokens are removed — one occurrence
    * of every duplicated ≥N-token run survives at gram granularity,
    * possibly clipped at its edges). Scale shape: the d41 pipeline
    * plus one token-level anti-join — all hash-partitioned, nothing
    * pairwise, no window on the Spark side.
    */
  def exactSubstrClip(s: SparkSession, d: String, minTokens: Int = 20): DataFrame =
    exactSubstrClipOf(Tables.documents(s, d), minTokens,
      posIn = if (minTokens == 20) Some(substrPosFrame(s, d)) else None)

  /** Core of [[exactSubstrClip]] over an explicit (doc_id, text) frame.
    * `posIn` as in [[exactSubstrRunsOf]]. */
  def exactSubstrClipOf(docs: DataFrame, minTokens: Int,
      posIn: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorExprs
    val Pack = 1L << 20 // doc_id < 2^43, pos < 2^20; ANSI throws on violation
    val pos = posIn.getOrElse(docs
      .select(col("doc_id"), posexplode(
        VectorExprs.ngramHashes(split(col("text"), " "), minTokens))
        .as(Seq("pos", "h"))))
    val stats = pos.groupBy("h")
      .agg(count(lit(1)).as("c"),
        min(col("doc_id") * Pack + col("pos")).as("first_key"))
      .filter(col("c") >= 2)
      .select("h", "first_key")
    val removable = pos.join(stats, Seq("h"))
      .filter(col("doc_id") * Pack + col("pos") =!= col("first_key"))
    val removedToks = removable
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"),
        explode(VectorExprs.islandRuns(col("ps"), minTokens)).as("run"))
      .select(col("doc_id"), explode(
        expr("sequence(run.start_tok, run.start_tok + run.n_tokens - 1)")).as("tok"))
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("tok", "w")))
    val rebuilt = toks.join(removedToks, Seq("doc_id", "tok"), "left_anti")
      .groupBy("doc_id")
      .agg(expr("array_join(transform(sort_array(collect_list(struct(tok, w))), " +
          "x -> x.w), ' ')").as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"))
      .select(col("doc_id"), col("clean_text"), col("n_tokens"),
        (col("n_tokens") - col("n_kept")).as("n_removed"))
      .orderBy("doc_id")
  }

  /** d1: exact dedup by content hash, keep the smallest id per group. */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    exactDedupOf(Tables.documents(s, d))

  /** Core of [[exactDedup]] over any (doc_id, text) frame. */
  def exactDedupOf(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
      .orderBy("h")

  /** Word arrays per doc; shingling happens inside the fused
    * MinHashShingleSig expression (no shingle strings materialized). */
  private def wordArrays(s: SparkSession, d: String, k: Int): DataFrame = {
    val words = split(regexp_replace(lower(col("text")), "\\s+", " "), " ")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), words.as("ws"))
      .filter(size(col("ws")) >= k)
  }

  /** d2: MinHash + LSH banding near-duplicate candidate pairs.
    * 16 permutations, 4 bands × 4 rows: docs sharing any band bucket
    * become candidates; candidates are verified with the MinHash
    * jaccard estimate (signature agreement). Signature computed by the
    * custom MinHashSig Catalyst expression — one tight
    * O(shingles × perms) loop per row (the HOF formulation ran
    * interpreted and dominated the whole benchmark). Oracle-EXACT since
    * round 15: the DuckDB twin replays signatures (HUGEINT mod-2^64,
    * see SparkEntry.MinHashSigCte), the murmur3 band hashes (mod-2^32,
    * MinHashLshSql), the band-equality candidate join, and the
    * agreement estimate — hash collisions pair docs identically in
    * both dialects, so the whole pipeline is deterministic.
    */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshFromSigs(minhashSigFrame(s, d))

  /** DirMemo shared cut of the d2 (doc_id, sig) signature frame —
    * the identical longs d2 bands and d2_sigs emits row-exploded; one
    * tight MinHashShingleSig pass per (session, dir content) instead
    * of one per entry (r20; the d4-memo lesson). */
  private def minhashSigFrame(s: SparkSession, d: String): DataFrame =
    graft.ops.DirMemo.cached(s, d, "minhashSigs") {
      wordArrays(s, d, 3)
        .withColumn("sig",
          graft.functions.VectorExprs.minhashShingleSig(col("ws"), 3, 16))
        .select("doc_id", "sig")
        .localCheckpoint(eager = false)
    }

  /** [[minhashLsh]] over any (doc_id, text) frame (the SQL-surface
    * entry point): same tokenization and params as the registered d2. */
  def minhashLshOf(docs: DataFrame): DataFrame =
    minhashLshPairs(docs
      .select(col("doc_id"),
        split(regexp_replace(lower(col("text")), "\\s+", " "), " ").as("ws"))
      .filter(size(col("ws")) >= 3))

  /** d2_sigs: the raw MinHash signatures d2/d19/d22/d23 band — one
    * (doc_id, perm, sig_val) row per permutation, exactly the longs
    * MinHashShingleSig computes. This is the LSH family's anchor to the
    * DuckDB gate: the signature pipeline (xxhash64 word hashes → FNV
    * shingle fold → per-permutation fmix64 → signed min) is
    * deterministic integer arithmetic, replayed mod-2^64 in HUGEINT SQL
    * (SparkEntry's d2_sigs oracle). The full d2 pipeline (signatures →
    * banding → verify) replays hash-exact end to end since r15; only
    * candidate RECALL vs the exact pair set stays probabilistic, and
    * Round4Spec gates it per jaccard bucket. */
  def minhashSigs(s: SparkSession, d: String): DataFrame =
    minhashSigFrame(s, d)
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("perm", "sig_val")))
      .orderBy("doc_id", "perm")

  /** Core MinHash+LSH pipeline over any (doc_id, ws: array<string>)
    * frame — shared by the query entry and large-scale callers. */
  def minhashLshPairs(words: DataFrame): DataFrame =
    minhashLshFromSigs(words
      .withColumn("sig",
        graft.functions.VectorExprs.minhashShingleSig(col("ws"), 3, 16))
      .select("doc_id", "sig"))

  /** Banding + verification over a precomputed (doc_id, sig) frame —
    * the tail of [[minhashLshPairs]], split out so the registered d2
    * can slice the shared [[minhashSigFrame]] cut. */
  private def minhashLshFromSigs(docs: DataFrame): DataFrame = {
    val perms = 16
    val bands = 4
    val rows = perms / bands
    val banded = docs.select(col("doc_id"), col("sig"),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> hash(slice(sig, b * $rows + 1, $rows)))"))
        .as(Seq("band", "band_hash")))
    val a = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        // codegen'd positional agreement — the zip_with/filter HOF ran
        // interpreted per candidate pair (and size() counts nulls)
        graft.functions.VectorExprs.sigAgree(col("sig_a"), col("sig_b")).as("n_agree"))
      .groupBy("id_a", "id_b")
      .agg(max(col("n_agree")).as("n_agree"))
      .withColumn("est_jaccard", col("n_agree") / lit(16.0))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy("id_a", "id_b")
  }

  /** Per-doc 64-bit SimHash fingerprints over the distinct word set.
    * Custom SimHash64 Catalyst expression: per-word xxhash64, ±1 bit
    * votes, sign → fingerprint — one tight loop instead of a 64×words
    * interpreted HOF cascade.
    */
  def simhashFingerprints(s: SparkSession, d: String): DataFrame =
    simhashFingerprintsOf(Tables.documents(s, d))

  /** [[simhashFingerprints]] over any (doc_id, text) frame. */
  def simhashFingerprintsOf(docs: DataFrame): DataFrame = {
    val words = array_distinct(split(regexp_replace(lower(col("text")), "\\s+", " "), " "))
    docs
      .select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"), graft.functions.VectorExprs.simhash64(col("ws")).as("simhash"))
  }

  /** The d3 pipeline over any (doc_id, text) frame (the SQL-surface
    * entry point). */
  def simhashOf(docs: DataFrame): DataFrame =
    simhashPairs(simhashFingerprintsOf(docs))

  /** d3: SimHash near-dup PAIRS. 4 × 16-bit band buckets: two
    * fingerprints within Hamming distance ≤ 3 differ in at most 3 of the
    * 4 bands, so by pigeonhole they COLLIDE in at least one band —
    * banding is recall-lossless for the ≤ 3 threshold. Candidates from
    * the per-band equi-join are verified with the exact popcount
    * Hamming distance; pairs found in several bands dedupe via groupBy.
    * Output feeds [[connectedComponents]] → [[dedupedCorpus]].
    * Oracle-EXACT since round 15 (SparkEntry.SimHashSql replays the
    * fingerprints, the banding and the popcount verify in integer SQL);
    * the brute-force-Hamming pair-parity spec remains as the
    * recall-losslessness proof of the banding itself.
    */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashPairs(simhashFingerprints(s, d))

  /** Core band-join pipeline over any (doc_id, simhash) frame — shared
    * by the query entry and large-scale callers. Scale shape: one
    * shuffle on (band, bucket); within-bucket pair counts stay small
    * because a 16-bit band splits the corpus into 65k buckets per band
    * (and real near-dup corpora cluster tightly). */
  def simhashPairs(fps: DataFrame, maxHamming: Int = 3): DataFrame = {
    // lazy cut: both sides of the band self-join consume this frame,
    // and the rename-only alias difference defeats ReuseExchange —
    // un-cut, the doc scan + simhash64 fingerprint pass executed TWICE
    // (r21; the ngramJaccardViaLsh `banded` lesson applied to d3 —
    // plan: 2 parquet scans → 1)
    val banded = fps.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> shiftright(simhash, b * 16) & 65535)"))
        .as(Seq("band", "bucket")))
      .localCheckpoint(eager = false)
    val a = banded.select(col("band"), col("bucket"),
      col("doc_id").as("id_a"), col("simhash").as("h_a"))
    val b = banded.select(col("band"), col("bucket"),
      col("doc_id").as("id_b"), col("simhash").as("h_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("h_a"), col("h_b")).as("hd"))
      .filter(col("hd") <= maxHamming)
      .groupBy("id_a", "id_b")
      .agg(min(col("hd")).as("hd"))
      .orderBy("id_a", "id_b")
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Duplicate-cluster formation: connected components over a pair list
    * (id_a, id_b) — node → the smallest id of its component, one row per
    * node that occurs in a pair. This is how near-dup PAIRS
    * (MinHash/SimHash/jaccard output) become dedup GROUPS (keep one doc
    * per component) in a training-data pipeline.
    *
    * One lazy cut of the pairs and one count pick the path:
    *  - at most [[MaxDriverEdges]] edges with Long ids: one collect and
    *    an exact driver union-find. Near-dup pair graphs are bounded by
    *    true near-dup density, so they are usually tiny even when the
    *    corpus is not, and 8 scheduled label-propagation rounds on a
    *    thousand-edge graph cost ~3× the whole pipeline at bench scale.
    *  - above the gate, or for non-Long ids, the distributed
    *    [[propagateLabels]] loop.
    * Same labels either way. An empty pair list gives an empty frame
    * whose id types follow the pairs'.
    *
    * Driver-side memory at the gate: 2M collected edges is ~32 MB of raw
    * longs but several hundred MB of JVM objects (Row boxing, the
    * LongMap) — sized for a multi-GB driver heap, as Spark drivers
    * running 100 TB jobs have.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    // lazy cut + count in ONE action: an eager localCheckpoint runs its
    // own internal count() and discards the number, so eager-then-count
    // was two identical jobs per invocation (r21; every CC caller —
    // d20/d22/d23/d36 — pays this once per labeling)
    val cut = pairs.select("id_a", "id_b").localCheckpoint(eager = false)
    val n = cut.count()
    if (n == 0) {
      cut.unpersist()
      val t = undirected(cut).schema("src").dataType
      return s.emptyDataFrame
        .select(lit(0).cast(t).as("node"), lit(0).cast(t).as("cluster_id"))
    }
    val longIds = cut.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (n > MaxDriverEdges || !longIds) {
      // the loop materializes its own lineage cuts; release ours once
      // it returns or the block leaks per invocation
      val res = propagateLabels(cut)
      cut.unpersist()
      return res
    }
    // LongMap: unboxed keys — parent doubles as the node set (roots
    // self-map), halving the footprint vs Map + Set of boxed Longs
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    cut.collect().foreach { e =>
      val (a, b) = (e.getLong(0), e.getLong(1))
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    cut.unpersist()
    import s.implicits._
    parent.keys.toSeq.map(x => (x, find(x))).toDF("node", "cluster_id")
  }

  /** Edge count up to which [[connectedComponents]] labels on the driver. */
  private val MaxDriverEdges = 2000000L

  /** Both orientations of every pair, as (src, dst). */
  private def undirected(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))

  /** Distributed connected components by min-label propagation: each
    * node adopts the smallest label among itself and its neighbors until
    * fixpoint. Rounds run in batches of 8: each round's label frame is a
    * lazy graft.ops.Checkpoints.cut (the frame is read twice per round,
    * so an un-cut plan would double per round), and a batch ends with
    * one convergence count instead of a count per round. A batch whose
    * last round changed no label is the fixpoint; otherwise the next
    * batch continues from the reached labels over the original edges.
    * Near-dup clusters are low-diameter, so one batch is the norm; a
    * long chain takes ceil(diameter / 8) batches. No broadcast is forced
    * on the label join: above the driver gate the label frame can
    * outgrow one.
    *
    * Under an installed checkpoint dir the cuts are RELIABLE: still
    * materialized by the batch's single count, but an executor loss
    * replays from the checkpoint files instead of killing the job.
    */
  private[graft] def propagateLabels(pairs: DataFrame): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // With reliable cuts, a job commits only its TOPMOST
    // checkpoint-marked RDD unless that RDD was CREATED under
    // spark.checkpoint.checkpointAllMarkedAncestors=true (a thread-local
    // property each RDD reads once, at construction). Set it while the
    // loop builds its cuts, so each batch's count commits the edges and
    // every round, not only the last one.
    val ckptProp = "spark.checkpoint.checkpointAllMarkedAncestors"
    val prevProp = sc.getLocalProperty(ckptProp)
    val reliable = graft.ops.Checkpoints.reliable(sc)
    if (reliable) sc.setLocalProperty(ckptProp, "true")
    try {
      // edges feed every round's join AND the label init — without a
      // lineage cut the upstream pair-mining query would re-execute
      // once per round
      val edges = graft.ops.Checkpoints.cut(undirected(pairs).distinct(), eager = false)
      val idType = edges.schema("src").dataType
      var labels = edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      var changed = 1L
      while (changed > 0) {
        for (_ <- 1 to 8) {
          val neighborLabels = edges
            .join(labels.withColumnRenamed("node", "dst_n"), col("dst") === col("dst_n"))
            .select(col("src").as("node"), col("label"))
          // carry the previous label through the min-agg so convergence
          // is decided on the batch's last frame with one count
          labels = graft.ops.Checkpoints.cut(
            labels.select(col("node"), col("label"), col("label").as("old"))
              .union(neighborLabels.withColumn("old", lit(null).cast(idType)))
              .groupBy("node")
              .agg(min("label").as("label"), max("old").as("old")), eager = false)
        }
        changed = labels.filter(col("label") =!= col("old")).count()
        labels = labels.select("node", "label")
      }
      labels.withColumnRenamed("label", "cluster_id")
    } finally if (reliable) sc.setLocalProperty(ckptProp, prevProp)
  }

  /** d65: PageRank centrality over the exact near-dup pair graph —
    * link-analysis importance for dedup keep-policies and corpus
    * weighting (which copy of a duplicate family is the "canonical"
    * one: the most-connected). Semantics: the classic power iteration
    * r' = (1−β)/n + β·Σ_{u→v} r_u/deg_u with β = 0.85 over the
    * UNDIRECTED pair graph (both edge directions; nodes = docs in ≥1
    * pair, so deg ≥ 1 and there are no dangling nodes), a fixed 8
    * rounds from the uniform start.
    *
    * Determinism/oracle parity: ranks live as EXACT integer 1e-9
    * units (BIGINT) — r0 = 1e9 DIV n, contribution = r DIV deg,
    * update = 0.15e9 DIV n + (85·Σcontrib) DIV 100 — so every engine
    * computes bit-identical values with zero float ops anywhere (the
    * VectorSumAgg unit-arithmetic discipline applied to graph
    * iteration; sums of ≤1e9-unit masses never overflow 85·2^30 ≪
    * 2^63). The emitted double is the exact unit long × 1e-9 — one
    * rounding, same op both dialects.
    *
    * Computed as the unit-weight case of [[pageRankWeightedOf]]:
    * with w = 1 on every edge, W_u = deg_u and (r·1) DIV W_u is
    * r DIV deg_u, so the weighted loop's ranks are exactly these. */
  def pageRank(s: SparkSession, d: String): DataFrame =
    pageRankOf(ngramJaccard(s, d).select("id_a", "id_b"))

  /** Core of [[pageRank]] over an explicit (id_a, id_b) pair frame. */
  def pageRankOf(pairs: DataFrame, iters: Int = 8): DataFrame =
    pageRankWeightedOf(pairs.select(col("id_a"), col("id_b"), lit(1L).as("w_units")), iters)
      .select("node", "deg", "r_units", "pagerank")

  /** d69: WEIGHTED PageRank over the exact near-dup pair graph — the
    * canonical-copy keep-policy signal [[pageRank]]'s scaladoc
    * promises: contributions are proportional to edge jaccard, so the
    * "most central" copy of a duplicate family is the one most
    * STRONGLY tied to its neighbours, not merely the most-connected.
    * Semantics: r' = (1−β)/n + β·Σ_{u→v} r_u·w_uv/W_u with β = 0.85,
    * W_u = Σ_v w_uv, over the undirected pair graph.
    *
    * Determinism/oracle parity: the edge weight is the pair's jaccard
    * in EXACT integer 1e-6 units — w = (10^6·|A∩B|) DIV |A∪B|, both
    * operands exact integers from the d4 miner — and ranks stay in
    * integer 1e-9 units as in [[pageRankOf]], so the whole iteration
    * is zero-float and bit-identical cross-engine. Overflow headroom:
    * r ≤ ~1.15e9 units, w ≤ 1e6 ⇒ r·w ≤ ~1.2e15 ≪ 2^63.
    *
    * Convergence readout: each output row carries
    * delta_units = |r_iters − r_{iters−1}| — the per-node L1 step of
    * the final round. One agg over the result gives the global
    * convergence gauge without any in-loop driver action: the loop
    * itself stays barrier-free.
    *
    * Scale shape: the weight-annotated edge frame is built once and
    * lazily localCheckpointed (an un-cut loop would re-run the pair
    * miner every round); each round is ONE shuffle (edges ⋈ ranks on
    * src, groupBy dst) with a lazy per-round cut, and the node count
    * arrives as a broadcast one-row frame, so the loop runs no driver
    * action of its own. */
  def pageRankWeighted(s: SparkSession, d: String): DataFrame = {
    // exact per-doc distinct-token sizes, same tokenization as the d4
    // miner (split of lower(text) ≡ lower of split tokens for " ")
    val sizes = Tables.tokLong(s, d)
      .filter(col("w") =!= "")
      .select(col("doc_id"), lower(col("w")).as("w")).distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
      // consumed by BOTH join sides below — one cut, one distinct+agg
      // pass (the multi-consumed-frame rule; r20)
      .localCheckpoint(eager = false)
    val pairsW = ngramJaccard(s, d)
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        expr("(1000000L * n_inter) DIV (sz_a + sz_b - n_inter)").as("w_units"))
    pageRankWeightedOf(pairsW)
  }

  /** Core of [[pageRankWeighted]] over an explicit
    * (id_a, id_b, w_units) pair frame. Contract: w_units ≥ 1 (rows
    * below are dropped — a zero-weight edge would contribute nothing
    * but a zero W_u would divide by zero under ANSI). */
  def pageRankWeightedOf(pairsW: DataFrame, iters: Int = 8): DataFrame = {
    // filter ONCE into a lazily checkpointed frame: both orientation
    // projections consume it, so an un-cut filter would re-run the
    // upstream pairs⋈sizes join twice (the multi-consumed-frame rule)
    val f = pairsW.filter(col("w_units") >= 1)
      .select(col("id_a"), col("id_b"), col("w_units"))
      .localCheckpoint(eager = false)
    val edges = f
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("w_units"))
      .union(f
        .select(col("id_b").as("src"), col("id_a").as("dst"), col("w_units")))
      .localCheckpoint(eager = false)
    val wout = edges.groupBy("src")
      .agg(sum(col("w_units")).as("w_out"), count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    val edgesW = edges.join(wout.select(col("src"), col("w_out")), "src")
      .localCheckpoint(eager = false)
    val nn = broadcast(wout.agg(count(lit(1)).as("n")))
    var ranks = wout.crossJoin(nn)
      .select(col("src").as("node"), expr("1000000000L DIV n").as("r"))
      .localCheckpoint(eager = false)
    var prev = ranks
    for (_ <- 1 to iters) {
      prev = ranks
      ranks = edgesW
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("(r * w_units) DIV w_out").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("sc"))
        .crossJoin(nn)
        .select(col("dst").as("node"),
          expr("150000000L DIV n + (85L * sc) DIV 100L").as("r"))
        .localCheckpoint(eager = false)
    }
    ranks
      .join(prev.select(col("node").as("pnode"), col("r").as("r_prev")),
        col("node") === col("pnode"))
      .join(wout, col("node") === col("src"))
      .select(col("node"), col("deg"), col("w_out").as("w_out_units"),
        col("r").as("r_units"),
        (col("r").cast("double") * lit(1e-9)).as("pagerank"),
        abs(col("r") - col("r_prev")).as("delta_units"))
      .orderBy("node")
  }

  /** d67: winnowing fingerprint overlap (Schleimer, Wilkerson & Aiken
    * 2003 — the MOSS local-fingerprinting scheme, public): each doc
    * keeps the window-minimum of every `w`-window over its k-gram
    * xxhash64 stream ([[graft.functions.WinnowSelect]]) — ~2/(w+1) of
    * the grams, with the GUARANTEE that any shared token run of
    * ≥ w+k−1 tokens produces a shared fingerprint. Pairs sharing
    * ≥ `minShared` fingerprints are reported with a winnowed
    * resemblance estimate — the position-robust overlap detector that
    * catches long shared passages the d2/d19 whole-doc MinHash dilutes
    * away and d41's exact-gram islands pay a full posting join for.
    *
    * Scale shape: fingerprint selection is ONE narrow map pass (tight
    * loop per row, no explode/window/shuffle); the overlap join moves
    * only the winnowed ~22% of gram postings, blocked on
    * (lang, source) like the rest of the dedup family. Oracle: gram
    * hashes replay via the general-length xxh64 chain, window minima
    * via per-start MIN(STRUCT(hash, pos)) on SIGNED hashes (the
    * MinHash sign lesson), identical joins.
    *
    * The registered entry plants shared passages first
    * ([[plantPassages]]): the synthetic corpus is word-SET near-dup
    * dense but shares almost no CONTIGUOUS runs (3 natural pairs at
    * sf0.1) — without the plant, winnowing is a no-op demo (the
    * d26/d27 lesson). */
  def winnowOverlap(s: SparkSession, d: String): DataFrame =
    winnowOverlapOf(plantPassages(Tables.documents(s, d)))

  /** Deterministic shared-passage plant (mirrored in the oracle SQL):
    * docs with doc_id % 4 == 0 append a 24-token passage keyed by
    * (source, lang, doc_id DIV 2048) — same-key docs are block-join-
    * compatible by construction and share a ≥ w+k−1 = 11-token run
    * (24 tokens ⇒ two disjoint 11-token stretches ⇒ ≥2 distinct
    * shared fingerprints, clearing minShared). The id-bucket key
    * keeps per-cell population CONSTANT as the corpus grows, so
    * planted pair volume is LINEAR in corpus size — a fixed family
    * count would grow it quadratically and make the entry
    * output-bound at 10× (the unblocked-near-dup-miner trap). */
  def plantPassages(docs: DataFrame): DataFrame =
    docs.withColumn("text", expr(
      """CASE WHEN doc_id % 4 = 0 THEN concat(text, ' ',
        |  array_join(transform(sequence(1, 24),
        |    i -> concat('p', source, lang, cast(doc_id div 2048 as string),
        |                'w', cast(i as string))), ' '))
        |ELSE text END""".stripMargin))

  /** Core of [[winnowOverlap]] over an explicit (doc_id, text, lang,
    * source) frame. */
  def winnowOverlapOf(docs: DataFrame, k: Int = 4, w: Int = 8,
      minShared: Int = 2): DataFrame = {
    val fps = docs
      .select(col("doc_id"), col("lang"), col("source"),
        graft.functions.VectorExprs.winnowSelect(
          graft.functions.VectorExprs.ngramHashes(
            split(lower(col("text")), " "), k), w).as("fp"))
      .filter(size(col("fp")) > 0)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(col("fp"))).as("h"))
      // feeds sizes + BOTH sides of the overlap self-join: one cut,
      // one fingerprint pass
      .localCheckpoint(eager = false)
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    // SHARED-fingerprint prune before any pairwise work (the d41
    // count≥2 discipline): a map-side-combined count finds the
    // fingerprints held by ≥2 docs in a block — in any non-degenerate
    // corpus that's the overlap-dense sliver — and only THOSE postings
    // enter the self-join (typically broadcast-sized; AQE falls back
    // to a shuffle join if a pathological corpus makes them big).
    // vs self-joining the full posting table: both join sides shipped
    // all ~27 fingerprints/doc through SMJ sorts where ~99.9% of
    // postings can never pair. Interleaved A/B on 2M synthetic long
    // docs: 1.7x faster (103 vs 175 s contended; parity at
    // 1M where the join fits comfortably). A collect_list posting-list
    // formulation was also measured and REJECTED: 27M near-singleton
    // groups force ObjectHashAggregate and it lost to both shapes.
    val shared = fps.groupBy("lang", "source", "h")
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select("lang", "source", "h")
    val hot = fps.join(shared, Seq("lang", "source", "h"))
      .localCheckpoint(eager = false)
    val inter = hot.as("a").join(hot.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("n_fp").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_fp").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared"))).as("resemblance"))
      .orderBy("id_a", "id_b")
  }

  /** End-to-end dedup: near-dup pairs → components → keep the smallest
    * doc_id per cluster → the deduplicated corpus (non-clustered docs
    * pass through). The complete keep-policy a training-data pipeline
    * ships.
    */
  def dedupedCorpus(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs.select("id_a", "id_b"))
    val drop = cc.filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("doc_id"))
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Exact size-band boundaries: `bandBounds(k)` = ceil((5/4)^k) = the
    * smallest integer size with band ≥ k, computed with BigInt so the
    * band function below is EXACT integer arithmetic — no FP log can
    * push a legitimate 4:5-ratio pair two bands apart. ~196 entries
    * cover every long size up to 2^61.
    */
  private[operators] lazy val bandBounds: Array[Long] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    var num = BigInt(1)
    var den = BigInt(1)
    var bound = BigInt(1)
    val cap = BigInt(Long.MaxValue) / 4
    while (bound <= cap) {
      buf += bound.toLong
      num *= 5
      den *= 4
      bound = (num + den - 1) / den // ceil(5^k / 4^k)
    }
    buf.toArray
  }

  /** Exact `floor(log_1.25(sz))` for an integer-size column: an FP log
    * estimate (always within ±1 of the true band) corrected against the
    * exact integer boundaries. Deterministic — the ±1 band explode in
    * [[ngramJaccard]] provably covers every pair at size ratio ≤ 5/4.
    */
  private[operators] def exactSizeBand(sz: Column): Column = {
    val n = bandBounds.length
    val g = least(greatest(
      floor(log(greatest(sz, lit(1L)).cast("double")) / math.log(1.25)),
      lit(0L)), lit((n - 2).toLong))
    // element_at is 1-indexed: bounds(g) = element_at(_, g+1)
    val atG = element_at(lit(bandBounds), (g + 1).cast("int"))
    val atG1 = element_at(lit(bandBounds), (g + 2).cast("int"))
    // final clamp to ≥ 0 keeps the contract total over sz = 0 (the FP
    // path clamps via greatest(sz,1) but the integer correction compares
    // raw sz, so bounds(0)=1 > 0 would yield band −1 for empty docs)
    greatest(when(atG1 <= sz, g + 1).when(atG > sz, g - 1).otherwise(g), lit(0L))
  }

  /** d4: word-1-gram Jaccard over blocked candidate pairs.
    * Blocking key = (lang, source): pairwise work bounded per block (the
    * reference's per-(CP,Expiry) pairing has the same shape). Exact
    * integer set sizes → deterministic; DuckDB-verifiable.
    */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    // One distinct-token ARRAY per doc (sorted for determinism), pair
    // docs within the (lang, source) block, intersect arrays in-pair.
    // vs the explode+word-equi-join+count formulation: no 250×-row
    // explode shuffle, no giant per-word pair blowup — the join moves
    // one row per doc and intersection stays a codegen'd array op.
    //
    // A size band is part of the JOIN key: jaccard ≥ 0.8 forces
    // |set| ratio ≥ 4/5, i.e. bands floor(log_1.25 sz) differ by at
    // most 1. The a-side explodes to {band−1, band, band+1} (constant
    // 3×) and every qualifying pair lands in exactly one band (the
    // b-side's own) — pre-join pruning that keeps block populations
    // bounded by the size distribution instead of the (lang, source)
    // roster. Bands come from exactSizeBand (integer-exact), so the ±1
    // explode PROVABLY covers pairs at the exact 4:5 boundary ratio —
    // a raw FP floor(log/log1.25) could misround each side by one and
    // silently drop such a pair.
    // DirMemo-keyed shared cut: SIX registered entries consume this
    // exact pair frame (d4 itself, d20 clusters, d35 split leakage,
    // d65/d69 pagerank, d70 triplets) — without the memo each one
    // re-ran the full miner per bench pass. The frame is
    // deterministic (plan-constant vocab, exact integer verify), the
    // lazy localCheckpoint fills at the first consumer's action, and
    // DirMemo re-fingerprints the dir so a regenerated corpus
    // invalidates the cut.
    graft.ops.DirMemo.cached(s, d, "d4pairs") {
      ngramJaccardOf(Tables.documents(s, d)).localCheckpoint(eager = false)
    }
  }

  /** Core of [[ngramJaccard]]. Adaptive token representation, three
    * tiers, byte-identical output:
    *
    *  - vocab ≤ `vocabCap` distinct words: each doc's token set becomes
    *    a fixed-width BITSET against a driver-collected plan-constant
    *    dictionary (TokenBitset) — the candidate join moves ceil(V/64)
    *    longs per doc instead of the token strings and the per-pair
    *    exact intersection is AND+popcount (BitsetIntersect). Measured
    *    10×-dir latency for the d4/d20/d35 family dropped ~5× when this
    *    landed (8.5 M surviving candidates each paid string-array
    *    materialization + hashing on the string path).
    *  - open vocabulary (`hashedBits` > 0, the default): token sets
    *    become fixed `hashedBits`-bit HASHED bitsets
    *    ([[graft.functions.HashBitset]] — no dictionary, no cap).
    *    popcount(AND) lower-bounds within (sz − m) of the true
    *    intersection m, so the ib ≥ bits − sz + ⌈4(sz_a+sz_b)/9⌉
    *    two-sided test below is a SOUND j ≥ 0.8 prune; survivors (true
    *    pairs + hash-collision false positives) join BACK to the token
    *    strings for the exact HashSet verify. AND/popcount speed at any
    *    vocabulary — the former >vocabCap cliff (string arrays shipped
    *    through the banded join, the shape behind the 241.9 s 10× wall)
    *    is gone.
    *  - `hashedBits` == 0: the plain string-array path, kept as the
    *    parity reference for both bitset tiers (Round11cSpec). */
  private[graft] def ngramJaccardOf(docs: DataFrame,
      vocabCap: Int = 1024, hashedBits: Int = 4096): DataFrame = {
    // One materialization feeds the vocab probe AND the pair join
    // (lazy local checkpoint fills at the probe's collect): TokenBitset
    // hard-throws on a token the probe never saw, so probe and main
    // query must see the SAME rows even for a non-deterministic input
    // frame — and the tokenization pass runs once instead of twice.
    val toksRaw = docs
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(array_remove(split(lower(col("text")), " "), "")).as("ws"))
      .withColumn("sz", size(col("ws")).cast("long"))
      .withColumn("band", exactSizeBand(col("sz")))
      .localCheckpoint(false)
    // bounded driver pull: at most vocabCap+1 sorted words decide the path
    val vocabWords = toksRaw.select(explode(col("ws")).as("w")).distinct()
      .orderBy("w").limit(vocabCap + 1).collect().map(_.getString(0))

    // Banded self-join: size band is part of the JOIN key (see
    // ngramJaccard's scaladoc) and the precise integer 4:5 size-ratio
    // test prunes before any per-pair set work. `payload` is the
    // per-doc representation the pair predicate needs (bitset or
    // strings), suffixed _a/_b.
    def banded(toks: DataFrame, payload: Seq[String]): DataFrame = {
      val a = toks.select(Seq(col("lang"), col("source"), col("doc_id").as("id_a"),
        col("sz").as("sz_a")) ++ payload.map(c => col(c).as(c + "_a")) :+
        explode(array(col("band") - 1, col("band"), col("band") + 1)).as("band"): _*)
      val b = toks.select(Seq(col("lang"), col("source"), col("band"),
        col("doc_id").as("id_b"), col("sz").as("sz_b")) ++
        payload.map(c => col(c).as(c + "_b")): _*)
      a.join(b, Seq("lang", "source", "band"))
        // exact size-ratio prune: jaccard >= 0.8 requires 5*min >= 4*max
        // (bands are coarse; this is the precise integer test)
        .filter(col("id_a") < col("id_b") &&
          col("sz_a") * 5 >= col("sz_b") * 4 && col("sz_b") * 5 >= col("sz_a") * 4)
    }
    def finish(withInter: DataFrame): DataFrame = withInter
      .filter(col("n_inter") > 0)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("sz_a") + col("sz_b") - col("n_inter")))
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b", "n_inter", "jaccard")
      .orderBy("id_a", "id_b")

    if (vocabWords.length <= vocabCap && vocabWords.nonEmpty) {
      val vocab = new graft.functions.TokenVocab(vocabWords)
      val toks = toksRaw.withColumn("bs",
        graft.functions.VectorExprs.tokenBitset(col("ws"), vocab))
        .drop("ws")
      finish(banded(toks, Seq("bs")).withColumn("n_inter",
        graft.functions.VectorExprs.bitsetIntersect(col("bs_a"), col("bs_b"))))
    } else if (hashedBits > 0) {
      val toks = toksRaw
        .withColumn("sig", graft.functions.VectorExprs.hashBitset(col("ws"), hashedBits))
        // per-doc set-bit count = popcount(sig AND sig)
        .withColumn("bits", graft.functions.VectorExprs.bitsetIntersect(col("sig"), col("sig")))
        .drop("ws")
      // m_min = ceil(4(sz_a+sz_b)/9): j = m/(sa+sb-m) >= 0.8 ⇔ 9m >= 4(sa+sb).
      // Integer-exact via floor((4s+8)/9): the double division can only
      // land on an integer boundary when 9 | (4s+8), where the exact
      // quotient is representable and IEEE division returns it.
      val mMin = floor(((col("sz_a") + col("sz_b")) * 4 + 8) / 9.0)
      val cand = banded(toks, Seq("sig", "bits"))
        .withColumn("ib",
          graft.functions.VectorExprs.bitsetIntersect(col("sig_a"), col("sig_b")))
        // SOUND prune (HashBitset scaladoc): a true j>=0.8 pair has
        // ib >= bits_x - (sz_x - m) >= bits_x - sz_x + m_min on BOTH sides
        .filter(col("ib") >= col("bits_a") - col("sz_a") + mMin &&
          col("ib") >= col("bits_b") - col("sz_b") + mMin)
        .select("id_a", "id_b", "sz_a", "sz_b")
      // exact verify: only survivors fetch token strings (two equi-joins
      // on doc_id — candidate volume is bounded by true near-dup density
      // plus the hash-collision false-positive rate, never corpus²)
      val strs = toksRaw.select(col("doc_id"), col("ws"))
      finish(cand
        .join(strs.select(col("doc_id").as("id_a"), col("ws").as("ws_a")), "id_a")
        .join(strs.select(col("doc_id").as("id_b"), col("ws").as("ws_b")), "id_b")
        .withColumn("n_inter",
          graft.functions.VectorExprs.intersectCount(col("ws_a"), col("ws_b"))))
    } else {
      finish(banded(toksRaw, Seq("ws")).withColumn("n_inter",
        graft.functions.VectorExprs.intersectCount(col("ws_a"), col("ws_b"))))
    }
  }

  /** d62: asymmetric word-set CONTAINMENT C(A→B) = |A∩B| / |A| — the
    * quote/subset near-dup measure jaccard can't see: a short doc fully
    * embedded in a long one has tiny jaccard (|A∩B|/|A∪B| shrinks with
    * |B|) but containment ≈ 1. Broder's second resemblance measure;
    * the dedup family's directed complement to d4.
    *
    * Candidate generation is an EXACT prefix filter (the SSJoin /
    * PPJoin family), not banding: a size band can't prune containment
    * (a 20-word quote can live inside a 5 000-word doc — the 4:5 band
    * ratio argument only holds for symmetric jaccard). Instead: order
    * each doc's tokens by ascending global document frequency; if B
    * contains ≥ ⌈t·|A|⌉ of A's tokens it misses at most
    * p−1 = |A| − ⌈t·|A|⌉ of them, so ANY p tokens of A include one in
    * B — in particular the p RAREST, whose posting lists are the
    * shortest. The candidate join is then equi on (lang, source,
    * token) between A-prefixes and the full posting table: candidate
    * volume is Σ_w |prefix_a(w)|·|postings(w)| over rare words only —
    * bounded by df skew, never block². Survivors verify with the exact
    * integer intersection; the t-threshold test is integer
    * (n_inter·10 ≥ sz_a·9), no FP boundary.
    *
    * Scale shape: one token-df shuffle, one (df ⋈ tokens) shuffle, one
    * posting equi-join, two id equi-joins for verify — all key
    * shuffles, no window, no cartesian. The same plan at 1000
    * executors partitions by token then by doc_id.
    */
  /** Per-(session, sf-dir) memo of the corpus containment pairs,
    * lazily localCheckpointed: whichever of d62/d63 runs first pays the
    * tokenize+prefix+verify shuffles once (the d44/d52 count-table
    * discipline, content-fingerprinted via [[graft.ops.DirMemo]] so a
    * regenerated dir rebuilds). The *Of core stays pure. */
  private def containPairs(s: SparkSession, d: String): DataFrame =
    graft.ops.DirMemo.cached(s, d, "containPairs") {
      containmentOf(Tables.documents(s, d)).localCheckpoint(false)
    }

  def containment(s: SparkSession, d: String): DataFrame =
    containPairs(s, d).orderBy("id_a", "id_b")

  /** Core of [[containment]]; threshold t = tNum/tDen (default 9/10).
    * Output: directed (id_a, id_b, n_inter, containment) with
    * containment = n_inter/sz_a ≥ t, id_a ≠ id_b, both directions
    * possible, blocked on `blockCols` ((lang, source) like d4 by
    * default; empty = one corpus-wide block — sound at any scale, but
    * posting lists then bound only by the GLOBAL df tail). */
  private[graft] def containmentOf(docs: DataFrame,
      tNum: Int = 9, tDen: Int = 10,
      blockCols: Seq[String] = Seq("lang", "source")): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen outside (0,1]")
    val bc = blockCols.map(col)
    // one tokenization feeds the df pass, the prefix pass and the
    // verify joins (lazy checkpoint fills at first use)
    val toks = docs
      .select((col("doc_id") +: bc) :+
        array_distinct(array_remove(split(lower(col("text")), " "), "")).as("ws"): _*)
      .withColumn("sz", size(col("ws")).cast("long"))
      .localCheckpoint(false)
    val tokLong = toks.select((col("doc_id") +: bc) ++ Seq(
      col("sz"), explode(col("ws")).as("w")): _*)
    val dfreq = tokLong.groupBy("w").agg(count(lit(1)).as("df"))

    // per-doc prefix: the p = sz − ⌈t·sz⌉ + 1 globally-rarest tokens
    // ((df, w) struct sort is a deterministic total order per doc).
    // ⌈t·sz⌉ = floor((tNum·sz + tDen − 1) / tDen), integer-exact.
    val need = floor((col("sz") * tNum + (tDen - 1)) / lit(tDen.toDouble)).cast("long")
    val prefixes = tokLong.join(dfreq, "w")
      .groupBy((("doc_id" +: blockCols) :+ "sz").map(col): _*)
      .agg(sort_array(collect_list(struct(col("df"), col("w")))).as("byRarity"))
      .select((col("doc_id") +: bc) ++ Seq(col("sz"),
        expr("transform(byRarity, x -> x.w)").as("sorted")): _*)
      .withColumn("pre", slice(col("sorted"), lit(1), (col("sz") - need + 1).cast("int")))

    val aSide = prefixes.select(bc ++ Seq(
      col("doc_id").as("id_a"), col("sz").as("sz_a"), explode(col("pre")).as("w")): _*)
    val bSide = tokLong.select(bc ++ Seq(col("w"),
      col("doc_id").as("id_b"), col("sz").as("sz_b")): _*)
    val cands = aSide.join(bSide, blockCols :+ "w")
      // n_inter ≤ sz_b, so C ≥ t needs sz_b·tDen ≥ sz_a·tNum — prune
      // before the distinct (redundant with the final test, cheap here)
      .filter(col("id_a") =!= col("id_b") &&
        col("sz_b") * tDen >= col("sz_a") * tNum)
      .select("id_a", "id_b", "sz_a").distinct()

    val strs = toks.select(col("doc_id"), col("ws"))
    cands
      .join(strs.select(col("doc_id").as("id_a"), col("ws").as("ws_a")), "id_a")
      .join(strs.select(col("doc_id").as("id_b"), col("ws").as("ws_b")), "id_b")
      .withColumn("n_inter",
        graft.functions.VectorExprs.intersectCount(col("ws_a"), col("ws_b")))
      .filter(col("n_inter") * tDen >= col("sz_a") * tNum)
      .withColumn("containment", col("n_inter").cast("double") / col("sz_a"))
      .select("id_a", "id_b", "n_inter", "containment")
      .orderBy("id_a", "id_b")
  }

  /** d63: subset pruning — the curation op [[containment]] exists for:
    * drop every doc whose word set is ≥ 0.9-contained in a LARGER
    * surviving context (quotes, excerpts, truncated re-crawls — the
    * near-dup family jaccard can't see). Drop rule: doc a is dropped
    * iff some containment pair a→b has (sz_b, b) > (sz_a, a) in the
    * (size, doc_id) total order — the bigger doc absorbs the smaller;
    * exact-dup sets (mutual containment at equal size) keep their
    * smallest doc_id, matching d1/d22's keep-min convention. The rule
    * is one ANTI-JOIN over the d62 pair set (no iteration: absorption
    * needs no transitivity because the keeper ordering is total — the
    * maximal element of any containment chain survives by
    * construction).
    */
  // shuffle_hash on the drop-id side: an anti-join against an id list
  // should never SORT the corpus side (SMJ would); the id list hashes
  // per partition at any scale (broadcast would cap it)
  def subsetPrune(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.join(subsetDrops(docs, containPairs(s, d)).hint("shuffle_hash"),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Core of [[subsetPrune]] over an explicit frame (not memoized). */
  private[graft] def subsetPruneOf(docs: DataFrame): DataFrame =
    docs.join(subsetDrops(docs, containmentOf(docs)).hint("shuffle_hash"),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Drop ids under the (size, doc_id) keeper order: doc a drops iff
    * some containment pair a→b has a LARGER keeper ((sz, id) total
    * order — chain absorption needs no transitivity). Returns a
    * (doc_id) frame; `docs` only supplies the distinct-word sizes. */
  private[graft] def subsetDrops(docs: DataFrame, contained: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        array_distinct(array_remove(split(lower(col("text")), " "), "")).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("sz"))
    contained
      .join(toks.select(col("doc_id").as("id_a"), col("sz").as("sz_a2")), "id_a")
      .join(toks.select(col("doc_id").as("id_b"), col("sz").as("sz_b2")), "id_b")
      .filter(col("sz_b2") > col("sz_a2") ||
        (col("sz_b2") === col("sz_a2") && col("id_b") < col("id_a")))
      .select(col("id_a").as("doc_id")).distinct()
  }

  /** Scale-safe n-gram Jaccard: candidate pairs from MinHash-LSH banding
    * (bounded by construction — pair count grows with TRUE near-dup
    * density, not corpus size), verified with the exact word-set
    * jaccard. This is how [[ngramJaccard]]'s semantics survive 100 TB:
    * the (lang, source) blocking there bounds per-pair cost but not pair
    * COUNT (O(10) blocks ⇒ quadratic block population); composing d2's
    * LSH candidates with d4's exact verify bounds both. Recall is the
    * LSH capture probability 1-(1-j⁴)⁴ (≈ 0.98 at j = 0.9, ≈ 0.88 at
    * j = 0.8) — the standard trade documented for near-dup mining.
    * Measured against d4's exact pairs (Round4Spec gate, per 0.05-wide
    * jaccard bucket, bound evaluated at the bucket's lower edge):
    * sf0.01 — [0.80) 0.944 vs 0.879, [0.85) 0.980 vs 0.948,
    * [0.90) 1.000 vs 0.986, [0.95+) 1.000; sf0.1 — [0.80) 0.938 vs
    * 0.879, [0.85) 0.981 vs 0.948, [0.90) 0.998 vs 0.986, [0.95+)
    * 1.000. Meeting the independent-permutation bound required full
    * fmix64 avalanche per MinHash permutation (see MinHashShingleSig) —
    * bare affine mixes of one base hash correlate the bands and land
    * ~3-5 points BELOW the bound.
    *
    * @param blockCols optional blocking attributes (e.g. lang, source):
    *   when set, candidates must also agree on them — the LSH twin of
    *   [[ngramJaccard]]'s block key, enforced IN the band join so
    *   cross-block collisions are pruned before any verification. The
    *   registered d19 entry blocks on (lang, source) to target exactly
    *   d4's pair semantics (the sf0.1 corpus is ~21% near-dup dense
    *   corpus-wide: unblocked it emits 2.7M true pairs — correct but
    *   output-bound).
    * @return (id_a, id_b, n_inter, jaccard) exactly like ngramJaccard,
    *         restricted to LSH-captured candidates.
    */
  /** d22: the composed scale-dedup pipeline — the end-to-end path a
    * 100 TB training corpus takes, as ONE gated entry:
    * LSH candidate pairs verified with the exact word-set jaccard
    * ([[ngramJaccardViaLsh]], pair count bounded by true near-dup
    * density, never O(n²)) → duplicate clusters via
    * [[connectedComponents]] →
    * keep the smallest doc_id per cluster ([[dedupedCorpus]]).
    * Reference analog: the staging → anti-join-vs-historic → insert
    * dedup loop (/root/reference/sql/opt.sql:347-391) run as one batch.
    *
    * Oracle-EXACT since round 15: LSH capture is DETERMINISTIC (fixed
    * permutations), so the kept set IS SQL-derivable — the DuckDB twin
    * replays the d19 pair CTE and a recursive transitive closure
    * (SparkEntry's d22 oracle). Recall vs the EXACT pair set stays
    * probabilistic, which is what Round4Spec still gates: (a) the drop
    * set is a SUBSET of the exact pipeline's (LSH pairs ⊆ exact pairs ⇒
    * LSH components refine exact components ⇒ a non-min node in an LSH
    * cluster is non-min in its exact cluster) and (b) drop-recall vs
    * the exact pipeline is high.
    */
  def dedupPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // slice the d19/d75 shared [[jaccardLsh]] memo instead of re-mining
    // the identical blocked-LSH pair frame per invocation (r20: the
    // d4-memo lesson applied to d22's own front end — same function,
    // same (lang, source) blocking, same raw-documents input, so the
    // pair set is bit-identical)
    val pairs = jaccardLsh(s, d).select("id_a", "id_b")
    dedupedCorpus(docs, pairs)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** DirMemo-keyed shared cut of the registered d19 blocked-LSH pair
    * frame ((lang, source) blocking over the raw documents): d19
    * itself and d75 (the LSH recall gauge) slice it — the d4-memo
    * lesson. Deterministic (fixed permutations, exact verify). */
  def jaccardLsh(s: SparkSession, d: String): DataFrame =
    graft.ops.DirMemo.cached(s, d, "lshPairs") {
      ngramJaccardViaLsh(Tables.documents(s, d),
        blockCols = Seq("lang", "source")).localCheckpoint(eager = false)
    }

  /** d75: LSH-capture RECALL gauge — in-engine evaluation of the d19
    * banding against the exact d4 pair set, per fine jaccard band
    * (floor(j·20): 16..20 over the ≥0.8 miners): how many true
    * near-dup pairs the 16-band MinHash capture actually caught, as
    * data instead of a spec assertion. The curation-quality readout a
    * production dedup deployment watches when tuning bands/rows — the
    * pair-level complement of d74's ANN recall gauge (Round4Spec's
    * per-bucket recall bound stays the spec gate; this makes the
    * number per-corpus and per-band).
    *
    * Scale shape: both inputs are the DirMemo shared cuts (d4 exact
    * pairs, d19 LSH pairs — near-dup-density-bounded, never corpus²);
    * the gauge itself is one equi left join + a ≤5-group aggregate.
    *
    * Oracle parity: the d4 blocked-exact CTE + the d19 lshpairs CTE
    * joined on the pair key; the band is FLOOR(jaccard·20) of the
    * SAME double both engines compute from integer inputs (one IEEE
    * division + multiply — identical formula, identical result), and
    * recall is a CAST/CAST count division. */
  def lshRecall(s: SparkSession, d: String): DataFrame =
    lshRecallOf(ngramJaccard(s, d), jaccardLsh(s, d))

  /** Core of [[lshRecall]] over explicit exact / LSH pair frames
    * (both (id_a, id_b, …, jaccard)-shaped, pairs unique). */
  def lshRecallOf(exact: DataFrame, lsh: DataFrame): DataFrame =
    exact.select(col("id_a"), col("id_b"), col("jaccard"))
      .join(lsh.select(col("id_a"), col("id_b"), lit(1).as("hit")),
        Seq("id_a", "id_b"), "left")
      .groupBy(floor(col("jaccard") * lit(20)).cast("int").as("band"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_caught"))
      .select(col("band"), col("n_exact"), col("n_caught"),
        (col("n_caught").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy("band")

  def ngramJaccardViaLsh(docs: DataFrame, threshold: Double = 0.8,
      blockCols: Seq[String] = Seq.empty): DataFrame = {
    // lazy cuts on the two multi-consumed frames (the d48 shared-branch
    // lesson): toks feeds the band build AND both verify joins, banded
    // feeds both sides of the candidate self-join — un-cut, the
    // split+distinct pass ran up to 4× and the 16-permutation MinHash
    // pass 2× per mine
    val toks = lshTokens(docs, blockCols).localCheckpoint(eager = false)
    // LSH candidates WITHOUT the signature-agreement filter: banding is
    // the recall gate, the exact jaccard below is the precision gate.
    val banded = lshBands(toks, blockCols).localCheckpoint(eager = false)
    val joinKey = Seq("band", "band_hash") ++ blockCols
    val cands = banded
      .withColumnRenamed("doc_id", "id_a")
      .join(banded.withColumnRenamed("doc_id", "id_b"), joinKey)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    verifyJaccard(cands, toks, toks, threshold)
  }

  // -- shared LSH building blocks ------------------------------------
  // The incremental path (IncrementalDedup) must band and verify with
  // EXPRESSION-IDENTICAL stages or its exact-parity-with-batch
  // guarantee silently breaks — so the stages live here, once.

  /** Word-set tokens per doc: (doc_id, blockCols..., ws, sz). */
  private[graft] def lshTokens(docs: DataFrame, blockCols: Seq[String]): DataFrame =
    docs.select(col("doc_id") +: blockCols.map(col) :+
      array_distinct(array_remove(split(lower(col("text")), " "), "")).as("ws"): _*)
      .withColumn("sz", size(col("ws")).cast("long"))

  /** MinHash band rows per doc: (doc_id, blockCols..., band, band_hash).
    * Shingle size 1: the signature minhashes the WORD SET — the same
    * similarity measure the exact verify computes (3-shingle signatures
    * would estimate a different, much lower jaccard for reordered
    * near-dups and gut recall). 16 permutations, 4 bands × 4 rows. */
  private[graft] def lshBands(toks: DataFrame, blockCols: Seq[String]): DataFrame = {
    val perms = 16
    val bands = 4
    val rows = perms / bands
    toks.filter(size(col("ws")) >= 1)
      .withColumn("sig", graft.functions.VectorExprs.minhashShingleSig(col("ws"), 1, perms))
      .select(col("doc_id") +: blockCols.map(col) :+
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> hash(slice(sig, b * $rows + 1, $rows)))"))
          .as(Seq("band", "band_hash")): _*)
  }

  /** Exact word-set jaccard gate over candidate (id_a, id_b) pairs —
    * emits (id_a, id_b, n_inter, jaccard) at or above the threshold. */
  private[graft] def verifyJaccard(cands: DataFrame, aToks: DataFrame,
      bToks: DataFrame, threshold: Double): DataFrame =
    cands
      .join(aToks.select(col("doc_id").as("id_a"), col("ws").as("ws_a"), col("sz").as("sz_a")), "id_a")
      .join(bToks.select(col("doc_id").as("id_b"), col("ws").as("ws_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("n_inter",
        graft.functions.VectorExprs.intersectCount(col("ws_a"), col("ws_b")))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("sz_a") + col("sz_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_inter", "jaccard")
}
