package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming/incremental NEAR-dup dedup — the per-cycle twin of the
  * batch [[Dedup.dedupPipeline]] (d22), mirroring the reference's
  * production dedup-insert loop (/root/reference/sql/opt.sql:347-391,
  * run on a timer by services/schwab_ohlc_service.py) but for
  * probabilistic near-duplicates instead of exact keys: each incoming
  * micro-batch is MinHash-banded against a PERSISTED historic band
  * index, collisions are verified with the exact word-set jaccard, and
  * only novel content joins the corpus. Re-running batch d22 over the
  * full corpus per cycle would re-scan everything ever ingested; this
  * upsert touches the new docs, the band-index buckets they collide
  * with, and nothing else.
  *
  * == Persisted layout under `root` ==
  *  - `root/_layout` — the store's layout contract (buckets,
  *    bucketedIndex, blockCols, threshold), written on first touch and
  *    validated on every subsequent [[upsertBatch]]: the partition
  *    prune and the parity guarantee are only sound when every batch
  *    agrees on these, so a mismatch (e.g. a restarted stream that
  *    forgot `bucketedIndex = true`) fails loudly instead of silently
  *    missing collisions.
  *  - `root/bands/bucket=N/` — the LSH band index: one row per
  *    (doc, band) with its band hash and blocking attributes,
  *    partitioned by `bucket = pmod(band_hash, buckets)` so a batch's
  *    band join prunes to the buckets its own hashes land in (the
  *    d6 persisted-IVF-index trick applied to LSH). With
  *    `bucketedIndex = true` the same directory doubles as an external
  *    BUCKETED table clustered on the full band-join key — see
  *    [[ensureBandTable]] — which removes the index-side shuffle from
  *    the steady-state cycle entirely.
  *  - `root/docs/bucket=N/` — per-doc state: word set (for exact
  *    verification of future collisions), block attrs, and the doc's
  *    cluster label at insert time; partitioned by
  *    `bucket = pmod(hash(doc_id), buckets)` for pruned id lookups.
  *  - `root/merges/` — tiny append-only log of cluster-label merges
  *    (old_label → new_label). A later doc can CONNECT two existing
  *    clusters; relabeling the losing cluster's rows in `docs/` would
  *    rewrite unbounded history, so the merge is recorded here and
  *    resolved at read time (union-find over a driver-scale log,
  *    broadcast back). Entries always map to a strictly smaller live
  *    label, so chains are acyclic and path-compress to one hop.
  *    A periodic [[compact]] folds resolved labels into `docs/` and
  *    truncates the log, crash-safely, so neither the log nor the
  *    read-time resolution grows without bound. The same pass drops
  *    band rows whose doc never landed (a bands-landed crash), so the
  *    band index stays ⊆ docs membership.
  *
  * == Exact parity with batch d22 ==
  * Band collision is a deterministic pairwise predicate (fixed MinHash
  * permutations), so splitting the corpus into micro-batches does not
  * change WHICH pairs are captured: a pair lands together in a batch
  * (self-join) or across the index (band join) with identical hashes
  * either way. Incremental connected components over (new verified
  * pairs ∪ star edges to historic cluster labels) therefore equals the
  * one-shot CC over all verified pairs, in ANY arrival order — the
  * spec feeds arbitrary splits and asserts the corpus is identical to
  * [[Dedup.dedupPipeline]]'s, including after simulated crash/replay.
  *
  * == Crash/retry safety (single writer, like Sinks.upsertHistoric) ==
  * Write order per batch: bands → merges → docs. The `docs/` store is
  * the membership authority (the restart guard anti-joins it), so a
  * crash before the docs append re-processes the batch; duplicate band
  * rows from the retry are harmless (candidates are `.distinct()`ed)
  * and re-derived merge entries are identical (the log dedupes in the
  * driver map). The merge log is written `coalesce(1)` — one task, one
  * file, driver-scale data — so it cannot land partially.
  *
  * Reads ([[corpus]]/[[clusters]]) are NON-MUTATING: they see through
  * any interrupted compaction window via a bucket-overlay view and
  * never delete or rename anything — so a reader racing a live
  * [[compact]] can at worst hit a transient listing miss (retry), never
  * corrupt the store. Only the writer entry points ([[upsertBatch]],
  * [[compact]]) heal, which under the store's single-writer contract
  * cannot race a live compaction.
  *
  * == Scale shape ==
  * Per batch: one narrow scan of the pruned band-index buckets joined
  * on (band, band_hash, blockCols) — never the corpus text; candidate
  * verification reads only the `docs/` buckets holding colliding ids;
  * CC runs over the batch's edge set (bounded by true near-dup
  * density), not the historic graph — historic clusters participate as
  * single star nodes. State that grows with corpus size is only ever
  * equi-joined or partition-pruned, never rewritten.
  *
  * The bucket prune pays off for TRICKLE batches (few distinct band
  * hashes); a batch large enough to hit every bucket pays one narrow
  * pass over the whole band index per cycle (measured: 10k novel docs
  * vs a 1M-doc store = 8.8 s, vs 38 s to re-bootstrap — ScaleSmoke's
  * steady-state stage). That is the same cost profile as the
  * reference's per-cycle anti-join against HISTORIC, and it amortizes
  * the same way: batch the cycles (daily, not per-second).
  */
object IncrementalDedup {

  /** Test-only crash injection between the bands and docs writes (the
    * ordering the crash-safety contract hinges on). Never set outside
    * specs. */
  private[graft] var failAfterBands: Boolean = false

  private def bandsPath(root: String) = s"$root/bands"
  private def docsPath(root: String) = s"$root/docs"
  private def mergesPath(root: String) = s"$root/merges"
  private def layoutPath(root: String) = s"$root/_layout"
  private def bandsPendingPath(root: String) = s"$root/_bands_pending"

  private def exists(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  // ---- layout contract ---------------------------------------------

  /** The per-root, permanent layout parameters. `buckets` is the
    * partition-prune contract of both stores, `bucketedIndex` decides
    * what the band bucket ids MEAN, and blockCols/threshold decide
    * which pairs ever got verified — flipping any of them mid-store
    * silently breaks the prune or the parity guarantee, so they are
    * persisted on first write and validated on every batch. */
  private[graft] case class Layout(buckets: Int, bucketedIndex: Boolean,
      blockCols: Seq[String], threshold: Double)

  private[graft] def readLayout(s: SparkSession, root: String): Option[Layout] = {
    val p = new Path(layoutPath(root))
    val f = fs(s, root)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val kv = text.linesIterator.filter(_.contains("=")).map { l =>
      val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    Some(Layout(kv("buckets").toInt, kv("bucketedIndex").toBoolean,
      kv("blockCols").split(",").toSeq.filter(_.nonEmpty),
      kv("threshold").toDouble))
  }

  private def writeLayout(s: SparkSession, root: String, l: Layout): Unit = {
    val f = fs(s, root)
    val tmp = new Path(layoutPath(root) + ".tmp")
    val out = f.create(tmp, true)
    try out.write(
      s"""v1
         |buckets=${l.buckets}
         |bucketedIndex=${l.bucketedIndex}
         |blockCols=${l.blockCols.mkString(",")}
         |threshold=${l.threshold}
         |""".stripMargin.getBytes("UTF-8"))
    finally out.close()
    renameOrThrow(f, tmp, new Path(layoutPath(root)))
  }

  /** Validate this batch's parameters against the store's persisted
    * layout; first touch writes it (including the first touch of a
    * store created before layout markers existed). */
  private def checkLayout(s: SparkSession, root: String, l: Layout): Unit =
    readLayout(s, root) match {
      case Some(stored) =>
        require(stored == l,
          s"store layout mismatch at $root: store was created with $stored, " +
            s"this batch passed $l — buckets/bucketedIndex/blockCols/threshold " +
            "are per-root and permanent (a silent flip would break the " +
            "partition prune and miss duplicates)")
      case None =>
        // Pre-marker store backfill: bucketedIndex IS detectable from
        // the band files' bucketed-write tag — validate it against the
        // batch's parameter instead of trusting the parameter,
        // otherwise the exact restart mistake the marker exists for
        // (resuming a bucketed store with the default
        // bucketedIndex=false) would persist the WRONG contract and
        // silently miss band collisions forever.
        if (exists(s, bandsPath(root))) {
          val detected = bucketedBandFiles(fs(s, root), root)
          require(detected == l.bucketedIndex,
            s"pre-_layout store at $root has a ${if (detected) "bucketed-table"
              else "path"} band layout on disk, but this batch passed " +
              s"bucketedIndex=${l.bucketedIndex} — pass the store's actual layout")
        }
        writeLayout(s, root, l)
    }

  // ---- catalog lifecycle -------------------------------------------

  /** Catalog name for the bucketed band-index table of a store root —
    * content-addressed on the root path so distinct stores never
    * collide in one session's catalog. */
  private[graft] def bandTable(root: String): String =
    "graft_band_idx_" + java.security.MessageDigest.getInstance("MD5")
      .digest(root.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** Drop the session-catalog entry for `root`'s band table (the FILES
    * under root are untouched — the table is external and a later
    * upsert re-registers it). Long-lived sessions cycling many store
    * roots should call this when done with a root, or the catalog
    * accretes one entry per root forever. */
  def unregisterBandTable(s: SparkSession, root: String): Unit = {
    val tbl = bandTable(root)
    if (s.catalog.tableExists(tbl)) s.sql(s"DROP TABLE `$tbl`")
  }

  /** Delete the ENTIRE store at `root` — catalog entry and all files.
    * Destructive; for test teardown and store retirement. */
  def dropStore(s: SparkSession, root: String): Unit = {
    unregisterBandTable(s, root)
    fs(s, root).delete(new Path(root), true)
  }

  /** Register (idempotently) the external bucketed band-index table at
    * `bandsPath(root)`. The table is CLUSTERED BY the FULL band-join
    * key, so the per-cycle historic join plans with NO exchange on the
    * index side — only the micro-batch shuffles (proven by the plan
    * assertion in Round6/Round7 specs). The directory-partition column
    * `bucket` is the table bucket id itself (pmod(hash(joinKey),
    * buckets) — the exact expression HashPartitioning uses), which
    * keeps the trickle-batch partition prune AND means an append's
    * repartition(bucket) lands one file per touched bucket.
    *
    * Catalog registration is session-scoped; the FILES under root are
    * the durable state. A fresh session re-registers from the banded
    * schema and recovers the partition listing. */
  private def ensureBandTable(s: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType, joinKey: Seq[String],
      buckets: Int): String = {
    val tbl = bandTable(root)
    if (!s.catalog.tableExists(tbl)) {
      registerBandTableAt(s, tbl, bandsPath(root), schema, joinKey, buckets)
      if (exists(s, bandsPath(root)))
        s.sql(s"ALTER TABLE `$tbl` RECOVER PARTITIONS")
    }
    tbl
  }

  /** CREATE the external bucketed band table `tbl` at `location` —
    * shared by the live table and compaction's shadow table (which must
    * write bands_new with the IDENTICAL clustered layout so the swapped
    * files keep the zero-exchange contract). */
  private def registerBandTableAt(s: SparkSession, tbl: String, location: String,
      schema: org.apache.spark.sql.types.StructType, joinKey: Seq[String],
      buckets: Int): Unit = {
    // pre-create the location: CREATE TABLE resolves it and logs a
    // full FileNotFoundException stack (benign but alarming) when
    // the directory doesn't exist yet
    val p = new Path(location)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(p)
    val keyDdl = joinKey.map(c => s"`$c`").mkString(", ")
    s.sql(
      s"""CREATE TABLE `$tbl` (${schema.toDDL}, `bucket` INT)
         |USING parquet
         |PARTITIONED BY (bucket)
         |CLUSTERED BY ($keyDdl) SORTED BY ($keyDdl) INTO $buckets BUCKETS
         |LOCATION '$location'""".stripMargin)
  }

  /** The tokenize / band / verify stages are SHARED with the batch
    * pipeline (Dedup.lshTokens/lshBands/verifyJaccard): the exact-parity
    * guarantee requires expression-identical stages, so they live in one
    * place by construction. */
  private def verify(cands: DataFrame, aToks: DataFrame, bToks: DataFrame,
      threshold: Double): DataFrame =
    Dedup.verifyJaccard(cands, aToks, bToks, threshold).select("id_a", "id_b")

  /** Path-compressed merge map from the append-only log. Driver-side by
    * design: one row per merge EVENT ever (two clusters connected by a
    * later doc), a population that grows with near-dup graph mergers,
    * not corpus size — and every entry maps to a strictly smaller id,
    * so the walk terminates. Replayed duplicate entries collapse in
    * the Map. */
  private def mergeMap(s: SparkSession, root: String): Map[Long, Long] = {
    if (!exists(s, mergesPath(root))) return Map.empty
    val raw = s.read.parquet(mergesPath(root))
      .select("old_label", "new_label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iterative chain walk (labels strictly decrease, so it terminates;
    // a recursive walk would grow the stack with merge-chain length)
    def find(x: Long): Long = {
      var r = x
      while (raw.contains(r)) r = raw(r)
      r
    }
    raw.keys.map(k => k -> find(k)).toMap
  }

  /** Resolve the label column `inCol` through the merge map into
    * `outCol`. Small maps inline as one literal expression; past
    * `LITERAL_MAX` entries the map rides a broadcast join instead — an
    * unboundedly growing plan literal would bloat plan serialization
    * long before the driver map itself hurt. */
  private val LITERAL_MAX = 10000
  private def withResolved(df: DataFrame, inCol: String, outCol: String,
      m: Map[Long, Long]): DataFrame =
    if (m.isEmpty) df.withColumn(outCol, col(inCol))
    else if (m.size <= LITERAL_MAX)
      df.withColumn(outCol, coalesce(element_at(typedlit(m), col(inCol)), col(inCol)))
    else {
      val s = df.sparkSession
      import s.implicits._
      df.join(broadcast(m.toSeq.toDF("_old", "_new")),
          col(inCol) === col("_old"), "left")
        .withColumn(outCol, coalesce(col("_new"), col(inCol)))
        .drop("_old", "_new")
    }

  /** Keep rows whose long column `c` is in `values` — inline `isin` for
    * small sets, broadcast left-semi past `litMax` (the same unbounded-
    * plan-literal guard as [[withResolved]]; a big merge log's dead-
    * label list must not ride the plan as one literal). */
  private[graft] def filterInLongSet(df: DataFrame, c: String,
      values: Seq[Long], litMax: Int = LITERAL_MAX): DataFrame =
    if (values.size <= litMax) df.filter(col(c).isin(values: _*))
    else {
      val s = df.sparkSession
      import s.implicits._
      df.join(broadcast(values.toDF(c)), Seq(c), "left_semi")
    }

  /** Upsert one batch of documents (doc_id, text, blockCols...) into
    * the incremental dedup state at `root`. Idempotent per batch: a
    * replay (streaming restart, retried foreachBatch) re-derives the
    * same labels and the docs-store guard drops already-landed rows.
    *
    * @param buckets  partition-count for both stores — must be the
    *   same value across every batch written to one `root` (it is the
    *   pruning contract of the layout; enforced via the persisted
    *   `_layout` marker)
    * @param bucketedIndex store the band index as an external BUCKETED
    *   table (CLUSTERED BY the full join key) instead of plain
    *   band_hash-partitioned parquet. The steady-state historic join
    *   then plans with zero exchange on the index side — only the
    *   micro-batch moves — which is the production layout once the
    *   index-side pass dominates the cycle. Like `buckets`, the choice
    *   is per-root and permanent — enforced via `_layout` (a silent
    *   flip would reinterpret the bucket dirs and miss collisions).
    * @param driverMaxEdges size gate for the per-batch component
    *   labeling. A micro-batch's verified edge set is bounded by the
    *   BATCH near-dup density, not corpus size, so it is usually tiny —
    *   and an 8-round distributed label propagation on a tiny graph is
    *   pure scheduling overhead (measured: it tripled the per-batch
    *   cost). At or below the gate the exact labels come from one
    *   collect + driver union-find (same keep-min semantics); above it
    *   — a giant batch or a pathologically dense one — the barrier-free
    *   distributed loop takes over. See connectedComponentsAuto's notes
    *   on driver-heap sizing at the gate.
    */
  def upsertBatch(batch: DataFrame, root: String, threshold: Double = 0.8,
      blockCols: Seq[String] = Seq("lang", "source"), buckets: Int = 64,
      driverMaxEdges: Long = 2000000L,
      bucketedIndex: Boolean = false): Unit = {
    val s = batch.sparkSession
    heal(s, root) // finish any interrupted compaction first (writer-side only)
    checkLayout(s, root, Layout(buckets, bucketedIndex, blockCols, threshold))
    val joinKey = Seq("band", "band_hash") ++ blockCols
    // dir-partition id of a band row. Bucketed mode uses the table
    // bucket id itself (same murmur3+pmod HashPartitioning computes),
    // path mode the plain band_hash residue.
    def bandBucket: org.apache.spark.sql.Column =
      if (bucketedIndex) pmod(hash(joinKey.map(col): _*), lit(buckets))
      else pmod(col("band_hash"), lit(buckets))

    // ---- restart guard: docs/ is the membership authority ----------
    // Frames to release once the batch is fully persisted. Per-cycle
    // driver-barrier count is THE latency driver of this entry (r21:
    // each action under the concurrent bench pays 0.1-0.5 s of
    // scheduling/queueing) — so every cut below is LAZY and its
    // materialization is fused with the first collect that needs it,
    // and nothing is unpersisted until no later stage can recompute it.
    val toRelease = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val storeExists = exists(s, docsPath(root))
    // guard agg + tokenization both consume the batch's dedup shuffle:
    // cut it once (the guard agg is the materializing action)
    val fresh0 = {
      val f0 = batch.dropDuplicates("doc_id")
      if (storeExists) { val c = f0.localCheckpoint(eager = false); toRelease += c; c }
      else f0
    }
    val fresh =
      if (!storeExists) fresh0
      else {
        // ONE bounded driver action for both prune inputs (≤ `buckets`
        // ints + the id box) — separate bucket-collect and min/max
        // aggs would each re-run the batch's dedup shuffle.
        // The seen-id scan is Sinks.readPruned: bucket-dir prune (same
        // partitions the old catalyst filter kept) PLUS per-file
        // doc_id footer-stats pruning against the batch's id box —
        // docs/ appends one file set per upsert, so files cluster by
        // insertion batch: a REPLAYED batch touches exactly the files
        // its failed attempt wrote, and a fresh monotone-id batch skips
        // the entire history (footer min/max can't overlap). Sound
        // because a skipped file provably holds no id in the box, so
        // none of its rows could survive the anti-join; the double
        // footer stats are id-exact below 2^53 (guarded).
        val stats = fresh0.agg(
          collect_set(pmod(hash(col("doc_id")), lit(buckets))).as("bks"),
          min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).head()
        val bks = stats.getSeq[Int](0)
        val seen =
          if (stats.isNullAt(1)) fresh0.select("doc_id").limit(0)
          else {
            val (lo, hi) = (stats.getLong(1), stats.getLong(2))
            val exact = 1L << 53
            if (lo <= -exact || hi >= exact)
              s.read.parquet(docsPath(root))
                .filter(col("bucket").isin(bks: _*)).select("doc_id")
            else {
              val keepDirs = bks.map(b => s"bucket=$b").toSet
              graft.sources.Sinks.readPruned(s, docsPath(root),
                  Seq(("doc_id", lo.toDouble, hi.toDouble)), keepDirs)
                .select("doc_id")
            }
          }
        fresh0.join(seen, Seq("doc_id"), "left_anti")
      }

    // lazy cut + count in ONE action (an eager localCheckpoint runs an
    // internal count() and discards it; the old eager-then-isEmpty was
    // two jobs per cycle for the same answer)
    val toks = Dedup.lshTokens(fresh, blockCols).localCheckpoint(eager = false)
    toRelease += toks
    if (toks.count() == 0) { toRelease.foreach(_.unpersist()); return }
    // one action materializes the banded cut AND collects both numbers
    // the rest of the cycle needs from it: the row count (the
    // write-guard that used to be a separate isEmpty job) and the
    // distinct bucket ids (the partition prune that used to be a
    // separate distinct+collect job)
    val banded = Dedup.lshBands(toks, blockCols).localCheckpoint(eager = false)
    toRelease += banded
    val bandedStats = banded.agg(count(lit(1)).as("n"),
      collect_set(bandBucket).as("bks")).head()
    val nBanded = bandedStats.getLong(0)
    val bks = bandedStats.getSeq[Int](1)

    // ---- candidates: within-batch self-join + batch-vs-index join --
    val candsNew = banded.withColumnRenamed("doc_id", "id_a")
      .join(banded.withColumnRenamed("doc_id", "id_b"), joinKey)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val edgesNew = verify(candsNew, toks, toks, threshold)

    def noEdges = s.emptyDataFrame
      .select(lit(0L).as("id_a"), lit(0L).as("id_b")).limit(0)
    val mm = mergeMap(s, root)
    // The docs/ check also covers the crashed-FIRST-batch retry: bands/
    // can exist while docs/ does not (write order is bands → merges →
    // docs), and those stale band rows belong to docs that never landed
    // — there is no historic counterpart to verify against, and reading
    // the absent docs/ path would throw on every retry (wedged store).
    val edgesHist =
      if (!exists(s, bandsPath(root)) || !storeExists) noEdges
      else {
        val hist0 =
          if (bucketedIndex)
            s.table(ensureBandTable(s, root, banded.schema, joinKey, buckets))
          else s.read.parquet(bandsPath(root))
        val hist = hist0.filter(col("bucket").isin(bks: _*))
        // cut: the candidate set feeds BOTH the bucket collect below
        // and the verification join — un-cut, the band join against
        // the historic index would execute twice. Lazy, so the dbks
        // collect is ALSO the materializing action (one job).
        val cands = banded.withColumnRenamed("doc_id", "id_a")
          .join(hist.withColumnRenamed("doc_id", "id_b"), joinKey)
          // a retried batch may find its own prior band rows — never
          // pair a doc with itself
          .filter(col("id_a") =!= col("id_b"))
          .select("id_a", "id_b").distinct()
          .localCheckpoint(eager = false)
        toRelease += cands
        // verification ws for colliding historic docs: pruned id fetch
        val dbks = cands.agg(collect_set(
            pmod(hash(col("id_b")), lit(buckets))).as("bks"))
          .head().getSeq[Int](0)
        if (dbks.isEmpty) noEdges
        else {
          val hdocs = withResolved(
            s.read.parquet(docsPath(root))
              .filter(col("bucket").isin(dbks: _*))
              .select(col("doc_id"), col("ws"), col("sz"), col("cluster_id")),
            "cluster_id", "h_label", mm).drop("cluster_id")
          // star edge: new doc → the historic doc's LIVE cluster label.
          // Lazy cut (feeds the CC edge union AND newMerges below); the
          // CC labeling's own count job materializes it.
          verify(cands, toks, hdocs.drop("h_label"), threshold)
            .join(hdocs.select(col("doc_id").as("id_b"), col("h_label")), "id_b")
            .select(col("id_a"), col("h_label").as("id_b")).distinct()
            .localCheckpoint(eager = false)
        }
      }
    toRelease += edgesHist

    // ---- incremental CC: batch pairs + star edges ------------------
    // size-gated: driver union-find for micro-batch-sized edge sets
    // (the overwhelmingly common case), distributed bounded CC above
    // the gate — shared with the batch pipeline (dedupedCorpus).
    // No checkpoint of the union here: connectedComponentsAuto cuts its
    // input itself (the old eager allEdges cut materialized the same
    // union one job earlier, then CC re-persisted it — pure overhead)
    val allEdges = edgesNew.union(edgesHist)
    val labels = Dedup.connectedComponentsAuto(allEdges,
      maxDriverEdges = driverMaxEdges)
    toRelease += labels

    // historic cluster labels whose component found a smaller minimum:
    // record the merge instead of rewriting the losing cluster's rows
    val newMerges = edgesHist.select(col("id_b").as("node")).distinct()
      .join(labels, "node")
      .filter(col("cluster_id") =!= col("node"))
      .select(col("node").as("old_label"), col("cluster_id").as("new_label"))

    // ---- persist: bands → merges → docs (see crash-safety note) ----
    // zero-row guards: a 0-row partitioned append on a nonexistent
    // path creates a schemaless directory that poisons later reads.
    // repartition ON the partition column first: without it every
    // writer task opens a file in every bucket dir (tasks × buckets
    // tiny files per batch — measured, file creation dominated the
    // write AND the next batch's footer reads)
    // crash-evidence marker for compactBands' hygiene gate: created
    // before the band append, cleared only after the docs append lands.
    // A marker inherited from an earlier crashed batch is NOT cleared
    // by this batch's success — it stays until a hygiene pass confirms
    // bands ⊆ docs again.
    val fMark = fs(s, root)
    val pendingMark = new Path(bandsPendingPath(root))
    val pendingBefore = fMark.exists(pendingMark)
    val wroteBands = nBanded > 0
    if (wroteBands) {
      if (!pendingBefore) fMark.create(pendingMark, true).close()
      val rows = banded.withColumn("bucket", bandBucket).repartition(col("bucket"))
      if (bucketedIndex) {
        // the table pre-registers (empty) before the first append, so
        // the append never needs to carry the LOCATION itself
        val tbl = ensureBandTable(s, root, banded.schema, joinKey, buckets)
        rows.write.mode("append").format("parquet")
          .partitionBy("bucket")
          .bucketBy(buckets, joinKey.head, joinKey.tail: _*)
          .sortBy(joinKey.head, joinKey.tail: _*)
          .saveAsTable(tbl)
      } else
        rows.write.mode("append").partitionBy("bucket").parquet(bandsPath(root))
    }
    // test-only failpoint: proves the crash-ordering contract (bands
    // landed, docs not → the retry re-processes the batch and its own
    // stale band rows are harmless)
    if (failAfterBands) throw new RuntimeException("failpoint: after bands write")
    if (!newMerges.isEmpty)
      newMerges.coalesce(1).write.mode("append").parquet(mergesPath(root))
    // one direct LEFT join of toks onto the labels (unlabeled docs keep
    // their own id as the cluster label) — the old form routed through a
    // toks-derived batchLabels frame and re-joined it onto toks, a
    // self-join of the persisted toks with two extra exchanges (r21)
    toks.join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(buckets)))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(docsPath(root))
    if (wroteBands && !pendingBefore) fMark.delete(pendingMark, false)
    toRelease.foreach(_.unpersist())
  }

  // ---- compaction: fold resolved labels into docs/, truncate merges/,
  //      and drop orphaned band rows
  //
  // The append-only merge log grows with merge events forever, and
  // every corpus()/clusters() read pays the driver union-find +
  // resolution expression. The reference's own discipline is a
  // periodic MERGE/compact (docs/sql_server.md OPTM MERGE); this is
  // its analog under the store's single-writer contract.
  //
  // Protocol (each rename is CHECKED — a silently failed rename on an
  // object store must halt, not cascade into deletes; no step needs
  // multi-dir atomicity because FOLDING IS IDEMPOTENT: a folded label
  // is a live root, never a merge-map key, so re-applying the frozen
  // map to already-folded rows is a no-op — every crash window below
  // reads correctly through the non-mutating corpus()/clusters() view):
  //   a. write docs_new = ONLY the merge-affected buckets, labels
  //      folded (the old docs/ is never touched), then drop the
  //      `_compacting` marker file
  //   b. rename docs     -> docs_old
  //   c. rename docs_new -> docs        (affected buckets, folded)
  //   d. move each UNAFFECTED bucket dir docs_old -> docs (atomic
  //      per-dir renames; a bucket lives in exactly one of the two,
  //      so an interrupted sequence resumes deterministically)
  //   e. delete merges/
  //   f. delete docs_old + marker — GUARDED: only after verifying
  //      docs/ exists and every bucket dir still in docs_old also
  //      exists in docs/ (nothing unique can be lost)
  // heal() — called from the WRITER entry points only (upsertBatch,
  // compact; reads never mutate) — classifies the crash window by
  // which artifacts exist: marker + docs + docs_new  = pre-swap, old
  // state intact, discard the attempt; marker + no docs = roll (c)
  // forward; marker + docs = resume the (d) moves and finish
  // (e)/(f). Without the marker a stale docs_new is inert garbage
  // (readers never look at it; the next compact clears it).
  //
  // The bands/ tree gets the same protocol (bands_new/bands_old/
  // `_compacting_bands`) when compact() drops orphaned band rows.

  private def docsNewPath(root: String) = s"$root/docs_new"
  private def docsOldPath(root: String) = s"$root/docs_old"
  private def markerPath(root: String) = s"$root/_compacting"
  private def bandsNewPath(root: String) = s"$root/bands_new"
  private def bandsOldPath(root: String) = s"$root/bands_old"
  private def bandsMarkerPath(root: String) = s"$root/_compacting_bands"

  /** Test-only crash injection after compaction step `n` (1 = docs_new
    * + marker written, 2 = docs renamed away — the no-docs window,
    * 3 = docs_new renamed in, merges not yet deleted). */
  private[graft] var failDuringCompact: Int = 0

  /** Same windows for the band-index hygiene swap. */
  private[graft] var failDuringBandCompact: Int = 0

  private def fs(s: SparkSession, path: String) =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** rename() reports failure as a BOOLEAN on many FileSystems (object
    * stores, transient errors) — treating it as fire-and-forget is how
    * a failed swap cascades into destructive deletes. Halt instead:
    * every window left behind is healable. */
  private def renameOrThrow(f: FileSystem, from: Path, to: Path): Unit =
    if (!f.rename(from, to))
      throw new IllegalStateException(
        s"rename $from -> $to failed; store left as-is (heal() on the next " +
          "writer entry resumes or discards the interrupted compaction)")

  /** Move every bucket dir present in `from` but absent in `to` into
    * `to` — the resumable step (d): a bucket dir lives in exactly one
    * of the two places, so re-running after any interruption converges
    * on the same final layout. */
  private def moveMissingBuckets(f: FileSystem, from: String, to: String): Unit = {
    if (!f.exists(new Path(from))) return
    f.listStatus(new Path(from)).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("bucket=") && !f.exists(new Path(s"$to/$name")))
        renameOrThrow(f, st.getPath, new Path(s"$to/$name"))
    }
  }

  /** Delete the retired `old` generation — ONLY once it provably holds
    * nothing unique: `live` exists and every bucket dir still in `old`
    * also exists in `live` (i.e. it is a superseded stale copy). Any
    * orphan means an earlier step silently failed: halt, never delete. */
  private def deleteOldGuarded(f: FileSystem, live: String, old: String): Unit = {
    val op = new Path(old)
    if (!f.exists(op)) return
    if (!f.exists(new Path(live)))
      throw new IllegalStateException(s"refusing to delete $old: $live does not exist")
    val orphans = f.listStatus(op).map(_.getPath.getName)
      .filter(n => n.startsWith("bucket=") && !f.exists(new Path(s"$live/$n")))
    if (orphans.nonEmpty)
      throw new IllegalStateException(
        s"refusing to delete $old: bucket dirs ${orphans.mkString(", ")} have no " +
          s"counterpart in $live (an earlier swap step must have failed)")
    f.delete(op, true)
  }

  /** The checked (b)..(f) swap shared by the docs fold and the band
    * hygiene pass. The caller has already written `newp` (affected
    * buckets only) and created `marker`. `fail` is the test-only
    * failpoint hook; `onFinish` runs after the bucket moves and before
    * the guarded old-generation delete (the docs tree deletes merges/
    * here). */
  private def swapCompacted(f: FileSystem, live: String, newp: String,
      old: String, marker: String, fail: Int => Unit,
      onFinish: () => Unit): Unit = {
    renameOrThrow(f, new Path(live), new Path(old))
    fail(2)
    renameOrThrow(f, new Path(newp), new Path(live))
    fail(3)
    moveMissingBuckets(f, old, live)
    onFinish()
    deleteOldGuarded(f, live, old)
    f.delete(new Path(marker), false)
  }

  /** Roll one tree's interrupted compaction forward (or discard an
    * unfinished attempt). Returns whether a marker was found. */
  private def healTree(f: FileSystem, live: String, newp: String,
      old: String, marker: String, onFinish: () => Unit): Boolean = {
    val m = new Path(marker)
    if (!f.exists(m)) return false
    val lv = new Path(live)
    val nw = new Path(newp)
    if (f.exists(lv) && f.exists(nw)) {
      // crashed before (b): old state intact — discard the attempt
      f.delete(nw, true)
    } else {
      if (!f.exists(lv) && f.exists(nw)) renameOrThrow(f, nw, lv) // (c)
      if (f.exists(lv)) {
        moveMissingBuckets(f, old, live)                          // (d)
        onFinish()                                                // (e)
        deleteOldGuarded(f, live, old)                            // (f)
      } else if (f.exists(new Path(old))) {
        // degenerate (unreachable by the protocol order): roll back
        renameOrThrow(f, new Path(old), lv)
      }
    }
    f.delete(m, false)
    true
  }

  /** Roll any interrupted compaction forward so the store is writable.
    * WRITER-SIDE ONLY (upsertBatch/compact): reads go through the
    * non-mutating [[docsView]] instead, so a reader can never race a
    * live compaction into deleting its in-flight artifacts. Cheap when
    * idle: one existence probe per marker. */
  private[graft] def heal(s: SparkSession, root: String): Unit = {
    val f = fs(s, root)
    healTree(f, docsPath(root), docsNewPath(root), docsOldPath(root),
      markerPath(root), () => f.delete(new Path(mergesPath(root)), true))
    val bandsHealed = healTree(f, bandsPath(root), bandsNewPath(root),
      bandsOldPath(root), bandsMarkerPath(root), () => ())
    if (bandsHealed && s.catalog.tableExists(bandTable(root)))
      s.sql(s"REFRESH TABLE `${bandTable(root)}`")
  }

  /** NON-MUTATING view of the docs store that reads correctly through
    * every compaction crash window (classified by which artifacts
    * exist — see the protocol comment): folding is idempotent under
    * the still-present merge log, so overlaying the un-moved docs_old
    * buckets onto docs/ is exact in every window. A read racing a LIVE
    * compact can at worst hit a transient listing miss (the next plan
    * re-resolves); it cannot corrupt the store. */
  private def docsView(s: SparkSession, root: String): DataFrame = {
    val f = fs(s, root)
    if (!f.exists(new Path(markerPath(root))))
      return s.read.parquet(docsPath(root))
    val docs = new Path(docsPath(root))
    val dOld = new Path(docsOldPath(root))
    if (f.exists(docs)) {
      // pre-swap (docs full) or mid-(d) (docs = folded affected + some
      // moved buckets): overlay the not-yet-moved docs_old buckets
      val extra =
        if (!f.exists(dOld)) Seq.empty[String]
        else f.listStatus(dOld).map(_.getPath.getName)
          .filter(n => n.startsWith("bucket=") &&
            !f.exists(new Path(s"${docsPath(root)}/$n")))
          .map(n => s"${docsOldPath(root)}/$n").toSeq
      val base = s.read.parquet(docsPath(root))
      if (extra.isEmpty) base
      else base.unionByName(
        s.read.option("basePath", docsOldPath(root)).parquet(extra: _*))
    } else if (f.exists(dOld)) {
      // the no-docs window between (b) and (c): the old generation is
      // complete and the merge log still resolves its labels
      s.read.parquet(docsOldPath(root))
    } else {
      // degenerate: only docs_new exists (unreachable by protocol order)
      s.read.parquet(docsNewPath(root))
    }
  }

  /** Fold the merge log into `docs/`, truncate it, and drop band rows
    * whose doc never landed ([[compactBands]]). Runs under the store's
    * single-writer contract (no concurrent upsertBatch).
    * Scale shape: only buckets CONTAINING merge-affected rows are
    * decoded and rewritten; every other bucket directory crosses the
    * generation as one atomic rename (metadata-only, no data IO) — so
    * both compute and IO scale with the merge-touched slice, not the
    * store. After compaction the merge map is empty and every
    * corpus()/clusters() read plans as a plain scan + filter. */
  def compact(s: SparkSession, root: String): Unit = {
    heal(s, root)
    if (!exists(s, docsPath(root))) return
    val f = fs(s, root)
    val mm = mergeMap(s, root)
    if (mm.nonEmpty) {
      f.delete(new Path(docsNewPath(root)), true) // stale attempt, if any

      // (a) affected buckets = those holding a row labeled by a DEAD id;
      // docs_new gets ONLY those, folded — the live store is not touched
      val affected = filterInLongSet(s.read.parquet(docsPath(root)),
          "cluster_id", mm.keys.toSeq)
        .select("bucket").distinct().collect().map(_.getInt(0)).toSet
      if (affected.isEmpty) { // log entries no row carries (already folded)
        f.delete(new Path(mergesPath(root)), true)
      } else {
        withResolved(
            s.read.parquet(docsPath(root)).filter(col("bucket").isin(affected.toSeq: _*)),
            "cluster_id", "_live", mm)
          .drop("cluster_id").withColumnRenamed("_live", "cluster_id")
          .repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(docsNewPath(root))
        f.create(new Path(markerPath(root)), true).close()
        if (failDuringCompact == 1)
          throw new RuntimeException("failpoint: compact after docs_new")
        // (b)..(f): the checked swap — heal() finishes any tail
        swapCompacted(f, docsPath(root), docsNewPath(root), docsOldPath(root),
          markerPath(root),
          n => if (failDuringCompact == n)
            throw new RuntimeException(s"failpoint: compact window $n"),
          () => { f.delete(new Path(mergesPath(root)), true); () })
      }
    }
    compactBands(s, root)
  }

  /** Band-index hygiene: drop band rows whose doc_id never landed in
    * docs/ — the residue of a bands-landed/docs-lost crash. Harmless
    * for correctness (they verify never, pair never) but accreting;
    * dropping them keeps band membership ⊆ docs membership, so the
    * index never outgrows the corpus. Same crash-safe swap as the docs
    * fold; on the bucketed-table layout the surviving rows are written
    * through a shadow table with the IDENTICAL clustered spec, so the
    * swapped files keep the zero-exchange join contract. */
  private def compactBands(s: SparkSession, root: String): Unit = {
    if (!exists(s, bandsPath(root)) || !exists(s, docsPath(root))) return
    val f = fs(s, root)
    // crash-evidence gate: stale band rows can ONLY come from a
    // bands-landed/docs-lost crash, and that crash leaves _bands_pending
    // behind (upsertBatch clears it after the docs append succeeds; an
    // inherited marker survives until hygiene confirms the store). No
    // marker, no scan — routine compaction stays O(merge-touched)
    // instead of paying a full band-index x docs anti-join per cycle.
    val pending = new Path(bandsPendingPath(root))
    if (!f.exists(pending)) return
    f.delete(new Path(bandsNewPath(root)), true) // stale attempt, if any
    val bands = s.read.parquet(bandsPath(root))
    val stale = bands.select("doc_id").distinct()
      .join(s.read.parquet(docsPath(root)).select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = true)
    try {
      if (stale.isEmpty) { f.delete(pending, false); return }
      val affected = bands.join(stale, Seq("doc_id"), "left_semi")
        .select("bucket").distinct().collect().map(_.getInt(0)).toSet
      val layout = readLayout(s, root)
      val bucketed = layout.map(_.bucketedIndex)
        .getOrElse(bucketedBandFiles(f, root))
      if (bucketed && layout.isEmpty) {
        // can't rewrite a clustered layout without its persisted
        // contract (bucket count + join key) — leave the (harmless)
        // rows; the next upsertBatch writes the marker
        System.err.println(s"[graft] compactBands($root): bucketed band files " +
          "but no _layout marker; skipping hygiene pass (run one upsertBatch first)")
        return
      }
      val surviving = bands.filter(col("bucket").isin(affected.toSeq: _*))
        .join(stale, Seq("doc_id"), "left_anti")
      if (bucketed) {
        val l = layout.get
        val joinKey = Seq("band", "band_hash") ++ l.blockCols
        val dataSchema = org.apache.spark.sql.types.StructType(
          bands.schema.filterNot(_.name == "bucket"))
        // shadow table at bands_new with the identical clustered spec;
        // external, so dropping it afterwards leaves the files
        val shadow = bandTable(root) + "_cmp"
        if (s.catalog.tableExists(shadow)) s.sql(s"DROP TABLE `$shadow`")
        registerBandTableAt(s, shadow, bandsNewPath(root), dataSchema,
          joinKey, l.buckets)
        if (!surviving.isEmpty)
          surviving.repartition(col("bucket"))
            .write.mode("append").format("parquet")
            .partitionBy("bucket")
            .bucketBy(l.buckets, joinKey.head, joinKey.tail: _*)
            .sortBy(joinKey.head, joinKey.tail: _*)
            .saveAsTable(shadow)
        s.sql(s"DROP TABLE `$shadow`")
      } else {
        if (!surviving.isEmpty)
          surviving.repartition(col("bucket"))
            .write.partitionBy("bucket").parquet(bandsNewPath(root))
        else f.mkdirs(new Path(bandsNewPath(root)))
      }
      // placeholder dirs for fully-emptied affected buckets: without
      // one, the resume step would move the STALE old dir back in
      affected.foreach(b => f.mkdirs(new Path(s"${bandsNewPath(root)}/bucket=$b")))
      f.create(new Path(bandsMarkerPath(root)), true).close()
      if (failDuringBandCompact == 1)
        throw new RuntimeException("failpoint: band compact after bands_new")
      swapCompacted(f, bandsPath(root), bandsNewPath(root), bandsOldPath(root),
        bandsMarkerPath(root),
        n => if (failDuringBandCompact == n)
          throw new RuntimeException(s"failpoint: band compact window $n"),
        () => ())
      if (s.catalog.tableExists(bandTable(root)))
        s.sql(s"REFRESH TABLE `${bandTable(root)}`")
      f.delete(pending, false) // evidence resolved: bands subset docs again
    } finally stale.unpersist()
  }

  /** Detect a clustered band layout from the bucketed-write file-name
    * tag (part-...-XXXX_NNNNN.c000...) — fallback for pre-`_layout`
    * stores only. */
  private def bucketedBandFiles(f: FileSystem, root: String): Boolean =
    f.listStatus(new Path(bandsPath(root)))
      .filter(_.getPath.getName.startsWith("bucket="))
      .exists(d => f.listStatus(d.getPath)
        .exists(_.getPath.getName.matches(".*_\\d{5}\\.c\\d+.*")))

  /** The deduplicated corpus at `root`: docs whose id IS their live
    * cluster label (keep-min policy, exactly [[Dedup.dedupedCorpus]]).
    * Merge resolution is one broadcast expression over the tiny log —
    * the historic store is never rewritten. NON-MUTATING (see
    * [[docsView]]): safe to call concurrently with the writer. */
  def corpus(s: SparkSession, root: String, blockCols: Seq[String] = Seq("lang", "source")): DataFrame = {
    val mm = mergeMap(s, root)
    withResolved(docsView(s, root), "cluster_id", "_live", mm)
      .filter(col("doc_id") === col("_live"))
      .select(col("doc_id") +: blockCols.map(col): _*)
  }

  /** Current (doc_id → live cluster label) assignment — d20's streaming
    * counterpart, derived from the store plus merge resolution.
    * NON-MUTATING (see [[docsView]]). */
  def clusters(s: SparkSession, root: String): DataFrame = {
    val mm = mergeMap(s, root)
    withResolved(docsView(s, root).select("doc_id", "cluster_id"),
      "cluster_id", "_live", mm)
      .select(col("doc_id"), col("_live").as("cluster_id"))
  }
}
