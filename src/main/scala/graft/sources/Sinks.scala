package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources/sinks mirroring the reference's landing zones.
  *
  * Reference analogs: tools/parquet_writer.py (daily-rolled snappy
  * parquet: `quotes_YYYY-MM-DD.parquet`), SPX.SP_IMPORT_PARQUET (bulk
  * parquet → staging), and the CSV/JSON payload dumps. Re-expressed
  * Spark-native: hive-style date partitions instead of per-day files,
  * so at 100 TB the partition column prunes scans (`WHERE day = X`
  * never touches other days) and writers append atomically per
  * partition.
  */
object Sinks {

  /** Append a timestamped DataFrame into a date-partitioned parquet
    * dataset (the daily-rollover writer). Dynamic partition overwrite
    * keeps re-runs idempotent per day (the reference re-imports a day
    * by dropping its staging table). */
  def writeDaily(df: DataFrame, tsCol: String, path: String,
      overwriteDays: Boolean = false, filesPerDay: Int = 8): Unit = {
    val mode = if (overwriteDays) SaveMode.Overwrite else SaveMode.Append
    // dynamic overwrite is scoped to this write via the writer option
    // below — a session conf.set would leak changed overwrite semantics
    // to every later partitioned write in the session
    // Repartition on (day, salt), not day alone: hashing only the day
    // would funnel an entire day — at 100 TB, terabytes — through ONE
    // writer task. The salt fans each day out to `filesPerDay` writers
    // (and output files), bounding both task size and file count.
    // Sort each writer's slice by event time before writing: parquet
    // row-group min/max stats then partition the day's time range, so
    // a ts-range read skips whole row groups inside the day partition
    // (the intra-day analog of the day-level partition prune).
    df.withColumn("day", to_date(col(tsCol)))
      .withColumn("_w", pmod(hash(col(tsCol)), lit(filesPerDay)))
      .repartition(col("day"), col("_w"))
      // (day, ts) so the writer's required partition-column ordering is
      // already satisfied — no second (unstable, day-only) sort gets
      // inserted that would scramble the ts order back
      .sortWithinPartitions(col("day"), col(tsCol))
      .drop("_w")
      .write.mode(mode)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .option("compression", "snappy")
      .parquet(path)
  }

  /** Incremental dedup-insert into a persistent date-partitioned
    * historic dataset — the reference's production loop (staging →
    * anti-join vs HISTORIC → insert → truncate, run every cycle:
    * /root/reference/sql/opt.sql:347-391, SP_PY_PROCESS_OHLC): only
    * rows whose `keys` are NOT already present get appended.
    *
    * Scale shape: the guard anti-join reads ONLY the historic
    * partitions whose `day` overlaps the incoming batch (two-value
    * driver agg → partition-pruned scan) and ONLY the key columns
    * (column-pruned) — at 100 TB the guard scans a few days of keys,
    * never the full history. REQUIREMENT for that prune to be sound:
    * `keys` must determine the row's day (include the timestamp, or a
    * key component derived from it, as in the reference's (symbol, T)
    * OHLC primary key) — a re-delivered row always lands in the same
    * day partition it first landed in.
    *
    * Retry-safe by construction: if a failed attempt appended part of
    * a batch, the re-run's guard filters the already-landed keys and
    * appends the remainder — at-least-once delivery becomes
    * exactly-once CONTENT (the idempotence the reference gets from the
    * staging truncate + PK constraint). SINGLE WRITER assumed, exactly
    * like the reference's one scheduled job per table: two concurrent
    * upserts into the same path can both pass the guard before either
    * appends (parquet has no table-level PK to catch the race) —
    * serialize writers per historic table.
    */
  /** @return the batch's event-time frontier (max offered `tsCol`, epoch ms)
    *   for the freshness gauge — computed in the SAME bounds pass the
    *   upsert already runs, so streaming sinks don't pay a second
    *   batch-source scan per commit; None for an empty/fully-null batch
    */
  def upsertHistoric(batch: DataFrame, path: String, keys: Seq[String],
      tsCol: String = "ts", filesPerDay: Int = 8): Option[Long] = {
    val spark = batch.sparkSession
    // Null event time is rejected OUTRIGHT (quarantining is the
    // caller's concern): a null-ts row has no day partition, so it
    // would land in the Hive default partition where the day-pruned
    // guard can never see it again — every re-delivery would duplicate
    // it, silently voiding the exactly-once contract.
    val offered = batch.filter(col(tsCol).isNotNull)
    // Day bounds FIRST: an empty (or fully-filtered) batch must write
    // nothing in EITHER branch — a zero-row partitioned write on a
    // nonexistent path would create a schemaless directory that
    // poisons every subsequent read. Taken over the offered rows, not
    // the deduplicated ones: `keys` determine the day, so dropping
    // duplicates cannot move the day range, and the bounds pass skips
    // the dedup shuffle.
    val b = offered.agg(min(to_date(col(tsCol))).as("lo"),
      max(to_date(col(tsCol))).as("hi"),
      max(col(tsCol).cast("timestamp")).as("frontier")).head()
    if (b.isNullAt(0)) return None // nothing to insert
    val fresh0 = offered.dropDuplicates(keys)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh =
      if (!fs.exists(hPath)) fresh0
      else fresh0.join(guardScan(spark, path, b.getDate(0), b.getDate(1), keys),
        keys, "left_anti")
    writeDaily(fresh, tsCol, path, filesPerDay = filesPerDay)
    Some(b.getTimestamp(2).getTime)
  }

  /** The historic-side guard scan of [[upsertHistoric]], exposed so the
    * layout contract is spec-assertable on the PLAN (SinksSpec): the
    * day range must land in the scan's PartitionFilters (only
    * overlapping day partitions are listed) and the read schema must
    * contain ONLY the key columns — at 100 TB the guard reads a few
    * days of keys, never the full history. */
  private[graft] def guardScan(spark: SparkSession, path: String,
      lo: java.sql.Date, hi: java.sql.Date, keys: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .filter(col("day").between(lo, hi))
      .select(keys.map(col): _*)

  /** Read back with partition pruning (the SP_IMPORT_PARQUET single-day
    * import): predicate on `day` prunes at the file index. */
  def readDay(spark: SparkSession, path: String, day: String): DataFrame =
    spark.read.parquet(path).filter(col("day") === lit(day))

  /** CSV and JSON landing (config/API payload dumps in the reference). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def readCsv(spark: SparkSession, schemaDdl: String, path: String): DataFrame =
    spark.read.option("header", "true").schema(schemaDdl).csv(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Permissive JSONL read: malformed lines land in a corrupt-record
    * column instead of failing the job (the API-payload audit-trail
    * discipline of SCHWAB.JSON_TRANSACTIONS: keep the raw bad record,
    * don't drop it). */
  def readJsonlPermissive(spark: SparkSession, schemaDdl: String, path: String): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schemaDdl + ", _corrupt STRING")
      .json(path)

  /** Schema-evolution read: union the schemas of parquet written at
    * different times (new columns appear as nulls on old data). */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** ORC round-trip (columnar alternative landing format). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def readJsonl(spark: SparkSession, schemaDdl: String, path: String): DataFrame =
    spark.read.schema(schemaDdl).json(path)

  /** Z-order clustered parquet write: co-locate rows by the interleaved
    * quantile-bucket bits of several columns so parquet min/max file
    * stats prune on EVERY z-dimension, not just a lead sort key. A
    * plain `sortBy(x)` layout gives perfect file skipping on x and
    * none on y; the z-curve trades a little of x's locality for
    * skipping on all dimensions — at 100 TB this is the difference
    * between a 1% scan and a full scan for the non-lead predicate
    * (the Delta/Iceberg OPTIMIZE ZORDER layout, done with plain Spark).
    *
    * Mechanics: per column, 2^bits quantile boundaries from
    * approxQuantile (a bounded driver collect; QUANTILE buckets, not
    * equi-width — skewed columns would otherwise pile into one bucket
    * and lose their bits), per-row bucket index = boundaries ≤ v
    * (tiny literal-array HOF, write-side only), z = bit-interleave of
    * the bucket indices (statically unrolled shift/or chain — no UDF),
    * then repartitionByRange + sortWithinPartitions on z. The write
    * itself is one range shuffle, same as any global sort.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      bits: Int = 6, numFiles: Int = 16): Unit = {
    require(zCols.size >= 2, "z-ordering needs at least two columns")
    require(bits * zCols.size <= 60, s"${zCols.size} cols × $bits bits overflow a long")
    val nb = (1 << bits) - 1
    val bucketCols = zCols.map { c =>
      val bounds = df.stat.approxQuantile(c,
        (1 to nb).map(_.toDouble / (nb + 1)).toArray, 0.001)
      val arr = array(bounds.map(lit(_)): _*)
      c -> size(filter(arr, b => b <= col(c).cast("double")))
    }
    // interleave: bit j of column i lands at position j*ncols + i —
    // low bits of every dimension stay adjacent (the z-curve property)
    val n = zCols.size
    val z = (0 until bits).flatMap { j =>
      bucketCols.zipWithIndex.map { case ((_, b), i) =>
        shiftleft(shiftright(b, j).bitwiseAND(lit(1)).cast("long"), j * n + i)
      }
    }.reduce(_.bitwiseOR(_))
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Small-file compaction for a hive-partitioned parquet dataset: any
    * partition whose file count exceeds ceil(bytes/targetBytes) is
    * read back and rewritten as that many files via the same
    * dynamic-partition-overwrite swap every other graft sink uses.
    * Single-writer, no-concurrent-reader discipline: the overwrite is
    * NOT atomic for an external lister (new files commit before old
    * ones are removed, so a reader mid-swap can observe a mixed or
    * doubled file set) — run compaction in the maintenance window, or
    * front the dataset with a snapshotting table format if concurrent
    * readers are required. The ops tool for the measured
    * tiny-files failure mode (tasks×dirs writers, see writeDaily's
    * repartition note): streaming appends accrete one file per
    * micro-batch per partition, and the NEXT reader's footer scans —
    * not the writes — become the bottleneck. Returns
    * (partition dir → (files before, files after)) for the partitions
    * it rewrote; untouched partitions are not listed (idempotent:
    * re-running compacts nothing).
    */
  /** CRASH-SAFE small-file compaction for an APPEND-ONLY
    * hive-partitioned store whose readers tolerate duplicate rows
    * (the knnMaintainStream subscription/index contract: byte-identical
    * re-appends collapse in every consumer). Protocol per the
    * compactKnnLog discipline — snapshot the current data files, read
    * EXACTLY those files, dedup (duplicates are byte-identical rows by
    * the store contract), append one consolidated file set partitioned
    * the same way, then delete the snapshot. At EVERY crash point the
    * store holds (consolidated rows) ∪ (subset of snapshot rows) — a
    * duplicates-only superset, never a loss — and a completed re-run
    * converges to the exact single-copy store. Unlike
    * [[compactPartitions]] (dynamic overwrite: a crash mid-commit can
    * half-delete a partition), this is safe to run BETWEEN the appends
    * of a live streaming sink (knnMaintainStream's compactEvery does).
    * Returns (files before, files after). */
  def compactAppendOnly(spark: SparkSession, path: String,
      partitionCol: String, minFiles: Int = 8): (Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (0, 0)
    val old = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partitionCol + "="))
      .flatMap(d => fs.listStatus(d.getPath).toSeq)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
        && !f.getPath.getName.startsWith("."))
      .map(_.getPath)
    if (old.length < minFiles) return (old.length, old.length)
    // one job: read exactly the snapshot (partition col from dir names),
    // cut lineage before appending into the same root (the write must
    // not re-list the input path), one file per partition
    val consolidated = spark.read.option("basePath", path)
      .parquet(old.map(_.toString): _*)
      .dropDuplicates()
      .repartition(col(partitionCol))
      .localCheckpoint(eager = true)
    consolidated.write.mode(SaveMode.Append).partitionBy(partitionCol).parquet(path)
    consolidated.unpersist()
    old.foreach(fs.delete(_, false))
    val after = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partitionCol + "="))
      .map(d => fs.listStatus(d.getPath)
        .count(f => f.isFile && !f.getPath.getName.startsWith("_")
          && !f.getPath.getName.startsWith("."))).sum
    (old.length, after)
  }

  def compactPartitions(spark: SparkSession, path: String,
      partitionCol: String, targetBytes: Long = 128L << 20): Map[String, (Int, Int)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partitionCol + "="))
    val report = scala.collection.mutable.Map.empty[String, (Int, Int)]
    parts.foreach { p =>
      val files = fs.listStatus(p.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (files.length > want) {
        spark.read.option("basePath", path).parquet(p.getPath.toString)
          .repartition(want)
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCol)
          .parquet(path)
        val after = fs.listStatus(p.getPath)
          .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
        report(p.getPath.getName) = (files.length, after)
      }
    }
    report.toMap
  }

  /** File-level min/max overlap count for a predicate range — the
    * skip-ability measure [[writeZOrdered]] exists to improve: how many
    * files of a layout a `lo <= c <= hi` scan must open. (Readers get
    * this pruning from parquet stats automatically; this makes it
    * observable/testable.) */
  def filesOverlapping(spark: SparkSession, path: String, c: String,
      lo: Double, hi: Double): Long =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(c).cast("double")).as("mn"), max(col(c).cast("double")).as("mx"))
      .filter(col("mx") >= lo && col("mn") <= hi)
      .count()

  // ---- stats-based read-side file skipping ---------------------------
  // The read half of the writeZOrdered story: the z-layout exists so
  // that parquet footer min/max stats are TIGHT per file on every
  // z-dimension — this helper actually consults them. Spark's own scan
  // prunes ROW GROUPS inside each file from pushed filters, but it
  // still lists, schedules and footer-parses one task per file split;
  // on a selective 2-D predicate over a z-clustered dataset, pruning
  // whole files driver-side first collapses the task count to the
  // overlap bound SinksSpec measures. At real scale the footer sweep is
  // what a table format's manifest/stats file caches (Iceberg/Delta);
  // over raw parquet a one-pass footer read per candidate file is the
  // honest equivalent (metadata-only reads, no row data touched).

  /** Per-file [min, max] of each of `columns` from the parquet FOOTER
    * (across row groups, driver-side, ONE footer read per file, no row
    * data read). A column maps to None when any row group lacks usable
    * stats for it OR the column is absent from the file entirely (a
    * hive partition column lives in the directory name, not the
    * footer) — the caller must keep such a file. */
  private def footerRanges(conf: org.apache.hadoop.conf.Configuration,
      st: org.apache.hadoop.fs.FileStatus,
      columns: Seq[String]): Map[String, Option[(Double, Double)]] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks
      val lo = scala.collection.mutable.Map(columns.map(_ -> Double.PositiveInfinity): _*)
      val hi = scala.collection.mutable.Map(columns.map(_ -> Double.NegativeInfinity): _*)
      val dead = scala.collection.mutable.Set.empty[String]
      var i = 0
      while (i < blocks.size()) {
        val cols = blocks.get(i).getColumns
        val seen = scala.collection.mutable.Set.empty[String]
        var j = 0
        while (j < cols.size()) {
          val c = cols.get(j)
          val name = c.getPath.toDotString
          if (lo.contains(name) && !dead(name)) {
            seen += name
            val s = c.getStatistics
            val mnmx =
              if (s == null || s.isEmpty || !s.hasNonNullValue) None
              else for (mn <- numeric(s.genericGetMin()); mx <- numeric(s.genericGetMax()))
                yield (mn, mx)
            mnmx match {
              case Some((mn, mx)) =>
                lo(name) = math.min(lo(name), mn); hi(name) = math.max(hi(name), mx)
              case None => dead += name
            }
          }
          j += 1
        }
        columns.foreach(c => if (!seen(c)) dead += c) // absent in a row group → unknowable
        i += 1
      }
      columns.map { c =>
        c -> (if (dead(c) || lo(c).isInfinite) None else Some((lo(c), hi(c))))
      }.toMap
    } finally reader.close()
  }

  private def numeric(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue())
    case b: java.lang.Boolean => Some(if (b) 1d else 0d)
    case _ => None // binary/string stats: not comparable as a double
  }

  /** Data files under `path` split by the footer-stats verdict for a
    * conjunction of closed numeric ranges: (kept, skipped). A file is
    * skipped only when its footer PROVES some range can't match
    * (fileMax < lo or fileMin > hi); missing/typeless stats keep the
    * file — skipping is an optimization, never a filter. No ranges:
    * every listed file is kept and no footer is read (the dir-only
    * listing). */
  def prunedDataFiles(spark: SparkSession, path: String,
      ranges: Seq[(String, Double, Double)],
      dirFilter: String => Boolean = _ => true): (Seq[String], Seq[String]) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    // Recurse into partition subdirectories (writeDaily/compactPartitions
    // produce day=.../part-*.parquet layouts) — a flat listStatus would
    // silently classify ZERO files and readPruned would return nothing.
    // dirFilter is the PARTITION-dir prune (by `col=value` dir name),
    // applied to TOP-LEVEL directories ONLY: a rejected directory is
    // never listed and its footers are never read — the caller's
    // equivalent of Catalyst PartitionFilters on a hand-listed read
    // (its files appear in NEITHER returned list). Deeper levels are
    // always recursed: applying a single-level name filter at every
    // depth would silently reject all nested partition dirs (e.g. a
    // future bucket=N/day=D layout) and re-create the zero-files
    // failure the recursive listing exists to prevent.
    def dataFiles(p: org.apache.hadoop.fs.Path,
        top: Boolean): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) {
          if (!top || dirFilter(n)) dataFiles(st.getPath, top = false) else Nil
        }
        else Seq(st)
      }
    val cols = ranges.map(_._1)
    def mayMatch(st: org.apache.hadoop.fs.FileStatus): Boolean = {
      val fr = footerRanges(conf, st, cols) // ONE footer read per file
      ranges.forall { case (c, lo, hi) =>
        fr(c) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true
        }
      }
    }
    val (kept, skipped) = dataFiles(root, top = true)
      .partition(st => ranges.isEmpty || mayMatch(st))
    (kept.map(_.getPath.toString), skipped.map(_.getPath.toString))
  }

  /** Selective scan with file-level stats pruning: reads ONLY the files
    * whose footer ranges can satisfy every predicate, then applies the
    * exact row-level predicate. Row-identical to
    * `spark.read.parquet(path).filter(...)` at any layout — flat
    * (writeZOrdered) or hive-partitioned (writeDaily): leaf files are
    * listed recursively and read under `basePath` so partition columns
    * are recovered from the directory names. Fast when the layout
    * clusters the predicate columns. */
  def readPruned(spark: SparkSession, path: String,
      ranges: Seq[(String, Double, Double)],
      dirFilter: String => Boolean = _ => true): DataFrame = {
    val (kept, _) = prunedDataFiles(spark, path, ranges, dirFilter)
    val residual = ranges.map { case (c, lo, hi) =>
      col(c).cast("double") >= lo && col(c).cast("double") <= hi
    }.foldLeft(lit(true))(_ && _)
    if (kept.isEmpty) spark.read.parquet(path).filter(lit(false))
    else spark.read.option("basePath", path).parquet(kept: _*).filter(residual)
  }

  /** Footer stats are doubles: a Long id is exact in them only inside
    * ±2^53, so the id-box file prune is limited to that range. */
  private val ExactLong = 1L << 53

  /** The replay guard of every store-authority sink — the reference's
    * dedup-insert (`LEFT JOIN … IS NULL` against HISTORIC before the
    * insert, sql/opt.sql:320-391): the rows of `batch` whose `keys` the
    * parquet store at `path` does not hold yet. The store is
    * hive-partitioned by `dirCol`, and a stored row sits in the
    * `dirCol=N` dir named by its `bucket` value, so a re-delivered row
    * is looked up only in its own bucket dir.
    *
    *  - A missing store returns `batch` and runs no job.
    *  - Otherwise ONE aggregation collects the batch's `bucket` values
    *    and the min/max of `keys.head`; an empty box returns
    *    `batch.limit(0)`.
    *  - Only the `dirCol=N` dirs of those buckets are listed (a flat
    *    store with no `dirCol=` dirs has all its top-level files
    *    listed). When `keys.head` is a Long inside ±2^53 the listed
    *    files are also pruned by their footer min/max against the id
    *    box: stores append one file set per batch, so a replay reads
    *    the files its failed attempt wrote and a fresh monotone-id
    *    batch skips its buckets' history. Any other key reads every
    *    listed file, with no footer reads.
    *  - The result is `left_anti` on `keys`. The store is read with the
    *    batch's key types (no schema-inference job) and only inside
    *    the key box.
    *
    * Single writer per store, like every graft sink: two writers can
    * both pass the guard before either appends. */
  def unseen(batch: DataFrame, bucket: Column, path: String, dirCol: String,
      keys: Seq[String]): DataFrame = {
    val spark = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    if (!root.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(root))
      return batch
    val id = keys.head
    val st = batch.agg(collect_set(bucket), min(col(id)), max(col(id))).head()
    if (st.isNullAt(1)) return batch.limit(0)
    val (lo, hi) = (st.get(1), st.get(2))
    val box = (lo, hi) match {
      case (l: Long, h: Long) if l > -ExactLong && h < ExactLong =>
        Seq((id, l.toDouble, h.toDouble))
      case _ => Nil
    }
    val dirs = st.getSeq[Any](0).map(b => s"$dirCol=$b").toSet
    val (kept, _) = prunedDataFiles(spark, path, box, dirs)
    if (kept.isEmpty) batch
    else {
      val seen = spark.read.schema(StructType(keys.map(batch.schema(_))))
        .option("basePath", path).parquet(kept: _*)
        .filter(col(id).between(lit(lo), lit(hi)))
        .select(keys.map(col): _*)
      batch.join(seen, keys, "left_anti")
    }
  }
}
