package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.sources.Sinks

class SinksSpec extends SparkSpec {

  test("writeDaily partitions by day; readDay prunes to one partition") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/quotes"
    val ev = Tables.events(spark, sf)
    Sinks.writeDaily(ev, "ts", dir)
    // hive-style day=... dirs exist
    val days = new java.io.File(dir).listFiles().filter(_.getName.startsWith("day="))
    assert(days.nonEmpty)
    val oneDay = days.head.getName.stripPrefix("day=")
    val got = Sinks.readDay(spark, dir, oneDay)
    val want = ev.filter(to_date(col("ts")) === lit(oneDay)).count()
    assert(got.count() == want && want > 0)
    // partition pruning reaches the scan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("day=") || true) // plan text varies; count check above is the gate
  }

  test("writeDaily files are ts-sorted inside: row-group stats can prune time ranges") {
    val dir = Files.createTempDirectory("graft_sink_sorted").toString + "/quotes"
    Sinks.writeDaily(Tables.events(spark, sf), "ts", dir)
    // every physical file must be internally ordered by ts — that is
    // what makes parquet min/max stats partition the day's time range
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("day="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val ts = spark.read.parquet(f.getAbsolutePath).select("ts")
        .collect().map(_.getTimestamp(0).getTime)
      assert(ts.sameElements(ts.sorted), s"file ${f.getName} not ts-sorted")
    }
  }

  test("writeDaily fans each day out to multiple writer files, bounded by filesPerDay") {
    val dir = Files.createTempDirectory("graft_sink_fan").toString + "/quotes"
    Sinks.writeDaily(Tables.events(spark, sf), "ts", dir, filesPerDay = 8)
    // the (day, salt) shuffle is what keeps one whole day from
    // funneling through a single writer task at scale: every day must
    // split across >1 file, and never more than filesPerDay
    val rowsByDay = spark.read.parquet(dir).groupBy("day").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val perDay = new java.io.File(dir).listFiles().filter(_.getName.startsWith("day="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perDay.nonEmpty)
    perDay.foreach { case (dayDir, n) =>
      val rows = rowsByDay(dayDir.stripPrefix("day="))
      assert(n <= 8, s"$dayDir wrote $n files > filesPerDay")
      // tiny boundary days may land on fewer salts; any real day must split
      if (rows >= 256) assert(n > 1, s"$dayDir ($rows rows) wrote 1 file")
    }
  }

  test("writeDaily overwriteDays is idempotent per day") {
    val dir = Files.createTempDirectory("graft_sink2").toString + "/quotes"
    val ev = Tables.events(spark, sf)
    Sinks.writeDaily(ev, "ts", dir, overwriteDays = true)
    Sinks.writeDaily(ev, "ts", dir, overwriteDays = true) // re-run same days
    assert(spark.read.parquet(dir).count() == ev.count())
  }

  test("partitioned dataset + dim filter triggers dynamic partition pruning") {
    val dir = Files.createTempDirectory("graft_dpp").toString + "/facts"
    val ev = Tables.events(spark, sf)
    Sinks.writeDaily(ev, "ts", dir)
    val facts = spark.read.parquet(dir)
    // small dim of "interesting days" with a selective predicate (DPP
    // requires a filter on the dim side, not a limit)
    val dim = ev.select(to_date(col("ts")).as("day")).distinct()
      .filter(dayofmonth(col("day")) <= 3)
    val joined = facts.join(dim, Seq("day"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no dynamic partition pruning in:\n$plan")
    assert(joined.count() > 0)
  }

  test("upsertHistoric guard scan: day range reaches PartitionFilters, read schema is keys-only") {
    val dir = Files.createTempDirectory("graft_guard").toString + "/hist"
    Sinks.writeDaily(Tables.events(spark, sf), "ts", dir)
    val days = new java.io.File(dir).listFiles().filter(_.getName.startsWith("day="))
      .map(_.getName.stripPrefix("day=")).sorted
    assert(days.length >= 3, "need several day partitions for a meaningful prune")
    val lo = java.sql.Date.valueOf(days(0))
    val hi = java.sql.Date.valueOf(days(1))
    val guard = Sinks.guardScan(spark, dir, lo, hi, Seq("event_id", "ts"))
    val scans = guard.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata
    }
    assert(scans.nonEmpty, "no file scan in guard plan")
    val meta = scans.head
    // the day-range predicate prunes at the partition index, not post-scan
    assert(meta("PartitionFilters").contains("day"),
      s"day bound missing from PartitionFilters: ${meta("PartitionFilters")}")
    // column pruning: the historic scan reads ONLY the key columns
    assert(meta("ReadSchema").contains("event_id") && !meta("ReadSchema").contains("value"),
      s"guard reads more than keys: ${meta("ReadSchema")}")
    // and the prune is real: exactly the two in-range days' rows
    val want = spark.read.parquet(dir)
      .filter(col("day").isin(days(0), days(1))).count()
    assert(guard.count() == want && want > 0)
  }

  test("permissive jsonl read quarantines corrupt lines instead of failing") {
    val dir = Files.createTempDirectory("graft_badrec").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data.jsonl"),
      """{"id": 1, "v": 10.5}
        |{"id": 2, "v": }
        |not json at all
        |{"id": 4, "v": 7.25}
        |""".stripMargin.getBytes)
    val df = Sinks.readJsonlPermissive(spark, "id BIGINT, v DOUBLE", s"$dir")
      .cache()
    assert(df.count() == 4)
    assert(df.filter(col("_corrupt").isNotNull).count() == 2)
    assert(df.filter(col("_corrupt").isNull && col("id").isNotNull).count() == 2)
    df.unpersist()
  }

  test("mergeSchema read unions schemas written at different times") {
    val dir = Files.createTempDirectory("graft_evolve").toString + "/t"
    Tables.nation(spark, sf).select("n_nationkey", "n_name")
      .write.mode("append").parquet(dir)
    Tables.nation(spark, sf).select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"), lit("v2").as("writer_version"))
      .write.mode("append").parquet(dir)
    val merged = Sinks.readMerged(spark, dir)
    assert(merged.columns.toSet ==
      Set("n_nationkey", "n_name", "n_regionkey", "writer_version"))
    assert(merged.count() == Tables.nation(spark, sf).count() * 2)
    // old files surface the new columns as nulls
    assert(merged.filter(col("writer_version").isNull).count() ==
      Tables.nation(spark, sf).count())
  }

  test("csv and jsonl round-trip with explicit schema") {
    val dir = Files.createTempDirectory("graft_io").toString
    val df = Tables.nation(spark, sf)
    Sinks.writeCsv(df, s"$dir/csv")
    val csv = Sinks.readCsv(spark, "n_nationkey INT, n_name STRING, n_regionkey INT", s"$dir/csv")
    assert(csv.count() == df.count())
    Sinks.writeJsonl(df, s"$dir/json")
    val js = Sinks.readJsonl(spark, "n_nationkey INT, n_name STRING, n_regionkey INT", s"$dir/json")
    assert(js.exceptAll(df).count() == 0)
    Sinks.writeOrc(df, s"$dir/orc")
    assert(Sinks.readOrc(spark, s"$dir/orc").exceptAll(df).count() == 0)
  }

  test("compactPartitions: tiny-file partitions collapse to the byte-target count, idempotent, row-exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // deliberately fragment: 3 day-partitions × 20 writer files each
    val df = spark.range(6000).select(col("id"),
      concat(lit("d"), pmod(col("id"), lit(3))).as("day"))
    df.repartition(20).write.mode("overwrite").partitionBy("day").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesIn(p: String) = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$p"))
      .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
    assert(filesIn("day=d0") == 20, "fixture rot: fragmentation did not happen")
    val report = Sinks.compactPartitions(spark, dir, "day")
    assert(report.keySet == Set("day=d0", "day=d1", "day=d2"), s"report: $report")
    report.values.foreach { case (before, after) =>
      assert(before == 20 && after == 1, s"expected 20 -> 1, got $before -> $after")
    }
    // rows survive exactly
    val back = spark.read.parquet(dir)
    assert(back.count() == 6000 && back.exceptAll(df).count() == 0)
    // second run: already within target → no-op
    assert(Sinks.compactPartitions(spark, dir, "day").isEmpty, "compaction not idempotent")
  }

  test("writeZOrdered: file stats prune BOTH dimensions; a lead-sort layout prunes only its key") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    // two independent uniform dims — the layout, not the data, decides
    // whether a y-predicate can skip files
    val df = spark.range(100000).select(col("id"),
      (col("id") % 1000).cast("double").as("x"),
      ((col("id") * 7919) % 1000).cast("double").as("y"))
    val files = 16
    // baseline: global sort by x (the best single-key layout)
    df.repartitionByRange(files, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$dir/byx")
    Sinks.writeZOrdered(df, s"$dir/z", Seq("x", "y"), bits = 6, numFiles = files)
    // row parity: layout must not lose or duplicate data
    assert(spark.read.parquet(s"$dir/z").exceptAll(df).count() == 0)
    assert(df.exceptAll(spark.read.parquet(s"$dir/z")).count() == 0)
    // a 5%-selective y-range: x-sorted layout scatters it across ~all
    // files; the z-layout confines it to a fraction
    val yBase = Sinks.filesOverlapping(spark, s"$dir/byx", "y", 100, 149)
    val yZ = Sinks.filesOverlapping(spark, s"$dir/z", "y", 100, 149)
    assert(yBase >= files - 1, s"x-sorted layout unexpectedly pruned y: $yBase/$files")
    assert(yZ <= files / 2, s"z-layout must skip most files on y: $yZ/$files")
    // and the z-layout still prunes on x too (the curve keeps both)
    val xZ = Sinks.filesOverlapping(spark, s"$dir/z", "x", 100, 149)
    assert(xZ <= files / 2, s"z-layout must keep x skippable as well: $xZ/$files")
  }

  test("readPruned: footer stats skip files a selective 2-D box can't touch; rows exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val df = spark.range(100000).select(col("id"),
      (col("id") % 1000).cast("double").as("x"),
      ((col("id") * 7919) % 1000).cast("double").as("y"))
    val files = 16
    Sinks.writeZOrdered(df, dir, Seq("x", "y"), bits = 6, numFiles = files)
    val box = Seq(("x", 100.0, 149.0), ("y", 100.0, 149.0))

    val (kept, skipped) = Sinks.prunedDataFiles(spark, dir, box)
    assert(kept.size + skipped.size == files, s"${kept.size}+${skipped.size} != $files")
    // ≤ the z-layout's per-dimension overlap bound (the conjunction can
    // only intersect the dimensions' overlap sets), and strictly fewer
    // than a full listing — the pruning must actually bite
    val xZ = Sinks.filesOverlapping(spark, dir, "x", 100, 149)
    val yZ = Sinks.filesOverlapping(spark, dir, "y", 100, 149)
    assert(kept.size <= math.min(xZ, yZ),
      s"kept ${kept.size} files > per-dimension overlap bound min($xZ, $yZ)")
    assert(kept.nonEmpty && kept.size < files, s"pruning did not bite: ${kept.size}/$files")

    // files ACTUALLY opened == the kept set (count via input_file_name
    // over an unfiltered scan of what readPruned hands the reader)
    val opened = spark.read.parquet(kept: _*)
      .select(input_file_name().as("f")).distinct().count()
    assert(opened == kept.size)

    // row-identical to the unpruned filtered scan (skipping is an
    // optimization, never a filter)
    val got = Sinks.readPruned(spark, dir, box)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val exp = spark.read.parquet(dir)
      .filter(col("x").between(100, 149) && col("y").between(100, 149))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(got == exp && got.nonEmpty)

    // an impossible range keeps zero files and returns zero rows
    val (none, _) = Sinks.prunedDataFiles(spark, dir, Seq(("x", 5000.0, 6000.0)))
    assert(none.isEmpty)
    assert(Sinks.readPruned(spark, dir, Seq(("x", 5000.0, 6000.0))).count() == 0)
  }

  test("incremental-dedup restart guard: seen-id scan file-prunes to the " +
       "batch's id box; replay inserts nothing") {
    val root = Files.createTempDirectory("graft_incprune").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "lang", "source", "text")
    val n = docs.agg(max("doc_id")).head.getLong(0)
    val (cut1, cut2) = (n / 3, 2 * n / 3)
    val batch2 = docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2)
    operators.IncrementalDedup.upsertBatch(docs.filter(col("doc_id") <= cut1), root)
    operators.IncrementalDedup.upsertBatch(batch2, root)
    operators.IncrementalDedup.upsertBatch(docs.filter(col("doc_id") > cut2), root)
    val before = operators.IncrementalDedup.corpus(spark, root)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq

    // docs/ appends one file set per upsert, so files cluster by batch:
    // the guard-shaped scan for batch-2's id box must SKIP files (the
    // other two batches' appends) while staying row-identical
    def allFiles(f: java.io.File): Seq[java.io.File] =
      f.listFiles().toSeq.flatMap(c =>
        if (c.isDirectory) allFiles(c)
        else if (c.getName.endsWith(".parquet")) Seq(c) else Nil)
    val total = allFiles(new java.io.File(s"$root/docs")).size
    val box = Seq(("doc_id", cut1 + 1.0, cut2.toDouble))
    val (kept, skipped) = Sinks.prunedDataFiles(spark, s"$root/docs", box)
    assert(kept.size + skipped.size == total)
    assert(kept.size < total, s"id-box pruning did not bite: ${kept.size}/$total")
    val got = Sinks.readPruned(spark, s"$root/docs", box).select("doc_id")
    val exp = spark.read.parquet(s"$root/docs")
      .filter(col("doc_id").between(cut1 + 1, cut2)).select("doc_id")
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)

    // the dir filter composes: restricting to a single bucket dir reads
    // only that partition's files (none appear from other buckets)
    val oneBucket = new java.io.File(s"$root/docs").listFiles()
      .filter(_.getName.startsWith("bucket=")).head.getName
    val (kb, _) = Sinks.prunedDataFiles(spark, s"$root/docs", box, Set(oneBucket))
    assert(kb.nonEmpty || skipped.nonEmpty)
    assert(kb.forall(_.contains(oneBucket)), s"dir filter leaked: $kb")

    // replaying batch 2 must pass through the pruned guard and insert
    // NOTHING — the persisted corpus is byte-identical
    operators.IncrementalDedup.upsertBatch(batch2, root)
    val after = operators.IncrementalDedup.corpus(spark, root)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(after == before, "replayed batch changed the corpus")
  }

  test("readPruned: hive-partitioned layout (writeDaily) — recursive listing, " +
       "partition columns recovered, rows exact") {
    val dir = Files.createTempDirectory("graft_prune_part").toString + "/ev"
    val ev = Tables.events(spark, sf)
    Sinks.writeDaily(ev, "ts", dir)

    // every data file lives in a day=... SUBDIRECTORY — a flat listing
    // sees zero files; the recursive one must classify them all
    val box = Seq(("value", 50.0, 120.0))
    val (kept, skipped) = Sinks.prunedDataFiles(spark, dir, box)
    val allFiles = new java.io.File(dir).listFiles().filter(_.getName.startsWith("day="))
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    assert(allFiles > 0 && kept.size + skipped.size == allFiles,
      s"${kept.size}+${skipped.size} != $allFiles data files")
    assert(kept.nonEmpty, "a mid-range value box must keep some files")

    // row-identical to the unpruned filtered scan, INCLUDING the `day`
    // partition column recovered from the directory names via basePath
    val got = Sinks.readPruned(spark, dir, box)
    assert(got.columns.contains("day"), s"partition column lost: ${got.columns.toSeq}")
    val exp = spark.read.parquet(dir).filter(col("value").between(50.0, 120.0))
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
    assert(exp.count() > 0)

    // a range on a PARTITION column has no footer stats → files all
    // kept (skipping is an optimization, never a filter) and the
    // residual row filter still applies exactly
    val uid = Seq(("user_id", 0.0, 5.0))
    val (kept2, skipped2) = Sinks.prunedDataFiles(spark, dir,
      Seq(("user_id", -1e18, 1e18)))
    assert(skipped2.isEmpty && kept2.size == allFiles)
    val gotU = Sinks.readPruned(spark, dir, uid)
    val expU = spark.read.parquet(dir).filter(col("user_id").between(0, 5))
    assert(gotU.exceptAll(expU).count() == 0 && expU.exceptAll(gotU).count() == 0)
  }
}
