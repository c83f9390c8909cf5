package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Chains, CorpusPipeline, Similarity}

/** End-to-end composition specs: the training-corpus pipeline, the
  * persisted IVF index with partition-pruned probes, and the chains
  * payload quarantine split. */
class PipelineSpec extends SparkSpec {

  test("corpus pipeline: stages shrink monotonically, output is chunked and deduped") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val (chunks, stats) = CorpusPipeline.buildTrainingCorpus(docs, minWords = 3)
    val byName = stats.toMap
    assert(stats.map(_._1) ==
      Seq("scrubbed", "quality_gate", "exact_dedup", "near_dedup", "chunks"))
    assert(byName("scrubbed") <= docs.count())
    assert(byName("quality_gate") <= byName("scrubbed"))
    assert(byName("exact_dedup") <= byName("quality_gate"))
    assert(byName("near_dedup") <= byName("exact_dedup"))
    assert(byName("near_dedup") > 0)
    // chunk output covers every surviving doc
    assert(chunks.select("doc_id").distinct().count() == byName("near_dedup"))
    // no surviving exact duplicates: fingerprints unique post-pipeline
    val survivors = chunks.select("doc_id").distinct()
      .join(docs, "doc_id")
    val dupFp = survivors
      .select(md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
      .groupBy("fp").count().filter(col("count") > 1).count()
    assert(dupFp == 0, "exact duplicates survived the pipeline")
  }

  test("corpus pipeline under an installed checkpoint dir: same stage counts, cuts on disk") {
    // the registered d36 recipe
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang", "source")
    val bench = docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text")
    def run(): Seq[(String, Long)] = {
      val (chunks, stats) = CorpusPipeline.buildTrainingCorpus(docs, minWords = 3,
        benchmark = Some(bench), maxRepFrac = 0.9, mixTargetFrac = Some(0.5),
        blockCols = Seq("lang", "source"))
      chunks.unpersist()
      stats
    }
    val local = withCheckpointDir(None)(run())
    val dir = Files.createTempDirectory("graft_corpus_ckpt").toString
    val reliable = withCheckpointDir(Some(dir)) {
      // each stage counter is an Observation whose get blocks until the
      // counter arrives; one upstream of a cut that never delivers it
      // would hang, so the run is bounded
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      Await.result(Future(run())(ExecutionContext.global), 10.minutes)
    }
    assert(reliable == local)
    // the exact-dedup and domain-mix eager cuts landed on reliable storage
    val rddDirs = new java.io.File(dir).listFiles().flatMap(_.listFiles())
      .count(f => f.isDirectory && f.getName.startsWith("rdd-"))
    assert(rddDirs >= 2, s"expected the two eager cuts on disk, found $rddDirs rdd dirs")
  }

  test("corpus pipeline full recipe: decontaminate + repetition gate + domain mix stages compose") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "source")
    // benchmark ⊆ corpus: the realistic decontamination setup (remove
    // eval data from training) — every benchmark doc long enough to
    // produce grams must be dropped by self-overlap
    val bench = docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text")
    val (chunks, stats) = CorpusPipeline.buildTrainingCorpus(
      docs, minWords = 3,
      benchmark = Some(bench), maxRepFrac = 0.9, mixTargetFrac = Some(0.5))
    assert(stats.map(_._1) == Seq("scrubbed", "quality_gate", "exact_dedup",
      "near_dedup", "decontaminated", "repetition_gate", "domain_mix", "chunks"))
    val m = stats.toMap
    assert(m("decontaminated") < m("near_dedup"),
      "decontamination dropped nothing despite benchmark ⊆ corpus")
    assert(m("repetition_gate") <= m("decontaminated"))
    assert(m("domain_mix") > 0 && m("domain_mix") <= m("repetition_gate"))
    assert(chunks.select("doc_id").distinct().count() == m("domain_mix"))
    // no surviving benchmark doc has ≥ 8 scrubbed words (shorter docs
    // produce no 8-grams and legitimately pass the gram filter)
    val leaked = chunks.select("doc_id").distinct()
      .filter(col("doc_id") % 7 === 0)
      .join(docs, "doc_id")
      .filter(size(split(trim(regexp_replace(regexp_replace(regexp_replace(
        lower(col("text")),
        "https?://[^ ]+", " "),
        "[^ ]+@[^ ]+", " "),
        "\\s+", " ")), " ")) >= 8)
      .count()
    assert(leaked == 0, s"$leaked gram-bearing benchmark docs survived decontamination")
  }

  test("d36 entry: all eight stages in pipeline order, blocked near-dup bites, chunks land") {
    val got = SparkEntry.queries("d36_corpus_pipeline")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._2).toSeq == Seq("scrubbed", "quality_gate", "exact_dedup",
      "near_dedup", "decontaminated", "repetition_gate", "domain_mix", "chunks"))
    assert(got.map(_._1).toSeq == (0L to 7L), "stage_idx must be the pipeline order")
    val m = got.map(t => t._2 -> t._3).toMap
    assert(m("near_dedup") < m("exact_dedup"),
      "blocked near-dup dedup dropped nothing despite planted near-dups")
    assert(m("decontaminated") < m("near_dedup"))
    assert(m("chunks") > m("domain_mix"), "chunking must expand rows")
  }

  test("opt-in boilerplate scrub + frozen model gate compose into the pipeline") {
    import spark.implicits._
    import graft.operators.Classifier
    // corpus: 20 good-vocab docs (12 with a planted block-aligned
    // 3-word template), 20 bad-vocab docs. The fixture must survive
    // every EARLIER stage to reach the two under test — measured
    // failure modes of naive fixtures: identical class-word order
    // makes the class vocabulary itself boilerplate (the scrub
    // correctly deletes the classifier's whole signal), and the
    // unblocked LSH path clusters 0.6-jaccard same-class docs. So:
    // class words rotate per doc (rotations alias at shift 3, leaving
    // each block string in ≤7 docs — under the 10-doc threshold
    // below), doc-unique words defeat exact dedup, and blockCols
    // routes near-dup through the verified j≥0.8 path.
    val boiler = "tmpl alpha omega"
    def rot(ws: Seq[String], i: Long) =
      (ws.drop((i % ws.size).toInt) ++ ws.take((i % ws.size).toInt)).mkString(" ")
    val gws = Seq("ga", "gb", "gc", "gd", "ge", "gf")
    val bws = Seq("ba", "bb", "bc", "bd", "be", "bf")
    val docs = ((0L until 20L).map { i =>
      val body = s"${rot(gws, i)} u${i}a u${i}b"
      (i, if (i < 12) s"$boiler $body" else body, "s0")
    } ++ (100L until 120L).map { i =>
      (i, s"${rot(bws, i)} v${i}a v${i}b", "s1")
    }).toDF("doc_id", "text", "source")
    // frozen gate: classifier trained on planted separable labels
    // (good vocab = 1, bad vocab = 0) — trained OUTSIDE the pipeline,
    // the production artifact shape
    val labeled = docs.select(col("doc_id"), col("text"),
      (col("doc_id") < 100L).cast("double").as("y"))
    val model = Classifier.trainLogistic(labeled.select("doc_id", "text"),
      labeled.select("doc_id", "y"), 256, iters = 30, lr = 50.0)
    // threshold 10: the planted template (12 docs) is boilerplate,
    // the rotated class blocks (<=7 docs each) are not
    val (chunks, stats) = CorpusPipeline.buildTrainingCorpus(
      docs, minWords = 3, blockCols = Seq("source"),
      boilerplateScrub = true, boilerplateMinDocs = 10,
      qualityModel = Some(model))
    assert(stats.map(_._1) == Seq("scrubbed", "quality_gate", "exact_dedup",
      "near_dedup", "boilerplate_scrub", "model_gate", "chunks"),
      s"stage order: ${stats.map(_._1)}")
    val m = stats.toMap
    // the model gate kills every bad-vocab doc and keeps good ones
    assert(m("model_gate") <= m("boilerplate_scrub"))
    val out = chunks.select("doc_id").distinct()
    assert(out.filter(col("doc_id") >= 100L).count() == 0,
      "bad-vocab docs survived the frozen model gate")
    assert(out.count() > 0, "model gate dropped everything")
    // the planted template block is gone from every surviving chunk —
    // scrubbing happened BEFORE chunking (block-aligned occurrences
    // appear in >= 5 docs, so d54 drops them all)
    val withBoiler = chunks.filter(col("chunk_text").contains(boiler)).count()
    assert(withBoiler == 0, s"$withBoiler chunks still carry the template block")
  }

  test("opt-in subset prune drops contained quotes inside the pipeline") {
    import spark.implicits._
    // hosts: 12-word unique-vocab docs; quotes: the first 6 words of
    // their host (containment 1.0, jaccard 0.5 — the near-dup stage
    // must NOT see them, the subset stage must). Unrelated fillers
    // keep the corpus honest.
    val docs = ((0L until 8L).map { i =>
      (i, (0 until 12).map(j => s"h${i}w$j").mkString(" "), "s0")
    } ++ (100L until 104L).map { i =>
      (i, (0 until 6).map(j => s"h${i - 100}w$j").mkString(" "), "s0")
    } ++ (200L until 204L).map { i =>
      (i, (0 until 10).map(j => s"f${i}w$j").mkString(" "), "s0")
    }).toDF("doc_id", "text", "source")
    val (chunks, stats) = CorpusPipeline.buildTrainingCorpus(
      docs, minWords = 3, blockCols = Seq("source"), subsetPrune = true)
    assert(stats.map(_._1) == Seq("scrubbed", "quality_gate", "exact_dedup",
      "near_dedup", "subset_prune", "chunks"), s"stage order: ${stats.map(_._1)}")
    val m = stats.toMap
    assert(m("near_dedup") == 16L, s"pre-prune survivors: ${m("near_dedup")}")
    assert(m("subset_prune") == 12L, s"post-prune survivors: ${m("subset_prune")}")
    val out = chunks.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert((100L until 104L).forall(!out.contains(_)), "a quote doc survived")
    assert((0L until 8L).forall(out.contains), "a host doc was wrongly dropped")
  }

  test("repetition gate passes sub-3-word docs unconditionally (no ANSI slice throw)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hi there"),                       // 2 words: no 3-grams, must survive
      (2L, "a b a b a b a b a b a b"),        // highly repetitive, must drop
      (3L, "the quick brown fox jumps high")) // distinct grams, must survive
      .toDF("doc_id", "text")
    val (chunks, stats) = CorpusPipeline.buildTrainingCorpus(
      docs, minWords = 1, maxRepFrac = 0.5)
    val kept = chunks.select("doc_id").distinct().as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"expected {1, 3}, got $kept")
    assert(stats.toMap.apply("repetition_gate") == 2)
  }

  test("writeTrainingShards: partition dirs bounded to shardsPerPartition files, rows round-trip") {
    val dir = Files.createTempDirectory("graft_shards").toString + "/corpus"
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    val split = graft.operators.Curation.stratifiedSplitOf(docs)
    CorpusPipeline.writeTrainingShards(
      split.select("doc_id", "split", "text"), dir, shardsPerPartition = 3)
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count(), "rows lost in the shard write")
    assert(back.select("split").distinct().count() == 3, "expected train/val/test dirs")
    // the write discipline holds: each split dir has at most
    // shardsPerPartition parquet files (not tasks x dirs tiny files)
    val root = new java.io.File(dir)
    val perDir = root.listFiles().filter(_.getName.startsWith("split=")).map { d =>
      d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(perDir.nonEmpty)
    perDir.foreach { case (name, n) =>
      assert(n > 0 && n <= 3, s"$name has $n parquet files (want 1..3)") }
  }

  test("IVF index: partitioned write, probe prunes partitions, results match in-memory IVF") {
    val dir = Files.createTempDirectory("graft_ivf").toString + "/index"
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val cents = Similarity.buildIvfIndex(emb, k = 8, iters = 2, dir)
    // bucket=... hive dirs exist
    val buckets = new java.io.File(dir).listFiles().filter(_.getName.startsWith("bucket="))
    assert(buckets.nonEmpty, "index must be partitioned by bucket")
    val queries = emb.filter(col("vec_id") < 10)
    val res = Similarity.probeIvfIndex(spark, dir, cents, queries, topK = 5, nprobe = 2)
    // dynamic partition pruning reaches the scan via the bucket join
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no partition pruning in probe plan:\n${plan.take(2000)}")
    val got = res.cache()
    assert(got.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0,
      "every query must get exactly topK results")
    // probing nprobe=8 (all buckets) must equal brute force top-1
    val all = Similarity.probeIvfIndex(spark, dir, cents, queries, topK = 1, nprobe = 8)
      .select(col("q_id"), col("neighbor_id").as("ivf_n"))
    val bf = Similarity.embedTopK(spark, sf)
      .filter(col("rk") === 1).select(col("q_id"), col("neighbor_id").as("bf_n"))
    assert(bf.join(all, "q_id").filter(col("bf_n") =!= col("ivf_n")).count() == 0,
      "full-probe IVF must equal brute force")
    got.unpersist()
  }

  test("IVF-PQ index: code-only candidate scan, pruned probe, full-probe+refine equals brute force") {
    val dir = Files.createTempDirectory("graft_ivfpq").toString + "/index"
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val (cents, cb) = Similarity.buildIvfPqIndex(
      emb, kIvf = 8, m = 16, kPq = 16, iters = 2, path = dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("bucket=")))
    val queries = emb.filter(col("vec_id") < 10)
    val res = Similarity.probeIvfPq(spark, dir, cents, cb, queries,
      topK = 5, nprobe = 2, refine = 50)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no partition pruning:\n${plan.take(2000)}")
    // the candidate-stage INDEX scan reads codes, never the float
    // column; only the re-rank scan touches embedding (other FileScans
    // in the plan read the raw embeddings parquet for the query side)
    val idxScans = plan.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("graft_ivfpq"))
    assert(idxScans.nonEmpty, s"no index FileScan lines found:\n${plan.take(3000)}")
    val withEmb = idxScans.count(_.split("ReadSchema").last.contains("embedding"))
    assert(withEmb == 1, s"expected 1 embedding-reading index scan, got $withEmb:\n${idxScans.mkString("\n")}")
    assert(idxScans.exists(l => !l.split("ReadSchema").last.contains("embedding")),
      s"no code-only index scan:\n${idxScans.mkString("\n")}")
    val got = res.cache()
    assert(got.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
    // all buckets + refine >= corpus: must equal brute-force cosine top-1
    val all = Similarity.probeIvfPq(spark, dir, cents, cb, queries,
      topK = 1, nprobe = 8, refine = 1000)
      .select(col("q_id"), col("neighbor_id").as("pq_n"))
    val bf = Similarity.embedTopK(spark, sf)
      .filter(col("rk") === 1).select(col("q_id"), col("neighbor_id").as("bf_n"))
    assert(bf.join(all, "q_id").filter(col("bf_n") =!= col("pq_n")).count() == 0,
      "full-probe IVF-PQ with corpus-wide refine must equal brute force")
    got.unpersist()
  }

  test("PQ model artifact: save -> load round-trips bit-exact, probes identically") {
    val root = Files.createTempDirectory("graft_pqmodel").toString
    val dir = root + "/index"
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val (cents, cb) = Similarity.buildIvfPqIndex(
      emb, kIvf = 8, m = 16, kPq = 16, iters = 2, path = dir)
    Similarity.savePqModel(spark, cents, cb, root + "/model")
    val (lcents, lcb) = Similarity.loadPqModel(spark, root + "/model")
    // codebook floats round-trip bit-exact through the parquet FLOAT column
    assert(lcb.length == cb.length && lcb(0).length == cb(0).length)
    cb.indices.foreach { mi =>
      cb(mi).indices.foreach { code =>
        assert(java.util.Arrays.equals(lcb(mi)(code), cb(mi)(code)),
          s"codeword ($mi, $code) drifted through the artifact")
      }
    }
    // a loaded model must probe EXACTLY like the trained one
    val queries = emb.filter(col("vec_id") < 10)
    val a = Similarity.probeIvfPq(spark, dir, cents, cb, queries,
      topK = 5, nprobe = 2, refine = 50).collect().toSeq
    val b = Similarity.probeIvfPq(spark, dir, lcents, lcb, queries,
      topK = 5, nprobe = 2, refine = 50).collect().toSeq
    assert(a == b, "loaded PQ model probe diverged from the trained model")
    // foreign/torn artifacts fail fast
    intercept[IllegalArgumentException] {
      Similarity.loadPqModel(spark, root + "/nowhere")
    }
    // RE-save over an existing artifact: the old marker is invalidated
    // first (a crash mid-overwrite must not leave a loadable mix), and
    // a completed re-save round-trips
    Similarity.savePqModel(spark, cents, cb, root + "/model")
    val (_, lcb2) = Similarity.loadPqModel(spark, root + "/model")
    assert(java.util.Arrays.equals(lcb2(0)(0), cb(0)(0)))
  }

  test("chains payloads parse in a STREAM: flatten + quarantine both flow") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val good = """{"2024-01-15:5":{"525.0":[{"contract_id":1,"bid":1.0,"ask":1.1,""" +
      """"totalVolume":10,"optionRoot":"SPXW","daysToExpiration":5,"quoteTimeInLong":1705276800000}]}}"""
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Int, String)]
    input.addData(Seq((1L, 1, good), (2L, -1, "garbage"), (3L, 1, good)))
    val (flat, bad) = Chains.parseChainPayloads(
      input.toDF().toDF("user_id", "cp", "payload"))
    graft.streaming.EventStream.runToMemory(flat, "chains_flat",
      org.apache.spark.sql.streaming.OutputMode.Append)
    graft.streaming.EventStream.runToMemory(bad, "chains_bad",
      org.apache.spark.sql.streaming.OutputMode.Append)
    assert(spark.table("chains_flat").count() == 2)
    assert(spark.table("chains_bad").count() == 1)
    assert(spark.table("chains_flat").filter(col("strike") === 525).count() == 2)
  }

  test("order payload parse quarantines malformed JSON; valid orders normalize") {
    import spark.implicits._
    val good = """{"orderId":7,"orderLegCollection":[{"legId":1,"instruction":"BUY","symbol":"SYM1"}],""" +
      """"orderActivityCollection":[{"activityId":1,"executionLegs":[{"legId":1,"quantity":2.0,"price":5.5}]}]}"""
    val rows = Seq(good, "not json", """{"orderId": """).toDF("payload")
    val (flat, bad) = Chains.parseOrderPayloads(rows)
    assert(bad.count() == 2)
    val r = flat.collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("order_id") == 7L &&
      r.head.getAs[Double]("signed_price") == -5.5)
  }

  test("chains payload parse quarantines malformed JSON instead of failing") {
    import spark.implicits._
    val good = """{"2024-01-15:5":{"525.0":[{"contract_id":1,"bid":1.0,"ask":1.1,""" +
      """"totalVolume":10,"optionRoot":"SPXW","daysToExpiration":5,"quoteTimeInLong":1705276800000}]}}"""
    val rows = Seq(
      (1L, 1, good),
      (2L, -1, """{"not valid json"""),
      (3L, 1, "garbage")).toDF("user_id", "cp", "payload")
    val (flat, bad) = Chains.parseChainPayloads(rows)
    assert(bad.count() == 2, "malformed payloads must be quarantined")
    val r = flat.collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Int]("strike") == 525 && row.getAs[Int]("weekly") == 1 &&
      row.getAs[Int]("dte") == 5)
    // malformed KEYS inside valid JSON null out, not crash (ANSI-safe)
    val badKey = Seq((4L, 1,
      """{"oops:x":{"abc":[{"contract_id":2,"bid":1.0,"ask":1.1,"totalVolume":1,""" +
        """"optionRoot":"SPX","daysToExpiration":0,"quoteTimeInLong":1705276800000}]}}"""))
      .toDF("user_id", "cp", "payload")
    val (flat2, bad2) = Chains.parseChainPayloads(badKey)
    assert(bad2.count() == 0)
    val r2 = flat2.collect()
    assert(r2.length == 1 && r2.head.isNullAt(r2.head.fieldIndex("expiry")) &&
      r2.head.isNullAt(r2.head.fieldIndex("strike")))
  }
}
