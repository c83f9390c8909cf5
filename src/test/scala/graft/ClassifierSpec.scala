package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.operators.Classifier

/** d56 trained quality classifier: exact separation on planted
  * separable classes, monotone loss descent, bit-reproducible
  * training (the decimal-sum discipline), and teacher agreement on
  * the real corpus. */
class ClassifierSpec extends SparkSpec {

  private def plantedDocs = {
    import spark.implicits._
    // positives draw from one vocab, negatives from a disjoint one —
    // linearly separable by construction; word repetition varies so
    // tf values are non-trivial
    (0L until 60L).map { i =>
      val (vocab, y) = if (i % 2 == 0) (Seq("alpha", "beta", "gamma"), 1.0)
      else (Seq("zeta", "eta", "theta"), 0.0)
      val words = (0 until 8).map(j => vocab((i + j).toInt % 3))
      (i, words.mkString(" "), y)
    }.toDF("doc_id", "text", "y")
  }

  test("planted separable classes: perfect train accuracy, monotone loss descent") {
    val docs = plantedDocs.cache()
    val dt = docs.select("doc_id", "text")
    val labels = docs.select("doc_id", "y")
    val model = Classifier.trainLogistic(dt, labels, 256, iters = 12, lr = 10.0)
    assert(model.losses.size == 12)
    model.losses.sliding(2).foreach { case Seq(a, b) =>
      assert(b < a, s"loss did not descend: ${model.losses}")
    }
    val joined = Classifier.scoreOf(dt, model).join(labels, "doc_id")
    val acc = joined.filter((col("pred") && col("y") === 1.0) ||
        (!col("pred") && col("y") === 0.0)).count().toDouble / docs.count()
    assert(acc == 1.0, s"separable classes must separate exactly: acc=$acc")
    docs.unpersist()
  }

  test("training is bit-reproducible: two runs give identical weights, bias, losses") {
    val docs = plantedDocs
    val dt = docs.select("doc_id", "text")
    val labels = docs.select("doc_id", "y")
    val m1 = Classifier.trainLogistic(dt, labels, 256, iters = 5, lr = 10.0)
    val m2 = Classifier.trainLogistic(dt, labels, 256, iters = 5, lr = 10.0)
    assert(m1.weights.toSeq == m2.weights.toSeq, "weights diverged across retrains")
    assert(m1.bias == m2.bias && m1.losses == m2.losses)
  }

  /** Shuffle records written by the jobs `body` runs on this thread. */
  private def shuffleRecordsOf[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val group = "graft-qc-" + java.util.UUID.randomUUID()
    val stages = ConcurrentHashMap.newKeySet[Integer]()
    val written = new LongAdder
    val fenced = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => e.stageIds.foreach(id => stages.add(id))
          case g if g == group + "-fence" => fenced.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written.add(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val r = try body finally sc.clearJobGroup()
      // the bus delivers events in order: once the fence job's start
      // arrived, every counted task's end arrived before it
      sc.setJobGroup(group + "-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (r, written.sum())
    } finally sc.removeSparkListener(l)
  }

  test("sparse labels: training posts only the labeled docs, same model as " +
      "training over them alone") {
    import spark.implicits._
    // 2400 docs of 20 distinct words each (48k words); 10 carry a label
    val nDocs = 2400L
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      expr("""concat_ws(' ', transform(sequence(0, 19),
             |  i -> concat('w', cast(id * 20 + i as string))))""".stripMargin)
        .as("text")).cache()
    docs.count()
    val labels = (0L until 10L).map(i => (i * 240L, (i % 2).toDouble)).toDF("doc_id", "y")
    val (model, written) = shuffleRecordsOf {
      Classifier.trainLogistic(docs, labels, 4096, iters = 3, lr = 10.0)
    }
    info(s"shuffle records written during training: $written")
    // the labeled docs hold 200 words; the whole corpus 48k. Posting
    // the corpus shuffles at least one record per word
    assert(written < nDocs * 20 / 10,
      s"training shuffled $written records, over a tenth of the corpus's ${nDocs * 20} " +
        "words: the posting table must hold the labeled docs only")
    val alone = Classifier.trainLogistic(docs.join(labels.select("doc_id"), "doc_id"),
      labels, 4096, iters = 3, lr = 10.0)
    assert(model.weights.toSeq == alone.weights.toSeq, "weights differ from labeled-only training")
    assert(model.bias == alone.bias && model.losses == alone.losses)
    docs.unpersist()
  }

  test("HashedMargin expression == the posting-join formulation of the margin") {
    import spark.implicits._
    val docs = plantedDocs.select("doc_id", "text")
    val buckets = 64
    val w = Array.tabulate(buckets)(i => (i % 7 - 3) * 0.25)
    val viaExpr = docs.select(col("doc_id"),
        Classifier.hashedMargin(array_remove(split(col("text"), " "), ""), w).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wdf = w.toSeq.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }
      .toDF("bucket", "wt")
    val viaJoin = Classifier.postingsOf(docs, buckets)
      .join(wdf, "bucket")
      .groupBy("doc_id").agg(sum(col("x") * col("wt")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    viaExpr.foreach { case (id, m) =>
      assert(math.abs(m - viaJoin(id)) < 1e-6,
        s"doc $id: expr margin $m != join margin ${viaJoin(id)}")
    }
  }

  test("model artifact round-trip: saved+loaded model scores bit-identically; torn/foreign artifacts refused") {
    val docs = plantedDocs
    val dt = docs.select("doc_id", "text")
    val model = Classifier.trainLogistic(dt, docs.select("doc_id", "y"), 256,
      iters = 4, lr = 10.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_qc_model").toString
    Classifier.saveModel(spark, model, dir)
    val back = Classifier.loadModel(spark, dir)
    assert(back.weights.toSeq == model.weights.toSeq, "weights changed in round-trip")
    assert(back.bias == model.bias, "bias changed in round-trip (raw-bits encoding)")
    val a = Classifier.scoreOf(dt, model).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Classifier.scoreOf(dt, back).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a.sortBy(_._1) == b.sortBy(_._1), "scores diverged under the loaded model")
    // missing marker → refused
    val bare = java.nio.file.Files.createTempDirectory("graft_qc_bare").toString
    intercept[IllegalArgumentException] { Classifier.loadModel(spark, bare) }
  }

  test("registered d56: CCNet shape on the corpus — student agrees with the perplexity teacher") {
    val out = Classifier.qualityClassifier(spark, sf).cache()
    val n = out.count()
    assert(n == Tables.documents(spark, sf).count(), "one row per doc")
    // margin is the raw exp-free decision value: finite, bounded (mean
    // of O(1) weights + bias), and the split must actually separate —
    // both classes predicted somewhere (a degenerate model or NaN
    // margins would fail these; pred = margin >= 0 is definitional)
    val finite = out.filter(!isnan(col("margin")) && abs(col("margin")) < 1e6).count()
    assert(finite == n, "margins must be finite and bounded")
    assert(out.filter(col("pred")).count() > 0 && out.filter(!col("pred")).count() > 0,
      "a trained student must predict both classes on the corpus")
    val acc = out.filter((col("pred") && col("label") === 1) ||
        (!col("pred") && col("label") === 0)).count().toDouble / n
    info(s"teacher agreement on corpus: $acc")
    assert(acc >= 0.60,
      s"student should beat chance against the NLL teacher: acc=$acc")
    assert(out.filter(col("label") === 1).count() > 0 &&
      out.filter(col("label") === 0).count() > 0, "teacher split degenerate")
    out.unpersist()
  }
}
