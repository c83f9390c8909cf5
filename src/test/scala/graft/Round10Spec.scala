package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CentroidSet, VectorExprs}
import graft.operators.Similarity

/** Round 10: the NearestBuckets expression — the in-projection
  * replacement for the crossJoin(broadcast(cents)) + rank-window
  * centroid assignment. The contract is BIT-identity: same FP
  * sequence, same (score, c_id asc) ordering, so every k-means
  * trajectory / recall / drift number downstream is unchanged.
  */
class Round10Spec extends SparkSpec {

  private lazy val emb =
    Tables.embeddings(spark, sf).select("vec_id", "embedding")

  private def centArr(k: Int): Array[(Int, Array[Float])] =
    emb.orderBy(hash(col("vec_id")), col("vec_id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).toArray) }

  /** The formulation NearestBuckets replaced, verbatim. */
  private def windowAssign(cents: Array[(Int, Array[Float])], p: Int,
      cosine: Boolean): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val cdf = cents.toSeq.toDF("c_id", "c_vec")
    val score =
      if (cosine) Similarity.cosine(col("embedding"), col("c_vec"))
      else Similarity.dot(col("embedding"), col("embedding")) -
        lit(2.0) * Similarity.dot(col("embedding"), col("c_vec")) +
        Similarity.dot(col("c_vec"), col("c_vec"))
    val ord = if (cosine) col("score").desc else col("score").asc
    emb.crossJoin(broadcast(cdf))
      .withColumn("score", score)
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(ord, col("c_id").asc)))
      .filter(col("rk") <= p)
      .select(col("vec_id"), col("c_id").as("bucket"), col("score"), col("rk"))
  }

  private def exprAssign(cents: Array[(Int, Array[Float])], p: Int,
      cosine: Boolean): DataFrame =
    emb.select(col("vec_id"),
        posexplode(VectorExprs.nearestBuckets(col("embedding"),
          CentroidSet(cents), p, cosine)).as(Seq("pos", "nb")))
      .select(col("vec_id"), col("nb.bucket").as("bucket"),
        col("nb.score").as("score"), (col("pos") + 1).cast("int").as("rk"))

  private def rows(df: DataFrame): Set[(Long, Int, Double, Int)] =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSet

  test("L2 top-3 assignment is bit-identical to the window formulation") {
    val cents = centArr(7)
    assert(rows(exprAssign(cents, 3, cosine = false)) ==
      rows(windowAssign(cents, 3, cosine = false)))
  }

  test("cosine top-2 assignment is bit-identical to the window formulation") {
    val cents = centArr(5)
    assert(rows(exprAssign(cents, 2, cosine = true)) ==
      rows(windowAssign(cents, 2, cosine = true)))
  }

  test("p = 1 argmin matches, and p > k returns exactly k entries") {
    val cents = centArr(4)
    assert(rows(exprAssign(cents, 1, cosine = false)) ==
      rows(windowAssign(cents, 1, cosine = false)))
    val wide = exprAssign(cents, 9, cosine = false)
    assert(rows(wide) == rows(windowAssign(cents, 9, cosine = false)))
    assert(wide.groupBy("vec_id").count().select(max("count")).head.getLong(0) == 4L)
  }

  test("duplicate centroids tie-break to the lowest id, like the window ordering") {
    val v = emb.limit(1).collect()(0).getSeq[Float](1).toArray
    // ids deliberately unsorted on input; 9 and 2 are the SAME vector
    val cents = Array(9 -> v, 5 -> v.map(x => x + 1.0f), 2 -> v)
    val got = exprAssign(cents, 2, cosine = false)
      .filter(col("rk") === 1).select("bucket").distinct().collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(2))
    assert(rows(exprAssign(cents, 3, cosine = false)) ==
      rows(windowAssign(cents, 3, cosine = false)))
  }

  test("null embedding row yields a null result, not a crash") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, Some(Seq(1.0f, 0.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val cents = Array(0 -> Array(1.0f, 0.0f), 1 -> Array(0.0f, 1.0f))
    val out = df.select(col("vec_id"),
      VectorExprs.nearestBuckets(col("embedding"), CentroidSet(cents), 1,
        cosine = false).as("nb")).collect()
    assert(out.find(_.getLong(0) == 2L).get.isNullAt(1))
    assert(!out.find(_.getLong(0) == 1L).get.isNullAt(1))
  }

  test("mixed-dim centroid table fails fast at construction") {
    val e = intercept[IllegalArgumentException] {
      CentroidSet(Array(0 -> Array(1.0f, 2.0f), 1 -> Array(1.0f)))
    }
    assert(e.getMessage.contains("dim"))
  }

  test("embedTopKAgg equals the window-formulated d5 baseline row for row") {
    val viaWindow = Similarity.embedTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val viaAgg = Similarity.embedTopKAgg(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(viaAgg == viaWindow)
    // plan contract: the aggregate formulation carries NO Window/Sort
    // over the scored candidates — partial top-k states only
    val plan = Similarity.embedTopKAgg(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "agg variant must not plan a window")
  }

  test("IVF assignMulti over k-means centroids plans no exchange") {
    // the replaced crossJoin + rank-window shape exchanged n×k expanded
    // rows per pass; the NearestBuckets projection must plan none
    val vecs = hashVecs(2000)
    val assigned = Similarity.assignMulti(vecs, Similarity.kmeans(vecs, 45, 2), probes = 2)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must stay a narrow projection, got:\n$plan")
    assert(assigned.count() == 2000L * 2)
  }

  test("d38 semantic decon equals the brute-force max-cosine formulation") {
    val corpus = emb
    val bench = emb.filter(col("vec_id") % 97 === 0)
    val got = Similarity.semanticDeconOf(corpus, bench, threshold = 0.30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force: every (corpus, bench) cosine, keep each corpus
    // vector's best (cos desc, bench id asc), filter by the threshold
    val b = bench.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    val w = Window.partitionBy("vec_id").orderBy(col("c").desc, col("b_id").asc)
    val want = corpus.crossJoin(broadcast(b))
      .withColumn("c", Similarity.cosine(col("embedding"), col("b_vec")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("c") >= 0.30)
      .select("vec_id", "b_id", "c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    assert(got.nonEmpty, "threshold 0.30 must catch something on this corpus")
    // a benchmark vector inside the corpus reports itself at cosine 1
    val self = got.filter(t => t._1 == t._2)
    assert(self.nonEmpty && self.forall(_._3 >= 0.9999))
    // the plan is one narrow projection: no exchange before the report
    val plan = Similarity.semanticDeconOf(corpus, bench, 0.30)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "semantic decon must not plan a window")
  }

  // ---- BPE token accounting --------------------------------------

  /** Independent reference BPE encoder (readable, slow): greedy
    * lowest-rank merge, all occurrences left-to-right — written apart
    * from the production loop so the property test is two
    * implementations agreeing, not one checking itself. */
  private def refEncode(w: String, merges: Seq[(String, String)]): List[String] = {
    var syms: List[String] = w.map(_.toString).toList
    var go = syms.length > 1
    while (go) {
      val present = syms.zip(syms.tail).distinct
        .flatMap(p => { val r = merges.indexOf(p); if (r < 0) None else Some((r, p)) })
      if (present.isEmpty) go = false
      else {
        val (_, (a, b)) = present.minBy(_._1)
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var rest = syms
        while (rest.nonEmpty) rest match {
          case x :: y :: tl if x == a && y == b => out += a + b; rest = tl
          case x :: tl => out += x; rest = tl
          case Nil => ()
        }
        syms = out.toList
        go = syms.length > 1
      }
    }
    syms
  }

  private def refCount(text: String, merges: Seq[(String, String)]): Long =
    text.split(" ").filter(_.nonEmpty).map(refEncode(_, merges).length.toLong).sum

  private lazy val bpeDocs =
    Tables.documents(spark, sf).select("doc_id", "text")
  private lazy val bpeVocab =
    graft.functions.Bpe.trainFromCorpus(bpeDocs, numMerges = 120)

  test("BPE: expression count agrees with the independent reference encoder on every doc") {
    val got = bpeDocs
      .select(col("doc_id"), col("text"),
        graft.functions.Bpe.tokenCount(col("text"), bpeVocab).as("n"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val want = refCount(r.getString(1), bpeVocab.merges)
      assert(r.getLong(2) == want,
        s"doc ${r.getLong(0)}: expr ${r.getLong(2)} vs reference $want")
    }
  }

  test("BPE: tokens round-trip to the text, compress vs chars, floor at word count") {
    val rows = bpeDocs.limit(30)
      .select(col("text"),
        graft.functions.Bpe.tokens(col("text"), bpeVocab).as("toks"),
        graft.functions.Bpe.tokenCount(col("text"), bpeVocab).as("n"))
      .collect()
    var totalToks = 0L
    var totalChars = 0L
    rows.foreach { r =>
      val text = r.getString(0)
      val toks = r.getSeq[String](1)
      assert(toks.length.toLong == r.getLong(2), "tokens and count must agree")
      // concatenated tokens reproduce the text minus spaces: merges
      // never invent, drop, or cross-word-join characters
      assert(toks.mkString == text.replace(" ", ""))
      val words = text.split(" ").count(_.nonEmpty)
      assert(toks.length >= words, "every word is at least one token")
      totalToks += toks.length
      totalChars += text.replace(" ", "").length
    }
    assert(totalToks < totalChars,
      s"merges must compress: $totalToks tokens for $totalChars chars")
  }

  test("BPE: training is deterministic and handles dirty spacing") {
    val again = graft.functions.Bpe.trainFromCorpus(bpeDocs, numMerges = 120)
    assert(again.merges == bpeVocab.merges)
    val spark2 = spark
    import spark2.implicits._
    val dirty = Seq((1L, "  a  bb   "), (2L, ""), (3L, " ")).toDF("doc_id", "text")
    val got = dirty.select(col("doc_id"),
      graft.functions.Bpe.tokenCount(col("text"), bpeVocab).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) == 0L && got(3L) == 0L)
    assert(got(1L) == refCount("a bb", bpeVocab.merges))
  }

  test("BPE token chunks: first-fit packing matches a reference packer; round-trips; budget holds") {
    val budget = 24
    /** Independent greedy word-atomic packer. */
    def refPack(text: String): Seq[String] = {
      val words = text.split(" ").filter(_.nonEmpty)
      val out = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]
      var used = 0L
      words.foreach { w =>
        val n = refEncode(w, bpeVocab.merges).length
        if (cur.nonEmpty && used + n > budget) { out += cur.reverse; cur = Nil; used = 0 }
        cur = w :: cur
        used += n
        if (used >= budget) { out += cur.reverse; cur = Nil; used = 0 }
      }
      if (cur.nonEmpty) out += cur.reverse
      out.map(_.mkString(" ")).toSeq
    }
    val rows = bpeDocs.limit(40)
      .select(col("text"),
        graft.functions.Bpe.tokenChunks(col("text"), bpeVocab, budget).as("ch"))
      .collect()
    rows.foreach { r =>
      val text = r.getString(0)
      val got = r.getSeq[String](1)
      assert(got == refPack(text), s"packing diverged for: ${text.take(60)}")
      // chunks round-trip the word sequence exactly
      assert(got.mkString(" ") == text.split(" ").filter(_.nonEmpty).mkString(" "))
      // every chunk fits the budget unless it is one oversized word
      got.foreach { c =>
        val n = refCount(c, bpeVocab.merges)
        assert(n <= budget || !c.contains(" "),
          s"chunk over budget ($n > $budget) and not a single word: ${c.take(60)}")
      }
    }
  }

  test("d31 bpe mode: same plan shape as whitespace mode, budgets in BPE tokens") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    val ws = graft.operators.Curation.tokenBudgetMixOf(docs)
    val bpe = graft.operators.Curation.tokenBudgetMixOf(docs,
      bpeVocab = Some(bpeVocab))
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString.linesIterator
        .count(_.contains("Exchange"))
    assert(exchanges(bpe) == exchanges(ws),
      "swapping the token expression must not change the plan shape")
    val got = bpe.collect()
    assert(got.nonEmpty)
    // n_tokens really are BPE counts
    val byId = bpeDocs.select(col("doc_id"),
      graft.functions.Bpe.tokenCount(col("text"), bpeVocab).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach(r => assert(r.getLong(2) == byId(r.getLong(0))))
  }
}
