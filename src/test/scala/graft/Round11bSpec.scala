package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Similarity}

/** Round 11 (cont.): Gopher char-weighted repetition rules (d43),
  * bigram-LM NLL (d44), and SemDeDup embedding-group dedup (d45) —
  * each checked against an independent Scala re-derivation on planted
  * fixtures, plus the plan shapes that make them 100 TB-safe. */
class Round11bSpec extends SparkSpec {

  /** Brute-force re-derivation of GopherStats' two numerators: gram
    * counts via sliding windows, top = (count, gram)-lexicographic max,
    * dup = char mass of grams occurring 2+ times. */
  private def bruteGopher(text: String, k: Int): (Long, Long) = {
    val ws = text.split(" ", -1)
    if (ws.length < k) return (0L, 0L)
    val grams = ws.sliding(k).map(_.mkString(" ")).toSeq
    val counts = grams.groupBy(identity).map { case (g, occ) => g -> occ.size }
    val (bestNg, bestC) = counts.maxBy { case (g, c) => (c, g) }
    val dup = counts.collect { case (g, c) if c >= 2 => c.toLong * g.length }.sum
    (bestC.toLong * bestNg.length, dup)
  }

  test("d43 gopherStats: top/dup char mass equals the brute-force scan on planted docs") {
    import spark.implicits._
    val texts = Seq(
      "a b a b a b",                        // heavy 2-gram repetition
      "x y z x y z x y z w",                // repeated 3-gram run
      "q r s t u v w",                      // all distinct
      "only",                               // shorter than every k
      "aa bb aa bb cc aa bb aa bb cc dd"    // mixed, ties on counts
    )
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (k <- Seq(2, 3, 4, 5, 6, 8, 10)) {
      val got = docs
        .select(col("doc_id"),
          graft.functions.VectorExprs.gopherStats(split(col("text"), " "), k).as("g"))
        .collect()
        .map(r => r.getLong(0) -> (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))
        .toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == bruteGopher(t, k),
          s"k=$k doc=$i: got ${got(i.toLong)}, want ${bruteGopher(t, k)}")
      }
    }
  }

  test("d43 gopherRepetition: fractions + keep flag on planted repetitive vs clean docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),   // 11 chars; top 2-gram "a b"×3 → 9/11 — fails keep
      (2L, (1 to 40).map(i => s"w$i").mkString(" ")), // all-distinct — passes
      (3L, "x")              // shorter than every k: all fractions 0 — passes
    ).toDF("doc_id", "text")
    val got = Curation.gopherRepetitionOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getDouble(2) == 9.0 / 11)         // top2_frac
    assert(got(1L).getBoolean(9) == false)           // keep
    assert(got(2L).getBoolean(9) == true)
    assert(got(3L).getAs[Double]("top2_frac") == 0.0)
    assert(got(3L).getBoolean(9) == true)
  }

  test("d43 plan: one narrow pass — no gram explode, no gram-row shuffle") {
    val plan = SparkEntry.queries("d43_gopher_repetition")(spark, sf)
      .queryExecution.executedPlan.toString
    // the ONLY generator allowed is the single-row inline(array(…))
    // that materializes the fused GopherAll struct — never a per-gram
    // explode (which would multiply rows ~30×)
    assert(!plan.contains("Generate explode"), s"gram explode crept in:\n$plan")
    assert(plan.contains("Generate inline"), s"fused GopherAll inline missing:\n$plan")
    assert(!plan.contains("HashAggregate"), s"gram-count aggregation crept in:\n$plan")
  }

  test("d43 GopherAll: fused fracs+keep bit-equal to the per-k GopherStats formulation") {
    import spark.implicits._
    val docs = (Seq(
      "a b a b a b", "x y z x y z x y z w", "q r s t u v w", "only",
      "aa bb aa bb cc aa bb aa bb cc dd") ++
      (0 until 50).map(i => (1 to 30).map(j => s"t${(i * j) % 17}").mkString(" ")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val fused = Curation.gopherRepetitionOf(docs).collect().map(_.toSeq)
    val perK = {
      val base = docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"), split(col("text"), " ").as("ws"))
      val fracs = Curation.GopherTopThresholds.map { case (k, _) =>
        (graft.functions.VectorExprs.gopherStats(col("ws"), k).getField("top_chars")
          .cast("double") / col("n_chars")).as(s"top${k}_frac")
      } ++ Curation.GopherDupThresholds.map { case (k, _) =>
        (graft.functions.VectorExprs.gopherStats(col("ws"), k).getField("dup_chars")
          .cast("double") / col("n_chars")).as(s"dup${k}_frac")
      }
      val keep = (Curation.GopherTopThresholds.map { case (k, t) =>
        col(s"top${k}_frac") < lit(t)
      } ++ Curation.GopherDupThresholds.map { case (k, t) =>
        col(s"dup${k}_frac") < lit(t)
      }).reduce(_ && _)
      base.select(col("doc_id") +: col("n_chars") +: fracs: _*)
        .withColumn("keep", keep).orderBy("doc_id")
        .collect().map(_.toSeq)
    }
    assert(fused.toSeq == perK.toSeq)
  }

  /** Independent bigram-NLL reference with the exact cross-engine
    * rounding discipline: per-term round to 9 dp, order-independent
    * decimal sum, mean rounded to 6 dp. */
  private def bruteBigramNll(corpus: Seq[(Long, String)]): Map[Long, (Long, Double)] = {
    val words = corpus.flatMap(_._2.split(" ", -1))
    val cu = words.groupBy(identity).map { case (w, o) => w -> o.size }
    val v = cu.size
    val bigrams = corpus.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(2).filter(_.length == 2).map(a => (a(0), a.mkString(" "))).toSeq
    }
    val cb = bigrams.flatMap(_._2.map(_._2)).groupBy(identity).map { case (g, o) => g -> o.size }
    bigrams.filter(_._2.nonEmpty).map { case (id, gs) =>
      val terms = gs.map { case (w1, g) =>
        val t = -math.log((cb(g) + 1).toDouble / (cu(w1) + v))
        BigDecimal(t).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      val nll = (terms.sum.toDouble / gs.size)
      id -> (gs.size.toLong, BigDecimal(nll).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
  }

  test("d44 bigramNll: equal to the independent reference on a planted corpus; 1-word docs drop") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the cat"),
      (3L, "a dog ran"),
      (4L, "solo"),                        // no bigrams → absent from output
      (5L, "the cat sat on the mat")       // exact dup of 1 → identical nll
    )
    val got = Curation.bigramNllOf(corpus.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = bruteBigramNll(corpus)
    assert(got == want, s"got $got\nwant $want")
    assert(!got.contains(4L))
    assert(got(1L) == got(5L))
    // repeated boilerplate is MORE predictable: doc 2 (repeats "the
    // cat") should not score higher NLL than the distinct-vocab doc 3
    assert(got(2L)._2 < got(3L)._2)
  }

  /** Brute-force SemDeDup on driver arrays, replicating the engine's
    * float arithmetic (index-order double accumulation for dot/norm). */
  private def bruteSemDedup(vecs: Seq[(Long, Array[Float])], threshold: Double)
      : Map[Long, Set[Long]] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val ids = vecs.map(_._1)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for { (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib } {
      val cos = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
      if (cos >= threshold) {
        val (ra, rb) = (find(ia), find(ib))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    ids.groupBy(find).map { case (_, members) => members.min -> members.toSet }
  }

  private def plantedVecs: Seq[(Long, Array[Float])] = {
    // two tight duplicate groups + unrelated singletons in 8 dims
    val base1 = Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
    val base2 = Array(0f, 1f, 0f, 1f, 0f, 0f, 1f, 0f)
    Seq(
      1L -> base1,
      2L -> base1.map(x => x * 1.01f),               // ~cos 1 with 1
      3L -> { val a = base1.clone(); a(1) = 0.1f; a }, // still > 0.9
      10L -> base2,
      11L -> base2.map(x => x * 0.99f),
      20L -> Array(0f, 0f, 1f, 0f, 0f, -1f, 0f, 1f), // singleton
      21L -> Array(-1f, 0f, 0f, 1f, 0f, 0f, 0f, -1f) // singleton
    )
  }

  test("d45 semDedup: groups equal brute-force CC at k=1; exactly one kept per group = argmin (cent_cos, id)") {
    import spark.implicits._
    val vecs = plantedVecs
    val df = vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = Similarity.semDedupOf(df, threshold = 0.9, k = Some(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3)))
    val want = bruteSemDedup(vecs, 0.9)
    val gotGroups = out.groupBy(_._2).map { case (g, rows) => g -> rows.map(_._1).toSet }
    assert(gotGroups == want, s"groups differ: got $gotGroups want $want")
    out.groupBy(_._2).foreach { case (g, rows) =>
      val kept = rows.filter(_._3)
      assert(kept.length == 1, s"group $g kept ${kept.length} members")
      val expectRep = rows.minBy(r => (r._4, r._1))._1
      assert(kept.head._1 == expectRep,
        s"group $g kept ${kept.head._1}, keep-rule says $expectRep")
    }
  }

  test("d45 semDedup: deterministic replay; planted duplicate groups survive bucketing at k=4") {
    import spark.implicits._
    val vecs = plantedVecs
    val df = vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    def run() = Similarity.semDedupOf(df, threshold = 0.9, k = Some(4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val a = run()
    assert(a == run(), "semDedup is not replay-deterministic")
    // near-identical duplicates land in the same bucket, so the two
    // planted groups are found even under k=4 bucketing
    val groupOf = a.map(r => r._1 -> r._2).toMap
    assert(groupOf(1L) == groupOf(2L) && groupOf(2L) == groupOf(3L))
    assert(groupOf(10L) == groupOf(11L))
    assert(a.count(_._3 == false) == 3, s"expected 3 dropped vectors in $a")
  }

  /** Independent DSIR reference: add-one log-ratio over the union
    * vocab, with the engines' exact rounding discipline. */
  private def bruteDsir(raw: Seq[(Long, String)], target: Seq[String])
      : Map[Long, (Long, Double)] = {
    val rawWords = raw.flatMap(_._2.split(" ", -1))
    val cr = rawWords.groupBy(identity).map { case (w, o) => w -> o.size }
    val tgtWords = target.flatMap(_.split(" ", -1))
    val ct = tgtWords.groupBy(identity).map { case (w, o) => w -> o.size }
    val v = (cr.keySet ++ ct.keySet).size
    val tr = rawWords.size
    val tt = tgtWords.size
    raw.map { case (id, t) =>
      val ws = t.split(" ", -1)
      val terms = ws.map { w =>
        val x = ((ct.getOrElse(w, 0) + 1).toDouble / (tt + v)) /
          ((cr(w) + 1).toDouble / (tr + v))
        BigDecimal(math.log(x)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      id -> (ws.length.toLong,
        BigDecimal(terms.sum.toDouble / ws.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
  }

  test("d46 dsirWeights: equal to the independent reference; target-like docs score above off-target docs") {
    import spark.implicits._
    val raw = Seq(
      (1L, "stocks bonds options trading desk"),
      (2L, "cats dogs birds fish hamsters"),
      (3L, "stocks bonds cats dogs mixed"),
      (4L, "options trading stocks bonds desk"))
    val target = Seq("stocks bonds trading", "options desk trading stocks")
    val got = Curation.dsirWeightsOf(raw.toDF("doc_id", "text"),
        target.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = bruteDsir(raw, target)
    assert(got == want, s"got $got\nwant $want")
    // finance docs look like the finance target; pet docs do not
    assert(got(1L)._2 > got(2L)._2 && got(4L)._2 > got(3L)._2 && got(3L)._2 > got(2L)._2)
  }

  test("d47 corpusReport: volumes, dup rate, short fraction, corpus rep3 on a planted two-group corpus") {
    import spark.implicits._
    val docs = Seq(
      ("en", "srcA", "x y z x y z x y z w"),   // 8 grams, 4 distinct
      ("en", "srcA", "x y z x y z x y z w"),   // exact duplicate
      ("en", "srcA", "p q"),                   // short, no grams
      ("fr", "srcB", (1 to 25).map(i => s"w$i").mkString(" ")) // clean, 25 words
    ).toDF("lang", "source", "text")
    val got = operators.CorpusStats.corpusReportOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7))).toMap
    val lenA = "x y z x y z x y z w".length.toLong // 19
    val enA = got(("en", "srcA"))
    assert(enA._1 == 3L && enA._2 == 22L)
    assert(enA._3 == BigDecimal((2 * lenA + 3).toDouble / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(enA._4 == 1.0 / 3)                     // one exact duplicate
    assert(enA._5 == 1.0)                         // all three under 20 words
    assert(enA._6 == 8.0 / 16)                    // (4+4) dup grams / (8+8)
    val frB = got(("fr", "srcB"))
    val lenB = (1 to 25).map(i => s"w$i").mkString(" ").length.toLong
    assert(frB == ((1L, 25L, lenB.toDouble, 0.0, 0.0, 0.0)))
  }

  test("d43 in-pipeline: gopher_gate drops char-heavy boilerplate, counter rides") {
    import spark.implicits._
    val docs = ((0L to 9L).map { i =>
      (i, (1 to 30).map(j => s"w${i}_$j").mkString(" "), "en", s"src${i % 2}")
    } :+ ((100L, Seq.fill(15)("lorem ipsum").mkString(" "), "en", "src0")))
      .toDF("doc_id", "text", "lang", "source")
    val (chunks, stats) = operators.CorpusPipeline.buildTrainingCorpus(
      docs, minWords = 3, gopherGate = true)
    try {
      val m = stats.toMap
      assert(m.contains("gopher_gate"), s"stage counter missing: $stats")
      assert(m("gopher_gate") == 10L, s"boilerplate doc must drop: $stats")
      val ids = chunks.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(!ids.contains(100L), "doc 100 survived the gopher gate")
    } finally chunks.unpersist()
  }
}
