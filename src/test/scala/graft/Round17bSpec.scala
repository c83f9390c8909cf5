package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Similarity}

/** Round 17 (cont.): the three new training-pipeline operators —
  * d64 temperature mixing, d65 integer-unit PageRank, d66 MMR
  * diversity selection. Each gets an independent reference check
  * beyond the DuckDB oracle gate: planted inputs whose expected
  * behavior is computed by a straightforward driver-side reference,
  * plus the determinism/boundary properties the oracle can't see.
  */
class Round17bSpec extends SparkSpec {

  import spark.implicits._

  // ---- d64 temperature mix -------------------------------------------

  /** Skewed corpus: source sizes 60/25/10/5. */
  private def skewedDocs = {
    val rows = (0 until 100).map { i =>
      val src = if (i < 60) "big" else if (i < 85) "mid"
      else if (i < 95) "small" else "rare"
      (i.toLong, src)
    }
    rows.toDF("doc_id", "source")
  }

  test("d64: alpha<1 flattens — rarer sources keep strictly higher rates") {
    val rates = Curation.temperatureMixOf(skewedDocs, alpha = 0.3, targetFrac = 0.5)
      .select("source", "keep_rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // every kept group's rate is emitted; rare sources boost toward 1
    assert(rates("big") < rates("mid"), rates.toString)
    assert(rates("mid") < rates("small"), rates.toString)
    // rates are capped at 1
    assert(rates.values.forall(r => r > 0.0 && r <= 1.0), rates.toString)
  }

  test("d64: alpha=1 preserves the natural mix (every rate = targetFrac)") {
    val rates = Curation.temperatureMixOf(skewedDocs, alpha = 1.0, targetFrac = 0.5)
      .select("keep_rate").distinct().collect().map(_.getDouble(0))
    // t = n_s/N exactly, den = Σ = 1 (9dp-rounded terms sum within 4e-9
    // of 1), so rate = 0.5·N·(n_s/N)/n_s = 0.5 to the 9dp round
    assert(rates.forall(r => math.abs(r - 0.5) <= 1e-8), rates.mkString(","))
  }

  test("d64: replayable — identical kept set on re-run, subset of input") {
    val a = Curation.temperatureMixOf(skewedDocs).collect().map(_.getLong(0)).toSeq
    val b = Curation.temperatureMixOf(skewedDocs).collect().map(_.getLong(0)).toSeq
    assert(a == b)
    assert(a.nonEmpty && a.toSet.subsetOf((0L until 100L).toSet))
  }

  // ---- d65 integer-unit PageRank -------------------------------------

  /** Driver-side reference: the same integer 1e-9-unit power iteration
    * over an undirected pair list. */
  private def refPageRank(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val n = deg.size.toLong
    var r = deg.keys.map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = in.map { case (node, sc) => node -> (150000000L / n + 85L * sc / 100L) }
    }
    r
  }

  test("d65: pageRankOf matches the driver reference exactly (unit longs)") {
    // a hub-and-spoke plus a separate triangle and a 2-chain
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    val got = Dedup.pageRankOf(pairs.toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = refPageRank(pairs, 8)
    assert(got.length == want.size)
    got.foreach { case (node, _, units, pr) =>
      assert(units == want(node), s"node $node: $units != ${want(node)}")
      assert(pr == units.toDouble * 1e-9)
    }
    // the hub out-ranks its spokes; total mass stays within the 1e9 budget
    val byNode = got.map(g => g._1 -> g._3).toMap
    assert(byNode(1L) > byNode(2L))
    assert(got.map(_._3).sum <= 1000000000L)
    // spokes of the same hub tie exactly (symmetry under exact arithmetic)
    assert(Set(byNode(2L), byNode(3L), byNode(4L), byNode(5L)).size == 1)
  }

  test("d65: registered entry runs on testdata with sane shape") {
    val df = Dedup.pageRank(spark, sf)
    val rows = df.collect()
    // sf0.001 may or may not have near-dup pairs; when it does, ranks
    // are positive and nodes unique
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    rows.foreach(r => assert(r.getLong(2) > 0L))
  }

  // ---- d66 MMR diversity selection ------------------------------------

  /** Two tight clusters around orthogonal axes + a lone outlier. */
  private def plantedEmbs = {
    def v(axis: Int, jitter: Float, id: Long): (Long, Array[Float]) = {
      val a = Array.fill(64)(0.01f * ((id % 3) + 1))
      a(axis) = 1.0f + jitter
      (id, a)
    }
    val rows =
      (0L until 10L).map(i => v(0, 0.001f * i, i)) ++ // cluster A
        (10L until 20L).map(i => v(1, 0.001f * (i - 10), i)) ++ // cluster B
        Seq(v(7, 0.5f, 20L)) // outlier
    rows.toDF("vec_id", "embedding")
  }

  test("d66: first two picks span different clusters; pure top-rel would not") {
    val sel = Similarity.mmrSelectOf(plantedEmbs, k = 4, poolSize = 21)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def cluster(id: Long): Int = if (id < 10) 0 else if (id < 20) 1 else 2
    assert(sel.length == 4)
    assert(sel.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // diversity: the second pick leaves the first pick's cluster
    assert(cluster(sel(0)._2) != cluster(sel(1)._2), sel.mkString(","))
    // ids unique
    assert(sel.map(_._2).distinct.length == 4)
  }

  test("d66: round 1 is the relevance argmax; greedy rounds maximize the MMR score") {
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val k = 8
    val sel = Similarity.mmrSelectOf(embs, k = k, poolSize = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(sel.length == k)
    // independent reference: recompute pool + greedy with the same
    // float-op order and assert the same choice sequence
    val mrow = embs.agg(graft.functions.VectorAgg.vectorSum(col("embedding")).as("vs"),
      count(lit(1)).as("n")).collect()(0)
    val n = mrow.getLong(1)
    val mean = mrow.getSeq[Double](0).map(x => (x / n).toFloat).toArray
    def sq(v: Array[Float]) = { var s = 0.0; var i = 0; while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }; s }
    def dot(a: Array[Float], b: Array[Float]) = { var s = 0.0; var i = 0; while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s }
    val mm = sq(mean)
    val all = embs.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .map { case (id, v) => (id, v, dot(v, mean) / (Math.sqrt(sq(v)) * Math.sqrt(mm))) }
    val pool = all.sortBy(t => (-t._3, t._1)).take(32)
    var selected = List.empty[(Long, Array[Float], Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    val picks = (1 to k).map { r =>
      val scored = remaining.map { case (id, v, rel) =>
        val score = if (r == 1) 0.5 * rel
        else 0.5 * rel - 0.5 * selected.map { case (_, sv, _) =>
          dot(v, sv) / (Math.sqrt(sq(v)) * Math.sqrt(sq(sv)))
        }.max
        (id, v, rel, score)
      }
      val best = scored.minBy(t => (-t._4, t._1))
      remaining -= ((best._1, best._2, best._3))
      selected ::= ((best._1, best._2, best._3))
      (r.toLong, best._1, best._3)
    }
    assert(sel.toSeq == picks, s"got ${sel.toSeq}\nwant $picks")
  }

  test("d66: deterministic across re-runs") {
    val a = Similarity.mmrSelect(spark, sf).collect().toSeq
    val b = Similarity.mmrSelect(spark, sf).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  // ---- d67 winnowing ---------------------------------------------------

  /** Reference winnowing over a hash array: per-window leftmost
    * (hash, pos) argmin, distinct selections. */
  private def refWinnow(hs: Seq[Long], w: Int): Seq[Long] = {
    if (hs.isEmpty) return Seq.empty
    val wl = math.min(w, hs.size)
    (0 to hs.size - wl).map { s =>
      (s until s + wl).minBy(p => (hs(p), p))
    }.distinct.map(hs)
  }

  test("d67: WinnowSelect equals the reference argmin scan, incl. ties and short docs") {
    val rnd = new scala.util.Random(17)
    val cases = Seq(
      Seq.empty[Long], Seq(5L), Seq(3L, 3L, 3L), (1L to 7L).reverse.toSeq,
      Seq.fill(40)(rnd.nextLong()), Seq.fill(100)(rnd.nextInt(5).toLong)) ++
      (1 to 20).map(n => Seq.fill(n + rnd.nextInt(60))(rnd.nextInt(8).toLong))
    val df = cases.zipWithIndex.map { case (h, i) => (i, h) }.toDF("i", "hs")
      .select(col("i"),
        graft.functions.VectorExprs.winnowSelect(col("hs"), 8).as("sel"))
    val got = df.collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    cases.zipWithIndex.foreach { case (h, i) =>
      assert(got(i) == refWinnow(h, 8), s"case $i: ${h.take(20)}")
    }
  }

  test("d67: the MOSS guarantee — a shared >= w+k-1 token run yields a shared fingerprint") {
    val shared = (1 to 11).map(i => s"run$i").mkString(" ") // w+k-1 = 11
    val rnd = new scala.util.Random(23)
    def noise(n: Int) = Seq.fill(n)(s"x${rnd.nextInt(1000)}").mkString(" ")
    val docs = Seq(
      (1L, s"${noise(30)} $shared ${noise(20)}", "en", "s1"),
      (2L, s"${noise(25)} $shared ${noise(15)}", "en", "s1"),
      (3L, noise(60), "en", "s1")).toDF("doc_id", "text", "lang", "source")
    val pairs = Dedup.winnowOverlapOf(docs, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), pairs.toString)
  }

  test("d67: fingerprint density lands near 2/(w+1) and the registered entry pairs planted docs") {
    val docs = Dedup.plantPassages(Tables.documents(spark, sf))
    val withFp = docs.select(
      graft.functions.VectorExprs.winnowSelect(
        graft.functions.VectorExprs.ngramHashes(split(lower(col("text")), " "), 4), 8)
        .as("fp"),
      size(split(lower(col("text")), " ")).as("n_toks"))
      .filter(col("n_toks") >= 50)
      .select((size(col("fp")).cast("double") / (col("n_toks") - 3)).as("density"))
      .agg(avg("density")).collect()(0).getDouble(0)
    // theory: 2/(w+1) = 0.222 for random hashes; repeated grams push it
    // slightly off — accept a generous band
    assert(withFp > 0.12 && withFp < 0.35, s"density $withFp")
    val rep = Dedup.winnowOverlap(spark, sf)
    val rows = rep.collect()
    assert(rows.nonEmpty, "planted passages produced no pairs")
    rows.foreach { r =>
      assert(r.getLong(2) >= 2)
      val res = r.getDouble(3)
      assert(res > 0.0 && res <= 1.0)
    }
  }

  // ---- d68 Bloom decontamination --------------------------------------

  test("d68: no false negatives — bloom flags every doc the exact d24 gate flags") {
    val sfd = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, sfd).select("doc_id", "text")
    val exact = Curation.decontaminateOf(
      docs.filter(col("doc_id") % 7 =!= 0), docs.filter(col("doc_id") % 7 === 0))
      .collect().map(_.getLong(0)).toSet
    val bloom = Curation.bloomDecon(spark, sfd)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(bloom),
      s"false negatives: ${(exact -- bloom).take(5)}")
    // and the FP overhead is bounded at this fill (~5%, 3 probes)
    assert(bloom.size <= exact.size + math.max(5, exact.size / 2),
      s"bloom ${bloom.size} vs exact ${exact.size}")
  }

  test("d68: a true member's every gram hits (bench probed against itself)") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val self = Curation.bloomDeconOf(bench, bench).collect()
    assert(self.nonEmpty)
    self.foreach(r => assert(r.getLong(2) === r.getLong(1),
      s"doc ${r.getLong(0)}: ${r.getLong(2)} hits of ${r.getLong(1)} grams"))
  }

  test("d68: disjoint-vocab clean docs stay clean (deterministic FP check)") {
    val bench = (0L until 20L)
      .map(i => (i, (1 to 30).map(j => s"bench${i}tok$j").mkString(" ")))
      .toDF("doc_id", "text")
    val clean = (100L until 120L)
      .map(i => (i, (1 to 30).map(j => s"clean${i}tok$j").mkString(" ")))
      .toDF("doc_id", "text")
    val rep = Curation.bloomDeconOf(clean, bench).collect()
    assert(rep.length == 20)
    // ~440 bench grams fill ~0.03% of 2^22 bits: a 3-probe FP at this
    // fill is ~1e-11 per gram — deterministic inputs, so this is a
    // fixed outcome, not a flaky sample
    rep.foreach(r => assert(r.getLong(2) == 0L, s"FP on doc ${r.getLong(0)}"))
  }
}
