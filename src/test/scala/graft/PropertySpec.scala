package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.VectorExprs
import graft.operators.Dedup

/** Property-based invariants for the custom expressions and graph
  * clustering — randomized inputs, exact reference implementations. */
class PropertySpec extends SparkSpec {

  /** Deterministic sampler: draw n samples from a Gen with fixed seeds. */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val word = Gen.oneOf("the", "a", "data", "table", "join", "spark",
    "row", "fast", "slow", "window", "batch", "merge", "scan", "key")
  private val wordArray = Gen.listOfN(30, word).map(_.toArray)

  /** Runs EventMatches (the one CepMachine) over (ts, id, tag) rows. */
  private def cepMatches(rows: Seq[(Long, Long, Int)], span: Long, minMid: Int,
      maxMid: Int): Seq[(Long, Long, Long, Long, Int)] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    val in: ArrayData = new GenericArrayData(
      rows.map { case (t, id, tag) => InternalRow(t, id, tag) }.toArray[Any])
    val got = graft.functions.EventMatches(
        org.apache.spark.sql.graftshim.toExpr(lit(1)), span, minMid, maxMid)
      .nullSafeEval(in).asInstanceOf[ArrayData]
    (0 until got.numElements()).map { i =>
      val r = got.getStruct(i, 5)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))
    }
  }

  /** Random (span, minMid, maxMid, (ts, id, tag) rows) over the given tags. */
  private def cepCases(tag: Gen[Int], count: Int): Seq[(Long, Int, Int, Seq[(Long, Long, Int)])] = {
    val gen = for {
      n <- Gen.choose(0, 120)
      span <- Gen.oneOf(1L, 3L, 7L, 20L, 1000L)
      minMid <- Gen.choose(0, 2)
      width <- Gen.choose(0, 5)
      tags <- Gen.listOfN(n, tag)
      gaps <- Gen.listOfN(n, Gen.choose(0L, 5L)) // zero gaps ⇒ ts ties
    } yield (span, minMid, minMid + width, tags.zip(gaps))
    samples(gen, count).map { case (span, mn, mx, evs) =>
      var ts = 0L
      (span, mn, mx, evs.zipWithIndex.map { case ((tag, gap), i) =>
        ts += gap; (ts, i.toLong, tag)
      })
    }
  }

  test("CEP machine on disjoint tag sets equals a single-attempt skip-past-last reference") {
    // reference: the q57/q64 automaton as declared — ONE attempt at a
    // time, AFTER MATCH SKIP PAST LAST ROW; a start restarts it, an end
    // closes it (a match iff the mid count is in bounds), a mid past
    // maxMid or out of span kills it, any other row kills it
    def ref(rows: Seq[(Long, Long, Int)], spanUs: Long, minMid: Int,
        maxMid: Int): Seq[(Long, Long, Long, Long, Int)] = {
      val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Int)]
      var started = false
      var sTs = 0L; var sId = 0L; var nMid = 0
      for ((ts, id, tag) <- rows) {
        val inSpan = started && ts - sTs <= spanUs
        if (inSpan && tag == 2) {
          if (nMid >= minMid && nMid <= maxMid) out += ((sId, sTs, id, ts, nMid))
          started = false
        } else if (inSpan && tag == 1) {
          nMid += 1
          if (nMid > maxMid) started = false
        } else if (tag == 0) {
          started = true; sTs = ts; sId = id; nMid = 0
        } else started = false
      }
      out.toSeq
    }
    var matched = 0
    cepCases(Gen.frequency(3 -> 0, 4 -> 1, 2 -> 2, 1 -> 3), 400).foreach {
      case (span, mn, mx, rows) =>
        val want = ref(rows, span, mn, mx)
        matched += want.size
        assert(cepMatches(rows, span, mn, mx) == want, s"span=$span mid=[$mn,$mx] rows=$rows")
    }
    assert(matched >= 200, s"fixture rot: only $matched matches across all cases")
  }

  test("skip-to-next CEP deque equals the quadratic reference on random tag streams") {
    // reference: the per-attempt list advance (the O(span²) formulation
    // the mid-counter deque replaced) — kept as the executable spec of
    // the skip-to-next semantics
    def ref(rows: Seq[(Long, Long, Int)], spanUs: Long, minMid: Int,
        maxMid: Int): Seq[(Long, Long, Long, Long, Int)] = {
      final class Att(val sTs: Long, val sId: Long) { var nMid = 0 }
      val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Int)]
      var open = collection.mutable.ArrayBuffer.empty[Att]
      for ((ts, id, tag) <- rows) {
        open = open.filter(a => ts - a.sTs <= spanUs)
        tag match {
          case 2 =>
            open.foreach(a => if (a.nMid >= minMid && a.nMid <= maxMid)
              out += ((a.sId, a.sTs, id, ts, a.nMid)))
            open.clear()
          case 1 =>
            open.foreach(_.nMid += 1); open = open.filter(_.nMid <= maxMid)
          case 0 =>
            open.clear(); open += new Att(ts, id)
          case 4 =>
            open.foreach(_.nMid += 1); open = open.filter(_.nMid <= maxMid)
            open += new Att(ts, id)
          case _ => open.clear()
        }
      }
      out.toSeq
    }
    cepCases(Gen.frequency(2 -> 0, 3 -> 1, 2 -> 2, 1 -> 3, 3 -> 4), 400).foreach {
      case (span, mn, mx, rows) =>
        assert(cepMatches(rows, span, mn, mx) == ref(rows, span, mn, mx),
          s"span=$span mid=[$mn,$mx] rows=$rows")
    }
  }

  test("IntersectCount equals reference set-intersection size on random inputs") {
    import spark.implicits._
    samples(Gen.listOfN(20, Gen.zip(wordArray, wordArray)), 5).foreach { pairs =>
      if (pairs.nonEmpty) {
        val df = pairs.toDF("a", "b")
        val got = df.select(
          VectorExprs.intersectCount(array_distinct(col("a")), array_distinct(col("b"))).as("n"))
          .collect().map(_.getLong(0)).toSeq
        val want = pairs.map { case (a, b) => a.toSet.intersect(b.toSet).size.toLong }
        assert(got == want)
      }
    }
  }

  test("DotProductI8 equals the interpreted aggregate(zip_with) HOF on random int8 vectors") {
    import spark.implicits._
    val byteGen = Gen.chooseNum(-127, 127).map(_.toByte)
    // Seq[Byte] → array<tinyint> (Array[Byte] would encode as BINARY)
    val vecs = samples(Gen.listOfN(25, Gen.zip(
      Gen.listOfN(64, byteGen).map(_.toSeq),
      Gen.listOfN(64, byteGen).map(_.toSeq))), 4).flatten
    val df = vecs.toDF("a", "b")
    val hof = expr("aggregate(zip_with(a, b, (x, y) -> cast(x as long) * cast(y as long)), 0L, (acc, v) -> acc + v)")
    val bad = df.select(VectorExprs.dotI8(col("a"), col("b")).as("fast"), hof.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad == 0, "codegen int8 dot must equal the declarative HOF")
  }

  test("Quantize8 equals the declarative HOF quantizer, including all-zero and negative-half vectors") {
    import spark.implicits._
    val floatGen = Gen.chooseNum(-1000, 1000).map(_.toFloat / 16f)
    val vecs = samples(Gen.listOfN(25, Gen.listOfN(64, floatGen).map(_.toArray)), 4).flatten ++
      Seq(Array.fill(64)(0f),            // degenerate: scale floor must prevent NaN
          Array.tabulate(64)(i => if (i == 0) 2f else -1f)) // -1/2·127 = -63.5 → -64 (HALF_UP)
    val df = vecs.toDF("v")
    // the formulation Quantize8 replaced: HOF max-abs scale + Spark round()
    val scale = greatest(expr("aggregate(v, 0D, (acc, x) -> greatest(acc, abs(x)))"),
      lit(java.lang.Double.MIN_VALUE))
    val refQ = transform(col("v"), x => round(x / scale * 127.0).cast("tinyint"))
    val bad = df.select(VectorExprs.quantize8(col("v")).as("q"),
        refQ.as("ref_q"), scale.as("ref_scale"))
      .filter(col("q.q") =!= col("ref_q") || col("q.scale") =!= col("ref_scale"))
      .count()
    assert(bad == 0, "codegen quantizer must equal the declarative HOF formulation")
  }

  test("SigAgreeCount and PackSigns64 equal their declarative HOF formulations") {
    import spark.implicits._
    val longGen = Gen.chooseNum(Long.MinValue, Long.MaxValue)
    val sigPairs = samples(Gen.listOfN(20, Gen.zip(
      Gen.listOfN(16, longGen).map(_.toSeq),
      Gen.listOfN(16, longGen).map(_.toSeq))), 3).flatten
      // force some agreements: pair each signature with itself too
      .flatMap { case (a, b) => Seq((a, b), (a, a)) }
    val sdf = sigPairs.toDF("sig_a", "sig_b")
    val agreeBad = sdf.select(VectorExprs.sigAgree(col("sig_a"), col("sig_b")).as("fast"),
        expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), z -> z))").as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(agreeBad == 0, "codegen agreement count must equal the HOF")
    val floatGen = Gen.chooseNum(-100, 100).map(_.toFloat / 8f)
    val vecs = samples(Gen.listOfN(20, Gen.listOfN(64, floatGen).map(_.toArray)), 3)
      .flatten ++ Seq(Array.fill(64)(0f))
    val vdf = vecs.toDF("v")
    val packBad = vdf.select(VectorExprs.packSigns64(col("v")).as("fast"),
        expr("""aggregate(zip_with(v, sequence(0, 63),
               |  (x, i) -> if(x > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))),
               |  cast(0 as bigint), (acc, b) -> acc | b)""".stripMargin).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(packBad == 0, "codegen sign packing must equal the HOF")
  }

  test("connected components match brute-force union-find on random graphs") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(25, Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))
      .map(_.filter(e => e._1 != e._2))
    // plus a 20-node chain whose minimum sits at one end: diameter 19
    // takes the distributed loop through three 8-round batches
    val chain = (1L until 20L).map(i => (i + 1, i))
    (samples(edgeGen, 5) :+ chain).foreach { edges =>
      if (edges.nonEmpty) {
        val pairs = edges.toDF("id_a", "id_b")
        def labels(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // the public operator (driver union-find here) and the
        // distributed loop must BOTH match the brute force
        val cc = labels(Dedup.connectedComponents(pairs))
        assert(labels(Dedup.propagateLabels(pairs)) == cc,
          s"propagateLabels diverged from connectedComponents on $edges")
        // brute-force union-find
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // same partition structure: two nodes share a spark cluster iff
        // they share a union-find root
        for (x <- nodes; y <- nodes) {
          assert((cc(x) == cc(y)) == (find(x) == find(y)),
            s"nodes $x,$y disagree: cc=${cc(x)},${cc(y)} uf=${find(x)},${find(y)}")
        }
      }
    }
  }

  test("option-symbol codec round-trips arbitrary (root, date, cp, strike)") {
    import spark.implicits._
    val symGen = for {
      root <- Gen.oneOf("SPX", "SPXW", "NDX", "RUT", "XSP")
      days <- Gen.choose(0, 365 * 40) // 2024-01-01 .. ~2063 (two-digit-year safe)
      cp <- Gen.oneOf("C", "P")
      strike1000 <- Gen.choose(1L, 99999999L)
    } yield (root, days, cp, strike1000)
    val cases = samples(Gen.listOfN(50, symGen), 4).flatten
    val df = cases.toDF("root0", "days", "cp_c", "strike1000")
      .withColumn("expiry0",
        date_add(to_date(lit("2024-01-01")), col("days").cast("int")))
      .withColumn("symbol", concat(
        rpad(col("root0"), 6, " "),
        date_format(col("expiry0"), "yyMMdd"),
        col("cp_c"),
        lpad(col("strike1000").cast("string"), 8, "0")))
      // decode exactly as Chains.parseSymbols does
      .withColumn("root", trim(substring(col("symbol"), 1, 6)))
      .withColumn("expiry", to_date(substring(col("symbol"), 7, 6), "yyMMdd"))
      .withColumn("cp", when(substring(col("symbol"), 13, 1) === "C", 1).otherwise(-1))
      .withColumn("strike", substring(col("symbol"), 14, 8).cast("long"))
    assert(df.filter(col("root") =!= col("root0")).count() == 0)
    assert(df.filter(col("expiry") =!= col("expiry0")).count() == 0)
    assert(df.filter(col("strike") =!= col("strike1000")).count() == 0)
    assert(df.filter((col("cp") === 1) =!= (col("cp_c") === "C")).count() == 0)
  }

  test("minhash signature agreement is monotone-ish in true jaccard (sanity)") {
    // identical docs agree on all perms; disjoint docs agree on ~none
    import spark.implicits._
    val a = Array("a", "b", "c", "d", "e", "f", "g", "h")
    val df = Seq((a, a), (a, Array("x1", "x2", "x3", "x4", "x5", "x6", "x7", "x8")))
      .toDF("wa", "wb")
      .select(
        VectorExprs.minhashShingleSig(col("wa"), 3, 16).as("sa"),
        VectorExprs.minhashShingleSig(col("wb"), 3, 16).as("sb"))
      .select(expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), z -> z))").as("agree"))
      .collect().map(_.getInt(0))
    assert(df(0) == 16, "identical docs must agree on every permutation")
    assert(df(1) <= 2, s"disjoint docs agreed on ${df(1)}/16 permutations")
  }

  test("PackSeqs equals the greedy reference on random items/capacities; capacity invariant holds") {
    import spark.implicits._
    val itemGen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(0L, 1000L), Gen.chooseNum(1, 30)))
      .map(_.distinctBy(_._1))
    samples(Gen.zip(itemGen, Gen.chooseNum(5, 60)), 12).foreach { case (items0, cap) =>
      val items = items0.sortBy(_._1)
      if (items.nonEmpty) {
        val got = Seq(items.map { case (id, nt) => (id, nt) })
          .toDF("items")
          .select(explode(graft.functions.VectorExprs.packSeqs(
            expr("transform(items, x -> struct(x._1 as doc_id, x._2 as n_tok))"), cap)).as("p"))
          .select("p.doc_id", "p.n_tok", "p.seq_id", "p.tok_offset")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
        // greedy reference
        var seq = 0; var acc = 0
        val want = items.zipWithIndex.map { case ((id, nt), i) =>
          if (i == 0 || acc + nt > cap) { seq += 1; acc = 0 }
          val off = acc; acc += nt; (id, nt, seq, off)
        }
        assert(got == want, s"cap=$cap items=$items")
        // invariant: every sequence holding 2+ docs fits the capacity
        got.groupBy(_._3).foreach { case (s, ds) =>
          val tot = ds.map(_._2).sum
          assert(ds.size == 1 || tot <= cap, s"seq $s overflows: $tot > $cap")
        }
        // invariant: seq ids are contiguous from 1
        val ids = got.map(_._3).distinct.sorted
        assert(ids == (1 to ids.size).toList)
      }
    }
  }

  test("TokenBitset/BitsetIntersect equal reference set intersection over a shared vocabulary") {
    import spark.implicits._
    val vocabWords = ('a' to 'z').map(c => s"w_$c").toArray
    val vocab = new graft.functions.TokenVocab(vocabWords)
    val wGen = Gen.oneOf(vocabWords.toSeq)
    val setGen = Gen.listOfN(15, wGen).map(_.distinct)
    samples(Gen.listOfN(25, Gen.zip(setGen, setGen)), 4).foreach { pairs =>
      if (pairs.nonEmpty) {
        val got = pairs.toDF("a", "b")
          .select(graft.functions.VectorExprs.bitsetIntersect(
            graft.functions.VectorExprs.tokenBitset(col("a"), vocab),
            graft.functions.VectorExprs.tokenBitset(col("b"), vocab)).as("n"))
          .collect().map(_.getLong(0)).toSeq
        val want = pairs.map { case (a, b) => a.toSet.intersect(b.toSet).size.toLong }
        assert(got == want)
      }
    }
  }

  test("GopherAll equals the brute-force char-mass scan on random word arrays") {
    import spark.implicits._
    val topKs = graft.operators.Curation.GopherTopThresholds
    val dupKs = graft.operators.Curation.GopherDupThresholds
    def brute(ws: Seq[String], k: Int): (Long, Long) = {
      if (ws.length < k) return (0L, 0L)
      val counts = ws.sliding(k).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (g, o) => g -> o.size }
      val (bg, bc) = counts.maxBy { case (g, c) => (c, g) }
      (bc.toLong * bg.length,
        counts.collect { case (g, c) if c >= 2 => c.toLong * g.length }.sum)
    }
    val docGen = Gen.chooseNum(1, 25).flatMap(n => Gen.listOfN(n, word))
    samples(Gen.listOfN(20, docGen), 5).foreach { docs =>
      if (docs.nonEmpty) {
        val texts = docs.map(_.mkString(" "))
        val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
          .select(col("doc_id"), inline(array(graft.functions.VectorExprs.gopherAll(
            split(col("text"), " "), length(col("text")).cast("long"), topKs, dupKs))))
          .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
        texts.zipWithIndex.foreach { case (t, i) =>
          val ws = t.split(" ", -1).toSeq
          val nc = t.length.toDouble
          val fr = topKs.map { case (k, _) => brute(ws, k)._1 / nc } ++
            dupKs.map { case (k, _) => brute(ws, k)._2 / nc }
          val keep = (topKs.map(_._2) ++ dupKs.map(_._2)).zip(fr).forall {
            case (t0, f) => f < t0
          }
          assert(got(i.toLong) == (fr :+ keep), s"doc $i '$t'")
        }
      }
    }
  }

  test("URL normalization is idempotent on random messy URLs") {
    import spark.implicits._
    val scheme = Gen.oneOf("http", "HTTP", "https", "HTTPS", "hTtPs")
    val host = Gen.oneOf("Foo.COM", "bar.example.org", "WWW.Baz.io", "a.b.NET")
    val port = Gen.oneOf("", ":80", ":443", ":8080")
    val path = Gen.oneOf("/x", "/x/y", "/x/y/", "")
    val query = Gen.oneOf("", "?utm_a=1", "?id=2", "?utm_a=1&id=2",
      "?id=2&utm_b=3", "?utm_a=1&utm_b=2")
    val url = for {
      s <- scheme; h <- host; p <- port; pa <- path; q <- query
    } yield s"$s://$h$p$pa$q"
    val urls = samples(Gen.listOfN(40, url), 5).flatten.distinct
      .zipWithIndex.map { case (u, i) => (i.toLong, u) }
    val once = graft.operators.Curation.normalizeUrlCols(urls.toDF("doc_id", "url"))
      .select(col("doc_id"), col("url_norm"), col("domain"))
    // re-normalizing a normalized URL must be a fixed point
    val twice = graft.operators.Curation.normalizeUrlCols(
        once.select(col("doc_id"), col("url_norm").as("url")))
      .select(col("doc_id"), col("url_norm"), col("domain"))
    assert(once.exceptAll(twice).count() == 0 && twice.exceptAll(once).count() == 0,
      "normalization is not idempotent")
    // every domain is lowercase, www-free, and port-free
    val badDomain = once.filter(col("domain").rlike("[A-Z]") ||
      col("domain").startsWith("www.") || col("domain").contains(":")).count()
    assert(badDomain == 0, "domain extraction leaked case/www/port")
  }

  test("boilerplateScrub invariants on random corpora: counts consistent, high threshold is identity") {
    import spark.implicits._
    val docsGen = Gen.listOfN(30, Gen.listOfN(11, word).map(_.mkString(" ")))
    samples(docsGen, 4).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.operators.Curation.boilerplateScrubOf(df, minDocs = 2).cache()
      // dropped never exceeds total; kept words = total minus dropped-block words
      assert(out.filter(col("n_boiler") > col("n_blocks")).count() == 0)
      val badLen = out
        .join(df, "doc_id")
        .withColumn("kept_words",
          size(array_remove(split(col("text_clean"), " "), "")))
        // every block is 3 words except one ≤2-word tail per doc; with
        // 11-word docs each has 3 full blocks + a 2-word tail, and only
        // full blocks can drop: kept = 11 − 3·n_boiler
        .filter(col("kept_words") =!= lit(11) - col("n_boiler") * 3)
        .count()
      assert(badLen == 0, "kept word count inconsistent with dropped full blocks")
      out.unpersist()
      // threshold above the corpus size: nothing drops, text reconstructs
      val id = graft.operators.Curation.boilerplateScrubOf(df, minDocs = texts.size + 1)
      assert(id.filter(col("n_boiler") =!= 0).count() == 0)
      assert(id.join(df, "doc_id").filter(col("text_clean") =!= col("text")).count() == 0,
        "identity threshold failed to reconstruct the original text")
    }
  }
}
