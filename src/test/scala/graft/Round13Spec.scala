package graft

/** Round-13 first-pass additions: DirMemo content fingerprinting,
  * bounded CEP quantifiers, q56 size-gated join regimes. */
class Round13Spec extends SparkSpec {

  test("DirMemo: rebuilds on content change, reuses on identical content") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo").toFile
    val f = new java.io.File(dir, "t.parquet")
    java.nio.file.Files.write(f.toPath, "v1".getBytes)
    f.setLastModified(1000000L)

    var builds = 0
    def get(): String =
      graft.ops.DirMemo.cached(spark, dir.getPath, "spec") { builds += 1; s"b$builds" }

    assert(get() == "b1" && get() == "b1", "identical content must reuse")

    // same size, different mtime -> rebuild
    f.setLastModified(2000000L)
    assert(get() == "b2", "mtime change must invalidate")

    // different size, same mtime -> rebuild
    java.nio.file.Files.write(f.toPath, "longer".getBytes)
    f.setLastModified(2000000L)
    assert(get() == "b3", "size change must invalidate")

    // a NEW file in the dir -> rebuild
    java.nio.file.Files.write(new java.io.File(dir, "u.parquet").toPath, "x".getBytes)
    assert(get() == "b4", "added file must invalidate")
    assert(get() == "b4", "steady state reuses again")

    // distinct tags are independent entries
    val other = graft.ops.DirMemo.cached(spark, dir.getPath, "spec2") { "other" }
    assert(other == "other" && get() == "b4")
  }

  test("q64 bounded CEP: alternation, {1,2} bounds, overflow/underflow kill, restart, expiry") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val spanUs = 60L * 60000000L // 60 minutes
    // user 1: view c purchase               -> match, n_mid=1
    // user 2: SIGNUP c c purchase           -> match via start alternation, n_mid=2
    // user 3: view purchase                 -> underflow (0 mids), end kills, no match
    // user 4: view c c c purchase           -> overflow at 3rd click, no match
    // user 5: view c c c VIEW c purchase    -> restart at 2nd view, match n_mid=1
    // user 6: view c purchase@70min         -> span expiry, no match
    // user 7: signup error c purchase       -> abort on error, no match
    val rows = Seq(
      (1L, 10L, "view"), (2L, 11L, "click"), (3L, 12L, "purchase"),
      (10L, 10L, "signup"), (11L, 11L, "click"), (12L, 12L, "click"), (13L, 13L, "purchase"),
      (20L, 0L, "view"), (21L, 5L, "purchase"), (22L, 6L, "click"), (23L, 7L, "purchase"),
      (30L, 0L, "view"), (31L, 1L, "click"), (32L, 2L, "click"), (33L, 3L, "click"),
      (34L, 4L, "purchase"),
      (40L, 0L, "view"), (41L, 1L, "click"), (42L, 2L, "click"), (43L, 3L, "click"),
      (44L, 10L, "view"), (45L, 11L, "click"), (46L, 12L, "purchase"),
      (50L, 0L, "view"), (51L, 30L, "click"), (52L, 70L, "purchase"),
      (60L, 0L, "signup"), (61L, 1L, "error"), (62L, 2L, "click"), (63L, 3L, "purchase")
    ).map { case (eid, m, et) => (eid / 10, ts(m), eid, et) }
      .toDF("user_id", "ts", "event_id", "event_type")

    val got = operators.Cep.eventPatternOf(rows, spanUs,
        startTypes = Seq("view", "signup"), minMid = 1, maxMid = 2)
      .select("user_id", "start_event_id", "end_event_id", "n_mid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == Seq((0L, 1L, 3L, 1), (1L, 10L, 13L, 2), (4L, 44L, 46L, 1)))

    // default bounds reproduce the q57 mid* machine exactly
    val star = operators.Cep.eventPatternOf(rows, spanUs,
        startTypes = Seq("view", "signup"))
      .select("user_id", "start_event_id", "n_mid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(star.contains((2L, 20L, 0)), "mid* must admit the 0-mid match q64 rejects")
    assert(star.contains((3L, 30L, 3)), "mid* must admit the 3-mid match q64 rejects")
  }

  test("q64 via the event_pattern TVF: 7-arg SQL form matches the Scala entry") {
    Graft.install(spark)
    Tables.events(spark, sf).createOrReplaceTempView("g13_events")
    val viaSql = spark.sql(
      """SELECT * FROM event_pattern('g13_events', 172800000000,
        |  'view,signup', 'click', 'purchase', 1, 2)""".stripMargin)
      .collect().map(_.toString).sorted.toSeq
    val viaScala = operators.Cep.eventPatternBounded(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(viaSql == viaScala && viaSql.nonEmpty)
  }

  test("q56 size-gated joins: broadcast regime and forced-shuffle regime agree") {
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect() // AQE finalizes the physical plan only after execution
      df.queryExecution.executedPlan.toString
    }
    val fast = operators.Relational.rangeJoin(spark, sf)
    val fastRows = fast.collect().map(_.toString).toSeq
    val fastPlan = finalPlan(fast)
    assert(!fastPlan.contains("BroadcastNestedLoopJoin") &&
      !fastPlan.contains("CartesianProduct"), s"nested loop crept back:\n$fastPlan")
    assert(fastPlan.contains("BroadcastHashJoin"),
      s"AQE should broadcast the days-sized rollup in the default regime:\n$fastPlan")

    // adversarial regime: thresholds -1 model a small side past executor
    // memory — AQE must leave both joins as shuffle joins
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    try {
      thresholds.foreach(spark.conf.set(_, "-1"))
      val slow = operators.Relational.rangeJoin(spark, sf)
      val slowPlan = finalPlan(slow)
      assert(!slowPlan.contains("BroadcastHashJoin") &&
        !slowPlan.contains("BroadcastNestedLoopJoin"),
        s"threshold -1 must force the shuffle-join regime:\n$slowPlan")
      assert(slowPlan.contains("SortMergeJoin") || slowPlan.contains("ShuffledHashJoin"),
        s"no shuffle join in the adversarial regime:\n$slowPlan")
      val slowRows = slow.collect().map(_.toString).toSeq
      assert(slowRows == fastRows, "regimes must produce identical rows")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("shared tokLong cut: every rewired entry equals its pure tokenize-in-core twin") {
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    val docs = Tables.documents(spark, sf)
    assert(rows(operators.CorpusStats.vocabCoverage(spark, sf)) ==
      rows(operators.CorpusStats.vocabCoverageOf(docs.select("text"), k = 100)))
    assert(rows(operators.CorpusStats.unigramNll(spark, sf)) ==
      rows(operators.CorpusStats.unigramNllOf(docs.select("doc_id", "text"), vocabCap = 1000)))
    assert(rows(operators.CorpusStats.unigramDrift(spark, sf)) ==
      rows(operators.CorpusStats.unigramDriftOf(docs.select("source", "text"))))
    val dt = docs.select("doc_id", "text")
    assert(rows(operators.Curation.dsirWeights(spark, sf)) ==
      rows(operators.Curation.dsirWeightsOf(dt, dt.filter(col("doc_id") % 7 === 0))))
    assert(rows(functions.TextFns.heavyTokens(spark, sf)) ==
      rows(functions.TextFns.heavyTokensOf(docs)))
  }

  test("DirMemo: fingerprint walks dir-style datasets one level deep") {
    val root = java.nio.file.Files.createTempDirectory("graft_memo2").toFile
    val sub = new java.io.File(root, "part.parquet")
    sub.mkdir()
    java.nio.file.Files.write(new java.io.File(sub, "part-0").toPath, "a".getBytes)
    val fp1 = graft.ops.DirMemo.fingerprint(root.getPath)
    java.nio.file.Files.write(new java.io.File(sub, "part-1").toPath, "b".getBytes)
    val fp2 = graft.ops.DirMemo.fingerprint(root.getPath)
    assert(fp1 != fp2, "nested part file must change the fingerprint")
    assert(graft.ops.DirMemo.fingerprint(root.getPath) == fp2)
  }
}
