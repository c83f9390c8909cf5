package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pure-`spark.sql` reachability of the engine: every TVF produces rows
  * hash-identical to its registered Scala entry (the reference's user
  * surface is SQL stored procedures — capability parity means SQL
  * reachability, not just a Scala API). */
class SqlSurfaceSpec extends SparkSpec {

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def installAndViews(): Unit = {
    Graft.install(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("g_docs")
    Tables.events(spark, sf).createOrReplaceTempView("g_events")
  }

  test("asof_join TVF: q26 shape in pure SQL, hash parity, custom exec engaged") {
    installAndViews()
    val ev = Tables.events(spark, sf)
    ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
      .createOrReplaceTempView("g_trades")
    ev.filter(col("event_type") === "view")
      .select(col("user_id").as("user_id_r"), col("ts").as("q_ts"),
        col("value").as("q_value"), col("event_id").as("q_event_id"))
      .createOrReplaceTempView("g_quotes")
    val viaSql = spark.sql(
      """SELECT event_id, user_id, ts, value, q_value, q_ts
        |FROM asof_join('g_trades', 'g_quotes', 'user_id', 'ts',
        |               'user_id_r', 'q_ts', 'event_id', 'q_event_id')
        |ORDER BY event_id""".stripMargin)
    assert(viaSql.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      "SQL asof_join must plan through AsOfJoinExec")
    val viaScala = operators.TimeSeries.asofJoinCustom(spark, sf)
    assert(canon(viaSql) == canon(viaScala))
    assert(viaSql.count() > 0)
  }

  test("ngram_jaccard TVF: d4 miner in pure SQL, hash parity") {
    installAndViews()
    val viaSql = spark.sql("SELECT * FROM ngram_jaccard('g_docs')")
    val viaScala = operators.Dedup.ngramJaccard(spark, sf)
    assert(canon(viaSql) == canon(viaScala))
  }

  test("containment_pairs TVF: d62 miner in pure SQL, hash parity + threshold arg") {
    installAndViews()
    val viaSql = spark.sql("SELECT * FROM containment_pairs('g_docs')")
    val viaScala = operators.Dedup.containment(spark, sf)
    assert(canon(viaSql) == canon(viaScala))
    // a looser threshold can only grow the pair set
    val loose = spark.sql("SELECT * FROM containment_pairs('g_docs', 8, 10)")
    assert(loose.count() >= viaSql.count())
  }

  test("bm25_search TVF: d48 battery in pure SQL, hash parity + ad-hoc query") {
    installAndViews()
    val viaSql = spark.sql("SELECT * FROM bm25_search('g_docs')")
    val viaScala = operators.Retrieval.bm25Search(spark, sf)
    assert(canon(viaSql) == canon(viaScala))
    val adhoc = spark.sql(
      "SELECT * FROM bm25_search('g_docs', 42, 'fast vector query') ORDER BY rnk")
      .collect()
    assert(adhoc.nonEmpty && adhoc.forall(_.getInt(0) == 42))
    assert(adhoc.map(_.getInt(1)).toSeq == (1 to adhoc.length))
  }

  test("event_pattern TVF: q57 CEP in pure SQL, hash parity + parameterized tags") {
    installAndViews()
    val viaSql = spark.sql("SELECT * FROM event_pattern('g_events')")
    val viaScala = operators.Cep.eventPattern(spark, sf)
    assert(canon(viaSql) == canon(viaScala))
    // parameterized: error-free checkout funnels (view|search start)
    val params = spark.sql(
      """SELECT * FROM event_pattern('g_events', 172800000000,
        |  'view,search', 'click,add_to_cart', 'purchase')""".stripMargin)
    val paramsScala = operators.Cep.eventPatternOf(
      Tables.events(spark, sf), 172800000000L,
      Seq("view", "search"), Seq("click", "add_to_cart"), Seq("purchase"))
    assert(canon(params) == canon(paramsScala))
  }

  test("gopher_stats scalar from SQL matches the Column API") {
    installAndViews()
    val viaSql = spark.sql(
      """SELECT doc_id, gopher_stats(split(lower(text), ' '), 2) AS g
        |FROM g_docs ORDER BY doc_id""".stripMargin)
    val viaCol = Tables.documents(spark, sf)
      .select(col("doc_id"),
        functions.VectorExprs.gopherStats(split(lower(col("text")), " "), 2).as("g"))
      .orderBy("doc_id")
    assert(canon(viaSql) == canon(viaCol))
  }

  test("curation/dedup flagship TVFs: hash parity with their registered entries") {
    installAndViews()
    // each TVF must produce rows hash-identical to the registered
    // Scala entry it SQL-exposes (same *Of core, same plan shape)
    val parity = Seq(
      "SELECT * FROM exact_dedup('g_docs')" ->
        operators.Dedup.exactDedup(spark, sf),
      "SELECT * FROM span_dedup('g_docs')" ->
        functions.TextFns.spanDedup(spark, sf),
      "SELECT * FROM boilerplate_scrub('g_docs')" ->
        operators.Curation.boilerplateScrub(spark, sf),
      "SELECT * FROM gopher_gate('g_docs')" ->
        operators.Curation.gopherRepetition(spark, sf),
      "SELECT * FROM corpus_report('g_docs')" ->
        operators.CorpusStats.corpusReport(spark, sf))
    parity.foreach { case (sql, scala) =>
      val viaSql = spark.sql(sql)
      assert(canon(viaSql) == canon(scala), s"TVF != entry for: $sql")
      assert(viaSql.count() > 0, s"empty TVF result for: $sql")
    }

    // url_filter takes a (doc_id, url) view + an optional blocklist csv
    operators.Curation.withUrls(
      Tables.documents(spark, sf).select("doc_id", "source"))
      .createOrReplaceTempView("g_urls")
    val blockCsv = operators.Curation.UrlBlocklist.mkString(",")
    assert(canon(spark.sql(s"SELECT * FROM url_filter('g_urls', '$blockCsv')"))
      == canon(operators.Curation.urlFilter(spark, sf)))
    // default blocklist = the registered entry's list
    assert(canon(spark.sql("SELECT * FROM url_filter('g_urls')"))
      == canon(operators.Curation.urlFilter(spark, sf)))
    // an explicit empty-ish blocklist changes the gate, not the dedup
    val open = spark.sql("SELECT * FROM url_filter('g_urls', 'nowhere.example')")
    assert(open.filter(col("keep")).count()
      >= operators.Curation.urlFilter(spark, sf).filter(col("keep")).count())

    // boilerplate_scrub min_docs param reaches the core
    val strict = spark.sql("SELECT * FROM boilerplate_scrub('g_docs', 2)")
    val loose = spark.sql("SELECT * FROM boilerplate_scrub('g_docs', 1000000)")
    assert(strict.count() <= loose.count())
  }

  test("batch-2 TVFs (text analysis / corpus stats / near-dup): hash parity") {
    installAndViews()
    val parity = Seq(
      "SELECT * FROM lang_id('g_docs')" -> functions.TextFns.langId(spark, sf),
      "SELECT * FROM quality_score('g_docs')" -> functions.TextFns.qualityScore(spark, sf),
      "SELECT * FROM token_count('g_docs')" -> functions.TextFns.tokenCount(spark, sf),
      "SELECT * FROM text_clean('g_docs')" -> functions.TextFns.textClean(spark, sf),
      "SELECT * FROM doc_fingerprint('g_docs')" -> functions.TextFns.fingerprint(spark, sf),
      "SELECT * FROM tfidf_rank('g_docs')" -> functions.TextFns.tfidfRank(spark, sf),
      "SELECT * FROM chunk_docs('g_docs')" -> functions.TextFns.chunkDocs(spark, sf),
      "SELECT * FROM heavy_tokens('g_docs')" -> functions.TextFns.heavyTokens(spark, sf),
      "SELECT * FROM minhash_pairs('g_docs')" -> operators.Dedup.minhashLsh(spark, sf),
      "SELECT * FROM simhash_pairs('g_docs')" -> operators.Dedup.simhash(spark, sf),
      "SELECT * FROM dup_clusters('g_docs')" ->
        operators.Dedup.connectedComponents(
          operators.Dedup.ngramJaccard(spark, sf).select("id_a", "id_b")).orderBy("node"),
      "SELECT * FROM ngram_topk('g_docs')" -> operators.CorpusStats.ngramTopK(spark, sf),
      "SELECT * FROM vocab_coverage('g_docs')" -> operators.CorpusStats.vocabCoverage(spark, sf),
      "SELECT * FROM unigram_nll('g_docs')" -> operators.CorpusStats.unigramNll(spark, sf))
    parity.foreach { case (sql, scala) =>
      val viaSql = spark.sql(sql)
      assert(canon(viaSql) == canon(scala), s"TVF != entry for: $sql")
      assert(viaSql.count() > 0, s"empty TVF result for: $sql")
    }
    // an INT doc_id view without near-dup pairs labels as INT, the type
    // a view with pairs gets
    import spark.implicits._
    Seq((1, "en", "web", "alpha beta gamma delta"), (2, "en", "web", "one two three four"))
      .toDF("doc_id", "lang", "source", "text").createOrReplaceTempView("g_int_docs")
    val noDups = spark.sql("SELECT * FROM dup_clusters('g_int_docs')")
    assert(noDups.count() == 0)
    assert(noDups.schema.map(_.dataType.simpleString) == Seq("int", "int"))
    // parameter plumbing
    assert(spark.sql("SELECT * FROM ngram_topk('g_docs', 2, 10)").count() == 10)
    assert(spark.sql("SELECT * FROM vocab_coverage('g_docs', 7)").count() == 7)
    assert(spark.sql("SELECT * FROM unigram_nll('g_docs', 50)").count() ==
      operators.CorpusStats.unigramNll(spark, sf).count())
  }

  test("batch-3 TVFs (sampling / packing / bucketing): hash parity") {
    installAndViews()
    // stratified_split keeps EVERY input column (that is its contract),
    // so parity with the registered entry needs the entry's own
    // (doc_id, source) projection as the view
    Tables.documents(spark, sf).select("doc_id", "source")
      .createOrReplaceTempView("g_docs_ds")
    val parity = Seq(
      "SELECT * FROM weighted_sample('g_docs')" ->
        operators.Curation.weightedSample(spark, sf),
      "SELECT * FROM domain_mix('g_docs')" ->
        operators.Curation.domainMixSample(spark, sf),
      "SELECT * FROM stratified_split('g_docs_ds')" ->
        operators.Curation.stratifiedSplit(spark, sf),
      "SELECT * FROM token_budget_mix('g_docs')" ->
        operators.Curation.tokenBudgetMix(spark, sf),
      "SELECT * FROM sequence_pack('g_docs')" ->
        operators.Curation.sequencePack(spark, sf),
      "SELECT * FROM ccnet_buckets('g_docs')" ->
        operators.Curation.ccnetBuckets(spark, sf),
      "SELECT * FROM set_overlap('g_docs')" ->
        operators.CorpusStats.setOverlap(spark, sf))
    parity.foreach { case (sql, scala) =>
      val viaSql = spark.sql(sql)
      assert(canon(viaSql) == canon(scala), s"TVF != entry for: $sql")
      assert(viaSql.count() > 0, s"empty TVF result for: $sql")
    }
    // parameter plumbing: fraction and size knobs reach the cores
    assert(spark.sql("SELECT * FROM domain_mix('g_docs', 0.1)").count()
      <= spark.sql("SELECT * FROM domain_mix('g_docs', 0.9)").count())
    val splits = spark.sql("SELECT * FROM stratified_split('g_docs_ds', 0.5, 0.75)")
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"))
    // a tighter capacity can only cut MORE sequences per shard
    assert(spark.sql("SELECT * FROM sequence_pack('g_docs', 64, 512)")
      .select("source", "shard", "seq_id").distinct().count()
      >= spark.sql("SELECT * FROM sequence_pack('g_docs')")
        .select("source", "shard", "seq_id").distinct().count())
    assert(spark.sql("SELECT * FROM ccnet_buckets('g_docs', 1.0)")
      .filter(col("keep")).count()
      >= spark.sql("SELECT * FROM ccnet_buckets('g_docs')").filter(col("keep")).count())
  }

  test("batch-4 TVFs (mixing / graph / diversity / fingerprints): hash parity") {
    installAndViews()
    // the registered d64 entry regroups sources (the uniform-corpus
    // lesson); the TVF takes the caller's own grouping — feed it the
    // same regrouped view for parity
    operators.Curation.skewedMixInput(spark, sf)
      .createOrReplaceTempView("g_docs_skew")
    operators.Dedup.ngramJaccard(spark, sf).select("id_a", "id_b")
      .createOrReplaceTempView("g_pairs")
    Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .createOrReplaceTempView("g_embs")
    operators.Dedup.plantPassages(Tables.documents(spark, sf))
      .createOrReplaceTempView("g_docs_planted")
    Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") % 7 =!= 0).createOrReplaceTempView("g_train")
    Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") % 7 === 0).createOrReplaceTempView("g_bench")
    val parity = Seq(
      "SELECT * FROM temperature_mix('g_docs_skew')" ->
        operators.Curation.temperatureMix(spark, sf),
      "SELECT * FROM graph_pagerank('g_pairs')" ->
        operators.Dedup.pageRank(spark, sf),
      "SELECT * FROM mmr_select('g_embs')" ->
        operators.Similarity.mmrSelect(spark, sf),
      "SELECT * FROM winnow_overlap('g_docs_planted')" ->
        operators.Dedup.winnowOverlap(spark, sf),
      "SELECT * FROM bloom_decon('g_train', 'g_bench')" ->
        operators.Curation.bloomDecon(spark, sf))
    parity.foreach { case (sql, scala) =>
      assert(canon(spark.sql(sql)) == canon(scala), s"TVF != entry for: $sql")
    }
    // parameter plumbing: alpha=1 keeps the natural mix (rate 0.5
    // everywhere), fewer pagerank iters still covers all nodes,
    // k cuts the MMR pick count
    val r1 = spark.sql("SELECT DISTINCT keep_rate FROM temperature_mix('g_docs_skew', 1.0, 0.5)")
      .collect().map(_.getDouble(0))
    assert(r1.forall(r => math.abs(r - 0.5) <= 1e-8), r1.mkString(","))
    assert(spark.sql("SELECT * FROM graph_pagerank('g_pairs', 2)").count()
      == spark.sql("SELECT * FROM graph_pagerank('g_pairs')").count())
    assert(spark.sql("SELECT * FROM mmr_select('g_embs', 5, 64)").count() == 5L)
  }

  test("event_pattern_skip_next TVF: q65 in pure SQL, hash parity") {
    installAndViews()
    val viaSql = spark.sql("SELECT * FROM event_pattern_skip_next('g_events')")
    assert(canon(viaSql) == canon(operators.Cep.eventPatternSkipToNext(spark, sf)))
    assert(viaSql.count() > 0)
    // explicit tag sets reach the core
    val explicit = spark.sql(
      s"""SELECT * FROM event_pattern_skip_next('g_events',
         |  ${operators.Cep.SpanUs}, 'view', 'click,view', 'purchase')""".stripMargin)
    assert(canon(explicit) == canon(viaSql))
    // one builder: the TVFs differ only in default mids and arities
    val viaPattern = spark.sql(
      s"""SELECT * FROM event_pattern('g_events',
         |  ${operators.Cep.SpanUs}, 'view', 'click,view', 'purchase')""".stripMargin)
    assert(canon(viaPattern) == canon(viaSql))
    val e7 = intercept[Exception](spark.sql(
      s"""SELECT * FROM event_pattern_skip_next('g_events',
         |  ${operators.Cep.SpanUs}, 'view', 'click', 'purchase', 0, 2)""".stripMargin).collect())
    assert(e7.getMessage.contains("event_pattern_skip_next") &&
      e7.getMessage.contains("takes 1, 2 or 5 args, got 7"), e7.getMessage)
    val e3 = intercept[Exception](
      spark.sql("SELECT * FROM event_pattern('g_events', 1, 'view')").collect())
    assert(e3.getMessage.contains("takes 1, 2, 5 or 7 args, got 3"), e3.getMessage)
  }

  test("TVF argument errors are caught with clear messages") {
    installAndViews()
    val e1 = intercept[Exception](spark.sql("SELECT * FROM asof_join('g_docs')").collect())
    assert(e1.getMessage.contains("asof_join"))
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM asof_join('g_docs', 'g_docs', 'nope', 'a', 'b', 'c')").collect())
    assert(e2.getMessage.contains("nope"))
  }

  test("Graft.install is once-per-session; q63 invocations are concurrency-safe " +
       "and leave no views behind") {
    Graft.install(spark)
    Graft.install(spark)
    assert(spark.experimental.extraStrategies.count(_ == graft.plans.AsOfStrategy) == 1,
      "repeated install must not re-append the strategy")

    // a user view with q63's historical fixed name must survive invocations
    import spark.implicits._
    Seq((1, "keep")).toDF("id", "tag").createOrReplaceTempView("graft_q63_trades")

    val expected = canon(operators.TimeSeries.asofJoinCustom(spark, sf))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = canon(SqlSurface.q26ViaSql(spark, sf))
        })
      }
      futs.foreach(f => assert(f.get() == expected, "concurrent q63 must match q26"))
    } finally pool.shutdown()

    assert(spark.sql("SELECT tag FROM graft_q63_trades").collect().head.getString(0)
      == "keep", "q63 must not clobber a user's same-named view")
    val leftover = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_q63_"))
    assert(leftover.toSeq == Seq("graft_q63_trades"),
      s"q63 leaked temp views: ${leftover.toSeq}")
    spark.catalog.dropTempView("graft_q63_trades")
  }
}
