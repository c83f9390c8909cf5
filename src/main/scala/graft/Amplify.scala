package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Beyond-sf0.1 probe data: amplify an sf dir ~N× into `outDir` so the
  * oracle selfcheck can run at a scale the shipped testdata never
  * reaches (the wide-decimal→double divergence class only appeared at
  * sf0.1 — the next class may only appear at sf1). Fact tables are
  * unioned N shifted copies with keys offset per copy (event_id /
  * o_orderkey / l_orderkey, so uniqueness — and every deterministic
  * row_number tie-break built on it — survives) and event timestamps
  * nudged 1 ms per copy (distinct rows, near-identical distribution);
  * dimension tables and embeddings are byte-copied verbatim; the
  * documents corpus is SYNTHESIZED to N× (fresh ids, rotated word
  * order, deterministic word-level substitution at controlled
  * near-dup rates — see the inline note), so the oracle-checkable
  * d-entries get an N×-scale selfcheck with an honest density instead
  * of the all-copies-are-dups pathology byte copies would plant.
  * Spark and DuckDB then read the SAME amplified parquet, so oracle
  * parity is still exact — only the data volume changes.
  *
  * events is written as ordinary µs timestamps (Tables.events accepts
  * both that and the driver's TIMESTAMP(NANOS)); DuckDB's
  * `CAST(ts AS TIMESTAMP)` in the oracle dialect is a no-op on it.
  *
  * Run the whole probe via tools/scaleprobe.sh, or by hand:
  *   sbt "runMain graft.Amplify /root/testdata/sf0.1 /tmp/graft_sfamp 10"
  *   sbt "runMain graft.Verify /tmp/graft_sfamp /tmp/graft_verify_amp"
  *   python3 tools/selfcheck.py /tmp/graft_sfamp /tmp/graft_verify_amp
  */
object Amplify {
  /** Per-copy key offset: far above any generated key, far below
    * overflow even at copies=1000. */
  val KeyOffset = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sfamp"
    val copies = if (args.length > 2) args(2).toInt else 10
    // optional arg 4: bound parquet row groups to N MB. The harness's
    // single-file SINGLE-ROW-GROUP layout serializes every scan-bound
    // stage onto one task (row group = parquet's split atom — CLAUDE.md
    // q54/d36 lessons); a bounded-row-group twin dir lets ScaleSmoke /
    // the probes measure the same entries with a splittable input, i.e.
    // what the decode floors do on real multi-file cluster layouts.
    val rowGroupMB = if (args.length > 3) Some(args(3).toInt) else None
    val spark = Harness.session()
    new java.io.File(out).mkdirs()

    // dims (and the embeddings corpus, whose d-queries stay 1×):
    // verbatim byte copies — identical files, identical reads in both
    // engines
    Seq("region", "nation", "customer", "supplier", "part",
      "embeddings").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    // single-FILE parquet named <t>.parquet, like the source layout
    // (selfcheck's DuckDB views point at the file path, not a glob)
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/_tmp_$name"
      val w = df.coalesce(1).write.mode("overwrite")
      rowGroupMB.fold(w)(mb => w.option("parquet.block.size",
        (mb.toLong * 1024 * 1024).toString)).parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().filter(_.getName.endsWith(".parquet")) match {
        case Array(p) => p
        case ps => sys.error(s"expected one part file for $name, got ${ps.length}")
      }
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dir.listFiles().foreach(_.delete())
      dir.delete(): Unit
    }

    def amplified(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => shift(df, i)).reduce(_.union(_))

    val orders = spark.read.parquet(s"$src/orders.parquet")
    writeOne(amplified(orders) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyOffset))
    }, "orders")

    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    writeOne(amplified(lineitem) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyOffset))
    }, "lineitem")

    // documents: SYNTHESIZED copies, not byte copies — a copied doc
    // corpus is a pathological all-dup near-dup input (every copy is a
    // perfect duplicate of its source, so near-dup stats measure the
    // amplifier, not the operator). Copy 0 is the original corpus; copy
    // i>0 gets fresh doc_ids, a word-order rotation (kills exact/byte
    // dups and fixed-boundary span identity), and a DETERMINISTIC
    // word-level substitution (hash(word, doc_id, copy) — every
    // occurrence of a word inside one doc shares its fate, so the
    // word-SET jaccard vs the source doc is exactly (1-p)/(1+p)):
    //   copy 1: p = 5%  -> j ≈ 0.90  (planted near-dups, 1 per source
    //           doc — a known, controlled rate ABOVE the 0.8 threshold)
    //   copies 2..9: p = 50% -> j ≈ 0.33 (background, well below it)
    // Cross-copy substitutions are doc-independent (P(both) = p²), so
    // background cross-doc similarity THINS vs the source corpus rather
    // than multiplying. Both engines read the same parquet — oracle
    // parity is untouched; only the density story changes, and it is
    // now honest: ~n_docs planted pairs at j≈0.9, not all-pairs-dup.
    val docs = spark.read.parquet(s"$src/documents.parquet")
    writeOne(amplified(docs) { (df, i) =>
      if (i == 0) df
      else {
        val pct = if (i == 1) 5 else 50
        df.withColumn("doc_id", col("doc_id") + lit(i * KeyOffset))
          .withColumn("ws", split(col("text"), " "))
          .withColumn("ws", expr(
            s"""transform(ws, w -> IF(pmod(xxhash64(w, doc_id, $i), 100) < $pct,
               |  concat(w, '_c$i'), w))""".stripMargin))
          .withColumn("rot", pmod(lit(i * 7), size(col("ws"))))
          .withColumn("text", concat_ws(" ",
            expr("concat(slice(ws, rot + 1, size(ws) - rot), slice(ws, 1, rot))")))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .drop("ws", "rot")
      }
    }, "documents")

    // events via Tables.events (ns-long → µs truncation, the exact
    // representation every query sees); copies nudge ts by 1 ms so no
    // two rows are byte-identical but sessions/windows barely move
    val events = Tables.events(spark, src)
    writeOne(amplified(events) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * KeyOffset))
        .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + lit(i * 1000L)))
    }, "events")

    Seq("orders", "lineitem", "events").foreach { t =>
      println(s"[amplify] $t rows=" +
        spark.read.parquet(s"$out/$t.parquet").count())
    }
    spark.stop()
  }
}
