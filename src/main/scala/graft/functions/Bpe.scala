package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{toCol, toExpr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding token accounting (the public BPE algorithm of
  * Sennrich et al. 2016, the GPT-2-style greedy merge encode) — real
  * tokenizer tokens for the training-data budget operators instead of
  * the whitespace/chars-per-4 estimates (d9), because corpus budgets
  * are set in tokenizer tokens, not words.
  *
  * Split of labor, scaled for 100 TB:
  *  - TRAINING runs on the word-frequency DICTIONARY, not the corpus:
  *    Spark computes (word, count) in one distributed pass and pulls
  *    the top `maxWords` by count (bounded TakeOrdered — the dictionary
  *    is the standard training substrate for subword vocabs; the tail
  *    it drops is token mass the merges would never win anyway). The
  *    merge loop itself is a driver-side scan over that dictionary —
  *    deterministic: best pair by (count desc, pair asc).
  *  - ENCODING is a codegen'd Catalyst expression with the merge-rank
  *    table baked in as a plan constant (the CentroidSet discipline:
  *    kilobytes shipped once per executor with the plan, never a join
  *    side), a tight greedy-merge loop per word, and a bounded per-JVM
  *    memo cache — natural-language corpora repeat words heavily, so
  *    the steady-state cost per row is a hash lookup per word.
  *
  * Words are space-delimited (the scrubbed corpus collapses whitespace)
  * and tokens never span a space — the same pre-tokenize-then-merge
  * shape as the GPT-2 tokenizer's regex split. Symbols are JVM chars;
  * an unseen word still encodes (falls back toward single chars).
  */
object Bpe {

  /** Train merge ranks from a (word, count) dictionary. Classic BPE:
    * start from single-char symbol sequences, `numMerges` times count
    * adjacent symbol pairs weighted by word count, merge the most
    * frequent pair everywhere (ties: lexicographically smallest pair,
    * making training order-independent and deterministic). Pairs that
    * stop occurring stop mattering; loop exits early when no pair
    * repeats. */
  def train(dict: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    var words = dict.map { case (w, c) => (w.map(_.toString).toArray, c) }.toArray
    val merges = Vector.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < numMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), c, _ + _)
          i += 1
        }
      }
      var best: (String, String) = null
      var bestN = 1L // a pair must occur at least twice to earn a merge
      counts.forEach { (p, n) =>
        if (n > bestN || (n == bestN && best != null &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestN = n
        }
      }
      if (best == null) done = true
      else {
        merges += best
        val joined = best._1 + best._2
        words = words.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out += joined; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toArray, c)
          }
        }
        m += 1
      }
    }
    merges.result()
  }

  /** One distributed pass: per-word counts over space-split text,
    * capped to the top `maxWords` by (count desc, word asc) — a
    * bounded driver pull like the k-means seed scan. */
  def wordDict(docs: DataFrame, textCol: String = "text",
      maxWords: Int = 50000): Seq[(String, Long)] =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  def trainFromCorpus(docs: DataFrame, numMerges: Int = 200,
      textCol: String = "text", maxWords: Int = 50000): BpeVocab =
    new BpeVocab(train(wordDict(docs, textCol, maxWords), numMerges))

  // ---- persisted vocab artifact ------------------------------------
  // Train-once/reuse semantics like the IVF index store: the merge
  // table IS the vocab (BpeVocab is a pure function of the ordered
  // merge list), so persisting (rank, a, b) and reloading reconstructs
  // byte-identical encodes. Layout marker discipline follows
  // IncrementalDedup's _layout contract: the marker is written LAST
  // (rename-committed merges first), so a crashed save never leaves a
  // loadable-looking artifact, and loads validate the version line.

  private val VocabLayoutVersion = "bpe-v1"

  /** Persist a trained vocab at `path` (merges parquet + `_layout`
    * commit marker). Overwrites any existing artifact atomically
    * enough for the single-writer discipline all graft stores follow. */
  def saveVocab(s: SparkSession, vocab: BpeVocab, path: String): Unit = {
    import s.implicits._
    graft.ops.Artifacts.invalidate(s, path)
    vocab.merges.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }.toDF("rank", "a", "b")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    graft.ops.Artifacts.writeLayout(s, path, VocabLayoutVersion,
      Seq("merges" -> vocab.merges.size.toString))
  }

  /** Load a persisted vocab; fails fast on a missing/foreign artifact. */
  def loadVocab(s: SparkSession, path: String): BpeVocab = {
    val layout = graft.ops.Artifacts.readLayout(s, path, VocabLayoutVersion,
      "BPE vocab")
    val n = layout.get("merges").map(_.toInt).getOrElse(-1)
    val merges = s.read.parquet(s"$path/merges")
      .orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    require(n < 0 || merges.size == n,
      s"BPE vocab artifact at $path is torn: marker says $n merges, parquet has ${merges.size}")
    new BpeVocab(merges)
  }

  private val vocabMemo =
    new java.util.concurrent.ConcurrentHashMap[String, BpeVocab]()

  /** The registered entries' train-once path: load the vocab for the
    * corpus at `d` from the per-machine artifact cache, training (and
    * persisting) only when no artifact matches the corpus's identity.
    * Identity = (documents.parquet path, length, mtime, train params):
    * the driver regenerates testdata between rounds, which changes the
    * mtime and forces a retrain; within a round — and within one Bench
    * JVM, via the in-memory memo shared by d37/d39/d31 — the wordDict
    * scan and the driver merge loop run ONCE. The artifact lives under
    * java.io.tmpdir (machine-local cache, not repo state). */
  def corpusVocab(s: SparkSession, d: String, numMerges: Int = 200,
      maxWords: Int = 50000): BpeVocab = {
    val src = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(src)
    val key = s"${src.toUri}|${st.getLen}|${st.getModificationTime}|$numMerges|$maxWords"
    vocabMemo.computeIfAbsent(key, _ => {
      val dir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_bpe_vocab",
        java.security.MessageDigest.getInstance("MD5").digest(key.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString).toString
      try loadVocab(s, dir)
      catch { case _: Throwable =>
        val v = trainFromCorpus(
          graft.Tables.documents(s, d).select("doc_id", "text"),
          numMerges, maxWords = maxWords)
        try saveVocab(s, v, dir) catch { case _: Throwable => () }
        v
      }
    })
  }

  def tokenCount(text: Column, vocab: BpeVocab): Column =
    toCol(BpeCount(toExpr(text), vocab))

  def tokens(text: Column, vocab: BpeVocab): Column =
    toCol(BpeTokens(toExpr(text), vocab))

  def tokenChunks(text: Column, vocab: BpeVocab, budget: Int): Column =
    toCol(BpeTokenChunks(toExpr(text), vocab, budget))
}

/** Frozen merge-rank table (pair → creation rank; lower merges first)
  * baked into the encode expressions — a plan constant shipped with the
  * serialized expression. The per-JVM memo cache is transient: it
  * rebuilds empty on each executor and is bounded, so a hostile vocab
  * cannot balloon the heap. */
final class BpeVocab(val merges: Seq[(String, String)]) extends Serializable {
  @transient lazy val ranks: java.util.HashMap[String, Integer] = {
    val h = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      h.put(a + "\u0000" + b, Integer.valueOf(i))
    }
    h
  }
  @transient lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
  private[functions] final val CacheCap = 1 << 17

  /** Greedy BPE encode of ONE word: repeatedly merge the present pair
    * with the lowest rank (all its occurrences, left to right) until no
    * adjacent pair is in the table — the standard BPE encode loop. */
  def encodeWord(w: String): Array[String] = {
    if (w.length <= 1) return if (w.isEmpty) Array.empty else Array(w)
    val hit = cache.get(w)
    if (hit != null) return hit
    var syms = new Array[String](w.length)
    var i = 0
    while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    var merging = true
    while (merging && syms.length > 1) {
      var bestRank = Int.MaxValue
      i = 0
      while (i < syms.length - 1) {
        val r = ranks.get(syms(i) + "\u0000" + syms(i + 1))
        if (r != null && r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) merging = false
      else {
        val (a, b) = merges(bestRank)
        val joined = a + b
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += joined; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toArray
      }
    }
    if (cache.size < CacheCap) cache.put(w, syms)
    syms
  }
}

/** Total BPE token count of a space-delimited text → long. The count
  * hot path: no token arrays are materialized beyond the per-word memo.
  * Codegen'd via a static-forwarder call (DotProductF's idiom). */
case class BpeCount(child: Expression, vocab: BpeVocab) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(in: Any): Any =
    ExprHelpers.bpeCount(in.asInstanceOf[UTF8String], vocab)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val ref = ctx.addReferenceObj("bpeVocab", vocab, classOf[BpeVocab].getName)
      s"${ev.value} = graft.functions.ExprHelpers.bpeCount($s, $ref);"
    })
  override protected def withNewChildInternal(c: Expression): BpeCount = copy(child = c)
}

/** Full BPE token stream of a space-delimited text → array<string>
  * (tokens never span spaces). The inspectable twin of [[BpeCount]] —
  * vocab-coverage / downstream-chunking work wants the tokens, budget
  * accounting wants the count. */
case class BpeTokens(child: Expression, vocab: BpeVocab) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(in: Any): Any =
    ExprHelpers.bpeTokens(in.asInstanceOf[UTF8String], vocab)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val ref = ctx.addReferenceObj("bpeVocab", vocab, classOf[BpeVocab].getName)
      s"${ev.value} = graft.functions.ExprHelpers.bpeTokens($s, $ref);"
    })
  override protected def withNewChildInternal(c: Expression): BpeTokens = copy(child = c)
}

/** Greedy word-atomic packing of a space-delimited text into chunks of
  * at most `budget` BPE tokens → array<string> (space-joined words).
  * The context-length packing step of a training-data pipeline, in the
  * SAME token units the model trains on — a words-per-chunk geometry
  * (d18) over- or under-fills the context window as word→token ratios
  * drift across languages and sources. First-fit in word order: a word
  * that would overflow the open chunk closes it; a single word longer
  * than the whole budget still becomes its own chunk (words are never
  * split — chunk text must stay a substring of the document's word
  * sequence). One pass, one tight loop, memo-cached word counts. */
case class BpeTokenChunks(child: Expression, vocab: BpeVocab, budget: Int)
    extends UnaryExpression {
  require(budget >= 1, s"token budget must be >= 1, got $budget")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(in: Any): Any =
    ExprHelpers.bpeTokenChunks(in.asInstanceOf[UTF8String], vocab, budget)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val ref = ctx.addReferenceObj("bpeVocab", vocab, classOf[BpeVocab].getName)
      s"${ev.value} = graft.functions.ExprHelpers.bpeTokenChunks($s, $ref, $budget);"
    })
  override protected def withNewChildInternal(c: Expression): BpeTokenChunks =
    copy(child = c)
}

object BpeHelpers {
  /** Split on single spaces, skipping empties (leading/trailing/double
    * spaces cost nothing) — the scrub pass guarantees single spaces but
    * the expression must not miscount un-scrubbed text. */
  private[functions] def eachWord(s: String)(f: String => Unit): Unit = {
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        if (i > start) f(s.substring(start, i))
        start = i + 1
      }
      i += 1
    }
  }
}
