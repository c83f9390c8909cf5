package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{toCol, toExpr}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}

import graft.Tables

/** d56: model-based quality filtering — the third filter family of
  * published LLM data pipelines, alongside the heuristic rules (d8,
  * d43) and the LM-perplexity scores (d33/d44/d52/d53): a TRAINED
  * linear classifier over hashed bag-of-words features (the
  * fastText-style architecture of the CCNet / LLaMA "looks like a
  * wiki reference" filter), trained inside the engine with plain
  * DataFrame aggregations.
  *
  * Scale shape (the reason this trains at 100 TB):
  *  - Features are HASHED unigram tf (`pmod(xxhash64(w), buckets)`):
  *    vocabulary-unbounded, linear in corpus token volume. The
  *    gradient-side posting table (doc_id, bucket, x) is built ONCE,
  *    doc_id-partitioned, and lazily localCheckpointed (the
  *    iterative-lazy-plan lesson: without the cut every iteration
  *    would re-run tokenization).
  *  - The FORWARD pass per iteration is a NARROW codegen'd expression
  *    ([[HashedMargin]]) with the weight vector baked in as a plan
  *    constant — the CentroidSet/BpeVocab discipline: kilobytes
  *    shipped with the plan, no weight-table join, no broadcast job,
  *    no shuffle to compute margins.
  *  - The BACKWARD pass is one co-partitioned join of per-doc
  *    residuals onto the postings, one per-bucket aggregate, and ONE
  *    bounded collect per iteration carrying gradients, bias gradient,
  *    and loss together (sentinel buckets −1/−2). No windows, nothing
  *    pairwise, `iters` linear passes total.
  *  - DETERMINISTIC training despite float math: per-doc margins are
  *    sequential loops (order fixed by the doc's own word order),
  *    residuals are rounded to 9 dp, and every distributed sum
  *    follows the d33 discipline (9 dp terms summed as DECIMAL(18,9)
  *    — order-independent), so gradients, weights, and scores are
  *    bit-reproducible run to run. The spec asserts train-twice ⇒
  *    identical weights.
  *
  * The registered entry is the CCNet architecture end-to-end: the
  * perplexity signal (d33 unigram NLL) is the TEACHER — label 1 =
  * NLL in the lower (better) half by deterministic rank — and the
  * fast hashed-linear student is trained to reproduce it, then
  * scores every doc. Oracle-exact since r16: the whole gradient loop
  * replays as SparkEntry's D56Sql recursive CTE (integer-unit weights,
  * decimal-sum gradients). Spec gates on top of that: exact
  * separation on planted separable classes, monotone loss descent,
  * bit-identical retraining, and teacher agreement on the corpus.
  */
object Classifier {

  case class Model(weights: Array[Double], bias: Double, losses: Seq[Double])

  /** Hashed-unigram tf features for the GRADIENT side: (doc_id,
    * bucket, x) with x = count/doc_len rounded to 9 dp (the rounding
    * is what makes the gradient's decimal sums order-independent).
    * @param wordsIn optional pre-exploded (doc_id, w) word stream
    *   used instead of splitting `docs`' text — [[trainLogistic]]
    *   passes its labeled docs' word arrays (empties already removed,
    *   so the empty filter below keeps the exact multiset). */
  def postingsOf(docs: DataFrame, buckets: Int,
      wordsIn: Option[DataFrame] = None): DataFrame = {
    val words = wordsIn
      .map(_.select(col("doc_id"), col("w")))
      .getOrElse(docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w")))
      .filter(col("w") =!= "")
    val lens = words.groupBy("doc_id").agg(count(lit(1)).as("n_words"))
    words
      .groupBy(col("doc_id"), pmod(xxhash64(col("w")), lit(buckets)).as("bucket"))
      .agg(count(lit(1)).as("c"))
      .join(lens, "doc_id")
      .select(col("doc_id"), col("bucket"),
        round(col("c").cast("double") / col("n_words"), 9).as("x"))
  }

  /** mean-tf margin of one doc under the frozen weight vector:
    * (Σ_w weights[pmod(xxhash64(w), B)]) / n_words — the whole forward
    * pass as one narrow per-row loop, weights a plan constant. */
  def hashedMargin(words: Column, weights: Array[Double]): Column =
    toCol(HashedMargin(toExpr(words), weights))

  private def dec(c: Column) = round(c, 9).cast("decimal(18,9)")

  /** Full-batch logistic regression over (doc_id, text) + labels
    * (doc_id, y ∈ {0.0, 1.0}). Returns the model and the
    * per-iteration mean log-loss (monotone under a sane lr). */
  def trainLogistic(docs: DataFrame, labels: DataFrame, buckets: Int,
      iters: Int = 8, lr: Double = 10.0, l2: Double = 1e-6): Model = {
    // both sides of the loop pinned once: the tokenized+labeled frame
    // for forward passes, the posting table for gradients — same
    // doc_id layout so the residual join stays co-partitioned.
    // The layout is SCALE-ADAPTIVE (r21): the co-partitioned residual
    // join never plans an exchange, so AQE has nothing to coalesce at
    // runtime and the loop frames would otherwise inherit the session's
    // static shuffle.partitions — at bench scale that was 8 iterations
    // × ~4 stages × 32 near-empty partitions of pure task-launch
    // overhead. Derive the width from the labeled-doc count (~1k docs
    // per partition ≈ a few hundred k posting rows; measured the sweet
    // spot at sf0.1 — 1 partition serialized the join compute and lost,
    // 32 paid launch overhead), capped by the session's configured
    // width so a 100 TB corpus still fans out fully.
    val n = labels.count().toDouble
    require(n > 0, "trainLogistic needs at least one labeled doc")
    val parts = math.max(1, math.min(
      docs.sparkSession.sessionState.conf.numShufflePartitions,
      math.ceil(n / 1000.0).toInt))
    val docsY = docs.join(labels, "doc_id")
      .select(col("doc_id"), col("y"),
        array_remove(split(col("text"), " "), "").as("ws"))
      .repartition(parts, col("doc_id")).localCheckpoint(false)
    // postings of the LABELED docs only, from docsY's word arrays:
    // the gradient's inner join drops every other doc anyway, and
    // `parts` is sized for the labeled set, not the corpus
    val px = postingsOf(docsY, buckets,
        Some(docsY.select(col("doc_id"), explode(col("ws")).as("w"))))
      .repartition(parts, col("doc_id")).localCheckpoint(false)
    val w = new Array[Double](buckets)
    var bias = 0.0
    val losses = Vector.newBuilder[Double]
    var it = 0
    while (it < iters) {
      val margins = docsY
        .withColumn("p", lit(1.0) /
          (lit(1.0) + exp(-(hashedMargin(col("ws"), w.clone()) + bias))))
        // clamp before log: a saturated sigmoid would hand log() a zero
        .withColumn("pc", greatest(least(col("p"), lit(1.0 - 1e-12)), lit(1e-12)))
        .select(col("doc_id"),
          round(col("p") - col("y"), 9).as("r"),
          dec(-col("y") * log(col("pc"))
            - (lit(1.0) - col("y")) * log(lit(1.0) - col("pc"))).as("l"))
        // one narrow materialization feeds all three collect branches —
        // measured 6.7 s vs 9.7 s warm at sf0.1 without the cut (the
        // grads join + two agg branches each re-ran the margin pass)
        .localCheckpoint(false)
      // gradients, bias gradient (bucket −1), and loss (bucket −2) in
      // ONE bounded collect. The r·x product multiplies as EXACT
      // decimals and only the exact SUM rounds to 9 dp: rounding the
      // double product hit exact decimal ties (r = ±0.5 on iteration 1
      // times a 9-decimal x ends in 5e-10), where Spark's
      // shortest-string HALF_UP and DuckDB's binary-value round
      // disagree ~half the time; a decimal-sum tie is exact arithmetic
      // both engines round away-from-zero identically.
      // bias gradient and loss fused into ONE aggregation pass over
      // the margins cut (r20: they were two separate global-agg
      // branches, each its own stage per iteration), reshaped to the
      // sentinel-bucket rows the update loop reads; sums unchanged
      val rows = px.join(margins.select("doc_id", "r"), "doc_id")
        .groupBy("bucket").agg(round(sum(
          col("r").cast("decimal(18,9)") * col("x").cast("decimal(18,9)")), 9).as("g"))
        .unionByName(margins
          .agg(sum(dec(col("r"))).as("gb"), sum(col("l")).as("gl"))
          .select(explode(array(
            struct(lit(-1L).as("bucket"), col("gb").as("g")),
            struct(lit(-2L).as("bucket"), col("gl").as("g")))).as("s"))
          .select(col("s.bucket").as("bucket"), col("s.g").as("g")))
        .collect()
      var i = 0
      while (i < w.length) { w(i) -= lr * l2 * w(i); i += 1 }
      rows.foreach { row =>
        val b = row.getLong(0)
        // decimal → double through the exact 1e-9-unit LONG:
        // BigDecimal.doubleValue and DuckDB's DECIMAL→DOUBLE cast may
        // round an ulp apart; unscaled·1e-9 is the same two IEEE ops
        // in both engines (unscaled < 2^53 — docs·1e9 bounded)
        val v = if (row.isNullAt(1)) 0.0
          else row.getDecimal(1).unscaledValue().longValueExact().toDouble * 1e-9
        if (b == -1L) bias -= lr * v / n
        else if (b == -2L) losses += v / n
        else w(b.toInt) -= lr * v / n
      }
      // the collect above fully drained this iteration's margins cut —
      // release it now instead of leaking 8 block sets per training run
      margins.unpersist()
      it += 1
    }
    // release the two loop-invariant cuts: nothing downstream reads
    // them (scoring runs the plan-constant forward pass over the raw
    // docs), and the bench runs this entry twice per capture — leaked
    // blocks would accrete across the whole suite
    docsY.unpersist()
    px.unpersist()
    Model(w, bias, losses.result())
  }

  /** Sigmoid score of a text column under a trained model — narrow,
    * plan-constant, usable as a filter predicate anywhere (the frozen
    * fastText-style gate inside CorpusPipeline). */
  def scoreCol(text: Column, model: Model): Column =
    round(lit(1.0) / (lit(1.0) + exp(-(hashedMargin(
      array_remove(split(text, " "), ""), model.weights) + model.bias))),
      6)

  /** Raw decision margin (mean bucket weight + bias) — the EXACT form
    * of the forward pass: unlike [[scoreCol]]'s sigmoid, it contains no
    * exp(), so it is bit-identical across engines at every scale
    * (JVM Math.exp vs libm diverge by ulps, which pushed 7 of 200k
    * 6 dp-rounded sigmoids across a round boundary at the 40× probe).
    * sigmoid is a monotone bijection of this value: ranking, top-k and
    * the 0.5 gate (⇔ margin ≥ 0) are all unchanged. */
  def marginCol(text: Column, model: Model): Column =
    hashedMargin(array_remove(split(text, " "), ""), model.weights) + lit(model.bias)

  /** Score (doc_id, text) under a trained model — the same narrow
    * plan-constant forward pass as training: (doc_id, margin, pred)
    * with pred = margin ≥ 0 (≡ sigmoid ≥ 0.5, exactly). */
  def scoreOf(docs: DataFrame, model: Model): DataFrame =
    docs.select(col("doc_id"), marginCol(col("text"), model).as("margin"))
      .withColumn("pred", (col("margin") >= 0.0).cast("boolean"))

  // ---- persisted model artifact -------------------------------------
  // Train-once/score-anywhere semantics like the BPE vocab and the
  // frozen BigramLm: the model IS (weights, bias), so persisting the
  // weight table + a _layout commit marker reconstructs bit-identical
  // scores. Marker written LAST (a crashed save never looks loadable);
  // loads validate version + bucket count.

  private val ModelLayoutVersion = "qc-model-v1"

  /** Persist a trained model at `path` (weights parquet + `_layout`). */
  def saveModel(s: SparkSession, model: Model, path: String): Unit = {
    import s.implicits._
    graft.ops.Artifacts.invalidate(s, path)
    model.weights.toSeq.zipWithIndex
      .map { case (wt, b) => (b.toLong, wt) }.toDF("bucket", "wt")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/weights")
    graft.ops.Artifacts.writeLayout(s, path, ModelLayoutVersion, Seq(
      "buckets" -> model.weights.length.toString,
      "bias" -> java.lang.Double.doubleToRawLongBits(model.bias).toString))
  }

  /** Load a persisted model; fails fast on a missing/foreign/torn
    * artifact. Bias round-trips through raw long bits — bit-exact. */
  def loadModel(s: SparkSession, path: String): Model = {
    val layout = graft.ops.Artifacts.readLayout(s, path, ModelLayoutVersion,
      "classifier")
    val nb = graft.ops.Artifacts.layoutValue(layout, "buckets", path,
      "classifier").toInt
    val bias = java.lang.Double.longBitsToDouble(
      graft.ops.Artifacts.layoutValue(layout, "bias", path, "classifier").toLong)
    val w = new Array[Double](nb)
    s.read.parquet(s"$path/weights").collect().foreach { r =>
      w(r.getLong(0).toInt) = r.getDouble(1)
    }
    Model(w, bias, Seq.empty)
  }

  private[graft] val QcBuckets = 4096

  /** The registered d56 entry: CCNet end-to-end — teacher = d33
    * unigram NLL, split at the MEDIAN by the deterministic surrogate-id
    * rank (the d52 discipline — a mean cut measured 94% positive at
    * sf0.1 and the student degenerated to majority-class; rank gives
    * an exact balanced split, ties broken on doc_id), student = the
    * hashed-linear model above, output = every doc's teacher label,
    * student score, and prediction. */
  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // teacher = the registered d33 frame itself, via its DirMemo cut
    // (r20): the NLL pass runs once per (session, dir content) and
    // both entries slice it — same labels bit-for-bit by construction
    // (the 10x stage probe had measured the re-exploding form as this
    // entry's single biggest stage, 8.2 s of 13.2 s serial warm)
    val nll = CorpusStats.unigramNll(s, d).select("doc_id", "nll")
    val ranked = Silver.surrogateIds(nll, Seq("nll", "doc_id"), "rnk")
    val tot = ranked.agg(count(lit(1)).as("n"))
    val labels = ranked.crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("rnk") * 2 <= col("n"), 1.0).otherwise(0.0).as("y"))
    val model = trainLogistic(docs, labels, QcBuckets, iters = 8, lr = 10.0)
    scoreOf(docs, model)
      .join(labels, "doc_id")
      .select(col("doc_id"), col("y").cast("int").as("label"),
        col("margin"), col("pred"))
      .orderBy("doc_id")
  }
}

/** Forward pass of the hashed-linear classifier as a codegen'd
  * expression: mean over the doc's words of the frozen weight at
  * `pmod(xxhash64(word), buckets)` — hash identical to the SQL
  * `pmod(xxhash64(w), B)` the gradient-side posting table uses. The
  * weight vector rides the plan as a reference object (the
  * CentroidSet discipline); empty docs score 0 (the bias alone
  * decides them). */
case class HashedMargin(child: Expression, weights: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  // Weights quantized ONCE to integer 1e-9 units (Math.round(w·1e9), a
  // plan constant like the weights themselves): the per-doc sum is then
  // EXACT long arithmetic — word-order-free and cheaper than the old
  // double accumulation — and the margin (su·1e-9)/n is two replayable
  // IEEE ops. This is what makes the whole GD loop (margins → 9 dp
  // residuals → decimal gradients → double weight updates) a pure
  // integer/reproducible-IEEE pipeline the DuckDB oracle replays
  // bit-exact; a double-sum margin in word order was the one
  // order-sensitive step. |w| stays O(1), so su < 1e12·n — no overflow.
  @transient private lazy val units: Array[Long] =
    weights.map(w => Math.round(w * 1e9))
  override def nullSafeEval(in: Any): Any =
    HashedMarginHelper.eval(in.asInstanceOf[ArrayData], units)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val ref = ctx.addReferenceObj("qcUnits", units, "long[]")
      s"${ev.value} = graft.operators.HashedMarginHelper.eval($s, $ref);"
    })
  override protected def withNewChildInternal(c: Expression): HashedMargin =
    copy(child = c)
}

object HashedMarginHelper {
  def eval(arr: ArrayData, units: Array[Long]): Double = {
    val n = arr.numElements()
    if (n == 0) return 0.0
    val b = units.length
    var su = 0L
    var i = 0
    while (i < n) {
      val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      val m = (h % b).toInt
      su += units(if (m < 0) m + b else m)
      i += 1
    }
    (su.toDouble * 1e-9) / n
  }
}
