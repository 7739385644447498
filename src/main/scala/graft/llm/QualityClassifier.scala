package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{LrExprs, LrKernel}
import graft.operators.Checkpoints

/** Trained model: fixed-point weights (scale [[LrKernel.Scale]]) plus the
  * intercept in the same units. */
case class LrModel(weights: Array[Long], intercept: Long) {
  def logit(text: Column): Column = LrExprs.logit(text, weights, intercept)
  /** Probability as a deterministic double (pure function of the exact
    * integer logit). */
  def prob(text: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-(logit(text).cast("double") / lit(LrKernel.Scale.toDouble))))
  /** `p >= 0.5` as an exact integer comparison. */
  def pred(text: Column): Column = logit(text) >= 0
}

/** Model-based quality classification — the step between heuristic filters
  * (i5_quality_score) and training-corpus assembly: fit a hashed
  * bag-of-words logistic regression on a labeled subset, score the whole
  * corpus with one broadcast kernel scan (EXT row I5; GPT-3/CCNet-style
  * quality filtering).
  *
  * Training is full-batch gradient descent in EXACT INTEGER fixed point
  * (see [[graft.functions.LrKernel]]): per-document gradient contributions
  * are Longs, so the `treeAggregate` sum is partition-order-independent
  * and the fitted weights are bit-identical on any cluster layout. The
  * weight update divides by the training count with truncating Long
  * division — also exact.
  *
  * Scale design: one `treeAggregate` pass per iteration over a
  * `localCheckpoint`-ed (text, label) projection — the corpus itself is
  * scanned, never collected; each task ships back one `long[buckets+1]`
  * gradient (8 KB at the default 1024 buckets). At 100 TB you fit on a
  * deterministic content-hash sample ([[Sampling.deterministicSample]],
  * `trainPct`) and score the full corpus with the broadcast model — the
  * scoring scan is shuffle-free whole-stage codegen.
  */
object QualityClassifier {

  /** Gradient-accumulation overflow guard: |coeff| ≤ Scale = 2^20 per
    * token, so `maxTrainTokens × Scale < 2^62` keeps every gradient slot
    * wrap-free with 2× headroom. */
  val MaxTrainTokens: Long = 1L << 41

  /** Below this many training docs the GD loop runs driver-local on the
    * collected (text, label) sample instead of launching one Spark job
    * per iteration — 200 iterations over a bench-scale corpus would be
    * pure scheduler overhead. The results are BIT-IDENTICAL either way
    * (integer gradient sums are order-independent; LrClassifierSpec pins
    * the equality), so this is a latency trade only — the same bounded-
    * collect-budget pattern as `Closure.LocalWalkMaxEdges` and the IVF
    * sample fit (`localFitMaxDocs = 0` forces the distributed path —
    * tests pin path equality). */
  val LocalFitMaxDocs: Long = 100000L

  /** Fit by `iters` full-batch GD steps at learning rate `lrNum/lrDen`.
    * `label` must evaluate to 0/1; other labels are dropped. */
  def fit(df: DataFrame, textCol: String, label: Column, buckets: Int = 1024,
      iters: Int = 200, lrNum: Long = 1, lrDen: Long = 8,
      trainPct: Int = 100,
      localFitMaxDocs: Long = LocalFitMaxDocs): LrModel = Checkpoints.scope {
    require(buckets > 0 && iters >= 0 && lrNum > 0 && lrDen > 0,
      s"bad LR hyperparameters: buckets=$buckets iters=$iters lr=$lrNum/$lrDen")
    val base0 = df.select(col(textCol).as("t"), label.cast("int").as("y"))
    val base = (if (trainPct < 100)
      Sampling.deterministicSample(base0, col("t"), trainPct) else base0)
      .filter(col("y").isin(0, 1))
      .transform(Checkpoints.pin) // materialize once; every GD pass rescans this
    val stats = base.agg(count(lit(1)),
      sum(coalesce(length(col("t")), lit(0)))).head()
    val n = stats.getLong(0)
    require(n > 0, "LR training set is empty")
    // length(t) bounds the token count; cheap conservative overflow guard
    require(stats.getLong(1) <= MaxTrainTokens,
      s"LR training sample has > $MaxTrainTokens tokens; lower trainPct — " +
        "gradient slots could wrap")
    import org.apache.spark.unsafe.types.UTF8String
    def rowText(row: org.apache.spark.sql.Row): UTF8String =
      UTF8String.fromString(if (row.isNullAt(0)) "" else row.getString(0))
    // local path pre-tokenizes ONCE into bucket-id arrays (strings scan
    // 200× otherwise); the distributed path re-scans per pass — the
    // sample affords n×len ints in driver memory, the corpus does not
    val local: Array[(Array[Int], Int)] =
      if (n <= localFitMaxDocs)
        base.collect().map(r =>
          (LrKernel.bucketIds(rowText(r), buckets), r.getInt(1)))
      else null
    val rdd = if (local == null) base.select(col("t"), col("y")).rdd else null
    val w = new Array[Long](buckets)
    var b0 = 0L
    for (_ <- 1 to iters) {
      val grad =
        if (local != null) {
          val g = new Array[Long](buckets + 1)
          var d = 0
          while (d < local.length) {
            val (toks, y) = local(d)
            var z = b0
            var k = 0
            while (k < toks.length) { z += w(toks(k)); k += 1 }
            val coeff = LrKernel.probFp(z) - y * LrKernel.Scale
            k = 0
            while (k < toks.length) { g(toks(k)) += coeff; k += 1 }
            g(buckets) += coeff
            d += 1
          }
          g
        } else rdd.treeAggregate(new Array[Long](buckets + 1))(
          seqOp = (g, row) => {
            val t = rowText(row)
            val coeff = LrKernel.probFp(LrKernel.logitFp(t, w, b0)) -
              row.getInt(1) * LrKernel.Scale
            LrKernel.addGrad(t, coeff, g)
            g
          },
          combOp = (a, b) => {
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          })
      var i = 0
      while (i < buckets) { w(i) -= lrNum * grad(i) / (lrDen * n); i += 1 }
      b0 -= lrNum * grad(buckets) / (lrDen * n)
    }
    LrModel(w, b0)
  }

  /** Score `df`: adds exact `logit` (fixed-point Long), deterministic
    * `prob`, and boolean `pred` columns — one shuffle-free codegen scan. */
  def score(df: DataFrame, textCol: String, model: LrModel): DataFrame =
    df.withColumn("logit", model.logit(col(textCol)))
      .withColumn("prob", model.prob(col(textCol)))
      .withColumn("pred", model.pred(col(textCol)))
}
