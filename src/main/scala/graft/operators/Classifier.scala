package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** FastText-style linear quality classifier (Joulin et al. 2016 "Bag of
  * Tricks for Efficient Text Classification") — the mainstream
  * data-curation scorer (CCNet / LLaMA-style "looks like the reference
  * corpus" gates): a logistic regression over HASHED unigram+bigram
  * features ([[graft.functions.TextVectorKernels.hashedBowIds]] — a pure
  * function of the text, no vocabulary state), trained on a labeled
  * slice, scoring map-only via the frozen weight vector riding a
  * codegen'd expression.
  *
  * Scale posture: the labeled training slice is bounded by curation
  * practice (quality classifiers train on 10⁵–10⁶ docs, not the corpus),
  * but training is still DISTRIBUTED — the per-(doc, feature) frame is
  * built once (one explode + one groupBy) and pinned; each full-batch GD
  * iteration is ONE job whose only driver collect is the gradient,
  * bounded by `dim` (the k-centroid collect contract), never by docs.
  * INFERENCE is the 100 TB half: one map-only pass through
  * [[graft.functions.TextVectorExpressions.hashed_bow_margin]] — zero
  * shuffles, weights broadcast inside the expression (plan-guarded in
  * ClassifierSpec).
  *
  * Determinism: feature counts are exact ints; every floating sum
  * (margins, gradients) rounds its per-row contribution to 8 decimals
  * and accumulates as DECIMAL (the repo convention — double accumulation
  * order is partition-dependent); sigmoid/updates are pure functions of
  * those exact sums. Training twice yields bit-identical weights
  * (spec-pinned), so frozen-oracle scores can't drift.
  */
object Classifier {

  /** Driver-sized model state: `weights.length` = the feature-hash dim. */
  final case class BowLrModel(weights: Array[Double], bias: Double)

  /** Train by full-batch gradient descent: margin_d = Σ_f w[f]·x_df + b
    * with x_df = count_df / n_features_d (the fastText mean-of-features
    * normalization), p_d = σ(margin_d),
    * grad[f] = Σ_d (p_d − y_d)·x_df / n_docs. `labelCol` is 1.0/0.0
    * (1 = high quality). Textless docs contribute no features and are
    * excluded from training (score them anyway — they land at σ(b)).
    *
    * `biasLr` is separate (and much smaller) than `lr` by necessity, not
    * taste: under mean-normalization each doc feeds the bias a full
    * (p−y) but any single weight only (p−y)/n_features ≈ 1% of that, so
    * a shared step size either oscillates the bias (large lr) or
    * freezes the weights (small lr) — measured on the spec corpus, a
    * shared lr never cleanly crossed the 0.5 threshold while
    * lr=400/biasLr=1 separates with a 0.78 score gap in 20 iterations.
    */
  def trainQualityLr(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, dim: Int = 2048, iters: Int = 20,
      lr: Double = 400.0, biasLr: Double = 1.0): BowLrModel = {
    require(dim >= 1, s"dim ($dim) must be >= 1")
    require(iters >= 1, s"iters ($iters) must be >= 1")
    require(lr > 0 && biasLr > 0, s"lr ($lr) and biasLr ($biasLr) must be > 0")
    import graft.functions.TextVectorExpressions.hashed_bow_ids
    // (doc, label, n_features, feature, count) — built once, read every
    // iteration; the explode never leaves this block
    val base = docs
      .select(col(idCol).as("_id"), col(labelCol).cast("double").as("_y"),
        hashed_bow_ids(col(textCol), dim).as("_ids"))
      .filter(size(col("_ids")) > 0)
      .select(col("_id"), col("_y"), size(col("_ids")).cast("double").as("_nf"),
        explode(col("_ids")).as("_fid"))
      .groupBy("_id", "_y", "_nf", "_fid")
      .agg(count(lit(1)).cast("double").as("_cnt"))
      .localCheckpoint(true)
    try {
      val nDocs = base.select("_id").distinct().count()
      require(nDocs > 0, "no non-empty labeled docs to train on")
      val weights = new Array[Double](dim)
      var bias = 0.0
      val decSum = (c: Column) => sum(round(c, 8).cast(DecimalType(30, 8)))
      (1 to iters).foreach { _ =>
        val wLit = typedlit(weights.toSeq)
        val margins = base
          .withColumn("_c", round(element_at(wLit, col("_fid") + 1) *
            col("_cnt") / col("_nf"), 8).cast(DecimalType(30, 8)))
          .groupBy("_id")
          .agg(first(col("_y")).as("_y"),
            (sum(col("_c")).cast("double") + bias).as("_m"))
          .withColumn("_p", lit(1.0) / (lit(1.0) + exp(-col("_m"))))
          .select("_id", "_y", "_p")
        // one collect per iteration, dim+1 rows: per-feature gradient
        // sums plus the bias gradient as the sentinel fid = -1
        val grads = base.select("_id", "_fid", "_cnt", "_nf").join(margins, "_id")
          .select(col("_fid"),
            ((col("_p") - col("_y")) * col("_cnt") / col("_nf")).as("_g"))
          .unionByName(margins.select(lit(-1).as("_fid"),
            (col("_p") - col("_y")).as("_g")))
          .groupBy("_fid").agg(decSum(col("_g")).cast("double").as("_g"))
          .collect()
        grads.foreach { r =>
          val f = r.getInt(0)
          if (f < 0) bias -= biasLr * r.getDouble(1) / nDocs
          else weights(f) -= lr * r.getDouble(1) / nDocs
        }
      }
      BowLrModel(weights, bias)
    } finally Dedup.releaseLocalCheckpoint(base)
  }

  /** Persist a trained model: weights as an (idx, w) table plus a 1-row
    * (bias, dim) meta table through a [[graft.sinks.ManifestMergeEngine]]
    * — train-once/score-many, the [[AnnIndexStore]] lifecycle for the
    * scorer (a production gate retrains occasionally but scores every
    * ingest batch; the model must outlive the training session). Both
    * tables are driver-sized (dim rows).
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, path: String,
      model: BowLrModel,
      engine: graft.sinks.ManifestMergeEngine = new graft.sinks.ManifestMergeEngine())
      : Unit = {
    require(engine.read(spark, s"$path/meta").isEmpty,
      s"model already exists at $path — retrains go to a new path")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val wSchema = StructType(Seq(StructField("idx", IntegerType, nullable = false),
      StructField("w", DoubleType, nullable = false)))
    val wRows = model.weights.zipWithIndex.map { case (w, i) => Row(i, w) }
    engine.append(s"$path/weights", spark.createDataFrame(
      java.util.Arrays.asList(wRows: _*), wSchema).coalesce(1))
    val mSchema = StructType(Seq(StructField("bias", DoubleType, nullable = false),
      StructField("dim", IntegerType, nullable = false)))
    engine.append(s"$path/meta", spark.createDataFrame(
      java.util.Collections.singletonList(Row(model.bias, model.weights.length)),
      mSchema).coalesce(1))
  }

  /** Load a persisted model — bit-identical to what [[saveModel]] stored
    * (spec-pinned), so scores from a reloaded model can never drift from
    * the training session's.
    */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String,
      engine: graft.sinks.ManifestMergeEngine = new graft.sinks.ManifestMergeEngine())
      : BowLrModel = {
    val m = engine.read(spark, s"$path/meta")
      .getOrElse(throw new IllegalStateException(s"no model at $path"))
      .select("bias", "dim").head()
    val dim = m.getInt(1)
    val weights = new Array[Double](dim)
    engine.read(spark, s"$path/weights")
      .getOrElse(throw new IllegalStateException(s"no weights at $path"))
      .select("idx", "w").collect()
      .foreach(r => weights(r.getInt(0)) = r.getDouble(1))
    BowLrModel(weights, m.getDouble(0))
  }

  /** Map-only scoring under a frozen model: (idCol, quality_score, keep)
    * with quality_score = σ(margin + bias) rounded to 4 decimals and
    * keep = score ≥ `threshold`. Zero shuffles — the weight vector rides
    * the codegen'd kernel, so this composes into any scan-side gate
    * chain (x23-style corpus cleaning) for free.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      model: BowLrModel, threshold: Double = 0.5): DataFrame = {
    // null text scores like empty text (σ(bias)) — without the coalesce
    // the null-safe kernel propagates null into quality_score AND keep,
    // and a downstream keep-filter drops those rows silently instead of
    // applying the documented textless-doc contract
    val margin = graft.functions.TextVectorExpressions
      .hashed_bow_margin(coalesce(col(textCol), lit("")), model.weights) +
      lit(model.bias)
    docs.select(col(idCol).as("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-margin)), 4).as("quality_score"))
      .withColumn("keep", col("quality_score") >= threshold)
  }

  /** Driver-sized multi-class model: `labels(c)` names class c,
    * `weights(c)` is its dim-length row, `bias(c)` its intercept.
    */
  final case class BowSoftmaxModel(labels: Array[String],
      weights: Array[Array[Double]], bias: Array[Double])

  /** Multinomial (softmax) sibling of [[trainQualityLr]] — the
    * CCNet/DSIR-style DOMAIN classifier ("which slice of the mixture
    * does this doc belong to"), feeding source-mixing weights (x28/x55)
    * with per-doc domain labels instead of a binary keep gate. Same
    * machinery end to end: hashed unigram+bigram features, full-batch
    * GD where each iteration is a handful of distributed jobs over the
    * pinned (doc, feature) frame and the ONLY collect is the gradient —
    * `nClasses × (dim+1)` rows, model-bounded, never doc-bounded.
    * Class order is the sorted distinct label set (deterministic);
    * margins/softmax/gradients follow the repo determinism convention
    * (per-row contributions rounded to 8 decimals, DECIMAL accumulation
    * — window sums included, exact decimal addition is
    * order-independent), so training twice is bit-identical.
    */
  def trainDomainSoftmax(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, dim: Int = 2048, iters: Int = 20,
      lr: Double = 400.0, biasLr: Double = 1.0): BowSoftmaxModel = {
    require(dim >= 1, s"dim ($dim) must be >= 1")
    require(iters >= 1, s"iters ($iters) must be >= 1")
    require(lr > 0 && biasLr > 0, s"lr ($lr) and biasLr ($biasLr) must be > 0")
    import graft.functions.TextVectorExpressions.hashed_bow_ids
    val labelsRaw: Array[String] = docs.select(col(labelCol).cast("string"))
      .distinct().collect().map(_.getString(0))
    // a null label would NPE the sort here and — worse, had it survived
    // — array_position would map it to a null class index treated as
    // all-class-negative in the gradient; refuse it loudly instead
    require(!labelsRaw.contains(null),
      s"label column '$labelCol' contains nulls — every training row " +
        "must carry a domain label")
    val labels = labelsRaw.sorted
    require(labels.length >= 2 && labels.length <= 1024,
      s"need 2..1024 distinct labels, got ${labels.length}")
    val nC = labels.length
    val labelIdx = array_position(typedlit(labels.toSeq),
      col(labelCol).cast("string")).cast("int") - 1
    val base = docs
      .select(col(idCol).as("_id"), labelIdx.as("_y"),
        hashed_bow_ids(col(textCol), dim).as("_ids"))
      .filter(size(col("_ids")) > 0)
      .select(col("_id"), col("_y"), size(col("_ids")).cast("double").as("_nf"),
        explode(col("_ids")).as("_fid"))
      .groupBy("_id", "_y", "_nf", "_fid")
      .agg(count(lit(1)).cast("double").as("_cnt"))
      .localCheckpoint(true)
    try {
      val nDocs = base.select("_id").distinct().count()
      require(nDocs > 0, "no non-empty labeled docs to train on")
      val weights = Array.fill(nC)(new Array[Double](dim))
      val bias = new Array[Double](nC)
      val decSum = (c: Column) => sum(round(c, 8).cast(DecimalType(30, 8)))
      val wdoc = org.apache.spark.sql.expressions.Window.partitionBy("_id")
      (1 to iters).foreach { _ =>
        val wFlat = typedlit(weights.flatten.toSeq)
        val bLit = typedlit(bias.toSeq)
        // per-(doc, class) margins: the feature frame fans out ×nC — the
        // softmax cost model; nC is mixture-domain-bounded (≤ dozens)
        val margins = base
          .select(col("_id"), col("_y"), col("_nf"), col("_fid"), col("_cnt"),
            explode(typedlit(Seq.range(0, nC))).as("_cid"))
          .withColumn("_c", round(
            element_at(wFlat, col("_cid") * dim + col("_fid") + 1) *
              col("_cnt") / col("_nf"), 8).cast(DecimalType(30, 8)))
          .groupBy("_id", "_cid")
          .agg(first(col("_y")).as("_y"),
            (sum(col("_c")).cast("double") +
              element_at(bLit, col("_cid") + 1)).as("_m"))
        // stable softmax over the doc's nC margins via window aggs: max
        // is order-free, the normalizer is a DECIMAL sum of 8-decimal-
        // rounded exps — deterministic at any row order
        val probs = margins
          .withColumn("_e", round(exp(col("_m") - max(col("_m")).over(wdoc)), 8)
            .cast(DecimalType(30, 8)))
          .withColumn("_p", (col("_e") / sum(col("_e")).over(wdoc)).cast("double"))
          .select(col("_id"), col("_cid"), col("_y"), col("_p"))
        val onehot = when(col("_y") === col("_cid"), lit(1.0)).otherwise(lit(0.0))
        // one collect per iteration, nC×(dim+1) rows: per-(class,
        // feature) gradients plus each class's bias gradient at fid=-1
        val grads = base.select("_id", "_fid", "_cnt", "_nf").join(probs, "_id")
          .select(col("_cid"), col("_fid"),
            ((col("_p") - onehot) * col("_cnt") / col("_nf")).as("_g"))
          .unionByName(probs.select(col("_cid"), lit(-1).as("_fid"),
            (col("_p") - onehot).as("_g")))
          .groupBy("_cid", "_fid").agg(decSum(col("_g")).cast("double").as("_g"))
          .collect()
        grads.foreach { r =>
          val c = r.getInt(0)
          val f = r.getInt(1)
          if (f < 0) bias(c) -= biasLr * r.getDouble(2) / nDocs
          else weights(c)(f) -= lr * r.getDouble(2) / nDocs
        }
      }
      BowSoftmaxModel(labels, weights, bias)
    } finally Dedup.releaseLocalCheckpoint(base)
  }

  /** Persist a trained softmax model through the manifest engine — the
    * [[saveModel]] lifecycle for the domain labeler: `classes` (cid,
    * label, bias — one row per class, class order frozen) + `weights`
    * (cid, idx, w). Both tables are model-sized (nClasses × dim rows).
    */
  def saveSoftmaxModel(spark: org.apache.spark.sql.SparkSession, path: String,
      model: BowSoftmaxModel,
      engine: graft.sinks.ManifestMergeEngine = new graft.sinks.ManifestMergeEngine())
      : Unit = {
    require(engine.read(spark, s"$path/classes").isEmpty,
      s"model already exists at $path — retrains go to a new path")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cSchema = StructType(Seq(
      StructField("cid", IntegerType, nullable = false),
      StructField("label", StringType, nullable = false),
      StructField("bias", DoubleType, nullable = false)))
    val cRows = model.labels.indices.map(i =>
      Row(i, model.labels(i), model.bias(i)))
    engine.append(s"$path/classes", spark.createDataFrame(
      java.util.Arrays.asList(cRows: _*), cSchema).coalesce(1))
    val wSchema = StructType(Seq(
      StructField("cid", IntegerType, nullable = false),
      StructField("idx", IntegerType, nullable = false),
      StructField("w", DoubleType, nullable = false)))
    val wRows = for {
      c <- model.weights.indices
      i <- model.weights(c).indices
    } yield Row(c, i, model.weights(c)(i))
    engine.append(s"$path/weights", spark.createDataFrame(
      java.util.Arrays.asList(wRows: _*), wSchema).coalesce(1))
  }

  /** Load a persisted softmax model — bit-identical to what
    * [[saveSoftmaxModel]] stored, class order included.
    */
  def loadSoftmaxModel(spark: org.apache.spark.sql.SparkSession, path: String,
      engine: graft.sinks.ManifestMergeEngine = new graft.sinks.ManifestMergeEngine())
      : BowSoftmaxModel = {
    val classes = engine.read(spark, s"$path/classes")
      .getOrElse(throw new IllegalStateException(s"no model at $path"))
      .select("cid", "label", "bias").collect()
      .sortBy(_.getInt(0))
    val labels = classes.map(_.getString(1))
    val bias = classes.map(_.getDouble(2))
    val wRows = engine.read(spark, s"$path/weights")
      .getOrElse(throw new IllegalStateException(s"no weights at $path"))
      .select("cid", "idx", "w").collect()
    val dim = wRows.map(_.getInt(1)).max + 1
    val weights = Array.fill(labels.length)(new Array[Double](dim))
    wRows.foreach(r => weights(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    BowSoftmaxModel(labels, weights, bias)
  }

  /** Map-only domain inference under a frozen softmax model: (doc_id,
    * domain, confidence) with domain = argmax class (first index on
    * exact ties — deterministic) and confidence = its softmax
    * probability rounded to 4 decimals. The weight MATRIX rides one
    * codegen'd kernel call ([[graft.functions.HashedBowMarginsExpr]] —
    * features hashed once, reused across classes); softmax/argmax are
    * per-row array built-ins. Zero shuffles (plan-guarded), so domain
    * labeling composes into scan-side gate chains like [[score]] does.
    * Null/empty text lands at the bias argmax, never a null row.
    */
  def scoreDomains(docs: DataFrame, idCol: String, textCol: String,
      model: BowSoftmaxModel): DataFrame = {
    val margins = graft.functions.TextVectorExpressions
      .hashed_bow_margins(coalesce(col(textCol), lit("")), model.weights)
    docs.select(col(idCol).as("doc_id"),
        zip_with(margins, typedlit(model.bias.toSeq), (m, b) => m + b).as("_m"))
      .withColumn("_mx", array_max(col("_m")))
      .withColumn("_e", transform(col("_m"), x => exp(x - col("_mx"))))
      .withColumn("_idx", array_position(col("_m"), col("_mx")).cast("int"))
      .select(col("doc_id"),
        element_at(typedlit(model.labels.toSeq), col("_idx")).as("domain"),
        round(element_at(col("_e"), col("_idx")) /
          aggregate(col("_e"), lit(0.0), (acc, x) => acc + x), 4)
          .as("confidence"))
  }
}
