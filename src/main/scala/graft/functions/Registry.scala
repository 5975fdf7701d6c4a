package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, FunctionRegistryBase}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

import graft.sql.TableFunctions

/** The one catalog of SQL-callable scalar and aggregate kernels.
  *
  * Each kernel is declared once in [[kernels]]: its SQL name, the
  * expression class `DESCRIBE FUNCTION` reports, and the builder that turns
  * the call's argument expressions into the expression tree. The table
  * functions have their own list, [[graft.sql.TableFunctions.functions]].
  * Every install route reads those two lists:
  *  - [[graft.GraftExtensions]] injects every entry into a session built
  *    with `spark.sql.extensions=graft.GraftExtensions`;
  *  - [[call]], which every Column wrapper goes through, installs the
  *    entries the active session lacks, then calls the function by name
  *    (the registry + `call_function` is the public Expression→Column seam
  *    in Spark 4).
  *
  * So a session's SQL surface is the whole catalog whichever route built
  * it, and whichever wrapper ran first.
  *
  * Installation is register-ONCE per session: re-registering a name logs
  * `WARN SimpleFunctionRegistry: the function X replaced ...` on every
  * repeat, which at one wrapper call per Column reference floods the logs
  * and interleaves with machine-read output.
  *
  * Knobs (n-gram sizes, dimensions, frozen model matrices) arrive as
  * foldable literals and are decoded once, at expression build, by the
  * `lit*`/`foldable*` decoders below, which the table functions share.
  */
object Registry {

  type Kernel = (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder)

  private def kernel(name: String, cls: Class[_ <: Expression])(
      build: Seq[Expression] => Expression): Kernel =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val kernels: Seq[Kernel] = Seq(
    // wire-format decoding (the F1 feed)
    kernel("inflate_raw", classOf[InflateRaw])(e => InflateRaw(e(0))),
    kernel("parse_pyline", classOf[ParsePyLine])(e => ParsePyLine(e(0))),
    // text / dedup
    kernel("shingle_hashes", classOf[ShingleHashes])(
      e => ShingleHashes(e(0), litInt(e(1)))),
    kernel("shingle_hash_seq", classOf[ShingleHashSeq])(
      e => ShingleHashSeq(e(0), litInt(e(1)))),
    kernel("minhash_signature", classOf[MinHashSignature])(
      e => MinHashSignature(e(0), litInt(e(1)))),
    kernel("simhash64", classOf[SimHash64])(e => SimHash64(e(0))),
    kernel("sig_agreement", classOf[SigAgreement])(
      e => SigAgreement(e(0), e(1))),
    kernel("token_gram", classOf[TokenGramExpr])(
      e => TokenGramExpr(e(0), e(2), litInt(e(1)))),
    kernel("pii_scan", classOf[PiiScanExpr])(e => PiiScanExpr(e(0))),
    kernel("repetition_stats", classOf[RepetitionStatsExpr])(
      e => RepetitionStatsExpr(e(0))),
    kernel("stopword_ratios", classOf[StopwordRatios])(e => StopwordRatios(e(0))),
    kernel("lang_id", classOf[LangId])(e => LangId(e(0))),
    // vectors and quantizers: model matrices arrive as nested-array literals
    kernel("vec_dot", classOf[VecDot])(e => VecDot(e(0), e(1))),
    kernel("hyperplane_bucket", classOf[HyperplaneBucketExpr])(
      e => HyperplaneBucketExpr(e(0), litInt(e(1)))),
    kernel("sign_pack", classOf[SignPackExpr])(e => SignPackExpr(e(0))),
    kernel("hamming_dist", classOf[HammingDistExpr])(
      e => HammingDistExpr(e(0), e(1))),
    kernel("nearest_centroids", classOf[NearestCentroids])(
      e => NearestCentroids(e(0), foldableMatrix(e(1)), litInt(e(2)))),
    kernel("adaptive_nearest_centroids", classOf[AdaptiveNearestCentroids])(
      e => AdaptiveNearestCentroids(e(0), foldableMatrix(e(1)),
        litInt(e(2)), litInt(e(3)), litDouble(e(4)))),
    kernel("pq_encode", classOf[PqEncodeExpr])(
      e => PqEncodeExpr(e(0), foldableMatrix(e(1)), litInt(e(2)), litInt(e(3)))),
    kernel("pq_lut", classOf[PqLutExpr])(
      e => PqLutExpr(e(0), foldableMatrix(e(1)), litInt(e(2)), litInt(e(3)))),
    kernel("pq_adc", classOf[PqAdcExpr])(e => PqAdcExpr(e(0), e(1), litInt(e(2)))),
    kernel("sq8_encode", classOf[Sq8EncodeExpr])(
      e => Sq8EncodeExpr(e(0), foldableDoubles(e(1)), foldableDoubles(e(2)))),
    kernel("sq8_dot", classOf[Sq8DotExpr])(
      e => Sq8DotExpr(e(0), e(1), foldableDoubles(e(2)), foldableDoubles(e(3)))),
    kernel("sq8_norm", classOf[Sq8NormExpr])(
      e => Sq8NormExpr(e(0), foldableDoubles(e(1)), foldableDoubles(e(2)))),
    // classifiers and tokenizers
    kernel("hashed_bow_ids", classOf[HashedBowIdsExpr])(
      e => HashedBowIdsExpr(e(0), litInt(e(1)))),
    kernel("hashed_tf_vec", classOf[HashedTfVecExpr])(
      e => HashedTfVecExpr(e(0), litInt(e(1)))),
    kernel("hashed_bow_margin", classOf[HashedBowMarginExpr])(
      e => HashedBowMarginExpr(e(0), foldableDoubles(e(1)))),
    kernel("hashed_bow_margins", classOf[HashedBowMarginsExpr])(
      e => HashedBowMarginsExpr(e(0), foldableDoubles(e(1)), litInt(e(2)))),
    kernel("wordpiece_encode", classOf[WordPieceEncodeExpr])(
      e => WordPieceEncodeExpr(e(0), foldableStrings(e(1)))),
    kernel("merge_fold", classOf[MergeFoldExpr])(
      e => MergeFoldExpr(e(0), foldableStrings(e(1)), litBoolean(e(2)))),
    kernel("unigram_viterbi", classOf[UnigramViterbiExpr])(
      e => UnigramViterbiExpr(e(0), foldableStrings(e(1)),
        foldableDoubles(e(2)), litInt(e(3)), litDouble(e(4)))),
    // aggregate (the analyzer wraps it in its AggregateExpression)
    kernel("mg_topk", classOf[MisraGriesAgg])(
      e => MisraGriesAgg(e(0), litInt(e(1)))))

  /** Installs every kernel the session's registry lacks. */
  def registerOnce(spark: SparkSession): Unit =
    installMissing(spark.sessionState.functionRegistry, kernels)

  /** Registers each entry whose name the registry does not hold yet. */
  private[graft] def installMissing[T](r: FunctionRegistryBase[T],
      entries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => T)]): Unit =
    entries.foreach { case (id, info, build) =>
      if (!r.functionExists(id)) r.registerFunction(id, info, build)
    }

  /** The Column wrappers' one entry: installs whatever the catalog (kernels
    * and table functions) is missing from the active session, then calls
    * `name` on `args`.
    */
  private[graft] def call(name: String, args: Column*): Column = {
    val spark = SparkSession.active
    registerOnce(spark)
    TableFunctions.registerOnce(spark)
    call_function(name, args: _*)
  }

  private[graft] def litInt(e: Expression): Int =
    e.eval(null) match {
      case i: Int => i
      // SQL integer literals past Int range arrive as BIGINT; narrowing
      // them would silently run with a different knob
      case l: Long if l.isValidInt => l.toInt
      case other => throw new IllegalArgumentException(s"expected int literal, got $other")
    }

  private[graft] def litDouble(e: Expression): Double =
    e.eval(null) match {
      case d: Double  => d
      case f: Float   => f.toDouble
      case i: Int     => i.toDouble
      case l: Long    => l.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(s"expected numeric literal, got $other")
    }

  private[graft] def litBoolean(e: Expression): Boolean =
    e.eval(null) match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"expected boolean literal, got $other")
    }

  /** A centroid/codebook matrix travels as a foldable nested-array literal
    * and is extracted once at expression build — one fixed registration, no
    * closure capture, no registry growth per index build.
    */
  private[graft] def foldableMatrix(e: Expression): Array[Array[Double]] = {
    val arr = e.eval(null).asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { i =>
      arr.getArray(i).toDoubleArray()
    }.toArray
  }

  private[graft] def foldableStrings(e: Expression): Array[String] = {
    val arr = e.eval(null).asInstanceOf[ArrayData]
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString).toArray
  }

  private[graft] def foldableDoubles(e: Expression): Array[Double] =
    e.eval(null).asInstanceOf[ArrayData].toDoubleArray()
}
