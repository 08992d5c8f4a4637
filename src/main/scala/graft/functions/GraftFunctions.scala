package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Function registration, both forms:
  *  - programmatic: [[GraftFunctions.register]] on an existing session;
  *  - declarative: `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {
  private[functions] val cosineBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case exprs => throw new IllegalArgumentException(
      s"cosine_similarity expects 2 arguments, got ${exprs.length}")
  }

  private[functions] val arraySumLongBuilder: Seq[Expression] => Expression = {
    case Seq(a) => ArraySumLong(a)
    case exprs => throw new IllegalArgumentException(
      s"array_sum_long expects 1 argument (array<bigint>), got ${exprs.length}")
  }

  /** Graft spellings of the internal expressions Spark's runtime
    * bloom-filter join plans with (`BloomFilterAggregate` /
    * `BloomFilterMightContain`) — exposed as first-class functions so the
    * cross-corpus dedup prefilter ([[graft.operators.CrossCorpus]]) can
    * build and probe corpus blooms declaratively. Usage:
    * `bloom_agg(longCol, estItemsL, numBitsL)` → binary;
    * `bloom_might_contain(bloomBinary, longCol)` → boolean.
    */
  private[functions] val bloomAggBuilder: Seq[Expression] => Expression = {
    case Seq(child, est, bits) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        child, est, bits)
    case exprs => throw new IllegalArgumentException(
      s"bloom_agg expects 3 arguments (value, estItems, numBits), got ${exprs.length}")
  }
  private[functions] val bloomMightContainBuilder: Seq[Expression] => Expression = {
    case Seq(bloom, value) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bloom, value)
    case exprs => throw new IllegalArgumentException(
      s"bloom_might_contain expects 2 arguments (bloom, value), got ${exprs.length}")
  }

  private[functions] val tokenTermCountsBuilder: Seq[Expression] => Expression = {
    case Seq(t, terms) => TokenTermCounts(t, terms)
    case exprs => throw new IllegalArgumentException(
      s"token_term_counts expects 2 arguments (text, terms), got ${exprs.length}")
  }

  private[functions] val wordShinglesBuilder: Seq[Expression] => Expression = {
    case Seq(t, n, d) if n.foldable && d.foldable =>
      (n.eval(), d.eval()) match {
        case (nv: Number, dv: java.lang.Boolean) =>
          WordShingles(t, nv.intValue(), dv.booleanValue())
        case (nv, dv) => throw new IllegalArgumentException(
          "word_shingles expects a non-null int n and boolean dedup, " +
            s"got n = $nv, dedup = $dv")
      }
    case Seq(_, _, _) => throw new IllegalArgumentException(
      "word_shingles expects FOLDABLE (constant) n and dedup arguments")
    case exprs => throw new IllegalArgumentException(
      "word_shingles expects 3 arguments (text, int n, boolean dedup), " +
        s"got ${exprs.length}")
  }

  /** Idempotent session-local registration (all graft functions). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity", cosineBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "token_term_counts", tokenTermCountsBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles", wordShinglesBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_agg", bloomAggBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_might_contain", bloomMightContainBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "array_sum_long", arraySumLongBuilder, "scala_udf")
    FrequentItems.register(spark)
  }
}

/** `spark.sql.extensions` entry point (SparkSessionExtensions injection). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    // every builder here is the SAME guarded builder the session-registry
    // path uses (r14, advisor): a wrong-arity SQL call must fail as a
    // clean analysis-time IllegalArgumentException, not an
    // IndexOutOfBoundsException from a bare exprs(i)
    extensions.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      GraftFunctions.cosineBuilder))
    extensions.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("mg_freq"),
      new ExpressionInfo(classOf[MgFreq].getName, "mg_freq"),
      FrequentItems.mgFreqBuilder))
    extensions.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("token_term_counts"),
      new ExpressionInfo(classOf[TokenTermCounts].getName, "token_term_counts"),
      GraftFunctions.tokenTermCountsBuilder))
    extensions.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      GraftFunctions.wordShinglesBuilder))
    extensions.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      GraftFunctions.bloomAggBuilder))
    extensions.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      GraftFunctions.bloomMightContainBuilder))
    extensions.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("mg_freq_text"),
      new ExpressionInfo(classOf[MgFreqText].getName, "mg_freq_text"),
      FrequentItems.mgFreqTextBuilder))
    extensions.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("array_sum_long"),
      new ExpressionInfo(classOf[ArraySumLong].getName, "array_sum_long"),
      GraftFunctions.arraySumLongBuilder))
  }
}
