package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import graft.functions.{BloomMightContain, BpeEncode, CharEntropy, CharGramHashes, CosineSimilarity, PqAssign, RangeBucket, WordGramCoverage}

/** Engine extensions: registers graft's native expressions so they are
  * callable from SQL, and injects the AQE query-stage prep rule
  * [[SmallSortRule]] (a global sort over a small materialized result
  * shuffles to one partition, with no range sampling job). Every
  * in-repo session loads them through `GraftSession.build`; a session
  * built elsewhere activates them with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`, or
  * gets the functions (not the rule) from `GraftFunctions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectQueryStagePrepRule(_ => SmallSortRule)
  }
}

object GraftFunctions {
  type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val descriptors: Seq[Descriptor] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))),
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (args: Seq[Expression]) => BloomMightContain(args(0), args(1))),
    (FunctionIdentifier("range_bucket"),
      new ExpressionInfo(classOf[RangeBucket].getName, "range_bucket"),
      (args: Seq[Expression]) => RangeBucket(args(0), args(1))),
    (FunctionIdentifier("char_gram_hashes"),
      new ExpressionInfo(classOf[CharGramHashes].getName, "char_gram_hashes"),
      (args: Seq[Expression]) => CharGramHashes(args(0), args(1))),
    (FunctionIdentifier("word_gram_coverage"),
      new ExpressionInfo(classOf[WordGramCoverage].getName, "word_gram_coverage"),
      (args: Seq[Expression]) => WordGramCoverage(args(0), args(1), args(2))),
    (FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (args: Seq[Expression]) => BpeEncode(args(0), args(1))),
    (FunctionIdentifier("pq_assign"),
      new ExpressionInfo(classOf[PqAssign].getName, "pq_assign"),
      (args: Seq[Expression]) => PqAssign(args(0), args(1))),
    (FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[CharEntropy].getName, "char_entropy"),
      (args: Seq[Expression]) => CharEntropy(args(0))))

  /** Register into a live session (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }

  /** Column-API handle for the native cosine. Requires `register(spark)`
    * (or the extensions config) on the session first — resolution goes
    * through the public FunctionRegistry, the one Column↔Expression
    * bridge that isn't private[sql] in Spark 4. */
  def cosineSim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Column-API handle for the Bloom membership probe: `key` is the
    * LongType key under test, `filterBytes` a driver-built
    * `BloomFilter`'s wire bytes (see `BloomMightContain.toBytes`),
    * embedded as a plan literal. Registers on demand like `cosineSim`. */
  def bloomMightContain(spark: SparkSession, key: Column,
                        filterBytes: Array[Byte]): Column = {
    register(spark)
    call_function("bloom_might_contain", key,
      org.apache.spark.sql.functions.lit(filterBytes))
  }

  /** Column-API handle for the quantile bucket kernel: `value` is cast
    * to double by the caller, `bounds` are ascending cut points embedded
    * as a plan literal. Registers on demand like `cosineSim`. */
  def rangeBucket(spark: SparkSession, value: Column,
                  bounds: Array[Double]): Column = {
    register(spark)
    call_function("range_bucket", value,
      org.apache.spark.sql.functions.lit(bounds))
  }

  /** Column-API handle for the positional char-n-gram key kernel
    * (`n` embedded as a foldable literal). Registers on demand. */
  def charGramHashes(spark: SparkSession, text: Column, n: Int): Column = {
    register(spark)
    call_function("char_gram_hashes", text,
      org.apache.spark.sql.functions.lit(n))
  }

  /** Column-API handle for the word-n-gram char-coverage kernel:
    * array of struct(maxp, dups), one per n in [minN, maxN].
    * Registers on demand. */
  def wordGramCoverage(spark: SparkSession, tokens: Column,
                       minN: Int, maxN: Int): Column = {
    register(spark)
    call_function("word_gram_coverage", tokens,
      org.apache.spark.sql.functions.lit(minN),
      org.apache.spark.sql.functions.lit(maxN))
  }

  /** Column-API handle for the PQ assignment kernel: `codebooks` are
    * the trained [subspace][centroid][dim] centroids embedded as a
    * plan literal. Registers on demand. */
  def pqAssign(spark: SparkSession, vec: Column,
               codebooks: Seq[Seq[Seq[Float]]]): Column = {
    register(spark)
    call_function("pq_assign", vec,
      org.apache.spark.sql.functions.typedLit(codebooks))
  }

  /** Column-API handle for the BPE subword encoder: `merges` is the
    * trained "left right" list embedded as a plan literal (training
    * order = merge rank). Registers on demand. */
  def bpeEncode(spark: SparkSession, text: Column,
                merges: Seq[String]): Column = {
    register(spark)
    call_function("bpe_encode", text,
      org.apache.spark.sql.functions.typedLit(merges))
  }

  /** Column-API handle for the character-entropy kernel. Registers on
    * demand. */
  def charEntropy(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function("char_entropy", text)
  }
}
