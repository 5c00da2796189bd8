package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.{CosineSimilarity, DotProduct, DotProductDD, ExpMicro, LnScaledMicro, SortedOverlap, WordNgrams}

/** Registration hook for the engine's custom functions — an embedding
  * application calls this from its SessionProvider (mirrors per-session
  * function registration, examples/bearer_auth_flight_sql.rs:95-114).
  */
object GraftFunctions {

  /** (name, builder) of every engine function: the one list both this
    * imperative path and `graft.plans.GraftSparkSessionExtension` install.
    */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", e => CosineSimilarity(e(0), e(1))),
    ("graft_dot", e => DotProduct(e(0), e(1))),
    ("graft_dot_d", e => DotProductDD(e(0), e(1))),
    ("graft_overlap", e => SortedOverlap(e(0), e(1))),
    ("graft_ngrams", e => WordNgrams(e(0), e(1))),
    ("graft_ln_scaled", e => LnScaledMicro(e(0), e(1), e(2))),
    ("graft_exp_micro", e => ExpMicro(e(0))))

  /** Installs each function the session does not resolve yet, so sessions
    * built with the extension, and a function the caller registered under a
    * graft name, are left as they are.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
