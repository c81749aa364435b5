package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SQL registration for the custom Catalyst expressions, so *task SQL* (the
  * job layer's surface, SURVEY §2A) can call them like built-ins:
  *
  * {{{
  * -- name: near_neighbors
  * SELECT vec_id, cosine_similarity(embedding, $1) AS score FROM embeddings ...
  * -- name: shingle_counts
  * SELECT doc_id, size(word_shingles(text, 3)) FROM documents ...
  * }}}
  *
  * The reference has no user-function surface (SQL is opaque text to it,
  * SURVEY §2B); the port gains one for free via the session's
  * FunctionRegistry — this is the idiomatic Spark equivalent of a database's
  * CREATE FUNCTION.
  */
object GraftFunctions {

  private val Names = Seq("word_shingles", "bpe_token_count", "cosine_similarity", "graft_sleep")

  /** Register all graft functions into the session, once: a no-op on a
    * session that already has the set. */
  def registerAll(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    if (!Names.forall(n => reg.functionExists(FunctionIdentifier(n)))) {
      reg.createOrReplaceTempFunction("word_shingles", exprs => exprs match {
        case Seq(text) => WordShingles(text, 3)
        case Seq(text, k) => WordShingles(text,
          k.eval().asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException(
          "word_shingles(text[, k]) takes 1 or 2 arguments")
      }, "scala_udf")
      reg.createOrReplaceTempFunction("bpe_token_count", exprs => exprs match {
        case Seq(text) => BpeTokenCount(text)
        case _ => throw new IllegalArgumentException(
          "bpe_token_count(text) takes 1 argument")
      }, "scala_udf")
      reg.createOrReplaceTempFunction("cosine_similarity", exprs => exprs match {
        case Seq(a, b) => CosineSimilarity(a, b)
        case _ => throw new IllegalArgumentException(
          "cosine_similarity(a, b) takes 2 arguments")
      }, "scala_udf")
      // pg_sleep/SLEEP analog (the reference's own test tasks use it,
      // sql/pg/test.postgres.sql:23-26) — for exercising slow queries
      spark.udf.register("graft_sleep", (ms: Int) => { Thread.sleep(ms.toLong); true })
    }
  }
}
