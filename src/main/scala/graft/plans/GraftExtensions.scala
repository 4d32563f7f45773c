package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, HyperplaneBucket, Md5Long, PqCodes, PqLut}
import graft.operators.Similarity

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions so `spark.sql("... cosine_sim(a,b)")`
  * works on any session built with
  * `.withExtensions(new GraftExtensions)` — or via
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object GraftExtensions {
  /** One SQL function: its name, the expression class it builds, and
    * its builder. */
  type SqlFunction =
    (String, Class[_ <: Expression], Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_ <: Expression], n: Int)(
      b: Seq[Expression] => Expression): SqlFunction =
    (name, cls, children => {
      require(children.length == n,
        s"$name expects $n argument(s), got ${children.length}")
      b(children)
    })

  /** The engine's SQL functions — the one table both the session
    * extension and [[registerAll]] register. */
  val functions: Seq[SqlFunction] = Seq(
    fn("cosine_sim", classOf[CosineSimilarity], 2)(c =>
      CosineSimilarity(c.head, c(1))),
    fn("lsh_bucket", classOf[HyperplaneBucket], 1)(c =>
      HyperplaneBucket(c.head, Similarity.hyperplanes)),
    fn("md5_long60", classOf[Md5Long], 1)(c => Md5Long(c.head)),
    fn("pq_codes", classOf[PqCodes], 1)(c =>
      PqCodes(c.head, Similarity.pqCodebook)),
    fn("pq_lut", classOf[PqLut], 1)(c =>
      PqLut(c.head, Similarity.pqCodebook)))

  /** Register the same functions on an already-built session (temp
    * functions — handy in notebooks/tests where the builder is gone). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}
