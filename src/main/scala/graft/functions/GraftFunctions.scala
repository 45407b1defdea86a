package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL registration for the engine's custom Catalyst expressions, so
  * `spark.sql("SELECT porter_stem(term) ...")` works alongside the Column
  * API (the reference's users drive everything through fixed jobs; ours
  * get both surfaces).
  *
  * Two integration paths:
  *   - [[GraftFunctions.register]] — imperative per-session registration;
  *   - [[graft.plans.GraftExtensions]] — the injection-point path:
  *     `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  *     loads the functions into EVERY session of the deployment at
  *     session-build time, the way a library ships Catalyst extensions.
  */
object GraftFunctions {

  /** The function table — single source for both integration paths:
    * (name, builder, usage, implementing class for DESCRIBE FUNCTION).
    */
  val All: Seq[(String, Seq[Expression] => Expression, String, String)] = Seq(
    ("porter_stem", exprs => StemExpr(exprs.head),
      "porter_stem(str) - Porter-stems an English word (codegen)",
      classOf[StemExpr].getCanonicalName),
    ("dot_q", exprs => DotQ(exprs(0), exprs(1)),
      "dot_q(arr1, arr2) - exact int64 dot product of quantized vectors (codegen)",
      classOf[DotQ].getCanonicalName),
    ("dct16", exprs => Dct16(exprs.head),
      "dct16(arr) - 16 raw low-frequency DCT sums of 256 int samples (codegen)",
      classOf[Dct16].getCanonicalName))

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    All.foreach { case (name, builder, _, _) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
