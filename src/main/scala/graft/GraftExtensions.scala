package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.FunctionBridge

import graft.functions.{AdcDistance, DotProduct, PqDistances, SimHash48}

/** SQL-surface registration for graft's custom Catalyst expressions.
  *
  * Two routes:
  *   - at session build time (the standard Spark extension mechanism):
  *     `--conf spark.sql.extensions=graft.GraftExtensions`, or
  *     `.withExtensions(new GraftExtensions)` on the session builder;
  *   - on a live session the host application already built:
  *     `GraftExtensions.register(spark)`.
  *
  * Either way `spark.sql("SELECT dot_product(a, b) ...")` resolves to the
  * codegen'd [[graft.functions.DotProduct]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  /** (name, info, builder) for every SQL-exposed graft expression. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("dot_product",
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"dot_product takes 2 arguments, got ${children.length}")
        DotProduct(children(0), children(1))
      }),
    ("simhash48",
      new ExpressionInfo(classOf[SimHash48].getName, "simhash48"),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"simhash48 takes 1 argument, got ${children.length}")
        SimHash48(children(0))
      }),
    ("adc_distance",
      new ExpressionInfo(classOf[AdcDistance].getName, "adc_distance"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"adc_distance takes 2 arguments, got ${children.length}")
        AdcDistance(children(0), children(1))
      }),
    ("pq_distances",
      new ExpressionInfo(classOf[PqDistances].getName, "pq_distances"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          s"pq_distances takes (vec, codebook, m, k), got ${children.length} arguments")
        PqDistances(children(0), children(1), litInt(children(2), "m"), litInt(children(3), "k"))
      }))

  /** m/k arrive from SQL as literal expressions; they shape the plan (loop
    * bounds baked into codegen), so non-foldable arguments are rejected.
    */
  private def litInt(e: Expression, name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"pq_distances: $name must be an integer literal, got $other")
  }

  /** Registers every graft function on an already-built session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      FunctionBridge.registerTemp(spark, name, builder)
    }
}
