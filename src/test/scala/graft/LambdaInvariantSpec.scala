package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, ExprId, Expression, ExtractValue, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType}
import org.scalatest.funsuite.AnyFunSuite

/** Finds per-row collections recomputed per array element. Spark's
  * `transform`, `zip_with`, `aggregate` & co. are interpreted element by
  * element and a lambda body is a common-subexpression boundary, so a
  * collection-valued expression inside the body that reads no lambda
  * variable bound outside it is evaluated once per element although its
  * value is fixed for the row. Bind it to a column below the lambda.
  */
object LambdaInvariants {
  /** Lambda variables `e` reads but does not bind itself. */
  private def free(e: Expression): Set[ExprId] = e match {
    case v: NamedLambdaVariable => Set(v.exprId)
    case f: LambdaFunction =>
      free(f.function) -- f.arguments.collect { case v: NamedLambdaVariable => v.exprId }
    case _ => e.children.flatMap(free).toSet
  }

  /** A column, or a field/element read of one: nothing to hoist. */
  private def readsColumn(e: Expression): Boolean = e match {
    case _: Attribute => true
    case x: ExtractValue => x.children.forall(c => c.foldable || readsColumn(c))
    case _ => false
  }

  private def collectionValued(e: Expression): Boolean = e.dataType match {
    case _: ArrayType | _: MapType => true
    case _ => false
  }

  /** The outermost offending subexpressions of one lambda body. */
  private def invariants(e: Expression): Seq[Expression] =
    if (!e.isInstanceOf[LambdaFunction] && collectionValued(e) && !e.foldable &&
        !readsColumn(e) && free(e).isEmpty) Seq(e)
    else e.children.flatMap(invariants)

  def hits(plan: LogicalPlan): Seq[Expression] =
    plan.collectWithSubqueries { case p => p.expressions }.flatten
      .flatMap(_.collect { case f: LambdaFunction => f })
      .flatMap(f => invariants(f.function))
      .distinct
}

class LambdaInvariantSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def hits(df: org.apache.spark.sql.DataFrame) =
    LambdaInvariants.hits(df.queryExecution.optimizedPlan)

  test("no registry query recomputes a per-row collection inside a lambda") {
    val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      hits(q(spark, sf)).map(e => s"$name: $e")
    }
    spark.catalog.clearCache()
    assert(found.isEmpty, found.mkString(s"\n${found.size} lambda invariant(s):\n", "\n", ""))
  }

  test("the inlined v2 quantizer is flagged at its cast vector") {
    // v2_vector_quantize before its per-row values were bound to columns
    val vd = col("embedding").cast("array<double>")
    val (vmin, vmax) = (array_min(vd), array_max(vd))
    val scale = (vmax - vmin) / 255.0
    val q = transform(vd, x =>
      when(scale === 0, lit(0L)).otherwise(round((x - vmin) / scale, 0).cast("long")))
    val dq = transform(q, qi => vmin + qi * scale)
    val df = Tables.t(spark, sf, "embeddings").select(col("vec_id"),
      aggregate(zip_with(vd, dq, (x, y) => (x - y) * (x - y)), lit(0.0),
        (acc, e) => acc + e).as("sq_err"))
    val found = hits(df)
    assert(found.nonEmpty && found.forall {
      case Cast(a: Attribute, _, _, _) => a.name == "embedding"
      case _ => false
    }, found.mkString("\n"))
  }

  test("a nested lambda's own variables count as bound, outer ones do not") {
    val df = spark.range(3).select(
      sequence(lit(0L), col("id")).as("xs"), sequence(col("id"), lit(3L)).as("ys"))
    def flagged(c: org.apache.spark.sql.Column) =
      LambdaInvariants.hits(df.select(c).queryExecution.analyzed).map(_.toString)
    // the inner collection depends on the outer element: per element by nature
    assert(flagged(transform(col("xs"), x => transform(col("ys"), y => y + x))).isEmpty)
    // the inner collection binds only its own variable: fixed for the row
    val inner = flagged(transform(col("xs"), x => x + size(transform(col("ys"), y => y * 2))))
    assert(inner.size == 1 && inner.head.startsWith("transform(ys"), inner.mkString("\n"))
    // reading a collection column per element is not a recomputation
    assert(flagged(transform(col("xs"), x => element_at(col("ys"), (x + 1).cast("int")))).isEmpty)
  }
}
