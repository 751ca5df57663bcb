package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Public forwarders for the `private[sql]` Column <-> Expression
  * conversions in Spark 4.1.2 (`classic.ExpressionUtils`,
  * sql/core columnNodeSupport.scala). Declared inside
  * `package org.apache.spark.sql` so the `private[sql]` members are
  * visible; everything under `graft.*` goes through this single shim
  * instead of touching Spark internals directly.
  *
  * This is the standard extension-point pattern for libraries that add
  * native Catalyst expressions on Spark 4.x, where `Column` wraps a
  * `ColumnNode` rather than an `Expression`.
  */
object GraftBridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Recover the Catalyst expression backing a (classic) Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Whether the session's relation cache holds any entries — lets tests
    * assert that persist-using pipelines released their frames.
    */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Spark's own mergeSchema fold step (`StructType.merge` is
    * `private[sql]`): exactly what `SchemaMergeUtils.mergeSchemasInParallel`
    * applies per footer, with the session's case sensitivity.
    */
  def mergeSchemas(a: types.StructType, b: types.StructType): types.StructType =
    a.merge(b, internal.SQLConf.get.caseSensitiveAnalysis)

  /** `StructType.asNullable` (`private[spark]`): the nullability every
    * file-source relation gives its data schema.
    */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** V2 predicates as V1 filters (`PredicateUtils` is `private[sql]`).
    * Conjunctions split by NAME first: the converter reads only the
    * typed `And` class, so a generic `Predicate("AND", ...)` would drop
    * whole instead of losing just its untranslatable conjuncts. A
    * predicate the converter cannot read drops, which only loses
    * pruning.
    */
  def toV1(predicates: Array[connector.expressions.filter.Predicate])
      : Array[sources.Filter] = {
    def conjuncts(p: connector.expressions.filter.Predicate)
        : Seq[connector.expressions.filter.Predicate] =
      if (p.name == "AND") p.children.toSeq.flatMap {
        case q: connector.expressions.filter.Predicate => conjuncts(q)
        case _ => Nil
      } else Seq(p)
    predicates.flatMap(conjuncts).flatMap(p => scala.util.Try(
      internal.connector.PredicateUtils.toV1(p)).toOption.flatten)
  }
}
