package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The two `private[sql]` bridges the SQL DML commands need — same
  * rationale as [[StreamingShim]]: this object lives under
  * `org.apache.spark.sql` purely to satisfy the access qualifier; no
  * copied code, nothing else reaches into Spark internals.
  *
  *  - A DML command (UPDATE/MERGE rewrite) holds a RESOLVED `LogicalPlan`
  *    fragment (the target relation with the command's own attribute ids)
  *    and must execute derived plans through the session —
  *    `Dataset.ofRows` is the only constructor that accepts a plan.
  *  - Converting a catalyst predicate `Expression` back into a public
  *    `Column` (for `GraftClient.deleteWhere`) goes through
  *    `ExpressionUtils.column` since Spark 4 removed the public
  *    `new Column(expr)` constructor.
  */
object SqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** `schema` with every field nullable, at any depth: the data schema
    * a file relation is planned with, as `DataSource` plans it (a part
    * file written before a column existed reads it as null).
    */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** The DataFrame's physical `RDD[InternalRow]`, guaranteed executable
    * from a foreign task (the SQL catalog's native DSv2 `Batch` wraps
    * each partition in an `InputPartition` and computes it inside a
    * `DataSourceRDD` task, where no parent shuffle stage has run): a
    * shuffle-free lineage passes through as-is — the scan shapes the
    * catalog builds are projections/filters/unions/broadcast joins, all
    * narrow — and a lineage that DOES carry a ShuffleDependency is
    * first materialized via `localCheckpoint`, whose block-backed RDD
    * has no stage dependencies (the safety valve, never the hot path).
    */
  def scanRdd(df: DataFrame): RDD[InternalRow] = {
    val rdd = df.queryExecution.toRdd
    if (shuffleFree(rdd, new java.util.HashSet[Int])) rdd
    else df.localCheckpoint(true).queryExecution.toRdd
  }

  private def shuffleFree(r: RDD[_], seen: java.util.HashSet[Int]): Boolean =
    !seen.add(r.id) || r.dependencies.forall {
      case _: org.apache.spark.ShuffleDependency[_, _, _] => false
      case d => shuffleFree(d.rdd, seen)
    }

  /** External rows → self-contained `UnsafeRow`s (driver-side), for a
    * DSv2 `Batch` that serves a metadata-computed answer (the catalog's
    * log-answered aggregate pushdown) without a V1 relation bridge.
    */
  def toInternalRows(schema: StructType, rows: Seq[Row]): Seq[InternalRow] = {
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    val proj = UnsafeProjection.create(schema)
    rows.map(r => proj(conv(r).asInstanceOf[InternalRow]).copy())
  }

  /** One Catalyst-internal literal (e.g. `UTF8String` from a connector
    * `LiteralValue`) → its external Scala form — what the client's
    * stats/bloom probes compare against.
    */
  def toScala(value: Any, dt: DataType): Any =
    CatalystTypeConverters.convertToScala(value, dt)

  /** Connector `FieldReference` / `LiteralValue` are `private[sql]`
    * Scala case classes (only their `NamedReference` / `Expression`
    * interfaces are public) — the DSv2 scan's runtime-filter plumbing
    * constructs and destructures them here.
    */
  def fieldRef(name: String)
      : org.apache.spark.sql.connector.expressions.NamedReference =
    org.apache.spark.sql.connector.expressions.FieldReference.column(name)

  def literalOf(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[Any] = e match {
    case l: org.apache.spark.sql.connector.expressions.LiteralValue[_] =>
      Some(CatalystTypeConverters.convertToScala(l.value, l.dataType))
    case _ => None
  }

  /** `CREATE TABLE … CLUSTER BY (a, b)` arrives at the catalog as a
    * `ClusterByTransform` — also a `private[sql]` Scala case class.
    * Extractor and constructor (the latter lets `Table.partitioning()`
    * round-trip the declared clustering back to DESCRIBE/SHOW CREATE).
    */
  def clusterByColumns(
      t: org.apache.spark.sql.connector.expressions.Transform)
      : Option[Seq[String]] = t match {
    case org.apache.spark.sql.connector.expressions
        .ClusterByTransform(refs)
        if refs.forall(_.fieldNames().length == 1) =>
      Some(refs.map(_.fieldNames()(0)))
    case _ => None
  }

  def clusterByTransform(cols: Seq[String])
      : org.apache.spark.sql.connector.expressions.Transform =
    org.apache.spark.sql.connector.expressions.ClusterByTransform(
      cols.map(c =>
        org.apache.spark.sql.connector.expressions.FieldReference.column(c)))
}
