package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 made `ExpressionUtils` private[sql]; extensions that ship
  * native expressions conventionally host a small adapter inside the
  * `org.apache.spark.sql` package tree to convert at the API boundary.
  * Kept to exactly these two calls.
  */
object ColumnBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Connector-Column → StructType bridge: `CatalogV2Util` is
  * private[sql]; a TableCatalog overriding the Column[] createTable
  * overload needs exactly this one conversion (to then re-attach the
  * generation expressions the stock bridge drops). */
object CatalogBridge {
  def v2ColumnsToStructType(
      cols: Array[org.apache.spark.sql.connector.catalog.Column])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .v2ColumnsToStructType(cols)
}

/** V2 Predicate → V1 Filter bridge: `PredicateUtils` is
  * private[sql]; a table implementing SupportsDeleteV2 receives V2
  * predicates and the engine's delete path speaks V1 filters. */
object PredicateBridge {
  def toV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)
}

/** LogicalPlan → DataFrame bridge for custom plan nodes:
  * `Dataset.ofRows` is private[sql], and extension libraries that ship
  * their own logical operators need exactly this one constructor. */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** RDD[InternalRow] → DataFrame without the external-Row
    * encode/decode round trip (`internalCreateDataFrame` is
    * private[sql]): the per-partition imperative escape hatch
    * (`graft.ops.Ids.denseIds`) reads `queryExecution.toRdd` and
    * re-enters SQL here, never leaving the internal representation. */
  def ofInternalRows(spark: org.apache.spark.sql.SparkSession,
                     rdd: org.apache.spark.rdd.RDD[
                       org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}

/** Parquet footer → Catalyst schema the way Spark's own schema
  * inference converts the one footer it reads: the Spark row metadata
  * the writer stored, else the parquet types under the session's
  * conversion settings — then every field nullable, as file sources
  * always read. `readSchemaFromFooter` is private[parquet] in spirit
  * and `asNullable` private[spark]; a driver-side reader that must
  * match `spark.read.parquet(dir).schema` without its Spark job needs
  * exactly these two steps. */
object FooterBridge {
  def schemaOf(spark: org.apache.spark.sql.SparkSession,
               path: org.apache.hadoop.fs.Path,
               footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(path, footer),
      new ParquetToSparkSchemaConverter(conf)).asNullable
  }
}
