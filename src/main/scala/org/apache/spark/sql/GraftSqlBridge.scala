package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow bridge to `private[sql]` surface needed by the DML rules:
  * turning an analyzed LogicalPlan (the MERGE source) back into a
  * DataFrame. Lives in the org.apache.spark.sql package for visibility —
  * the standard connector pattern.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's own SQLConf: raw get/set without the runtime-conf
    * checks, for mirroring one session's settings onto another.
    */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** Column ⇄ Catalyst Expression, for exposing custom expressions as
    * user-facing Columns.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Eager Column → Expression conversion. `ExpressionUtils.expression`
    * wraps the column node LAZILY (`ColumnNodeExpression`), which only
    * resolves when the surrounding plan goes through Dataset analysis —
    * an expression returned from a FunctionRegistry builder skips that
    * path and would stay Unevaluable. Converting the node eagerly yields
    * the same tree Dataset analysis would produce.
    */
  def expressionOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Rebind a streaming micro-batch frame as a batch DataFrame WITHOUT
    * collecting it to the driver: the physical rows stay distributed
    * (`queryExecution.toRdd`) and only the plan is re-rooted. This is how
    * the reference's streaming sink keeps addBatch scalable.
    */
  def rebatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    spark.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** Build a DataFrame over a custom FileIndex + a columnar FileFormat —
    * the native scan path: partition pruning via the index's listFiles,
    * filter pushdown, column pruning and vectorized reading all come from
    * the standard HadoopFsRelation machinery. `format` is "parquet" or
    * "orc" (both vectorize; both push filters).
    */
  def fileScan(spark: SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      dataSchema: org.apache.spark.sql.types.StructType,
      format: String): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val ff = format match {
      case "parquet" => new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      case "orc" => new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
      case other => throw new IllegalArgumentException(s"unsupported base format '$other'")
    }
    // file sources always read as nullable (DataSource.resolveRelation
    // applies asNullable); constructing the relation directly must do the
    // same or nulls in files backfilled by schema evolution come back as
    // type-default garbage (0.0 / empty) under a non-nullable spec
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema.asNullable,
      bucketSpec = None,
      fileFormat = ff,
      options = Map.empty)(cs)
    classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel))
  }

  def parquetScan(spark: SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      dataSchema: org.apache.spark.sql.types.StructType): DataFrame =
    fileScan(spark, index, dataSchema, "parquet")

  /** The inverse direction: tag a batch plan as streaming so a V1
    * streaming Source can hand it to MicroBatchExecution (which asserts
    * isStreaming on getBatch results).
    */
  def asStreamingBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    spark.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }
}
