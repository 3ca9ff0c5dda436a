package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `Column(expr)` constructor; the supported
  * path for libraries shipping custom Catalyst expressions is a small
  * bridge inside the org.apache.spark.sql package (the same pattern
  * Spark's own connectors use).
  */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** the session's Hadoop configuration, as Spark's parquet schema
    * inference builds it for a read with no options
    */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.hadoop.conf.Configuration =
    classic(spark).sessionState.newHadoopConf()

  /** true for a file or directory name Spark's file index skips */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The Spark schema of one parquet file, read from its footer on the
    * driver: the footer is read without row groups and converted by the
    * function Spark's inference job runs on an executor, under the
    * session's conf (binary-as-string, INT96, nanosAsLong, Spark's row
    * metadata key).
    */
  def parquetFooterSchema(spark: org.apache.spark.sql.SparkSession,
      file: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(classic(spark).sessionState.conf))
  }

  private def classic(spark: org.apache.spark.sql.SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** drain the listener bus so a just-finished job's task metrics are
    * visible (listenerBus is private[spark]; cost reporting needs one
    * synchronization point after the guarded action)
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)

  /** A DataFrame over driver-local rows with O(1) construction.
    *
    * `seq.toDS()` encodes every row eagerly and
    * `sc.parallelize(..).mapPartitions(f)` closure-cleans (and
    * serializes) `f` — both O(n) at CONSTRUCTION, which makes an
    * append-per-request ingest loop quadratic. This builds a custom
    * RDD (no closure cleaning — `compute` is a method, not a captured
    * lambda) wrapped in a LogicalRDD; rows encode once per executed
    * query, never per append.
    */
  def resolveEncoder[T](enc0: org.apache.spark.sql.Encoder[T])
      : org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[T] =
    enc0 match {
      case e: org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[T] => e
      case a: org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[T] =>
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(a)
    }

  def deferredLocalDf[T <: Product](
      spark: org.apache.spark.sql.SparkSession,
      rows: IndexedSeq[T],
      enc: org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[T])
      : org.apache.spark.sql.DataFrame = {
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(enc.schema)
    val rdd = new org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow](
        spark.sparkContext, Nil) {
      override def compute(split: org.apache.spark.Partition,
          context: org.apache.spark.TaskContext)
          : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
        val ser = enc.createSerializer()
        rows.iterator.map(r => ser(r).copy())
      }
      override protected def getPartitions: Array[org.apache.spark.Partition] =
        Array(new org.apache.spark.Partition { override def index: Int = 0 })
    }
    val plan = org.apache.spark.sql.execution.LogicalRDD(attrs, rdd)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  }
}
