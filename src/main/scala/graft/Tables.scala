package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType

/** Loader for the generated test tables (TESTDATA.md) and for
  * every parquet directory the engine reads back.
  *
  * All queries receive an `sfDir` (e.g. /root/testdata/sf0.01) and read
  * the parquet tables below. Each read goes through `parquet`, which
  * hands Spark the schema its inference would find, so a load fires no
  * Spark job; Catalyst still pushes filters/column pruning into the
  * scan, and partition columns still come from Spark's file index.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema read from one footer on
    * the driver instead of by Spark's schema-inference job. Nothing is
    * cached: a rewritten table is read fresh on every load.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private val Summaries = Seq("_common_metadata", "_metadata")

  /** The schema Spark's non-merging inference (`ParquetUtils.inferSchema`)
    * gives `path`, from the file it would read: `_common_metadata`, else
    * `_metadata`, else the first data file by path string, among the
    * files its index lists. None leaves the decision to Spark: schema
    * merging is on, there is no file to read (Spark raises its own
    * "Unable to infer schema"), or the footer cannot be read (Spark
    * raises or skips it under its own corrupt-file rules).
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) None
    else {
      val conf = bridge.hadoopConf(spark)
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      def name(f: FileStatus) = f.getPath.getName
      def leaves(p: Path): Seq[FileStatus] =
        fs.listStatus(p).toSeq.filterNot(f => bridge.hiddenPathName(name(f)))
          .flatMap(f => if (f.isDirectory) leaves(f.getPath) else Seq(f))
      val files =
        if (fs.exists(root)) leaves(root).sortBy(_.getPath.toString) else Nil
      Summaries.flatMap(n => files.find(name(_) == n)).headOption
        .orElse(files.find(f => !Summaries.contains(name(f))))
        .flatMap(f => scala.util.Try(bridge.parquetFooterSchema(spark, f, conf)).toOption)
    }

  /** Convenience bundle of all tables for one scale factor; each table
    * is loaded at most once per bundle.
    */
  final case class T(spark: SparkSession, sfDir: String) {
    lazy val region: DataFrame     = load(spark, sfDir, "region")
    lazy val nation: DataFrame     = load(spark, sfDir, "nation")
    lazy val customer: DataFrame   = load(spark, sfDir, "customer")
    lazy val supplier: DataFrame   = load(spark, sfDir, "supplier")
    lazy val part: DataFrame       = load(spark, sfDir, "part")
    lazy val orders: DataFrame     = load(spark, sfDir, "orders")
    lazy val lineitem: DataFrame   = load(spark, sfDir, "lineitem")
    lazy val events: DataFrame     = load(spark, sfDir, "events")
    lazy val documents: DataFrame  = load(spark, sfDir, "documents")
    lazy val embeddings: DataFrame = load(spark, sfDir, "embeddings")
  }
}
