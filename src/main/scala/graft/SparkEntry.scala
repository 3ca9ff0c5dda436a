package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one entry per implemented operator family from
  * SURVEY.md §2 (see the individual packs under graft.queries);
  * `oracleSql` carries the DuckDB-equivalent SQL for the driver's
  * correctness gate.
  */
object SparkEntry {

  private val packs: Seq[QueryPack] =
    Seq(Relational, GraphQueries, PipelineQueries, AnalyticsQueries,
      WriteQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. A full engine pass: GQL text → parser → constraint tree →
    * planner → DataFrame, over the adapter graph (semi-join through a
    * linkage plus an isa hop).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("g03_gql_exists")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracleSql).toMap

  /** The one session setup for the command-line mains (Bench, Verify,
    * ScaleGen): `local[N]` with N shuffle partitions, where N is
    * SPARK_GRAFT_CPUS or, when unset, the JVM's available processors.
    */
  def localSession(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS), which the vectorized
      // reader rejects; read it as Long nanos (queries normalize)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // JVM (not ICU) case mapping under UTF8_BINARY: Spark 4.1's ICU
      // Lower/Upper path degrades 10-100x under many-core concurrency
      // (contended interpreted path in CollationSupport.execBinaryICU);
      // the JVM mapping is identical for the Latin-1 range and matches
      // the DuckDB oracle's simple case folding.
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
