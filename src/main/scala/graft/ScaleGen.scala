package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver's test tables: replicate each
  * table `k` times with key offsets that preserve referential
  * integrity (orders keep pointing at customers of the same replica,
  * lineitems at orders/parts/suppliers), so every query's semantic
  * shape survives while volume grows k-fold. region/nation stay fixed
  * — the TPC-H convention — so per-nation fan-outs scale like a real
  * corpus would.
  *
  * Text and vector payloads are SALTED per replica (replica 0 is the
  * identity):
  *  - documents: every TOKEN gets a replica suffix — a bijective
  *    per-replica token rename, so each replica's shingle-df
  *    distribution is byte-for-byte the original corpus's while
  *    replicas share NO shingles: every text-similarity statistic
  *    (shingle df, LSH buckets, near-dup pair counts) scales LINEARLY
  *    instead of multiplying document frequencies by k. (An earlier
  *    interleaved-token variant broke this: the trigram
  *    (salt, word, salt) inherits the WORD's df — thousands — fattening
  *    the just-under-df-cap band and squaring the dedup join volume;
  *    token counts also doubled, shifting packing statistics.)
  *  - embeddings: each replica's vectors are rotated by r positions —
  *    norm-preserving, direction-scrambling — so ANN bucket sizes and
  *    near-dup clusters scale linearly for the same reason.
  *
  * Key offsets are rounded to multiples of 10 to preserve the
  * `orderkey % 10` slice predicates the analytics gates use.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("scaledata/sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    // optional comma-separated table filter (4th arg): a targeted
    // spot-run (e.g. the sf10 probe of SCALING.md's worst-ratio
    // queries) only needs the tables those queries read — generating
    // 100x lineitem to measure an embeddings query wastes an hour of
    // generator wall time. Empty/absent = all tables.
    val tableFilter = args.lift(3).map(_.split(",").map(_.trim).toSet)
    def wanted(t: String): Boolean = tableFilter.forall(_.contains(t))
    val spark = SparkEntry.localSession("graft-scalegen")

    def load(t: String): DataFrame = Tables.load(spark, base, t)
    def roundUp10(v: Long): Long = (v / 10 + 1) * 10
    def maxOf(df: DataFrame, c: String): Long =
      roundUp10(df.agg(max(col(c))).head().getLong(0))

    // one parquet FILE per table (the driver's layout; DuckDB reads the
    // bare path): write the coalesced dir, then move the part file up
    def writeOne(df: DataFrame, t: String): Unit = {
      if (!wanted(t)) return
      val tmp = s"$out/__tmp_$t"
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet")).head.getPath
      val dest = new org.apache.hadoop.fs.Path(s"$out/$t.parquet")
      fs.delete(dest, false)
      fs.rename(part, dest)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[scalegen] $t -> $dest")
    }

    val reps = spark.range(k).select(col("id").cast("long").as("__r"))
    def rep(df: DataFrame): DataFrame = df.crossJoin(broadcast(reps))

    // fixed dimensions
    writeOne(load("region"), "region")
    writeOne(load("nation"), "nation")

    val custOff = maxOf(load("customer"), "c_custkey")
    val suppOff = maxOf(load("supplier"), "s_suppkey")
    val partOff = maxOf(load("part"), "p_partkey")
    val orderOff = maxOf(load("orders"), "o_orderkey")
    // two orders past the largest derived-id offset any gate adds to a
    // doc_id (w01 adds +1_000_000, p11 +200_000): replica bands must
    // not land where a gate's synthesized keys do, or a keyed merge
    // dedups a real row against a synthetic one
    val docOff = 100000000L
    val evOff = maxOf(load("events"), "event_id")
    val vecOff = maxOf(load("embeddings"), "vec_id")

    writeOne(rep(load("customer"))
      .withColumn("c_custkey", col("c_custkey") + col("__r") * custOff)
      .drop("__r"), "customer")
    writeOne(rep(load("supplier"))
      .withColumn("s_suppkey", col("s_suppkey") + col("__r") * suppOff)
      .drop("__r"), "supplier")
    writeOne(rep(load("part"))
      .withColumn("p_partkey", col("p_partkey") + col("__r") * partOff)
      .drop("__r"), "part")
    writeOne(rep(load("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + col("__r") * orderOff)
      .withColumn("o_custkey", col("o_custkey") + col("__r") * custOff)
      .drop("__r"), "orders")
    writeOne(rep(load("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("__r") * orderOff)
      .withColumn("l_partkey", col("l_partkey") + col("__r") * partOff)
      .withColumn("l_suppkey", col("l_suppkey") + col("__r") * suppOff)
      .drop("__r"), "lineitem")
    writeOne(rep(load("events"))
      .withColumn("event_id", col("event_id") + col("__r") * evOff)
      .withColumn("user_id", col("user_id") + col("__r") * custOff)
      .drop("__r"), "events")

    val salted = rep(load("documents"))
      .withColumn("text",
        when(col("__r") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1zz"), col("__r").cast("string"), lit("q")))))
      .withColumn("doc_id", col("doc_id") + col("__r") * docOff)
      .withColumn("n_chars", length(col("text")))
      .drop("__r")
    writeOne(salted, "documents")

    // the rotation index wraps at the vector width (k can exceed the
    // 64-dim rotation budget), and each full cycle FLIPS SIGN —
    // norm-preserving, direction-reversing — so replicas 0..2·dims-1
    // carry distinct direction sets and cross-replica cosines stay far
    // from +1 (near-dup statistics keep scaling linearly past k=dims;
    // for k<=dims this is byte-identical to the plain rotation)
    val dims = size(col("embedding"))
    val rot = (col("__r") % dims).cast("int")
    val flip = when(((col("__r") / dims).cast("int") % 2) === 1,
      lit(-1.0f)).otherwise(lit(1.0f))
    writeOne(rep(load("embeddings"))
      .withColumn("embedding",
        when(col("__r") === 0, col("embedding")).otherwise(
          transform(
            concat(
              slice(col("embedding"), rot + lit(1), dims - rot),
              slice(col("embedding"), lit(1), rot)),
            x => x * flip)))
      .withColumn("vec_id", col("vec_id") + col("__r") * vecOff)
      .drop("__r"), "embeddings")

    spark.stop()
    println(s"[scalegen] done: $out (x$k from $base)")
  }
}
