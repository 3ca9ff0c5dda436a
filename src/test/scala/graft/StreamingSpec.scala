package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Primitive
import graft.model.Primitive.{link, node}
import graft.store.GraphStore
import graft.streaming.Replica
import graft.write.Writer

/** Streaming semantics driven as real streams (memory sink /
  * foreachBatch with processAllAvailable), plus the verify-request
  * consistency job.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("replica stream materializes incremental type counts") {
    val dir = Files.createTempDirectory("graft_repl").toString
    val log = s"$dir/log"
    val state = s"$dir/state"
    val st = GraphStore.fromSeq(spark, Seq(
      node(1, name = Some("t1")), node(2), node(3),
      link(10, left = 2, right = Some(3), typeguid = Some(1)),
      link(11, left = 3, right = Some(2), typeguid = Some(1))))
    st.primitives.coalesce(1).write.parquet(log)

    val ckpt = s"$dir/ckpt"
    val q = Replica.materializeTypeCounts(
      Replica.stream(spark, log, maxFilesPerTrigger = 1), state,
      checkpointDir = Some(ckpt))
    q.awaitTermination()
    val rows = spark.read.parquet(state).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("typeguid") == 1L)
    assert(rows.head.getAs[Long]("n_links") == 2L)
    assert(rows.head.getAs[Long]("dateline") == 11L)

    // append more primitives → a RESTART with the same checkpoint
    // absorbs only the delta: counts stay EXACT (the read-modify-write
    // merge is batch-id guarded, so neither the restart nor a
    // foreachBatch retry ever double-counts)
    val (st2, _) = Writer.append(st, Seq(
      Writer.Spec(left = Some(2L), right = Some(3L), typeguid = Some(1L))))
    st2.primitives.filter(col("id") > 11).coalesce(1)
      .write.mode("append").parquet(log)
    val q2 = Replica.materializeTypeCounts(
      Replica.stream(spark, log, maxFilesPerTrigger = 8), state,
      checkpointDir = Some(ckpt))
    q2.awaitTermination()
    val after = spark.read.parquet(state)
      .filter(col("typeguid") === 1L).head()
    assert(after.getAs[Long]("n_links") == 3L)
    assert(after.getAs[Long]("dateline") == 12L)
  }

  test("mergeStream replays are idempotent: re-delivery lands no duplicates") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_ms").toString
    val feed = s"$base/feed"; val storeDir = s"$base/store"
    Seq(("k:1", "v1"), ("k:2", "v2"), ("k:3", "v3"))
      .toDF("name", "value").coalesce(1).write.parquet(feed)
    // seed a minimal store layout (empty parquet has no schema to load)
    graft.store.GraphStore.fromSeq(spark,
      Seq(graft.model.Primitive.node(1, name = Some("seed")))).save(storeDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.StringType)))
    def runOnce(ckpt: String): Unit = {
      val in = spark.readStream.schema(schema).parquet(feed)
      Replica.mergeStream(in, Seq("name"), storeDir, s"$base/$ckpt")
        .awaitTermination()
    }
    runOnce("ckpt1")
    val n1 = graft.store.GraphStore.load(spark, storeDir).current.count()
    // a FRESH checkpoint forces full re-delivery of every file — the
    // worst-case at-least-once replay; the MERGE re-classifies all of
    // it as unchanged, so state is untouched
    runOnce("ckpt2")
    val st2 = graft.store.GraphStore.load(spark, storeDir)
    assert(n1 == 4 && st2.current.count() == 4)
    assert(st2.all.count() == 4) // no dead duplicate versions either
  }

  test("a retried batch sees partial-landed rows and neither dups nor collides") {
    // crash-mid-append simulation: a batch's merge classified and HALF
    // its delta landed on disk before the failure. The retry (what
    // mergeStream does after resetting its carried handle/watermark)
    // reloads from disk, re-classifies — the landed half as unchanged,
    // the lost half as fresh inserts — and re-derives the id base from
    // the on-disk truth, so ids never collide with the partial write.
    import spark.implicits._
    import graft.write.BulkMerge
    import graft.store.GraphStore
    val base = Files.createTempDirectory("graft_crash").toString
    val storeDir = s"$base/store"
    GraphStore.fromSeq(spark,
      Seq(graft.model.Primitive.node(1, name = Some("seed")))).save(storeDir)
    val batch = Seq(("k:1", "v1"), ("k:2", "v2"), ("k:3", "v3"), ("k:4", "v4"))
      .toDF("name", "value")
    def appendDelta(df: org.apache.spark.sql.DataFrame): Unit =
      df.withColumn("id_part", shiftright(col("id"),
          GraphStore.PartShift).cast("int"))
        .write.mode("append").partitionBy("id_part").parquet(storeDir)
    val r1 = BulkMerge.mergeKeyed(
      GraphStore.load(spark, storeDir, useWordIndex = false), batch, Seq("name"))
    // ...crash: only two of the four appended rows land
    appendDelta(r1.appended.orderBy("id").limit(2))
    // the retry: fresh load (the carried handle was reset), no baseId
    val r2 = BulkMerge.mergeKeyed(
      GraphStore.load(spark, storeDir, useWordIndex = false), batch, Seq("name"))
    assert(r2.unchanged == 2 && r2.inserted == 2 && r2.versioned == 0)
    appendDelta(r2.appended)
    val st = GraphStore.load(spark, storeDir)
    val cur = st.current.collect()
    assert(cur.length == 5) // seed + k:1..4, each exactly once
    assert(cur.map(_.getAs[Long]("id")).distinct.length == 5)
    assert(st.all.count() == 5) // no dead duplicate versions either
  }

  test("mid-stream kill: restart absorbs a partially-landed micro-batch") {
    // the full chaos path through mergeStream ITSELF (the sibling test
    // above exercises the BulkMerge layer directly): batch A streams in
    // and commits; a second file arrives and the process dies AFTER
    // half of batch B's delta landed on disk but BEFORE its checkpoint
    // commit — the exact crash window. The RESTART (same checkpoint)
    // re-delivers file B through the real stream: its carried handle
    // starts fresh (a restart, like a failure, never trusts the
    // watermark), the landed half re-classifies as unchanged, the lost
    // half inserts past the on-disk max id.
    import spark.implicits._
    import graft.write.BulkMerge
    import graft.store.GraphStore
    val base = Files.createTempDirectory("graft_chaos_ms").toString
    val feed = s"$base/feed"; val storeDir = s"$base/store"
    new java.io.File(feed).mkdirs()
    def addFile(rows: Seq[(String, String)], tag: String): Unit = {
      val tmp = s"$base/stage_$tag"
      rows.toDF("name", "value").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(part.renameTo(new java.io.File(s"$feed/$tag.parquet")))
    }
    addFile(Seq(("k:a1", "v1"), ("k:a2", "v2")), "fileA")
    GraphStore.fromSeq(spark,
      Seq(graft.model.Primitive.node(1, name = Some("seed")))).save(storeDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.StringType)))
    def runStream(): Unit = {
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      Replica.mergeStream(in, Seq("name"), storeDir, s"$base/ckpt")
        .awaitTermination()
    }
    runStream() // batch A applied and committed
    assert(GraphStore.load(spark, storeDir).current.count() == 3)
    // file B arrives; the doomed attempt classifies it and lands ONE of
    // its three delta rows (k:a1 re-delivers too — already unchanged)
    val batchB = Seq(("k:b1", "w1"), ("k:b2", "w2"), ("k:a1", "v1"))
    addFile(batchB, "fileB")
    val doomed = BulkMerge.mergeKeyed(
      GraphStore.load(spark, storeDir, useWordIndex = false),
      batchB.toDF("name", "value"), Seq("name"))
    assert(doomed.inserted == 2 && doomed.unchanged == 1)
    doomed.appended.orderBy("id").limit(1)
      .withColumn("id_part", shiftright(col("id"),
        GraphStore.PartShift).cast("int"))
      .write.mode("append").partitionBy("id_part").parquet(storeDir)
    // ...crash (no checkpoint commit for B). Restart re-delivers B.
    runStream()
    val st = GraphStore.load(spark, storeDir)
    val cur = st.current.collect()
    assert(cur.length == 5, s"seed + a1 a2 b1 b2, got ${cur.length}")
    assert(cur.map(_.getAs[Long]("id")).distinct.length == 5)
    assert(st.all.count() == 5) // no dup versions from the replay
    assert(st.current.filter(col("name").startsWith("k:b")).count() == 2)
  }

  test("mergeStream collapses same-key duplicates within one micro-batch") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_msd").toString
    val feed = s"$base/feed"; val storeDir = s"$base/store"
    // one file = one micro-batch carrying THREE records for k:dup —
    // the CDC-feed norm; without the within-batch collapse two of them
    // would insert as duplicate live heads with the same key forever
    Seq(("k:dup", "v1"), ("k:dup", "v2"), ("k:dup", "v3"), ("k:solo", "s1"))
      .toDF("name", "value").coalesce(1).write.parquet(feed)
    graft.store.GraphStore.fromSeq(spark,
      Seq(graft.model.Primitive.node(1, name = Some("seed")))).save(storeDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.StringType)))
    val in = spark.readStream.schema(schema).parquet(feed)
    Replica.mergeStream(in, Seq("name"), storeDir, s"$base/ckpt")
      .awaitTermination()
    val st = graft.store.GraphStore.load(spark, storeDir)
    val dupHeads = st.current.filter(col("name") === "k:dup").collect()
    assert(dupHeads.length == 1,
      s"one live head per key, got ${dupHeads.length}")
    // deterministic winner: max over all columns → v3
    assert(dupHeads.head.getAs[String]("value") == "v3")
    assert(st.current.filter(col("name") === "k:solo").count() == 1)
  }

  test("filter pipeline streams: per-batch reasons accumulate exactly") {
    val dir = Files.createTempDirectory("graft_filt").toString + "/docs"
    import spark.implicits._
    val rows = Seq(
      (1L, "a", "plenty of perfectly ordinary english words here today"),
      (2L, "a", "shrt"),                                  // too_short
      (3L, "b", "dup dup dup dup dup dup dup dup dup dup"), // repetition
      (4L, "b", "1 2 3 4 5 6 7 8 9 10 11 12"))            // non_text
      .toDF("doc_id", "source", "text")
    // one file per row: each micro-batch carries ONE document, so the
    // complete-mode aggregate must accumulate across four batches
    rows.repartition(4).write.parquet(dir)
    val feed = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = graft.operators.Curation
      .filterPipeline(feed, "doc_id", "text", carryCols = Seq("source"))
      .groupBy(col("source"),
        coalesce(col("drop_reason"), lit("kept")).as("reason"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("filt_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("filt_out").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("a", "kept") -> 1L, ("a", "too_short") -> 1L,
      ("b", "repetition") -> 1L, ("b", "non_text") -> 1L))
  }

  test("windowed event counts run as a genuine stream to a memory sink") {
    val dir = Files.createTempDirectory("graft_ev").toString + "/events"
    import spark.implicits._
    val rows = Seq(
      ("2024-01-01 10:05:00", "click", 1.0),
      ("2024-01-01 10:35:00", "click", 2.0),
      ("2024-01-01 11:05:00", "view", 3.0))
      .toDF("s", "event_type", "value")
      .select(to_timestamp(col("s")).as("ts"), col("event_type"), col("value"))
    rows.coalesce(1).write.parquet(dir)

    val feed = spark.readStream.schema(rows.schema).parquet(dir)
    val agg = Replica.windowedEventCounts(feed, "1 hour", "2 hours")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("ev_out").start()
    q.processAllAvailable()
    q.stop()
    // append mode emits only closed windows; with a 2h watermark over
    // this bounded input nothing is final yet — completeness is the
    // batch path's job (st02). Here we assert the stream ran clean.
    assert(spark.table("ev_out").schema.fieldNames.contains("n"))
  }

  test("verifyConsistency: clean store passes, corruption is reported") {
    val good = GraphStore.fromSeq(spark, Seq(
      node(1), node(2), link(3, left = 1, right = Some(2))))
    assert(good.verifyConsistency().count() == 0)

    import spark.implicits._
    val corrupt = GraphStore.fromDf(spark,
      good.primitives.unionByName(Seq(
        Primitive(9, None, None, 2.toByte, None, None, true, true, false,
          0L, Some(77L), None, None, 9L), // dangling left → 77
        Primitive(10, None, None, 2.toByte, None, None, true, true, false,
          0L, None, Some(1L), None, 10L)  // right without left
      ).toDS().toDF()))
    val v = corrupt.verifyConsistency().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(v.contains(("dangling_left", 9L)))
    assert(v.contains(("right_without_left", 10L)))
  }

  test("stateful sessionizer carries state across micro-batches") {
    val dir = Files.createTempDirectory("graft_sess").toString + "/ev"
    import spark.implicits._
    val t0 = 1700000000000000L // micros
    val min = 60L * 1000000L
    // batch 1: two events 1 min apart; batch 2: one more in-session
    // event, then one 2 hours later that closes the session
    Seq(Replica.Ev(1L, t0, 1.0), Replica.Ev(1L, t0 + min, 2.0))
      .toDS().coalesce(1).write.parquet(dir)
    Seq(Replica.Ev(1L, t0 + 2 * min, 3.0), Replica.Ev(1L, t0 + 120 * min, 9.0))
      .toDS().coalesce(1).write.mode("append").parquet(dir)

    val feed = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Replica.Ev]].schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[Replica.Ev]
    val sessions = Replica.sessionize(feed, gapMicros = 30L * min)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_out").as[Replica.Session].collect()
    // exactly one CLOSED session emitted: 3 events, sum 6.0, 2-min span
    assert(out.length == 1)
    val s0 = out.head
    assert(s0.user_id == 1L && s0.n_events == 3L && s0.sum_value == 6.0)
    assert(s0.start_micros == t0 && s0.end_micros == t0 + 2 * min)
  }

  test("dedupStream: within-batch min-id wins, cross-batch dup rejected, seed suppresses") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sdedup").toString
    val feed = s"$base/feed"; val acc = s"$base/accepted"
    // file-1 (batch 1): an intra-batch dup pair (ids 20, 10 — min
    // wins), a seed dup (id 30) and a fresh doc (id 40)
    Seq((20L, "same text"), (10L, "same text"),
        (30L, "seed text"), (40L, "fresh one"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f1")
    // file-2 (batch 2): a cross-batch dup of batch 1's winner (id 50),
    // a null text (dropped) and another fresh doc (id 60)
    Seq((50L, "same text"), (55L, null.asInstanceOf[String]),
        (60L, "fresh two"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f2")
    val seed = Seq((1L, "seed text")).toDF("doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runOnce(ckpt: String): Unit = {
      // one file per trigger, path-ordered: f1 is batch 1, f2 batch 2
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$feed/f*")
      Replica.dedupStream(in, "doc_id", "text", seed, acc, s"$base/$ckpt")
        .awaitTermination()
    }
    runOnce("ckpt1")
    val got = spark.read.parquet(acc).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(10L, 40L, 60L),
      s"expected intra-batch winner 10 + fresh 40/60, got $got")
    // full re-delivery under a FRESH checkpoint (worst-case
    // at-least-once): classification against the on-disk accepted
    // table lands nothing new
    runOnce("ckpt2")
    val replayed = spark.read.parquet(acc).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(replayed == Seq(10L, 40L, 60L), s"replay corrupted: $replayed")
  }

  test("dedupStream: the history sketch is built once per stream, then grown incrementally") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sdedup_incr").toString
    val feed = s"$base/feed"; val acc = s"$base/accepted"
    // three files = three micro-batches under maxFilesPerTrigger=1;
    // f2 carries a dup of f1's accepted row (only catchable if f1's
    // acceptance actually entered the sketch/confirm path), f3 a dup
    // of the seed
    Seq((10L, "alpha"), (11L, "beta"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f1")
    Seq((20L, "alpha"), (21L, "gamma"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f2")
    Seq((30L, "seed text incr"), (31L, "delta"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f3")
    // seed text unique to this test: the sketch memo keys on the seed
    // plan, and a literal-identical seed in another test would make
    // the build-count assertion read a memo hit as "zero builds"
    val seed = Seq((1L, "seed text incr")).toDF("doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val builds0 = graft.operators.Dedup.historySketchBuilds.get()
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$feed/f*")
    Replica.dedupStream(in, "doc_id", "text", seed, acc, s"$base/ckpt")
      .awaitTermination()
    val got = spark.read.parquet(acc).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(10L, 11L, 21L, 31L), s"got $got")
    // the streaming contract this test pins: ONE full-history sketch
    // build for the whole stream — each later batch merges its own
    // accepted fingerprints instead of re-aggregating history
    val builds = graft.operators.Dedup.historySketchBuilds.get() - builds0
    assert(builds == 1L,
      s"expected exactly 1 full-history sketch build across 3 batches, got $builds")
  }

  test("dedupStream: partitioned-sketch regime survives a partial-land crash retry") {
    import spark.implicits._
    // force the bucketed sketch with a tiny single-filter gate (and a
    // small bucket budget so numBuckets > 1 — several buckets actually
    // merge per batch)
    val conf = Conf(bloomMaxSingleBits = 1, bloomBucketBits = 512)
    val base = Files.createTempDirectory("graft_sdedup_part").toString
    val feed = s"$base/feed"; val acc = s"$base/accepted"
    Seq((10L, "aaa"), (20L, "bbb"), (30L, "ccc"), (40L, "seed text"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f1")
    Seq((50L, "aaa"), (60L, "fresh two"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/f2")
    val seed = Seq((1L, "seed text")).toDF("doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // simulate the crash the retry contract closes: ONE of f1's
    // three acceptable rows lands before the stream ever ran
    import graft.operators.TextAnalysis
    Seq((10L, "aaa")).toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .coalesce(1).write.mode("append").parquet(acc)
    val part0 = graft.operators.Dedup.partitionedBloomBuilds.get()
    // full redelivery under a fresh checkpoint (worst-case
    // at-least-once): the landed row must classify as history, the
    // lost ones must backfill, the partitioned path must engage
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$feed/f*")
    Replica.dedupStream(in, "doc_id", "text", seed, acc, s"$base/ckpt",
      conf = conf).awaitTermination()
    assert(graft.operators.Dedup.partitionedBloomBuilds.get() > part0,
      "bucketed sketch never engaged — the forced Conf lost its teeth")
    val got = spark.read.parquet(acc).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // 10 pre-landed; 20/30 backfilled; 40 = seed dup; 50 = dup of
    // 10's fp (cross-batch, against the pre-landed row); 60 fresh
    assert(got == Seq(10L, 20L, 30L, 60L), s"got $got")
  }

  test("dedupStream: a crash-retried batch with partially-landed rows backfills exactly the lost ones") {
    import spark.implicits._
    import graft.operators.{Dedup, TextAnalysis}
    val base = Files.createTempDirectory("graft_sdedup_crash").toString
    val acc = s"$base/accepted"
    val seed = Seq((1L, "seed text")).toDF("doc_id", "text")
    val seedFp = seed.select(
      TextAnalysis.fingerprint(col("text")).as("fp")).filter(col("fp").isNotNull)
    val batch = Seq((10L, "aaa"), (20L, "bbb"), (30L, "ccc"), (40L, "seed text"))
      .toDF("doc_id", "text")
    def classify(): org.apache.spark.sql.DataFrame = {
      val bFp = batch.select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .filter(col("fp").isNotNull)
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("fp"))
      val accDf =
        if (new java.io.File(acc).exists())
          spark.read.parquet(acc).select(col("fp"))
        else seedFp.limit(0)
      Dedup.incrementalNewFp(bFp, seedFp.unionByName(accDf), "doc_id")
        .localCheckpoint()
    }
    // ...crash: only ONE of the three accepted rows lands
    classify().orderBy("doc_id").limit(1).write.mode("append").parquet(acc)
    // the retry re-classifies against disk: the landed row's fp is now
    // history, the two lost rows (and only they) come back
    val retry = classify()
    assert(retry.count() == 2)
    retry.write.mode("append").parquet(acc)
    val got = spark.read.parquet(acc).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(10L, 20L, 30L), s"got $got") // 40 = seed dup, out
  }

  test("sort-comparator overrides per-key ordering") {
    import graft.model.Primitive.node
    val fx = GraphStore.fromSeq(spark, Seq(
      node(1, value = Some("10")), node(2, value = Some("9")),
      node(3, value = Some("100"))))
    // octet comparator: lexicographic — "10" < "100" < "9"
    val lex = graft.plan.ReadPlanner.plan(fx,
      """read (sort=(value) sort-comparator=("octet") result=((value)))""")
      .collect().map(_.getString(0)).toSeq
    assert(lex == Seq("10", "100", "9"))
    // number comparator: numeric
    val num = graft.plan.ReadPlanner.plan(fx,
      """read (sort=(value) sort-comparator=("number") result=((value)))""")
      .collect().map(_.getString(0)).toSeq
    assert(num == Seq("9", "10", "100"))
  }
}
