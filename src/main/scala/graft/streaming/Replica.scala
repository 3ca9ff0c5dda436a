package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.model.Primitive

/** Streaming / incremental semantics (SURVEY.md §2.8).
  *
  * The reference ships a totally-ordered primitive log to replicas
  * (`replica-write` batches framed by txstart, restartable from a
  * start-id: doc/gr-protocol.txt:1376-1439, graphd/graphd-replica.c);
  * dateline tokens give read-your-writes (doc/gr-protocol.txt:228-244);
  * islink jobs maintain per-type materialized sets incrementally
  * (graphd/graphd-islink.c:39-90).
  *
  * Spark rendition: the primitives directory IS the replication log —
  * `readStream` over it is a replica; the checkpoint location carries
  * the restart start-id; `foreachBatch` maintains materialized
  * aggregates incrementally; the dateline is `max(id)` seen so far.
  */
object Replica {

  /** replica feed: totally-ordered stream of new primitives */
  def stream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(Primitive.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** islink analog: per-typeguid link/endpoint counts, maintained
    * incrementally and merged into `stateDir` every micro-batch.
    * At scale the merge would be a Delta MERGE; here it is
    * read-modify-write of a small parquet aggregate.
    *
    * The read-modify-write is NOT naturally idempotent (re-adding a
    * batch's delta double-counts), so a batch high-water mark rides
    * inside the state directory (swapped atomically with it): a foreachBatch RETRY of an applied batch is a
    * no-op. Full restart-idempotence additionally needs
    * `checkpointDir` (so a restart resumes after the applied batches
    * instead of re-reading the whole feed as new batch ids).
    */
  def materializeTypeCounts(feed: DataFrame, stateDir: String,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val writer0 = feed.writeStream.outputMode("update")
    val writer = checkpointDir.fold(writer0)(d =>
      writer0.option("checkpointLocation", d))
    writer
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        // the high-water mark lives INSIDE the state directory (an
        // underscore file the parquet reader ignores), so the swap
        // moves counts and mark together — no window where one moved
        // and the other did not
        val appliedPath =
          new org.apache.hadoop.fs.Path(stateDir + "/_applied_batch")
        val lastApplied: Long =
          if (fs.exists(appliedPath)) {
            val in = fs.open(appliedPath)
            try in.readLong() finally in.close()
          } else -1L
        if (batchId > lastApplied) {
          val delta = batch
            .filter(col("left").isNotNull && col("typeguid").isNotNull)
            .groupBy(col("typeguid"))
            .agg(count(lit(1)).as("n_links"), max(col("id")).as("dateline"))
          // existence check, not read-and-catch: a caught analyzer
          // exception still log-spams ERROR stacks into the driver output
          val merged =
            if (fs.exists(new org.apache.hadoop.fs.Path(stateDir))) {
              spark.read.parquet(stateDir).unionByName(delta)
                .groupBy(col("typeguid"))
                .agg(sum(col("n_links")).as("n_links"),
                  max(col("dateline")).as("dateline"))
            } else delta
          // write-new-then-swap: the delete/rename pair is not atomic
          // on a raw filesystem — a concurrent reader can land in the
          // gap; the serving contract is that readers poll AFTER the
          // stream's trigger completes (the gate does)
          val tmp = stateDir + "_next"
          // state is one row per typeguid — one file, one write task
          merged.coalesce(1).write.mode("overwrite").parquet(tmp)
          val tmpMark = new org.apache.hadoop.fs.Path(tmp + "/_applied_batch")
          val out = fs.create(tmpMark, true)
          try out.writeLong(batchId) finally out.close()
          val dst = new org.apache.hadoop.fs.Path(stateDir)
          fs.delete(dst, true)
          fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming keyed ingestion — the CDC-apply shape: every micro-batch
    * of incoming records MERGEs into the persisted store under
    * `key=(fields)` semantics (graft.write.BulkMerge), and only the
    * appended delta is written — the store directory stays an
    * append-only istore. Restart-safe AND effectively idempotent: the
    * checkpoint replays at-least-once, but a replayed record
    * re-classifies as unchanged/exists against the already-applied
    * state, so duplicates never land (the MERGE is the dedup).
    */
  def mergeStream(incoming: DataFrame, keyFields: Seq[String],
      storeDir: String, checkpointDir: String,
      unique: Boolean = false,
      /** within-batch ordering column: the LAST record per key wins
        * (CDC sequence/offset). Without one, a micro-batch carrying
        * several records for the same key — the norm in CDC feeds, and
        * easy under maxFilesPerTrigger file grouping — is collapsed to
        * one deterministic representative per normalized key BEFORE the
        * merge, because BulkMerge classifies the whole batch against
        * one store head: two same-key inserts in one batch would
        * otherwise both land as live current rows forever.
        */
      seqCol: Option[String] = None,
      comparator: String = "default"): StreamingQuery = {
    // merged-store handle + id high-water mark carried across
    // micro-batches: re-listing the store directory and re-scanning
    // max(id) per batch is what kills a CDC stream against a
    // 100k-file store. Both are set only AFTER a batch's delta write
    // completes, and BOTH reset on any batch failure — a replayed
    // batch reloads from disk (where the failed attempt's rows, if any
    // landed, are visible) and re-classifies against that, so
    // duplicates and id collisions cannot happen under at-least-once
    // replay. The carried plan is rebased from disk every few batches
    // so the in-plan union chain stays shallow on long-running streams.
    var carried: Option[(graft.store.GraphStore, Long)] = None
    var carriedDepth = 0
    val rebaseEvery = 8
    incoming.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
       try {
        val spark = batch.sparkSession
        // the merge classification materializes (localCheckpoint)
        // before this batch's delta is written, so a fresh listing is
        // stable. write-only handle: no ~= reads run here, so skip
        // seeding the word-index watermark every micro-batch
        val (st, nextBase) = carried match {
          case Some((s, b)) if carriedDepth < rebaseEvery =>
            (s, Some(b))
          case c =>
            carriedDepth = 0
            // a rebase keeps the trusted id watermark (it survives the
            // plan swap; only a FAILURE resets it)
            (graft.store.GraphStore.load(spark, storeDir,
              useWordIndex = false), c.map(_._2))
        }
        val b0 = batch.toDF()
        val deduped =
          if (seqCol.isDefined || keyFields.isEmpty) b0 // BulkMerge last-wins
          else {
            // no sequence column: collapse same-key rows to ONE
            // deterministic representative (total order over every
            // column, so checkpoint replays of the same batch pick the
            // same winner and re-classify as unchanged)
            import graft.functions.GraphdFunctions.sort_key
            def keyOf(f: String): org.apache.spark.sql.Column = {
              val c = if (b0.columns.contains(f)) col(f)
                else lit(null).cast(
                  if (f == "name" || f == "value") "string" else "long")
              if (f == "name" || f == "value") sort_key(c, comparator) else c
            }
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keyFields.map(keyOf): _*)
              .orderBy(b0.columns.map(c => col(c).desc_nulls_last): _*)
            b0.withColumn("__rn",
                org.apache.spark.sql.functions.row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn")
          }
        val r =
          if (unique) graft.write.BulkMerge.mergeUnique(st, deduped, keyFields,
            comparator, seqCol, baseId = nextBase)
          else graft.write.BulkMerge.mergeKeyed(st, deduped, keyFields,
            comparator, seqCol, baseId = nextBase)
        r.appended
          .withColumn("id_part", shiftright(col("id"),
            graft.store.GraphStore.PartShift).cast("int"))
          .write.mode("append").partitionBy("id_part").parquet(storeDir)
        carried = Some((r.store, r.nextIdAfter))
        carriedDepth += 1
        ()
       } catch { case e: Throwable =>
        // at-least-once replay safety: never trust the carried handle
        // or watermark past a failed attempt (its write may have
        // partially landed); the retry reloads and re-derives both
        carried = None
        carriedDepth = 0
        throw e
       }
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming dedup-ingest: per micro-batch, accept exactly the rows
    * whose content fingerprint has never been seen — not in the seed
    * corpus, not accepted from an earlier batch — and append them to
    * `acceptedDir` as an (idCol, fp) parquet table. The streaming
    * analog of [[graft.operators.Dedup.incrementalNew]] (same
    * fingerprint, same Bloom-pruned split through `incrementalNewFp`:
    * definitely-new rows skip the confirming join's shuffle).
    *
    * Semantics, chosen so replays cannot corrupt the accepted set:
    *  - WITHIN a batch, duplicate fingerprints collapse to the
    *    smallest id (deterministic winner under any partitioning);
    *  - ACROSS batches, first-accepted wins: a later row with an
    *    accepted fingerprint is silently dropped;
    *  - replay-idempotent BY CLASSIFICATION, not by output-path
    *    bookkeeping: a re-delivered (or crash-retried, partially
    *    landed) batch re-classifies against the on-disk accepted
    *    table — already-landed rows have their fingerprint in history
    *    and drop out; lost rows append. Nothing is keyed on batchId,
    *    so idempotence survives checkpoint loss and changed batch
    *    boundaries (the mergeStream philosophy);
    *  - null-text rows are DROPPED, not accepted: a null fingerprint
    *    can never be "seen before" (null joins nothing), so accepting
    *    them would re-accept on every replay — the one at-least-once
    *    hole the classification cannot close. A curation stream
    *    filters null docs upstream anyway (t08).
    *
    * 100 TB shape: history stays a persisted fp table (here re-listed
    * per batch; in production a Delta/Iceberg table appended
    * transactionally) and the sketch over it is INCREMENTAL: built
    * once at stream (re)start — the only full-history aggregation —
    * then each batch's accepted fingerprints are MERGED into it
    * (BloomFilter.mergeInPlace in the single regime; a bucket-table
    * OR-merge in the partitioned regime), so per-batch work is
    * O(batch), not O(history), and stream-lifetime cost is linear in
    * accepted volume instead of quadratic. The merge runs BEFORE the
    * append, keeping the invariant sketch ⊇ disk-accepted ∪ seed at
    * every batch boundary — the sketch can only over-approximate
    * (false positives, re-screened by the exact confirming join),
    * never under-approximate (a false negative would re-accept a dup).
    * The sketch is invalidated (rebuilt from seed + acceptedDir) on
    * restart and on any batch failure; the stream is the sole writer
    * of acceptedDir — an external writer appending mid-run is outside
    * the contract (its rows would bypass the probe).
    *
    * `expectedItems` sizes the sketch for the stream's LIFETIME
    * (seed + everything it will accept); left unset, capacity defaults
    * to 2x the start-of-stream history. Outgrowing capacity only
    * raises the false-positive rate (more confirming-join traffic) —
    * the output stays exact.
    */
  def dedupStream(incoming: DataFrame, idCol: String, textCol: String,
      seedHistory: DataFrame, acceptedDir: String, checkpointDir: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): StreamingQuery = {
    import graft.operators.{Dedup, TextAnalysis}
    // driver-side sketch state carried across micro-batches (the
    // mergeStream `carried` pattern): None until the first batch or
    // after a failed attempt
    var sketch: Option[DedupSketchState] = None
    incoming.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
       try {
        val spark = batch.sparkSession
        val bFp = batch.toDF()
          .select(col(idCol).cast("long").as(idCol),
            TextAnalysis.fingerprint(col(textCol)).as("fp"))
          .filter(col("fp").isNotNull)
          .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
          .select(col(idCol), col("fp"))
        val seedFp = seedHistory
          .select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
          .filter(col("fp").isNotNull)
        val accPath = new org.apache.hadoop.fs.Path(acceptedDir)
        val fs = accPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // COMMITTED part files, not bare directory existence: a crash
        // mid-first-append leaves the dir holding only the committer's
        // _temporary — schema inference over that would wedge every
        // retry of exactly the crash the classification contract closes
        val hasCommitted = fs.exists(accPath) && fs.globStatus(
          new org.apache.hadoop.fs.Path(acceptedDir, "part-*")).nonEmpty
        val accepted =
          if (hasCommitted) spark.read.parquet(acceptedDir).select(col("fp"))
          else seedFp.limit(0)
        val hFp = seedFp.unionByName(accepted)
        if (sketch.isEmpty) {
          // the one full-history pass: (re)start only
          val items = if (expectedItems > 0) expectedItems
            else math.max(2L * graft.Memo.count(hFp), 1024L)
          // CLONE the memoized filter before growing it: the memo
          // instance is shared with batch callers (and other streams),
          // and an in-place merge racing another plan's serialization
          // of the same bit array could tear — a torn read is a false
          // NEGATIVE, the one failure the classification can't absorb
          sketch = Some(
            if (Dedup.bloomBits(items, fpp) <= Dedup.maxSingleBloomBits)
              SingleSketch(
                cloneFilter(Dedup.singleSketch(hFp, items, fpp)), items)
            else {
              Dedup.partitionedBloomBuilds.incrementAndGet()
              val nb = Dedup.bloomNumBuckets(items, fpp)
              val pb = math.max(items / nb, 1L)
              BucketSketch(Dedup.buildBucketFilters(hFp, nb, pb, fpp,
                fullHistory = true), nb, pb)
            })
        }
        val fresh = sketch.get match {
          case SingleSketch(bf, _) =>
            Dedup.probeSplitSingle(bFp, hFp, idCol, bf)
          case BucketSketch(f, nb, _) =>
            Dedup.probeSplitBuckets(bFp, hFp, idCol, f, nb)
        }
        // materialize BEFORE the append: the plan reads acceptedDir,
        // which the append is about to grow
        val rows = fresh.localCheckpoint()
        if (rows.count() > 0) {
          // merge BEFORE append (see the invariant above): a crash
          // between the two leaves the sketch a superset of disk —
          // safe; the reverse order could leave landed rows outside
          // the sketch, and a later dup of them would probe
          // definitely-new and land twice
          sketch = Some(sketch.get match {
            case s @ SingleSketch(bf, items) =>
              bf.mergeInPlace(rows.stat.bloomFilter("fp", items, fpp))
              s
            case BucketSketch(f, nb, pb) =>
              BucketSketch(
                Dedup.mergeBucketFilters(f, rows.select(col("fp")),
                  nb, pb, fpp), nb, pb)
          })
          rows.write.mode("append").parquet(acceptedDir)
        }
        ()
       } catch { case e: Throwable =>
        // never trust the carried sketch past a failed attempt: the
        // retry rebuilds it from seed + acceptedDir (whose partially-
        // landed rows, if any, are visible there) — same reset
        // discipline as mergeStream's carried handle
        sketch = None
        throw e
       }
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  private def cloneFilter(bf: org.apache.spark.util.sketch.BloomFilter)
      : org.apache.spark.util.sketch.BloomFilter = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bos.toByteArray))
  }

  /** sketch state [[dedupStream]] carries across micro-batches */
  private sealed trait DedupSketchState
  private final case class SingleSketch(
      bf: org.apache.spark.util.sketch.BloomFilter,
      items: Long) extends DedupSketchState
  private final case class BucketSketch(
      filters: org.apache.spark.sql.Dataset[(Int, Array[Byte])],
      numBuckets: Int, perBucket: Long) extends DedupSketchState

  /** windowed event analytics over the events stream — watermark +
    * tumbling window, the standard Structured Streaming shape.
    */
  def windowedEventCounts(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  final case class Ev(user_id: Long, ts_micros: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class Session(user_id: Long, start_micros: Long,
      end_micros: Long, n_events: Long, sum_value: Double)

  /** Stateful gap-based sessionization over an event stream —
    * `flatMapGroupsWithState`: a session is emitted exactly once, when
    * a LATER event for the same user arrives past the gap. A user's
    * final (open) session stays in state until that next event — there
    * is deliberately no timeout flush: a pending group-state timeout
    * keeps the micro-batch engine from ever quiescing, which breaks
    * drain-style consumers (`processAllAvailable`) and the AvailableNow
    * gates. A consumer needing open sessions flushed reads them as the
    * current state (or sends a per-user sentinel event past the gap,
    * the streaming-idiomatic close).
    */
  def sessionize(events: org.apache.spark.sql.Dataset[Ev], gapMicros: Long)
      : org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          // batch-per-trigger semantics: fold sorted events, emitting
          // a session whenever the gap is exceeded
          val sorted = evs.toSeq.sortBy(_.ts_micros)
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          sorted.foreach { e =>
            st = st match {
              case null => SessionState(e.ts_micros, e.ts_micros, 1L, e.value)
              case s if e.ts_micros - s.last > gapMicros =>
                out += Session(user, s.start, s.last, s.n, s.sum)
                SessionState(e.ts_micros, e.ts_micros, 1L, e.value)
              case s =>
                SessionState(s.start, e.ts_micros, s.n + 1, s.sum + e.value)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** dateline: the replica's read-your-writes horizon */
  def dateline(primitives: DataFrame): Long =
    primitives.agg(coalesce(max(col("id")), lit(0L))).head().getLong(0)
}
