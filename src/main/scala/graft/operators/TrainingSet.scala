package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Memo

/** Training-set assembly operators: the last pipeline stage before a
  * tokenized corpus ships to a trainer — packing documents into
  * fixed-length training sequences, and the deterministic global
  * shuffle/shard step that fixes example order for reproducible runs.
  *
  * Both are designed around the 100 TB constraint that a GLOBAL
  * ordering is needed but a global single-partition window is not
  * acceptable: packing uses the classic two-pass distributed prefix
  * sum (per-partition subtotals -> driver-side prefix over ONE ROW PER
  * PARTITION -> broadcast offsets), and sharding shuffles once on the
  * shard key, which is exactly the shape of writing the shard files.
  */
object TrainingSet {

  /** GPT-style "concat then chunk" sequence packing manifest: documents
    * are laid out in deterministic id order, token counts accumulate,
    * and every document is assigned the training sequence its first
    * token lands in (`seq_id`) plus its offset inside that sequence
    * (`seq_offset`). Long documents simply overflow into subsequent
    * sequences — the manifest pins where each doc STARTS, which is all
    * a chunking writer needs.
    *
    * 100 TB shape: the naive formulation is a running sum over a
    * global `ORDER BY doc_id` window — a single-partition sort that
    * cannot scale. Instead: range-partition by id (so partition i
    * holds strictly smaller ids than partition i+1), per-partition
    * token subtotals (one tiny row per partition collected to the
    * driver), a driver-side prefix sum over that partition-count-sized
    * array, and a second per-partition pass that adds the broadcast
    * offset to a local running sum. Two scans of a cached two-column
    * projection, zero wide shuffles beyond the range exchange, and the
    * result is byte-identical to the global-window formulation.
    */
  /** bounded memo over the packing manifests: the cached id-ordered
    * projection is released (once unshared) on LRU eviction instead of
    * leaking one corpus-sized cache per call
    */
  private val packMemo = Memo.frames[(Long, String, String, Int)]

  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    packMemo.getOrElseUpdate(
      (Memo.planKey(docs), idCol, textCol, seqLen),
      packOnce(docs, idCol, textCol, seqLen)).df
  }

  private def packOnce(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Int): Memo.Frame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val parts = graft.graph.Analytics.sizedPartitions(docs)
    // two-column projection: ids + token counts, globally id-ordered
    // across partition indexes (range exchange + in-partition sort)
    val base = docs
      .select(col(idCol).cast("long").as("doc_id"),
        coalesce(TextAnalysis.tokenCount(col(textCol)).cast("long"), lit(0L))
          .as("n_tokens"))
      .repartitionByRange(parts, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .as[(Long, Long)]
      .persist()

    // pass 1: one (first doc_id, token subtotal) row per nonempty
    // partition — collecting THIS is collecting parts rows, not the
    // corpus. Keying by the partition's FIRST ID (not
    // TaskContext.getPartitionId) matters: a downstream coalesce(1)
    // recomputes parent partitions inside one task whose partition id
    // is 0, which would hand every parent partition the first offset;
    // the range key survives any such task re-composition because the
    // iterator boundaries themselves are preserved.
    val subtotals = base.mapPartitions { it =>
      if (it.hasNext) {
        val head = it.next()
        var s = head._2
        it.foreach(s += _._2)
        Iterator.single((head._1, s))
      } else Iterator.empty
    }.collect()

    // driver-side prefix sum over one entry per nonempty partition;
    // the range exchange guarantees first-ids order partitions
    val boundaries = subtotals.sortBy(_._1)
    val firstIds = boundaries.map(_._1)
    val offsets = new Array[Long](boundaries.length)
    var running = 0L
    var i = 0
    while (i < boundaries.length) {
      offsets(i) = running; running += boundaries(i)._2; i += 1
    }

    // pass 2: local running sum + broadcast partition offset, found by
    // the greatest boundary first-id <= this partition's head id
    val out = base.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val buf = it.buffered
        val headId = buf.head._1
        var lo = 0; var hi = firstIds.length - 1; var idx = 0
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (firstIds(mid) <= headId) { idx = mid; lo = mid + 1 }
          else hi = mid - 1
        }
        var cum = offsets(idx)
        buf.map { case (id, nt) =>
          val before = cum
          cum += nt
          (id, nt, before / seqLen, before % seqLen)
        }
      }
    }.toDF("doc_id", "n_tokens", "seq_id", "seq_offset")
    Memo.Frame(out, Seq(base.toDF()))
  }

  /** Fixed-width token-length bucket accounting — the padding-
    * efficiency table a batch assembler reads before grouping examples
    * of similar length (padding cost is what length-bucketed batching
    * exists to cut). Bucket b holds docs with n_tokens in
    * [b*width, (b+1)*width); bucket `cap` is the open overflow bucket.
    * `pad_tokens` totals the padding a batch padded to the bucket's
    * upper bound would add (overflow docs pad to their own length —
    * zero here). Map-side bucket assignment + ONE aggregation shuffle
    * of at most cap+1 groups; integer arithmetic end to end, so the
    * oracle matches exactly.
    */
  def lengthBuckets(docs: DataFrame, idCol: String, textCol: String,
      width: Int, cap: Int): DataFrame = {
    require(width > 0 && cap >= 0)
    val nt = coalesce(TextAnalysis.tokenCount(col(textCol)).cast("long"),
      lit(0L))
    val bucket = least(floor(nt / lit(width)).cast("long"), lit(cap.toLong))
    val pad = when(bucket < cap, (bucket + 1) * width - nt).otherwise(0L)
    docs.select(bucket.as("bucket"), nt.as("n_tokens"), pad.as("pad_tokens"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tok_total"),
        sum(col("pad_tokens")).as("pad_total"))
  }

  /** Deterministic seeded shuffle + shard assignment: every document
    * gets a pseudo-random but reproducible rank key (md5 of id + seed),
    * a shard (top hex digits of the key mod `numShards`), and its
    * 1-based position within the shard. Re-running with the same seed
    * reproduces the exact example order — the property training-run
    * reproducibility contracts require — while any seed change is a
    * full independent reshuffle.
    *
    * 100 TB shape: one hash-shuffle on `shard` with an in-partition
    * sort — which is precisely the physical work of writing shard
    * files in shuffled order, so nothing is wasted. `numShards` is
    * sized so one shard ≈ one output file (thousands at corpus scale);
    * the per-shard sort is a single task by design, the same way a
    * file writer is.
    */
  def shardShuffle(docs: DataFrame, idCol: String, seed: String,
      numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(col(idCol).cast("string"), lit(":" + seed)))
    val keyed = docs.select(col(idCol), key.as("rk"))
      .withColumn("shard",
        pmod(conv(substring(col("rk"), 1, 8), 16, 10).cast("long"),
          lit(numShards.toLong)))
    val w = Window.partitionBy(col("shard")).orderBy(col("rk"), col(idCol))
    keyed.withColumn("pos", row_number().over(w).cast("long"))
  }
}
