package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Conf, Memo}

/** Deduplication operators for training-data pipelines, each designed
  * for the 100 TB regime:
  *
  *  - exact: one hash-groupBy (map-side partial agg, single shuffle on
  *    a 128-bit key).
  *  - n-gram Jaccard: inverted shingle index + self-join — candidates
  *    only materialize for documents sharing a shingle; a document-
  *    frequency cap drops stop-shingles so the join's fan-out stays
  *    bounded under skew (the classic "hot key" guard).
  *  - MinHash+LSH: fixed-size signatures (k hashes) + banding; only
  *    same-bucket pairs are compared, turning O(n²) into O(n·bands)
  *    shuffle volume. Verified with exact Jaccard afterward, so the
  *    output is precision-1 at the chosen threshold.
  *  - SimHash: 64-bit signature, near-dup = small Hamming distance;
  *    candidate generation by exact-match on 16-bit chunks (any pair
  *    within distance 3 shares at least one of 4 chunks).
  *
  * All hashes derive from md5/xxhash64 column functions — codegen'd,
  * deterministic across runs and engines.
  */
object Dedup {

  /** Bits the sketch needs — BloomFilter's own optimal-m formula,
    * -n·ln(p)/ln(2)², computed here so the size GATE can run before any
    * driver object exists.
    */
  private[graft] def bloomBits(items: Long, fpp: Double): Long =
    math.ceil(-items.toDouble * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong

  /** Driver-heap budget for memoized single-path Bloom filters. The
    * entry-count LRU alone bounds the wrong resource — 32 entries of
    * caller-sized filters can pin multi-GB of driver heap — so this
    * memo evicts by TOTAL BYTES (512 MB; each entry is already
    * individually capped by `Conf.bloomMaxSingleBits`).
    */
  private[graft] final val bloomMemoBytes = 512L << 20

  /** history Bloom filters for [[incrementalNew]]'s single-filter path
    * — ~1.2 MB per million items at fpp 0.01, bounded by total bytes
    * ([[bloomMemoBytes]]), each entry gated by `Conf.bloomMaxSingleBits`
    */
  private val bloomMemo = new Memo[(Long, Long, Double),
    org.apache.spark.util.sketch.BloomFilter](bloomMemoBytes, _.bitSize / 8)

  /** bucket-filter tables for the partitioned path, keyed on (history
    * planKey, numBuckets, fpp); localCheckpointed, so eviction only
    * drops the reference ([[buildBucketFilters]])
    */
  private[graft] val bucketBloomMemo = new Memo[(Long, Int, Double),
      org.apache.spark.sql.Dataset[(Int, Array[Byte])]](Memo.cap)

  /** how many times the partitioned-sketch path engaged (test probe) */
  private[graft] val partitionedBloomBuilds =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** how many FULL-HISTORY sketch builds ran (single or partitioned) —
    * test probe for the streaming contract: a long-running dedup
    * stream pays one of these per (re)start, never one per micro-batch
    */
  private[graft] val historySketchBuilds =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Single-regime history sketch, memoized on the history's planKey —
    * the one full-history aggregation a caller pays. The instance is
    * SHARED across callers — anyone growing it (the streaming path
    * merges accepted fingerprints per batch) must CLONE first: an
    * in-place merge racing another plan's serialization of the same
    * bit array could tear, and a torn read is a false negative.
    */
  private[graft] def singleSketch(hFp: DataFrame, items: Long,
      fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    bloomMemo.getOrElseUpdate((Memo.planKey(hFp), items, fpp), {
      historySketchBuilds.incrementAndGet()
      // an empty history aggregates to no buffer, which Spark's
      // bloomFilter then fails to read (NPE); its sketch is the empty
      // filter. Callers that size the filter from the history already
      // hold the memoized count.
      if (Memo.count(hFp) == 0)
        org.apache.spark.util.sketch.BloomFilter.create(items, fpp)
      else hFp.stat.bloomFilter("fp", items, fpp)
    })

  /** bucket count for a partitioned sketch: smallest power of two
    * keeping each bucket filter within `conf.bloomBucketBits`
    */
  private[graft] def bloomNumBuckets(items: Long, fpp: Double,
      conf: Conf = Conf()): Int = {
    var n = 1
    while (n < (1 << 24) &&
        bloomBits(math.max(items / n, 1L), fpp) > conf.bloomBucketBits)
      n <<= 1
    n
  }

  /** Distributed (bucket, serialized-filter) sketch over `fps` (a
    * null-free "fp" column): each bucket's fingerprints stream through
    * one executor task holding only its own filter. Every filter is
    * sized (perBucket, fpp) so same-bucket filters from different
    * builds are merge-compatible. Eagerly materialized via
    * localCheckpoint — lineage-free, so the streaming path can chain
    * per-batch merges without growing a recompute chain; blocks are
    * reclaimed by the ContextCleaner when the dataset is dropped.
    */
  private[graft] def buildBucketFilters(fps: DataFrame, numBuckets: Int,
      perBucket: Long, fpp: Double, fullHistory: Boolean)
      : org.apache.spark.sql.Dataset[(Int, Array[Byte])] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.util.sketch.BloomFilter
    if (fullHistory) historySketchBuilds.incrementAndGet()
    fps.select(col("fp")).as(Encoders.STRING)
      .groupByKey(fp => bloomBucket(fp, numBuckets))(Encoders.scalaInt)
      .mapGroups { (bkt, it) =>
        val bf = BloomFilter.create(perBucket, fpp)
        it.foreach(bf.putString)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (bkt, bos.toByteArray)
      }(Encoders.tuple(Encoders.scalaInt, Encoders.BINARY))
      .localCheckpoint()
  }

  /** OR a batch's fingerprints into an existing bucket sketch: build
    * same-sized bucket filters over the (small) batch, then a
    * pass-through cogroup merges touched buckets and carries the rest.
    * Per-batch cost is O(batch rows + sketch bytes) — the sketch rides
    * at ~1.2 bytes/item, so this never re-aggregates history rows. (At
    * cluster scale the sketch is a bucketed table and this merge is a
    * co-partitioned update.) The result is localCheckpointed; the
    * replaced sketch's blocks are dropped by the ContextCleaner.
    */
  private[graft] def mergeBucketFilters(
      old: org.apache.spark.sql.Dataset[(Int, Array[Byte])],
      newFps: DataFrame, numBuckets: Int, perBucket: Long, fpp: Double)
      : org.apache.spark.sql.Dataset[(Int, Array[Byte])] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.util.sketch.BloomFilter
    val delta = buildBucketFilters(newFps, numBuckets, perBucket, fpp,
      fullHistory = false)
    old.groupByKey(_._1)(Encoders.scalaInt)
      .cogroup(delta.groupByKey(_._1)(Encoders.scalaInt)) { (bkt, a, b) =>
        val filters = (a ++ b).map(t => BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(t._2))).toSeq
        val merged = filters.reduce { (x, y) => x.mergeInPlace(y); x }
        val bos = new java.io.ByteArrayOutputStream()
        merged.writeTo(bos)
        Iterator((bkt, bos.toByteArray))
      }(Encoders.tuple(Encoders.scalaInt, Encoders.BINARY))
      .localCheckpoint()
  }

  /** Exact dedup on normalized content: keep the smallest id per
    * fingerprint group.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("__fp").as("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Exact dedup with a RETENTION POLICY: per duplicate group keep the
    * highest-quality member (quality-score argmax, lowest-id
    * tiebreak) instead of the arbitrary smallest id — the canonical-
    * selection step a curation pipeline runs so dedup doesn't discard
    * the cleanest copy. ONE aggregation (max_by over a (quality, -id)
    * struct) — partial-aggregable map-side, no per-group window, so
    * the plan is the same single shuffle as [[exact]] at any scale.
    */
  def keepBestQuality(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(
        TextAnalysis.fingerprint(col(textCol)).as("fp"),
        col(idCol).cast("long").as("__id"),
        TextAnalysis.qualityScore(col(textCol)).as("__q"))
      .groupBy(col("fp"))
      .agg(
        count(lit(1)).as("n_dups"),
        // the tiebreak negates the LONG id directly — a double cast
        // would collapse ids past 2^53 into one key and let max_by
        // pick a partition-order-dependent keeper
        max_by(col("__id"), struct(col("__q"), negate(col("__id"))))
          .as("keep_id"),
        max(col("__q")).as("quality"))

  /** Exact duplicated-SPAN detection — the window-level analog of
    * [[exact]]: near-verbatim reuse surfaces even when whole-document
    * fingerprints differ (the suffix-array exact-substring dedup of
    * "Deduplicating Training Data Makes Language Models Better" recast
    * as one hash aggregation over strided character windows).
    *
    * Windows of `width` chars at `stride` offsets over whitespace-
    * normalized text; a span is reported when it appears in >=
    * `minDocs` DISTINCT documents. Shape at 100 TB: the window
    * emission is map-only (len/stride rows per doc, done in a typed
    * flatMap so the normalization runs once per document — a column
    * `transform` would get the regexp inlined into every lambda
    * element by CollapseProject, going quadratic per doc, the same
    * trap [[shingleSet]] documents); the distinct step shuffles on
    * (span, doc) with map-side partial aggregation, so a boilerplate
    * span repeated through one document costs one row per map
    * partition, not one per occurrence; the count step re-shuffles
    * only one row per (span, doc). No pair join exists anywhere, so
    * there is no quadratic to cap — corpus-wide boilerplate degrades
    * into ONE aggregation row, not an n² fan-out. (At 100 TB the
    * shuffle key would be xxhash64(span) with one representative span
    * carried via min; here the span text IS the result, and the gate
    * compares it byte-for-byte against the oracle.)
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      width: Int = 50, stride: Int = 25, minDocs: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(width > 0 && stride > 0)
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        // null text emits nothing (the oracle's length(NULL) >= width
        // predicate is NULL, excluding the row the same way).
        // Normalization order matters: collapse \s+ FIRST, then strip
        // the (now at most single) edge spaces. String.trim strips
        // every char <= 0x20 while SQL trim() strips spaces only, so
        // trimming first diverges from the oracle on tab/newline edges.
        val t =
          if (text == null) ""
          else {
            val c = text.toLowerCase.replaceAll("\\s+", " ")
            c.stripPrefix(" ").stripSuffix(" ")
          }
        if (t.length < width) Iterator.empty
        else Range.inclusive(0, t.length - width, stride).iterator
          .map(i => (id, t.substring(i, i + width)))
      }
      .toDF(idCol, "span")
      // explicit two-phase distinct-count: both aggregations are
      // partial-aggregable map-side (a grouped countDistinct would
      // plan the same two exchanges through Expand, less legibly)
      .groupBy(col("span"), col(idCol)).agg(count(lit(1)).as("__occ"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Incremental dedup of a new batch against an (immutable, already-
    * deduped) history corpus: returns the batch rows whose normalized
    * fingerprint does NOT appear in history — EXACT semantics at a
    * fraction of the anti-join's shuffle.
    *
    * Mechanics: one distributed pass over history builds a Bloom
    * filter of its fingerprints (`expectedItems`/`fpp` size it; pass
    * the history cardinality you track — at 100 TB you know it — or
    * let the operator count once). The batch then splits by a
    * compiled [[graft.functions.BloomProbe]] projection:
    *
    *  - probe=false rows are DEFINITELY new (Bloom has no false
    *    negatives) and ship straight to the output — zero shuffle;
    *  - probe=true rows (true dups + ~fpp false positives) are the
    *    only rows entering the exact confirming anti-join.
    *
    * With a deduped history and a mostly-novel batch the anti-join's
    * left side shrinks from |batch| to |dups| + fpp·|batch| — the
    * filter prunes the shuffle, the join keeps the answer exact, so
    * the output is byte-identical to the plain anti-join the oracle
    * states. History still streams through the join's build side once;
    * the Bloom pass is the price of not shuffling the batch.
    *
    * Memory bound, both regimes:
    *
    *  - sketch bits <= `Conf.bloomMaxSingleBits` (256 MB default): ONE
    *    driver-built filter, broadcast into a codegen [[graft.functions
    *    .BloomProbe]] — definitely-new rows never shuffle. The memo
    *    holding these filters is BYTE-bounded ([[bloomMemoBytes]]).
    *  - above the gate (a 1e11-item history at fpp 0.01 is ~120 GB of
    *    bits — driver OOM as a single object): the sketch is hash-
    *    partitioned into 2^b bucket filters of <= `Conf.bloomBucketBits`
    *    each, built DISTRIBUTED (groupByKey.mapGroups streams each
    *    bucket's fingerprints through one executor task holding only
    *    its own <=16 MB filter) and persisted as a (bucket, bytes)
    *    table that lives on executors. Probing cogroups the batch with
    *    that table on the bucket key: the batch shuffles once on
    *    hash(fp) — unavoidable once the sketch can't be broadcast —
    *    but each subsequent batch reuses the persisted sketch instead
    *    of re-streaming the full history through an anti-join build
    *    side, and only might-contain survivors enter the exact
    *    confirming join. No single process ever holds more than one
    *    bucket filter. Output is byte-identical in both regimes.
    */
  def incrementalNew(batch: DataFrame, history: DataFrame, idCol: String,
      textCol: String, expectedItems: Long = -1L, fpp: Double = 0.01,
      conf: Conf = Conf()): DataFrame = {
    val bFp = batch.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    // null history fingerprints can never match a batch key (null !=
    // null in the join) — and the sketch builder NPEs on them
    val hFp = history.select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull)
    incrementalNewFp(bFp, hFp, idCol, expectedItems, fpp, conf)
  }

  /** Fingerprint-level core of [[incrementalNew]], for callers that
    * already carry fingerprints (e.g. the streaming dedup-ingest path,
    * whose history is a persisted (id, fp) table with no text to
    * re-fingerprint). `bFp` must carry (`idCol`, "fp"); `hFp` a
    * null-free "fp" column. Same split, same memoization, same
    * byte-identical-to-anti-join output contract.
    */
  private[graft] def incrementalNewFp(bFp: DataFrame, hFp: DataFrame,
      idCol: String, expectedItems: Long = -1L, fpp: Double = 0.01,
      conf: Conf = Conf()): DataFrame = {
    val items = if (expectedItems > 0) expectedItems
      else math.max(Memo.count(hFp), 1L)
    if (bloomBits(items, fpp) <= conf.bloomMaxSingleBits) {
      // the filter is memoized on (history planKey, items, fpp): the
      // operator's natural shape is many batches against one immutable
      // history, and only the FIRST batch should pay the history
      // aggregation (planKey folds the input-file listing, so a history
      // rewrite rebuilds rather than serving a stale filter)
      probeSplitSingle(bFp, hFp, idCol, singleSketch(hFp, items, fpp))
    } else {
      partitionedBloomBuilds.incrementAndGet()
      val numBuckets = bloomNumBuckets(items, fpp, conf)
      val perBucket = math.max(items / numBuckets, 1L)
      val filters = bucketBloomMemo.getOrElseUpdate(
        (Memo.planKey(hFp), numBuckets, fpp),
        buildBucketFilters(hFp, numBuckets, perBucket, fpp,
          fullHistory = true))
      probeSplitBuckets(bFp, hFp, idCol, filters, numBuckets)
    }
  }

  /** Split `bFp` by an explicit single-regime sketch: probe=false rows
    * are definitely new (no false negatives as long as the filter
    * covers the full history `hFp` joins against); probe=true rows go
    * through the exact confirming anti-join. Null fingerprints route
    * to the definitely-new side: a null join key never matches, so the
    * plain anti-join KEEPS those rows — the probe (null in, null out)
    * must not silently drop them instead.
    */
  private[graft] def probeSplitSingle(bFp: DataFrame, hFp: DataFrame,
      idCol: String, bf: org.apache.spark.util.sketch.BloomFilter)
      : DataFrame = {
    val might = coalesce(
      graft.functions.GraphdFunctions.bloom_probe(col("fp"), bf),
      lit(false))
    val definitelyNew = bFp.filter(!might)
    val confirmedNew = bFp.filter(might).join(hFp, Seq("fp"), "left_anti")
    definitelyNew.unionByName(confirmedNew).select(col(idCol), col("fp"))
  }

  /** [[probeSplitSingle]] for an explicit partitioned (bucket, filter)
    * sketch table
    */
  private[graft] def probeSplitBuckets(bFp: DataFrame, hFp: DataFrame,
      idCol: String,
      filters: org.apache.spark.sql.Dataset[(Int, Array[Byte])],
      numBuckets: Int): DataFrame = {
    val probed = bucketProbe(bFp, filters, numBuckets)
    val definitelyNew = probed.filter(!col("__might")).drop("__might")
    val confirmedNew = probed.filter(col("__might")).drop("__might")
      .join(hFp, Seq("fp"), "left_anti")
    definitelyNew.unionByName(confirmedNew).select(col(idCol), col("fp"))
  }

  /** deterministic bucket for a fingerprint — must agree between the
    * sketch build and the probe (both run this exact function)
    */
  private def bloomBucket(fp: String, numBuckets: Int): Int =
    (fp.hashCode & 0x7fffffff) % numBuckets

  /** bFp plus a `__might` boolean: the partitioned-sketch probe.
    * Null-fp rows key to bucket -1, which no filter row carries, so
    * they surface as definitely-new — the same routing the single-path
    * coalesce(probe, false) performs.
    */
  private def bucketProbe(bFp: DataFrame,
      filters: org.apache.spark.sql.Dataset[(Int, Array[Byte])],
      numBuckets: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.util.sketch.BloomFilter
    val outSchema = bFp.schema.add("__might",
      org.apache.spark.sql.types.BooleanType, nullable = false)
    val fpIdx = bFp.schema.fieldIndex("fp")
    bFp.groupByKey { r =>
        if (r.isNullAt(fpIdx)) -1
        else bloomBucket(r.getString(fpIdx), numBuckets)
      }(Encoders.scalaInt)
      .cogroup(filters.groupByKey(_._1)(Encoders.scalaInt)) {
        (_, rows, fIt) =>
          val bf = fIt.nextOption().map(t =>
            BloomFilter.readFrom(new java.io.ByteArrayInputStream(t._2)))
          bf match {
            case None => rows.map(r => Row.fromSeq(r.toSeq :+ false))
            case Some(f) => rows.map { r =>
              val might = !r.isNullAt(fpIdx) &&
                f.mightContainString(r.getString(fpIdx))
              Row.fromSeq(r.toSeq :+ might)
            }
          }
      }(Encoders.row(outSchema))
  }

  /** id -> distinct shingle hashes (the inverted-index source).
    *
    * Shingling runs in a typed flatMap — a pure column expression here
    * gets its tokenizing split() inlined by CollapseProject into every
    * per-shingle lambda element, going quadratic per document. The
    * flatMap is one pass per row and a codegen barrier. Shingles are
    * then hashed to 64-bit longs: the self-join shuffles 8-byte keys
    * instead of text, and Jaccard only needs counts (collision odds
    * ~1e-11 at 1e5 distinct shingles).
    */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.trim.toLowerCase.split("\\s+")
        if (toks.length < n) Iterator.empty
        else toks.sliding(n).map(w => (id, w.mkString(" "))).toSet.iterator
      }
      .toDF("id", "sh_str")
      .select(col("id"), xxhash64(col("sh_str")).as("sh"))
  }

  /** Pairwise n-gram Jaccard near-duplicates above `threshold`.
    * `maxDf` drops shingles occurring in more documents (frequency cap
    * against quadratic blowup on boilerplate shingles). Jaccard is
    * computed exactly over the CAPPED shingle universe: set sizes count
    * the same df<=maxDf shingles the intersection join sees (df==1
    * singletons stay in the union; they can never intersect), so the
    * score is unbiased within that universe rather than silently
    * deflated by frequent shingles counted in sizes but not overlaps.
    */
  // memoized per (input plan, args): the pair computation is the
  // expensive stage shared by the pairwise report and the clustering
  // operator, and returning the SAME DataFrame instance guarantees the
  // cached materialization is reused (plan-canonicalization equality
  // across separately-built self-join plans is not reliable)
  private val pairMemo = Memo.frames[(Long, String, String, Int, Double, Int)]

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, maxDf: Int = 1000): DataFrame =
    pairMemo.getOrElseUpdate(
      (Memo.planKey(df), idCol, textCol, n,
        threshold, maxDf),
      ngramJaccardPairsUncached(df, idCol, textCol, n, threshold, maxDf)).df

  private def ngramJaccardPairsUncached(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double, maxDf: Int): Memo.Frame = {
    val sh = shingleSet(df, idCol, textCol, n).cache()
    val dfTab = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val capped = sh.join(dfTab.filter(col("df") <= maxDf), "sh")
    val shK = capped.filter(col("df") >= 2).select("id", "sh")
    val sizes = capped.groupBy("id").agg(count(lit(1)).as("n_sh"))

    // Direct join-and-count: one self-join on the shingle key feeding
    // one partial-aggregated groupBy — intersection counts materialize
    // as aggregate state, never as a candidate-pair table. With the
    // df cap bounding per-key fan-out to C(maxDf,2), this is the
    // cheapest exact formulation; corpora whose pair density survives
    // the cap go through minhashLshPairs instead (the sub-quadratic
    // scale path).
    val a = shK.as("a"); val b = shK.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    // cached: the thresholded pair set is tiny (near-dup density), and
    // downstream stages reuse it verbatim — nearDupClusters runs the
    // same pair plan before clustering, so the cache turns its pair
    // phase into a lookup (Spark's cache manager matches on plan
    // equality across calls)
    val out = inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("jaccard",
        round(col("inter") / (col("na") + col("nb") - col("inter")), 3))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .cache()
    Memo.Frame(out, Seq(sh, out))
  }

  /** MinHash signature: k independent hash functions realized as
    * seed-prefixed xxhash64 of the shingle (overflow-free under ANSI
    * arithmetic, deterministic across runs); keep the min of each.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64): DataFrame = {
    val sh = shingleSet(df, idCol, textCol, n)
    val mins: Seq[Column] = (0 until k).map { i =>
      min(xxhash64(lit(i), col("sh"))).as(s"mh_$i") // sh already a long hash
    }
    sh.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash+LSH near-dup pairs: band the k-wide signature into
    * `bands` groups of k/bands rows, bucket-join on (band, hash of
    * band slice), then verify candidates with exact Jaccard.
    */
  private val lshMemo =
    Memo.frames[(Long, String, String, Int, Int, Int, Double, Int)]

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucket: Int = 100000): DataFrame =
    lshMemo.getOrElseUpdate(
      (Memo.planKey(df), idCol, textCol, n, k,
        bands, threshold, maxBucket),
      minhashLshPairsUncached(df, idCol, textCol, n, k, bands, threshold,
        maxBucket)).df

  private def minhashLshPairsUncached(df: DataFrame, idCol: String,
      textCol: String, n: Int, k: Int, bands: Int,
      threshold: Double, maxBucket: Int): Memo.Frame = {
    val sig = minhashSignatures(df, idCol, textCol, n, k)
    val rowsPerBand = k / bands
    val banded0 = sig.select(col("id"),
      posexplode(array((0 until bands).map { bnd =>
        xxhash64(concat_ws("_",
          lit(bnd) +: (0 until rowsPerBand).map(r => col(s"mh_${bnd * rowsPerBand + r}")): _*))
      }: _*)).as(Seq("band", "bucket")))

    val banded = capBuckets(banded0, Seq("band", "bucket"), maxBucket)

    val a = banded.as("a"); val b = banded.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    val verified = verifyJaccardTracked(df, idCol, textCol, cand, n, threshold)
    val out = verified.df.cache()
    Memo.Frame(out, verified.cached :+ out)
  }

  /** Hot-bucket cap for LSH candidate generation: a bucket of B
    * members yields B²/2 candidate pairs, so one degenerate bucket
    * (boilerplate shingles, zero/duplicated embeddings) can dwarf the
    * rest of the job at corpus scale — the classic LSH skew failure.
    * Rows in buckets past the cap are dropped from candidate
    * generation (members still pair through their other bands); caps
    * default high enough to never trigger at test SFs, and callers
    * doing corpus-scale dedup tune them down deliberately.
    */
  private[graft] def capBuckets(df: DataFrame, keyCols: Seq[String],
      maxBucket: Int, conf: Conf = Conf()): DataFrame =
    if (maxBucket == Int.MaxValue) df
    else {
      // INVERTED cap: anti-join against the OVER-cap keys instead of
      // semi-join against the under-cap ones. The under-cap set is
      // nearly every distinct key (≈ |keys| rows — at corpus scale a
      // full shuffle of both sides); the over-cap set is the handful
      // of degenerate hot keys the cap exists for, bounded above by
      // n/maxBucket and in practice tiny — so it BROADCASTS and the
      // main table is never shuffled for the cap at all (guide §3.1:
      // replace the big-side shuffle with a broadcast of the small
      // side). Null-key rows: the old semi-join's `===` never matched
      // them (dropped); the explicit isNotNull filter keeps that
      // contract byte-identical.
      // The broadcast hint is SIZE-GATED so the guard stays total: an
      // adversarial distribution putting EVERY key just over the cap
      // makes the hot set n/maxBucket rows — a hard broadcast() there
      // dies on the 8 GB / 512M-row broadcast cap where a shuffled
      // anti-join (still only n/maxBucket build rows) completes.
      // The gate is TWO-LEVEL so the guard stays total without an
      // unconditional plan-time job:
      //  LEVEL 1 — zero-action screen: |hot| <= rows(df)/maxBucket by
      //  construction (every hot key owns > maxBucket input rows), and
      //  rows(df) comes from the optimized plan's size estimate
      //  carrying a 256x UNDERESTIMATE MARGIN — plan stats are not an
      //  upper bound (Generate/posexplode stats don't multiply by the
      //  explode arity, parquet sizeInBytes is compressed bytes), and
      //  a hard broadcast() fired off a low estimate dies at the
      //  8 GB / 512M-row cap. Under the margin the hint is safe even
      //  against a 256x-low estimate; no job, no cache (the previous
      //  eager hot.count() ran the full upstream pipeline even for
      //  explain-only paths, and its cache was never released).
      //  LEVEL 2 — past the screen (≳10^9 estimated input rows at the
      //  default cap: never a test SF, always a scale where one count
      //  job is noise) the EXACT count decides, as before r13; the
      //  aggregation runs twice there (count + join build) — the price
      //  of an exact decision with nothing pinned.
      // Unhinted fallback: the anti-join build side is still only
      // |keys|/maxBucket rows, and AQE's runtime size check can still
      // convert to a broadcast from exact runtime stats.
      // `conf.dedupMaxHotBroadcastRows` <= 0 forces the unhinted path.
      val maxHot = conf.dedupMaxHotBroadcastRows
      val hot = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__bn")).filter(col("__bn") > maxBucket)
        .select(keyCols.map(c => col(c).as(s"__hot_$c")): _*)
      val estimateSlop = 256L
      val hinted =
        if (maxHot <= 0L) hot
        else {
          val st = df.queryExecution.optimizedPlan.stats
          val estRows: BigInt = st.rowCount.getOrElse(
            st.sizeInBytes /
              math.max(1, df.schema.fields.map(_.dataType.defaultSize).sum))
          if (estRows * estimateSlop / maxBucket <= BigInt(maxHot))
            broadcast(hot)
          else if (hot.count() <= maxHot) broadcast(hot)
          else hot
        }
      df.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
        .join(hinted,
          keyCols.map(c => col(c) === col(s"__hot_$c")).reduce(_ && _),
          "left_anti")
    }

  /** exact-Jaccard verification of candidate pairs, plus the shingle
    * cache it pinned (for memo eviction)
    */
  private def verifyJaccardTracked(df: DataFrame, idCol: String,
      textCol: String, cand: DataFrame, n: Int,
      threshold: Double): Memo.Frame = {
    val sh = shingleSet(df, idCol, textCol, n).cache()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.select(col("id").as("id_a"), col("sh")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(col("sh") === col("sh_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("jaccard",
        round(col("inter") / (col("na") + col("nb") - col("inter")), 3))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    Memo.Frame(out, Seq(sh))
  }

  /** Near-duplicate clustering: pairs → connected components → one
    * surviving representative (min id) per cluster. The standard final
    * stage of corpus dedup — transitive closure matters because
    * near-duplication chains (A≈B≈C with A!≈C) must collapse to one
    * survivor. Union-find contraction (Analytics.connectedComponentsDSU)
    * runs the component computation — pair sets are tiny relative to the
    * corpus, so contraction converges in one or two levels; every
    * document appears in the output (singletons are their own cluster).
    */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, maxDf: Int = 1000): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, n, threshold, maxDf)
    val comp = graft.graph.Analytics.connectedComponentsDSU(
        df.select(col(idCol).cast("long").as("id")),
        pairs.select(col("id_a").as("left"), col("id_b").as("right")))
      .withColumnRenamed("id", idCol).withColumnRenamed("component", "cluster")
    comp.withColumn("keep", col(idCol) === col("cluster"))
  }

  /** 60-bit SimHash over md5-derived token hashes: bit j of the
    * signature is the sign of sum over tokens of ±1 for that bit.
    * The token hash is the low 15 hex chars of md5 — reproducible in
    * any engine with md5 (oracle parity), still one hash per token.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(lower(col(textCol)))).as("t"))
      .withColumn("h", conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long"))
    val bitSums: Seq[Column] = (0 until 60).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$j")
    }
    val agg = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 60).map { j =>
      when(col(s"b_$j") > 0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    agg.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist.
    * Candidates are bucketed on maxDist+1 signature chunks — a pair
    * within distance d differs in at most d chunks, so it must share
    * one of d+1 (guaranteed recall; the pigeonhole trick behind
    * chunked simhash search). maxDist=3 gives 4 chunks of 15 bits.
    */
  private val simhashMemo = Memo.frames[(Long, String, String, Int)]

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    simhashMemo.getOrElseUpdate(
      (Memo.planKey(df), idCol, textCol, maxDist),
      { val out = simhashPairsUncached(df, idCol, textCol, maxDist).cache()
        Memo.Frame(out, Seq(out)) }).df

  private def simhashPairsUncached(df: DataFrame, idCol: String,
      textCol: String, maxDist: Int): DataFrame = {
    val sig = simhash(df, idCol, textCol)
    val nChunks = math.min(maxDist + 1, 60)
    val bounds = (0 to nChunks).map(i => i * 60 / nChunks)
    val chunked = sig.select(col("id"), col("simhash"),
      posexplode(array((0 until nChunks).map { cInd =>
        val width = bounds(cInd + 1) - bounds(cInd)
        shiftright(col("simhash"), bounds(cInd)).bitwiseAND((1L << width) - 1)
      }: _*))
        .as(Seq("chunk", "ckey")))
    val a = chunked.as("a"); val b = chunked.as("b")
    val ham = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
        col("a.id") < col("b.id"))
      .filter(ham <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        ham.cast("long").as("hamming"))
      .distinct()
  }
}
