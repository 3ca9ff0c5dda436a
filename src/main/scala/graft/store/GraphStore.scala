package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Conf
import graft.model.{Guid, Primitive}

/** The primitives table plus its derived views — the Spark rendition of
  * the reference's istore + index layer (libaddb/addb-istore.h,
  * libpdb/pdb.h). One append-only table, everything else is a
  * declarative view Catalyst can push into.
  *
  * The rows come from one [[Source]]: a driver-resident mirror
  * ([[Source.Mirror]], built by `fromSeq`) or a distributed frame
  * ([[Source.Distributed]], built by `load` and `fromDf`), never both.
  * The mirror answers the write path's per-request lookups and the
  * point-read snapshot with no Spark job; its `primitives` frame is
  * derived on first Catalyst use. Every mirror-or-frame decision is a
  * method of the two sources, so nothing outside `graft.store` asks
  * which one a store has.
  *
  * Scale notes (100 TB design):
  *  - persisted partitioned by `id_part = id >> PartShift` — the analog
  *    of the reference's 1024 istore partitions of 16M primitives
  *    (libaddb/addb-istore.h:22-24). Gives partition pruning for
  *    id-range scans (asof/dateline horizons are id predicates).
  *  - every linkage access path (the reference's gmap/hmap/VIP indexes,
  *    libpdb/pdb-iterator-gmap.c, pdb-vip.c) is an equi-join on a Long
  *    column; at cluster scale the table would additionally be bucketed
  *    by `left`/`right` for shuffle-free fan-in joins.
  */
final case class GraphStore(spark: SparkSession, source: Source,
    versioned: Boolean = true,
    /** route `~=` predicates through the inverted word index */
    useWordIndex: Boolean = false,
    /** Incrementally-maintained word index: an already-built (cached)
      * index covering ids <= watermark, extended lazily with the delta
      * scan `id > watermark` — the Spark rendition of the reference's
      * on-write index maintenance (every write updates the WORD hmap,
      * SURVEY §3.2) instead of a full rebuild per batch. Safe under
      * snapshots: the index is a CANDIDATE pruner (the planner re-checks
      * the exact predicate after the semi-join), so a base covering
      * more rows than an asOf view is superset-correct.
      */
    wordIndexBase: Option[(DataFrame, Long)] = None,
    /** the size gates its reads and merges decide by; `copy` keeps it */
    conf: Conf = Conf()) {
  import GraphStore._

  /** every version, tombstones included */
  lazy val primitives: DataFrame = source.frame(spark)

  /** the lookups over this store's current view */
  private[graft] lazy val view: Source.View = source.view(this)

  /** Default visibility: current (newest) live versions only —
    * the reference's default `newest=0 live=true` view
    * (graphd/graphd.h:458-472, doc/gr-model.txt:136-152).
    * `versioned=false` (no prev-chains in the table — known at ingest,
    * like the reference's generation index) skips the window entirely.
    */
  def current: DataFrame =
    (if (versioned) newestPerLineage(primitives) else primitives)
      .filter(col("live"))

  /** All versions, tombstones included (live=dontcare newest>=0). */
  def all: DataFrame = primitives

  /** Catalyst's size estimate for the primitive table — file sizes on
    * a persisted store, no job. Drives the index-routing cost gate.
    */
  lazy val scanBytes: BigInt =
    primitives.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Whether routing `~=`/prefix predicates through the inverted index
    * beats just scanning: the reference's and-iterator picks its
    * cheapest producer by comparing per-candidate check cost against
    * the index's next cost (graphd-iterator-and.c cost sampling;
    * SURVEY §4). The Spark analog of that decision is a size gate — a
    * store whose scan fits one cheap cached/columnar stage (tests,
    * small fixtures) answers fastest by scanning and post-filtering,
    * while past `conf.smallStoreBytes` (default 64 MB) the index
    * probe + id-pruned scan wins and keeps winning through 100 TB.
    * Tests pin routed plan shapes with `Conf(smallStoreBytes = 0)`.
    */
  def indexRouteWorthwhile: Boolean =
    useWordIndex && scanBytes >= conf.smallStoreBytes

  /** Snapshot as of an id horizon — `asof=`/dateline time travel
    * (doc/gr-protocol.txt:203-221): drop everything written after the
    * horizon, then re-resolve newest/live.
    */
  def asOf(horizon: Long): GraphStore = copy(source = source.upTo(horizon))

  /** snapshot by WRITE TIME: primitives stamped at or before the
    * instant (asof=<timestamp> form; equivalent to the id horizon when
    * timestamps are monotone with ids, which the writer guarantees)
    */
  def asOfTimestamp(micros: Long): GraphStore =
    copy(source = source.filtered(col("timestamp") <= micros,
      _.timestamp <= micros))

  def nodes: DataFrame = current.filter(col("left").isNull)
  def links: DataFrame = current.filter(col("left").isNotNull)

  /** Inverted word index over `value` — the WORD hmap analog
    * (libpdb/pdb.h:228 PDB_HASH_WORD, libpdb/pdb-word.c): word → ids.
    * Lazily built and cached; the planner uses it to prune `~=`
    * candidates to a semi-join before the exact match check
    * (SURVEY.md §4 "prefix/word candidates for ~=").
    */
  lazy val valueWordIndex: DataFrame = {
    import graft.functions.GraphdFunctions.graphd_words
    def wordsOf(df: DataFrame): DataFrame =
      df.filter(col("value").isNotNull)
        .select(col("id"), explode(graphd_words(col("value"))).as("word"))
    wordIndexBase match {
      case Some((base, coveredTo)) =>
        // incremental: reuse the built base, tokenize only the delta.
        // The id predicate alone only buys parquet row-group min/max
        // skipping — Spark cannot derive id_part bounds from it — so
        // the partition predicate is spelled out explicitly for
        // directory-level pruning (appended in-plan rows carry a null
        // id_part and are the delta by construction)
        val deltaPred =
          if (primitives.columns.contains("id_part"))
            col("id") > coveredTo &&
              (col("id_part").isNull ||
                col("id_part") >= ((coveredTo + 1) >> PartShift).toInt)
          else col("id") > coveredTo
        base.unionByName(wordsOf(primitives.filter(deltaPred)))
      case None =>
        // coalesced before caching: index probes are word-equality
        // scans of the cached blocks, and fewer/larger partitions keep
        // the per-probe task count (scheduler overhead) low for
        // point-lookup workloads. The width derives from the STORE's
        // size (floor 8) — a fixed 8 would funnel the tokenize stage
        // of a 100x store through eight tasks
        wordsOf(primitives)
          .coalesce(math.max(8,
            graft.graph.Analytics.sizedPartitions(primitives)))
          .cache()
    }
  }

  /** Binned value index — the PDB_HASH_BIN analog (libpdb/pdb-bins.c,
    * pdb-bins-strtable.c): the reference buckets value space into
    * ordered bins and `vrange` (graphd-iterator-vrange.c) walks the
    * bins a `<`/`>` range covers. Spark rendition: bin = the 2-byte
    * prefix of the comparator sort key — order-preserving, so the
    * value range [lo,hi] maps to the CONTIGUOUS bin range
    * [bin(lo),bin(hi)] and candidates prune to those postings before
    * the exact key compare (boundary bins re-checked, superset-
    * correct). One index per comparator (the reference keeps separate
    * string/number binsets).
    */
  private val binIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  def valueBinIndex(cmp: String): DataFrame =
    binIndexCache.getOrElseUpdate(cmp, {
      import graft.functions.GraphdFunctions.sort_key
      primitives.filter(col("value").isNotNull)
        .select(col("id"),
          substring(sort_key(col("value"), cmp), 1, 2).as("bin"))
        .coalesce(math.max(8,
          graft.graph.Analytics.sizedPartitions(primitives)))
        .cache()
    })

  /** Prefix index over `value` words — the PREFIX hmap analog
    * (libpdb/pdb.h:238 PDB_HASH_PREFIX, libpdb/pdb-prefix.c: postings
    * keyed by the first <=5 characters of each word, 5-bit-packed; a
    * shorter query prefix walks the key RANGE it covers). Spark
    * rendition: a distinct (prefix, id) table — one row per (word
    * 5-prefix, primitive), much smaller than the word index when long
    * values repeat word stems. `value~="gea*"` candidates are an
    * equality probe (prefix of length >=5) or a range/startsWith probe
    * (shorter), followed by the exact glob re-check — the same
    * candidate-then-verify contract as the word index.
    */
  lazy val valuePrefixIndex: DataFrame =
    valueWordIndex
      .select(substring(col("word"), 1, 5).as("prefix"), col("id"))
      .distinct()
      .cache()

  /** One-row store status — the reference's `status` request
    * (doc/gr-protocol.txt:910-1211, graphd/graphd-status.c) reduced to
    * the engine-meaningful facts: primitive/node/link/tombstone counts,
    * the dateline horizon, and index cardinality. One aggregation pass.
    */
  def status(): DataFrame =
    primitives.agg(
      count(lit(1)).as("n_primitives"),
      sum(when(col("left").isNull, 1L).otherwise(0L)).as("n_nodes"),
      sum(when(col("left").isNotNull, 1L).otherwise(0L)).as("n_links"),
      sum(when(!col("live"), 1L).otherwise(0L)).as("n_tombstones"),
      coalesce(max(col("id")), lit(0L)).as("dateline"),
      countDistinct(col("typeguid")).as("n_types"))

  /** Consistency check — the reference's `verify` request
    * (graphd/graphd-verify.c, libpdb/pdb-verify.c): index↔primitive and
    * structural invariants as one declarative job. Returns a frame of
    * (violation, id) rows; empty = consistent.
    */
  def verifyConsistency(): DataFrame = {
    val p = primitives
    def tag(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("violation"), col("id"))

    // links must have a left endpoint; endpoints/type/prev must exist
    val ids = p.select(col("id").as("ref_id"))
    def dangling(field: String) =
      tag(s"dangling_$field",
        p.filter(col(field).isNotNull)
          .join(ids, col(field) === col("ref_id"), "left_anti"))

    val rightWithoutLeft = tag("right_without_left",
      p.filter(col("right").isNotNull && col("left").isNull))
    // lineage root must exist and be <= id; prev must be < id
    val badLineage = tag("bad_lineage",
      p.join(ids, col("lineage") === col("ref_id"), "left_anti")
        .unionByName(p.filter(col("lineage") > col("id"))))
    val badPrev = tag("prev_not_older",
      p.filter(col("prev").isNotNull && col("prev") >= col("id")))
    // word index entries must point at live values containing the word
    val idx = valueWordIndex
    val staleIndex = tag("stale_word_index",
      idx.join(p.filter(col("value").isNotNull).select(col("id").as("pid")),
          col("id") === col("pid"), "left_anti"))

    Seq(dangling("left"), dangling("right"), dangling("typeguid"),
      dangling("prev"), rightWithoutLeft, badLineage, badPrev, staleIndex)
      .reduce(_ unionByName _)
  }

  /** Compaction — materialize the current view as a fresh store: old
    * versions and tombstones drop out, `prev` pointers are cleared
    * (their targets no longer exist; `lineage` is kept as provenance),
    * and the result is `versioned = false`, so reads skip the
    * newest-per-lineage window entirely. The reference never compacts
    * (append-only istore, asof over all history); at 100 TB this is
    * the periodic maintenance job that keeps the history tax bounded —
    * run it on a snapshot boundary and archive the full log if asof
    * reads past the compaction horizon must stay answerable.
    */
  def compact(path: String): GraphStore = {
    StoreLock.withLock(spark, path) {
      current
        .withColumn("prev", lit(null).cast("long"))
        // each survivor roots its own lineage: chain roots may be
        // compacted away, and future versions chain from the survivor
        .withColumn("lineage", col("id"))
        .withColumn("id_part", shiftright(col("id"), PartShift).cast("int"))
        .repartition(col("id_part"))
        .write.mode(SaveMode.Overwrite).partitionBy("id_part").parquet(path)
    }
    // copy(), not a fresh construction: engine configuration
    // (useWordIndex, conf) survives compaction; the incremental-index
    // watermark refers to pre-compaction state and resets
    copy(source = new Source.Distributed(graft.Tables.parquet(spark, path)),
      versioned = false, wordIndexBase = None)
  }

  def save(path: String): Unit =
    StoreLock.withLock(spark, path) {
      primitives
        .withColumn("id_part", shiftright(col("id"), PartShift).cast("int"))
        .repartition(col("id_part"))
        .write.mode(SaveMode.Overwrite).partitionBy("id_part").parquet(path)
    }

  /** Persist bucketed by a linkage column — the cluster-scale layout
    * for the gmap/VIP fan-in joins (SURVEY.md §1.4, §2.1): two tables
    * bucketed+sorted on the same key sort-merge-join with NO exchange
    * and no per-query sort, the Spark analog of the reference's
    * pre-sorted gmap id-arrays (libpdb/pdb-iterator-gmap.c). Registered
    * through the catalog because bucketing metadata lives there; `path`
    * keeps the data external. Typical use: one copy bucketed by `left`,
    * one by `right`, maintained alongside the id-partitioned primary
    * (the reference likewise pays 4 gmap indexes per primitive).
    */
  def saveBucketed(table: String, path: String, key: String = "left",
      buckets: Int = 64): Unit =
    StoreLock.withLock(spark, path) {
      primitives.filter(col(key).isNotNull)
        .write.mode(SaveMode.Overwrite)
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    }
}

/** The type vocabulary of a current view, in both directions: type
  * name → type-node ids (`type=`) and type-node id → display name (the
  * `type` result). A named node is a type under its exact name. On a
  * reference-bootstrapped store a live has_key naming link also names
  * the node on its right by its value, matched case-insensitively
  * (graphd-type.c:518 graphd_type_guid_from_name); for display the
  * link wins over the node's own name, the oldest link first, so
  * HAS_KEY itself displays as "has_key" (onerestore). One
  * implementation serves the store's mirror and the point snapshot.
  */
final class TypeVocab private (named: Map[String, Seq[Long]],
    keyed: Map[String, Seq[Long]], val namesById: Map[Long, String]) {
  def idsOf(name: String): Seq[Long] =
    if (keyed.isEmpty) named.getOrElse(name, Nil)
    else (named.getOrElse(name, Nil) ++
      keyed.getOrElse(name.toLowerCase, Nil)).distinct

  /** the `type` result for a typeguid: its name, or the "#<guid>"
    * marker for an unnamed or absent type node (rerestore golden) —
    * the session renderer rewrites it into the wire guid space
    */
  def display(typeguid: Long): String =
    namesById.getOrElse(typeguid, TypeVocab.unnamed + typeguid)
}

object TypeVocab {
  val unnamed = "#\u0000"

  /** over current primitives, in any order */
  def of(rows: Iterable[Primitive]): TypeVocab = {
    val named = scala.collection.mutable.HashMap.empty[String, List[Long]]
    val names = scala.collection.mutable.HashMap.empty[Long, String]
    var hasKey = -1L
    rows.foreach { p =>
      if (p.left.isEmpty) p.name.foreach { nm =>
        named(nm) = p.id :: named.getOrElse(nm, Nil)
        names(p.id) = nm
        if (nm == "HAS_KEY" && (hasKey < 0 || p.id < hasKey)) hasKey = p.id
      }
    }
    val keyed = scala.collection.mutable.HashMap.empty[String, List[Long]]
    val oldestLink = scala.collection.mutable.HashMap.empty[Long, (Long, String)]
    if (hasKey >= 0) rows.foreach { p =>
      (p.left, p.right, p.value) match {
        case (Some(_), Some(r), Some(v)) if p.typeguid.contains(hasKey) =>
          keyed(v.toLowerCase) = r :: keyed.getOrElse(v.toLowerCase, Nil)
          if (oldestLink.get(r).forall(_._1 > p.id)) oldestLink(r) = (p.id, v)
        case _ =>
      }
    }
    def sortedIds(m: scala.collection.mutable.HashMap[String, List[Long]]) =
      m.view.mapValues(_.distinct.sorted: Seq[Long]).toMap
    new TypeVocab(sortedIds(named), sortedIds(keyed),
      (names ++ oldestLink.view.mapValues(_._2)).toMap)
  }
}

/** Single-writer guard for store directories — the library analog of
  * the reference's start-twice protection (test/unit/start-twice.sh:
  * a second graphd on the same database refuses to start). Two
  * concurrent Overwrite writers against one path otherwise race
  * last-writer-wins and can interleave part files from both jobs.
  *
  * The lock is a SIBLING marker file (`<path>.lock` — inside the
  * directory it would be wiped by the Overwrite itself), created with
  * `FileSystem.create(overwrite = false)`: atomic on local disk and
  * HDFS; on object stores without atomic create-exclusive (S3) it is
  * best-effort, the same caveat every Hadoop output committer carries.
  * A crash leaves the lock behind; locks older than
  * [[StoreLock.staleMs]] (30 min) are presumed abandoned
  * and reclaimed, so an operator never has to hand-clean after a
  * killed job — while a LIVE writer's lock always fails fast with the
  * path in the error.
  */
private[graft] object StoreLock {
  private final val staleMs = 30L * 60 * 1000

  /** acquire or throw; returns the release thunk.
    *
    * Two races a naive stat→delete→create reclaim loses, both closed
    * here:
    *  - two contenders can BOTH observe the lock as abandoned; after A
    *    deletes and recreates it, B's delete would remove A's FRESH
    *    lock and both writers run Overwrite concurrently. Reclaim
    *    therefore goes through an atomic RENAME of the stale lock to a
    *    per-contender grave name — rename fails for everyone but one,
    *    and the loser falls back to create-exclusive (which correctly
    *    fails against the winner's fresh lock);
    *  - a writer stalled past staleMs gets reclaimed, then its
    *    release() fires and would delete the RECLAIMER's lock. Release
    *    deletes only if the lock file still carries this writer's
    *    unique token.
    * Rename can still grab a fresh lock created in the stat→rename
    * window, so the winner re-checks the grave's mtime against the
    * stat it acted on and restores (renames back) anything newer.
    */
  def acquire(spark: SparkSession, path: String): () => Unit = {
    val lock = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val writerId =
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}/" +
        java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lock, false)
        out.write(s"$writerId\n".getBytes("UTF-8"))
        out.close()
        true
      } catch { case _: java.io.IOException => false }
    def reclaim(): Boolean = {
      val observed =
        try Some(fs.getFileStatus(lock).getModificationTime)
        catch { case _: java.io.IOException => None } // vanished: retry create
      observed match {
        case None => tryCreate()
        case Some(mtime)
            if System.currentTimeMillis() - mtime > staleMs =>
          val grave = new org.apache.hadoop.fs.Path(
            lock.toString + ".reclaim." +
              java.lang.Integer.toHexString(writerId.hashCode))
          val won =
            try fs.rename(lock, grave)
            catch { case _: java.io.IOException => false }
          if (!won) tryCreate() // another contender's rename won; race
          else {
            // identity check: did we grave the file we stat'ed, or a
            // fresh lock created in the window? mtime is the identity
            // (staleMs is minutes; fresh locks are seconds old)
            val graveMtime =
              try fs.getFileStatus(grave).getModificationTime
              catch { case _: java.io.IOException => mtime }
            if (graveMtime == mtime) { fs.delete(grave, false); tryCreate() }
            else {
              // we grabbed a live writer's lock — put it back
              try fs.rename(grave, lock)
              catch { case _: java.io.IOException => () }
              false
            }
          }
        case Some(_) => false // live lock
      }
    }
    val got = tryCreate() || reclaim()
    if (!got)
      throw new IllegalStateException(
        s"store at $path is locked by another writer ($lock); a second " +
          "concurrent save/compact would corrupt the overwrite — wait for " +
          "it to finish (abandoned locks self-expire after " +
          s"${staleMs / 1000}s)")
    () => {
      // delete only OUR lock: if we stalled past staleMs and were
      // reclaimed, the file now carries the reclaimer's token
      val stillMine =
        try {
          val in = fs.open(lock)
          val buf = new Array[Byte](writerId.length)
          try in.readFully(0L, buf) finally in.close() // EOF => not ours
          new String(buf, "UTF-8") == writerId
        } catch { case _: java.io.IOException => false }
      if (stillMine) fs.delete(lock, false)
      ()
    }
  }

  def withLock[T](spark: SparkSession, path: String)(body: => T): T = {
    val release = acquire(spark, path)
    try body finally release()
  }
}

object GraphStore {
  /** 2^20 primitives per storage partition (reference: 16M per istore
    * partition; smaller here so local tests exercise pruning).
    */
  val PartShift = 20

  /** Load a persisted store. The `id_part` partition column is kept so
    * id-horizon reads (asOf/cursors) prune partition directories; it is
    * dropped from user-facing projections by the planner's explicit
    * result selection.
    *
    * `useWordIndex` defaults TRUE on persisted stores: the reference
    * always serves `~=`/equality candidates from its WORD/PREFIX hmaps
    * (libpdb/pdb.h:220-241) rather than scanning; a loaded store is
    * the serving shape, so index routing is the default (the index
    * builds lazily on first use and is a candidate pruner — exact
    * predicates re-check, so correctness never depends on it). Pass
    * false for write-only handles (e.g. a streaming CDC sink) that
    * never run `~=` reads.
    */
  def load(spark: SparkSession, path: String,
      useWordIndex: Boolean = true): GraphStore =
    fromDf(spark, graft.Tables.parquet(spark, path), useWordIndex = useWordIndex)

  /** a mirror-backed store over `ps` */
  def fromSeq(spark: SparkSession, ps: Seq[Primitive]): GraphStore = {
    // lineage resolved driver-side (same chain-following semantics as
    // resolveLineage): follow prev to the chain root, dangling prev
    // keeps its target id as the lineage
    val byId = ps.map(p => p.id -> p).toMap
    def root(p: Primitive, seen: Set[Long]): Long = p.prev match {
      case Some(pr) if byId.contains(pr) && !seen(pr) =>
        root(byId(pr), seen + p.id)
      case Some(pr) => pr
      case None => p.id
    }
    GraphStore(spark, new Source.Mirror(
      ps.map(p => p.copy(lineage = root(p, Set.empty))).toVector))
  }

  /** a distributed store over `df` */
  def fromDf(spark: SparkSession, df: DataFrame,
      versioned: Boolean = true, useWordIndex: Boolean = false): GraphStore =
    GraphStore(spark, new Source.Distributed(df), versioned, useWordIndex)

  /** newest=0 view: keep the row with max id per lineage
    * (libpdb/pdb-generation.c re-expressed as a window; at scale this
    * is one shuffle on `lineage`, or free if the table is bucketed by
    * lineage).
    */
  def newestPerLineage(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lineage")).orderBy(col("id").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Generation window: generation 0 = newest … n = oldest, used by
    * `newest=`/`oldest=` constraints (graphd/graphd.h:458-472).
    */
  def withGeneration(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lineage")).orderBy(col("id").desc)
    val wAsc = Window.partitionBy(col("lineage")).orderBy(col("id").asc)
    df.withColumn("generation", row_number().over(w) - 1)
      .withColumn("age_oldest", row_number().over(wAsc) - 1)
  }

  /** Fill the `lineage` column for a batch whose `prev` pointers may
    * reference rows in the same batch: iterative pointer-halving
    * (converging self-join), the standard Spark pattern for bounded
    * chain resolution. Chains are typically short (version depth), so
    * this converges in O(log depth) joins.
    */
  def resolveLineage(spark: SparkSession, df0: DataFrame): DataFrame = {
    var cur = df0.withColumn("__root",
      coalesce(col("prev"), col("id")))
    var done = false
    var iter = 0
    while (!done && iter < 40) {
      val parents = cur.select(col("id").as("__pid"), col("__root").as("__proot"))
      // localCheckpoint truncates the growing join lineage so the plan
      // stays O(1) per iteration.
      val next = cur.join(parents, cur("__root") === parents("__pid"), "left")
        .withColumn("__root2", coalesce(col("__proot"), col("__root")))
        .drop("__pid", "__proot")
        .localCheckpoint()
      val changed = next.filter(col("__root2") =!= col("__root")).limit(1).count()
      cur = next.withColumn("__root", col("__root2")).drop("__root2")
      done = changed == 0
      iter += 1
    }
    cur.withColumn("lineage", col("__root")).drop("__root")
  }
}
