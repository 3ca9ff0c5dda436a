package graft.write

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{Datatype, Primitive}
import graft.store.GraphStore

/** MERGE-shaped bulk upserts — the batch analog of the reference's
  * declarative write keywords `key=(fields)` (insert / no-op / version-
  * the-diff, doc/gr-protocol.txt:744-813, graphd/graphd-key.c) and
  * `unique=(fields)` (insert-if-absent, doc/gr-protocol.txt:661-743).
  *
  * The per-request path (`Writer.writeKeyed`/`writeUnique`) runs one
  * embedded read per request — the reference's shape, right for a
  * protocol session, wrong for ingest: loading N records costs N plans.
  * This operator is the 100 TB shape: ONE key-normalized join of the
  * incoming batch against the store's current view classifies every
  * record (insert / unchanged / version) in a single pass, then one
  * dense id-assignment (per-partition offsets, no global sort) and one
  * append. Semantics per record match the sequential path exactly:
  *
  *  - key matching uses the same comparator normalization as the
  *    per-request reads ("A   B" matches "A B" under `default` —
  *    test/unit/spacematch golden), expressed as a join on sort_key
  *    columns so Catalyst plans a plain (null-safe) equi-join;
  *  - among several key-equal existing candidates the LOWEST id wins
  *    (the reference's embedded key-read returns index order);
  *  - a column absent from the incoming frame is UNSPECIFIED: it never
  *    triggers versioning and writes as null, exactly like a template
  *    that omits the field (octet golden: restating only the key
  *    fields of a primitive that carries extras is a no-op);
  *  - identity compares name/value/typeguid/left/right (+ datatype
  *    when a value is specified) — scope/flags don't version, same as
  *    `Writer.keyedApply`;
  *  - versions point `prev` at the matched current head and inherit
  *    its lineage; inserts root their own lineage.
  *
  * Duplicate keys inside one batch: sequential application would chain
  * intermediate versions; the batch collapses each key to its LAST
  * occurrence (by `seqCol` when given), producing the same final
  * current view without the intermediate rows. With no `seqCol` the
  * batch is assumed key-distinct (checked only by the caller).
  */
object BulkMerge {

  /** outcome frame column: "inserted" | "unchanged" | "versioned" |
    * "exists" (mergeUnique only)
    */
  val OutcomeCol = "outcome"

  /** identity-participating fields, in Spec order */
  private val IdentityFields = Seq("name", "value", "typeguid", "left", "right")
  private val AllKeyFields =
    Set("name", "value", "typeguid", "left", "right", "scope", "datatype")

  /** Merge result. The merged STORE HANDLE is lazy (building it
    * collects the local mirror rows when one exists); the outcome
    * tallies are NOT an extra job — the one per-partition pass that
    * computes them is the same pass that derives the id-assignment
    * offsets `appended` needs, so every caller pays it exactly once as
    * part of the merge itself.
    */
  final class Result(
      storeF: () => GraphStore,
      val outcomes: DataFrame,
      /** the appended delta rows (ids assigned, pinned) — what an
        * append-only sink writes (streaming CDC apply)
        */
      val appended: DataFrame,
      /** first id past this batch's appended rows — the next merge's
        * `baseId`, known on the driver without another job
        */
      val nextIdAfter: Long,
      countsF: () => Map[String, Long]) {
    lazy val store: GraphStore = storeF()
    private lazy val counts: Map[String, Long] = countsF()
    def inserted: Long = counts.getOrElse("inserted", 0L)
    def unchanged: Long = counts.getOrElse("unchanged", 0L)
    def versioned: Long = counts.getOrElse("versioned", 0L)
    def existing: Long = counts.getOrElse("exists", 0L)
  }

  /** Bulk `key=(fields)` upsert. `incoming` columns are primitive
    * fields (any subset of name/value/datatype/typeguid/left/right/
    * scope/live/archival); extra columns are carried through to the
    * outcome frame untouched. Returns the merged store plus one
    * outcome row per (deduped) incoming record: the original columns,
    * `outcome`, `matched_id` (the existing head for unchanged/
    * versioned rows, null for inserts), and `id` — the record's
    * RESOLVED id in the merged store (assigned for inserts/versions,
    * matched for unchanged), the handle multi-level ingest joins on.
    */
  def mergeKeyed(store: GraphStore, incoming: DataFrame,
      keyFields: Seq[String], comparator: String = "default",
      seqCol: Option[String] = None,
      /** id to assign from; None = derive via the source's nextId (a pruned
        * max-id scan). A streaming loop passes the previous batch's
        * `nextIdAfter` to skip that scan per micro-batch.
        */
      baseId: Option[Long] = None): Result =
    run(store, incoming, keyFields, comparator, seqCol, unique = false,
      baseId)

  /** Bulk `unique=(fields)`: insert-if-absent. Records whose unique
    * cluster already exists get outcome "exists" (the batch report of
    * the per-request EXISTS error) and write nothing.
    */
  def mergeUnique(store: GraphStore, incoming: DataFrame,
      fields: Seq[String], comparator: String = "default",
      seqCol: Option[String] = None,
      baseId: Option[Long] = None): Result =
    run(store, incoming, fields, comparator, seqCol, unique = true, baseId)

  private def run(store: GraphStore, incoming: DataFrame,
      keyFields: Seq[String], comparator: String,
      seqCol: Option[String], unique: Boolean,
      baseId: Option[Long]): Result = {
    import graft.functions.GraphdFunctions.sort_key
    val spark = store.spark
    import spark.implicits._

    keyFields.foreach(f => require(AllKeyFields(f),
      s"bad unique/key field $f"))
    val specified = incoming.columns.toSet

    // -- normalize the batch to the full primitive column set ---------
    def inCol(f: String, dflt: Column): Column =
      (if (specified(f)) col(f) else dflt).as(s"__in_$f")
    var in = incoming.select(
      (incoming.columns.map(col) :+
        inCol("name", lit(null).cast("string")) :+
        inCol("value", lit(null).cast("string")) :+
        inCol("datatype",
          when(inColRaw(incoming, "value").isNotNull,
            lit(Datatype.String)).otherwise(lit(Datatype.Null))
            .cast("byte")) :+
        inCol("typeguid", lit(null).cast("long")) :+
        inCol("left", lit(null).cast("long")) :+
        inCol("right", lit(null).cast("long")) :+
        inCol("scope", lit(null).cast("long")) :+
        inCol("live", lit(true)) :+
        inCol("archival", lit(true))): _*)

    def keyOf(prefix: String)(f: String): Column = {
      val c = col(s"$prefix$f")
      if (f == "name" || f == "value") sort_key(c, comparator) else c
    }

    // duplicate keys in the batch → last occurrence wins (final state).
    // EQUAL sequence values tie-break over every incoming column so a
    // checkpoint replay of the same batch picks the SAME winner — an
    // arbitrary pick would re-classify as "versioned" on the rerun and
    // append a spurious version (the no-seqCol path in Replica builds
    // the same total order for the same reason)
    if (seqCol.isDefined && keyFields.nonEmpty) {
      val tiebreak = incoming.columns.filterNot(_ == seqCol.get)
        .map(c => col(c).desc_nulls_last)
      val w = Window.partitionBy(keyFields.map(keyOf("__in_")): _*)
        .orderBy(col(seqCol.get).desc +: tiebreak: _*)
      in = in.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

    // -- existing candidates: lowest current id per key ---------------
    // normalized key columns are PROJECTED ONCE on each side
    // (__ik_/__ek_) instead of re-deriving sort_key inside the window
    // partitioning, the join condition, and the identity compare —
    // comparator normalization of long values is the merge's per-row
    // CPU, and an expression repeated across shuffle boundaries
    // re-evaluates on every side
    in = keyFields.foldLeft(in)((df, f) =>
      df.withColumn(s"__ik_$f", keyOf("__in_")(f)))
    val curCols = Seq("id", "lineage") ++ IdentityFields ++
      Seq("datatype", "scope")
    val cur0 = store.current.select(curCols.distinct.map(c =>
      col(c).as(s"__ex_$c")): _*)
    val cur = keyFields.foldLeft(cur0)((df, f) =>
      df.withColumn(s"__ek_$f", keyOf("__ex_")(f)))
    val candidates =
      if (keyFields.isEmpty) null
      else {
        // restrict the store side to keys the batch actually carries
        // BEFORE the per-key window: the batch is small relative to
        // the store, so this is a broadcast semi-join that prunes the
        // window's shuffle to the touched keys — without it, every
        // merge re-shuffles the entire current view at 100 TB. A
        // SMALL store (one cached/columnar stage) skips the prune:
        // two extra stages cost more than the window they'd save —
        // the same size gate as GraphStore.indexRouteWorthwhile.
        val pruneWorthwhile = store.scanBytes >= store.conf.smallStoreBytes
        val touched =
          if (!pruneWorthwhile) cur
          else {
            val batchKeys = in.select(keyFields.map(f =>
              col(s"__ik_$f").as(s"__bk_$f")): _*).distinct()
            // broadcast only while the optimizer's size estimate for
            // the batch stays bounded: the distinct key set of a
            // billion-row ingest must not be collected to the driver.
            // Past the bound the same semi-join runs as a shuffle (and
            // AQE may still re-pick broadcast from observed sizes).
            val batchBytes = in.queryExecution.optimizedPlan.stats.sizeInBytes
            val hintedKeys =
              if (batchBytes <= BigInt(256L << 20)) broadcast(batchKeys)
              else batchKeys
            val touchCond = keyFields.map(f =>
              col(s"__ek_$f") <=> col(s"__bk_$f")).reduce(_ && _)
            cur.join(hintedKeys, touchCond, "left_semi")
          }
        val w = Window.partitionBy(keyFields.map(f => col(s"__ek_$f")): _*)
          .orderBy(col("__ex_id").asc)
        touched.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }

    val joined =
      if (keyFields.isEmpty) {
        // key=() declares no identity: every record inserts fresh
        // (keyburn6 golden) — synthesize an unmatched join shape.
        // unique=() is the OPPOSITE: the sequential path (writeUnique,
        // matchRows over zero fields) matches ANY current row, so a
        // non-empty store answers EXISTS for every record — mirror
        // that here instead of silently double-inserting on replay
        val existsHead: Option[Long] =
          if (unique)
            store.current.select(min(col("id")).as("m")).collect()
              .headOption.filterNot(_.isNullAt(0)).map(_.getLong(0))
          else None
        curCols.distinct.foldLeft(in) { (df, c) =>
          val t = if (c == "name" || c == "value") "string"
            else if (c == "datatype") "byte" else "long"
          if (c == "id" && existsHead.isDefined)
            df.withColumn(s"__ex_$c", lit(existsHead.get))
          else df.withColumn(s"__ex_$c", lit(null).cast(t))
        }
      } else {
        val cond = keyFields.map(f =>
          col(s"__ik_$f") <=> col(s"__ek_$f")).reduce(_ && _)
        in.join(candidates, cond, "left")
      }

    // -- classify ------------------------------------------------------
    // identity per Writer.keyedApply: only fields the batch SPECIFIES
    // participate; string fields compare comparator-normalized (the
    // pre-projected key columns where the field IS a key)
    def fieldSame(f: String): Column =
      if (!specified(f)) lit(true)
      else if (keyFields.contains(f) && joined.columns.contains(s"__ek_$f"))
        col(s"__ik_$f") <=> col(s"__ek_$f")
      else if (f == "name" || f == "value")
        sort_key(col(s"__in_$f"), comparator) <=>
          sort_key(col(s"__ex_$f"), comparator)
      else col(s"__in_$f") <=> col(s"__ex_$f")
    val dtSame =
      if (!specified("value")) lit(true)
      else when(col("__in_value").isNull, lit(true))
        .otherwise(col("__ex_datatype") === col("__in_datatype"))
    val identical = IdentityFields.map(fieldSame).reduce(_ && _) && dtSame

    // one materialization of the classification join; the outcome
    // frame, the outcome counts, and the new-row build all read from
    // it instead of re-running the join per consumer. LAZY checkpoint:
    // the per-partition tally pass just below is the first action and
    // computes every partition, so it doubles as the materialization —
    // an eager checkpoint would run the same classification as a
    // separate job first, one full extra pass per merge (per
    // micro-batch on the streaming path)
    val classified = joined.withColumn(OutcomeCol,
      when(col("__ex_id").isNull, lit("inserted"))
        .when(lit(unique), lit("exists"))
        .when(identical, lit("unchanged"))
        .otherwise(lit("versioned")))
      .localCheckpoint(eager = false)

    val outcomes = classified.select(
      (incoming.columns.map(col) :+ col(OutcomeCol) :+
        col("__ex_id").as("matched_id")): _*)

    // -- build + append the new rows ----------------------------------
    val ts = batchTimestamp()
    val newRows = classified
      .filter(col(OutcomeCol).isin("inserted", "versioned"))
      .select(
        lit(0L).as("id"),
        col("__in_typeguid").as("typeguid"),
        col("__in_name").as("name"),
        col("__in_datatype").as("datatype"),
        col("__in_value").as("value"),
        col("__in_scope").as("scope"),
        col("__in_live").as("live"),
        col("__in_archival").as("archival"),
        lit(false).as("txstart"),
        lit(ts).as("timestamp"),
        col("__in_left").as("left"),
        col("__in_right").as("right"),
        when(col(OutcomeCol) === "versioned", col("__ex_id")).as("prev"),
        coalesce(when(col(OutcomeCol) === "versioned", col("__ex_lineage")),
          lit(-1L)).as("lineage"))
      .as[Primitive]

    // dense id assignment without a global sort: one count pass for
    // per-partition offsets, then ids stamp in place — the distributed
    // rendition of the istore append cursor. The counts land on the
    // driver (they also hand the caller `nextIdAfter` for free); the
    // stamping pass itself is lazy and DETERMINISTIC because it
    // derives from the localCheckpoint-pinned classification — no
    // second checkpoint needed to keep ids from re-rolling.
    val base = baseId.getOrElse(store.source.nextId)
    // ONE pass over the pinned classification collects, per partition,
    // the outcome tallies — the inserted+versioned subtotal doubles as
    // the id offset for that partition because `newRows` is a NARROW
    // filter of `classified` (same partition count, same in-partition
    // order), so no separate count pass is needed
    val perPart = classified.select(col(OutcomeCol)).as[String].rdd
      .mapPartitions({ it =>
        var ins = 0L; var ver = 0L; var unch = 0L; var ex = 0L
        it.foreach {
          case "inserted"  => ins += 1
          case "versioned" => ver += 1
          case "unchanged" => unch += 1
          case _           => ex += 1
        }
        Iterator.single((ins, ver, unch, ex))
      }, preservesPartitioning = true).collect()
    val offsets = perPart.map(p => p._1 + p._2).scanLeft(0L)(_ + _)
    val nNew = offsets.last
    val counts = Map(
      "inserted" -> perPart.map(_._1).sum,
      "versioned" -> perPart.map(_._2).sum,
      "unchanged" -> perPart.map(_._3).sum,
      "exists" -> perPart.map(_._4).sum)
    val newRdd = newRows.rdd
    require(newRdd.getNumPartitions == perPart.length,
      s"partition drift: ${newRdd.getNumPartitions} vs ${perPart.length}")
    val assigned = spark.createDataset(
      newRdd.mapPartitionsWithIndex { (pi, it) =>
        var id = base + offsets(pi)
        it.map { p =>
          val r = p.copy(id = id, txstart = id == base,
            lineage = if (p.lineage == -1L) id else p.lineage)
          id += 1L
          r
        }
      })
    val newDf = assigned.toDF()

    // resolve each record's final id into the outcome frame — matched
    // head for unchanged/exists, the assigned id for inserts/versions.
    // This is what makes multi-level (cluster) ingest COMPOSE from flat
    // merges: merge the children, join their resolved ids into the
    // parent batch's linkage columns, merge the parents
    // (doc/gr-protocol.txt:744-813 cluster semantics as a pipeline).
    val outcomesWithIds =
      if (keyFields.isEmpty) outcomes.withColumn("id", lit(null).cast("long"))
      else {
        val newKeyed = newDf.select(
          (col("id").as("__new_id")) +:
            keyFields.map(f => keyOf("")(f).as(s"__nk_$f")): _*)
        val cond = keyFields.map(f =>
          keyOf("__o_")(f) <=> col(s"__nk_$f")).reduce(_ && _)
        // outcome rows keep the ORIGINAL columns; rebuild their key
        // exprs exactly as the merge join derived them: absent columns
        // are null EXCEPT datatype, whose unspecified form is the
        // value-derived default (String when a value is present, Null
        // otherwise) — a null literal here would never match newDf's
        // non-null derived key, resolving inserts to a null id
        val oKeyed = keyFields.foldLeft(outcomes) { (df, f) =>
          df.withColumn(s"__o_$f",
            if (specified(f)) col(f)
            else if (f == "datatype")
              when(inColRaw(outcomes, "value").isNotNull,
                lit(Datatype.String)).otherwise(lit(Datatype.Null))
                .cast("byte")
            else lit(null).cast(
              if (f == "name" || f == "value") "string" else "long"))
        }
        oKeyed.join(newKeyed, cond, "left")
          .withColumn("id", coalesce(col("__new_id"), col("matched_id")))
          .drop((Seq("__new_id") ++ keyFields.map(f => s"__nk_$f") ++
            keyFields.map(f => s"__o_$f")): _*)
      }

    new Result(
      storeF = () => {
        // an index-serving store maintains its word index incrementally
        // across the merge (the reference's on-write WORD hmap update):
        // the built (cached) index becomes the base, rows past the
        // watermark the delta. The watermark is set ONCE — later merges
        // keep the same base and the delta predicate simply covers more
        // appended rows — so the probe plan stays a single cached-base ∪
        // delta-scan union regardless of merge count (a re-seed per merge
        // would chain unions N deep). save/compact re-bases.
        val wordSeed =
          if (store.useWordIndex)
            store.wordIndexBase.orElse(Some((store.valueWordIndex, base - 1)))
          else store.wordIndexBase
        store.copy(source = store.source.appended(newDf),
          versioned =
            store.versioned || counts.getOrElse("versioned", 0L) > 0,
          wordIndexBase = wordSeed)
      },
      outcomes = outcomesWithIds,
      appended = newDf,
      nextIdAfter = base + nNew,
      countsF = () => counts)
  }

  private def inColRaw(df: DataFrame, f: String): Column =
    if (df.columns.contains(f)) col(f) else lit(null).cast("string")

  /** one timestamp per batch — the reference frames a whole write
    * request as one transaction with one clock reading
    */
  private def batchTimestamp(): Long = Writer.tickMicros match {
    case Some(t) => t.getAndAdd(100L)
    // through the writer's monotone clock: a bulk batch stamped below
    // an earlier sequential append would let asOfTimestamp cut an
    // impossible snapshot (higher ids, lower timestamps)
    case None => Writer.nextMonotoneMicros()
  }
}
