package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Primitive
import graft.write.Writer.{Spec, WriteError}

/** Where a [[GraphStore]]'s rows live — exactly one of two sources:
  *  - [[Source.Mirror]]: a driver-resident vector (`fromSeq`: session
  *    replay, unit fixtures). The lookups the write path makes per
  *    request answer from it with no Spark job — the role the
  *    reference's in-process istore cursor and hmap caches play for its
  *    single-writer appends (graphd/graphd-write.c). Its DataFrame is
  *    derived on first Catalyst use, so a write builds none.
  *  - [[Source.Distributed]]: a DataFrame (`load`, `fromDf`, compacted
  *    stores); each lookup is a small Spark job.
  *
  * Lookups over all versions are methods of the source. Lookups over
  * the current (newest live) view depend on the store's `versioned`
  * and cache per store, so they are methods of its [[Source.View]].
  */
sealed abstract class Source {
  /** all versions, tombstones included */
  private[store] def frame(spark: SparkSession): DataFrame
  def appended(rows: Seq[Primitive]): Source
  def appended(rows: DataFrame): Source
  /** the rows `pred` (the frame's form) and `keep` (a row's) admit */
  def filtered(pred: Column, keep: Primitive => Boolean): Source
  /** the rows with id <= horizon */
  def upTo(horizon: Long): Source
  /** next dense id — the reference's istore append cursor */
  def nextId: Long
  /** id → lineage, for those of `ids` present */
  def lineageOf(ids: Seq[Long]): Map[Long, Long]
  def present(ids: Seq[Long]): Set[Long] = lineageOf(ids).keySet
  /** the newest id of `id`'s lineage, tombstones included; None when
    * `id` is absent
    */
  def lineageHead(id: Long): Option[Long]
  /** every id sharing a lineage with any of `ids` — backs `field~=G`
    * generation-relaxed linkage matching (guidlist3)
    */
  def lineageMembers(ids: Seq[Long]): Seq[Long]
  private[store] def view(st: GraphStore): Source.View
}

object Source {

  final class Mirror(val rows: Vector[Primitive]) extends Source {
    /** a LAZY frame over the rows: `seq.toDS()` encodes every row at
      * construction, which made a write-heavy session quadratic (each
      * of N appends re-encoded all rows so far — david_2's 20k writes);
      * this defers conversion to query execution
      */
    private[store] def frame(spark: SparkSession): DataFrame =
      org.apache.spark.sql.graft.bridge.deferredLocalDf(spark, rows, primEncoder)
    def appended(more: Seq[Primitive]): Source =
      // first-match lookups take the lowest id: rows stay in id order
      // (only a row replaced in place, as a restore over an existing
      // serial does, lands below the append cursor)
      new Mirror(if (more.forall(_.id >= nextId)) rows ++ more
        else (rows ++ more).sortBy(_.id))
    def appended(more: DataFrame): Source = {
      import more.sparkSession.implicits._
      appended(more.as[Primitive].collect().toSeq)
    }
    def filtered(pred: Column, keep: Primitive => Boolean): Source =
      new Mirror(rows.filter(keep))
    def upTo(horizon: Long): Source = new Mirror(rows.filter(_.id <= horizon))
    lazy val nextId: Long = {
      var m = 0L; rows.foreach(p => if (p.id > m) m = p.id); m + 1L
    }
    def lineageOf(ids: Seq[Long]): Map[Long, Long] = {
      val want = ids.toSet
      rows.iterator.filter(p => want(p.id)).map(p => p.id -> p.lineage).toMap
    }
    def lineageHead(id: Long): Option[Long] =
      rows.find(_.id == id).map(p =>
        rows.iterator.filter(_.lineage == p.lineage).map(_.id).max)
    def lineageMembers(ids: Seq[Long]): Seq[Long] = {
      val lins = lineageOf(ids).values.toSet
      rows.filter(p => lins(p.lineage)).map(_.id)
    }
    private[store] def view(st: GraphStore): View = new MirrorView(rows, st.versioned)
  }

  final class Distributed(val rows: DataFrame) extends Source {
    private[store] def frame(spark: SparkSession): DataFrame = rows
    def appended(more: Seq[Primitive]): Source = {
      import rows.sparkSession.implicits._
      appended(more.toDS().toDF())
    }
    // allowMissingColumns: a persisted store carries the id_part
    // partition column; fresh rows get it null until the next save
    def appended(more: DataFrame): Source =
      new Distributed(rows.unionByName(more, allowMissingColumns = true))
    def filtered(pred: Column, keep: Primitive => Boolean): Source =
      new Distributed(rows.filter(pred))
    /** On a persisted store the predicate hits both the `id` column
      * (parquet row-group min/max skipping) and the `id_part` partition
      * column (directory-level pruning), so an asof read never touches
      * storage written after its horizon. Rows appended after load may
      * carry a null id_part (union with allowMissingColumns): the prune
      * keeps them. The partition term only applies while the shifted
      * horizon fits an Int — asOf(Long.MaxValue) would truncate to -1
      * and silently drop every persisted row.
      */
    def upTo(horizon: Long): Source = {
      val part = horizon >> GraphStore.PartShift
      new Distributed(rows.filter(
        if (rows.columns.contains("id_part") && part <= Int.MaxValue)
          col("id") <= horizon &&
            (col("id_part").isNull || col("id_part") <= part.toInt)
        else col("id") <= horizon))
    }
    def nextId: Long = {
      // persisted layout: ids grow with the id_part partition column,
      // so max(id) lives in the highest partition (plus any unsaved
      // in-plan appends, which carry a null id_part) — scan only
      // those instead of the whole id column (at 100 TB the full
      // max(id) pass is a terabyte-scale column scan per batch)
      val pruned =
        if (!rows.columns.contains("id_part")) rows
        else {
          val mp = rows.agg(max(col("id_part"))).head()
          if (mp.isNullAt(0)) rows
          else rows.filter(col("id_part").isNull || col("id_part") === mp.get(0))
        }
      pruned.agg(coalesce(max(col("id")), lit(0L))).head().getLong(0) + 1L
    }
    def lineageOf(ids: Seq[Long]): Map[Long, Long] =
      rows.filter(col("id").isin(ids.map(Long.box): _*))
        .select("id", "lineage").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def lineageHead(id: Long): Option[Long] =
      rows.filter(col("id") === id).select("lineage").limit(1).collect()
        .headOption.map(r => rows.filter(col("lineage") === r.getLong(0))
          .agg(max(col("id"))).head().getLong(0))
    def lineageMembers(ids: Seq[Long]): Seq[Long] =
      if (ids.isEmpty) Nil
      else {
        val lins = rows.filter(col("id").isin(ids.map(Long.box): _*))
          .select("lineage").distinct().collect().map(_.getLong(0))
        if (lins.isEmpty) Nil
        else rows.filter(col("lineage").isin(lins.map(Long.box): _*))
          .select("id").collect().map(_.getLong(0)).toSeq
      }
    private[store] def view(st: GraphStore): View = new FrameView(st)
  }

  /** Lookups over one store's current (newest live) view. */
  sealed abstract class View {
    /** the current view as a source of its own */
    def source: Source
    /** The point-read snapshot ([[graft.serve.PointServer.Index]]) of
      * a mirror's current view, built on first use with no Spark job;
      * None off a mirror.
      */
    def pointIndex: Option[graft.serve.PointServer.Index]
    /** type name → type-node ids; see [[TypeVocab]] */
    def resolveTypeIds(names: Seq[String]): Seq[Long]
    /** id → name over the type vocabulary. Backs the `type` result
      * pattern, which echoes the type node's NAME (the reverse of
      * resolveTypeIds; bounded like any type system, so a driver-side
      * literal map is the right plan shape).
      */
    def typeNamesById: Seq[(Long, String)]
    /** name → lowest id of the nodes carrying one of `names` */
    def nodesNamed(names: Seq[String]): Map[String, Long]
    /** make_node_has_key's search: the lowest-id live naming link
      * (typeguid=hasKey, both endpoints, value case-insensitively
      * equal) names the node on its right
      */
    def refTypeId(hasKey: Long, name: String): Option[Long]
    /** the first `limit` matches of `s` on `fields`, ascending id */
    def matchRows(s: Spec, fields: Seq[String],
        presentOnly: Set[String] = Set.empty, limit: Int = 2): Seq[Row]
    /** The first match (ascending id) that ALSO satisfies `pred` —
      * pages through the candidates instead of truncating at a fixed
      * limit: a key-equal candidate set wider than any cap
      * (presence-only keys over a hot name) must still find the true
      * cluster match, or the writer mints a duplicate cluster.
      */
    def findMatchPaged(s: Spec, fields: Seq[String],
        presentOnly: Set[String] = Set.empty)(pred: Row => Boolean): Option[Row]
    /** does current primitive `bid` match `s` on `fields`? */
    def matchIsId(s: Spec, fields: Seq[String], presentOnly: Set[String],
        bid: Long): Boolean
    def currentRowOf(id: Long): Option[Row]
  }

  private final class MirrorView(rows: Vector[Primitive], versioned: Boolean)
      extends View {
    /** The lineage grouping only matters once a prev-chain exists: an
      * unversioned mirror (the common write-path case) is a flat live
      * filter over the rows, re-run per pass with no copy, so per-write
      * probes stay O(n) without hashing (david_2.sh: 20k writes would
      * otherwise pay a full groupBy per request).
      */
    private lazy val current: Iterable[Primitive] =
      if (versioned && rows.exists(_.prev.isDefined))
        rows.groupBy(_.lineage).valuesIterator.map(_.maxBy(_.id))
          .filter(_.live).toVector.sortBy(_.id)
      else rows.view.filter(_.live)
    private lazy val types = TypeVocab.of(current)

    def source: Source = new Mirror(current.toVector)
    /** built on first use with no Spark job; every write returns a new
      * store, so a run of writes with no read between them builds none
      */
    lazy val pointIndex: Option[graft.serve.PointServer.Index] =
      Some(graft.serve.PointServer.of(current.toIndexedSeq, types))
    def resolveTypeIds(names: Seq[String]): Seq[Long] = names.flatMap(types.idsOf)
    def typeNamesById: Seq[(Long, String)] = types.namesById.toSeq
    def nodesNamed(names: Seq[String]): Map[String, Long] = {
      val want = names.toSet
      current.iterator.filter(p => p.left.isEmpty && p.name.exists(want))
        .toSeq.groupMapReduce(_.name.get)(_.id)(math.min)
    }
    def refTypeId(hasKey: Long, name: String): Option[Long] =
      // mirror rows are id-ordered, so the first match is the lowest
      current.find(p => p.typeguid.contains(hasKey) && p.left.isDefined &&
          p.right.isDefined && p.value.exists(_.equalsIgnoreCase(name)))
        .flatMap(_.right)
    private def matches(s: Spec, fields: Seq[String], presentOnly: Set[String]) =
      current.iterator.filter(localMatches(_, s, fields, presentOnly))
    def matchRows(s: Spec, fields: Seq[String], presentOnly: Set[String],
        limit: Int): Seq[Row] =
      matches(s, fields, presentOnly).take(limit).map(primRow).toSeq
    def findMatchPaged(s: Spec, fields: Seq[String], presentOnly: Set[String])(
        pred: Row => Boolean): Option[Row] =
      matches(s, fields, presentOnly).map(primRow).find(pred)
    def matchIsId(s: Spec, fields: Seq[String], presentOnly: Set[String],
        bid: Long): Boolean =
      current.exists(p => p.id == bid && localMatches(p, s, fields, presentOnly))
    def currentRowOf(id: Long): Option[Row] = current.find(_.id == id).map(primRow)
  }

  private final class FrameView(st: GraphStore) extends View {
    private def current = st.current

    def source: Source = new Distributed(current)
    def pointIndex: Option[graft.serve.PointServer.Index] = None

    /** Memoized type-name → type-node-id resolution — the reference
      * resolves type names to typeguids once per request in its
      * semantic phase and caches server-side (graphd/graphd-read.c:28-37);
      * without the memo every read pays a driver-side collect job just
      * to find the type node.
      */
    private val typeIdCache =
      scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
    def resolveTypeIds(names: Seq[String]): Seq[Long] =
      names.flatMap(n => typeIdCache.getOrElseUpdate(n, {
        val named = current.filter(col("left").isNull && col("name") === n)
          .select("id").collect().map(_.getLong(0)).toSeq
        // reference physical type registry (graphd-type.c:518
        // graphd_type_guid_from_name): a live has_key naming link whose
        // value is the name (case-insensitive) names the node it points
        // at with its right
        val viaLinks = hasKeyId.toSeq.flatMap { hk =>
          current.filter(col("typeguid") === hk && col("left").isNotNull &&
              col("right").isNotNull && lower(col("value")) === n.toLowerCase)
            .select("right").collect().map(_.getLong(0)).toSeq
        }
        (named ++ viaLinks).distinct
      }))

    /** the HAS_KEY attribute node of a reference-bootstrapped store */
    private lazy val hasKeyId: Option[Long] = nodesNamed(Seq("HAS_KEY")).get("HAS_KEY")

    /** A reference-bootstrapped store names its (unnamed) type nodes
      * through has_key naming links, and those WIN over node names: the
      * reference's reverse lookup goes through has_key links, so HAS_KEY
      * itself displays as "has_key" (the anchor's value), not its node
      * name (onerestore).
      */
    lazy val typeNamesById: Seq[(Long, String)] = {
      val named = current.filter(col("left").isNull && col("name").isNotNull)
        .select("id", "name").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
      val viaLinks = hasKeyId.toSeq.flatMap { hk =>
        current.filter(col("typeguid") === hk && col("left").isNotNull &&
            col("right").isNotNull && col("value").isNotNull)
          .select("id", "right", "value").collect()
          .sortBy(_.getLong(0))
          .map(r => r.getLong(1) -> r.getString(2)).toSeq
      }
      val linked = viaLinks.groupBy(_._1).view.mapValues(_.head._2)
      val covered = linked.keySet
      linked.toSeq ++ named.filterNot(p => covered(p._1))
    }
    def nodesNamed(names: Seq[String]): Map[String, Long] =
      current.filter(col("left").isNull && col("name").isin(names: _*))
        .select("name", "id").collect()
        .groupMapReduce(_.getString(0))(_.getLong(1))(math.min)
    def refTypeId(hasKey: Long, name: String): Option[Long] =
      current.filter(col("typeguid") === hasKey && col("left").isNotNull &&
          col("right").isNotNull && lower(col("value")) === name.toLowerCase)
        .orderBy(col("id")).select("right").limit(1).collect()
        .headOption.map(_.getLong(0))
    def matchRows(s: Spec, fields: Seq[String], presentOnly: Set[String],
        limit: Int): Seq[Row] =
      matchExisting(current, s, fields, presentOnly)
        .orderBy(col("id").asc).limit(limit).collect().toSeq
    def findMatchPaged(s: Spec, fields: Seq[String], presentOnly: Set[String])(
        pred: Row => Boolean): Option[Row] = {
      val page = 64
      var after = -1L
      var out: Option[Row] = None
      var done = false
      while (!done) {
        val rows = matchExisting(current, s, fields, presentOnly)
          .filter(col("id") > after)
          .orderBy(col("id").asc).limit(page).collect()
        out = rows.find(pred)
        done = out.isDefined || rows.length < page
        if (!done) after = rows.last.getLong(0)
      }
      out
    }
    def matchIsId(s: Spec, fields: Seq[String], presentOnly: Set[String],
        bid: Long): Boolean =
      matchExisting(current, s, fields, presentOnly)
        .filter(col("id") === bid).limit(1).count() > 0
    def currentRowOf(id: Long): Option[Row] =
      current.filter(col("id") === id).limit(1).collect().headOption
  }

  private lazy val primEncoder =
    org.apache.spark.sql.graft.bridge.resolveEncoder(
      org.apache.spark.sql.Encoders.product[Primitive])

  /** mirror row → DataFrame-shaped Row (Primitive.schema order), so the
    * mirror answers the write path's row lookups driver-side
    */
  private def primRow(p: Primitive): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](p.id, p.typeguid.map(Long.box).orNull, p.name.orNull,
        p.datatype, p.value.orNull, p.scope.map(Long.box).orNull, p.live,
        p.archival, p.txstart, p.timestamp, p.left.map(Long.box).orNull,
        p.right.map(Long.box).orNull, p.prev.map(Long.box).orNull, p.lineage),
      Primitive.schema)

  /** The mirror's rendition of [[matchExisting]]'s per-field
    * predicates — the two MUST stay in lockstep (same comparator
    * normalization via GraphdText.sortKey, same presence semantics);
    * WriteSpec runs one write script on both sources.
    */
  private def localMatches(p: Primitive, s: Spec, fields: Seq[String],
      presentOnly: Set[String]): Boolean = {
    import graft.functions.GraphdText
    def normEq(a: Option[String], b: Option[String]): Boolean = (a, b) match {
      case (Some(x), Some(y)) =>
        GraphdText.sortKey(s.comparator, x) == GraphdText.sortKey(s.comparator, y)
      case (None, None) => true
      case _ => false
    }
    def optEq(f: String, a: Option[Long], b: Option[Long]): Boolean =
      if (presentOnly(f)) a.isDefined else a == b
    fields.forall {
      case "name" => normEq(p.name, s.name)
      case "value" => normEq(p.value, s.value)
      case "typeguid" => optEq("typeguid", p.typeguid, s.typeguid)
      case "left" => optEq("left", p.left, s.left)
      case "right" => optEq("right", p.right, s.right)
      case "scope" => optEq("scope", p.scope, s.scope)
      case "datatype" => p.datatype == s.datatype
      case f => throw WriteError("SYNTAX", s"bad unique/key field $f")
    }
  }

  /** Current-view matches for a spec on the given fields. String fields
    * compare under the template's comparator: the default normalizes
    * (whitespace collapse, numeric) — `key=(value)` on "A   B" matches
    * an existing "A B" (spacematch golden) — and octet is byte-exact
    * (octet.sh: unique=value comparator="octet" admits "Foo" next to
    * "foo").
    */
  private def matchExisting(current: DataFrame, s: Spec, fields: Seq[String],
      presentOnly: Set[String]): DataFrame = {
    import graft.functions.GraphdFunctions.sort_key
    var df = current
    def eqOpt[T](c: String, v: Option[T]): Unit = {
      // a key endpoint whose target is an unkeyed cluster child
      // matches on PRESENCE: the link must exist, its target is state
      // to be brought about (keyburn2 1.2: key=(name right) matches
      // old Mike whose right points at Elke, then versions)
      if (presentOnly(c)) { df = df.filter(col(c).isNotNull); return }
      df = v match {
        case Some(x) => df.filter(col(c) === x)
        case None => df.filter(col(c).isNull)
      }
    }
    def eqStr(c: String, v: Option[String]): Unit = {
      df = v match {
        case Some(x) =>
          df.filter(sort_key(col(c), s.comparator) === sort_key(lit(x), s.comparator))
        case None => df.filter(col(c).isNull)
      }
    }
    fields.foreach {
      case "name" => eqStr("name", s.name)
      case "value" => eqStr("value", s.value)
      case "typeguid" => eqOpt("typeguid", s.typeguid)
      case "left" => eqOpt("left", s.left)
      case "right" => eqOpt("right", s.right)
      case "scope" => eqOpt("scope", s.scope)
      case "datatype" => df = df.filter(col("datatype") === s.datatype)
      case f => throw WriteError("SYNTAX", s"bad unique/key field $f")
    }
    df
  }
}
