package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Datatype
import graft.store.GraphStore
import graft.write.BulkMerge

/** Write-side operators as driver-gated queries: the MERGE-shaped bulk
  * upsert path (graft.write.BulkMerge — the batch rendition of the
  * reference's `key=`/`unique=` write keywords, doc/gr-protocol.txt
  * :661-813) exercised over the documents corpus with a DuckDB oracle
  * computing the expected post-merge state relationally.
  */
object WriteQueries extends QueryPack {

  /** documents → a primitives table: one node per doc, key in `name`
    * ("doc:<id>"), text in `value`. Shared by the write gates and the
    * streaming-upsert gate (st03) — ONE copy of the doc→primitive
    * projection contract.
    */
  private[queries] def docPrimitives(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("id"),
      lit(null).cast("long").as("typeguid"),
      concat(lit("doc:"), col("doc_id").cast("string")).as("name"),
      lit(Datatype.String).cast("byte").as("datatype"),
      col("text").as("value"),
      lit(null).cast("long").as("scope"),
      lit(true).as("live"),
      lit(true).as("archival"),
      lit(false).as("txstart"),
      col("doc_id").as("timestamp"),
      lit(null).cast("long").as("left"),
      lit(null).cast("long").as("right"),
      lit(null).cast("long").as("prev"),
      col("doc_id").as("lineage"))

  private def docStore(s: SparkSession, dir: String): GraphStore =
    GraphStore.fromDf(s,
      docPrimitives(graft.Tables.load(s, dir, "documents")),
      versioned = false)

  val defs: Seq[QueryDef] = Seq(

    // bulk keyed upsert: every third doc gets a new text (→ version),
    // the rest restate their current text (→ no-op), every fifth key
    // is brand new (→ insert). Result = the post-merge current view;
    // the oracle computes the same end state relationally.
    QueryDef("w01_bulk_upsert",
      (s, dir) => {
        val docs = graft.Tables.load(s, dir, "documents")
        val restated = docs.select(
          concat(lit("doc:"), col("doc_id").cast("string")).as("name"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("value"))
        val fresh = docs.filter(col("doc_id") % 5 === 0).select(
          concat(lit("doc:"), (col("doc_id") + 1000000L).cast("string")).as("name"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("value"))
        val r = BulkMerge.mergeKeyed(docStore(s, dir),
          restated.unionByName(fresh), Seq("name"))
        r.store.current.select(
          col("name").as("k"),
          col("value").as("v"),
          col("prev").isNotNull.cast("long").as("versioned"))
      },
      Some("""SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS k,
             |  CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS v,
             |  CAST(doc_id % 3 = 0 AS BIGINT) AS versioned
             |FROM documents
             |UNION ALL
             |SELECT 'doc:' || CAST(doc_id + 1000000 AS VARCHAR) AS k,
             |  'new doc ' || CAST(doc_id AS VARCHAR) AS v,
             |  0 AS versioned
             |FROM documents WHERE doc_id % 5 = 0""".stripMargin)),

    // bulk unique insert-if-absent: half the batch already exists
    // (reported, not written), the rest inserts.
    QueryDef("w02_bulk_unique",
      (s, dir) => {
        val docs = graft.Tables.load(s, dir, "documents")
        val existing = docs.filter(col("doc_id") % 2 === 0).select(
          concat(lit("doc:"), col("doc_id").cast("string")).as("name"),
          lit("ignored").as("value"))
        val fresh = docs.filter(col("doc_id") % 7 === 0).select(
          concat(lit("u:"), col("doc_id").cast("string")).as("name"),
          concat(lit("uniq "), col("doc_id").cast("string")).as("value"))
        val r = BulkMerge.mergeUnique(docStore(s, dir),
          existing.unionByName(fresh), Seq("name"))
        r.store.current.select(col("name").as("k"), col("value").as("v"))
      },
      Some("""SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS k, text AS v
             |FROM documents
             |UNION ALL
             |SELECT 'u:' || CAST(doc_id AS VARCHAR) AS k,
             |  'uniq ' || CAST(doc_id AS VARCHAR) AS v
             |FROM documents WHERE doc_id % 7 = 0""".stripMargin)),

    // compaction: merge (creating versions), then materialize the
    // current view — history and tombstone rows drop out, the visible
    // state is unchanged, and reads skip the lineage window
    QueryDef("w03_compact",
      (s, dir) => {
        val docs = graft.Tables.load(s, dir, "documents")
        val restated = docs.select(
          concat(lit("doc:"), col("doc_id").cast("string")).as("name"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("value"))
        val r = BulkMerge.mergeKeyed(docStore(s, dir), restated, Seq("name"))
        val key = Util.dataKey(s, dir)
        val out = s"${System.getProperty("java.io.tmpdir")}/graft_compact_$key"
        val cp = r.store.compact(out)
        cp.current.select(col("name").as("k"), col("value").as("v"))
      },
      Some("""SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS k,
             |  CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS v
             |FROM documents""".stripMargin)))
}
