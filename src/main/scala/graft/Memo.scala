package graft

import org.apache.spark.sql.DataFrame

/** The LRU under every operator memo. After an insert, eldest entries
  * are evicted while the total `weight` (default 1: an entry count) is
  * over `bound` and more than one entry remains. The cached DataFrames
  * an entry pins (`caches`) are retained on insert, before any
  * eviction, and released on eviction through the one refcount below.
  */
private[graft] final class Memo[K, V](bound: Long,
    weight: V => Long = (_: V) => 1L,
    caches: V => Seq[DataFrame] = (_: V) => Nil) {
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  private var held = 0L

  def getOrElseUpdate(k: K, v: => V): V = synchronized {
    Option(map.get(k)).getOrElse {
      val nv = v
      caches(nv).foreach(Memo.retain)
      map.put(k, nv)
      held += weight(nv)
      val it = map.values().iterator() // access order: eldest first
      while (held > bound && map.size() > 1) {
        val old = it.next()
        it.remove()
        held -= weight(old)
        caches(old).foreach(Memo.release)
      }
      nv
    }
  }

  def size: Int = synchronized(map.size())
  def total: Long = synchronized(held)
}

private[graft] object Memo {

  /** entry bound of every count-bounded memo */
  final val cap = 32

  /** A memoized operator result plus every DataFrame it `.cache()`d —
    * eviction must unpersist the INNER caches (shingle sets, verify
    * inputs) too, or a long-lived service leaks storage one operator
    * parameterization at a time.
    */
  final case class Frame(df: DataFrame, cached: Seq[DataFrame])

  /** count-bounded memo of [[Frame]]s whose eviction releases their caches */
  def frames[K]: Memo[K, Frame] = new Memo[K, Frame](cap, caches = _.cached)

  /** Refcounts over the cached DataFrames every memo holds, keyed by
    * the ANALYZED plan's semantic hash — Spark's cache manager shares
    * one materialization between plan-equal DataFrames, so two memo
    * entries (even across different memos: the jaccard and LSH memos
    * both cache the same shingle set) can hold the same cache block.
    * Eviction must only unpersist when the LAST holder releases, or
    * one memo's eviction silently degrades the survivors to full
    * recomputation.
    */
  private val refs = new java.util.concurrent.ConcurrentHashMap[Int, Integer]
  private def refKey(df: DataFrame): Int =
    df.queryExecution.analyzed.semanticHash()
  private def retain(df: DataFrame): Unit =
    refs.merge(refKey(df), 1, (a, b) => a + b)
  private def release(df: DataFrame): Unit = {
    val left = refs.merge(refKey(df), -1, (a, b) => a + b)
    if (left <= 0) { refs.remove(refKey(df)); df.unpersist(false) }
  }

  /** Memo key for an operator input: the analyzed plan's semantic hash
    * FOLDED WITH a fingerprint of the plan's file-based leaves. The
    * 32-bit plan hash alone cannot see data changes — rewriting a table
    * at the same path yields a plan-equal DataFrame over new bytes, and
    * a memo keyed on the plan would serve yesterday's result. Parquet
    * (and every Spark file sink) mints unique part-file names per
    * write, so hashing the input-file listing (already cached on the
    * driver's FileIndex — no extra IO) catches same-path rewrites;
    * in-memory leaves carry their rows inside the plan hash itself.
    */
  def planKey(df: DataFrame): Long = {
    val files = df.inputFiles.sorted
    files.foldLeft(df.queryExecution.analyzed.semanticHash().toLong)(
      (h, f) => h * 1000003L + f.hashCode) * 31L + files.length
  }

  /** Corpus-count memo shared by every operator whose sizing decision
    * needs |corpus| (LSH auto-bits, Bloom capacity, PageRank regime):
    * keyed on [[planKey]] so the count shares the lifecycle of any
    * index built over the same input, and a repeat call costs zero jobs
    * instead of a full corpus scan.
    */
  private val counts = new Memo[Long, Long](cap)
  def count(df: DataFrame): Long = counts.getOrElseUpdate(planKey(df), df.count())
}
