package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.store.GraphAdapter

/** `batch`: a fixed selection of the `SparkEntry.queries` gates (see
  * `selected`), each run once, in name order, and forced with `count()`,
  * by one client in a fresh process (so the
  * engine's JVM-global operator memos start cold). Set-up builds the
  * adapter store the GQL gates share. Row counts go back to run.py,
  * which checks them against DuckDB runs of `SparkEntry.oracleSql`.
  */
object Batch {
  /** gate name → module the gate's section exercises */
  val modules: Map[String, String] = Map(
    "a" -> "graph", "c" -> "plan.cursor", "d" -> "operators.dedup",
    "dr" -> "store.dump", "g" -> "gql", "m" -> "operators.multimodal",
    "p" -> "operators.pipeline", "q" -> "queries.relational",
    "s" -> "operators.similarity", "st" -> "streaming",
    "t" -> "operators.text", "w" -> "write.bulk")

  def section(gate: String): String = gate.takeWhile(_.isLetter)

  def moduleOf(gate: String): String = modules.getOrElse(section(gate), "other")

  /** The gates a run times: those whose name hashes to 5 mod 6, plus the
    * first gate of each section that leaves out. A full cold pass takes
    * about 90 s on a 4-core host, too long for the runs a comparison
    * needs; this keeps every section at about a fifth of the cost.
    * Selection by name hash keeps a gate in or out when gates are added.
    */
  def selected(all: Seq[String]): Seq[String] = {
    val picked = all.filter(n => Math.floorMod(n.hashCode, 6) == 5)
    val have = picked.map(section).toSet
    val firsts = all.groupBy(section).collect {
      case (sec, ns) if !have(sec) => ns.min
    }
    (picked ++ firsts).sorted
  }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx._
    repeatedSetup { i =>
      // earlier repeats use sibling sessions, whose adapter stores are
      // cached apart from the main session's; the last repeat builds the
      // store the gates reuse
      val s = if (i == setups - 1) spark else spark.newSession()
      val t = System.nanoTime()
      GraphAdapter.store(s, dataDir).current.count()
      ((), Map("adapter_build_s" -> since(t)))
    }
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names = selected(all)
    result ++= Seq("gates_total" -> all.length, "gates_timed" -> names.length)
    val gates = mutable.ArrayBuffer.empty[Map[String, Any]]
    val c0 = counters.map(_.snapshot())
    val t0 = System.nanoTime()
    val wall = jvmRegion {
      names.zipWithIndex.foreach { case (name, i) =>
        val g0 = System.nanoTime()
        val before = counters.map(_.snapshot())
        var mid: Option[Map[String, Long]] = None
        var buildNs = 0L
        val rows = tracer.span("gate", i) {
          guarded("gate") {
            val df = tracer.span("queries.build", i) {
              SparkEntry.queries(name)(spark, dataDir)
            }
            buildNs = System.nanoTime() - g0
            mid = counters.map(_.snapshot())
            tracer.span("exec.count", i)(df.count())
          }
        }
        val totalNs = System.nanoTime() - g0
        val after = counters.map(_.snapshot())
        val gate = mutable.LinkedHashMap[String, Any](
          "name" -> name, "module" -> moduleOf(name), "ok" -> rows.isDefined,
          "rows" -> rows.getOrElse(-1L), "build_ns" -> buildNs,
          "exec_ns" -> (if (rows.isDefined) totalNs - buildNs else 0L),
          "total_ns" -> totalNs)
        for (b <- before; m <- mid.orElse(after); a <- after) {
          gate("build") = SparkCounters.delta(b, m)
          gate("exec") = SparkCounters.delta(m, a)
        }
        gates += gate.toMap
      }
      since(t0)
    }
    val spark0 = for (a <- c0; b <- counters.map(_.snapshot()))
      yield SparkCounters.delta(a, b)
    Map("timed_s" -> wall, "ops" -> names.length,
      "op_latencies_ns" -> gates.map(_("total_ns")),
      "gates" -> gates, "spark" -> spark0,
      "oracle_sql" -> SparkEntry.oracleSql)
  }
}
