package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. `perfbench/run.py` builds this and
  * starts one JVM per run:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir> <out dir>
  *
  * The JVM runs one workload and writes `result.json` (plus `lat.bin`
  * and, when traced, `spans.tsv`) to the out dir; run.py turns those
  * into the metrics and checks the batch gates against DuckDB.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val code =
      try {
        val Array(workload, seed, seconds, trace, dataDir, outDir) = args
        val ctx = Ctx(workload, seed.toLong, seconds.toInt, trace == "1",
          dataDir, Paths.get(outDir))
        val out = workload match {
          case "batch" => Batch.run(ctx)
          case "serve" => Serve.run(ctx)
          case "session" => Session.run(ctx)
          case w => sys.error(s"unknown workload $w")
        }
        ctx.result ++= out
        ctx.finish()
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    // the results are on disk and run.py removes the run's directory;
    // skipping Spark's shutdown hooks saves a second or two per run, and
    // no Spark thread can keep a failed run alive
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }
}

/** Per-run state shared by the workloads: the Spark session, the
  * tracer, JVM counters and the result being assembled. */
final case class Ctx(workload: String, seed: Long, seconds: Int,
    traced: Boolean, dataDir: String, outDir: Path) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  /** number of times the workload's set-up is repeated; setup_s takes
    * the median */
  val setups = 3
  val tracer = new Tracer(traced)
  val result = mutable.LinkedHashMap.empty[String, Any]

  private val t0 = System.nanoTime()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.icu.caseMappings.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", outDir.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", outDir.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  /** process start → Spark session ready, measured once per process */
  val sessionStartS: Double =
    (System.currentTimeMillis() - jvmStartMs) / 1e3

  val counters: Option[SparkCounters] =
    if (traced) Some(new SparkCounters(spark)) else None

  result ++= Seq(
    "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
    "traced" -> traced, "nproc" -> cpus,
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "spark_version" -> spark.version,
    "jdk" -> System.getProperty("java.version"),
    "session_start_s" -> sessionStartS)

  // -- failure accounting: attempted and failed ops by op type --------
  val attempted = mutable.LinkedHashMap.empty[String, Long]
  val failed = mutable.LinkedHashMap.empty[String, Long]
  val failures = mutable.ArrayBuffer.empty[String]

  def attempt(op: String): Unit = synchronized {
    attempted(op) = attempted.getOrElse(op, 0L) + 1
  }
  def fail(op: String, why: String): Unit = synchronized {
    failed(op) = failed.getOrElse(op, 0L) + 1
    if (failures.length < 50) failures += s"$op: $why"
  }

  /** runs `body` as one op of type `op`; a throw counts as a failure */
  def guarded[T](op: String)(body: => T): Option[T] = {
    attempt(op)
    try Some(body)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        fail(op, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }
  }

  // -- JVM counters ----------------------------------------------------
  def gcMillis: Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b =>
      t += math.max(0L, b.getCollectionTime))
    t
  }
  def allocatedBytes: Long = ManagementFactory.getThreadMXBean match {
    case b: com.sun.management.ThreadMXBean => b.getTotalThreadAllocatedBytes
    case _ => 0L
  }
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  /** host CPU time stolen by the hypervisor, all cores (0 where the
    * host does not report it) */
  def stealSeconds: Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toLong / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }

  /** heap in use after a full collection */
  def heapMb: Double = {
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1048576.0
  }

  /** JVM counters over a timed region */
  def jvmRegion[T](body: => T): T = {
    val gc0 = gcMillis; val a0 = allocatedBytes
    val cpu0 = cpuSeconds; val steal0 = stealSeconds
    val out = body
    result ++= Seq("jvm_gc_s" -> (gcMillis - gc0) / 1e3,
      "jvm_alloc_mb" -> (allocatedBytes - a0) / 1048576.0,
      "jvm_cpu_s" -> (cpuSeconds - cpu0), "host_steal_s" -> (stealSeconds - steal0),
      "heap_mb" -> heapMb)
    out
  }

  def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  /** median of `setups` repeats of the workload's set-up; returns the
    * value of the last repeat */
  def repeatedSetup[T](body: Int => (T, Map[String, Double])): T = {
    val runs = (0 until setups).map { i =>
      val t = System.nanoTime()
      val (v, parts) = body(i)
      (v, since(t), parts)
    }
    result("setup_repeats_s") = runs.map(_._2)
    val keys = runs.head._3.keys
    keys.foreach(k => result(s"setup_$k") = runs.map(_._3(k)))
    runs.last._1
  }

  def writeLatencies(name: String, ns: Array[Long]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(ns.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ns.foreach(bb.putLong)
    Files.write(outDir.resolve(name), bb.array())
  }

  def finish(): Unit = {
    result ++= Seq("attempted" -> attempted.toMap, "failed" -> failed.toMap,
      "failures" -> failures.toSeq, "process_s" -> since(t0))
    counters.foreach(_.close())
    if (traced) {
      result("spans") = tracer.count
      tracer.write(outDir.resolve("spans.tsv"))
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(outDir.resolve("result.json"), json.writeValueAsString(result))
  }
}
