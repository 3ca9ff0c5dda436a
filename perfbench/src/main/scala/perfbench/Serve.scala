package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong}

import scala.collection.mutable

import graft.gql.Parser
import graft.plan.ReadPlanner
import graft.serve.PointServer
import graft.store.{GraphAdapter, GraphStore}

/** `serve`: closed-loop point reads. A fixed number of client threads
  * each send one request, wait for the reply, and send the next. A
  * request is one of five servable GQL read shapes over the customers,
  * keyed Zipf(1.0); it goes to `PointServer.serve` and a `None` falls
  * back to `ReadPlanner.plan(...).count()`. Every shape matches exactly
  * one customer (customer names carry their key as a word, and every
  * customer has placed an order), so a reply with another row count is
  * a wrong answer.
  */
object Serve {
  /** closed-loop clients: fixed, and never more than the host's cores */
  def clients(cpus: Int): Int = math.min(3, cpus)

  /** The timed region is a fixed number of requests, this many per
    * `--seconds`, split over the clients; on a 4-core host it takes
    * about `--seconds`. With 75,000 texts against a 65,536-entry
    * statement cache, the hit rate climbs for millions of requests and
    * drops at each flush, so a region bounded by time would end at a
    * different cache state on a faster or slower run. A fixed count
    * (and a fixed warm-up) gives every run the same sequence of cache
    * states. */
  val requestsPerSecond = 150000
  val warmupPerClient = 50000

  val shapes: Seq[String] =
    Seq("word", "word_sorted", "guid", "child", "word_page5")

  def text(shape: Int, key: Int): String = shape match {
    case 0 => s"""read (type="customer" value~="$key" result=((guid value)))"""
    case 1 => s"""read (type="customer" value~="$key" sort=value pagesize=10 result=((guid value)))"""
    case 2 => s"""read (guid=${GraphAdapter.BCustomer + key} result=((guid value)))"""
    case 3 => s"""read (type="customer" value~="$key" result=((guid value)) (<-right type="placed_by"))"""
    case 4 => s"""read (type="customer" value~="$key" pagesize=5 result=((guid value)))"""
  }

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** the request stream of one client: text index = shape * n + key,
    * where ranks map to keys through a seeded permutation so the hot
    * keys are spread over the key space */
  final class Stream(seed: Long, client: Int, n: Int, perm: Array[Int]) {
    private val r = new SplittableRandom(seed * 1000003L + client)
    private val zipf = new Zipf(n, 1.0)
    def next(): Int = {
      val key = perm(zipf.sample(r))
      r.nextInt(shapes.length) * n + key
    }
  }

  def permutation(n: Int, seed: Long): Array[Int] = {
    val p = Array.range(0, n)
    val r = new SplittableRandom(seed)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  private def norm(v: Any): Any = v match {
    case b: Byte => b.toLong
    case i: Int => i.toLong
    case other => other
  }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx._
    val nClients = clients(cpus)
    val (st, ix) = repeatedSetup { i =>
      val s = if (i == setups - 1) spark else spark.newSession()
      val t = System.nanoTime()
      val st = GraphAdapter.store(s, dataDir)
      st.current.count()
      val tStore = since(t)
      val t2 = System.nanoTime()
      val ix = PointServer.build(st)
      ((st, ix), Map("adapter_build_s" -> tStore,
        "index_build_s" -> since(t2)))
    }
    val n = spark.read.parquet(s"$dataDir/customer.parquet").count().toInt
    val texts = Array.tabulate(shapes.length * n)(j => text(j / n, j % n))
    val perm = permutation(n, seed)
    result ++= Seq("clients" -> nClients, "customers" -> n,
      "distinct_texts" -> texts.length)

    // output check before timing: a seeded sample of texts per shape,
    // answered by the snapshot and by the Catalyst plan
    val rs = new SplittableRandom(seed ^ 0x5eed)
    shapes.indices.foreach { sh =>
      (0 until 2).foreach { _ =>
        val q = texts(sh * n + rs.nextInt(n))
        guarded(s"check.${shapes(sh)}") {
          val served = PointServer.serve(ix, q)
            .getOrElse(sys.error(s"not servable: $q"))
          val df = ReadPlanner.plan(st, q)
          val want = df.collect().toSeq.map(_.toSeq.map(norm))
          val got = served.rows.map(_.toSeq.map(norm))
          if (served.columns != df.columns.toSeq || got != want || got.length != 1)
            fail(s"check.${shapes(sh)}", s"$q: served $got, planned $want")
        }
      }
    }

    val tw = System.nanoTime()
    loop(ctx, st, ix, texts, n, perm, nClients, seed + 1, warmupPerClient,
      record = false)
    result("warmup_s") = since(tw)

    val c0 = counters.map(_.snapshot())
    val r = jvmRegion {
      loop(ctx, st, ix, texts, n, perm, nClients, seed,
        requestsPerSecond * ctx.seconds / nClients, record = true)
    }
    val spark0 = for (a <- c0; b <- counters.map(_.snapshot()))
      yield SparkCounters.delta(a, b)
    writeLatencies("lat.bin", r.latencies)
    val extra =
      if (traced) layerProbes(ix, texts, perm, n) else Map.empty
    Map("timed_s" -> r.elapsed, "ops" -> r.latencies.length,
      "op_latencies_file" -> "lat.bin",
      "served" -> r.served, "fallbacks" -> r.fallbacks, "rows" -> r.rows,
      "repeat_texts" -> r.repeats, "spark" -> spark0) ++ extra
  }

  /** What one closed loop measured: per-request latencies and counts. */
  final case class Loop(latencies: Array[Long], served: Long, fallbacks: Long,
      rows: Long, repeats: Long, elapsed: Double)

  /** The closed loop: every client sends `perClient` requests. Only a
    * recorded loop keeps latencies; every loop checks its replies. */
  private def loop(ctx: Ctx, st: GraphStore, ix: PointServer.Index,
      texts: Array[String], n: Int, perm: Array[Int], nClients: Int,
      seed: Long, perClient: Int, record: Boolean): Loop = {
    val op = if (record) "read" else "warmup"
    val served = new AtomicLong(); val fallbacks = new AtomicLong()
    val rows = new AtomicLong(); val repeats = new AtomicLong()
    val seen = if (ctx.traced) new AtomicIntegerArray(texts.length) else null
    val lats = Array.fill(nClients)(new mutable.ArrayBuilder.ofLong)
    val t0 = System.nanoTime()
    val threads = (0 until nClients).map { c =>
      new Thread(() => {
        val s = new Stream(seed, c, n, perm)
        var i = 0L
        while (i < perClient) {
          val j = s.next()
          val q = texts(j)
          val req = (c.toLong << 40) | i
          val a = System.nanoTime()
          var got = -1L
          def body(): Unit = PointServer.serve(ix, q) match {
            case Some(r) => served.incrementAndGet(); got = r.rows.length
            case None =>
              fallbacks.incrementAndGet()
              got = ctx.tracer.span("plan.fallback", req) {
                ReadPlanner.plan(st, q).count()
              }
          }
          try {
            // spans for 1 request in 64
            if (ctx.traced && (i & 63) == 0) ctx.tracer.span("serve.request", req) {
              ctx.tracer.span("serve.serve", req)(body())
            }
            else body()
          } catch {
            case e: Throwable if scala.util.control.NonFatal(e) =>
              ctx.fail(op, s"$q: ${e.getMessage}".take(300))
          }
          val b = System.nanoTime()
          if (record) {
            lats(c) += b - a
            rows.addAndGet(math.max(got, 0L))
            if (seen != null && seen.getAndSet(j, 1) == 1) repeats.incrementAndGet()
          }
          if (got >= 0 && got != 1) ctx.fail(op, s"$q: $got rows, want 1")
          i += 1
        }
        ctx.synchronized {
          ctx.attempted(op) = ctx.attempted.getOrElse(op, 0L) + i
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val elapsed = ctx.since(t0)
    Loop(lats.flatMap(_.result()), served.get, fallbacks.get, rows.get,
      repeats.get, elapsed)
  }

  /** Single-threaded per-layer probes for the traced run: parse cost
    * over distinct workload texts, and the snapshot probe on input that
    * is already parsed. */
  private def layerProbes(ix: PointServer.Index,
      texts: Array[String], perm: Array[Int], n: Int): Map[String, Any] = {
    val sample = (0 until 20000).map(i => texts((i % 5) * n + perm(i % n)))
    sample.take(2000).foreach(Parser.parseRead) // JIT
    val t0 = System.nanoTime()
    val parsed = sample.map(Parser.parseRead)
    val parseUs = (System.nanoTime() - t0) / 1e3 / sample.length
    parsed.take(2000).foreach(c => PointServer.serve(ix, c))
    val t1 = System.nanoTime()
    parsed.foreach(c => PointServer.serve(ix, c))
    val probeUs = (System.nanoTime() - t1) / 1e3 / parsed.length
    Map("parse_us" -> parseUs, "probe_us" -> probeUs)
  }
}
