package graft

/** Benchmark main — driver runs this per-round with
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 and reads the single JSON
  * line. Each query is forced with a count(); a warmup pass on the
  * smallest table absorbs session/classloader startup so per-query
  * numbers reflect plan execution.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession("graft-bench")

    // warmup: JVM + codegen + parquet footer reads, plus the shared
    // adapter-store cache and word index — the reference's baseline is
    // steady-state serving on a loaded database (BASELINE.md), so
    // one-time infrastructure warmup is not attributed to whichever
    // query happens to run first
    Tables.load(spark, sfDir, "nation").count()
    val stWarm = graft.store.GraphAdapter.store(spark, sfDir)
    stWarm.current.count()
    stWarm.valueWordIndex.count()

    // JIT-warm the hot expression and closure paths (regex, digest,
    // shingling) — a fresh JVM otherwise charges one-time compilation
    // to whichever text-heavy query runs first, and the reference
    // baseline is a warm, steady-state server (BASELINE.md).
    {
      import org.apache.spark.sql.functions._
      val warmDocs = spark.range(20000).select(
        col("id").as("doc_id"),
        concat(lit("Warm Up  Sample text for jit "), col("id").cast("string"),
          lit(" more words go here to shingle and hash")).as("text"))
      warmDocs.select(
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("a"),
          xxhash64(lower(col("text"))).as("b"))
        .agg(count(col("a")), count(col("b"))).collect()
      graft.operators.Dedup.shingleSet(warmDocs, "doc_id", "text", 3)
        .agg(count(col("sh"))).collect()
      // graph-analytics paths: the Dataset-tuple encoder + DSU
      // mapPartitions closure and the iterative join/agg codegen
      // otherwise charge ~3s of one-time compilation to whichever
      // a-query runs first
      val wEdges = spark.range(1000).select(
        (col("id") % 97).as("left"), (col("id") % 31 + 100).as("right"))
      val wNodes = spark.range(200).select(col("id"))
      graft.graph.Analytics.connectedComponentsDSU(wNodes, wEdges)
        .agg(count(lit(1))).collect()
      // wide-aggregation codegen: simhash (60 bit-sum columns) and
      // minhash (64 min columns) each compile ~5-8s of generated code
      // on first execution — one-time compiler work, warmed on a tiny
      // corpus so measured runs reflect steady-state execution
      val tinyDocs = warmDocs.limit(200)
      graft.operators.Dedup.simhashPairs(tinyDocs, "doc_id", "text", 3)
        .agg(count(lit(1))).collect()
      graft.operators.Dedup.minhashLshPairs(tinyDocs, "doc_id", "text", 3, 64, 16, 0.8)
        .agg(count(lit(1))).collect()
      // structured-streaming infrastructure (query lifecycle, state
      // dir plumbing, micro-batch planner) — first stream start costs
      // ~1.5s of one-time init regardless of data volume
      val wsDir = s"${System.getProperty("java.io.tmpdir")}/graft_bench_warm_stream"
      val wsLog = s"$wsDir/log"
      if (!new java.io.File(wsLog).exists())
        spark.range(100).selectExpr("id", "id % 5 AS k")
          .coalesce(1).write.mode("overwrite").parquet(wsLog)
      val wq = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
        .parquet(wsLog)
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.groupBy("k").count().collect(); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      wq.awaitTermination()
    }

    // optional comma-separated filter for bisection/debugging
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)

    // --- host canary, shared by the suite, serving, and sf1 sections.
    // A canary must be CODE- and DATA-independent (a pure host meter),
    // so it always runs the same Catalyst point reads against the
    // fixed reference corpus regardless of the benched SF.
    val canaryDir = sys.env.getOrElse("SPARK_GRAFT_CANARY_DIR",
      "/root/testdata/sf0.1")
    val canaryQ = (i: Int) =>
      s"""read (type="customer" value~="${1 + i % 997}" result=((guid value)))"""
    val nClients = 32
    def drive(n: Int, f: Int => Unit): Double = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nClients)
      val t0 = System.nanoTime()
      val futs = (0 until nClients).map { c =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until n).foreach(i => f(c * n + i))
        })
      }
      futs.foreach(_.get())
      pool.shutdown()
      (nClients.toLong * n) / ((System.nanoTime() - t0) / 1e9)
    }
    lazy val stCanary = {
      val s = graft.store.GraphAdapter.store(spark, canaryDir)
      s.current.count()
      s.valueWordIndex.cache().count()
      s
    }
    def sparkPathRun(perClient: Int): Double = {
      // AQE off: per-stage replanning adds ~100ms of driver gaps to a
      // 2-stage point query.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val v = drive(perClient,
        i => { graft.plan.ReadPlanner.plan(stCanary, canaryQ(i)).collect(); () })
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      v
    }
    // the empirical quiet/contended canary boundary (SERVING.md),
    // shared by the serving windows and the sf1 subset classifier
    val quietBar = 100.0

    // --- pure-CPU host meter for the SUITE classifier: 32 threads of
    // a fixed LCG/xorshift spin, total Mops/s. The suite cannot reuse
    // the Catalyst-path canary: each section's first run loads new
    // generated classes whose JIT deopt craters that canary from ~200
    // to single-digit qps on a QUIET host (measured), conflating
    // JVM-state churn — which the best-over-passes minimum already
    // absorbs — with the co-tenant CPU stalls the classifier exists to
    // catch. A spin loop measures CPU availability only: ~6300±800
    // Mops/s quiet on this 32-vCPU box (0.34 s windows); a stall that
    // would swing query times 2-3x reads <50%. Bar default 4000.
    val spinIters = 1L << 26
    def spinCanary(): Double = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nClients)
      val t0 = System.nanoTime()
      val futs = (0 until nClients).map { c =>
        pool.submit(new java.util.concurrent.Callable[java.lang.Long] {
          def call(): java.lang.Long = {
            var x = c + 1L; var i = 0L
            while (i < spinIters) {
              x = x * 6364136223846793005L + 1442695040888963407L
              x ^= x >>> 33
              i += 1
            }
            java.lang.Long.valueOf(x)
          }
        })
      }
      val sink = futs.map(_.get().longValue()).sum
      pool.shutdown()
      if (sink == 42L) System.err.print("") // defeat dead-code elimination
      nClients.toDouble * spinIters / ((System.nanoTime() - t0) / 1e9) / 1e6
    }
    val spinBar =
      sys.env.getOrElse("SPARK_GRAFT_SPIN_BAR", "4000").toDouble

    // --- the sf0.1 query suite, SELF-CLASSIFYING like the serving
    // windows and the sf1 subset: the box shares a virtualized host
    // whose CPU availability stalls in multi-second bursts (observed
    // ±2-3x on identical binaries), and r11 shipped an unclassifiable
    // 2.6x "regression" because the per-query suite still published
    // raw single-window minima. Queries run in SECTIONS (name prefix:
    // a/c/d/g/m/p/q/s/st/t/w), each section SANDWICHED between
    // canaries and classified by the worse of the two; a query's
    // published figure is its best over quiet section passes, falling
    // back to best-over-all when the host never went quiet around its
    // section. Sections re-run across passes until every query holds
    // `targetQuiet` quiet samples or the pass budget runs out — reps
    // are FULL PASSES (not back-to-back), so a later pass samples each
    // query at a different wall time.
    val targetQuiet =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val maxPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES",
      math.max(targetQuiet + 2, 4).toString).toInt
    // scale spot-runs (SPARK_GRAFT_BENCH_CLASSIFY=0) opt out: they
    // time suite queries against a different SF where building the
    // reference canary store adds nothing the probe asks about
    val classify =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CLASSIFY", "1") == "1"
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def sectionOf(name: String): String = name.takeWhile(!_.isDigit)
    val sectionNames = queries.map(q => sectionOf(q._1)).distinct
    val bestQuietQ = scala.collection.mutable.LinkedHashMap
      .empty[String, Double] ++= queries.map(_._1 -> -1.0)
    val bestAnyQ = scala.collection.mutable.LinkedHashMap
      .empty[String, Double] ++= queries.map(_._1 -> -1.0)
    val quietSamplesQ = scala.collection.mutable.LinkedHashMap
      .empty[String, Int] ++= queries.map(_._1 -> 0)
    val sectionWindows = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Double, Double)]
    if (classify) { spinCanary(); spinCanary() } // JIT-warm the spin loop
    var suiteCanary = if (classify) spinCanary() else -1.0
    var suitePass = 0
    def sectionNeedsRun(sec: String): Boolean =
      queries.exists { case (n, _) =>
        sectionOf(n) == sec && quietSamplesQ(n) < targetQuiet }
    while (suitePass < maxPasses && sectionNames.exists(sectionNeedsRun)) {
      suitePass += 1
      for (sec <- sectionNames if sectionNeedsRun(sec)) {
        val cPre = suiteCanary
        val secResults = for ((name, fn) <- queries
            if sectionOf(name) == sec) yield {
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
            }
          (name, ok, (System.nanoTime() - t0) / 1e9)
        }
        suiteCanary = if (classify) spinCanary() else -1.0
        // quiet only if BOTH edge canaries clear the bar: a window
        // stomped mid-flight must not publish as quiet. Without
        // classification every sample counts as quiet (plain best-of-N).
        val quiet = !classify || math.min(cPre, suiteCanary) >= spinBar
        if (classify) sectionWindows += ((sec, suitePass, cPre, suiteCanary))
        for ((name, ok, secs) <- secResults if ok) {
          if (bestAnyQ(name) < 0 || secs < bestAnyQ(name))
            bestAnyQ(name) = secs
          if (quiet) {
            quietSamplesQ(name) += 1
            if (bestQuietQ(name) < 0 || secs < bestQuietQ(name))
              bestQuietQ(name) = secs
          }
        }
        if (classify) System.err.println(
          f"[bench] pass$suitePass sec=$sec%-3s canaries $cPre%.0f/$suiteCanary%.0f " +
            (if (quiet) "quiet" else "NOISY"))
      }
    }
    val results = queries.map { case (name, _) =>
      name -> (if (bestQuietQ(name) >= 0) bestQuietQ(name)
               else bestAnyQ(name))
    }

    // serving section opt-out: targeted scale spot-runs (e.g. the sf10
    // probe) time SUITE queries only — building a multi-10M-primitive
    // serving snapshot there measures nothing the probe asks about
    val skipServing =
      sys.env.get("SPARK_GRAFT_BENCH_SKIP_SERVING").contains("1")
    val (qps, qpsSharded, qpsSorted, qpsSortedSharded, batchQps, qpsSpark,
        windowsJson) = if (skipServing) (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, "[]")
    else {
    // drop the per-query plan caches (shingle sets, adjacency, etc.)
    // before the serving measurements: the throughput section should
    // run against a quiet executor, the way the reference's steady-
    // state serving figure was taken — not under another workload's
    // leftover cache pressure. The word index is part of the serving
    // tier (the reference's memory-resident WORD hmap), so re-pin it.
    spark.catalog.clearCache()
    stWarm.valueWordIndex.cache().count()

    // sustained simple-read throughput — the reference's 200k
    // queries/minute figure (BASELINE.md) is a steady-state server
    // under concurrent client load answering 1-2-hop constrained reads
    // ("names containing herman"-class) from memory-resident indexes.
    // Measured the same way: 32 concurrent clients, each request
    // parsing + planning + executing a varied point read through the
    // serving tier (graft.serve.PointServer — the materialized-snapshot
    // analog of the reference's mmap'd istore/gmap/hmap; unsupported
    // shapes fall back to the Catalyst plan). ServeSpec gates the tier:
    // every servable query answers identically through both paths.
    val st0 = stWarm
    // "Customer#000000042" word-segments to (customer, 42) in the
    // inverted index; the pattern word 42 hits the same normalized form
    val simpleQ = canaryQ
    val ix = graft.serve.PointServer.build(st0)
    def answer(q: String): Long = graft.serve.PointServer.serve(ix, q) match {
      case Some(s) => s.rows.length.toLong
      case None => graft.plan.ReadPlanner.plan(st0, q).count()
    }
    // SORTED point reads drive the same pattern through the
    // comparator-key path with a page cap
    val sortedQ = (i: Int) =>
      s"""read (type="customer" value~="${1 + i % 997}" sort=value pagesize=10 result=((guid value)))"""
    // the SHARD ROUTER (3 shards): the serving tier's horizontal story
    // — each shard holds 1/n of the corpus (plus endpoint-co-located
    // links), the router scatter-gathers and merges by id.
    // ShardRouterSpec gates equivalence; this measures routing
    // overhead. SERVING.md carries the measured scatter-tax model: on
    // ONE box an unsorted thin read pays k-1 extra fixed probe costs
    // plus the merge against a probe that is already ~3-7µs, so the
    // unsorted routed figure structurally trails the single snapshot;
    // the tier's win is horizontal capacity (per-node memory 1/n) and
    // the sorted path's per-shard n/k·log(n/k) + page-prefix cap.
    val sharded = graft.serve.ShardRouter.build(st0, 3)
    def answerSharded(q: String): Long =
      graft.serve.ShardRouter.serve(sharded, q) match {
        case Some(s) => s.rows.length.toLong
        case None => answer(q)
      }
    // batched point-read throughput: 1000 guid lookups in ONE plan —
    // the way a Spark engine actually serves bulk point reads. Each
    // resolved id corresponds to one reference "simple query".
    val st = graft.store.GraphAdapter.store(spark, sfDir)
    val ids = (1 to 1000).map(i => graft.store.GraphAdapter.BCustomer + 1 + (i % 1000))
    def batchRun(): Double = {
      val t1 = System.nanoTime()
      val resolved = st.current
        .filter(org.apache.spark.sql.functions.col("id")
          .isin(ids.map(Long.box): _*))
        .count()
      resolved / ((System.nanoTime() - t1) / 1e9)
    }
    // steady-state warmup: the serve paths JIT-compile over thousands
    // of calls — one priming request would leave most of the timed
    // windows interpreting; then drop the query suite's garbage so the
    // timed windows aren't paying its GC
    drive(256, i => answer(simpleQ(i)))
    drive(128, i => answerSharded(simpleQ(i)))
    drive(128, i => answer(sortedQ(i)))
    drive(128, i => answerSharded(sortedQ(i)))
    sparkPathRun(2)
    System.gc()

    // canary-classified windows (the methodology SCALING.md uses for
    // the query suite, applied to ALL serving figures): this box
    // shares a virtualized host whose contention swings identical
    // binaries 3-10x, and a single window cannot distinguish a code
    // regression from a co-tenant stall. Each window measures the
    // canary FIRST, then every figure; a figure's published value is
    // its best over QUIET windows (canary >= 100 — the empirical
    // quiet/contended boundary, see SERVING.md), falling back to best
    // over all windows when the host never went quiet. The raw
    // per-window values ride along in the JSON so any reader can
    // re-classify.
    val nWindows =
      sys.env.getOrElse("SPARK_GRAFT_SERVING_WINDOWS", "3").toInt
    val figNames = Seq("qps_simple", "qps_simple_sharded", "qps_sorted",
      "qps_sorted_sharded", "qps_point_batched")
    // each window is SANDWICHED between canaries and classified by the
    // worse of the two: a window that starts quiet and gets stomped
    // mid-flight (a real r11 observation: one window's sorted figure
    // collapsed 12x while its start-canary read quiet) must not
    // publish as quiet
    val windows = (1 to nWindows).map { _ =>
      val cPre = sparkPathRun(8)
      val figs = Seq(
        "qps_simple" -> drive(4096, i => answer(simpleQ(i))),
        "qps_simple_sharded" -> drive(2048, i => answerSharded(simpleQ(i))),
        "qps_sorted" -> drive(2048, i => answer(sortedQ(i))),
        "qps_sorted_sharded" -> drive(2048, i => answerSharded(sortedQ(i))),
        "qps_point_batched" -> batchRun())
      val cPost = sparkPathRun(8)
      System.gc()
      (math.min(cPre, cPost), figs.toMap, cPre, cPost)
    }
    val quiet = windows.filter(_._1 >= quietBar)
    val pool = if (quiet.nonEmpty) quiet else windows
    def fig(name: String): Double = pool.map(_._2(name)).max
    val wJson = windows.map { case (c, figs, cPre, cPost) =>
      (Seq("canary" -> c, "canary_pre" -> cPre, "canary_post" -> cPost) ++
        figNames.map(n => n -> figs(n)))
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.1f" }
        .mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    (fig("qps_simple"), fig("qps_simple_sharded"), fig("qps_sorted"),
      fig("qps_sorted_sharded"), fig("qps_point_batched"),
      windows.map(_._1).max, wJson)
    }

    // --- per-round sf1 scale subset (SCALING.md's ten worst-ratio
    // queries): scaling regressions should surface in BENCH_rN, not in
    // a once-off sweep. Written to BENCH_sf1.json (stderr progress
    // only — stdout stays the driver's single JSON line), with ratios
    // against the round-9 sweep's canary-classified sf1 minima.
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      "/root/repo/scaledata/sf1")
    val sf1On = sys.env.getOrElse("SPARK_GRAFT_BENCH_SF1", "1") == "1" &&
      only.isEmpty && new java.io.File(sf1Dir).isDirectory
    if (sf1On) try {
      // round-9 sf1 minima (SCALING.md table) for the ratio column
      val r9 = Seq(
        "g10_gql_prefix" -> 1.37, "s03_embed_neardup" -> 11.35,
        "g03_gql_exists" -> 7.30, "a02_connected_components" -> 10.48,
        "q22_datetime_sort" -> 2.66, "m02_frame_sample" -> 2.50,
        "g07_gql_match" -> 0.89, "g08_gql_vrange" -> 2.43,
        "m01_multimodal_features" -> 2.19, "q13_window_newest" -> 2.10)
      // the sf0.1 suite and serving figures are finished — drop their
      // cached blocks so the 10x store's caches don't fight them for
      // storage memory (measured: in-suite sf1 reps bounced 30-60 s on
      // queries that run 6-12 s standalone, with rep2 often WORSE than
      // rep1 — eviction thrash, not plan cost)
      spark.catalog.clearCache()
      // canary's own structures must stay warm post-wipe (its word
      // match plans over the reference store's cached word index)
      stCanary.current.count()
      stCanary.valueWordIndex.cache().count()
      val sf1CanaryPre = sparkPathRun(4)
      // warm the SF1 store + one untimed pass per query: the r9 table
      // is canary-classified minima over a fully-warm 87-gate suite,
      // so the comparable figure is steady state. Without this, the
      // first subset queries absorb the sf1 adapter-store index builds
      // (~70 s of one-time work measured as g03 "regressing" 9x) and
      // the ratios compare cold builds against warm minima.
      val wT0 = System.nanoTime()
      val sf1Store = graft.store.GraphAdapter.store(spark, sf1Dir)
      sf1Store.current.count()
      sf1Store.valueWordIndex.count()
      for ((name, _) <- r9)
        try SparkEntry.queries(name)(spark, sf1Dir).count()
        catch { case _: Throwable => () }
      System.err.println(
        f"[bench-sf1] warmup ${(System.nanoTime() - wT0) / 1e9}%.1f s")
      // SELF-CLASSIFYING sampling: every timed query is SANDWICHED
      // between canaries (each canary doubles as the next query's
      // pre), and a sample only counts as classified when BOTH its
      // canaries clear the quiet bar. Queries re-run across passes
      // until they hold `targetQuiet` quiet samples or the pass budget
      // runs out — a contended window (r10's q22: canary_post 4.75)
      // now produces more sampling, never a published regression
      // candidate. Published sec = min over quiet samples;
      // classified=false marks the best-over-all fallback when the
      // host never went quiet around that query.
      val maxPasses =
        sys.env.getOrElse("SPARK_GRAFT_SF1_PASSES", "4").toInt
      val targetQuiet = 2
      val bestQuiet = scala.collection.mutable.LinkedHashMap
        .empty[String, Double] ++= r9.map(_._1 -> -1.0)
      val bestAny = scala.collection.mutable.LinkedHashMap
        .empty[String, Double] ++= r9.map(_._1 -> -1.0)
      val nQuiet = scala.collection.mutable.LinkedHashMap
        .empty[String, Int] ++= r9.map(_._1 -> 0)
      // the first timed query's PRE canary must be measured right here
      // — sf1CanaryPre predates the ~70 s warmup, and a sandwich with
      // a stale slice isn't a sandwich (a contention burst starting
      // inside the warmup would slip past it)
      var canary = sparkPathRun(4)
      var canaryLast = canary
      // one sandwiched sample of `name`; returns true when quiet
      def sample(name: String, tag: String): Boolean = {
        val cPre = canary
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.queries(name)(spark, sf1Dir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench-sf1] $name FAILED: ${e.getMessage}")
            false
          }
        val secs = (System.nanoTime() - t0) / 1e9
        canary = sparkPathRun(4)
        canaryLast = canary
        val quiet = math.min(cPre, canary) >= quietBar
        if (ok) {
          if (bestAny(name) < 0 || secs < bestAny(name)) bestAny(name) = secs
          if (quiet) {
            nQuiet(name) += 1
            if (bestQuiet(name) < 0 || secs < bestQuiet(name))
              bestQuiet(name) = secs
          }
        }
        System.err.println(f"[bench-sf1] $tag $name%-28s $secs%6.2f s" +
          f" canaries $cPre%.0f/$canary%.0f ${if (quiet) "quiet" else "NOISY"}")
        quiet
      }
      var pass = 0
      while (pass < maxPasses && nQuiet.valuesIterator.exists(_ < targetQuiet)) {
        pass += 1
        for ((name, _) <- r9 if nQuiet(name) < targetQuiet)
          sample(name, s"pass$pass")
      }
      // STANDALONE ARBITER, triggered automatically: a query still
      // short of `targetQuiet` quiet samples after the pass budget
      // gets dedicated back-to-back sandwiched re-samples (best-of-N
      // of just this query) — `classified` is only ever published off
      // >= targetQuiet quiet samples, never a single lucky sandwich
      val arbiterTries =
        sys.env.getOrElse("SPARK_GRAFT_SF1_ARBITER", "6").toInt
      for ((name, _) <- r9 if nQuiet(name) < targetQuiet) {
        var tries = 0
        while (nQuiet(name) < targetQuiet && tries < arbiterTries) {
          tries += 1
          sample(name, s"arbiter$tries")
        }
      }
      val body = r9.map { case (name, ref) =>
        val classified = nQuiet(name) >= targetQuiet
        val v = if (bestQuiet(name) >= 0) bestQuiet(name) else bestAny(name)
        val ratio = if (v >= 0) v / ref else -1.0
        "\"" + name + "\":{\"sec\":" + f"$v%.3f" +
          ",\"r9_sec\":" + ref + ",\"vs_r9\":" + f"$ratio%.2f" +
          ",\"quiet_samples\":" + nQuiet(name) +
          ",\"classified\":" + classified + "}"
      }.mkString("{", ",", "}")
      val w = new java.io.PrintWriter("BENCH_sf1.json")
      w.println(s"""{"sf":"$sf1Dir","canary_pre":$sf1CanaryPre,""" +
        s""""canary_post":$canaryLast,"quiet_bar":$quietBar,""" +
        s""""passes":$pass,"queries":$body}""")
      w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench-sf1] skipped: ${e.getMessage}")
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // per-query classification metadata (sec repeated for one-stop
    // reads; classified only off >= targetQuiet quiet section passes)
    val qClass = results.map { case (k, v) =>
      "\"" + k + "\":{\"sec\":" + f"$v%.4f" +
        ",\"quiet_samples\":" + quietSamplesQ(k) +
        ",\"classified\":" + (quietSamplesQ(k) >= targetQuiet) + "}"
    }.mkString("{", ",", "}")
    val secWin = sectionWindows.map { case (sec, p, pre, post) =>
      s"""{"section":"$sec","pass":$p,""" +
        f""""canary_pre":$pre%.1f,"canary_post":$post%.1f}"""
    }.mkString("[", ",", "]")
    // stop BEFORE printing: shutdown warnings must not land after the
    // JSON line the driver parses off stdout
    spark.stop()
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"query_class":$qClass,"bench_passes":$suitePass,"bench_quiet_bar":$spinBar,"section_windows":$secWin,"qps_simple":$qps,"qps_simple_sharded":$qpsSharded,"qps_sorted":$qpsSorted,"qps_sorted_sharded":$qpsSortedSharded,"qps_spark_path":$qpsSpark,"qps_point_batched":$batchQps,"serving_quiet_bar":100,"serving_windows":$windowsJson,"sf":"$sfDir"}""")
    Console.out.flush()
  }
}
