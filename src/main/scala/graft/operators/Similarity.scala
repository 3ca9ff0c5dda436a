package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Memo

/** Similarity search over embedding columns (Array[Float]).
  *
  * Scale design:
  *  - `bruteTopK` broadcasts the (small) query set and scans the corpus
  *    once — the right plan when queries ≪ corpus, which is the ANN
  *    serving shape; dot products run via `aggregate`/`zip_with`
  *    column functions, no UDFs.
  *  - `lshTopK` is the scale path: random-hyperplane signatures put
  *    near vectors in shared buckets; only bucket-mates are scored.
  *    At 100 TB the bucket join replaces the full cross product, and
  *    multi-probe (nProbes hyperplane sets) recovers recall.
  *  - Vector norms are computed once per vector and joined into the
  *    scoring pass, so each candidate pair pays ONE array traversal
  *    (the dot product) instead of three — at 100 TB the candidate
  *    set dwarfs the corpus, so per-pair work dominates.
  */
object Similarity {

  /** dot product of two float-array columns in double math (elements
    * cast before multiplying — matches engines computing in double
    * over float32 storage; oracle parity + accuracy). Runs as the
    * native codegen'd VecDot expression: the same left-to-right IEEE
    * fold as `aggregate(zip_with(...))` — identical doubles — but one
    * compiled loop per pair instead of 2·dims interpreted lambdas.
    */
  def dot(a0: Column, b0: Column): Column =
    graft.functions.GraphdFunctions.vec_dot(a0, b0)

  /** L2 norm of a float-array column (double math, codegen'd) */
  def norm(a0: Column): Column = graft.functions.GraphdFunctions.vec_norm(a0)

  /** cosine similarity of two float-array columns */
  def cosine(a0: Column, b0: Column): Column = dot(a0, b0) / (norm(a0) * norm(b0))

  /** Exact top-k neighbors (cosine) for each query vector.
    * Rounded similarity + id tie-break keep ranking deterministic
    * across engines and summation orders.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_norm")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("n_norm"))
    val scored = c.join(q, col("q_id") =!= col("n_id"))
      .withColumn("sim",
        round(dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("n_id"), col("sim"))
  }

  /** Deterministic ±1 hyperplane: component d = bit d of
    * md5("rhp_<seed>_<j>") (128 md5 bits ⇒ dims <= 128). A public,
    * engine-portable derivation: any SQL engine with md5 rebuilds the
    * identical plane, so LSH bucketing is oracle-checkable.
    */
  def rhpPlane(seed: Int, j: Int, dims: Int): Array[Double] = {
    require(dims <= 128, s"rhpPlane supports <= 128 dims, got $dims")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rhp_${seed}_$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    Array.tabulate(dims) { d =>
      val nib = Integer.parseInt(hex.charAt(d / 4).toString, 16)
      if (((nib >> (d % 4)) & 1) == 1) 1.0 else -1.0
    }
  }

  /** Random-hyperplane signature: bit j = sign of <v, r_j>. The planes
    * are driver-precomputed literal arrays — the per-row work is pure
    * column-function float math (no hashing in the hot path).
    */
  def rhpSignature(vec: Column, bits: Int, dims: Int, seed: Int = 42): Column = {
    val projections: Seq[Column] = (0 until bits).map { j =>
      val plane = array(rhpPlane(seed, j, dims).map(lit): _*)
      val proj = dot(vec, plane) // codegen'd; same ordered double fold
      when(proj > 0, shiftleft(lit(1L), j)).otherwise(0L)
    }
    projections.reduce(_.bitwiseOR(_))
  }

  /** (id, probe, sig) bucket rows: every probe's signature computed in
    * one scan, exploded to one row per probe — the join-ready LSH
    * index shape. Cached under FIXED column names so every operator
    * touching the same (df, params) shares one materialization via
    * plan-equality (renames happen outside the cached plan).
    */
  private val sigMemo = Memo.frames[(Long, String, String, Int, Int, Int)]

  private[graft] def probeSigs(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, nProbes: Int, dims: Int): DataFrame =
    sigMemo.getOrElseUpdate(
      (Memo.planKey(df), idCol, vecCol, bits,
        nProbes, dims),
      { val out = df.select(col(idCol).cast("long").as("id"),
            posexplode(array((0 until nProbes).map(p =>
              rhpSignature(col(vecCol), bits, dims, seed = 42 + p)): _*))
              .as(Seq("probe", "sig")))
          .cache()
        Memo.Frame(out, Seq(out)) }).df

  /** Approximate top-k: candidates share an exact signature bucket in
    * at least one of `nProbes` independent hyperplane sets; candidates
    * are then exactly re-scored. Recall < 1 by construction; raise
    * bits/probes to trade shuffle volume for recall.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 12, nProbes: Int = 4, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // ONE equi-join on (probe, bucket) — not a join per probe: the plan
    // stays constant-size as probes grow, and a probe-OR condition
    // (which would nested-loop the cross product) never appears.
    // Candidates carry id pairs only: the distinct shuffles 16-byte
    // pairs, not embedding payloads.
    val c = probeSigs(corpus, idCol, vecCol, bits, nProbes, dims)
      .toDF("n_id", "n_probe", "n_sig")
    val q = broadcast(probeSigs(queries, idCol, vecCol, bits, nProbes, dims)
      .toDF("q_id", "q_probe", "q_sig"))
    val cand = c.join(q,
        col("q_probe") === col("n_probe") && col("q_sig") === col("n_sig") &&
          col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
      .distinct()

    val qv = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_norm")))
    val nv = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("n_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    cand.join(qv, "q_id").join(nv, "n_id")
      .withColumn("sim",
        round(dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("n_id"), col("sim"))
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN — the coarse-quantizer scale path
  // ------------------------------------------------------------------

  /** squared L2 distance of two double-array columns (ordered fold —
    * bit-identical across engines that fold list elements in order)
    */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** deterministic training sample: the `sampleN` smallest ids — a
    * TakeOrdered (bounded single-partition materialization on an
    * executor, never a driver collect), cached for the Lloyd rounds.
    * IVF quantizers train on a corpus sample by construction; at
    * 100 TB this is the ONLY data the training rounds ever touch.
    */
  private[graft] def trainSample(df: DataFrame, idCol: String,
      vecCol: String, sampleN: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("vec"))
      .orderBy(col("id")).limit(sampleN)

  /** Deterministic k-means coarse quantizer: centroids init from the
    * `nlist` smallest ids of the training sample, then `iters`
    * DISTRIBUTED Lloyd rounds. Per round: assignment is a compiled
    * projection (VecNearestCids, the centroid table riding in the
    * expression — the broadcast-DataFrame shape without a join), the
    * per-dimension means are one partial-aggregated shuffle of
    * nlist×dims cells, and only those nlist×dims means come back to
    * the driver. Nothing proportional to the corpus (or even to the
    * sample) ever materializes on the driver.
    *
    * Per-dimension means are rounded to 6dp — summation order differs
    * between engines (and between Spark partitionings), and the
    * rounding snaps both to the same value, making assignments
    * (computed from identical centroids by an ordered fold)
    * engine-portable.
    */
  /** trained-quantizer memo: a coarse quantizer is trained ONCE per
    * (corpus, params) and then serves every index build and probe —
    * retraining per query would re-run the Lloyd rounds for an
    * identical deterministic result. Same bounded-LRU mechanism as
    * every other operator memo (plain-value instantiation).
    */
  private val centroidMemo = new Memo[(Long, String, String, Int, Int, Int),
    Array[(Int, Array[Double])]](Memo.cap)

  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int, sampleN: Int = 1 << 17): Array[(Int, Array[Double])] =
    centroidMemo.getOrElseUpdate(
      (Memo.planKey(df), idCol, vecCol,
        nlist, iters, sampleN),
      trainCentroids(df, idCol, vecCol, nlist, iters, sampleN))

  private def trainCentroids(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int, sampleN: Int): Array[(Int, Array[Double])] = {
    import graft.functions.GraphdFunctions.vec_nearest
    val train = trainSample(df, idCol, vecCol, sampleN).cache()
    // released on every exit: the init require throws past it
    try {
      // init: ids < nlist (nlist rows — the only other driver landing)
      var cents: Array[(Int, Array[Double])] = train
        .filter(col("id") < nlist).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      require(cents.nonEmpty,
        s"IVF init: training sample has no ids < nlist=$nlist — the " +
          "id<nlist init convention needs a dense near-zero id space")
      for (_ <- 1 to iters) {
        // ORDER-INDEPENDENT mean: a plain double avg's partial-sum order
        // varies with partitioning/scheduling, so a mean landing within
        // an ulp of a 5e-7 rounding boundary would flake run to run.
        // Decimal addition is exact, so the sum (and thus the rounded
        // mean) is identical under any aggregation order.
        val means = train
          .select(element_at(vec_nearest(col("vec"), cents, 1), 1).as("cid"),
            posexplode(col("vec")).as(Seq("d", "x")))
          .groupBy("cid", "d")
          .agg((sum(col("x").cast("decimal(38,18)")) / count(lit(1)))
            .cast("double").as("m"))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        cents = means.groupBy(_._1).toArray.sortBy(_._1).map { case (cid, ds) =>
          (cid, ds.sortBy(_._2).map(t =>
            BigDecimal(t._3).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble))
        }
      }
      cents
    } finally train.unpersist()
  }

  /** the `n` nearest centroid ids (L2 asc, cid-asc tiebreak) for a
    * numeric array vector column — the codegen'd VecNearestCids
    * expression (functions/Expressions.scala): compiled scalar code
    * inside whole-stage codegen, no UDF barrier in the index-build or
    * probe scans.
    */
  private def nearestCids(vec: Column, cents: Array[(Int, Array[Double])],
      n: Int): Column =
    graft.functions.GraphdFunctions.vec_nearest(vec, cents, n)

  /** IVF approximate top-k: corpus vectors are partitioned into
    * `nlist` inverted lists by nearest centroid; a query scores only
    * the lists of its `nprobe` nearest centroids. The 100 TB shape:
    * centroids broadcast (nlist ≪ corpus), the inverted-list table is
    * the corpus hash-partitioned by cid, and the probe is an equi-join
    * on cid — candidate volume is nprobe/nlist of the corpus instead
    * of all of it, and unlike multi-probe LSH each vector lives in
    * exactly ONE list, so no candidate dedup pass is needed.
    */
  private val invMemo = Memo.frames[(Long, String, String, Int, Int, Int)]

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleN: Int = 1 << 17): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist, iters, sampleN)
    // the inverted lists: corpus + norm, keyed by centroid — the cid
    // is a compiled projection (VecNearestCids reads the float array
    // directly, double math), so building the index is one
    // shuffle-free codegen'd scan of the corpus. Built ONCE per
    // (corpus, params) and cached: the index is the serving structure
    // probes hit repeatedly (at 100 TB it persists, partitioned by cid)
    val inv = invMemo.getOrElseUpdate(
      (Memo.planKey(corpus), idCol, vecCol,
        nlist, iters, sampleN), {
        val built = corpus.select(
          element_at(nearestCids(col(vecCol), cents, 1), 1).as("cid"),
          col(idCol).cast("long").as("n_id"),
          col(vecCol).as("n_vec"), norm(col(vecCol)).as("n_norm"))
          .cache()
        Memo.Frame(built, Seq(built))
      }).df
    // nprobe nearest lists per query, again a projection
    val probes = queries.select(col(idCol).cast("long").as("q_id"),
      col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_norm"),
      explode(nearestCids(col(vecCol), cents, nprobe)).as("cid"))
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    broadcast(probes).join(inv, "cid")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim",
        round(dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")), 6))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("n_id"), col("sim"))
  }

  /** Signature width that keeps expected LSH bucket occupancy at
    * `target` as the corpus grows: smallest b in [minBits, maxBits]
    * with n <= 2^b * target. A FIXED width is quadratic poison at
    * scale — bucket count is then constant, occupancy grows with n,
    * and the same-bucket self-join grows with n²/2^b (measured: the
    * 10x sf sweep ran the fixed-6-bit formulation 32x slower, not
    * 10x). Bit j of a signature depends only on (seed, j), so a b-bit
    * signature is the LOW-b-bit prefix of a wider one — engines agree
    * on `sig & (2^b - 1)` and a SQL oracle can compute b from its own
    * count(*) through this exact ladder.
    */
  def autoSigBits(n: Long, target: Int = 128,
      minBits: Int = 6, maxBits: Int = 24): Int = {
    var b = minBits
    while (b < maxBits && n > (1L << b) * target) b += 1
    b
  }

  /** Width the signatures are materialized at under auto-sizing (the
    * ladder's maxBits): past this, maxBucket capping is the guard. */
  val AutoSigWidth = 24

  /** embedding-cosine near-duplicate pairs above a threshold, via LSH
    * buckets (the embedding flavor of Dedup). `bits <= 0` (the
    * default) auto-sizes the bucket key to the corpus via autoSigBits:
    * signatures are computed once at AutoSigWidth and the bucket key
    * masks their low autoSigBits(count) bits, so candidate volume
    * stays ~n·target/2 instead of n²/2^bits.
    */
  def cosineNearDupPairs(df: DataFrame, threshold: Double,
      bits: Int = -1, nProbes: Int = 4, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = 100000): DataFrame = {
    // one self-join of the cached (id, probe, sig) bucket index —
    // same-bucket pairs only; candidates carry id pairs only and the
    // rescoring pass pays one dot product per pair (norms joined in).
    val sigs0 =
      if (bits > 0) probeSigs(df, idCol, vecCol, bits, nProbes, dims)
      else {
        val useBits = autoSigBits(Memo.count(df))
        // mask OUTSIDE the memoized full-width index: every corpus
        // size shares one cached signature materialization
        probeSigs(df, idCol, vecCol, AutoSigWidth, nProbes, dims)
          .withColumn("sig", col("sig").bitwiseAND(lit((1L << useBits) - 1)))
      }
    val a0 = sigs0.toDF("a_id", "a_probe", "a_sig")
    // hot-bucket skew guard, shared with Dedup.minhashLshPairs
    val a = Dedup.capBuckets(a0, Seq("a_probe", "a_sig"), maxBucket)
    val b = a.toDF("b_id", "b_probe", "b_sig")
    val cand = a.join(b,
        col("a_probe") === col("b_probe") && col("a_sig") === col("b_sig") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val av = df.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
      norm(col(vecCol)).as("a_norm"))
    val bv = df.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
      norm(col(vecCol)).as("b_norm"))
    cand.join(av, "a_id").join(bv, "b_id")
      .withColumn("sim",
        round(dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm")), 6))
      .filter(col("sim") >= threshold)
      .select(col("a_id").as("id_a"), col("b_id").as("id_b"), col("sim"))
  }

  /** Symmetric per-vector int8 quantization — the 4x storage/bandwidth
    * cut an embedding store takes before serving ANN at corpus scale:
    * scale = max|x| / 127, q_i = round(x_i / scale) ∈ [-127, 127].
    * Pure column expressions over one scan (array_max/transform/round
    * all codegen) — zero shuffles, and the arithmetic (float→double
    * widening, HALF_UP round) is engine-portable, so the DuckDB oracle
    * reproduces every q byte exactly. The zero vector keeps scale 0
    * and quantizes to zeros rather than dividing by it.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // scale is PROJECTED before the quantizing lambda captures it — a
    // lambda re-evaluates captured expressions per element, so an
    // inline array_max would be O(d^2) per row (see
    // TextAnalysis.shinglesOfTokens for the same rule)
    val v = transform(col(vecCol), x => x.cast("double"))
    df.select(col(idCol), v.as("__v"),
        (array_max(transform(v, x => abs(x))) / lit(127.0)).as("scale"))
      .select(col(idCol), col("scale"),
        when(col("scale") === 0.0,
            transform(col("__v"), _ => lit(0).cast("int")))
          .otherwise(transform(col("__v"),
            x => round(x / col("scale"), 0).cast("int"))).as("q"))
  }

  /** Johnson–Lindenstrauss random projection to `outDims` dimensions:
    * component j = <v, r_j> / sqrt(outDims) with r_j the deterministic
    * ±1 hyperplane [[rhpPlane]](seed, j) — the dimensionality cut a
    * pipeline takes before ANN/clustering when the embedding width,
    * not the row count, is the cost driver (64→16 quarters every
    * downstream dot product with JL-bounded distance distortion).
    *
    * Map-only: one codegen projection per row, outDims ordered-fold
    * dots against literal planes, no shuffle, no state. Components
    * divide by an IEEE sqrt and round to 6dp, so any engine replays
    * them bit-for-bit (the planes are md5-derived — public, portable).
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      outDims: Int, dims: Int, seed: Int = 42): DataFrame = {
    val sqrtK = math.sqrt(outDims.toDouble)
    df.select(col(idCol),
      array((0 until outDims).map { j =>
        val plane = array(rhpPlane(seed, j, dims).map(lit): _*)
        round(dot(col(vecCol), plane) / lit(sqrtK), 6)
      }: _*).as("proj"))
  }

  // --------------------------------------------------------------- PQ

  /** Product-quantization codebooks: `m` independent codebooks, each
    * `ksub` centroids over the `dims/m`-dimensional subvectors of one
    * subspace, trained with the exact deterministic Lloyd protocol of
    * [[ivfCentroids]] (training sample = `sampleN` smallest ids, init
    * = the `ksub` smallest ids' subvectors with code j = id, rounds
    * with 6dp-rounded decimal-exact per-dimension means) — so a SQL
    * oracle replays the floating point bit-for-bit.
    *
    * Shape: every round is one broadcast join of the sample's
    * (id, m, subvector) rows against the m·ksub current centroids,
    * a per-(id,m) argmin, and one partial-aggregated mean shuffle of
    * m·ksub·dsub cells; only those cells land on the driver. All
    * rounds touch the SAMPLE only — at 100 TB the corpus is read by
    * training exactly zero times (the encode pass reads it once).
    *
    * A codebook entry whose cell empties in a round drops out (same
    * semantics as the coarse quantizer); codes are therefore the
    * SURVIVING j values, not necessarily 0..ksub-1, and the per-
    * subspace codebook carries (j, centroid) pairs in j order.
    */
  private val pqMemo = new Memo[
    (Long, String, String, Int, Int, Int, Int, Int),
    Array[Array[(Int, Array[Double])]]](Memo.cap)

  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int, dims: Int,
      sampleN: Int = 1 << 17): Array[Array[(Int, Array[Double])]] =
    pqMemo.getOrElseUpdate(
      (Memo.planKey(df), idCol, vecCol, m, ksub, iters, dims, sampleN),
      trainPqCodebooks(df, idCol, vecCol, m, ksub, iters, dims, sampleN))

  private def trainPqCodebooks(df: DataFrame, idCol: String,
      vecCol: String, m: Int, ksub: Int, iters: Int, dims: Int,
      sampleN: Int): Array[Array[(Int, Array[Double])]] = {
    require(m > 0 && dims % m == 0, s"dims=$dims not divisible by m=$m")
    val dsub = dims / m
    val spark = df.sparkSession
    import spark.implicits._
    val train = trainSample(df, idCol, vecCol, sampleN)
    // (id, m, subvector) rows — the PQ training relation, reused by
    // every Lloyd round (cached: sampleN·m small rows)
    val sub = train.select(col("id"),
        posexplode(array((0 until m).map(i =>
          slice(col("vec"), i * dsub + 1, dsub)): _*)).as(Seq("m", "sv")))
      .cache()
    // released on every exit: the init require throws past it
    try {
      var cbs: Array[Array[(Int, Array[Double])]] = {
        val init = sub.filter(col("id") < ksub).collect()
          .map(r => (r.getInt(1), r.getLong(0).toInt, r.getSeq[Double](2).toArray))
        // fail BEFORE the Lloyd rounds, not after them: the id<ksub init
        // convention (shared with ivfCentroids, and what the SQL oracle
        // replays) assumes the sample's id space starts near 0 — a
        // sparse/offset id space would otherwise train for `iters`
        // rounds on zero centroids and die in the post-training require
        require(init.nonEmpty,
          s"PQ init: training sample has no ids < ksub=$ksub — the " +
            "id<ksub init convention needs a dense near-zero id space " +
            "(remap ids or lower ksub)")
        (0 until m).toArray.map(i =>
          init.filter(_._1 == i).map(t => (t._2, t._3)).sortBy(_._1))
      }
      for (_ <- 1 to iters) {
        val cbDf = broadcast(cbs.zipWithIndex.flatMap { case (cb, i) =>
          cb.map { case (j, v) => (i, j, v.toSeq) }
        }.toSeq.toDF("m", "j", "cvec"))
        val w = Window.partitionBy(col("id"), col("m"))
          .orderBy(col("d2").asc, col("j").asc)
        val assigned = sub.join(cbDf, "m")
          .withColumn("d2", l2sq(col("sv"), col("cvec")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        // ORDER-INDEPENDENT decimal mean, 6dp-rounded — see
        // trainCentroids for why (engine- and partitioning-portable)
        val means = assigned
          .select(col("m"), col("j"), posexplode(col("sv")).as(Seq("d", "x")))
          .groupBy(col("m"), col("j"), col("d"))
          .agg((sum(col("x").cast("decimal(38,18)")) / count(lit(1)))
            .cast("double").as("mu"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
        cbs = (0 until m).toArray.map { i =>
          means.filter(_._1 == i).groupBy(_._2).toArray.sortBy(_._1).map {
            case (j, ds) => (j, ds.sortBy(_._3).map(t =>
              BigDecimal(t._4).setScale(6, BigDecimal.RoundingMode.HALF_UP)
                .toDouble))
          }
        }
      }
      cbs.zipWithIndex.foreach { case (cb, i) =>
        require(cb.nonEmpty, s"PQ subspace $i lost every codebook entry") }
      cbs
    } finally sub.unpersist()
  }

  /** PQ encode as a compiled column: for each subspace, an ordered
    * fold over the (j, centroid) literal entries keeps the argmin-L2
    * code (strict `<` with entries in j order ≡ the l2-asc/j-asc
    * tiebreak). One map-only projection per corpus row — m·ksub·dsub
    * multiply-adds, no explode, no shuffle, whole-stage codegen.
    * Output: array<int> of length m — the 100 TB index payload is
    * m small ints (+ the norm) instead of 4·dims vector bytes.
    */
  private[graft] def pqEncode(vec: Column,
      cbs: Array[Array[(Int, Array[Double])]], dims: Int): Column = {
    val dsub = dims / cbs.length
    array(cbs.zipWithIndex.map { case (cb, i) =>
      val sv = slice(vec, i * dsub + 1, dsub)
      val entries = typedLit(cb.map { case (j, v) => (j, v.toSeq) }.toSeq)
      aggregate(entries,
        struct(lit(Double.MaxValue).as("d2"), lit(Int.MaxValue).as("j")),
        (acc, e) => {
          val d2 = l2sq(sv, e.getField("_2"))
          when(d2 < acc.getField("d2"),
            struct(d2.as("d2"), e.getField("_1").as("j")))
            .otherwise(acc)
        }).getField("j")
    }: _*)
  }

  /** Reconstruction of a PQ code: the chosen centroids concatenated in
    * subspace order (map-literal lookups — codegen, no join). The ADC
    * score dot(query, reconstruction) is the REFERENCE formulation —
    * the one the SQL oracle states — but the serving path computes the
    * same number through [[pqAdcLut]]/[[pqAdcDot]] (per-query lookup
    * tables, m adds per candidate instead of a dims-wide fold); a spec
    * pins the two within double-reassociation noise.
    */
  private[graft] def pqReconstruct(code: Column,
      cbs: Array[Array[(Int, Array[Double])]]): Column =
    concat(cbs.zipWithIndex.map { case (cb, i) =>
      element_at(typedLit(cb.map { case (j, v) => j -> v.toSeq }.toMap),
        element_at(code, i + 1))
    }: _*)

  /** Per-query ADC lookup table — the classic PQ serving layout:
    * lut[i][j+1] = dot(query's i-th subvector, codebook i's centroid
    * j), m·ksub small dots computed ONCE per query row (before the cid
    * explode, so once per query — not per probe, not per candidate).
    * Scoring a candidate then collapses to m array reads and m−1 adds
    * via [[pqAdcDot]], vs reconstructing a dims-wide vector and
    * folding a dims-wide dot per (query, candidate) pair — an
    * ~dims/m (= dsub) cut in the hot join's per-row work. Slots are
    * indexed by centroid id j as a DENSE array (zero-filled where a
    * Lloyd round dropped a j; those slots are never addressed because
    * codes only hold surviving ids). Numerically this regroups the ADC
    * dot into per-subspace partials summed in subspace order; the 6dp
    * rounding absorbs the ~1e-14 reassociation noise exactly as it
    * already absorbs engine summation-order differences vs the SQL
    * oracle.
    */
  private[graft] def pqAdcLut(vec: Column,
      cbs: Array[Array[(Int, Array[Double])]], dims: Int): Column = {
    val dsub = dims / cbs.length
    array(cbs.zipWithIndex.map { case (cb, i) =>
      val byJ = cb.map { case (j, v) => j -> v.toSeq }.toMap
      val dense = (0 to cb.map(_._1).max).map(j =>
        byJ.getOrElse(j, Seq.fill(dsub)(0.0)))
      val sv = slice(vec, i * dsub + 1, dsub)
      transform(typedLit(dense), cv => dot(sv, cv))
    }: _*)
  }

  /** ADC score of a PQ code against a [[pqAdcLut]] table: m lookups
    * summed in subspace order (codegen'd element_at chain).
    */
  private[graft] def pqAdcDot(lut: Column, code: Column, m: Int): Column =
    (0 until m).map(i =>
      element_at(element_at(lut, i + 1), element_at(code, i + 1) + 1))
      .reduce(_ + _)

  /** IVF-PQ approximate top-k — the memory-bounded ANN shape a 100 TB
    * embedding corpus actually serves: the coarse quantizer routes
    * queries to `nprobe` of `nlist` inverted lists (an equi-join on
    * cid, exactly [[ivfTopK]]), but the lists store PQ CODES (m ints +
    * a norm ≈ 16 bytes at m=8) instead of raw vectors (4·dims = 256
    * bytes at dims=64) — a ~16x cut in what must sit hot per executor.
    * Candidates are scored by asymmetric distance (query · code
    * reconstruction), the best `refine`·k per query are re-ranked
    * EXACTLY by joining their true vectors back (a broadcast semi-join
    * bounded by |queries|·refine·k — the only touch of raw vectors at
    * probe time), and the top k by exact cosine are returned.
    *
    * Fully deterministic: codebooks are 6dp-rounded, ADC and exact
    * scores are ordered folds rounded to 6dp, ranks tiebreak on n_id —
    * so a SQL oracle reproduces the output byte-for-byte.
    */
  private val pqInvMemo =
    Memo.frames[(Long, String, String, Int, Int, Int, Int, Int, Int, Int)]

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 2,
      m: Int = 8, ksub: Int = 16, pqIters: Int = 2, refine: Int = 3,
      dims: Int = 64, idCol: String = "vec_id", vecCol: String = "embedding",
      sampleN: Int = 1 << 17): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist, iters, sampleN)
    val cbs = pqCodebooks(corpus, idCol, vecCol, m, ksub, pqIters, dims,
      sampleN)
    // the compressed index: ONE codegen scan of the corpus (coarse cid
    // + PQ code + norm per row), cached; at 100 TB it persists
    // hash-partitioned by cid and is the only corpus-sized structure
    // keyed on EVERY parameter the baked centroids/codebooks depend on
    // — sampleN included (a different training sample is a different
    // index; serving one sampleN's codes against another's codebooks
    // mis-routes and mis-scores)
    val inv = pqInvMemo.getOrElseUpdate(
      (Memo.planKey(corpus), idCol, vecCol, nlist, iters, m, ksub,
        pqIters, dims, sampleN), {
        val built = corpus.select(
          element_at(nearestCids(col(vecCol), cents, 1), 1).as("cid"),
          col(idCol).cast("long").as("n_id"),
          pqEncode(col(vecCol), cbs, dims).as("code"),
          norm(col(vecCol)).as("n_norm"))
          .cache()
        Memo.Frame(built, Seq(built))
      }).df
    val probes = queries.select(col(idCol).cast("long").as("q_id"),
      col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_norm"),
      pqAdcLut(col(vecCol), cbs, dims).as("q_lut"),
      explode(nearestCids(col(vecCol), cents, nprobe)).as("cid"))
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_sim").desc, col("n_id").asc)
    val cand = broadcast(probes).join(inv, "cid")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc_sim",
        round(pqAdcDot(col("q_lut"), col("code"), m)
          / (col("q_norm") * col("n_norm")), 6))
      .withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= refine * k)
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("n_id"))
    val exact = corpus.select(col(idCol).cast("long").as("n_id"),
      col(vecCol).as("n_vec"), norm(col(vecCol)).as("x_norm"))
    val wR = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    broadcast(cand).join(exact, "n_id")
      .withColumn("sim", round(dot(col("q_vec"), col("n_vec"))
        / (col("q_norm") * col("x_norm")), 6))
      .withColumn("rk", row_number().over(wR))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("n_id"), col("sim"))
  }
}
