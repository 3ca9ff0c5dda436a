package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Product-quantization ANN (Similarity.pqCodebooks / pqEncode /
  * ivfPqTopK): encode is a true per-subspace argmin, reconstruction
  * has the right geometry, the un-pruned configuration degenerates to
  * exact brute-force, and the pruned configuration keeps useful
  * recall on the real test embeddings.
  */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def emb = Tables.load(spark, dir, "embeddings")

  test("pqEncode picks the argmin-L2 code per subspace (vs a scala reference)") {
    val dims = 64; val m = 8; val dsub = dims / m
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = m, ksub = 16, iters = 2, dims = dims, sampleN = 256)
    assert(cbs.length == m)
    cbs.foreach(cb => assert(cb.nonEmpty && cb.map(_._2.length).forall(_ == dsub)))
    val rows = emb.select(col("vec_id"), col("embedding"),
        Similarity.pqEncode(col("embedding"), cbs, dims).as("code"))
      .limit(50).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val code = r.getSeq[Int](2)
      assert(code.length == m)
      for (i <- 0 until m) {
        val sv = v.slice(i * dsub, (i + 1) * dsub).map(_.toDouble)
        // reference argmin: l2 asc, j asc
        val want = cbs(i).map { case (j, c) =>
          var s = 0.0; var d = 0
          while (d < dsub) { val t = sv(d) - c(d); s += t * t; d += 1 }
          (s, j)
        }.minBy(identity)._2
        assert(code(i) == want, s"subspace $i of vec ${r.getLong(0)}")
      }
    }
  }

  test("LUT ADC (pqAdcLut/pqAdcDot) == reference reconstruct-then-dot") {
    // the serving path scores candidates through per-query lookup
    // tables; this pins it to the reference formulation the SQL oracle
    // states (dot(q, pqReconstruct(code))) within double-reassociation
    // noise — far inside the 6dp rounding the operator applies
    val dims = 64; val m = 8
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = m, ksub = 16, iters = 2, dims = dims, sampleN = 256)
    val rows = emb.limit(40).select(
        Similarity.pqAdcDot(
          Similarity.pqAdcLut(col("embedding"), cbs, dims),
          Similarity.pqEncode(col("embedding"), cbs, dims), m).as("lut"),
        Similarity.dot(col("embedding"),
          Similarity.pqReconstruct(
            Similarity.pqEncode(col("embedding"), cbs, dims), cbs)).as("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"lut=${r.getDouble(0)} ref=${r.getDouble(1)}")
    }
  }

  test("un-pruned IVF-PQ (probe all lists, refine covers corpus) == brute force") {
    val q = emb.filter(col("vec_id") < 10)
    val n = emb.count().toInt
    val got = Similarity.ivfPqTopK(emb, q, k = 5,
      nlist = 16, nprobe = 16, iters = 2, m = 8, ksub = 16, pqIters = 2,
      refine = n, dims = 64, sampleN = 256).collect()
    val want = Similarity.bruteTopK(emb, q, k = 5).collect()
    assert(got.map(_.toSeq).toSet == want.map(_.toSeq).toSet)
  }

  test("pruned IVF-PQ keeps useful recall vs brute force on real embeddings") {
    val q = emb.filter(col("vec_id") < 20)
    val got = Similarity.ivfPqTopK(emb, q, k = 5,
      nlist = 16, nprobe = 4, iters = 2, m = 8, ksub = 16, pqIters = 2,
      refine = 3, dims = 64, sampleN = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val want = Similarity.bruteTopK(emb, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (got & want).size.toDouble / want.size
    // deterministic corpus + deterministic quantizers => a fixed
    // number; floor set WELL below the observed value so the test
    // pins "pruning hasn't broken candidate routing", not noise
    assert(recall >= 0.4, s"recall@5 = $recall")
    // every hit must carry the EXACT cosine (re-rank joined true
    // vectors): spot-check one query's top hit against bruteTopK
    val gotTop = Similarity.ivfPqTopK(emb, q, k = 5,
      nlist = 16, nprobe = 4, iters = 2, m = 8, ksub = 16, pqIters = 2,
      refine = 3, dims = 64, sampleN = 1024)
      .filter(col("q_id") === 0 && col("rk") === 1).collect()
    if (gotTop.nonEmpty) {
      val exact = Similarity.bruteTopK(emb, q, k = emb.count().toInt)
        .filter(col("q_id") === 0)
        .filter(col("n_id") === gotTop.head.getLong(2)).collect()
      assert(exact.head.getDouble(3) == gotTop.head.getDouble(3))
    }
  }

  test("IVF and PQ training release their cache when the id-space check fails") {
    import spark.implicits._
    // ids start at 1000: no id falls under nlist or ksub, so both
    // trainers reject the sample after caching it
    val offset = (1000L until 1016L)
      .map(i => (i, Array.tabulate(8)(d => ((i + d) % 7).toFloat)))
      .toDF("vec_id", "embedding")
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    intercept[IllegalArgumentException] {
      Similarity.ivfCentroids(offset, "vec_id", "embedding", nlist = 4,
        iters = 1)
    }
    assert(persisted == before, "IVF training sample left cached")
    intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(offset, "vec_id", "embedding", m = 2, ksub = 4,
        iters = 1, dims = 8)
    }
    assert(persisted == before, "PQ training relation left cached")
  }
}
