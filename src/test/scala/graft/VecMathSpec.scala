package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraphdFunctions.{vec_dot, vec_norm}
import graft.operators.Similarity

/** The codegen'd VecDot/VecNorm must be bit-identical to the
  * declarative aggregate/zip_with formulation they replaced — the
  * similarity oracles compare doubles at 6dp, so the ordered IEEE fold
  * has to match exactly, for float and double arrays, interpreted and
  * codegen paths alike.
  */
class VecMathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  import org.apache.spark.sql.functions._

  private def declDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(transform(a, x => x.cast("double")),
        transform(b, x => x.cast("double")), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  private def declNorm(a: org.apache.spark.sql.Column) =
    sqrt(aggregate(transform(a, x => x.cast("double")),
      lit(0.0), (acc, x) => acc + x * x))

  private lazy val floatRows: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    (1 to 50).map(i =>
        (i.toLong, Array.fill(64)(rng.nextFloat() * 2f - 1f),
          Array.fill(64)(rng.nextFloat() * 2f - 1f)))
      .toDF("id", "a", "b")
  }

  test("VecDot/VecNorm match the aggregate/zip_with fold on float arrays") {
    val got = floatRows.select(
        vec_dot(col("a"), col("b")).as("d1"), declDot(col("a"), col("b")).as("d2"),
        vec_norm(col("a")).as("n1"), declNorm(col("a")).as("n2"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // bitwise-equal doubles
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("VecDot matches on double arrays (hyperplane literals)") {
    val plane = array(Similarity.rhpPlane(42, 3, 64).map(lit): _*)
    val got = floatRows.select(
        vec_dot(col("a"), plane).as("d1"), declDot(col("a"), plane).as("d2"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("interpreted eval agrees with codegen (expression used outside WSCG)") {
    // force the interpreted path via a driver-side eval
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val a = Array(0.25f, -1.5f, 3.0f)
    val b = Array(2.0f, 0.5f, -0.125f)
    val litA = Literal(new GenericArrayData(a.map(x => x: Any)), ArrayType(FloatType))
    val litB = Literal(new GenericArrayData(b.map(x => x: Any)), ArrayType(FloatType))
    val d = graft.functions.VecDot(litA, litB).eval(null).asInstanceOf[Double]
    val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
      acc + x.toDouble * y.toDouble
    }
    assert(d == expected)
    val n = graft.functions.VecNorm(litA).eval(null).asInstanceOf[Double]
    assert(n == math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)))
  }

  test("randomProject matches the scala reference fold component-for-component") {
    val k = 16; val dims = 64
    val rows = floatRows.select(col("id"), col("a"))
    val got = Similarity.randomProject(rows, "id", "a", k, dims)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val raw = rows.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val sqrtK = math.sqrt(k.toDouble)
    raw.foreach { case (id, v) =>
      val want = (0 until k).map { j =>
        val plane = Similarity.rhpPlane(42, j, dims)
        val d = v.indices.foldLeft(0.0)((acc, i) => acc + v(i).toDouble * plane(i))
        BigDecimal(d / sqrtK).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      assert(got(id) == want, s"id $id")
    }
  }

  test("union-find components agree with GraphX on random graphs") {
    import spark.implicits._
    import graft.graph.Analytics
    import graft.model.Primitive.{link, node}
    import graft.store.GraphStore
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val nV = 60 + trial * 40
      val nE = nV * 2
      val pairs = (1 to nE).map(_ =>
        (1L + rng.nextInt(nV), 1L + rng.nextInt(nV)))
      val edges = pairs.toDF("left", "right")
      val nodes = (1 to nV).map(_.toLong).toDF("id")
      // GraphX reference on a store of the same vertices and edges;
      // link ids sit above every vertex id
      val store = GraphStore.fromSeq(spark,
        (1 to nV).map(v => node(v.toLong)) ++
          pairs.zipWithIndex.map { case ((l, r), i) =>
            link(nV + 1L + i, left = l, right = Some(r)) })
      val gx = Analytics.connectedComponents(store)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dsu = Analytics.connectedComponentsDSU(nodes, edges, fanIn = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dsu == gx, s"trial $trial")
      // star alternation on the same random multigraph
      // (self-loops/parallels included by chance)
      val star = Analytics.connectedComponentsDSU(nodes, edges, fanIn = 2,
          Conf(ccStarRows = Some(0)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == gx, s"star trial $trial")
    }
  }
}
