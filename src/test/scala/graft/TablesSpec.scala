package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Primitive.node
import graft.store.GraphStore

/** `Tables.parquet` hands Spark the schema its own inference would
  * find: for every directory shape the engine reads back, the loaded
  * schema equals `spark.read.parquet(path).schema`, and a load fires
  * no Spark job.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  // the sf0.01 fixture tables, as the benchmark keeps them in the repo
  private val sf = "perfbench/data/sf0.01"

  /** run `body` with session confs set, restoring them after */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // events.parquet carries TIMESTAMP(NANOS)
  private val nanos = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  private def assertSameSchema(path: String): Unit =
    assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema,
      path)

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_tables").toString + "/" + name

  test("every fixture table loads with the schema Spark infers") {
    withConf(nanos) {
      Tables.names.foreach(t => assertSameSchema(s"$sf/$t.parquet"))
    }
  }

  test("loading the fixture tables fires no Spark job") {
    withConf(nanos) {
      val (dfs, jobs) = TestSpark.jobsDuring(
        Tables.names.map(Tables.load(spark, sf, _)))
      assert(dfs.length == 10)
      assert(jobs == 0)
    }
  }

  test("a saved store, partitioned by id_part, keeps Spark's schema") {
    val dir = tmp("prims")
    GraphStore.fromSeq(spark, Seq(
      node(1, value = Some("a")), node((1L << 20) + 2, value = Some("b"))))
      .save(dir)
    assertSameSchema(dir)
    assert(Tables.parquet(spark, dir).columns.last == "id_part")
  }

  test("a multi-part directory written by Spark keeps Spark's schema") {
    val dir = tmp("parts")
    spark.range(40).selectExpr("id", "cast(id as string) as s",
        "array(id, id + 1) as xs", "named_struct('k', id) as st")
      .repartition(4).write.parquet(dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("part-")) > 1)
    assertSameSchema(dir)
  }

  test("schema merging is left to Spark") {
    val dir = tmp("merge")
    spark.range(3).selectExpr("id", "id as a").write.parquet(s"$dir/k=1")
    spark.range(3).selectExpr("id", "id as b").write.parquet(s"$dir/k=2")
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assertSameSchema(dir)
      // one footer holds a or b, never both: only Spark's merge has both
      assert(Seq("a", "b").forall(Tables.parquet(spark, dir).columns.contains))
    }
  }

  test("an empty directory fails with Spark's own message") {
    val dir = tmp("empty")
    new java.io.File(dir).mkdirs()
    val ours = intercept[Exception](Tables.parquet(spark, dir))
    val theirs = intercept[Exception](spark.read.parquet(dir))
    assert(ours.getMessage == theirs.getMessage)
    assert(ours.getMessage.contains("Unable to infer schema"))
  }
}
