package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, round}
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Analytics
import graft.model.Primitive.{link, node}
import graft.store.GraphStore

/** The size gates come from one immutable [[Conf]] per store or per
  * call: no JVM-global property steers a plan, a derived store keeps
  * its parent's regime, and two regimes run side by side.
  */
class ConfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val fx = GraphStore.fromSeq(spark, Seq(
    node(1, name = Some("a"), value = Some("x")), node(2), node(3), node(4),
    link(10, left = 1, right = Some(2)), link(11, left = 2, right = Some(3))))

  test("src/main reads no system property but java.io.tmpdir") {
    val reads = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if "sys\\.props|System\\.getPropert".r.findFirstIn(l).nonEmpty &&
            !l.contains("System.getProperty(\"java.io.tmpdir\")") => s"$f:${i + 1}"
        }
      }.toVector
    assert(reads.isEmpty, reads.mkString("property reads: ", ", ", ""))
  }

  test("every derived store keeps its conf") {
    val conf = Conf(smallStoreBytes = 0, fixedMax = 7)
    val st = fx.copy(conf = conf)
    val dir = Files.createTempDirectory("graft_conf").toString
    val batch = spark.createDataFrame(Seq(("a", "z"))).toDF("name", "value")
    Seq("asOf" -> st.asOf(10), "asOfTimestamp" -> st.asOfTimestamp(Long.MaxValue),
      "Writer.append" -> graft.write.Writer.write(st, """write (value="y")""")._1,
      "BulkMerge" -> graft.write.BulkMerge.mergeKeyed(st, batch, Seq("name")).store,
      "compact" -> st.compact(s"$dir/compacted"))
      .foreach { case (how, d) => assert(d.conf == conf, how) }
  }

  test("two regimes of PageRank and of components run concurrently, same answers") {
    import spark.implicits._
    def both[A](a: => A, b: => A): (A, A) = {
      val (fa, fb) = (Future(a), Future(b))
      (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    }
    def ranks(conf: Conf) = Analytics.pageRankDF(fx.copy(conf = conf), iters = 5)
      .select(col("id"), round(col("pagerank"), 6)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (bcast, shuffled) = both(ranks(Conf()), ranks(Conf(prBroadcastMaxRows = 0)))
    assert(bcast == shuffled && bcast.size == 4)
    val nodes = (1L to 20L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 9L), (11L, 11L)).toDF("left", "right")
    def components(conf: Conf) = Analytics.connectedComponentsDSU(nodes, edges, conf = conf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val starRuns = Analytics.starPathRuns.get()
    val (dsu, star) = both(components(Conf()), components(Conf(ccStarRows = Some(0))))
    assert(Analytics.starPathRuns.get() == starRuns + 1)
    assert(dsu == star && dsu(3L) == 1L && dsu(9L) == 5L && dsu(20L) == 20L)
  }
}
