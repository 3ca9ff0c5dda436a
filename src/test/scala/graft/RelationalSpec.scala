package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Relational

/** The q08/q09 single-scan flag fold against Spark's own set operators
  * on a fixture with duplicate and null custkeys.
  */
class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("status flag fold equals except (q08) and intersect (q09)") {
    import spark.implicits._
    def orders(rows: (Option[Long], String)*): DataFrame =
      rows.toDF("o_custkey", "o_orderstatus")
    def keys(df: DataFrame): Seq[Option[Long]] =
      df.collect().map(r => Option.when(!r.isNullAt(0))(r.getLong(0)))
        .toSeq.sortBy(_.getOrElse(Long.MinValue))
    // (except, intersect) from the fold, each checked against Spark's
    // EXCEPT DISTINCT / INTERSECT DISTINCT on the same input
    def folds(o: DataFrame): (Seq[Option[Long]], Seq[Option[Long]]) = {
      def side(status: String) = o.filter(col("o_orderstatus") === status)
        .select(col("o_custkey").as("custkey"))
      val except = keys(Relational.statusFlagFold(o,
        col("__has_o") && !col("__has_f")))
      val intersect = keys(Relational.statusFlagFold(o,
        col("__has_o") && col("__has_f")))
      assert(except == keys(side("O").except(side("F"))))
      assert(intersect == keys(side("O").intersect(side("F"))))
      (except, intersect)
    }
    val base = Seq[(Option[Long], String)](
      (Some(1L), "O"), (Some(1L), "O"),                  // O only, duplicated
      (Some(2L), "F"), (Some(2L), "F"),                  // F only
      (Some(3L), "O"), (Some(3L), "F"), (Some(3L), "O"), // both
      (Some(4L), "P"), (Some(4L), "O"),                  // O plus another status
      (Some(5L), "P"),                                   // neither
      (None, "O"), (None, "O"), (None, "P"))             // null on the O side
    assert(folds(orders(base: _*)) ==
      (Seq(None, Some(1L), Some(4L)), Seq(Some(3L))))
    // a null custkey on both sides intersects and leaves the except
    assert(folds(orders(base :+ ((None, "F")): _*)) ==
      (Seq(Some(1L), Some(4L)), Seq(None, Some(3L))))
  }
}
