package graft.udx

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed Dataset[T] boundary (SURVEY §1.5): case-class rows + a typed
  * Aggregator through groupByKey — compile-time field checks where the
  * schema is static. Sums are kept in exact 1e-2 integer units so the typed
  * path stays hash-matchable.
  */
object TypedOps {

  case class LineRow(l_returnflag: String, l_quantity: Double)

  object QtySum extends Aggregator[LineRow, (Long, Long), (Long, Long)] {
    def zero: (Long, Long) = (0L, 0L)
    def reduce(b: (Long, Long), r: LineRow): (Long, Long) =
      (b._1 + 1, b._2 + math.round(r.l_quantity * 100))
    def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(r: (Long, Long)): (Long, Long) = r
    def bufferEncoder: Encoder[(Long, Long)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    def outputEncoder: Encoder[(Long, Long)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "typed_dataset_agg",
      Some(
        "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_e2 " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
      (s, d) => {
        val sp = s
        import sp.implicits._
        Tables.t(s, d, "lineitem")
          .select("l_returnflag", "l_quantity")
          .as[LineRow]
          .groupByKey(_.l_returnflag)
          .agg(QtySum.toColumn.name("agg"))
          .map { case (flag, (n, sum)) => (flag, n, sum) }
          .toDF("l_returnflag", "n", "sum_qty_e2")
          .orderBy("l_returnflag")
      })
  )
}
