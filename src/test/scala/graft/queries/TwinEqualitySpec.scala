package graft.queries

import graft.{ChaosRun, SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** A twin shares its batch query's oracle, so it must return the same
  * rows. Compared the way the oracle gate compares: columns sorted by
  * name, doubles rounded to 9 places, then an order-independent content
  * hash of the rows.
  */
class TwinEqualitySpec extends SparkSpec {

  private def canon(df: DataFrame): DataFrame =
    df.select(df.columns.sorted.toIndexedSeq.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => round(col(c).cast(DoubleType), 9).as(c)
        case _ => col(c)
      }
    }: _*)

  private def rows(d: QueryDef): (Seq[String], Long) =
    try {
      val df = d.build(spark, sf("sf0.001"))
      (df.columns.toSeq.sorted, ChaosRun.contentHash(canon(df)))
    } finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  SparkEntry.registry.filter(_.twinOf.isDefined).groupBy(_.twinOf.get.name).toSeq.sortBy(_._1)
    .foreach { case (batchName, twins) =>
      test(s"twins of $batchName return its rows") {
        val expected = rows(twins.head.twinOf.get)
        twins.foreach(t => assert(rows(t) === expected, s"${t.name} differs from $batchName"))
      }
    }
}
