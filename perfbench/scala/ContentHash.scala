package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent content hash of a query result — the parity hash the
  * engine's chaos run uses, restated here because that one is private.
  * Each row hashes to xxhash64 over its string-cast columns (nulls as a
  * marker); rows combine by XOR and by a modular sum, so row order and
  * partitioning do not matter while duplicate rows (which XOR alone would
  * cancel) still change the result. The row count is folded in too.
  */
object ContentHash {
  def apply(df: DataFrame): Long = {
    val cols = df.columns.map(c => coalesce(col(s"`$c`").cast("string"), lit("<null>")))
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(
      coalesce(bit_xor(h), lit(0L)).as("x"),
      coalesce(sum(pmod(h, lit(1000000007L))), lit(0L)).as("s"),
      count(lit(1)).as("n")).head()
    r.getLong(0) ^ java.lang.Long.rotateLeft(r.getLong(1), 21) ^
      java.lang.Long.rotateLeft(r.getLong(2), 42)
  }
}

/** Self-check of [[ContentHash]]: the hash must not depend on row order or
  * partitioning, and must change when a duplicate row is dropped or a value
  * changes. Prints "ok" or exits non-zero; run by perfbench/tests.
  */
object ContentHashCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(cores = 2, shufflePartitions = 2, appName = "content-hash-check")
    try {
      import spark.implicits._
      val rows = Seq((1L, "a", Option(1.5)), (2L, "b", None), (2L, "b", None), (3L, null, Option(0.0)))
      val df = rows.toDF("id", "s", "x")
      val base = ContentHash(df)
      val permuted = ContentHash(df.orderBy(col("id").desc).repartition(3))
      val reversed = ContentHash(rows.reverse.toDF("id", "s", "x").coalesce(1))
      val deduped = ContentHash(df.distinct())
      val changed = ContentHash(rows.updated(0, (1L, "a", Option(2.5))).toDF("id", "s", "x"))
      val failures = Seq(
        "permuted rows change the hash" -> (permuted != base),
        "reversed rows change the hash" -> (reversed != base),
        "dropping a duplicate row keeps the hash" -> (deduped == base),
        "changing a value keeps the hash" -> (changed == base)).collect { case (m, true) => m }
      if (failures.nonEmpty) {
        failures.foreach(System.err.println)
        sys.exit(1)
      }
      println("ok")
    } finally spark.stop()
  }
}
