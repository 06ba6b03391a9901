package graft

import java.nio.file.Files

/** Robustness: every declared query must run (returning zero rows is fine,
  * throwing is not) against empty copies of all tables — the behavior a
  * pipeline needs when a partition of the lake is legitimately empty — and
  * every stream twin must return the same column names and types there as
  * on sf0.001.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("empty-sf").toString
    // events stores TIMESTAMP(NANOS): read it as raw long nanos (the same
    // legacy conf Tables.events uses) so the empty copy round-trips
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.foreach { t =>
      Tables.load(spark, sf("sf0.001"), t).limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  /** Column names and types, nullability aside. */
  private def shape(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.catalogString).toSeq

  test("all queries run on empty tables without throwing") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, emptyDir)
        df.count()
        // a stream twin reads its sink back with the probe's own schema;
        // with no rows that comes from the no-batch path or a hand-shaped
        // fallback, which must agree with the streamed one
        if (name.startsWith("q_stream_") && shape(df) != shape(fn(spark, sf("sf0.001"))))
          Some(s"$name: schema ${shape(df)} differs from its sf0.001 schema")
        else None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
      } finally {
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
