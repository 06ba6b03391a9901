package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify fails loudly: a throwing query is reported by name while every
  * other query still gets its dump.
  */
class VerifySpec extends SparkSpec {

  test("dumpQueries reports a throwing query and still dumps the rest") {
    val out = java.nio.file.Files.createTempDirectory("verify_spec")
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_boom" -> ((_, _) => throw new IllegalStateException("planted failure")),
      "q_ok" -> ((s, _) => s.range(3).toDF("id")))
    val failed = Verify.dumpQueries(spark, sf("sf0.001"), out.toString, queries)
    assert(failed === Seq("q_boom"))
    assert(spark.read.parquet(s"$out/q_ok").count() === 3)
    assert(!java.nio.file.Files.exists(out.resolve("q_boom")))
    streaming.EventStreams.deleteRecursivelyOnExit(out)
  }
}
