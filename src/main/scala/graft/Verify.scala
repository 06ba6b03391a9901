package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A query that
  * throws does not stop the dump, but the run exits non-zero naming it. */
object Verify {
  def main(args: Array[String]): Unit = args match {
    case Array(sfDir, outDir) => run(sfDir, outDir)
    case _ =>
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
  }

  private def run(sfDir: String, outDir: String): Unit = {
    // dev affordance: SPARK_GRAFT_ONLY=q1,q2 restricts the dump to named
    // queries (the oracle gate leaves it unset, so it always runs the lot)
    val queries = SparkEntry.selectFromEnv("verify")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cores = cpus, shufflePartitions = cpus, appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = dumpQueries(spark, sfDir, outDir, queries)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // sorted keys, so two dumps compare with cmp
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Dump each query's result to `<outDir>/<name>` as parquet and return
    * the names of the queries that threw (sorted), after dumping the rest.
    */
  def dumpQueries(
      spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      val error =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      // drop checkpointed blocks so 34 queries' worth don't accumulate
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      error
    }
    failed.sorted
  }
}
