package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev utility: dump `.explain("formatted")` for NAMED registered queries
  * into one file per query — the before/after plan evidence the
  * optimization rounds commit under `plans/r<N>/`.
  *
  *   sbt "runMain graft.PlanOne <sfDir> <outDir> <suffix> <q1,q2,...>"
  *
  * writes `<outDir>/<query>_<suffix>.txt`. Unlike [[PlanDump]] (the
  * curated PLANS.md generator) this takes the query list from the
  * command line, so a round can capture exactly the queries it touched.
  */
object PlanOne {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: runMain graft.PlanOne <sfDir> <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = Sessions.local(cores = 4, appName = "graft-planone")
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
        val df = SparkEntry.query(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"wrote $outDir/${n}_$suffix.txt")
      }
    } finally spark.stop()
  }
}
