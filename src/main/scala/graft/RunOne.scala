package graft

/** Single-pass diagnostic runner: `runMain graft.RunOne <sfDir> <q1,q2>`
  * executes each named registered query ONCE (no warmup, no medians) and
  * prints its row count and wall seconds. For bounding a query whose
  * cost is the open question — e.g. the uncapped exact miner on the skew
  * replica, where [[Bench]]'s warmup+3-pass protocol would quadruple an
  * already-quadratic bill before reporting anything. Never used for
  * official numbers (those are Bench's interleaved medians).
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: runMain graft.RunOne <sfDir> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, names) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark =
      Sessions.local(cores = cpus, shufflePartitions = cpus, appName = "graft-runone")
    try names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      spark.sparkContext.setJobDescription(n) // guide §1.5: label jobs
      val t0 = System.nanoTime()
      // drain InternalRows, not .count(): same honesty rationale as Bench
      // (count lets Catalyst delete projections and aggregate expressions)
      val rows = SparkEntry.query(n)(spark, sfDir)
        .queryExecution.toRdd
        .mapPartitions { it =>
          var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator(n)
        }.fold(0L)(_ + _)
      println(f"RUNONE $n rows=$rows sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    } finally spark.stop()
  }
}
