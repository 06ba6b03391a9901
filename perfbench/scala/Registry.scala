package perfbench

import graft.{Sessions, SparkEntry}

/** Registry access for recording the query mix: `list` prints every
  * registered query name; `hash <dir> <name>...` prints each named query's
  * content hash over the tables in `dir`.
  */
object Registry {
  def main(args: Array[String]): Unit = args.toList match {
    case "list" :: Nil => SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    case "hash" :: dir :: names =>
      val cores = Runtime.getRuntime.availableProcessors
      val spark = Sessions.local(cores = cores, shufflePartitions = cores, appName = "graft-bench")
      try names.foreach { n =>
        println(s"$n ${ContentHash(SparkEntry.queries(n)(spark, dir))}")
        Harness.clearCaches(spark)
      } finally spark.stop()
    case _ =>
      System.err.println("usage: perfbench.Registry list | hash <dir> <name>...")
      sys.exit(2)
  }
}
