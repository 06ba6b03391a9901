package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chaos-parity harness at bench scale (VERDICT r8 #7): run a set of
  * batch queries CLEAN and then with the reference-rate chaos injector
  * ([[Chaos]]: 5% task crash / 10% delay at every table-scan stage)
  * enabled, and assert both produce the same order-independent content
  * hash — FaultToleranceSpec's golden-output claim, re-proven under real
  * shuffle volume where retries interleave with live stages instead of a
  * two-row toy.
  *
  *   sbt "runMain graft.ChaosRun testdata-sf1"
  *
  * Prints one JSON line `{"dir":…,"queries":{name:{"clean":h,"chaos":h,
  * "match":bool}},"crashes":N,"delays":N,"all_match":bool}` for
  * SCALING.md. The defaults cover the heaviest batch shapes (wide agg,
  * broadcast star join, banded dedup self-joins, bitmap runtime filter,
  * general-reducer MapReduce); streaming queries are excluded — their
  * exactly-once story is checkpoint replay, a different mechanism than
  * task retry, and their sinks do not rerun cleanly inside one session.
  */
object ChaosRun {

  val DefaultQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_volume",
    "wordcount_topk", "mr_inverted_index", "q_token_counts",
    "q_dedup_neardup", "q_simhash_pairs", "q_embed_neardup_lsh",
    "q_bloom_join")

  /** Order-independent content hash: commutative aggregates of per-row
    * xxhash64 over every column stringified — insensitive to row order
    * and partitioning, sensitive to any value change. bit_xor plus a
    * modular sum: both overflow-free under ANSI mode, and the sum term
    * keeps duplicate rows (which XOR alone would cancel in pairs)
    * visible. Computed distributed; one long comes back.
    */
  private[graft] def contentHash(df: DataFrame): Long = {
    val cols = df.columns.map(c => coalesce(col(c).cast("string"), lit("<null>")))
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(
      coalesce(bit_xor(h), lit(0L)).as("x"),
      coalesce(sum(pmod(h, lit(1000000007L))), lit(0L)).as("s"),
      count(lit(1)).as("n")).head()
    r.getLong(0) ^ java.lang.Long.rotateLeft(r.getLong(1), 21) ^
      java.lang.Long.rotateLeft(r.getLong(2), 42)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("testdata-sf1")
    val names = args.lift(1).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(DefaultQueries)
    // maxTaskFailures=6: P(6 straight crashes at 5%) ~ 1.6e-8 per task —
    // the reference master re-queues forever, local mode needs a bound
    val spark = Sessions.local(
      cores = 32, shufflePartitions = 32, appName = "graft-chaos",
      maxTaskFailures = 6)
    try {
      // optional rate overrides (args 2/3): the reference rates are the
      // default; a raised crash rate forces the retry path on short runs
      // whose few scan tasks might otherwise never roll a crash
      args.lift(2).foreach(r => spark.conf.set(Chaos.CrashRateKey, r))
      args.lift(3).foreach(r => spark.conf.set(Chaos.DelayRateKey, r))
      val results = names.map { name =>
        val fn = SparkEntry.query(name)
        spark.conf.set(Chaos.EnabledKey, "false")
        val clean = contentHash(fn(spark, dir))
        spark.conf.set(Chaos.EnabledKey, "true")
        val chaos = contentHash(fn(spark, dir))
        spark.conf.set(Chaos.EnabledKey, "false")
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        println(s"  $name clean=$clean chaos=$chaos match=${clean == chaos}")
        name -> (clean, chaos)
      }
      val qJson = results.map { case (n, (a, b)) =>
        s""""$n":{"clean":$a,"chaos":$b,"match":${a == b}}"""
      }.mkString("{", ",", "}")
      println(
        s"""{"dir":"$dir","queries":$qJson,"crashes":${Chaos.crashes.get()},""" +
        s""""delays":${Chaos.delays.get()},""" +
        s""""all_match":${results.forall { case (_, (a, b)) => a == b }}}""")
    } finally spark.stop()
  }
}
