package perfbench

import graft.{LoadMarkers, Main, Sessions, SparkEntry, Tables}
import graft.functions.{FixedPointLn, HashFunctions, TextFunctions, VectorExpressions}
import graft.operators.{Dedup, Packing, Pipeline, TextAnalysis, WordCount}
import graft.plans.ProgressListener
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up the session several times, run
  * untimed warm-up jobs for at least the run's seconds (the first job's
  * outputs are checked), then run jobs in a closed loop (one client; the
  * next job starts when the last one ends) until the run's seconds are
  * used, and write every raw sample to `--out` as JSON. The JVM keeps
  * getting faster for a minute or more — its JIT compiler stays busy at
  * about one compile-second per wall-second — so timed jobs measure a JVM
  * at a fixed point of that curve, not a settled one.
  *
  * With `--trace 1` the loop alternates untraced and traced jobs (their
  * wall-time ratio is the tracing overhead), and kernel passes follow it.
  * All statistics are computed by the Python harness (`perfbench/harness`) from the raw samples.
  *
  * Usage: `perfbench.Harness --workload <wordcount|query_mix|curation>
  * --inputs <dir> --work <dir> --seconds <s> --trace <0|1> --out <file>`
  */
object Harness {
  /** Session set-ups per run; setup_s is their median. */
  val SetupRepeats = 9
  /** Least warm-up seconds, whatever the run's length. A wordcount job takes
    * about a second on 4 cores and got faster over its first fifteen or so,
    * from 1.7 s to 1.0 s and from 6 to 3 CPU seconds; timed jobs taken on
    * that stretch made a run's medians depend on how many of them fit in it.
    * The cold first job of the other workloads already takes longer than this.
    */
  val MinWarmupS = 15.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val inputs = Paths.get(opts("inputs"))
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)
    val workload: Workload = opts("workload") match {
      case "wordcount" => new WordcountWorkload(inputs, work)
      case "query_mix" => new QueryMixWorkload(inputs)
      case "curation" => new CurationWorkload(inputs, work)
      case other => sys.error(s"unknown workload $other")
    }
    val result = run(workload, opts("seconds").toDouble, opts("trace") == "1")
    Files.write(Paths.get(opts("out")), Json(result).getBytes(UTF_8))
  }

  def run(w: Workload, seconds: Double, trace: Boolean): Map[String, Any] = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // set-up i: JVM start (i = 0) or the previous session's stop → session ready
    val setup = mutable.ArrayBuffer.empty[Double]
    val sessionBuild = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until SetupRepeats).foreach { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      val b0 = System.nanoTime()
      spark = w.session()
      val t1 = System.nanoTime()
      sessionBuild += (t1 - b0) / 1e9
      setup += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else (t1 - t0) / 1e9)
    }
    val checks = new Checks
    val jvmsAtStart = LoadMarkers.jvmCount()
    val steal0 = LoadMarkers.stealTicks()
    val wall0 = System.nanoTime()
    val cpuAll0 = LoadMarkers.procCpuSec()

    val warm0 = System.nanoTime()
    val inputBytes = new InputBytes
    spark.sparkContext.addSparkListener(inputBytes)
    w.warmup(spark, checks)
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(inputBytes)
    // warm up for at least as long as the run measures
    while ((System.nanoTime() - warm0) / 1e9 < math.max(seconds, MinWarmupS)) { w.job(spark); w.afterJob(spark, checks) }
    val warmupS = (System.nanoTime() - warm0) / 1e9

    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streams)
    }
    val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    def count(traced: Boolean) = jobs.count(_("traced") == traced)
    while (elapsed < seconds || count(false) == 0 || (trace && count(true) == 0)) {
      val traced = trace && jobs.size % 2 == 1
      val j0 = JitCpu.seconds()
      val c0 = LoadMarkers.procCpuSec()
      val t0 = System.nanoTime()
      val sample = tracer match {
        case Some(t) if traced => t.span("job", "workload", 0L)(id => w.tracedJob(spark, t, id))
        case Some(_) =>
          spark.sparkContext.setLocalProperty(Tracer.SpanKey, Tracer.Off)
          try w.job(spark) finally spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
        case None => w.job(spark)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = LoadMarkers.procCpuSec() - c0
      val jit = JitCpu.seconds() - j0
      w.afterJob(spark, checks)
      jobs += (sample ++ Map("wall" -> wall, "cpu" -> cpu, "jit_cpu" -> jit, "traced" -> traced))
    }
    val loopS = elapsed
    val traceOut = tracer.map { t =>
      val snap = t.snapshot()
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, Tracer.Off)
      snap ++ Map("kernels" -> w.kernels(spark), "layers" -> w.layerCounts(spark))
    }
    val steal1 = LoadMarkers.stealTicks()
    val wallAll = (System.nanoTime() - wall0) / 1e9
    val cores = Runtime.getRuntime.availableProcessors
    val load = Map(
      "cores" -> cores,
      "jvms" -> jvmsAtStart,
      "loadavg" -> LoadMarkers.loadAvg(),
      "cpu_per_wall" -> (LoadMarkers.procCpuSec() - cpuAll0) / wallAll,
      "steal_frac" -> (if (steal0 < 0 || steal1 < 0) -1.0 else (steal1 - steal0) / 100.0 / (wallAll * cores)))
    val out = Map(
      "setup_s" -> setup.toSeq,
      "session_build_s" -> sessionBuild.toSeq,
      "warmup_s" -> warmupS,
      "warmup_input_bytes" -> inputBytes.bytes,
      "loop_s" -> loopS,
      "jobs" -> jobs.toSeq,
      "checks" -> checks.toMap,
      "facts" -> w.facts,
      "peak_rss_mb" -> peakRssMb(),
      "load" -> load) ++ traceOut.map("trace" -> _)
    spark.stop()
    out
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Iterates every output row of the physical plan, as the engine's own
    * bench does: each output column is computed, nothing is added on top.
    */
  def drain(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition { it => while (it.hasNext) it.next() }

  /** Blocking unpersist of every cached block, between jobs. */
  def clearCaches(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Median seconds per row-kernel pass → rows per second over `rows` input rows. */
  def kernelRate(rows: Long, passes: Int = 5)(body: => Unit): Double = {
    val ts = (1 to passes).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted
    rows / ts(ts.size / 2)
  }

  def storageBlocks(spark: SparkSession): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum, infos.map(i => i.memSize + i.diskSize).sum)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Bytes read from input files by every task it sees. */
final class InputBytes extends org.apache.spark.scheduler.SparkListener {
  @volatile var bytes = 0L
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytes += e.taskMetrics.inputMetrics.bytesRead
}

/** Output-check tally: every check attempted, and the failures by message. */
final class Checks {
  private var attempted = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }
  def toMap: Map[String, Any] = Map("attempted" -> attempted, "failures" -> failures.toSeq)
}

trait Workload {
  def session(): SparkSession
  /** Untimed first job; checks its outputs. */
  def warmup(spark: SparkSession, checks: Checks): Unit
  /** One timed job, untraced. */
  def job(spark: SparkSession): Map[String, Any]
  /** One timed job with spans under `parent`. */
  def tracedJob(spark: SparkSession, t: Tracer, parent: Long): Map[String, Any]
  /** Untimed checks of the job just finished; clears its cached blocks. */
  def afterJob(spark: SparkSession, checks: Checks): Unit
  /** Traced run only: rows per second of single public kernels. */
  def kernels(spark: SparkSession): Map[String, Double]
  /** Traced run only: untimed layer counts that need extra engine calls. */
  def layerCounts(spark: SparkSession): Map[String, Any] = Map.empty
  /** Input facts the Python harness needs for rates and checks. */
  def facts: Map[String, Any] = Map.empty
}

/** The reference CLI job: `Main.run` over a directory of text files. */
final class WordcountWorkload(inputs: Path, work: Path) extends Workload {
  private val files = {
    val s = Files.list(inputs)
    try s.iterator.asScala.map(_.toString).filter(_.endsWith(".txt")).toSeq.sorted
    finally s.close()
  }
  private val expected = new String(Files.readAllBytes(inputs.resolve("expected-top-k")), UTF_8)
  private val out = work.resolve("mr-final.txt")

  def session(): SparkSession = {
    val spark = Sessions.local(shufflePartitions = Main.NReduce, appName = "graft-mapreduce")
    spark.sparkContext.addSparkListener(new ProgressListener)
    spark
  }

  def warmup(spark: SparkSession, checks: Checks): Unit = {
    Files.deleteIfExists(out)
    Main.run(spark, files, Main.K, out.toString)
    afterJob(spark, checks)
  }

  def job(spark: SparkSession): Map[String, Any] = {
    Main.run(spark, files, Main.K, out.toString)
    Map.empty
  }

  /** `Main.run`'s own composition, one span per layer it crosses. */
  def tracedJob(spark: SparkSession, t: Tracer, parent: Long): Map[String, Any] = {
    val text = t.span("read.text", "tables", parent)(_ => spark.read.text(files: _*))
    val df = t.span("WordCount.run", Tracer.BuildLayer, parent)(_ =>
      WordCount.formatted(WordCount.topK(WordCount.counts(text, "value"), Main.K)))
    t.span("executedPlan", "plan", parent)(_ => df.queryExecution.executedPlan)
    t.span("collect", "exec", parent) { _ =>
      val lines = df.collect().map(_.getString(0))
      Files.write(out, lines.map(_ + "\n").mkString.getBytes(UTF_8))
    }
    Map("plan" -> Seq(Planning.phases(df)))
  }

  def afterJob(spark: SparkSession, checks: Checks): Unit = {
    val got = new String(Files.readAllBytes(out), UTF_8)
    checks.check(got == expected, s"mr-final.txt:\n$got\nexpected:\n$expected")
    Files.delete(out)
  }

  def kernels(spark: SparkSession): Map[String, Double] = {
    val lines = spark.read.text(files: _*).cache()
    val n = lines.count()
    val rate = Harness.kernelRate(n)(Harness.drain(lines
      .select(explode(TextFunctions.tokens(col("value"))).as("t"))
      .select(TextFunctions.normalizeWord(col("t")))))
    lines.unpersist(blocking = true)
    Map("tokens_normalize" -> rate)
  }

  override def facts: Map[String, Any] = Map("input_bytes" -> files.map(f => Files.size(Paths.get(f))).sum)
}

/** Catalyst phase durations of a query whose plan has been forced. */
object Planning {
  def phases(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
}

/** A fixed list of registered queries, built and drained as the engine's
  * bench does, over one scale-factor directory. The warm-up pass checks
  * each query's content hash against the recorded one.
  */
final class QueryMixWorkload(inputs: Path) extends Workload {
  private val dir = new String(Files.readAllBytes(inputs.resolve("data-dir")), UTF_8).trim
  private val names = Files.readAllLines(inputs.resolve("queries")).asScala.map(_.trim).filter(_.nonEmpty).toSeq
  private val expected: Map[String, Long] =
    Files.readAllLines(inputs.resolve("expected-hashes")).asScala.map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(n, h) = l.split("\\s+"); n -> h.toLong }.toMap
  private val cores = Runtime.getRuntime.availableProcessors

  def session(): SparkSession =
    Sessions.local(cores = cores, shufflePartitions = cores, appName = "graft-bench")

  def warmup(spark: SparkSession, checks: Checks): Unit = names.foreach { n =>
    val got = try Some(ContentHash(SparkEntry.queries(n)(spark, dir)))
      catch { case e: Throwable => checks.check(false, s"$n failed: $e"); None }
    got.foreach(h => checks.check(expected.get(n).contains(h), s"$n hash $h, expected ${expected.get(n)}"))
    Harness.clearCaches(spark)
  }

  def job(spark: SparkSession): Map[String, Any] = {
    val qs = names.map { n =>
      val t0 = System.nanoTime()
      Harness.drain(SparkEntry.queries(n)(spark, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      Harness.clearCaches(spark)
      Seq(n, dt)
    }
    Map("queries" -> qs)
  }

  /** Each query as build (`fn(spark, dir)`) → plan (`executedPlan`) → exec (drain). */
  def tracedJob(spark: SparkSession, t: Tracer, parent: Long): Map[String, Any] = {
    val qs = names.map { n =>
      val t0 = System.nanoTime()
      val plan = t.span(n, "query", parent) { q =>
        val df = t.span("build", Tracer.BuildLayer, q)(_ => SparkEntry.queries(n)(spark, dir))
        t.span("plan", "plan", q)(_ => df.queryExecution.executedPlan)
        t.span("exec", "exec", q)(_ => Harness.drain(df))
        Planning.phases(df)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      Harness.clearCaches(spark)
      Map("name" -> n, "s" -> dt, "plan" -> plan)
    }
    Map("queries" -> qs.map(q => Seq(q("name"), q("s"))), "plan" -> qs.map(_("plan")))
  }

  def afterJob(spark: SparkSession, checks: Checks): Unit = ()

  def kernels(spark: SparkSession): Map[String, Double] = {
    val emb = Tables.embeddings(spark, dir).select(col("embedding")).cache()
    val n = emb.count()
    val centroids = emb.limit(16).collect().map(_.getSeq[Float](0).toArray)
    val li = Tables.lineitem(spark, dir)
      .select((col("l_extendedprice") * 100).cast("long").plus(1L).as("x")).cache()
    val nLi = li.count()
    val v = col("embedding")
    val rates = Map(
      "vec_dot" -> Harness.kernelRate(n)(Harness.drain(emb.select(VectorExpressions.vecDot(v, v)))),
      "hyperplane_buckets" -> Harness.kernelRate(n)(Harness.drain(
        emb.select(VectorExpressions.hyperplaneBuckets(v, 8, 8)))),
      "centroid_probes" -> Harness.kernelRate(n)(Harness.drain(
        emb.select(VectorExpressions.centroidProbes(v, centroids, 4)))),
      "ln_f" -> Harness.kernelRate(nLi)(Harness.drain(li.select(FixedPointLn.lnF(col("x"))))))
    emb.unpersist(blocking = true)
    li.unpersist(blocking = true)
    rates
  }
}

/** The curation chain, stage by stage, over a generated documents table:
  * quality → exact dedup → near-dup pairs and clusters → retention funnel
  * → sharded export and its verification.
  */
final class CurationWorkload(inputs: Path, work: Path) extends Workload {
  private val dir = inputs.toString
  private val exportDir = work.resolve("export")
  private val cores = Runtime.getRuntime.availableProcessors
  private var outputs: Map[String, Any] = Map.empty
  private var reference: Option[Map[String, Any]] = None
  private var blocks = (0L, 0L)

  def session(): SparkSession =
    Sessions.local(cores = cores, shufflePartitions = cores, appName = "graft-curation")

  private def chain(spark: SparkSession, stage: (String, String) => (=> Any) => Any): Map[String, Any] = {
    def run[T](name: String, layer: String)(body: => T): T = stage(name, layer)(body).asInstanceOf[T]
    val docs = run("Tables.documents", "tables")(Tables.documents(spark, dir))
    run("quality", "textanalysis")(Harness.drain(TextAnalysis.docStats(docs)))
    val exact = run("exact", "dedup")(Dedup.exactDuplicates(docs).where(col("n_copies") > 1)
      .select("keeper_id", "n_copies").collect().map(r => Seq(r.getLong(0), r.getLong(1))).toSeq)
    val pairs = run("neardup", "dedup") {
      val p = Dedup.nearDuplicatePairs(docs).select("doc_a", "doc_b", "jaccard").collect()
      val pairDf = spark.createDataFrame(
        spark.sparkContext.parallelize(p.toSeq.map(r => Row(r.getLong(0), r.getLong(1)))),
        org.apache.spark.sql.types.StructType.fromDDL("doc_a BIGINT, doc_b BIGINT"))
      Harness.drain(Dedup.clustersFromPairs(docs, pairDf))
      p.map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val funnel = run("funnel", "pipeline") {
      val rows = Pipeline.retentionFunnel(docs).collect()
        .map(r => Seq(r.getString(0), r.getString(1), r.getLong(2))).toSeq
      blocks = Harness.storageBlocks(spark)
      rows
    }
    run("export", "packing")(Packing.writeShardedExport(docs, exportDir.toString))
    val verify = run("verify", "packing")(
      Packing.verifyShardedExport(spark, exportDir.toString, Packing.shardManifest(docs)).collect()
        .map(r => Seq("docs_match", "tokens_match", "digest_match", "head_match")
          .map(c => Option(r.getAs[java.lang.Boolean](c)).exists(_.booleanValue))).toSeq)
    Map("exact" -> exact.sortBy(_.head), "pairs" -> pairs.sortBy(p => (p(0).asInstanceOf[Long], p(1).asInstanceOf[Long])),
      "funnel" -> funnel.sortBy(_.mkString("/")), "verify" -> verify)
  }

  def warmup(spark: SparkSession, checks: Checks): Unit = {
    job(spark)
    reference = Some(outputs)
    afterJob(spark, checks)
  }

  /** One chain; each stage's seconds are recorded as one query sample. */
  private def timedChain(spark: SparkSession, wrap: (String, String) => (=> Any) => Any): Seq[Seq[Any]] = {
    val stages = mutable.ArrayBuffer.empty[Seq[Any]]
    outputs = chain(spark, (name, layer) => body => {
      val t0 = System.nanoTime()
      val r = wrap(name, layer)(body)
      stages += Seq(name, (System.nanoTime() - t0) / 1e9)
      r
    })
    stages.toSeq
  }

  def job(spark: SparkSession): Map[String, Any] =
    Map("queries" -> timedChain(spark, (_, _) => body => body))

  def tracedJob(spark: SparkSession, t: Tracer, parent: Long): Map[String, Any] =
    Map("queries" -> timedChain(spark, (name, layer) => body => t.span(name, layer, parent)(_ => body)),
      "materialize_blocks" -> blocks._1, "materialize_bytes" -> blocks._2,
      "export_bytes" -> Harness.dirBytes(exportDir))

  /** The Python harness checks the warm-up chain's outputs against the planted
    * truth; every later chain must reproduce them exactly.
    */
  def afterJob(spark: SparkSession, checks: Checks): Unit = {
    checks.check(reference.contains(outputs), "curation outputs differ from the warm-up chain's")
    Harness.clearCaches(spark)
  }

  def kernels(spark: SparkSession): Map[String, Double] = {
    val docs = Tables.documents(spark, dir).select(col("text")).cache()
    val n = docs.count()
    val sh = docs.select(TextFunctions.shingles(col("text"), 3).as("sh")).cache()
    sh.count()
    val rates = Map(
      "nfc" -> Harness.kernelRate(n)(Harness.drain(docs.select(TextFunctions.nfc(col("text"))))),
      "shingles" -> Harness.kernelRate(n)(Harness.drain(docs.select(TextFunctions.shingles(col("text"), 3)))),
      "minhash" -> Harness.kernelRate(n)(Harness.drain(sh.select(HashFunctions.minhash(col("sh"), 1)))))
    docs.unpersist(blocking = true)
    sh.unpersist(blocking = true)
    rates
  }

  override def layerCounts(spark: SparkSession): Map[String, Any] = {
    val docs = Tables.documents(spark, dir)
    val candidates = Dedup.lshCandidatePairs(Dedup.minhashSignatures(docs)).count()
    Harness.clearCaches(spark)
    Map("candidate_pairs" -> candidates)
  }

  /** The warm-up chain's outputs, for the Python harness's checks. */
  override def facts: Map[String, Any] = reference.getOrElse(Map.empty)
}
