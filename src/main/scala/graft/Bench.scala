package graft

/** Machine-load evidence for a bench run — the r14 adjudication fix.
  * Twice running (r13, r14) a post-round re-run on a CONTENDED machine
  * produced a 1.3-1.4× total against the serial pin at identical HEAD,
  * and telling "code regression" from "noisy neighbor" cost a full
  * judge/builder cycle each time. The fix is to make the artifact carry
  * its own load evidence: /proc/loadavg, the live JVM count, and the
  * run's wall-vs-process-CPU ratio — `check_bench_regression.py` then
  * REFUSES to compare two runs whose markers differ materially, so the
  * next 440-vs-328 discrepancy adjudicates itself from data.
  */
object LoadMarkers {
  /** 1-minute system load average (runnable+running tasks, EMA). Linux
    * /proc read with the portable MXBean as fallback; -1 when neither
    * works (markers then report honestly-unknown, never a guess).
    */
  def loadAvg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble
    catch { case _: Throwable =>
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage }

  /** Live JVM count on the machine (us included) — the "compile + bench
    * in one sbt window beside another JVM" contention mode leaves a
    * fingerprint here that loadavg alone can miss at run start.
    */
  def jvmCount(): Int =
    try {
      val proc = java.nio.file.Paths.get("/proc")
      val s = java.nio.file.Files.list(proc)
      try s.filter(p => p.getFileName.toString.forall(_.isDigit))
        .filter { p =>
          try new String(java.nio.file.Files.readAllBytes(p.resolve("comm")),
            "UTF-8").trim.startsWith("java")
          catch { case _: Throwable => false }
        }.count().toInt
      finally s.close()
    } catch { case _: Throwable => -1 }

  /** Cumulative hypervisor-STEAL ticks (/proc/stat `cpu` line, field 8):
    * cycles a co-tenant VM took while our vCPUs were runnable. This is
    * the contention mode the other markers CANNOT see — steal slows
    * every task uniformly without adding runnable load, so loadavg and
    * cpu/wall both look clean. The r17 close found exactly that: a
    * uniform 1.21× whole-suite min-vs-min shift at other_load 0.93,
    * whose only host-side fingerprint was a live steal counter. -1 when
    * unavailable (non-Linux or bare metal).
    */
  def stealTicks(): Long =
    try {
      val first = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next()
      val f = first.trim.split("\\s+")
      if (f.length > 8 && f(0) == "cpu") f(8).toLong else -1L
    } catch { case _: Throwable => -1L }

  /** This JVM's cumulative CPU seconds (all threads). Against wall time
    * it gives the run's achieved parallelism: loadavg far above cpu/wall
    * means OTHER processes held the cores.
    */
  def procCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val t = b.getProcessCpuTime
        if (t < 0) -1.0 else t / 1e9
      case _ => -1.0
    }
}

object Bench {
  /** Measured passes per query; the reported number is the per-query
    * MEDIAN. One-shot timings on a contended machine mis-ranked queries
    * three rounds running (a single GC pause or a neighbor's burst lands
    * entirely on whichever query was running); the median of three absorbs
    * one bad pass per query, which is the dominant noise shape here.
    *
    * The passes are INTERLEAVED across the suite (pass 1 of every query,
    * then pass 2, then pass 3) rather than back-to-back per query: a
    * contention window shorter than a full suite pass can then taint at
    * most ONE of a query's three samples, which the median absorbs.
    * Back-to-back passes let a single burst own all three samples and
    * produce a confidently-wrong tight spread — round 6's
    * `q1_pricing_summary` reported [1.32, 1.48, 1.50] under a driver-side
    * burst yet reruns at 0.25 s idle.
    */
  val Passes = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev affordance: SPARK_GRAFT_ONLY=q1,q2 restricts the run (official
    // runs leave it unset, so their numbers always cover the lot)
    val queries = SparkEntry.selectFromEnv("bench")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cores = cpus, shufflePartitions = cpus, appName = "graft-bench")
    // the LSH dedup paths localCheckpoint their self-join inputs; drop
    // those blocks between queries or they accumulate across the run and
    // evict each other (block-manager thrash skews every later timing)
    // BLOCKING unpersist on purpose: the async form lets the previous
    // query's localCheckpoint blocks linger while the next query
    // materializes its own — at the 100× replica three checkpoint-heavy
    // queries in one JVM accumulated past the 8g default heap and OOM'd
    // inside UnsafeRow block construction (measured, round 11). The wait
    // runs OUTSIDE the timed window, so scores are unaffected.
    def clearCaches(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // The measured action DRAINS the plan's output rows instead of
    // `.count()`. Under count, Catalyst's column pruning legally deletes
    // every expression a pure-projection query exists to compute — the
    // transform queries (`q_blocklist_excised`, `q_pii_redacted`) were
    // being timed as parquet row-count scans: 0.15 s at sf10 for a
    // 500k-doc excision whose lambdas never ran. Iterating the physical
    // plan's InternalRows forces every output column through codegen —
    // the cost a real sink would pay — without adding artificial work on
    // top (no extra hashing, no Row deserialization).
    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreachPartition { it =>
        while (it.hasNext) it.next()
      }
    // warmup pass: JIT + codegen caches + parquet footer caches, so the
    // measured passes reflect steady-state per-query cost
    val warmupFailed = queries.toSeq.flatMap { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"warmup:$name")
      val failed =
        try { drain(fn(spark, sfDir)); None }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Some(name)
        }
      clearCaches()
      failed
    }
    // pass p of EVERY query before pass p+1 of any — per-query samples land
    // in well-separated time windows (see [[Passes]])
    // per-pass load markers: wall, process-CPU delta, end-of-pass loadavg
    // (see [[LoadMarkers]] — the artifact carries its own contention
    // evidence so a later comparison can refuse to judge a tainted run)
    val jvmsAtStart = LoadMarkers.jvmCount()
    val passMarkers = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    val samples = (1 to Passes).flatMap { _ =>
      val w0 = System.nanoTime()
      val c0 = LoadMarkers.procCpuSec()
      val s0 = LoadMarkers.stealTicks()
      val out = queries.toSeq.map { case (name, fn) =>
        // label the query's jobs (guide §1.5) so an event-log diagnostic
        // run attributes every job/stage to its query; sub-microsecond,
        // thread-local — does not perturb the timing
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        val failed = try { drain(fn(spark, sfDir)); false } catch { case _: Throwable => true }
        val dt = (System.nanoTime() - t0) / 1e9
        clearCaches()
        // a failed pass must not report its time-to-exception as a score
        name -> (if (failed) -1.0 else dt)
      }
      val s1 = LoadMarkers.stealTicks()
      passMarkers += ((
        (System.nanoTime() - w0) / 1e9,
        LoadMarkers.procCpuSec() - c0,
        LoadMarkers.loadAvg(),
        // steal in CPU-seconds over the pass (USER_HZ=100 ticks/s)
        if (s0 < 0 || s1 < 0) -1.0 else (s1 - s0) / 100.0))
      out
    }
    val results = queries.map { case (name, _) =>
      val times = samples.collect { case (n, t) if n == name => t }
      name -> (if (times.exists(_ < 0)) Seq(-1.0) else times.sorted)
    }
    val medians = results.map { case (name, ts) => name -> ts(ts.size / 2) }
    // 0.1 ms precision everywhere: the timings carry ~10 ms of run-to-run
    // noise, and shorter numbers let more queries survive the round
    // driver's stdout-tail capture (see below)
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // per-query [min, median, max] of the passes: lets a later round tell
    // run-to-run noise (wide spread) from a real regression (shifted
    // median, tight spread) without a judge rerun
    val spread = results.map { case (k, ts) =>
      s"\"" + k + "\":[" + ts.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = medians.values.filter(_ >= 0).sum
    val nFailed = medians.values.count(_ < 0)
    // the contention summary: per pass, loadavg minus our own achieved
    // parallelism (cpu/wall) estimates the RUNNABLE LOAD THAT ISN'T US;
    // its max over passes is the single number the regression gate
    // thresholds on. -1 components mean the marker was unavailable.
    val otherLoadMax = passMarkers.map { case (wall, cpu, la, _) =>
      if (la < 0 || cpu < 0 || wall <= 0) -1.0
      else math.max(0.0, la - cpu / wall)
    }.foldLeft(-1.0)(math.max)
    // steal as a FRACTION of the machine's cycles over the pass
    // (stealSec / (wall · cores)) — the uniform-slowdown contention mode
    // loadavg can't see; its max is the second number the gate thresholds
    val stealFracMax = passMarkers.map { case (wall, _, _, st) =>
      if (st < 0 || wall <= 0 || cpus <= 0) -1.0
      else st / (wall * cpus)
    }.foldLeft(-1.0)(math.max)
    val loadJson = {
      val passes = passMarkers.map { case (wall, cpu, la, st) =>
        s"""{"wall":${fmt(wall)},"cpu":${fmt(cpu)},"loadavg":${fmt(la)},"steal":${fmt(st)}}"""
      }.mkString("[", ",", "]")
      s"""{"cores":$cpus,"jvms":$jvmsAtStart,"passes":$passes,"other_load_max":${fmt(otherLoadMax)},"steal_frac_max":${fmt(stealFracMax)}}"""
    }
    // Field order is deliberate: the round driver archives only the LAST
    // ~2 KB of stdout into BENCH_r*.json, so the bulky "spread" map goes
    // first (sacrificial) and the per-query medians + summary go last —
    // the tail then carries as many medians as fit plus the totals. The
    // COMPLETE artifact is also written to BENCH_FULL.json in the repo
    // root (the round-end commit picks it up), so every per-query number
    // survives the round even though stdout is truncated.
    val line =
      s"""{"metric":"total","unit":"sec","spread":$spread,"queries":$qs,"load":$loadJson,"failed":$nFailed,"sf":"$sfDir","value":${fmt(total)}}"""
    // a SPARK_GRAFT_ONLY-restricted dev run must NOT clobber the full
    // artifact the round-end commit picks up — skip the file write unless
    // an explicit output path asks for it
    val fullOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (sys.env.contains("SPARK_GRAFT_ONLY")) None else Some("BENCH_FULL.json"))
    fullOut.foreach { p =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(p), line.getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"bench: could not write $p: ${e.getMessage}") }
    }
    println(line)
    spark.stop()
    val failed = (warmupFailed ++ medians.collect { case (n, v) if v < 0 => n }).distinct.sorted
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
