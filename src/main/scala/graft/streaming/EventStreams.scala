package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch event analytics
  * ([[graft.operators.EventAnalytics]]). The transformations are shared
  * shapes — same grouping keys, same exact-cents aggregates — so the DuckDB
  * oracle that validates the batch query validates the streaming one too
  * (SURVEY §7.3 "streaming state").
  *
  * At scale this is the standard continuous-ingest topology: file/Kafka
  * source → event-time window aggs with watermarked state → sink. Here the
  * source is the driver's events parquet and the sink is an in-memory table
  * so Verify can oracle-check the result; swapping source/sink strings is
  * the only change for a real deployment.
  */
object EventStreams {

  /** Raw schema of the events parquet, parameterized on the file's actual
    * `ts` layout (see [[graft.Tables.events]] — the driver has generated
    * both INT64 TIMESTAMP(NANOS), surfaced as long nanos, and
    * TIMESTAMP(MICROS) NTZ across rounds).
    */
  def rawSchema(tsType: DataType = LongType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Un-watermarked streaming source over the events parquet with `ts`
    * normalized to TIMESTAMP_LTZ — callers that rename `ts` (e.g. the
    * two sides of a stream-stream join) watermark AFTER renaming, since a
    * watermark attaches to a specific column. (The nanosAsLong conf is set
    * statically in [[graft.Sessions.local]]; the set here is an idempotent
    * safety net — see [[graft.Tables.events]].)
    *
    * A streaming source needs its schema declared up front, so the file's
    * `ts` layout is sniffed with one batch footer read; the per-layout
    * conversion then mirrors the batch reader exactly (shared oracle).
    */
  def rawSource(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      try spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
      catch { // no file to sniff (empty dir): any declared layout yields
        case _: org.apache.spark.sql.AnalysisException => LongType
      } // the same (empty) stream, so default to the legacy long-nanos one
    val src = tableStream(spark, dir, "events", rawSchema(tsType))
    tsType match {
      case LongType => src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => src
      case _ => src.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Stream the `<dir>/<table>.parquet` table whether it is a single
    * file (the driver's testdata layout) or a directory of part files
    * (ScaleUp replicas — any Spark-written table). The file stream
    * source wants a DIRECTORY to list: a directory table streams
    * directly; a single-file table streams the parent dir filtered down
    * to the file name. The distinction matters because a
    * `pathGlobFilter` on the parent dir matches LEAF file names — against
    * a directory table it matches nothing and silently yields an EMPTY
    * stream (caught in round 12: every replica streaming measurement was
    * draining zero rows). One FileSystem stat, Hadoop-FS general.
    */
  private[streaming] def tableStream(
      spark: SparkSession, dir: String, table: String,
      schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir, s"$table.parquet")
    val isDir =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    val r = spark.readStream.schema(schema)
    if (isDir) r.parquet(p.toString)
    else r.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** [[rawSource]] watermarked on event time. */
  def source(spark: SparkSession, dir: String, watermark: String = "1 hour"): DataFrame =
    rawSource(spark, dir).withWatermark("ts", watermark)

  /** Tumbling 1-hour event-time window aggregation — the streaming twin of
    * `EventAnalytics.hourlyStats` (`window(ts).start` ≡ `date_trunc`).
    */
  def hourlyStats(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** SLIDING 1-hour windows every 30 minutes: each event contributes to
    * exactly length/slide = 2 overlapping windows. Works identically on a
    * batch frame (the oracle twin) and a watermarked stream; state per
    * key is (horizon / slide) windows — twice the tumbling case, the
    * standing cost of overlap. Window starts surface as epoch micros
    * (integer-portable; sliding boundaries land on half-hours, where raw
    * timestamp canonicalization is riskier than the hourly case).
    */
  def slidingStats(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0).as("sum_value"))
      .select(
        unix_micros(col("w.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** PRODUCTION sliding-window topology — append mode + parquet sink, each
    * window emitted once when the watermark passes its end. Emission
    * cutoff margin: window boundaries land on :00/:30, and every SF's
    * max(ts) sits ≥ 35 s away from a half-hour boundary — four orders of
    * magnitude past the watermark's ms truncation.
    */
  def slidingStatsAppendToBatch(spark: SparkSession, dir: String): DataFrame =
    drainAppendToParquet(slidingStats(source(spark, dir)))

  /** Event-time session windows (30-minute gap) per user — the streaming
    * generalization of the batch gaps-and-islands sessionization.
    */
  def sessionStats(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming state-store parallelism for the driver-table drains. A
    * stateful stream creates one state store per shuffle partition, and the
    * count is PINNED into the checkpoint at the first batch — so it is a
    * per-stream sizing decision, not a session default. The session-wide 32
    * is right for the batch suite but pure per-task commit overhead for
    * these single-file drains; a real deployment sizes this per stream the
    * same way (rate × horizon keys per store).
    */
  val StreamShufflePartitions = 8

  /** Scoped shuffle-partition override for stream construction: set, run,
    * restore — queries already planned keep their partitioning, and the
    * stream's own value is pinned in its checkpoint from the first batch.
    */
  private[streaming] def withStreamShufflePartitions[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, StreamShufflePartitions.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Run a streaming aggregation over the driver's events table to
    * completion (Trigger.AvailableNow) and return the final result as a
    * batch DataFrame. Complete output mode flushes every window at the end,
    * so the result is exactly the batch answer — which is what makes this
    * oracle-checkable from Verify.
    */
  def runToBatch(
      spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame,
      queryName: String): DataFrame =
    drainCompleteToBatch(spark, transform(source(spark, dir)), queryName)

  /** The shared complete-mode drain (oracle harnesses only — the memory
    * sink is a driver-side materialization by construction): run an
    * arbitrary streaming frame to completion, copy the result out, drop
    * the sink table. Lives in ONE place like [[drainAppendToParquet]].
    */
  private[streaming] def drainCompleteToBatch(
      spark: SparkSession, out: DataFrame, queryName: String): DataFrame = {
    // the scope covers awaitTermination: batch planning reads the conf
    // asynchronously after start() returns
    withStreamShufflePartitions(spark) {
      val q = out
        .writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // copy the result out and drop the sink table — the memory sink holds
    // the full materialized result in the driver for the session lifetime
    val sink = spark.table(queryName)
    val result = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    spark.catalog.dropTempView(queryName)
    result
  }

  /** Oracle-checked streaming hourly stats (same oracle as q_events_hourly). */
  def hourlyStatsToBatch(spark: SparkSession, dir: String): DataFrame =
    runToBatch(spark, dir, hourlyStats, s"stream_hourly_${System.nanoTime()}")

  /** The shared append drain — the PRODUCTION streaming topology: append
    * output mode + file sink. This — not [[runToBatch]] — is the shape
    * that runs on an unbounded stream:
    *
    *   - append mode emits each window exactly once, when the watermark
    *     passes its end, then EVICTS its state: state size is bounded by
    *     (watermark horizon / window length) × key cardinality, never by
    *     stream history (complete mode retains every window forever);
    *   - the parquet sink writes distributed, exactly-once (checkpointed
    *     file-manifest commit protocol) — nothing is collected on the
    *     driver (the memory sink in [[runToBatch]] is a driver-side
    *     materialization by construction, fine only as an oracle harness);
    *   - `Trigger.AvailableNow` drains what exists and stops — swap for a
    *     processing-time trigger for continuous ingest; nothing else
    *     changes.
    *
    * Returns the path-backed result read back from a temp sink dir. Windows
    * still inside the watermark horizon at end-of-input are NOT emitted —
    * that is append-mode's contract (they could still receive late data),
    * asserted against the batch answer + cutoff in the oracle and
    * EventStreamsSpec. Every append twin (events, sessions, document
    * dedup and quality, stream-stream attribution) drains here, so the
    * sink/checkpoint/read-back contract lives in ONE place.
    */
  private[streaming] def drainAppendToParquet(out: DataFrame): DataFrame = {
    val spark = out.sparkSession
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_append")
    // the scope covers awaitTermination: batch planning reads the conf
    // asynchronously after start() returns
    withStreamShufflePartitions(spark) {
      out.writeStream
        .format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    // explicit schema: an all-late/empty stream legally emits zero files,
    // and schema inference over an empty sink dir would throw
    val result = spark.read.schema(out.schema).parquet(s"$tmp/out")
    deleteRecursivelyOnExit(tmp) // deletion happens at JVM exit, after any read
    result
  }

  /** Run `stream` to completion (Trigger.AvailableNow) under the stream
    * shuffle-partition scope, handing each micro-batch and its id to
    * `sink` in the calling JVM — the one `foreachBatch` behind
    * [[drainPerBatch]], [[drainUpdateToLog]] and the DLQ split.
    */
  private[streaming] def drainForeachBatch(
      stream: DataFrame, outputMode: String, checkpointPath: String)(
      sink: (DataFrame, Long) => Unit): Unit =
    withStreamShufflePartitions(stream.sparkSession) {
      stream.writeStream
        .outputMode(outputMode)
        .option("checkpointLocation", checkpointPath)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink)
        .start()
        .awaitTermination()
    }

  /** The shared PER-BATCH sink — the streaming form of the reference's
    * idempotent-by-overwrite task output. Every micro-batch's
    * `probe(batch)` overwrites its own `batch=<id>` directory, so a batch
    * replayed after a crash replaces rather than duplicates its rows
    * (with the checkpointed batch ids: exactly-once in the log); the
    * drained rows are read back across the per-batch directories. The
    * read-back schema is the probe's own output type, recorded from the
    * first micro-batch (`foreachBatch` runs in the calling JVM, so this
    * costs no job) or, when no batch fired, taken from the probe over an
    * empty frame of the stream's schema.
    */
  private[streaming] def drainPerBatch(stream: DataFrame)(
      probe: DataFrame => DataFrame): DataFrame = {
    val spark = stream.sparkSession
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_batches")
    val out = tmp.resolve("out")
    java.nio.file.Files.createDirectories(out)
    val schema = new java.util.concurrent.atomic.AtomicReference[StructType]()
    drainForeachBatch(stream, "append", tmp.resolve("ckpt").toString) { (batch, id) =>
      val rows = probe(batch)
      schema.compareAndSet(null, rows.schema)
      rows.write.mode("overwrite").parquet(out.resolve(s"batch=$id").toString)
    }
    val readSchema = Option(schema.get).getOrElse(probe(spark.createDataFrame(
      java.util.Collections.emptyList[Row](), stream.schema)).schema)
    // recursiveFileLookup: read across the per-batch directories without
    // partition inference, so `batch=` never becomes a result column
    val result = spark.read.schema(readSchema)
      .option("recursiveFileLookup", "true").parquet(out.toString)
    deleteRecursivelyOnExit(tmp)
    result
  }

  /** UPDATE-mode drain into a log-structured keyed store: each micro-batch
    * APPENDS its changed rows stamped with `batch_id`, and
    * [[latestPerKey]] merges on read — the offline stand-in for a keyed
    * upsert sink (Delta MERGE, HBase/Cassandra, a compacting topic). The
    * stamp makes the upsert idempotent under foreachBatch's at-least-once
    * replay: a re-delivered batch rewrites identical rows, and the merge
    * collapses them.
    */
  private[streaming] def drainUpdateToLog(
      updates: DataFrame, storeDir: String, checkpointPath: String): Unit = {
    // an empty stream never fires foreachBatch: pre-create the store dir
    // so the read-back sees a legal (empty) store, not a missing path
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir))
    drainForeachBatch(updates, "update", checkpointPath) { (batch, id) =>
      batch.withColumn("batch_id", lit(id)).write.mode("append").parquet(storeDir)
    }
  }

  /** Latest-batch-wins merge-on-read of a [[drainUpdateToLog]] store: one
    * row per `keys`, carrying the value columns and `batch_id` of the
    * key's highest batch id (`max(struct(batch_id, values...))` — one
    * distributed aggregate, nothing collected). `schema` is the DDL of
    * the key and value columns: explicit, because an empty store holds no
    * file to infer it from.
    */
  private[streaming] def latestPerKey(
      spark: SparkSession, storeDir: String, schema: String, keys: String*): DataFrame = {
    val log = spark.read.schema(s"$schema, batch_id BIGINT").parquet(storeDir)
    val values = log.columns.toSeq.filterNot(c => c == "batch_id" || keys.contains(c))
    log.groupBy(keys.map(col): _*)
      .agg(max(struct(("batch_id" +: values).map(col): _*)).as("s"))
      .select(keys.map(col) ++ (values :+ "batch_id").map(c => col(s"s.$c").as(c)): _*)
  }

  /** Drain into a fresh temp keyed store with `drain(storeDir,
    * checkpointPath)` and `read` the store back.
    */
  private[streaming] def viaTempStore(drain: (String, String) => Unit)(
      read: String => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_store")
    drain(s"$tmp/store", s"$tmp/ckpt")
    val result = read(s"$tmp/store")
    deleteRecursivelyOnExit(tmp)
    result
  }

  /** Register `root` (and everything under it, recursively) for deletion at
    * JVM exit. Called AFTER the streaming query finishes, so every sink /
    * checkpoint file exists and gets registered. `deleteOnExit` deletes in
    * reverse registration order, so parents are registered before children
    * (children are deleted first) — repeated harness runs no longer
    * accumulate on-disk garbage past the process lifetime.
    */
  private[graft] def deleteRecursivelyOnExit(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.foreach(_.toFile.deleteOnExit())
    finally walk.close()
  }

  /** Append-mode hourly stats over the driver's events dir, file-sinked to
    * a temp dir. Oracle: the batch hourly aggregation restricted to windows
    * whose end the final watermark (max event time − 1 h) passed.
    */
  def hourlyStatsAppendToBatch(spark: SparkSession, dir: String): DataFrame =
    drainAppendToParquet(hourlyStats(source(spark, dir)))

  /** Per-session rows from event-time session windows (30-minute gap),
    * with boundaries in epoch MICROS: integer columns are hash-portable
    * across engines, while raw timestamps canonicalize differently (Spark
    * micros vs the oracle's nanos parquet reads). `session_end_us` is the
    * window end = last event + gap, the instant the watermark must pass
    * for append mode to emit the session.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"))

  /** PRODUCTION sessionization topology — the session twin of
    * [[hourlyStatsAppendToBatch]]: append mode + parquet sink, each session
    * emitted exactly once when the watermark passes its end, then its
    * state row is evicted (session state is bounded by open sessions per
    * user within the watermark horizon, never by stream history).
    */
  def sessionWindowsAppendToBatch(spark: SparkSession, dir: String): DataFrame =
    drainAppendToParquet(sessionWindows(source(spark, dir)))

  /** STREAM-STREAM INTERVAL JOIN: every (purchase, click) pair for the same
    * user with the click inside the hour before (or at) the purchase — the
    * continuous form of attribution candidate generation. Both inputs must
    * be watermarked and the join condition must time-bound BOTH event
    * times (here `p_ts − 1h ≤ c_ts ≤ p_ts`, which also bounds
    * `c_ts ≤ p_ts ≤ c_ts + 1h`): that is what lets Spark EVICT each side's
    * buffered rows once the watermark passes their eligibility window, so
    * join state is bounded by rate × (watermark + interval), never stream
    * history. Inner-join rows emit as soon as both sides arrive — the
    * watermark gates eviction, not emission — so a full drain emits exactly
    * the batch interval join (the oracle).
    */
  def attributionPairs(purchases: DataFrame, clicks: DataFrame): DataFrame =
    purchases.join(
      clicks,
      expr("""p_user = c_user AND
              c_ts >= p_ts - INTERVAL 1 HOUR AND
              c_ts <= p_ts"""))
      .select(
        col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("p_ts_us"),
        unix_micros(col("c_ts")).as("c_ts_us"))

  /** Run [[attributionPairs]] over the driver's events dir (each side its
    * own watermarked stream over the same parquet) to completion, parquet
    * sink, read back — the oracle is the equivalent batch interval join.
    */
  def attributionPairsToBatch(spark: SparkSession, dir: String): DataFrame = {
    val purchases = rawSource(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = rawSource(spark, dir)
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    drainAppendToParquet(attributionPairs(purchases, clicks))
  }

  /** Conversion window for [[funnelRows]]: steps 2..n must land within
    * this span of the user's (resolved) first step-1 event — the standard
    * product-analytics funnel contract, and what makes an append-mode
    * funnel possible at all: an unlimited-window funnel can emit its
    * incomplete (NULL-step) rows only at end-of-stream, which an unbounded
    * stream never reaches.
    */
  val FunnelWindowUs: Long = 24L * 3600L * 1000000L

  /** Per-user funnel state: `resolved` = watermark-finalized step times so
    * far (in order); `buf` = step-index → buffered candidate event times
    * not yet finalizable; `maxTs` = max event time seen for the user
    * (drives the never-started GC emission). Buffered times are pruned at
    * every resolution, and on a live stream are bounded by the user's
    * events inside the watermark horizon — rate × horizon, never history.
    */
  /** `emitted` is the post-emission tombstone: a user whose row is out
    * must never produce a second one, even if stragglers (or duplicate
    * replays) arrive in later micro-batches — without it, new events
    * would recreate empty state and eventually emit an all-NULL GC row
    * for an already-reported user. The tombstone itself is GC'd by its
    * own event-time timeout one conversion window past the watermark.
    */
  case class FunnelBuf(
      resolved: Seq[Long], buf: Map[Int, Seq[Long]], maxTs: Long,
      emitted: Boolean = false)

  /** One emitted funnel row — the batch [[graft.operators.EventAnalytics.funnelSteps]]
    * shape (fixed three steps, epoch-micro times, NULL from the first
    * unreached step).
    */
  case class FunnelRow(
      user_id: Long, step1_us: Option[Long], step2_us: Option[Long],
      step3_us: Option[Long])

  /** APPEND-MODE ORDERED FUNNEL — the streaming twin of `q_funnel`, with
    * per-step keyed state via `flatMapGroupsWithState` (the custom-state
    * API; windows/sessions can't express "first click strictly after the
    * first view"). Semantics, replayed exactly by the oracle:
    *
    *   - step 1 = the user's first 'view'; step k>1 = the first step-k
    *     event STRICTLY AFTER the resolved step k−1 and within
    *     [[FunnelWindowUs]] of step 1 (the conversion window);
    *   - a step RESOLVES only once the watermark passes its candidate time
    *     (no earlier event can still arrive — this is what makes the fold
    *     arrival-order-independent and hash-deterministic);
    *   - a user's single row EMITS when the funnel completes, or when the
    *     watermark passes step1 + window (NULLs for unreached steps), or —
    *     for users whose step 1 never resolves — when the watermark passes
    *     their last activity + window (all-NULL row). State is removed at
    *     emission; un-emitted users at end of drain are suppressed, the
    *     same contract as un-emitted append windows.
    *
    * Timeouts: one event-time timeout per user, set to the earliest
    * instant that could force progress (earliest unresolved candidate,
    * window close, or GC point) — the no-data finalization batch then
    * drives the resolution cascade without new events.
    */
  def funnelRows(
      events: DataFrame,
      steps: Seq[String] = graft.operators.EventAnalytics.FunnelSteps,
      windowUs: Long = FunnelWindowUs): org.apache.spark.sql.Dataset[FunnelRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    require(steps.size == 3, "funnelRows emits the fixed 3-step row shape")
    val idx = steps.zipWithIndex.toMap
    // the watermarked `ts` column must ride INTO the stateful operator
    // unchanged (event-time timeout requires it); micros are derived
    // inside the handler, exactly as unix_micros would
    val typed = events
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
    def micros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelBuf, FunnelRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, String)],
            state: GroupState[FunnelBuf]) =>
          val wmUs = state.getCurrentWatermarkMs * 1000L
          var st = state.getOption.getOrElse(FunnelBuf(Nil, Map.empty, Long.MinValue))
          if (st.emitted) {
            // tombstone: this user's one row is already out. Drop any
            // straggler events; drop the tombstone itself once no more
            // can arrive (its GC timeout fired), else re-arm the timeout.
            it.size // drain the iterator (required by the contract)
            if (state.hasTimedOut) state.remove()
            else state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs + windowUs / 1000L + 1L)
            Iterator.empty
          } else {
          // ingest this batch's events (arrival order irrelevant: only
          // watermark-passed minima ever resolve)
          it.foreach { case (_, tsRaw, tpe) =>
            val ts = micros(tsRaw)
            idx.get(tpe).foreach { k =>
              if (k >= st.resolved.size)
                st = st.copy(buf =
                  st.buf.updated(k, st.buf.getOrElse(k, Vector.empty) :+ ts))
            }
            if (ts > st.maxTs) st = st.copy(maxTs = ts)
          }
          // resolution cascade under the current watermark
          var advanced = true
          while (advanced && st.resolved.size < steps.size) {
            advanced = false
            val k = st.resolved.size
            val frontier = st.resolved.lastOption.getOrElse(Long.MinValue)
            val limit = st.resolved.headOption.map(_ + windowUs).getOrElse(Long.MaxValue)
            val cand = st.buf.getOrElse(k, Nil)
              .filter(t => t > frontier && t <= limit)
              .minOption
            cand.filter(_ <= wmUs).foreach { t =>
              // buffered times <= t can never qualify for any later step
              st = FunnelBuf(
                st.resolved :+ t,
                (st.buf - k).view.mapValues(_.filter(_ > t)).toMap
                  .filter(_._2.nonEmpty),
                st.maxTs)
              advanced = true
            }
          }
          val t1 = st.resolved.headOption
          val done = st.resolved.size == steps.size
          val windowClosed = t1.exists(_ + windowUs <= wmUs)
          val neverStarted =
            t1.isEmpty && st.maxTs != Long.MinValue && st.maxTs + windowUs <= wmUs
          if (done || windowClosed || neverStarted) {
            // leave the tombstone, not nothing (see [[FunnelBuf]])
            state.update(FunnelBuf(Nil, Map.empty, Long.MinValue, emitted = true))
            state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs + windowUs / 1000L + 1L)
            val r = st.resolved
            Iterator.single(FunnelRow(user, r.lift(0), r.lift(1), r.lift(2)))
          } else {
            state.update(st)
            val k = st.resolved.size
            val due = Seq(
              st.buf.getOrElse(k, Nil).minOption,
              t1.map(_ + windowUs),
              if (t1.isEmpty && st.maxTs != Long.MinValue) Some(st.maxTs + windowUs)
              else None).flatten.minOption
            due.foreach { d =>
              state.setTimeoutTimestamp(
                math.max(d / 1000L + 1L, state.getCurrentWatermarkMs + 1L))
            }
            Iterator.empty
          }
          }
      }
  }

  /** Run the append-mode funnel over the driver's events dir to a parquet
    * sink and read it back (the [[hourlyStatsAppendToBatch]] harness
    * shape). The oracle replays the windowed, watermark-gated semantics
    * exactly — see `q_stream_funnel_append` in EventQueries.
    */
  def funnelAppendToBatch(spark: SparkSession, dir: String): DataFrame =
    drainAppendToParquet(funnelRows(source(spark, dir)).toDF())

  /** STREAM-STATIC ENRICHMENT JOIN — the dimension-lookup topology every
    * ingest pipeline runs: the purchase stream joins the static customer
    * dimension (broadcast — the dim re-reads per micro-batch, so slowly
    * changing dimensions pick up updates between batches), completely
    * STATELESS: no watermark, no state store, append mode — a full drain
    * equals the batch join exactly (the oracle). Money rides as integer
    * cents for hash portability.
    */
  def enrichedPurchases(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .where(col("event_type") === "purchase")
      .join(broadcast(customer), col("user_id") === col("c_custkey"))
      .select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("value_cents"),
        col("c_mktsegment"), col("c_nationkey"))

  /** Drain [[enrichedPurchases]] over the driver's events dir to a parquet
    * sink and read it back.
    */
  def enrichedPurchasesToBatch(spark: SparkSession, dir: String): DataFrame =
    drainAppendToParquet(
      enrichedPurchases(rawSource(spark, dir), graft.Tables.customer(spark, dir)))

  /** Streaming exactly-once ingest dedup: drop duplicate event ids within
    * the watermark horizon — the standard at-least-once → exactly-once
    * repair at the front of an ingest pipeline. Input must be watermarked
    * (see [[source]]): `dropDuplicatesWithinWatermark` evicts each id's
    * state once the watermark passes it, so state is bounded by arrival
    * rate × horizon, not history — plain `dropDuplicates(id)` would keep
    * every id forever and OOM on an unbounded stream.
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events.dropDuplicatesWithinWatermark("event_id")

  /** Oracle-checked streaming sessionization: session windows rolled up to
    * per-user counts — by construction equal to the batch gaps-and-islands
    * sessionization, so it shares q_events_sessions' oracle.
    */
  def sessionCountsToBatch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    runToBatch(spark, dir, sessionStats(_),
      s"stream_sessions_${System.nanoTime()}")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
  }
}
