package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming maintenance of the dyadic quantile sketch
  * ([[graft.operators.Sketches.quantileSketch]]'s twin): a continuous
  * update-mode aggregation over the orders stream keeps per-(level,
  * bucket) counts, upserted into a log-structured parquet store by
  * foreachBatch — the same keyed-store topology as
  * [[DocumentStreams.wordCountsViaKeyedStore]].
  *
  * Why this one needs NO watermark: the sketch's state is STRUCTURALLY
  * bounded — ≤ 2^(QsB+1)−1 = 8191 node rows whatever the stream length —
  * so an unbounded stream can maintain it forever without event-time
  * eviction. That is precisely the property that makes sketches the
  * streaming-analytics state of choice at 100 TB/day: the continuous
  * query's state and its store stay kilobytes while absorbing every row.
  *
  * Update mode emits each changed node's new TOTAL count per micro-batch;
  * merge-on-read takes the latest batch per node, so the drained store
  * equals the batch node frame exactly and the answer stage
  * ([[graft.operators.Sketches.quantileAnswers]]) — and therefore the
  * DuckDB oracle — is SHARED with the batch query verbatim.
  */
object SketchStreams {

  /** Raw schema of the orders parquet (timestamps are plain micros here —
    * only events.ts carries the nanos quirk).
    */
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  def ordersSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(ordersSchema)
      .option("pathGlobFilter", "orders.parquet")
      .parquet(dir)

  /** The continuous node-count aggregation: clamped integer cents →
    * one (level, bucket) row per kept level per order → running counts.
    * Same arithmetic as the batch [[graft.operators.Sketches.quantileCents]]
    * + [[graft.functions.Aggregators.DyadicHistogram]] pair.
    */
  def nodeCounts(orders: DataFrame): DataFrame = {
    import graft.operators.Sketches.{QsLMin, QsU, QsMax}
    orders
      // both-edge clamp, as in the batch twin (DyadicHistogram's contract)
      .select(greatest(least(expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        lit(QsMax)), lit(0L)).as("c"))
      .select(explode(array((QsLMin to QsU).map(l =>
        struct(lit(l).as("l"), shiftright(col("c"), l).as("b"))): _*)).as("n"))
      .select(col("n.l").as("l"), col("n.b").as("b"))
      .groupBy("l", "b")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Drain the stream in update mode, upserting changed nodes into the
    * store (append-only log + merge-on-read, the LSM shape).
    */
  def nodeCountsUpdateToStore(
      orders: DataFrame, storeDir: String, ckptDir: String): Unit =
    EventStreams.drainUpdateToLog(nodeCounts(orders), storeDir, ckptDir)

  /** Merge-on-read of the node store: latest batch's count wins per node. */
  def readNodeStore(spark: SparkSession, storeDir: String): DataFrame =
    EventStreams.latestPerKey(spark, storeDir, "l INT, b BIGINT, cnt BIGINT", "l", "b")
      .drop("batch_id")

  /** End-to-end twin: stream the orders table into the node store, then
    * answer ranks/quantiles off the drained store with the SAME answer
    * stage as the batch query (the exact-side columns read the batch
    * table — they are the error-visibility rail, not sketch state).
    */
  def quantileSketchViaStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val nodes = EventStreams.viaTempStore(
      nodeCountsUpdateToStore(ordersSource(spark, dir), _, _))(
      readNodeStore(spark, _).localCheckpoint())
    Sketches.quantileAnswers(
      nodes,
      Sketches.quantileCents(graft.Tables.orders(spark, dir)).localCheckpoint())
  }

  // ---- Streaming HLL register maintenance ----------------------------

  /** Continuous per-(lang, register) minimum bit-length over the document
    * stream — the SAME register arithmetic as the batch HLL
    * ([[graft.operators.Sketches.hllRegisterRows]], shared verbatim).
    * Like the dyadic node counts, this needs NO watermark: state is
    * STRUCTURALLY bounded at languages × 2^P register rows whatever the
    * stream length — the second sketch the no-watermark argument applies
    * to. `min` is monotone non-increasing, so update mode emits each
    * register's new running minimum and latest-batch-wins merge-on-read
    * reconstructs the exact batch registers.
    */
  def hllRegisterMins(docs: DataFrame): DataFrame =
    graft.operators.Sketches.hllRegisterRows(graft.operators.Sketches.tokenize(docs))
      .groupBy("lang", "j")
      .agg(min(col("bl")).as("minb"))

  /** Drain the stream in update mode, upserting changed registers into the
    * store (append-only log + merge-on-read, the LSM shape).
    */
  def hllRegistersUpdateToStore(
      docs: DataFrame, storeDir: String, ckptDir: String): Unit =
    EventStreams.drainUpdateToLog(hllRegisterMins(docs), storeDir, ckptDir)

  /** Merge-on-read of the register store: latest batch's min wins. */
  def readRegisterStore(spark: SparkSession, storeDir: String): DataFrame =
    EventStreams.latestPerKey(spark, storeDir, "lang STRING, j BIGINT, minb INT", "lang", "j")
      .drop("batch_id")

  /** End-to-end twin: stream the documents table into the register store,
    * then estimate per-language vocabulary off the drained store with the
    * SAME answer stage — and therefore the same DuckDB oracle — as the
    * batch `q_hll_vocab` (the exact-distinct column reads the batch
    * table: the error-visibility rail, not sketch state).
    */
  def hllVocabViaStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val regs = EventStreams.viaTempStore(
      hllRegistersUpdateToStore(DocumentStreams.rawSource(spark, dir), _, _))(
      readRegisterStore(spark, _).localCheckpoint())
    Sketches.hllAnswers(
      regs,
      Sketches.tokenize(
        graft.Parallelism.ensure(graft.Tables.documents(spark, dir))))
  }
}
