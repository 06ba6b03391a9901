package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

import graft.operators.Similarity

/** Structured-Streaming surface over the embeddings table — the vector
  * half of the ingestion story [[DocumentStreams]] tells for text.
  */
object EmbeddingStreams {

  val rawSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-stream source over the embeddings parquet (single-file or
    * directory layout — see [[EventStreams.tableStream]]).
    */
  def rawSource(spark: SparkSession, dir: String): DataFrame =
    EventStreams.tableStream(spark, dir, "embeddings", rawSchema)

  /** STREAMING incremental SemDeDup — `Similarity.semDeDupIncremental`
    * running as continuous ingestion: the corpus's k-means centroids and
    * duplicate-collapsed cell index are built ONCE as static frames (the
    * persisted artifacts — a batch must not shift the cell structure),
    * and each micro-batch of arriving vectors runs its own assignment
    * scan and probes the index through the SAME `probeCellIndex` the
    * batch operator uses. Verdicts are per-vector (no cross-batch state:
    * a vector is decided in exactly one batch, and the contract is
    * shard-vs-CORPUS only, exactly like the batch twin whose oracle this
    * query shares verbatim).
    */
  def semDeDupIncrementalToBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val mx = emb.agg(max(col("vec_id"))).head()
    if (mx.isNullAt(0))
      return emb.select(col("vec_id"), lit(0).as("cell"), lit(true).as("kept")).limit(0)
    val split = (mx.getLong(0) + 1L) * 4L / 5L
    val corpus = emb.where(col("vec_id") < split)
    val cents = Similarity.trainedCentroids(corpus, nLists = 8, iters = 2)
    val index =
      if (cents.isEmpty) None
      else Some(Similarity.corpusCellIndex(corpus, cents).localCheckpoint())
    EventStreams.drainPerBatch(rawSource(spark, dir).where(col("vec_id") >= split)) { batch =>
      val arrived = batch.where(col("embedding").isNotNull)
      index match {
        case Some(reps) =>
          val cells = Similarity.shardCellsOf(arrived, cents).localCheckpoint()
          Similarity.probeCellIndex(cells, reps, threshold = 0.45)
        case None => // first batch ever: nothing to collide with
          arrived.select(col("vec_id"), lit(0).as("cell"), lit(true).as("kept"))
      }
    }
  }

  /** STREAMING embedding-drift monitor: each micro-batch of the incoming
    * shard writes its per-cell occupancy COUNTS under the corpus's frozen
    * centroids (a ≤ nLists-row frame per batch — the continuously-updated
    * monitoring signal); the drained counts sum into the shard histogram
    * and compose with the corpus histogram through the SHARED
    * `Similarity.driftCardOf`, so a full drain emits exactly the batch
    * operator's card. Stateless across batches.
    */
  def embeddingDriftToBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    def emptyCard: DataFrame = {
      import spark.implicits._
      Seq.empty[(Int, Long, Long, Long, Long, Long)].toDF(
        "cell", "n_corpus", "n_shard",
        "corpus_milli", "shard_milli", "delta_milli")
    }
    val mx = emb.agg(max(col("vec_id"))).head()
    if (mx.isNullAt(0)) return emptyCard
    val split = (mx.getLong(0) + 1L) * 4L / 5L
    val corpus = emb.where(col("vec_id") < split && col("embedding").isNotNull)
    val cents = Similarity.trainedCentroids(corpus, nLists = 8, iters = 2)
    if (cents.isEmpty) return emptyCard
    val corpusHist = Similarity.cellHistogram(corpus, cents, "n_corpus")
      .localCheckpoint()
    val shardHist = EventStreams
      .drainPerBatch(rawSource(spark, dir).where(col("vec_id") >= split))(batch =>
        Similarity.cellHistogram(batch.where(col("embedding").isNotNull), cents, "n_shard"))
      .groupBy("cell").agg(sum("n_shard").as("n_shard"))
    Similarity.driftCardOf(corpusHist, shardHist)
  }
}
