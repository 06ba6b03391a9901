package graft
package queries

import graft.operators._
import graft.streaming.DocumentStreams
import org.apache.spark.sql.SparkSession

/** The reference surface: word count with deterministic top-k and the MapReduce jobs behind it. */
object WordCountQueries {
  private val mrWordcount = QueryDef("mr_wordcount",
    (s, dir) => {
      implicit val spark: SparkSession = s
      import s.implicits._
      val input = Tables.documents(s, dir)
        .select($"doc_id".cast("string"), $"text").as[(String, String)]
      MapReduce.wordCountJob(input).toDF("word", "cnt")
    },
    """SELECT word, count(*) AS cnt FROM (
      |  SELECT regexp_replace(lower(unnest(string_split_regex(nfc_normalize(text), '\s+'))),
      |                        '^[.,!?:;"'']+|[.,!?:;"'']+$', '', 'g') AS word
      |  FROM documents) t
      |WHERE word <> '' GROUP BY word""".stripMargin)

  val all: Seq[QueryDef] = Seq(
    QueryDef("wordcount_topk",
      (s, dir) => WordCount.topK(WordCount.counts(Tables.documents(s, dir), "text"), 50),
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT regexp_replace(lower(unnest(string_split_regex(nfc_normalize(text), '\s+'))),
        |                        '^[.,!?:;"'']+|[.,!?:;"'']+$', '', 'g') AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 50""".stripMargin),
    mrWordcount,
    // The reference's flagship query as a continuous query (state = one
    // row per distinct word; complete-mode oracle harness).
    // Same tokenize/normalize/count expressions as mr_wordcount.
    QueryDef.twin("q_stream_wordcount_complete_oracle", mrWordcount,
      (s, dir) => DocumentStreams.wordCountsToBatch(s, dir)),
    // Production twin: update mode + foreachBatch upsert into a keyed
    // (log-structured parquet) store, merged on read — only changed words
    // are written per micro-batch, nothing driver-side; a full drain's
    // merged store equals the batch counts.
    QueryDef.twin("q_stream_wordcount_update", mrWordcount,
      (s, dir) => DocumentStreams.wordCountsViaKeyedStore(s, dir)),
    QueryDef("mr_inverted_index",
      (s, dir) => {
        implicit val spark: SparkSession = s
        import s.implicits._
        val input = Tables.documents(s, dir)
          .select($"doc_id".cast("string"), $"text").as[(String, String)]
        MapReduce.invertedIndexJob(input).toDF("word", "doc_ids")
      },
      // doc ids sort lexicographically as strings (the job's contract — its
      // ids may be file paths), so the oracle sorts the VARCHAR form
      """SELECT word, array_to_string(
        |    list_sort(list_distinct(list(doc_id)), 'ASC'), ',') AS doc_ids
        |FROM (
        |  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id,
        |    regexp_replace(lower(unnest(string_split_regex(nfc_normalize(text), '\s+'))),
        |                        '^[.,!?:;"'']+|[.,!?:;"'']+$', '', 'g') AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word""".stripMargin),
  )
}
