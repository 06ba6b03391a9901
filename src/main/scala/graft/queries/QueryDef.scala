package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the builder that turns a testdata
  * directory into its DataFrame, and the DuckDB SQL it is hash-checked
  * against. A twin (the stream, stored or incremental form of a batch
  * query) must return exactly its batch query's rows, so it has no SQL of
  * its own and answers with the batch query's. The SQL is built only when
  * asked for: building all of it costs tens of milliseconds, which the
  * query path never pays.
  */
final class QueryDef private (
    val name: String,
    val build: (SparkSession, String) => DataFrame,
    oracle: () => String,
    val twinOf: Option[QueryDef]) {
  def oracleSql: String = oracle()
}

object QueryDef {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracleSql: => String): QueryDef =
    new QueryDef(name, build, () => oracleSql, None)

  /** A twin of `batch`: same rows, so the same oracle. */
  def twin(name: String, batch: QueryDef,
      build: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(name, build, () => batch.oracleSql, Some(batch))
}
