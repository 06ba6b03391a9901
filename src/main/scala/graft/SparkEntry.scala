package graft

import graft.operators._
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query surface: every operator in SURVEY §2's inventory (and the
  * LLM-pipeline extension surface) as a named query over the parquet
  * tables, each with a DuckDB SQL oracle. Column names/aliases match the
  * oracle exactly (the compare hashes by sorted column name).
  *
  * Each query is defined once, builder and oracle together, in the
  * `graft.queries` object of its operator family; [[queries]] and
  * [[oracleSql]] are views of that one registry.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Relational.shippingPriority(
      Tables.customer(spark, dir), Tables.orders(spark, dir), Tables.lineitem(spark, dir))
  }

  /** Every registered query, family by family. */
  lazy val registry: Seq[QueryDef] = Seq(
    WordCountQueries.all, RelationalQueries.all, SketchQueries.all, TextQueries.all,
    EventQueries.all, PackingQueries.all, TokenizerQueries.all, GraphQueries.all,
    SamplingQueries.all, DomainQueries.all, HtmlQueries.all, LinkGraphQueries.all,
    PipelineQueries.all, DsirQueries.all, DedupQueries.all, SimilarityQueries.all,
    SplitQueries.all, ClassifierQueries.all, MultimodalQueries.all).flatten

  private lazy val builders: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(d => d.name -> d.build).toMap

  /** Query name → builder over a testdata directory. Builds no oracle SQL. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = builders

  /** Query name → equivalent SQL runnable by DuckDB on the same parquet
    * tables; a twin maps to its batch query's SQL.
    */
  def oracleSql: Map[String, String] = registry.map(d => d.name -> d.oracleSql).toMap

  /** The builder of a registered query; fails naming it when there is none. */
  def query(name: String): (SparkSession, String) => DataFrame =
    queries.getOrElse(name, throw new NoSuchElementException(s"unknown query '$name'"))

  /** The queries a comma-separated name list selects (every query when
    * there is no list), or Left with the listed names no query answers to.
    */
  def select(only: Option[String]): Either[Seq[String], Map[String, (SparkSession, String) => DataFrame]] =
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq) match {
      case None => Right(queries)
      case Some(names) =>
        val unknown = names.filterNot(queries.contains)
        if (unknown.nonEmpty) Left(unknown)
        else Right(queries.filter { case (name, _) => names.contains(name) })
    }

  /** [[select]] over `SPARK_GRAFT_ONLY` (a dev affordance; unset, it
    * selects every query). Exits with status 2 naming the entries no query
    * answers to, so a typo cannot pass as an empty run.
    */
  def selectFromEnv(tag: String): Map[String, (SparkSession, String) => DataFrame] =
    select(sys.env.get("SPARK_GRAFT_ONLY")) match {
      case Right(selected) => selected
      case Left(unknown) =>
        System.err.println(
          s"[$tag] SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
        sys.exit(2)
    }
}
