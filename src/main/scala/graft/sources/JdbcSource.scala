package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC source loaders — the source-side twin of Sinks.jdbcUpsert,
  * completing the reference's catalog story (SURVEY.md §2.1 S1): the
  * reference's primary input is a pushed-down Postgres query over
  * `graph.file` / `graph.includes`
  * (`/root/reference/flows/main_flow.py:22-44`). Two forms:
  *
  *  - [[table]] scans a base table and lets Catalyst push projection
  *    and filters into the generated SQL (`PushedFilters` reach the
  *    database; preferred — the optimizer owns the plan).
  *  - [[query]] ships one SQL string for the database to execute
  *    (the reference's literal shape; join pushdown included, at the
  *    cost of an opaque plan on the Spark side).
  *
  * [[worklist]] composes the reference's work-list semantics from two
  * [[table]] scans — equality + LIKE + optional incremental range
  * predicate, all pushed per-table; the join runs in Spark (Spark does
  * not push joins into JDBC — SURVEY.md §4).
  *
  * Scale posture: a single JDBC query is one partition — fine for a
  * metadata catalog, wrong for a large table. Callers parallelize with
  * the standard partitioning options (`partitionColumn` /
  * `lowerBound` / `upperBound` / `numPartitions` → one query per
  * stride, or `predicates` → one query per predicate), passed through
  * `extraOptions`. `fetchsize` defaults to 1000 so drivers stream
  * instead of materializing the result. A one-partition work-list
  * still fans out downstream: `Alto.fetchXml` hash-partitions it on
  * the URL over `defaultParallelism` partitions before fetching.
  *
  * The environment has no database, so these are exercised against a
  * recording stub driver (JdbcSourceSpec) the way the sink side is —
  * the test asserts the pushed-down SQL that arrives at the driver.
  */
object JdbcSource {

  private val defaults = Map("fetchsize" -> "1000")

  /** Base-table scan; Catalyst prunes columns and pushes filters into
    * the SQL sent to the database. */
  def table(spark: SparkSession, url: String, tableName: String,
            extraOptions: Map[String, String] = Map.empty): DataFrame =
    (defaults ++ extraOptions)
      .foldLeft(spark.read.format("jdbc")
        .option("url", url).option("dbtable", tableName)) {
        case (r, (k, v)) => r.option(k, v)
      }.load()

  /** Pushed-SQL form: the database executes `sql` (joins included);
    * Spark reads the result. */
  def query(spark: SparkSession, url: String, sql: String,
            extraOptions: Map[String, String] = Map.empty): DataFrame =
    (defaults ++ extraOptions)
      .foldLeft(spark.read.format("jdbc")
        .option("url", url).option("query", sql)) {
        case (r, (k, v)) => r.option(k, v)
      }.load()

  /** The reference work-list on JDBC base tables: XML files whose
    * schema name contains 'alto', joined to the representation that
    * includes them, optionally restricted to rows updated on/after
    * `since` (the incremental watermark, reference
    * `flows/main_flow.py:29-30`). Equality/LIKE/range predicates are
    * pushed into the per-table SQL; the equi-join runs in Spark. */
  def worklist(spark: SparkSession, url: String,
               fileTable: String, includesTable: String,
               since: Option[String] = None,
               extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val file0 = table(spark, url, fileTable, extraOptions)
      .filter(col("ebucore_has_mime_type") === lit("application/xml") &&
        col("schema_name").like("%alto%"))
    val file = since.fold(file0)(s => file0.filter(col("updated_at") >= lit(s)))
    val includes = table(spark, url, includesTable, extraOptions)
    file.join(includes, file("id") === includes("file_id"))
      .select(col("representation_id"), col("premis_stored_at"))
  }
}
