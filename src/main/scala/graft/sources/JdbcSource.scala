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
  * [[worklist]] reads the reference's work-list as one [[table]] scan
  * whose relation is the `file` ⋈ `includes` subquery, so the database
  * runs the join with its own indexes, as Postgres does for the
  * reference. Mime equality, the LIKE and the optional incremental range
  * predicate are DataFrame filters on top, which Catalyst compiles into
  * the WHERE of the one SQL statement sent. Joining two table scans in
  * Spark instead (Spark does not push joins into JDBC — SURVEY.md §4)
  * reads all of `includes` on every sync, and because JDBC relations
  * carry no size estimate the join plans as a sort-merge join: two scan
  * shuffles and a broadcast, three extra Spark jobs before the first
  * document is fetched.
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
  * JdbcSourceSpec asserts the SQL that reaches a recording stub driver;
  * JdbcWorklistDerbySpec runs the work-list on embedded Derby.
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
    * `flows/main_flow.py:29-30`). One relation, the joined subquery
    * (`dbtable`, not `query`: Spark rejects `query` together with
    * `partitionColumn`); the filters are pushed into its WHERE, and
    * `since` stays a Spark literal, never spliced into the SQL text. */
  def worklist(spark: SparkSession, url: String,
               fileTable: String, includesTable: String,
               since: Option[String] = None,
               extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val joined = "(SELECT i.representation_id, f.premis_stored_at, " +
      "f.ebucore_has_mime_type, f.schema_name, f.updated_at " +
      s"FROM $fileTable f JOIN $includesTable i ON f.id = i.file_id) wl"
    val wl0 = table(spark, url, joined, extraOptions)
      .filter(col("ebucore_has_mime_type") === lit("application/xml") &&
        col("schema_name").like("%alto%"))
    since.fold(wl0)(s => wl0.filter(col("updated_at") >= lit(s)))
      .select(col("representation_id"), col("premis_stored_at"))
  }
}
