package graft.alto

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's domain pipeline — ALTO OCR XML → simplified JSON +
  * transcript (`script/extract-text-lines-from-alto.js:23946-24072`,
  * `flows/main_flow.py:65-70`) — re-expressed as per-row columnar
  * expressions.
  *
  * Architecture notes (100 TB posture):
  *  - The whole document transform is *per-row* work: no explode, no
  *    shuffle, no state. A corpus of N XML docs maps over partitions
  *    untouched.
  *  - The reference forks one Node process + one HTTP fetch + one DOM
  *    parse per document (`flows/main_flow.py:54-58`); here each
  *    document string is read once by the native
  *    [[graft.functions.AltoSimplify]] kernel: one StAX cursor pass
  *    that emits the simplified struct directly, with no intermediate
  *    generic ALTO struct and no higher-order flatten. AltoSimplifySpec
  *    checks it byte for byte against `from_xml` + the
  *    `transform`/`filter` flatten, kept in the test tree as
  *    `AltoReference`.
  *  - Tolerance: the reference v2 path CRASHES (TypeError) on a
  *    TextBlock without TextLine or a Page without PrintSpace —
  *    verified empirically against the bundled script. In a distributed
  *    batch a poison document must not kill the job, so missing levels
  *    contribute zero rows here (the reference's "crash the task" maps
  *    to "skip the level"); all other observable behaviors match the
  *    script bit-for-bit (see AltoSpec goldens).
  */
object Alto {

  val NsV2 = "http://www.loc.gov/standards/alto/ns-v2#"
  val NsV3 = "http://www.loc.gov/standards/alto/ns-v3#"

  /** Failure policy for the per-URL fetch path. */
  sealed trait FetchPolicy
  object FetchPolicy {
    /** Reference-faithful (`flows/main_flow.py:59-60`: a non-zero
      * fetch exit raises and fails the flow run): a throwing fetcher
      * fails the Spark task — after task retries, the job. This is the
      * default. */
    case object FailFast extends FetchPolicy
    /** The pipeline's poison-doc stance (the same policy the pipeline
      * takes for unsupported namespaces): a throwing fetcher yields a null
      * xml for that row, and the `fetch_xml` observe() metric reports
      * (urls, failed_fetches) after any action. */
    case object NullOnError extends FetchPolicy
  }

  /** Per-URL fetch fallback (S2, reference
    * `extract-text-lines-from-alto.js:24061-24063`): a distributed
    * url→document map for archives NOT on a Hadoop-readable store.
    * The fetcher is pluggable — the default is the production HTTP
    * client ([[HttpFetcher]]: timeouts, bounded retry with backoff),
    * swapped for a fixture lookup in tests — and runs once per URL on
    * the executors (the reference forks a whole Node process per URL
    * instead). Prefer a whole-file text scan (as `q_alto_bulk` reads
    * its corpus) whenever the store supports it: a scan beats N point
    * fetches.
    *
    * The input is hash-partitioned on `urlCol` into
    * `defaultParallelism` partitions before the fetch, so a work-list
    * read as one partition (one JDBC query) is fetched, parsed and
    * sunk by every core. The count is explicit: a column-only
    * repartition lets AQE coalesce a small work-list back to one
    * partition. The `fetch_xml` / `alto_pipeline` observe() operators
    * sit after the exchange: a second action on the result (the second
    * of two sinks, which reuses the first one's shuffle output) runs
    * them again and reports full counts. */
  def fetchXml(df: DataFrame,
               fetcher: String => String = HttpFetcher.fetcher(),
               urlCol: String = "url", outCol: String = "xml",
               policy: FetchPolicy = FetchPolicy.FailFast): DataFrame = {
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(urlCol))
    policy match {
      case FetchPolicy.FailFast =>
        spread.withColumn(outCol, udf(fetcher).apply(col(urlCol)))
      case FetchPolicy.NullOnError =>
        val safe = (u: String) =>
          try Option(fetcher(u))
          catch { case scala.util.control.NonFatal(_) => None }
        spread.withColumn(outCol, udf(safe).apply(col(urlCol)))
          .observe("fetch_xml",
            count(lit(1)).as("urls"),
            sum(when(col(outCol).isNull, 1).otherwise(0)).as("failed_fetches"))
    }
  }

  /** Transcript = space-join of token texts in document order
    * (A1/F2, `flows/main_flow.py:70`). `array_join` skips null texts
    * (the reference raises KeyError there — same "poison doc" stance
    * as the flatten). No shuffle: array order IS document order. */
  def transcript(simplified: Column): Column =
    array_join(simplified("text")("text"), " ")

  /** Simplified-JSON serialization (F5), compact form;
    * `ignoreNullFields` matches JSON.stringify dropping undefined
    * keys. */
  def toSimplifiedJson(simplified: Column): Column =
    to_json(simplified, Map("ignoreNullFields" -> "true"))

  /** Full document pipeline over (id, url, xml) rows: the engine-side
    * equivalent of the reference's per-row task chain
    * (`flows/main_flow.py:136-153`), minus the external sinks.
    *
    * The reference logs every unsupported-namespace document to stderr
    * before emitting the all-null record
    * (`extract-text-lines-from-alto.js:24045`); per-row stderr is not
    * an executor-side concept, so the engine-idiomatic equivalent is an
    * `observe()` metric: after any action, `alto_pipeline` reports
    * (docs, skipped_unsupported_docs) via
    * `df.queryExecution.observedMetrics` / a QueryExecutionListener —
    * zero overhead beyond one counter per partition, no UDFs. */
  def pipeline(df: DataFrame, idCol: String = "representation_id",
               urlCol: String = "url", xmlCol: String = "xml"): DataFrame = {
    import graft.functions.GraftFunctions._
    // every v2/v3 document the kernel reads has a (possibly empty) token
    // array; a null, unparsable or unsupported one has none
    df.withColumn("simplified", graft.functions.AltoSimplify(col(xmlCol)))
      .observe("alto_pipeline",
        count(lit(1)).as("docs"),
        sum(when(col("simplified")("text").isNull, 1).otherwise(0))
          .as("skipped_unsupported_docs"))
      .withColumn("json", toSimplifiedJson(col("simplified")))
      // byte-parity form of F5: the reference emits
      // JSON.stringify(simplifiedAlto, null, 2) (`:24071`); json_pretty
      // re-lays the compact form in that exact byte format, so objects
      // written from this column equal the reference's (AltoSpec golden)
      .withColumn("json_pretty", graft.functions.JsonPrettyColumn(col("json")))
      .withColumn("transcript", transcript(col("simplified")))
      .withColumn("s3_key", s3Key(col(urlCol)))
      .select(col(idCol), col(urlCol), col("simplified"),
        col("json"), col("json_pretty"), col("transcript"), col("s3_key"))
  }

  /** Exploded token-level relational view (one row per kept `<String>`)
    * for token-level analytics; `posexplode` keeps document order
    * explicit so downstream aggregation can stay deterministic. */
  def tokens(df: DataFrame, docIdCol: String): DataFrame =
    tokenView(df, docIdCol, outer = false)

  /** Outer variant: a document with no tokens (empty v2 filter result,
    * unsupported namespace → null array) keeps one all-null row —
    * `posexplode_outer` vs `posexplode`, the generator-side encoding
    * of "don't silently lose empty documents" (SURVEY.md §2.8 P6). */
  def tokensOuter(df: DataFrame, docIdCol: String): DataFrame =
    tokenView(df, docIdCol, outer = true)

  private def tokenView(df: DataFrame, docIdCol: String, outer: Boolean): DataFrame = {
    val gen =
      if (outer) posexplode_outer(col("simplified")("text"))
      else posexplode(col("simplified")("text"))
    df.select(col(docIdCol), gen.as(Seq("pos", "tok")))
      .select(col(docIdCol), col("pos"),
        col("tok")("text").as("text"),
        col("tok")("x").as("x"), col("tok")("y").as("y"),
        col("tok")("width").as("width"), col("tok")("height").as("height"))
  }
}
