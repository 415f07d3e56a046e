package graft.sources

import graft.SparkSpec

/** Source-side JDBC tests against the recording stub driver — proves
  * the worklist join and predicates are PUSHED into the SQL that arrives
  * at the database (the reference executes them in Postgres,
  * `flows/main_flow.py:22-44`), not evaluated post-scan, and that the
  * pushed-SQL form ships the query text verbatim. */
class JdbcSourceSpec extends SparkSpec {

  StubJdbcDriver.ensureRegistered()

  private val driverOpt = Map("driver" -> classOf[StubJdbcDriver].getName)

  private val fileTable = StubDb.Table(
    Seq("id", "ebucore_has_mime_type", "schema_name", "premis_stored_at", "updated_at"),
    Seq(
      Seq("f1", "application/xml", "alto-v2", "https://x/alto1.xml", "2024-01-01"),
      Seq("f2", "application/xml", "mets", "https://x/mets.xml", "2024-01-02"),
      Seq("f3", "image/jpeg", "alto-v2", "https://x/img.jpg", "2024-01-03"),
      Seq("f4", "application/xml", "alto-v3", "https://x/alto2.xml", "2024-01-04"),
      Seq("f5", null, "alto-v2", "https://x/null.xml", "2024-01-05")))

  private val includesTable = StubDb.Table(
    Seq("file_id", "representation_id"),
    Seq(Seq("f1", "r1"), Seq("f2", "r2"), Seq("f3", "r3"), Seq("f4", "r4")))

  StubDb.registerTable("graph_file", fileTable)
  StubDb.registerTable("graph_includes", includesTable)
  // the database's answer to the work-list's join subquery: file ⋈
  // includes on id = file_id, before any filter
  StubDb.registerQuery("FROM graph_file f JOIN graph_includes i ON f.id = i.file_id",
    StubDb.Table(
      Seq("representation_id", "premis_stored_at", "ebucore_has_mime_type", "schema_name",
        "updated_at"),
      for (i <- includesTable.rows; f <- fileTable.rows if f(0) == i(0))
        yield Seq(i(1), f(3), f(1), f(2), f(4))))

  test("worklist sends one joined query and pushes mime/LIKE filters into its SQL") {
    val bucket = "wl1"
    StubDb.clearLog(bucket)
    val rows = JdbcSource.worklist(spark, s"jdbc:graftstub:$bucket",
        "graph_file", "graph_includes", since = None, extraOptions = driverOpt)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("r1", "https://x/alto1.xml"), ("r4", "https://x/alto2.xml")))
    val pushed = StubDb.log(bucket)
    assert(pushed.exists(s =>
      s.contains("\"ebucore_has_mime_type\" = 'application/xml'") &&
        s.contains("\"schema_name\" LIKE '%alto%'")),
      s"filters not pushed; received:\n${pushed.mkString("\n")}")
    // the database runs the join: one data query, not one per table
    val dataReads = pushed.filterNot(_.contains("WHERE 1=0"))
    assert(dataReads.size == 1 && dataReads.head.contains("JOIN"),
      s"expected one joined data query; received:\n${pushed.mkString("\n")}")
  }

  test("incremental worklist pushes the watermark range predicate") {
    val bucket = "wl2"
    StubDb.clearLog(bucket)
    val rows = JdbcSource.worklist(spark, s"jdbc:graftstub:$bucket",
        "graph_file", "graph_includes", since = Some("2024-01-02"),
        extraOptions = driverOpt)
      .collect().map(_.getString(0)).toSet
    assert(rows == Set("r4"))
    val pushed = StubDb.log(bucket)
    assert(pushed.exists(_.contains("\"updated_at\" >= '2024-01-02'")),
      s"range predicate not pushed; received:\n${pushed.mkString("\n")}")
  }

  test("column pruning reaches the database: only selected columns are fetched") {
    val bucket = "wl3"
    StubDb.clearLog(bucket)
    JdbcSource.table(spark, s"jdbc:graftstub:$bucket", "graph_file", driverOpt)
      .select("id").collect()
    val dataReads = StubDb.log(bucket).filter(s => !s.contains("WHERE 1=0"))
    assert(dataReads.nonEmpty)
    assert(dataReads.forall(s => s.contains("\"id\"") && !s.contains("schema_name")),
      s"projection not pruned; received:\n${dataReads.mkString("\n")}")
  }

  test("partitioned read issues one strided query per partition") {
    val bucket = "wl5"
    StubDb.clearLog(bucket)
    StubDb.registerTable("graph_big", StubDb.Table(
      Seq("uid", "name"),
      (0 until 8).map(i => Seq(i.toString, s"n$i")),
      Seq(java.sql.Types.BIGINT, java.sql.Types.VARCHAR)))
    val rows = JdbcSource.table(spark, s"jdbc:graftstub:$bucket", "graph_big",
        driverOpt ++ Map(
          "partitionColumn" -> "uid", "lowerBound" -> "0",
          "upperBound" -> "8", "numPartitions" -> "2"))
      .collect().map(_.getLong(0)).toSet
    assert(rows == (0L until 8L).toSet)
    val dataReads = StubDb.log(bucket).filter(s => !s.contains("WHERE 1=0"))
    assert(dataReads.size == 2, s"expected 2 strided queries:\n${dataReads.mkString("\n")}")
    assert(dataReads.exists(_.contains("\"uid\" < 4")), dataReads.mkString("\n"))
    assert(dataReads.exists(_.contains("\"uid\" >= 4")), dataReads.mkString("\n"))
  }

  test("pushed-SQL form ships the query text for the database to execute") {
    val bucket = "wl4"
    StubDb.clearLog(bucket)
    val refSql = "SELECT representation_id, premis_stored_at FROM graph_file " +
      "JOIN graph_includes ON file_id = id"
    StubDb.registerQuery(refSql, StubDb.Table(
      Seq("representation_id", "premis_stored_at"),
      Seq(Seq("r1", "https://x/alto1.xml"))))
    val rows = JdbcSource.query(spark, s"jdbc:graftstub:$bucket", refSql, driverOpt)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("r1", "https://x/alto1.xml")))
    assert(StubDb.log(bucket).exists(_.contains(refSql)),
      s"query text not shipped; received:\n${StubDb.log(bucket).mkString("\n")}")
  }
}
