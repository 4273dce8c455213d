package graft

import graft.queries.{Relational, TextQueries}

/** SQL-surface parity: representative queries expressed in ANSI SQL through
  * spark.sql over the registered views must equal the DataFrame-API
  * results (same Catalyst plans underneath — this guards the view wiring
  * and the SQL entry point, and doubles as an API-parity check).
  */
class SqlSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("top-k via SQL equals the DataFrame query") {
    val viaSql = Sql.query(
      spark,
      sf,
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin
    )
    assert(rowsOf(viaSql) == rowsOf(Relational.qTopK.fn(spark, sf)))
  }

  test("broadcast star join via SQL equals the DataFrame query") {
    val viaSql = Sql.query(
      spark,
      sf,
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_rev,
        |  COUNT(*) AS cnt
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin
    )
    assert(rowsOf(viaSql) == rowsOf(Relational.qJoinBroadcast.fn(spark, sf)))
  }

  test("grep via SQL equals the DataFrame query") {
    val viaSql = Sql.query(
      spark,
      sf,
      "SELECT doc_id, text FROM documents WHERE contains(lower(text), 'join') ORDER BY doc_id"
    )
    assert(rowsOf(viaSql) == rowsOf(TextQueries.grep.fn(spark, sf)))
  }

  test("native graft_cosine is usable from SQL over the embeddings view") {
    val df = Sql.query(
      spark,
      sf,
      "SELECT vec_id FROM embeddings WHERE graft_cosine(embedding, embedding) > 0.999 ORDER BY vec_id LIMIT 5"
    )
    assert(df.count() == 5)
  }

  test("createViews re-reads fixtures rewritten under the same dir") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("graft-sql-refresh").toFile
    tmp.deleteOnExit()
    Sql.tableNames.foreach { t =>
      Files.copy(
        Paths.get(s"$sf/$t.parquet"),
        Paths.get(tmp.getAbsolutePath, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING
      )
    }
    val dir = tmp.getAbsolutePath
    val before =
      Sql.query(spark, dir, "SELECT COUNT(*) AS c FROM documents").collect()(0).getLong(0)
    assert(before > 100)
    // rewrite documents.parquet in place with a 100-row subset
    val subsetDir = Files.createTempDirectory("graft-sql-subset").toFile
    subsetDir.deleteOnExit()
    spark.read
      .parquet(s"$sf/documents.parquet")
      .limit(100)
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(subsetDir.getAbsolutePath)
    val part = subsetDir.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(
      part.toPath,
      Paths.get(dir, "documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING
    )
    val after =
      Sql.query(spark, dir, "SELECT COUNT(*) AS c FROM documents").collect()(0).getLong(0)
    assert(after == 100, s"the views must surface the rewritten fixture (got $after)")
  }

  test("a repeat Tables read runs no Spark job and mints a fresh relation") {
    val first         = graft.core.Tables(spark, sf).lineitem
    val (again, jobs) = jobsDuring(graft.core.Tables(spark, sf).lineitem)
    assert(jobs == 0, s"a repeat read ran $jobs Spark jobs; the schema must come from the memo")
    assert(again.schema == first.schema)
    // distinct expression ids, so a self-join of two reads resolves
    assert(first.queryExecution.analyzed.output.map(_.exprId).intersect(
      again.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
  }

  test("Tables re-infers the schema of a dataset rewritten under the same path") {
    val tmp  = java.nio.file.Files.createTempDirectory("graft-tables-stamp")
    val path = s"$tmp/t.parquet"
    try {
      spark.range(3).write.parquet(path)
      assert(graft.core.Tables.read(spark, path).columns.toSeq == Seq("id"))
      spark.range(3).selectExpr("id", "id * 2 AS x").write.mode("overwrite").parquet(path)
      assert(graft.core.Tables.read(spark, path).columns.toSeq == Seq("id", "x"))
    } finally graft.ops.Sinks.deleteQuietly(tmp)
  }
}
