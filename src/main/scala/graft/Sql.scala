package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** SQL entry point: register every testdata table as a temp view and run
  * ANSI SQL through Spark's parser/Catalyst — the surface a SQL-first user
  * of the engine gets (the reference has no SQL at all; this comes free
  * with the declarative design).
  */
object Sql {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  /** Create (or replace) temp views for all tables under `dir`, each a
    * fresh [[Tables]] read. Tables infers each schema once per file stamp,
    * so a repeat call runs no Spark job, and a fixture rewritten under the
    * same dir shows in the next call's views.
    */
  def createViews(spark: SparkSession, dir: String): Unit = {
    val t = Tables(spark, dir)
    tableNames.foreach { n =>
      // events carries the nanos→micros conversion
      (if (n == "events") t.events else t.t(n)).createOrReplaceTempView(n)
    }
  }

  /** Views + query in one call. */
  def query(spark: SparkSession, dir: String, sql: String): DataFrame = {
    createViews(spark, dir)
    spark.sql(sql)
  }
}
