package graft

/** Ad-hoc SQL over the lake (SURVEY.md §3 EP3 — the reference's
  * `duckdb` CLI / `dbt show` entry point):
  *
  *   sbt "runMain graft.Sql <sfDir> <sql>"
  *
  * registers the fixture tables as views and runs the statement; graft
  * extensions (vec_dot, ...) are active. */
object Sql {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Sql <sfDir> <sql...>")
    val sfDir = args(0)
    val sql = args.drop(1).mkString(" ")
    val spark = GraftSession()
    Tables.registerAll(spark, sfDir)
    spark.sql(sql).show(100, truncate = false)
    spark.stop()
  }
}
