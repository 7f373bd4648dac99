package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver contract: exactly (sfDir, outDir). An optional third arg
    // (comma-separated query names) narrows the run for local iteration.
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
    val sfDir = args(0); val outDir = args(1)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Queries dump concurrently (Spark's scheduler interleaves the tiny
    // jobs across cores; each write lands in its own directory).
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (name, fn) => Future {
        val t0 = System.nanoTime()
        try {
          // Outputs are naive-UTC by contract: LTZ timestamps cast to NTZ
          // (identity at the session's UTC tz) so the dumped parquet reads
          // as plain TIMESTAMP in DuckDB — matching the oracle — no matter
          // what outputTimestampType a concurrently-running DeltaLite
          // write has temporarily set on the shared session.
          val res = fn(spark, sfDir)
          val out = res.schema.fields.foldLeft(res) { (d, f) =>
            if (f.dataType == org.apache.spark.sql.types.TimestampType)
              d.withColumn(f.name,
                org.apache.spark.sql.functions.col(f.name).cast("timestamp_ntz"))
            else d
          }
          out.coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      } }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
