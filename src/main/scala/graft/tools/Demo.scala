package graft.tools

import graft.sources.DeltaLite

/** Library-surface walkthrough of the DeltaLite lifecycle — the usage a
  * consumer of the engine writes: create → append → merge → compact →
  * time-travel. `sbt "runMain graft.tools.Demo"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    import spark.implicits._

    val path = java.nio.file.Files.createTempDirectory("graft_demo").toString
    DeltaLite.create(spark, path,
      (0L until 50L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(8))
    DeltaLite.append(spark, path,
      (50L until 100L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(8))
    DeltaLite.merge(spark, path,
      Seq((0L, -1.0), (100L, 100.0)).toDF("k", "v"), Seq("k"))
    val v = DeltaLite.compact(spark, path, numFiles = 1)
    val files = new java.io.File(s"$path/v=$v").listFiles()
      .count(_.getName.endsWith(".parquet"))
    println(s"DEMO: latest version $v in $files parquet file(s)")
    println(s"DEMO: rows now = " + DeltaLite.read(spark, path).count() +
      ", at v0 = " + DeltaLite.read(spark, path, Some(0L)).count())
    println(s"DEMO: merged k=0 -> " + DeltaLite.read(spark, path)
      .filter($"k" === 0L).select("v").head().getDouble(0))
    println(s"DEMO: log = " +
      new java.io.File(s"$path/_graft_log").list().sorted.mkString(","))
    spark.stop()
  }
}
