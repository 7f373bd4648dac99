package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warm/cold A/B for the r18 percentile rewrites (VERDICT r18 ask #1):
  * the declared a12_percentiles / a22_robust_mad (GroupedPercentile rank
  * arithmetic) vs the pre-r18 native `percentile` aggregate shape, inside
  * ONE JVM so box drift cancels. The native variants reproduce the exact
  * pre-rewrite plans (same rounds, same ORDER BY).
  *
  * Cold = the variant's FIRST noop-sink action in the JVM (fresh Catalyst
  * plan + codegen compile); warm = median of the following repeats.
  * SPARK_GRAFT_AB_ORDER=native-first|rewrite-first balances which variant
  * pays the JVM-wide JIT warmup; run both orders, read cold from each
  * order's first variant.
  *
  * Writes a JSON map to SPARK_GRAFT_AB_OUT if set.
  */
object PctAB {
  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def a12Native(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.t(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        (round(expr("percentile(l_extendedprice, 0.25)") * 10000) / 10000).as("p25_price"),
        (round(expr("percentile(l_extendedprice, 0.5)") * 10000) / 10000).as("p50_price"),
        (round(expr("percentile(l_extendedprice, 0.75)") * 10000) / 10000).as("p75_price"),
        (round(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)") * 100) / 100).as("med_qty_disc"))
      .orderBy(col("l_returnflag").asc_nulls_last)
  }

  private def a22Native(s: SparkSession, dir: String): DataFrame = {
    val c = graft.Tables.t(s, dir, "events")
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("cents"))
    val med = c.groupBy("g").agg(expr("percentile(cents, 0.5)").as("med"))
    val dev = c.join(broadcast(med), "g")
      .withColumn("adev2", (abs(col("cents") - col("med")) * 2).cast("long"))
    val mad = dev.groupBy("g").agg(expr("percentile(adev2, 0.5)").as("mad2"))
    a22Tail(dev, mad)
  }

  /** The r18 GroupedPercentile shape, kept inline so the A/B stays
    * runnable after the declared a22 reverted to the native aggregate
    * (r19 decision: rewrite measured ~2× slower on this heavy-ties LONG
    * column — see plans/r19/pct_ab_*.json). */
  private def a22Rewrite(s: SparkSession, dir: String): DataFrame = {
    val c = graft.Tables.t(s, dir, "events")
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("cents"))
    val med = graft.operators.GroupedPercentile.of(c,
      Seq("g"), "cents", Seq(("med", 0.5)))
    val dev = c.join(broadcast(med), "g")
      .withColumn("adev2", (abs(col("cents") - col("med")) * 2).cast("long"))
    val mad = graft.operators.GroupedPercentile.of(dev,
      Seq("g"), "adev2", Seq(("mad2", 0.5)))
    a22Tail(dev, mad)
  }

  private def a22Tail(dev: DataFrame, mad: DataFrame): DataFrame = {
    dev.join(broadcast(mad), "g")
      .groupBy(col("g"))
      .agg(expr("round((max(med))*100)/100").as("median_cents"),
        expr("round((max(mad2)/2)*100)/100").as("mad_cents"),
        sum(when(col("adev2") * 10000 >
          (lit(44478) * col("mad2")).cast("long"), 1L).otherwise(0L))
          .as("n_outliers"),
        count(lit(1)).as("n"))
      .orderBy(col("g").asc_nulls_last)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val order = sys.env.getOrElse("SPARK_GRAFT_AB_ORDER", "native-first")
    val reps = sys.env.getOrElse("SPARK_GRAFT_AB_REPS", "4").toInt
    val spark = graft.GraftSession()

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "a12_native" -> (() => a12Native(spark, sfDir)),
      "a12_rewrite" -> (() => graft.SparkEntry.queries("a12_percentiles")(spark, sfDir)),
      "a22_native" -> (() => a22Native(spark, sfDir)),
      "a22_rewrite" -> (() => a22Rewrite(spark, sfDir)))
    val ordered =
      if (order == "rewrite-first")
        variants.sortBy { case (n, _) => (!n.endsWith("_rewrite"), n) }
      else variants

    // rows-parity guard before timing: the A/B is void if the variants
    // disagree (collect tiny 3-5 row results and compare)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    require(rows(a12Native(spark, sfDir)) ==
      rows(graft.SparkEntry.queries("a12_percentiles")(spark, sfDir)),
      "a12 native vs rewrite rows differ")
    require(rows(a22Native(spark, sfDir)) == rows(a22Rewrite(spark, sfDir)),
      "a22 native vs rewrite rows differ")

    val out = new StringBuilder("{")
    out.append(s""""order":"$order"""")
    ordered.foreach { case (name, mk) =>
      spark.sparkContext.setJobDescription(s"ab:$name")
      val cold = noop(mk())
      val warm = (1 to reps).map(_ => noop(mk()))
      val warmMed = warm.sorted.apply(warm.size / 2)
      println(f"AB $name cold=$cold%.3f warm_med=$warmMed%.3f warm=${warm.map(w => f"$w%.3f").mkString(",")}")
      out.append(f""","$name":{"cold":$cold%.3f,"warm_med":$warmMed%.3f,"warm":[${warm.map(w => f"$w%.3f").mkString(",")}]}""")
    }
    out.append("}")
    sys.env.get("SPARK_GRAFT_AB_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (out.toString + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
