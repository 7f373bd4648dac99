package graft.tools

import graft.Tables
import graft.functions.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Scratch diagnostics: sketch-parameter calibration against the fixtures
  * (hamming distributions for planted near-dups, LSH bucket recall vs
  * random-collision baseline). Not part of the driver contract. */
object Diag {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession()

    val d = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
    val mutated = d.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        array_join(expr("slice(split(text,' '), 1, size(split(text,' ')) - 1)"), " ").as("text"))
    val corpus = d.unionByName(mutated)

    val sh = Dedup.simHash(corpus, "doc_id", "text")
    val planted = sh.as("x").join(sh.as("y"),
        col("x.doc_id") + 1000000 === col("y.doc_id"))
      .select(col("x.doc_id").as("id"),
        (bit_count(col("x.lo").bitwiseXOR(col("y.lo"))) +
          bit_count(col("x.hi").bitwiseXOR(col("y.hi")))).as("hamming"))
      .orderBy(col("hamming"))
    println("=== planted-pair simhash hamming distances ===")
    planted.collect().foreach(r => println(s"  doc ${r.get(0)} -> hamming ${r.get(1)}"))

    println("=== simHashNearDups hit counts by maxHamming ===")
    Seq(6, 10, 14, 20).foreach { mh =>
      val found = Dedup.simHashNearDups(corpus, "doc_id", "text", mh)
        .filter(col("idb") === col("ida") + 1000000).count()
      val total = Dedup.simHashNearDups(corpus, "doc_id", "text", mh).count()
      println(s"  maxHamming=$mh: planted found $found/20, total pairs $total")
    }

    println("=== ANN bucket recall (nPlanes sweep) ===")
    val e = Tables.t(spark, sf, "embeddings")
      .withColumn("norm", sqrt(call_function("vec_dot", col("embedding"), col("embedding"))))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("norm").as("qn"))
    val c = e.filter(col("vec_id") >= 50)
      .select(col("vec_id").as("nid"), col("embedding").as("ne"), col("norm").as("nn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    val top1 = q.crossJoin(c).withColumn("sim",
        call_function("vec_dot", col("qe"), col("ne")) / (col("qn") * col("nn")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    Seq(2, 3, 4).foreach { np =>
      val bucketed = e.withColumn("bucket", Dedup.lshBucket(col("embedding"), np, 64))
      val qb = bucketed.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("bucket"))
      val cb = bucketed.filter(col("vec_id") >= 50).select(col("vec_id").as("nid"), col("bucket").as("cb"))
      val mates = qb.join(cb, col("bucket") === col("cb")).select("qid", "nid")
        .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val nCand = e.filter(col("vec_id") >= 50).count()
      val hits = top1.count { case (k, v) => mates.getOrElse(k, Set()).contains(v) }
      val avgFrac = mates.values.map(_.size).sum.toDouble / (top1.size * nCand)
      println(f"  planes=$np: top1 recall ${hits.toDouble / top1.size}%.3f, avg candidate fraction $avgFrac%.3f")
    }
    spark.stop()
  }
}
