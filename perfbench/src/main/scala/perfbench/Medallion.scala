package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.IncrementalMv
import graft.sources.DeltaLite

/** The paper's pipeline, driven batch by batch: `events` split by day
  * into landed parquet batches with seeded late re-deliveries, then per
  * batch a bronze append, a silver dedup/upsert MERGE on `event_id`, the
  * batch's UPDATE and DELETE corrections, a gold incremental-MV refresh,
  * a bounded pruned scan and a time-travel read, and a silver compaction
  * every `CompactEvery` batches.
  *
  * The seed picks which earlier events are re-delivered, which keys are
  * corrected or deleted and which day or version each read asks for.
  * Corrections and deletes only touch keys at least two days old, and
  * re-deliveries (5 %) come from the day before, so a correction is never
  * undone by a later re-delivery and the final state is a plain function
  * of the batches applied. [[verify]] recomputes it from scratch. */
final class Medallion(c: Ctx) {
  import Medallion._
  private val spark = c.spark
  private val landing = s"${c.work}/landing"

  /** Per batch (one day): the corrected keys with their new value and
    * the deleted keys; its rows are landed under `landing/batch=<day>`. */
  final case class Batch(day: Int, corrections: Seq[(Long, Double)], deletes: Seq[Long])

  val batches: IndexedSeq[Batch] = {
    val r = new SplittableRandom(c.seed)
    val events = graft.Tables.t(spark, c.fixtures, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect()
    val dayOf = (e: Row) => ((e.getTimestamp(1).getTime / 86400000L) -
      Fixtures.EventStart.toEpochDay).toInt
    val byDay = events.groupBy(dayOf).withDefaultValue(Array.empty[Row])
    val deleted = scala.collection.mutable.Set.empty[Long]
    val landed = Seq.newBuilder[Row]
    val plan = (0 until Fixtures.EventDays).map { d =>
      val redelivered = (math.max(0, d - 1) until d).flatMap(byDay(_))
        .filter(_ => r.nextDouble() < 0.05)
      val rows = byDay(d) ++ redelivered
      rows.map(e => (r.nextLong(), e)).sortBy(_._1)
        .foreach { case (_, e) => landed += Row.fromSeq(e.toSeq :+ d) }
      val old = (0 to d - 2).flatMap(byDay(_)).map(_.getLong(0))
      def sample(parity: Int, n: Int): Seq[Long] = {
        val pool = old.filter(k => k % 2 == parity && !deleted(k))
        if (pool.isEmpty) Nil else Seq.fill(n)(pool(r.nextInt(pool.size))).distinct
      }
      val corr = sample(0, 4).map(k => k -> (r.nextInt(49000) + 1) / 100.0)
      val del = sample(1, 3)
      deleted ++= del
      Batch(d, corr, del)
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType),
      StructField("batch", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(landed.result(), 4), schema)
      .repartition(col("batch")).write.partitionBy("batch").parquet(landing)
    plan
  }

  private def landed(b: Int): DataFrame =
    spark.read.parquet(s"$landing/batch=$b")

  private def silverRows(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("ts"), to_date(col("ts")).as("day"),
      col("user_id"), col("event_type"), col("value"))

  /** Bytes of the landed batch files, i.e. the ingested input. */
  def landedBytes(upTo: Int): Long = (0 until upTo).map(b =>
    dirBytes(Paths.get(s"$landing/batch=$b"), _.toString.endsWith(".parquet"))).sum

  /** Tables of one pipeline instance. */
  final class Lake(val root: String) {
    val bronze = s"$root/bronze"
    val silver = s"$root/silver"
    val gold = s"$root/gold"
    private var silverVersions = Vector.empty[Long]
    var applied = 0

    DeltaLite.create(spark, bronze, landed(0).limit(0).drop("batch"))
    DeltaLite.create(spark, silver, silverRows(landed(0).limit(0)))

    /** One write call, with the commits and files it adds and removes. */
    private def write(metric: String, path: String)(f: => Unit): Unit = {
      val (v0, n0) = DeltaLite.latestVersion(path)
        .map(_ => DeltaLite.snapshot(path)).map(s => (s.version, s.files.size))
        .getOrElse((-1L, 0))
      c.rec.call(metric)(f)
      val after = DeltaLite.snapshot(path)
      val added = (v0 + 1 to after.version)
        .map(v => DeltaLite.versionAddStats(path, v)._1).sum
      c.rec.count("sources.commits", (after.version - v0).toDouble)
      c.rec.count("sources.files_added", added.toDouble)
      c.rec.count("sources.files_removed", (added - (after.files.size - n0)).toDouble)
      if (path == silver) silverVersions :+= after.version
    }

    /** Apply batch `b`; `op` runs each step as one operation. */
    def apply(b: Batch, op: (String, String) => (=> Unit) => Boolean,
        r: SplittableRandom): Unit = {
      val in = landed(b.day)
      op("bronze_append", "ingest") {
        write("sources.append_ms", bronze)(DeltaLite.append(spark, bronze, in))
      }
      op("silver_merge", "ingest") {
        write("sources.merge_ms", silver)(DeltaLite.merge(spark, silver,
          silverRows(in).dropDuplicates("event_id"), Seq("event_id")))
      }
      if (b.corrections.nonEmpty) op("silver_update", "ingest") {
        val ((k0, v0), rest) = (b.corrections.head, b.corrections.tail)
        val value = rest.foldLeft(when(col("event_id") === k0, v0)) {
          case (w, (k, v)) => w.when(col("event_id") === k, v)
        }
        write("sources.update_ms", silver)(DeltaLite.update(spark, silver,
          col("event_id").isin(b.corrections.map(_._1): _*), Map("value" -> value)))
      }
      if (b.deletes.nonEmpty) op("silver_delete", "ingest") {
        write("sources.delete_ms", silver)(DeltaLite.delete(spark, silver,
          col("event_id").isin(b.deletes: _*)))
      }
      op("gold_refresh", "ingest") {
        write("operators.mv_refresh_ms", gold)(IncrementalMv.refreshSum(spark,
          silver, gold, Seq("day", "event_type"), "value"))
      }
      if ((b.day + 1) % CompactEvery == 0) op("silver_compact", "ingest") {
        write("sources.compact_ms", silver)(DeltaLite.compact(spark, silver))
      }
      val (lo, hi) = idRanges(r.nextInt(b.day + 1))
      op("silver_scan", "read") {
        val snap = c.rec.call("sources.snapshot_tip_ms")(DeltaLite.snapshot(silver))
        val bounds = Seq(DeltaLite.ColumnBound("event_id", Some(lo), Some(hi)))
        val kept = DeltaLite.pruneFiles(snap, bounds).size
        c.rec.count("prune.kept", kept)
        c.rec.count("prune.total", snap.files.size)
        c.rec.call("sources.scan_ms")(DeltaLite.scan(spark, silver, bounds)
          .filter(col("event_id").between(lo, hi))
          .agg(count(lit(1)), sum("value")).collect())
      }
      val asOf = silverVersions(r.nextInt(silverVersions.size))
      op("silver_as_of", "read") {
        c.rec.call("sources.snapshot_asof_ms")(DeltaLite.snapshot(silver, Some(asOf)))
        DeltaLite.read(spark, silver, Some(asOf)).agg(count(lit(1)), sum("value"))
          .collect()
      }
      applied += 1
    }

    def tables: Seq[String] = Seq(bronze, silver, gold)
  }

  /** day → (min, max) event_id, the bounds of a day's pruned scan */
  private lazy val idRanges: Map[Int, (Long, Long)] =
    graft.Tables.t(spark, c.fixtures, "events")
      .groupBy(datediff(to_date(col("ts")), lit(Fixtures.EventStart.toString)).as("d"))
      .agg(min("event_id"), max("event_id")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Recompute silver and gold from the landed batches and the batch
    * plan alone, and compare fingerprints with the pipeline's tables.
    * Returns the names of the tables that differ. */
  def verify(lake: Lake): Seq[String] = {
    val applied = batches.take(lake.applied)
    val deletes = applied.flatMap(_.deletes).toSet
    val corrected = applied.flatMap(_.corrections).toMap // later batches win
    val corr = spark.createDataFrame(corrected.toSeq.map { case (k, v) => Row(k, v) }.asJava,
      StructType(Seq(StructField("k", LongType), StructField("v", DoubleType))))
    val silverCols = Seq("event_id", "ts", "day", "user_id", "event_type", "value")
    val expected = silverRows(spark.read.parquet(landing)
        .filter(col("batch") < lake.applied)).dropDuplicates("event_id")
      .filter(!col("event_id").isin(deletes.toSeq: _*))
      .join(broadcast(corr), col("event_id") === col("k"), "left")
      .withColumn("value", coalesce(col("v"), col("value")))
      .select(silverCols.map(col): _*)
    val sumT = "decimal(28,4)"
    val expectedGold = expected.groupBy("day", "event_type")
      .agg(sum(col("value").cast(sumT)).cast(sumT).as("sum_value"),
        count(lit(1)).as("n_rows"))
    val silverOk = Fingerprint.of(expected) ==
      Fingerprint.of(DeltaLite.read(spark, lake.silver).select(silverCols.map(col): _*))
    val goldOk = Fingerprint.of(expectedGold) ==
      Fingerprint.of(DeltaLite.read(spark, lake.gold).select("day", "event_type",
        "sum_value", "n_rows"))
    Seq("silver" -> silverOk, "gold" -> goldOk).collect { case (t, false) => t }
  }

  /** Bytes on disk under the tables, and their live bytes per the log. */
  def space(lake: Lake): (Long, Long) =
    (lake.tables.map(t => dirBytes(Paths.get(t), _ => true)).sum,
      lake.tables.map(t => DeltaLite.snapshot(t).totalBytes).sum)

  def logCheckpoints(lake: Lake): Int = lake.tables.map { t =>
    val log = Paths.get(t, "_graft_log")
    if (!Files.isDirectory(log)) 0
    else Files.list(log).iterator().asScala.count(_.getFileName.toString.contains("checkpoint"))
  }.sum

  def liveFiles(lake: Lake): Int = lake.tables.map(t => DeltaLite.snapshot(t).files.size).sum
}

object Medallion {
  val CompactEvery = 4

  def dirBytes(root: Path, keep: Path => Boolean): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p))
        .map(Files.size).sum
      finally s.close()
    }
}
