package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The ten fixture tables the declared queries read, generated from a
  * fixed seed with the schemas and value domains of the engine's test
  * data (TPC-H-like star schema at scale factor 0.01, an `events` stream
  * over 30 days, and `documents`/`embeddings` with planted near-duplicates
  * for the LLM-pipeline queries). Each table is one parquet directory
  * `<dir>/<name>.parquet`, the layout `graft.Tables` reads. The fixture
  * seed is fixed, so the committed fingerprints stay valid; the workload
  * seed only orders operations and shapes the medallion batches. */
object Fixtures {
  val Seed = 42L
  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Orders = 15000
  val LineItems = 60000
  val Events = 10000
  val Documents = 500
  val Embeddings = 500
  val EventDays = 30
  val EventStart: LocalDate = LocalDate.of(2024, 1, 1)

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
    "STANDARD")
  private val colors = Array("red", "blue", "green", "small", "large",
    "black", "white", "steel")
  private val nouns = Array("ring", "widget", "bolt", "gear", "panel",
    "valve", "spring", "bracket")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup",
    "view")
  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val words = Array("the", "a", "of", "data", "table", "row",
    "column", "query", "scan", "filter", "join", "sort", "merge", "group",
    "agg", "order", "key", "value", "part", "line", "customer", "batch",
    "stream", "window", "hash", "vector", "spark", "fast", "slow", "big",
    "small")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(d: LocalDate): Timestamp =
    Timestamp.from(d.atStartOfDay(ZoneOffset.UTC).toInstant)

  private def pick[T](r: SplittableRandom, a: Array[T]): T = a(r.nextInt(a.length))

  def generate(spark: SparkSession, dir: String): Unit = {
    val r = new SplittableRandom(Seed)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def st(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t) })

    write("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(25), money(r, -999.99, 9999.99), pick(r, segments))))
    write("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), money(r, -999.99, 9999.99))))
    write("part", st("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until Parts).map(i => Row(i.toLong,
        s"${pick(r, colors)} ${pick(r, nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, types), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))

    val orderStart = LocalDate.of(1995, 1, 1)
    val orderDays = LocalDate.of(2001, 8, 1).toEpochDay - orderStart.toEpochDay
    val orderDate = Array.fill(Orders)(
      orderStart.plusDays(r.nextLong(orderDays + 1)))
    write("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until Orders).map(i => Row(i.toLong, r.nextInt(Customers).toLong,
        pick(r, Array("F", "O", "P")), money(r, 1000, 500000),
        day(orderDate(i)), pick(r, priorities))))

    val lines = Iterator.from(0).flatMap { o =>
      (1 to 1 + r.nextInt(7)).iterator.map(ln => (o % Orders, ln))
    }.take(LineItems).toSeq
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
      lines.map { case (o, ln) =>
        val qty = (1 + r.nextInt(50)).toDouble
        Row(o.toLong, r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong, ln,
          qty, math.round(money(r, 900, 2100) * qty * 5) / 100.0,
          r.nextInt(9) / 100.0, r.nextInt(9) / 100.0,
          pick(r, Array("A", "N", "R")), pick(r, Array("F", "O")),
          day(orderDate(o).plusDays(1 + r.nextInt(121))))
      })

    val t0 = EventStart.atStartOfDay(ZoneOffset.UTC).toInstant
    val span = EventDays * 86400L * 1000000L
    val ts = Array.fill(Events)(r.nextLong(span)).sorted
    write("events", st("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
      (0 until Events).map(i => Row(i.toLong,
        Timestamp.from(t0.plusNanos(ts(i) * 1000L)), r.nextInt(150).toLong,
        pick(r, eventTypes), money(r, 0.01, 490), s"""{"k": ${r.nextInt(100)}}""")))

    // documents: word soup; every 10th is a one-word edit of an earlier
    // document and every 25th an exact copy, so the dedup queries find work
    val texts = new Array[String](Documents)
    (0 until Documents).foreach { i =>
      texts(i) =
        if (i > 0 && i % 25 == 0) texts(r.nextInt(i))
        else if (i > 0 && i % 10 == 0) {
          val w = texts(r.nextInt(i)).split(" ")
          w(r.nextInt(w.length)) = pick(r, words)
          w.mkString(" ")
        } else Seq.fill(8 + r.nextInt(73))(pick(r, words)).mkString(" ")
    }
    write("documents", st("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until Documents).map(i => Row(i.toLong, texts(i), pick(r, langs),
        s"src${r.nextInt(20)}", texts(i).length.toLong)))

    // embeddings: unit vectors of dim 64; every 10th is a perturbed copy
    val vecs = new Array[Array[Float]](Embeddings)
    (0 until Embeddings).foreach { i =>
      val v =
        if (i > 0 && i % 10 == 0)
          vecs(r.nextInt(i)).map(x => x + (r.nextGaussian() * 0.01).toFloat)
        else Array.fill(64)((r.nextGaussian() * 0.1).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      vecs(i) = v.map(_ / n)
    }
    write("embeddings", st("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until Embeddings).map(i =>
        Row(i.toLong, vecs(i).toSeq, r.nextInt(10))))
  }
}
