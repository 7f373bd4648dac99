package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{AnnIndex, DedupIndex}

/** One operation of a closed-loop workload: `run` is the timed form,
  * `check` runs the same work once more and returns the fingerprint of
  * its output (the untimed warm-up pass uses it). */
final case class Op(name: String, kind: String, run: () => Unit,
    check: () => Fingerprint)

/** Everything a workload needs: the session, the recorder, the fixture
  * directory and a scratch root of its own under the run's temp root. */
final case class Ctx(spark: SparkSession, rec: Recorder, fixtures: String,
    work: String, seed: Long) {
  private val n = new java.util.concurrent.atomic.AtomicInteger()
  def fresh(tag: String): String = s"$work/$tag-${n.incrementAndGet()}"
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Workloads {
  /** The read-only BI mix: four TPC-H-style `x*` queries and six short
    * relational ones (aggregation, rollup, as-of join, ranking, set ops,
    * session windows). */
  val adhocQueries: Seq[String] = Seq("x1_workload_q3", "x3_workload_q18",
    "x5_workload_q21", "x7_workload_q11", "a1_groupby_aggs", "a4_rollup_cube",
    "j7_asof_join", "w1_ranking", "o5_intersect_except", "t4_session_window")

  /** LLM-pipeline queries. MinHash-LSH, IVF-PQ and the index queries are
    * exercised by the direct [[AnnIndex]] and [[DedupIndex]] calls. */
  val llmQueries: Seq[String] = Seq("l1_exact_dedup", "l2_simhash",
    "l2_semdedup", "l3_cosine_topk", "l3_ann_ivf", "l4_tfidf", "l5_chunking")

  /** Declared query: the query's fn, then a noop write of its frame. */
  def query(c: Ctx, name: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, "query",
      run = () => {
        val df = c.rec.call("queries.fn_s")(fn(c.spark, c.fixtures))
        c.rec.call("queries.action_s")(c.noop(df))
      },
      check = () => Fingerprint.of(fn(c.spark, c.fixtures)))
  }

  /** One-expression kernel probes over a cached 100k-row input; the
    * baseline is the same grouped scan without a kernel. */
  private val kernels: Seq[(String, String)] = Seq(
    "minhash_agg" -> "minhash_agg(s)",
    "simhash_agg" -> "simhash_agg(h)",
    "quantile_sketch_agg" -> "length(quantile_sketch_agg(x))",
    "jaro_winkler" -> "max(jaro_winkler(s, s2))",
    "vec_dot" -> "max(vec_dot(v, reverse(v)))",
    "scan_baseline" -> "count(s) + count(s2) + count(h) + count(x) + count(v)")

  private def probeInput(c: Ctx): Unit = {
    val df = c.spark.sql(
      """SELECT r.id % 256 AS g,
        |  element_at(split(d.text, ' '), CAST(1 + r.id % 8 AS INT)) AS s,
        |  element_at(split(d.text, ' '), CAST(2 + r.id % 7 AS INT)) AS s2,
        |  xxhash64(d.text, r.id) AS h,
        |  CAST((r.id * 7919) % 10007 AS DOUBLE) / 10.0 AS x,
        |  e.embedding AS v
        |FROM range(100000) r
        |JOIN documents d ON d.doc_id = r.id % 500
        |JOIN embeddings e ON e.vec_id = (r.id * 7) % 500""".stripMargin)
      .cache()
    df.count()
    df.createOrReplaceTempView("probe_input")
  }

  def llm(c: Ctx): Seq[Op] = {
    import c.spark.implicits._
    graft.Tables.registerAll(c.spark, c.fixtures)
    probeInput(c)
    val emb = c.spark.table("embeddings")
    val docs = c.spark.table("documents").select("doc_id", "text")
    val annQueries = emb.filter($"vec_id" % 10 === 3)
    val corpus = docs.filter($"doc_id" < 400)
    val batch = docs.filter($"doc_id" >= 400)
    // index builds are set-up work, as in a deployment: built once, then
    // served; their time is still reported per layer
    val annRoot = c.fresh("ann")
    c.rec.call("operators.ann_build_ms")(
      AnnIndex.build(c.spark, annRoot, emb, "vec_id", "embedding"))
    val dedupRoot = c.fresh("dedup")
    c.rec.call("operators.dedup_build_ms")(
      DedupIndex.build(c.spark, corpus, "doc_id", "text", dedupRoot))

    def annQuery = AnnIndex.query(c.spark, annRoot, annQueries, "vec_id", "embedding")
    def probe = DedupIndex.probe(c.spark, batch, docs, "doc_id", "text", dedupRoot, 0.7)
    val direct = Seq(
      Op("ann_query", "operator",
        run = () => c.rec.call("operators.ann_query_ms")(c.noop(annQuery)),
        check = () => Fingerprint.of(annQuery)),
      Op("dedup_probe", "operator",
        run = () => c.rec.call("operators.dedup_probe_ms")(c.noop(probe)),
        check = () => Fingerprint.of(probe)))
    val probes = kernels.map { case (k, e) =>
      val sql = s"SELECT g, $e AS k FROM probe_input GROUP BY g"
      Op(s"kernel_$k", "kernel",
        run = () => c.rec.call(s"functions.${k}_ms")(c.noop(c.spark.sql(sql))),
        check = () => Fingerprint.of(c.spark.sql(sql)))
    }
    llmQueries.map(query(c, _)) ++ direct ++ probes
  }

  def adhoc(c: Ctx): Seq[Op] = {
    graft.Tables.registerAll(c.spark, c.fixtures)
    adhocQueries.map(query(c, _))
  }
}
