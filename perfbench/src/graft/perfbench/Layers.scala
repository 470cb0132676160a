package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-size layer rows of the traced run: each isolates one layer the
  * registry queries mix together, on inputs made from the run's seed.
  * Every row runs inside a `row` span of the trace.
  */
final class Layers(spark: SparkSession, o: Main.Opts, t: Trace) {
  private val NativeRows = 50000L
  private val OperatorRows = 100000L

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
  private def row[A](name: String)(body: => A): A = t.within("row", name)(body)
  private def jobs(body: => Unit): Double = {
    t.drain(); val j0 = t.counter("jobs")
    body
    t.drain(); t.counter("jobs") - j0
  }
  private def force(df: DataFrame): Unit = {
    df.write.format("noop").mode("overwrite").save()
    graft.core.Checkpoints.release(df)
  }
  private def query(name: String): Unit =
    force(graft.SparkEntry.queries(name)(spark, o.data))
  /** A seeded pseudo-random non-negative long per (row, salt). */
  private def rnd(salt: Int): Column = abs(xxhash64(col("id"), lit(o.seed), lit(salt)))

  def all(): Seq[(String, Double)] =
    tables() ++ native() ++ operators() ++ graph() ++ targets() ++ sinks() ++ streams()

  /** Repeated table references, the way every query starts. */
  private def tables(): Seq[(String, Double)] = row("core.tables") {
    val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val refs = 3 * names.size
    var s = 0.0
    val j = jobs { s = seconds((1 to 3).foreach(_ =>
      names.foreach(n => graft.core.Tables(spark, o.data)(n).schema))) }
    Seq("core.table_load_ms" -> 1e3 * s / refs, "core.table_load_jobs" -> j / refs)
  }

  /** ns/row of the native expressions over a cached seeded input, net
    * of projecting the same input columns.
    */
  private def native(): Seq[(String, Double)] = row("functions.native") {
    graft.functions.GraftFunctions.register(spark)
    val vocab = array(Seq("join", "hash", "row", "batch", "scan", "column", "filter",
      "merge", "order", "vector", "table", "data", "key", "stream", "window",
      "spark", "group", "sort", "query", "part").map(lit): _*)
    def word(i: Column) = element_at(vocab, (pmod(xxhash64(col("id"), i, lit(o.seed)),
      lit(20L)) + 1).cast("int"))
    def vector(salt: Int) = transform(sequence(lit(1), lit(64)),
      i => (pmod(xxhash64(col("id"), i, lit(o.seed), lit(salt)), lit(2000L)) / 1000.0 - 1.0)
        .cast("float"))
    val input = spark.range(NativeRows).select(col("id"),
      transform(sequence(lit(1), lit(24)), word _).as("toks"),
      vector(1).as("a"), vector(2).as("b")).cache()
    input.count()
    def ns(cols: Column*): Double = {
      val df = input.select(cols: _*)
      df.write.format("noop").mode("overwrite").save()
      Stats.quantile(Seq.fill(3)(seconds(
        df.write.format("noop").mode("overwrite").save())), 0.5) * 1e9 / NativeRows
    }
    val base = ns(col("toks"), col("a"), col("b"))
    val out = Seq(
      "functions.minhash_text_ns_row" ->
        (ns(call_function("graft_minhash_text", col("toks"), lit(3), lit(32))) - base),
      "functions.simhash_ns_row" -> (ns(call_function("graft_simhash", col("toks"))) - base),
      "functions.cosine_ns_row" -> (ns(call_function("graft_cosine", col("a"), col("b"))) - base))
    input.unpersist(blocking = true)
    out
  }

  /** Percentile, prefix sum and as-of join at fixed seeded sizes; the
    * second of two runs is reported.
    */
  private def operators(): Seq[(String, Double)] = row("operators") {
    import graft.operators._
    val rows = spark.range(OperatorRows)
    val grouped = rows.select(pmod(rnd(1), lit(100L)).as("g"),
      (pmod(rnd(2), lit(100000L)) / 10.0).as("v"))
    val keyed = rows.select(col("id").as("k"), pmod(rnd(3), lit(100L)).as("w"))
    def side(salt: Int, payload: String) = rows.select(pmod(rnd(salt), lit(100L)).as("key"),
      timestamp_micros(col("id") * 1000L + pmod(rnd(salt + 1), lit(1000L))).as("ts"),
      pmod(rnd(salt + 2), lit(1000L)).as(payload))
    val left = side(10, "a")
    val right = side(20, "b")
    def twice(body: => DataFrame): Double = { force(body); seconds(force(body)) }
    Seq(
      "operators.percentile_s" -> twice(
        DistributedPercentile.exact(grouped, "g", "v", Seq("p50" -> 0.5, "p90" -> 0.9))),
      "operators.prefix_sum_s" -> twice(PrefixSum.running(keyed, "k", "w")),
      "operators.asof_join_s" -> twice(
        AsOfJoin.backward(left, right, Seq("key"), "ts", "ts", Seq("b"))))
  }

  /** Edge-list ingest from scratch, the CSR build and the pair loop.
    * The ingest re-fills the session's graph memo: Spark's cache is keyed
    * by plan, so unpersisting a second copy would also drop the memo's.
    */
  private def graph(): Seq[(String, Double)] = row("graph") {
    graft.queries.Graph.release(spark)
    val ingest = seconds {
      val pg = graft.queries.Graph.graphFor(spark, o.graph)
      pg.nodes.count(); pg.edges.count()
    }
    Kernels.localGraph(spark, o.graph)
    val buildMs = Stats.quantile(Seq.fill(3)(
      seconds(Kernels.localGraph(spark, o.graph)) * 1e3), 0.5)
    val loop = Kernels.pairLoop(spark, o.graph, o.pairs)
    def pct(f: Kernels.Pair => Double, q: Double) = Stats.quantile(loop.pairs.map(f), q)
    Seq("graph.ingest_s" -> ingest, "algo.local_graph_build_ms" -> buildMs,
      "algo.dijkstra_us_p50" -> pct(_.dijkstraUs, 0.5),
      "algo.dijkstra_us_p90" -> pct(_.dijkstraUs, 0.9),
      "algo.astar_us_p50" -> pct(_.astarUs, 0.5),
      "algo.astar_us_p90" -> pct(_.astarUs, 0.9),
      "algo.yen3_us_p50" -> pct(_.yenUs, 0.5),
      "algo.yen3_us_p90" -> pct(_.yenUs, 0.9))
  }

  /** The queries ROADMAP names as optimisation targets. */
  private def targets(): Seq[(String, Double)] = row("targets") {
    Seq("queries.q60_frequent_pairs_s" -> seconds(query("q60_frequent_pairs")),
      "llm.jaccard_neardup_s" -> seconds(query("llm_jaccard_neardup")),
      "llm.pipeline_e2e_s" -> seconds(query("llm_pipeline_e2e")),
      "llm.ann_graph_jobs" -> jobs(query("llm_ann_graph")))
  }

  /** An incremental HLL sketch over four micro-batches, so the
    * streaming counters are measured on every workload.
    */
  private def streams(): Seq[(String, Double)] = row("streaming") {
    query("stream_hll_update")
    Nil
  }

  /** The side-effecting sink queries, batch and streaming. */
  private def sinks(): Seq[(String, Double)] = row("sources.sinks") {
    val names = Seq("q48a_sink_write_read", "q48b_sink_delete", "q49_sink_orc",
      "q50_sink_json", "q51_sink_text", "q52_sink_csv", "stream_file_sink")
    Seq("sources.sink_write_s" -> seconds(names.foreach(query)))
  }
}
