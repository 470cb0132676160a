package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM program: one JVM, one Spark session, one client.
  *
  * Runs a workload's queries (registry names from `SparkEntry.queries`,
  * plus the `csr_pair_loop` kernel row) one at a time in a closed loop:
  *
  *  1. set-up, repeated `--setups` times (session start, warm-up, and the
  *     road-graph ingest when the workload needs it);
  *  2. a check pass that writes each checked query's output as parquet
  *     under `<out>/check/<name>` and also warms the JIT and caches;
  *  3. timed passes for `--seconds`, each query forced with a `noop`
  *     write and its checkpoints released;
  *  4. with `--trace 1`, a single untraced pass instead, one pass with
  *     listeners attached, then the fixed-size layer rows (see [[Layers]]).
  *
  * Writes `<out>/result.json` (and `<out>/trace.json` when traced). The
  * Python wrapper `perfbench/run.py` generates inputs, checks outputs and
  * prints the final metrics.
  */
object Main {

  final case class Opts(workload: String, data: String, graph: String,
      queries: Seq[String], pairs: Seq[(String, String)], seconds: Double,
      trace: Boolean, out: Path, check: Set[String], cores: Int, setups: Int,
      seed: Long)

  val PairLoop = "csr_pair_loop"
  /** The heap is sampled after the check pass and after this many timed
    * passes: a fixed count, so that a program that keeps a little more
    * after every pass does not look bigger when it is faster. An untraced
    * run makes at least this many timed passes.
    */
  val HeapPasses = 3

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val pairs = Files.readAllLines(Paths.get(m("pairs"))).toArray(Array.empty[String])
      .toSeq.filter(_.nonEmpty).map { l => val a = l.split(","); (a(0), a(1)) }
    Opts(m("workload"), m("data"), m("graph"), list("queries"), pairs,
      m("seconds").toDouble, m("trace") == "1", Paths.get(m("out")),
      list("check").toSet, m("cores").toInt, m("setups").toInt, m("seed").toLong)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val host0 = Host.stamp()
    val fns = graft.SparkEntry.queries
    val unknown = o.queries.filterNot(q => q == PairLoop || fns.contains(q))
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(",")}")
    val usesGraph = o.queries.exists(q => q == PairLoop || q.startsWith("g"))

    // 1. set-up, several times; the last session is kept
    var spark: SparkSession = null
    val setupS = (1 to o.setups).map { i =>
      if (spark != null) {
        graft.queries.Graph.release(spark)
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = Warmup.session(o.cores, o.out)
      val t1 = System.nanoTime()
      Warmup.run(spark, o.data)
      val t2 = System.nanoTime()
      if (usesGraph) {
        val pg = graft.queries.Graph.graphFor(spark, o.graph)
        pg.nodes.count(); pg.edges.count()
      }
      val t3 = System.nanoTime()
      System.err.println(f"[perfbench] set-up $i: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"warm-up ${(t2 - t1) / 1e9}%.2f s, graph ingest ${(t3 - t2) / 1e9}%.2f s")
      (t3 - t0) / 1e9
    }
    val session = spark
    val sc = session.sparkContext
    val errors = mutable.LinkedHashMap.empty[String, String]
    val queryS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    def blocks(): Int = sc.getRDDStorageInfo.map(_.numCachedPartitions).sum

    /** Runs one query. `sink` decides how the result is forced. */
    def runOne(name: String, sink: DataFrame => Unit, trace: Option[Trace],
        pairOut: Option[Path]): Unit = {
      def span[A](kind: String)(body: => A): A =
        trace.fold(body)(_.within(kind, name)(body))
      try {
        span("query") {
          if (name == PairLoop) {
            val res = Kernels.pairLoop(session, o.graph, o.pairs)
            pairOut.foreach(p => Files.write(p, res.json.getBytes("UTF-8")))
          } else {
            val df = span("build")(fns(name)(session, o.data))
            span("write") {
              sink(df)
              graft.core.Checkpoints.release(df)
            }
          }
        }
      } catch {
        case NonFatal(e) =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
          System.err.println(s"[perfbench] $name failed: ${msg.take(400)}")
          errors.getOrElseUpdate(name, msg.take(400))
      }
    }

    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    val checkDir = o.out.resolve("check")
    Files.createDirectories(checkDir)
    val oracles = graft.SparkEntry.oracleSql.filter { case (q, _) => o.queries.contains(q) }
    Files.write(checkDir.resolve("oracle_sql.json"), oracles.toSeq.sortBy(_._1)
      .map { case (q, sql) => s"${Json.str(q)}:${Json.str(sql)}" }
      .mkString("{", ",\n", "}\n").getBytes("UTF-8"))
    val checked = o.check ++ oracles.keySet

    // 2. check pass
    o.queries.foreach { q =>
      val sink: DataFrame => Unit =
        if (checked.contains(q)) _.write.mode("overwrite").parquet(checkDir.resolve(q).toString)
        else noop
      runOne(q, sink, None, Some(checkDir.resolve("pairs.json")))
    }

    // 3. timed passes
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    // the first GC lets Spark's ContextCleaner see the dead broadcasts and
    // shuffles; the pause lets it drop their blocks, and the second GC
    // frees them, so the sample does not depend on the cleaner's timing
    def retainedMb(): Double = {
      System.gc()
      Thread.sleep(250)
      System.gc()
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val heapMb = mutable.ArrayBuffer(retainedMb())
    val passS = mutable.ArrayBuffer.empty[Double]
    val cpuS = mutable.ArrayBuffer.empty[Double]
    val jitS = mutable.ArrayBuffer.empty[Double]
    /** One pass: its wall time and its process CPU net of the JIT
      * compiler threads, whose work in a run this short varies from run
      * to run with how far compilation has got.
      */
    def timedPass(): (Double, Double) = {
      val j0 = Host.jitCpuS()
      val c0 = Host.processCpuS(); val t0 = System.nanoTime()
      o.queries.foreach { q =>
        val q0 = System.nanoTime()
        runOne(q, noop, None, None)
        queryS.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - q0) / 1e9
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Host.processCpuS() - c0
      val jit = Host.jitDelta(j0, Host.jitCpuS())
      jitS += jit
      if (heapMb.size <= HeapPasses) heapMb += retainedMb()
      (wall, cpu - jit)
    }
    // a traced run times one untraced pass, the baseline of its overhead
    val window0 = System.nanoTime()
    while (passS.isEmpty || (!o.trace &&
        (passS.size < HeapPasses || (System.nanoTime() - window0) / 1e9 < o.seconds))) {
      val (w, c) = timedPass()
      passS += w; cpuS += c
    }

    // 4. traced pass and layer rows
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (o.trace) {
      val t = new Trace(session)
      t.attach()
      val gc0 = Host.gcS()
      var leaked = 0
      val c0 = Host.processCpuS(); val w0 = System.nanoTime()
      o.queries.foreach { q =>
        val before = blocks()
        runOne(q, noop, Some(t), None)
        leaked += math.max(0, blocks() - before)
      }
      t.drain()
      val tracedS = (System.nanoTime() - w0) / 1e9
      val procCpu = Host.processCpuS() - c0
      val gcS = Host.gcS() - gc0
      val kinds = t.kindTotals.map(k => k._1 -> k._3).toMap
      val execCpu = t.counter("executor_cpu_ms") / 1e3
      layers ++= Seq(
        "queries.build_s" -> kinds.getOrElse("build", 0.0) / 1e3,
        "queries.write_s" -> kinds.getOrElse("write", 0.0) / 1e3,
        "core.rdd_blocks_leaked" -> leaked.toDouble,
        "spark.jobs" -> t.counter("jobs"),
        "spark.stages" -> t.counter("stages"),
        "spark.tasks" -> t.counter("tasks"),
        "spark.plan_ms" -> t.counter("plan_ms"),
        "spark.codegen_compiles" -> t.counter("codegen_compiles"),
        "spark.codegen_ms" -> t.counter("codegen_ms"),
        "spark.executor_cpu_s" -> execCpu,
        "spark.executor_run_s" -> t.counter("executor_run_ms") / 1e3,
        "spark.driver_cpu_s" -> (procCpu - execCpu),
        "spark.gc_s" -> gcS,
        "spark.shuffle_write_mb" -> t.counter("shuffle_write_mb"),
        "spark.shuffle_read_mb" -> t.counter("shuffle_read_mb"),
        "spark.spill_mb" -> t.counter("spill_mb"),
        "spark.peak_exec_mem_mb" -> t.counter("peak_exec_mem_mb"))

      val untraced = Stats.quantile(passS.toSeq, 0.5)
      layers ++= Seq("trace.pass_untraced_s" -> untraced,
        "trace.pass_traced_s" -> tracedS,
        "trace.overhead_pct" -> 100.0 * (tracedS - untraced) / untraced)
      layers ++= new Layers(session, o, t).all()
      // stream triggers of the traced pass plus the fixed streaming row
      layers ++= Seq(
        "streaming.triggers" -> t.counter("triggers"),
        "streaming.trigger_ms_p50" -> t.triggerP50,
        "streaming.add_batch_ms" -> t.counter("add_batch_ms"),
        "streaming.commit_ms" -> t.counter("commit_ms"),
        "streaming.planning_ms" -> t.counter("planning_ms"),
        "streaming.state_commit_ms" -> t.counter("state_commit_ms"),
        "streaming.state_rows" -> t.stateRowsTotal)
      t.detach()
      Files.write(o.out.resolve("trace.json"), t.toJson(Seq(
        "workload" -> Json.str(o.workload), "seed" -> o.seed.toString)).getBytes("UTF-8"))
    }
    val host1 = Host.stamp()
    layers ++= Seq("host.loadavg_start" -> host0.load1, "host.loadavg_end" -> host1.load1,
      "host.calib_ms" -> Stats.quantile(Seq(host0.calibMs, host1.calibMs), 0.5))
    graft.queries.Graph.release(session)
    session.stop()

    def arr(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    val json = Seq(
      "query_s" -> queryS.map { case (q, xs) =>
        s"${Json.str(q)}:${Json.num(Stats.quantile(xs.toSeq, 0.5))}" }.mkString("{", ",", "}"),
      "errors" -> errors.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}"),
      "pass_s" -> arr(passS.toSeq), "cpu_s" -> arr(cpuS.toSeq),
      "setup_s" -> arr(setupS), "heap_mb" -> arr(heapMb.toSeq), "jit_cpu_s" -> arr(jitS.toSeq),
      "host" -> s"""{"loadavg_start":${Json.str(host0.loadavg)},"loadavg_end":${Json.str(host1.loadavg)},"calib_ms":[${Json.num(host0.calibMs)},${Json.num(host1.calibMs)}]}""",
      "layers" -> layers.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}"))
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",\n", "}\n")
    Files.write(o.out.resolve("result.json"), json.getBytes("UTF-8"))
    System.exit(0)
  }
}
