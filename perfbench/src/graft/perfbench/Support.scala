package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Host stamps: load average and a pure-CPU calibration loop, so an
  * inflated run can be told apart from a slower program.
  */
object Host {
  final case class Stamp(loadavg: String, load1: Double, calibMs: Double)

  def stamp(): Stamp = {
    val la = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3).mkString(" ")
    } catch { case NonFatal(_) => "-1 -1 -1" }
    Stamp(la, la.split(" ")(0).toDouble, calibrate())
  }

  /** Median of 5 runs of a fixed integer loop (xorshift), in ms. */
  def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42L) println() // keeps the loop from being eliminated
      (System.nanoTime() - t0) / 1e6
    }
    Stats.quantile(Seq.fill(5)(once()), 0.5)
  }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** CPU seconds so far of each live JIT compiler thread, by thread id
    * (Linux: /proc/self/task/<tid>/stat, utime + stime in 1/100 s ticks).
    */
  def jitCpuS(): Map[String, Double] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.toSeq.flatMap { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        if (comm.contains("CompilerThre")) Some(t.getName -> (f(11).toLong + f(12).toLong) / 100.0)
        else None
      } catch { case NonFatal(_) => None } // the thread ended
    }.toMap
  }

  /** JIT compiler CPU between two [[jitCpuS]] samples. Exact when the
    * compiler threads live as long as the JVM (run.py starts it with
    * `-XX:-UseDynamicNumberOfCompilerThreads`); a thread that ended in
    * between would be left out.
    */
  def jitDelta(before: Map[String, Double], after: Map[String, Double]): Double =
    after.map { case (tid, s) => s - before.getOrElse(tid, 0.0) }.sum

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

object Stats {
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** Session set-up: the same session settings and warm-ups as the
  * engine's `graft.Bench`, with every scratch directory inside `out`.
  */
object Warmup {
  def session(cores: Int, out: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Scheduler/codegen, parquet reader plus noop commit, and the native
    * expressions: each pays a one-time cost that would otherwise land on
    * whichever query runs first.
    */
  def run(spark: SparkSession, data: String): Unit = {
    spark.range(1L << 20).select((col("id") % 7).as("k")).groupBy("k").count().count()
    spark.read.parquet(s"$data/region.parquet").select(upper(col("r_name")).as("w"))
      .write.format("noop").mode("overwrite").save()
    graft.functions.GraftFunctions.register(spark)
    val toks = split(concat_ws(" ", lit("warm up the"), col("id")), " ")
    val vec = transform(sequence(lit(1), lit(8)), x => (x + col("id")).cast("float"))
    spark.range(64)
      .select(col("id"),
        call_function("graft_minhash_text", toks, lit(3), lit(32)).as("mh"),
        call_function("graft_simhash", toks).as("sh"),
        call_function("graft_cosine", vec, vec).as("cs"))
      .write.format("noop").mode("overwrite").save()
  }
}
