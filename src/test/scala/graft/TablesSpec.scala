package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** `core.Tables` memoizes the inferred parquet schema per (session, path)
  * and builds a fresh Dataset per reference. Pins that the memo changes
  * nothing a reader can see — same schema as a fresh inference, fresh
  * schema after a rewrite, no shared plan objects — and that it does
  * save the inference job.
  */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-tables-test")

  val sf = "/root/testdata/sf0.001"
  val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-tables-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Spark jobs started by `body` on this thread. */
  private def jobs(body: => Unit): Int = {
    val group = s"graft-tables-${System.nanoTime()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setJobGroup(group, "TablesSpec")
    try body
    finally {
      sc.clearJobGroup()
      GraftTestBus.drain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** StructType equality compares every field's name, type, nullability
    * and metadata.
    */
  private def assertFreshSchema(name: String): Unit = {
    val path = s"$sf/$name.parquet"
    val fresh = spark.read.parquet(path).schema
    assert(core.Tables(spark, sf)(name).schema === fresh, name)
    assert(core.Tables.schemaOf(spark, path) === fresh, name)
  }

  test("memoized read schema equals a fresh inference for all ten tables") {
    // twice: the first reference fills the memo, the second is served by it
    for (_ <- 1 to 2; n <- names) assertFreshSchema(n)
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assertFreshSchema("events")
    }
    // a parquet setting that changes what inference returns for this
    // file (ts is timezone-less micros) must not be served a stale schema
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
      assertFreshSchema("events")
    }
    assertFreshSchema("events")
  }

  test("a repeated table reference starts no Spark job") {
    val dir = tmpDir("jobs")
    spark.range(10).toDF("k").write.parquet(s"$dir/t.parquet")
    // control: the first reference infers the schema with a job, so the
    // counter does see the jobs it is meant to count
    assert(jobs(core.Tables(spark, dir)("t").schema) >= 1)
    assert(jobs(core.Tables(spark, dir)("t").schema) === 0)
    names.foreach(n => core.Tables(spark, sf)(n))
    assert(jobs(names.foreach(n => core.Tables(spark, sf)(n).schema)) === 0)
  }

  test("a table rewritten at the same path is read with its new schema") {
    val dir = tmpDir("rewrite")
    val path = s"$dir/t.parquet"
    spark.range(5).selectExpr("id AS a", "id * 2 AS b").write.parquet(path)
    assert(core.Tables(spark, dir)("t").columns.toSeq === Seq("a", "b"))
    spark.range(7).selectExpr("id AS x", "CAST(id AS STRING) AS y",
      "id * 1.5 AS z").write.mode("overwrite").parquet(path)
    val back = core.Tables(spark, dir)("t")
    assert(back.schema === spark.read.parquet(path).schema)
    assert(back.columns.toSeq === Seq("x", "y", "z"))
    assert(back.count() === 7)

    // a single-file table replaced in place, as the test tables are stored
    val file = java.nio.file.Paths.get(dir, "f.parquet")
    def put(name: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, s"$name.parquet"), file,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    put("region")
    assert(core.Tables(spark, dir)("f").schema ===
      spark.read.parquet(s"$sf/region.parquet").schema)
    put("nation")
    assert(core.Tables(spark, dir)("f").schema ===
      spark.read.parquet(s"$sf/nation.parquet").schema)
  }

  test("two references are distinct plans: one's cache does not alias") {
    val a: DataFrame = core.Tables(spark, sf)("orders")
    val b: DataFrame = core.Tables(spark, sf)("orders")
    assert(!(a eq b))
    assert(!(a.queryExecution.logical eq b.queryExecution.logical))
    a.cache()
    assert(a.count() === b.count())
    a.unpersist(blocking = true)
    assert(b.storageLevel === StorageLevel.NONE)
    assert(a.storageLevel === StorageLevel.NONE)
  }
}
