package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming (SURVEY §2.10) — this is the north-star
  * capability layer: watermarked tumbling/sliding windows, session
  * windows, and custom state via flatMapGroupsWithState.
  *
  * Scale notes: state is keyed by (window, event_type) or user_id — both
  * shuffle-partitioned; watermarks bound state size (late data beyond
  * 1 hour dropped), which is what keeps a 100 TB/day stream's state
  * finite. The same transformations run identically in batch mode (Spark
  * unifies the APIs), which the test suite exploits: streaming result ≡
  * batch result on a replayed file source.
  */
object EventStreams {

  /** The events schema as stored (ts read as raw nanos — see
    * core.Tables.events for the rationale).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),       // TIMESTAMP(NANOS) read as long
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of event parquet files. A plain
    * file path is staged into a temp directory first (the file stream
    * source lists directories only).
    */
  /** Stage a single file into a listable directory (file-stream sources
    * read directories only); directories pass through unchanged.
    */
  private[streaming] def streamableDir(path: String): String = {
    val f = new java.io.File(path)
    if (!f.isFile) path
    else {
      // collision-resistant key: two distinct source paths must never
      // share a staging dir (the file-stream source lists the WHOLE dir,
      // so a 32-bit hashCode collision would silently stream the union
      // of both datasets)
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(f.getAbsolutePath.getBytes("UTF-8"))
        .take(16).map("%02x".format(_)).mkString
      val staged = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft-stream-$digest")
      staged.mkdirs()
      val target = new java.io.File(staged, f.getName)
      // re-copy when the source changed: a stale staged copy would make
      // the stream silently read OLD data while batch oracles read the
      // regenerated file
      if (!target.exists() || target.lastModified < f.lastModified ||
          target.length != f.length)
        java.nio.file.Files.copy(f.toPath, target.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      staged.getAbsolutePath
    }
  }

  /** `maxFilesPerTrigger`: multi-trigger chunking, for WATERMARK-FREE
    * consumers only (the sketch aggregations — no event time, so no
    * late-row risk). Stateful event-time consumers must keep the
    * default single batch; see the comment below. `chunks` > 1
    * additionally stages the single-file table as that many parquet
    * files ([[chunkedStage]]) so several triggers genuinely fire — the
    * same watermark-free-only contract, with the ts schema probe run
    * against the STAGED dir so probe and stream always agree.
    */
  def readEvents(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None, chunks: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir =
      if (chunks > 1) chunkedStage(spark, path, chunks)
      else streamableDir(path)
    // Probe the STORED type with the memoized batch schema: the testdata has
    // shipped ts as TIMESTAMP(NANOS) (reads as long under nanosAsLong),
    // as plain timestamp[us] (reads as TIMESTAMP_NTZ), and as UTC-adjusted
    // micros (TimestampType). Pinning one schema here is what broke all
    // three stateful streaming queries when the encoding drifted —
    // normalize every case to the session-UTC TimestampType instead
    // (same contract as core.Tables.normalizeTs).
    val storedTs = graft.core.Tables.schemaOf(spark, dir)("ts").dataType
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = storedTs) else f))
    // no maxFilesPerTrigger chunking: with multi-file input, per-file
    // micro-batches would advance the watermark between files (files are
    // not event-time-ordered), silently dropping "late" rows in stateful
    // operators — one batch keeps the finite-replay contract (streaming
    // result ≡ batch result) deterministic; multi-batch semantics are
    // exercised by the MemoryStream specs instead
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    graft.core.Tables.normalizeTs(reader.parquet(dir))
  }

  /** The documents table as a file-source stream — the continuous-
    * ingestion shape of a corpus pipeline (documents arrive as files;
    * annotation runs incrementally instead of as a nightly batch).
    *
    * `chunks` > 1 stages the (single-file) testdata table as that many
    * parquet files, and `maxFilesPerTrigger` then makes each one its own
    * micro-batch — the multi-trigger shape update-mode emission contracts
    * need (a single file would fire one trigger, making update ≡ complete
    * vacuously). WATERMARK-FREE consumers only: chunk boundaries are
    * arbitrary, so event-time order across triggers is not preserved —
    * documents carry no event time, so every current consumer qualifies.
    */
  def readDocuments(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None, chunks: Int = 0): DataFrame = {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    val dir =
      if (chunks > 1) chunkedStage(spark, path, chunks)
      else streamableDir(path)
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** Stage `path` as `chunks` separate parquet part files under a
    * content-keyed tmp dir (same collision discipline as
    * [[streamableDir]]; the chunk count is part of the key so different
    * chunkings never share a dir). Chunk assignment is round-robin and
    * arbitrary — sound for any order-insensitive consumer, which is the
    * only kind allowed through the `chunks` parameter.
    */
  private[graft] def chunkedStage(spark: SparkSession, path: String,
      chunks: Int): String = {
    val f = new java.io.File(path)
    // Content-keyed dir name: the signature folds in every data file's
    // (relative name, length, mtime), not just the top-level path mtime —
    // a parquet DIRECTORY whose parts are rewritten keeps its own mtime,
    // and same-second single-file regeneration hides under mtime
    // granularity, so a path-only key could silently serve stale chunks
    // to the update-mode driver-gate queries. A changed source now maps
    // to a FRESH staging dir by construction.
    val files: Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .filter(x => x.isFile && !x.getName.startsWith(".") &&
          !x.getName.startsWith("_"))
        .sortBy(_.getName)
    val sig = files.map(x => s"${x.getName}:${x.length}:${x.lastModified}")
      .mkString(",")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"${f.getAbsolutePath}#chunks=$chunks#$sig".getBytes("UTF-8"))
      .take(16).map("%02x".format(_)).mkString
    val staged = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft-stream-$digest")
    if (!staged.exists()) {
      // stage into a process-private tmp dir, then atomic-rename into
      // place: concurrent sessions staging the same key either win the
      // rename or discard their copy — a reader never sees a mid-write
      // dir, and a crashed write never leaves a half-staged final dir
      val tmp = new java.io.File(staged.getParentFile,
        s"${staged.getName}.tmp-${ProcessHandle.current().pid()}")
      spark.read.parquet(path).repartition(chunks)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      try
        java.nio.file.Files.move(tmp.toPath, staged.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.AccessDeniedException |
            _: java.nio.file.DirectoryNotEmptyException =>
          // another session won the race; its content is identical
          // (same content key) — drop ours
          org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      }
    }
    staged.getAbsolutePath
  }

  /** Streaming corpus curation stats: the SAME map-side language-ID and
    * quality expressions the batch pipeline uses (Spark's unified API),
    * rolled up per predicted language as streaming state. No event time
    * exists on documents, so the aggregation is complete-mode (state =
    * one row per language — bounded by construction, no watermark
    * needed). Demonstrates that the whole annotate stage runs
    * incrementally over a document stream unchanged.
    */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.select(
        graft.llm.TextAnalysis.langId(col("text")).as("lang_pred"),
        graft.llm.TextAnalysis.qualityScore(col("text")).as("quality"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= 0.5, 1L).otherwise(0L))
          .as("n_high_quality"))

  /** The q72 MAD fence over a (day, val_cents) table — shared verbatim
    * by the batch query, the complete-mode streaming twin, and each
    * per-trigger recompute of the update-mode changelog, so all three
    * legs run IDENTICAL expressions (the ×2 integer domain keeps every
    * interpolated median integral; the only doubles are final casts both
    * engines round identically).
    */
  def madScores(daily: DataFrame): DataFrame = {
    val med = daily.agg(
      expr("cast(percentile(2 * val_cents, 0.5) as bigint)").as("med2x"))
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("dev2x", abs(lit(2) * col("val_cents") - col("med2x")))
    val mad = dev.agg(
      expr("cast(percentile(2 * dev2x, 0.5) as bigint)").as("mad2x2"))
    dev.crossJoin(broadcast(mad))
      .select(col("day"), col("val_cents"),
        expr("(2000000 * dev2x) div mad2x2").as("score_micro"))
      .withColumn("is_outlier",
        when(col("score_micro") >= 3500000L, 1L).otherwise(0L))
  }

  /** q72's anomaly scores as an update-mode changelog WITH RETRACTIONS —
    * the 4th member of the changelog-emission family, and the first
    * whose per-key value is NON-MONOTONE: the MAD fence is a global
    * percentile over all days, so one new day can LOWER other days'
    * scores (a retraction), which no per-key max/argmax fold over raw
    * emissions could reconstruct. The split of labor follows the state's
    * shape: the per-day totals are a genuine update-mode streaming
    * aggregation (the engine's state, one row per day); the fence is
    * recomputed per TRIGGER in foreachBatch over that bounded state with
    * the exact [[madScores]] expressions, and a day is emitted iff its
    * (val_cents, score_micro, is_outlier) tuple CHANGED since the
    * previous trigger — downward revisions included. `seq` is the
    * micro-batch id; the downstream fold reconstructing the current
    * snapshot is argmax-by-seq per day (latest write wins — the general
    * changelog fold that subsumes the monotone families' max folds).
    *
    * Emission volume: changed days only, never the full state
    * (StreamingSpec pins an unchanged day staying silent while a
    * median-moving batch revises others downward). At 100 TB the
    * foreachBatch recompute stays cheap because the STATE is bounded by
    * the day range, not the stream — the same bounded-state argument as
    * every sketch twin.
    */
  /** Hard cap on the driver-side day-total fold below: the state is
    * keyed by calendar day (one Long per day — ~366 rows/year of data),
    * so a century of stream is still ~37k entries; hitting this cap
    * means the input is not day-shaped and the driver fold must not
    * grow unbounded. StreamingSpec pins the failure mode.
    */
  val MaxChangelogDays: Int = 200000

  def anomalyScoreChangelog(spark: SparkSession, events: DataFrame,
      drive: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _.processAllAvailable(),
      maxDays: Int = MaxChangelogDays): DataFrame = {
    import spark.implicits._
    val dayState = scala.collection.mutable.HashMap.empty[String, Long]
    val prev =
      scala.collection.mutable.HashMap.empty[String, (Long, Long, Long)]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Long)]
    val daily = events.select(
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        round(col("value") * 100).cast("long").as("vc"))
      .groupBy("day").agg(sum(col("vc")).as("val_cents"))
    graft.core.Scratch.withStreamCheckpoint("graft-ckpt-madu-") { ck =>
      val q = daily.writeStream.outputMode("update")
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, seq: Long) =>
          // update-mode batch = the days whose totals changed this trigger
          val changed = batch.collect()
          if (changed.nonEmpty) {
            changed.foreach(r => dayState(r.getString(0)) = r.getLong(1))
            require(dayState.size <= maxDays,
              s"anomalyScoreChangelog: day-keyed state grew to " +
                s"${dayState.size} entries (cap $maxDays) — " +
                "input is not day-bounded; refusing to fold it on the " +
                "driver")
            // one partition: the fence input is the bounded day table
            // (LocalRelation would otherwise parallelize across all
            // cores — cores-many tasks per percentile pass per trigger)
            val scores = madScores(
              dayState.toSeq.toDF("day", "val_cents").coalesce(1)).collect()
            scores.foreach { r =>
              val tup = (r.getLong(1), r.getLong(2), r.getLong(3))
              if (!prev.get(r.getString(0)).contains(tup)) {
                prev(r.getString(0)) = tup
                out += ((seq, r.getString(0), tup._1, tup._2, tup._3))
              }
            }
          }
        }
        .start()
      try drive(q) finally q.stop()
    }
    out.toSeq.toDF("seq", "day", "val_cents", "score_micro", "is_outlier")
  }

  /** Watermarked tumbling-window aggregation. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("total_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding windows (1h window, 15m slide). */
  def slidingValue(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(round(avg(col("value")), 4).as("avg_value"))
      .select(col("w.start").as("w_start"), col("avg_value"))

  /** Built-in session windows (30-minute gap) per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup: drop rows repeating an event_id within the
    * watermark horizon — the streaming form of `Dedup.exact` for an
    * at-least-once ingest feed. dropDuplicatesWithinWatermark keeps
    * per-key state only until the watermark passes it, so dedup state is
    * bounded no matter how long the stream runs (a plain dropDuplicates
    * on a stream grows state forever).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream interval join: each purchase event joined
    * to the same user's click events from the preceding 10 minutes.
    * Both sides carry watermarks and the join condition bounds the event
    * times against each other, which is exactly what lets Spark expire
    * buffered rows: a click older than (purchase watermark − 10 min) can
    * never match again and is dropped from state — finite join state on
    * an unbounded stream, the only viable shape at 100 TB/day.
    */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("p_user").as("user_id"), col("p_ts"),
        col("c_id"), col("c_ts"))
  }

  /** LEFT OUTER stream-stream interval join — the missing-match-aware
    * variant of purchaseClickJoin: every purchase row emits, and one
    * with NO same-user click in its preceding 10 minutes emits
    * null-extended (here sentinel-extended: c_id −1, c_ts epoch — the
    * q34 convention, because engine NULL encodings never hash-compare)
    * as soon as the watermark PROVES no matching click can still
    * arrive. That proof is the whole mechanism: an unmatched purchase
    * sits in join state until the global watermark (min of both sides'
    * event-time watermarks) passes its p_ts — the latest possible
    * matching click time — and only then flushes. On finite replay the
    * terminal no-data micro-batch advances the watermark to
    * max(event time) − 1 h, so purchases OLDER than that threshold
    * flush deterministically and YOUNGER unmatched ones are still in
    * state when the query stops, i.e. absent from the output. The
    * oracle encodes exactly that boundary (StreamingSpec pins it
    * against the batch join first).
    */
  def purchaseClickOuterJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "left_outer")
      .select(col("p_id"), col("p_user").as("user_id"), col("p_ts"),
        coalesce(col("c_id"), lit(-1L)).as("c_id"),
        coalesce(col("c_ts"), lit("1970-01-01").cast("timestamp"))
          .as("c_ts"))
  }

  /** Stream-static enrichment: join the event stream against a STATIC
    * dimension table, then aggregate per enriched key. The static side
    * needs no streaming state at all — it is planned as an ordinary
    * (typically broadcast) join inside every micro-batch, so the
    * pattern costs nothing as the stream runs unboundedly; this is the
    * canonical shape for dimension enrichment at ingest time (vs the
    * watermark-bounded state a stream-stream join needs). left_outer
    * keeps events whose user has no dimension row (null segment).
    */
  def enrichedSegmentTotals(events: DataFrame,
      customers: DataFrame): DataFrame =
    events
      .join(customers.select(col("c_custkey").as("user_id"),
        col("c_mktsegment")), Seq("user_id"), "left_outer")
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("total_value"))

  // ---- custom state: flatMapGroupsWithState sessionizer ---------------

  // SessionState start/last are MICROSECONDS since epoch:
  // Timestamp.getTime alone is millis and silently drops the micros the
  // events carry, which breaks exact session-boundary equality against
  // a SQL oracle.
  private def micros(t: java.sql.Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
  private def tsOf(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  final case class Ev(ts: java.sql.Timestamp, user_id: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Custom sessionizer with explicit state: emits a session row when a
    * 30-minute silence gap closes it. Demonstrates the arbitrary-state
    * API the built-in session_window can't express (e.g. per-session
    * value accumulators with custom close conditions).
    */
  def sessionizeWithState(events: Dataset[Ev], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          // batch-friendly: process this group's rows in ts order, emit
          // every closed session, keep the open one in state
          val sorted = rows.toSeq.sortBy(e => micros(e.ts))
          var open = state.getOption.flatMap(_.headOption)
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { e =>
            val t = micros(e.ts)
            open match {
              case Some(s) if t - s.last <= gapMs * 1000L =>
                open = Some(s.copy(last = t, n = s.n + 1,
                  total = s.total + e.value))
              case Some(s) =>
                out += SessionOut(uid, tsOf(s.start), tsOf(s.last), s.n,
                  math.rint(s.total * 10000) / 10000)
                open = Some(SessionState(t, t, 1, e.value))
              case None =>
                open = Some(SessionState(t, t, 1, e.value))
            }
          }
          open match {
            case Some(s) => state.update(List(s))
            case None => state.remove()
          }
          out.iterator
      }
  }

  // ---- custom state: transformWithState sessionizer (Spark 4 API) -----

  /** The same sessionizer on Spark 4's transformWithState — the
    * successor arbitrary-state API (typed per-key ValueState through a
    * StatefulProcessor handle, RocksDB-backed state store). Semantics
    * are identical to sessionizeWithState by construction (same fold
    * over ts-sorted per-batch rows), pinned equal in StreamingSpec; the
    * value of carrying both is that pipelines migrating off
    * [flat]mapGroupsWithState keep a validated reference for each
    * surface.
    */
  private final class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, SessionOut] {
    @transient private var open:
        org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[SessionState]("open",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(e => micros(e.ts))
      var cur = if (open.exists()) Some(open.get()) else None
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      sorted.foreach { e =>
        val t = micros(e.ts)
        cur match {
          case Some(s) if t - s.last <= gapMs * 1000L =>
            cur = Some(s.copy(last = t, n = s.n + 1,
              total = s.total + e.value))
          case Some(s) =>
            out += SessionOut(uid, tsOf(s.start), tsOf(s.last), s.n,
              math.rint(s.total * 10000) / 10000)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur match {
        case Some(s) => open.update(s)
        case None => open.clear()
      }
      out.iterator
    }
  }

  /** transformWithState requires the RocksDB state-store provider; the
    * caller's session must set
    * `spark.sql.streaming.stateStore.providerClass` to
    * RocksDBStateStoreProvider before starting the query.
    */
  def sessionizeTws(events: Dataset[Ev], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }
}
