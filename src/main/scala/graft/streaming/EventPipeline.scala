package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming operators over the `events` stream shape
 * (event_id, ts, user_id, event_type, value, props) — beyond-reference
 * scope (the reference is request/response only, SURVEY.md §2.2).
 *
 * Every transform here takes a DataFrame and works identically on a
 * batch frame (`spark.read.parquet`) and a stream
 * (`spark.readStream`): the batch path is what the correctness oracle
 * checks; the streaming path adds watermarks + state and is exercised
 * in the test suite with a MemoryStream. That one-definition/two-modes
 * design is the point: at 100 TB the same pipeline backfills from the
 * lake and then tails the live stream.
 */
object EventPipeline {

  // ──────────────── streamed-row harness infrastructure ────────────────

  /** Execution-scoped session for the end-to-end streamed rows: a
    * `newSession()` (own SQLConf, shared SparkContext/SharedState) with
    * `spark.sql.shuffle.partitions = 4` and, when asked, the RocksDB
    * state-store provider. Two reasons this exists:
    *
    *  - The partition count is a DEPLOYMENT knob, not a plan property:
    *    one state-store instance opens and commits per shuffle
    *    partition per micro-batch (×4 stores for a stream-stream
    *    join), so at the session-wide 32 partitions the bench box paid
    *    128+ store lifecycles per batch to join fixtures of a few MB —
    *    that machinery, not the data, was 10 s of the r14 sweep's
    *    outer-join row. Four partitions keep exactly the semantics the
    *    parity gates test (state hash-distributed across MULTIPLE
    *    partitions, cross-partition watermark consensus, multi-batch
    *    handoffs) at an honest local cost; a cluster deployment raises
    *    the conf, not the code.
    *  - Conf isolation: the TWS/warm-start rows need the RocksDB
    *    provider. Setting it on a child session — instead of
    *    set-then-restore on the shared session — removes the
    *    concurrent-query race the r14 review flagged on the analogous
    *    NSW bucketed-scan toggle.
    */
  private def streamSession(spark: SparkSession, rocksDb: Boolean = false): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    if (rocksDb)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  /** Temp-dir registry with cleanup (the r14 review found the streamed
    * rows' per-run dirs accreting across bench reps): every dir is
    * registered for end-of-JVM recursive deletion, and dirs whose
    * contents are dead once the query terminates (checkpoints,
    * per-call source copies) are reclaimed EAGERLY via [[deleteNow]].
    * Sink/state dirs live until exit — the returned DataFrame reads
    * them lazily. Deletion never follows symlinks (`Files.walk`
    * default), so the symlinked fixture-table sources delete the LINK,
    * never the table. */
  private val tmpRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tmpRoots.forEach(p => deleteRec(p))
    }))
  private def deleteRec(p: java.nio.file.Path): Unit =
    try {
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => {
            try java.nio.file.Files.deleteIfExists(q)
            catch { case _: Exception => () }
          })
        finally walk.close()
      }
    } catch { case _: Exception => () }
  private def tempDir(prefix: String): String = {
    cleanupHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpRoots.add(p)
    p.toString
  }
  private def deleteNow(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    tmpRoots.remove(p)
    deleteRec(p)
  }

  /** One-time-per-fixture SOURCE directories. The bench runs each
    * streamed row warmup + min-of-k, at two scales, plus isolated
    * re-runs — and the source-side fixture write (filter/double/
    * repartition of the input table into a file-source dir) is a
    * deterministic function of (fixture key, shape): fixture PREP, not
    * the streamed execution under measurement. Keyed callers
    * (the driver rows pass the sf dir) therefore write once per JVM and
    * replay from the same files — the established Fixtures.memo fixture /
    * IVF-store offline-artifact precedent — while un-keyed callers
    * (unit tests) keep per-call dirs, eagerly reclaimed by the row
    * after its query terminates. */
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def fixtureDir(key: Option[String], shape: String)(
      write: String => Unit): String =
    key match {
      case Some(k) =>
        fixtureCache.computeIfAbsent(s"$shape#$k", _ => {
          val d = tempDir(s"graft_${shape}")
          write(d); d
        })
      case None =>
        val d = tempDir(s"graft_${shape}")
        write(d); d
    }
  /** Reclaim a per-call (un-keyed) fixture dir; cached dirs persist. */
  private def releaseFixture(key: Option[String], dir: String): Unit =
    if (key.isEmpty) deleteNow(dir)

  /** Normalize the event-time column to TimestampType: a LongType `ts`
    * (epoch nanos, the `nanosAsLong` reading of a TIMESTAMP(NANOS)
    * Parquet column) converts at microsecond precision; a
    * TimestampNTZType `ts` (a TIMESTAMP(isAdjustedToUTC=false) Parquet
    * column) casts through the session timezone — the engine pins UTC
    * (GraftSession), so the naive value IS the UTC instant and the
    * cast is epoch-exact; a TimestampType `ts` passes through. Every
    * downstream `unix_micros`/window/watermark then sees one type
    * regardless of which writer produced the table. */
  def normalizeTs(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: epoch nanos exceed double's 53-bit
        // mantissa, so float division is off by ±1 µs
        events.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        events.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => events
    }

  /**
   * Tumbling-window aggregation per event type: count + exact sum.
   * The sum is accumulated in DECIMAL (exact, order-independent —
   * distributed partial sums cannot change the result) and cast back to
   * double at the boundary.
   */
  def windowedTypeStats(events: DataFrame, windowLength: String): DataFrame =
    normalizeTs(events)
      .groupBy(
        window(col("ts"), windowLength).as("win"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(
        col("win.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Same aggregation with a watermark for the streaming mode (late
    * events beyond the watermark are dropped; state is bounded). */
  def windowedTypeStatsStream(
      events: DataFrame, windowLength: String, watermark: String): DataFrame =
    windowedTypeStats(normalizeTs(events).withWatermark("ts", watermark), windowLength)

  /**
   * The windowed aggregation through a REAL micro-batch execution:
   * file source → watermarked agg → append-mode file sink, run to
   * completion with Trigger.AvailableNow, then the sink read back.
   * This is the driver-verifiable streaming row the round-9 verdict
   * asked for — not a MemoryStream unit test but the same engine path
   * a production tail uses (checkpoint, state store, watermark
   * advancement, no-data flush batch).
   *
   * Append mode emits exactly the CLOSED windows: after the data
   * batch the watermark advances to max(ts) − delay and the trailing
   * no-data micro-batch (`spark.sql.streaming.noDataMicroBatches`,
   * on by default) flushes every window with `end <= watermark` —
   * windows still inside the horizon stay in state, correctly absent
   * from the sink. That closure rule is the oracle's WHERE clause: a
   * batch engine replays the streamed output as
   * `GROUP BY window HAVING window_end <= max(ts) − delay`. The
   * whole input is read as ONE data batch (`maxFilesPerTrigger`
   * pinned high), so the initial watermark (epoch 0) drops nothing
   * and the emitted set is a pure function of the data — bit-equal
   * across engines and runs.
   *
   * Scale shape: the identical plan tails an unbounded directory on a
   * cluster — state is bounded by the watermark horizon, the sink is
   * append-only parquet, and exactly-once comes from the checkpoint +
   * file-sink manifest. The harness dirs are per-call temp dirs so
   * repeated runs (bench reps) replay from scratch.
   */
  def streamedWindowedTypeStats(
      spark: org.apache.spark.sql.SparkSession, eventsDir: String,
      windowLength: String, watermark: String): DataFrame = {
    val ss = streamSession(spark)
    val schema = ss.read.parquet(eventsDir).schema
    val sink = tempDir("graft_stream_sink")
    val ckpt = tempDir("graft_stream_ckpt")
    // the file stream source tails a DIRECTORY; a single-file fixture
    // table is adapted by symlinking it into a temp dir (at scale the
    // source is the table directory itself)
    val srcDir = {
      val p = java.nio.file.Paths.get(
        eventsDir.stripPrefix("file:"))
      if (java.nio.file.Files.isDirectory(p)) eventsDir
      else {
        val d = tempDir("graft_stream_src")
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(d).resolve(p.getFileName), p)
        d
      }
    }
    val src = ss.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1000000") // whole input: one batch
      .parquet(srcDir)
    val q = windowedTypeStatsStream(src, windowLength, watermark)
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    if (srcDir != eventsDir) deleteNow(srcDir)
    spark.read.parquet(sink)
  }

  /**
   * JSON property extraction + rollup: parse `props` (a JSON object)
   * per row — scan-local, codegen'd `get_json_object`, no UDF — and
   * aggregate per extracted key value.
   */
  def propsRollup(events: DataFrame): DataFrame =
    events
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("value"))
      .groupBy("k")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))

  /** Streaming exact dedup by event id, state bounded by the watermark. */
  def dedupEvents(events: DataFrame, watermark: String): DataFrame =
    normalizeTs(events).withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /**
   * Structured Streaming dedup driven END TO END — the second
   * driver-verified micro-batch execution beside
   * [[streamedWindowedTypeStats]], exercising the OTHER stateful
   * shape (per-key dedup state vs windowed aggregation state): the
   * event table is doubled into a dirty file-source directory, the
   * stream drops duplicate event ids within the watermark, and the
   * file sink's rows must reproduce the CLEAN table's per-type counts
   * exactly (event ids are unique in the source, so dedup must
   * recover precisely the original rows — the exactly-once sink
   * contract made observable). AvailableNow + a one-batch trigger
   * keep the run deterministic.
   */
  def streamedDedupParity(
      spark: org.apache.spark.sql.SparkSession, events: DataFrame,
      watermark: String, fixtureKey: Option[String] = None): DataFrame = {
    val dirty = fixtureDir(fixtureKey, "dedup_src") { d =>
      events.unionAll(events).write.mode("overwrite").parquet(d)
    }
    val ss = streamSession(spark)
    val sink = tempDir("graft_dedup_sink")
    val ckpt = tempDir("graft_dedup_ckpt")
    val src = ss.readStream
      .schema(ss.read.parquet(dirty).schema)
      .option("maxFilesPerTrigger", "1000000") // whole input: one batch
      .parquet(dirty)
    val q = dedupEvents(src, watermark)
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    releaseFixture(fixtureKey, dirty)
    spark.read.parquet(sink)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
  }

  /**
   * One-sided upper CUSUM (Page 1954) over the hourly event rate —
   * the change-point detector behind "ingestion volume shifted":
   * EWMA smooths and thresholds LEVEL, CUSUM accumulates small
   * sustained drifts that no single hour would flag. The recurrence
   * `S_t = max(0, S_{t−1} + (x_t − k))` is sequential, but has the
   * closed form `S_t = c_t − min(0, min_{j≤t} c_j)` over the drift-
   * adjusted cumulative sum `c_t = Σ(x_i − k)` — two running windows
   * instead of a sequential loop.
   *
   * Shape: one map-side-combined hourly aggregate first, so the
   * windows run on the BOUNDED hours relation (720 rows/month), on
   * the pinned single-partition key — the corpus never sorts. Hours
   * with zero events are absent from the log and therefore from the
   * statistic (documented; densify upstream if gaps must count as
   * drift). All integer: k is the per-hour allowance, h the alarm
   * threshold.
   */
  /**
   * Conversion attribution — the marketing-analytics classic over the
   * event stream: for each user who converts (has ≥ 1
   * `conversionType` event), credit (a) FIRST-touch: the user's first
   * event ever, and (b) LAST-touch: the last non-conversion event
   * strictly before the first conversion (users whose very first
   * event is the conversion credit the `(none)` bucket — the "direct"
   * channel). Both touch picks are argmin/argmax of the total
   * (ts, event_id) order, so the result is deterministic under ties
   * and any partitioning.
   *
   * Shape: one grouped argmin for the first conversion, two grouped
   * arg-extremes over the converting users' events (the join key is
   * user_id throughout — a single exchange class), one bounded
   * (touch, type) count. No windows, no self-cross.
   *
   * @return (touch, event_type, n_users) ordered — one row per
   *         credited channel per touch model.
   */
  def attribution(
      events: DataFrame, conversionType: String = "purchase"): DataFrame = {
    val ev = normalizeTs(events)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val firstConv = ev.filter(col("event_type") === conversionType)
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("__fp"))
      .select(col("user_id"), col("__fp.ts").as("__pts"),
        col("__fp.event_id").as("__pid"))
    val convEv = ev.join(firstConv, "user_id")
    val first = convEv
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"), col("event_type")))
        .as("__f"))
      .select(lit("first_touch").as("touch"),
        col("__f.event_type").as("event_type"), col("user_id"))
    val last = convEv
      .filter(struct(col("ts"), col("event_id")) <
        struct(col("__pts"), col("__pid")) &&
        col("event_type") =!= conversionType)
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
        .as("__l"))
      .select(lit("last_touch").as("touch"),
        col("__l.event_type").as("event_type"), col("user_id"))
    val lastNone = firstConv
      .join(last.select("user_id"), Seq("user_id"), "left_anti")
      .select(lit("last_touch").as("touch"),
        lit("(none)").as("event_type"), col("user_id"))
    first.unionByName(last).unionByName(lastNone)
      .groupBy("touch", "event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("touch", "event_type")
  }

  def cusumHourly(
      events: DataFrame, driftK: Long, alarmH: Long): DataFrame = {
    require(driftK >= 0, s"driftK must be >= 0, got $driftK")
    require(alarmH > 0, s"alarmH must be > 0, got $alarmH")
    import org.apache.spark.sql.expressions.Window
    val hourly = normalizeTs(events)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window
      .partitionBy(graft.operators.Retrieval.singlePartitionKey(col("hour_ts")))
      .orderBy("hour_ts")
    hourly
      .withColumn("__cum", sum(col("n_events") - lit(driftK)).over(w))
      .withColumn("__mn", min("__cum").over(w))
      .select(col("hour_ts"), col("n_events").cast("long").as("n_events"),
        (col("__cum") - least(col("__mn"), lit(0L))).cast("long").as("cusum"))
      .withColumn("alarm", col("cusum") > alarmH)
  }

  /**
   * Seasonal (hour-of-week) volume outliers — the monitoring card
   * [[cusumHourly]] complements: CUSUM finds sustained LEVEL drift,
   * this finds hours that break their own WEEKLY rhythm (Friday
   * 18:00 is normally busy; a quiet one is the incident). Baseline =
   * exact interpolated median of each hour-of-week class's hourly
   * counts; an hour is an outlier when |count − baseline| exceeds
   * `k` × the global MAD of residuals (median-based, so one broken
   * day can't drag its own threshold).
   *
   * Shape: one hourly aggregate (bounded relation), a 168-row
   * baseline join, a 1-row MAD broadcast — all on metadata-sized
   * relations; same exact-percentile discipline as `typeValueMad`.
   */
  def seasonalOutliers(events: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val hourly = normalizeTs(events)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("how",
        (dayofweek(col("hour_ts")) * 24 + hour(col("hour_ts"))).cast("int"))
    val base = hourly.groupBy("how")
      .agg(expr("percentile(n_events, 0.5)").as("baseline"))
    val withResid = hourly.join(broadcast(base), "how")
      .withColumn("resid", col("n_events") - col("baseline"))
    val mad = withResid.agg(
      expr("percentile(abs(resid), 0.5)").as("__mad"))
    withResid.crossJoin(broadcast(mad))
      .select(col("hour_ts"), col("n_events").cast("long").as("n_events"),
        round(col("baseline"), 6).as("baseline"),
        round(col("resid"), 6).as("resid"),
        (abs(col("resid")) > col("__mad") * k).as("outlier"))
  }

  /**
   * Discrete return-hazard curve — survival analysis's life table
   * applied to user return gaps: over all inter-activity gaps (days
   * between a user's consecutive ACTIVE days),
   * `hazard(k) = #(gap = k) / #(gap ≥ k)` — "given silence of k days
   * so far, the chance the user comes back today". The retention
   * statistic DAU/WAU can't give: it localizes WHERE users are lost
   * (a day-2 cliff vs a slow week-2 bleed). All integers; censoring
   * is explicit (gaps longer than `maxDays` stay in every at-risk
   * denominator, they just don't get output rows).
   *
   * Shape: per-user active days (one distinct), a lag window
   * PARTITIONED per user, then a bounded gap histogram whose suffix
   * sum runs on the pinned single-partition key — ≤ a few hundred
   * rows, never the corpus.
   */
  def returnHazard(events: DataFrame, maxDays: Int = 30): DataFrame = {
    require(maxDays >= 1, s"maxDays must be >= 1, got $maxDays")
    import org.apache.spark.sql.expressions.Window
    val days = normalizeTs(events)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val gaps = days
      .withColumn("__prev", lag("day", 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(datediff(col("day"), col("__prev")).cast("long").as("gap"))
    val hist = gaps.groupBy("gap").agg(count(lit(1)).as("n_return"))
    val w2 = Window
      .partitionBy(graft.operators.Retrieval.singlePartitionKey(col("gap")))
      .orderBy(col("gap").desc)
    hist
      .withColumn("n_at_risk", sum("n_return").over(w2))
      .filter(col("gap") <= maxDays)
      .select(col("gap").as("day_gap"),
        col("n_return").cast("long").as("n_return"),
        col("n_at_risk").cast("long").as("n_at_risk"),
        expr("(1000000 * n_return) div n_at_risk").as("hazard_micro"))
      .orderBy("day_gap")
  }

  /**
   * Whale-concentration card: the share of each event type's volume
   * produced by its top-k users — the "three users are your
   * ingestion" warning that decides both sampling weights and the
   * salting threshold for user-keyed joins. One (type, user)
   * aggregate, a per-type rank window on THAT relation (users per
   * type, not events), exact integer share.
   */
  def whaleConcentration(events: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val per = events.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("__n").desc, col("user_id"))
    per.withColumn("__rnk", row_number().over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum("__n").as("n_events"),
        sum(when(col("__rnk") <= k, col("__n")).otherwise(0L)).as("n_top"))
      .select(col("event_type"), col("n_users").cast("long").as("n_users"),
        col("n_events").cast("long").as("n_events"),
        col("n_top").cast("long").as("n_top"),
        expr("(1000000 * n_top) div n_events").as("share_micro"))
  }

  /**
   * Ordered funnel analysis: how many users reach each step of an
   * event-type sequence, where step i+1 counts only events STRICTLY
   * AFTER the user's step-i time (the classic conversion funnel — a
   * purchase before the signup does not convert). Each step is one
   * filter + one equality join against the previous step's (user, t)
   * relation + one min-aggregate — k small shuffles on user_id for a
   * k-step funnel; with the event log bucketed by user they are all
   * co-located, and the per-step relations only ever shrink.
   */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "empty funnel")
    val ev = normalizeTs(events).select(col("user_id"), col("event_type"), col("ts"))
    val reached = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val hits = ev.filter(col("event_type") === step)
        val eligible = prev match {
          case None => hits
          case Some(p) => hits.join(p.withColumnRenamed("t", "__pt"), "user_id")
            .filter(col("ts") > col("__pt"))
        }
        Some(eligible.groupBy("user_id").agg(min(col("ts")).as("t")))
    }.flatten
    steps.zip(reached).zipWithIndex.map { case ((step, r), i) =>
      r.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_idx"), lit(step).as("step"),
          col("n_users"))
    }.reduce(_ unionByName _)
  }

  /**
   * Robust dispersion per event type: median and median absolute
   * deviation (MAD), both EXACT interpolated percentiles — the
   * outlier-resistant spread statistic (a fat-tailed `value` makes
   * stddev useless; MAD is what monitoring thresholds want). Two
   * passes by construction (the second percentile needs the first's
   * result); the per-type median relation is tiny and broadcasts back
   * for the deviation pass. Same (n−1)·q interpolation as
   * [[typeValueQuantiles]], which is what makes it oracle-checkable.
   */
  def typeValueMad(events: DataFrame): DataFrame = {
    val med = events.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    events.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(max(col("med")).as("median"),
        expr("percentile(abs(value - med), 0.5)").as("mad"))
  }

  /**
   * Rolling 7-day activity per (user, day): the trailing-window count
   * that powers retention/engagement curves. Daily pre-aggregation
   * FIRST (|user·days| rows, not |events|), then a RANGE window frame
   * on integer day numbers — the frame is value-based, so absent days
   * weigh zero without materializing them (the dense-grid
   * [[resampleHourly]] is the complementary shape when the zeros
   * themselves must be rows).
   */
  def rolling7dActivity(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = normalizeTs(events)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("day_num",
        datediff(col("day").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long"))
    val w = Window.partitionBy("user_id").orderBy("day_num")
      .rangeBetween(-6, Window.currentRow)
    daily.select(col("user_id"), col("day"), col("n"),
      sum("n").over(w).as("n_7d"))
  }

  /**
   * Winsorization card per event type: exact p01/p99 fences and the
   * count of rows each fence would clamp — the standard outlier
   * treatment BEFORE a value column feeds a model. Two passes like
   * [[typeValueMad]] (fences first, then one counting scan with the
   * tiny fence relation broadcast back); the clamped rewrite itself
   * is the trivial `least(greatest(value, lo), hi)` projection the
   * caller composes.
   */
  def typeValueWinsorize(events: DataFrame): DataFrame = {
    val fences = events.groupBy("event_type")
      .agg(expr("percentile(value, 0.01)").as("lo"),
        expr("percentile(value, 0.99)").as("hi"))
    events.join(broadcast(fences), "event_type")
      .groupBy("event_type")
      .agg(max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_above"),
        count(lit(1)).as("n"))
  }

  /**
   * Robust outlier flags: events whose modified z-score
   * |value − median| > k·MAD (the Iglewicz–Hoaglin rule with the
   * conventional k=3.5 at the caller) — MAD-based so a heavy tail
   * cannot hide its own outliers by inflating the stddev. Emits the
   * flagged events only; both statistics come from
   * [[typeValueMad]]'s exact percentiles, broadcast back for one
   * scan-local comparison pass.
   */
  def typeValueOutliers(events: DataFrame, k: Double): DataFrame = {
    val stats = typeValueMad(events)
    events.join(broadcast(stats), "event_type")
      .filter(abs(col("value") - col("median")) > lit(k) * col("mad"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("median"), col("mad"))
  }

  /**
   * Per-user hourly resampling with gap filling — the time-series
   * regularization step (training on activity series needs DENSE
   * buckets; a missing hour is a zero observation, not a missing row).
   * Each user's grid spans their own [min, max] hour; `sequence` +
   * `explode` materializes it executor-side from a per-user 2-row
   * aggregate, then one equality join attaches the observed counts.
   * Values aggregate as exact integer cents (order-independent).
   *
   * `maxSpanHours` is the runaway-grid guard (same role as the
   * similarity joins' maxBucket): a user whose span exceeds it — a
   * corrupted timestamp decades out — is dropped rather than exploding
   * a billion-row grid in one task. 100 TB shape: the grid relation is
   * |users|·span rows of three columns, the join is a standard
   * (user, hour) equality shuffle, AQE handles the skewed heavy user.
   */
  def resampleHourly(events: DataFrame, maxSpanHours: Long = 24L * 366): DataFrame = {
    val ev = normalizeTs(events)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
        round(col("value") * 100).cast("long").as("cents"))
    val counts = ev.groupBy("user_id", "h")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("value_cents"))
    val grid = ev.groupBy("user_id").agg(min("h").as("h0"), max("h").as("h1"))
      .filter((unix_micros(col("h1")) - unix_micros(col("h0"))) <=
        maxSpanHours * 3600L * 1000000L)
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    grid.join(counts, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h").as("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("value_cents"), lit(0L)).as("value_cents"))
  }

  /**
   * Gap-based sessionization: a new session starts when the gap to the
   * user's previous event exceeds `gapSeconds`. Built from lag +
   * running sum over one (user, time) window — a single shuffle by
   * user, identical semantics on any engine (Structured Streaming's
   * `session_window` is the streaming-native equivalent; the explicit
   * construction is used here because its boundary semantics are
   * unambiguous and cross-engine verifiable).
   */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = normalizeTs(events)
    // event_id tie-break + explicit ROWS frame: duplicate timestamps
    // would otherwise make lag() order-ambiguous and the default RANGE
    // frame peer-inclusive — both engine-dependent.
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = gapSeconds * 1000000L
    val newSession = when(lag(col("ts"), 1).over(byUser).isNull ||
      unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)) > gapUs, 1L)
      .otherwise(0L)
    ev.withColumn("session_idx", sum(newSession).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
  }

  /**
   * Exact per-type value quantiles (linear interpolation at rank
   * (n-1)·q — the definition shared by Spark's `percentile` and
   * DuckDB's `quantile_cont`, which is what makes it oracle-checkable).
   *
   * Scale note: exact percentile sorts each group's values — fine for
   * bounded groups (here: a handful of event types), wrong for a
   * billion-row group. The 100 TB path is `approx_percentile` (t-digest
   * sketch, mergeable map-side partials, bounded error) — pinned against
   * this exact operator in the test suite rather than the driver oracle
   * because sketches are engine-defined.
   */
  def typeValueQuantiles(events: DataFrame, qs: Seq[Double]): DataFrame =
    events
      .groupBy("event_type")
      .agg(percentile(col("value"), typedLit(qs)).as("qv"))
      .select(col("event_type"), posexplode(col("qv")))
      .select(
        col("event_type"),
        element_at(typedLit(qs), col("pos") + 1).as("q"),
        round(col("col"), 6).as("val"))

  /**
   * The 100 TB quantile path, driver-checkable: per-type
   * `approx_percentile` (t-digest-style sketch — mergeable map-side
   * partials, no per-group sort, group size unbounded) SELF-VERIFIED
   * against its published rank guarantee. Sketch values are
   * engine-defined, so the oracle cannot compare them directly; what it
   * CAN check is the guarantee itself: the exact rank of the returned
   * value must lie within n/accuracy (+1 for interpolation slack) of
   * the target rank. The output carries
   *  - `val`: the EXACT interpolated quantile (oracle-matched), and
   *  - `approx_rank_ok`: the rank-bound verdict for the sketch value,
   *    computed with one more scan of events (broadcast of the
   *    |types|·|qs| approx rows onto the fact side, then a count — no
   *    events shuffle beyond a 15-key partial aggregate).
   * Duplicates are handled by checking the value's full rank interval
   * [count(<v)+1, count(≤v)] against the target, not a point rank.
   */
  def typeValueQuantilesApprox(
      events: DataFrame, qs: Seq[Double], accuracy: Int = 10000): DataFrame = {
    val agg = events.groupBy("event_type").agg(
      percentile(col("value"), typedLit(qs)).as("exact_qv"),
      approx_percentile(col("value"), typedLit(qs), lit(accuracy)).as("approx_qv"),
      count(col("value")).as("n"))
    val perQ = agg.select(col("event_type"), col("n"),
        posexplode(arrays_zip(col("exact_qv"), col("approx_qv"))))
      .select(col("event_type"), col("n"),
        element_at(typedLit(qs), col("pos") + 1).as("q"),
        col("col.exact_qv").as("exact"), col("col.approx_qv").as("approx"))
    val target = lit(1.0) + col("q") * (col("n") - 1).cast("double") // 1-based
    val tol = col("n").cast("double") / accuracy + 1.0
    events.select(col("event_type"), col("value"))
      .join(broadcast(perQ), "event_type")
      .groupBy("event_type", "q", "exact", "approx", "n")
      .agg(
        sum(when(col("value") < col("approx"), 1L).otherwise(0L)).as("rank_lo"),
        sum(when(col("value") <= col("approx"), 1L).otherwise(0L)).as("rank_hi"))
      .select(col("event_type"), col("q"),
        round(col("exact"), 6).as("val"),
        (col("rank_lo") + 1 <= target + tol && col("rank_hi") >= target - tol)
          .as("approx_rank_ok"))
  }

  final case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  /**
   * Custom keyed state: running per-user totals via
   * `mapGroupsWithState` — the KeyValueGroupedDataset custom-state
   * surface (arbitrary state, one state object per user). NoTimeout
   * keeps micro-batches purely data-driven; for unbounded key spaces a
   * production deployment would add an event-time timeout so abandoned
   * keys age out of the state store.
   */
  def userRunningTotals(events: DataFrame): Dataset[UserTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserTotal]) => {
          val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          rows.foreach { case (_, v) => n += 1; total += v }
          val next = UserTotal(user, n, total)
          state.update(next)
          next
        })
  }

  /**
   * [[userRunningTotals]] with the production state-ageing discipline
   * its scaladoc promises: same running totals, but a key idle for
   * `idleSeconds` past the watermark is REMOVED from the state store
   * (its final total re-emits once as the flush record), so an
   * unbounded user space cannot accumulate forever. A returning user
   * then starts a FRESH count — pinned in EventPipelineSpec against
   * the NoTimeout variant, where the same fixture keeps counting on
   * the abandoned state (the failing-without-timeout contrast).
   */
  def userRunningTotalsAged(
      events: DataFrame, watermark: String, idleSeconds: Long): Dataset[UserTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    normalizeTs(events).withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
            state: GroupState[UserTotal]) => {
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            out
          } else {
            val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
            var n = prev.n_events
            var total = prev.total_value
            var last = 0L
            rows.foreach { case (_, ts, v) =>
              n += 1; total += v
              if (ts.getTime > last) last = ts.getTime
            }
            val next = UserTotal(user, n, total)
            state.update(next)
            state.setTimeoutTimestamp(last + idleSeconds * 1000L)
            next
          }
        })
  }

  /**
   * Stream-stream inner join with watermarks: each click joins the
   * same user's views at most `horizonSeconds` older. Both sides carry
   * watermarks and the join condition bounds event-time distance, so
   * Spark can expire buffered state on both sides — the requirement
   * for an unbounded two-stream join to run with bounded memory.
   * Works identically on batch frames (the driver-verifiable mode).
   */
  def clickViewJoin(
      clicks: DataFrame, views: DataFrame,
      watermark: String, horizonSeconds: Long): DataFrame = {
    val c = normalizeTs(clicks).withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val v = normalizeTs(views).withWatermark("ts", watermark)
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("view_ts"), col("value").as("view_value"))
    c.join(v,
      col("user_id") === col("v_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $horizonSeconds SECONDS"))
      .select("click_id", "user_id", "click_ts", "view_id", "view_ts", "view_value")
  }

  /**
   * Third end-to-end Structured Streaming surface: the watermarked
   * click←view STREAM-STREAM JOIN ([[clickViewJoin]]) executed
   * through REAL file sources (one parquet dir per stream) and a
   * parquet file sink with a checkpoint, `Trigger.AvailableNow`.
   * Inner stream-stream joins emit a pair in the micro-batch that
   * matches it (the watermark only bounds join STATE), so the
   * streamed result equals the batch join exactly — which is what the
   * driver row's DuckDB oracle asserts. At production scale the same
   * topology runs continuously: the watermark evicts view state older
   * than the horizon, keeping state proportional to the horizon, not
   * the stream.
   */
  def streamedClickViewParity(
      spark: org.apache.spark.sql.SparkSession, events: DataFrame,
      watermark: String, horizonSeconds: Long,
      fixtureKey: Option[String] = None): DataFrame = {
    val clicksDir = fixtureDir(fixtureKey, "ssj_clicks") { d =>
      events.filter(col("event_type") === "click")
        .write.mode("overwrite").parquet(d)
    }
    val viewsDir = fixtureDir(fixtureKey, "ssj_views") { d =>
      events.filter(col("event_type") === "view")
        .write.mode("overwrite").parquet(d)
    }
    val ss = streamSession(spark)
    val sink = tempDir("graft_ssj_sink")
    val ckpt = tempDir("graft_ssj_ckpt")
    def src(dir: String) = ss.readStream
      .schema(ss.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1000000") // whole input: one batch
      .parquet(dir)
    val q = clickViewJoin(src(clicksDir), src(viewsDir),
      watermark, horizonSeconds)
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    releaseFixture(fixtureKey, clicksDir)
    releaseFixture(fixtureKey, viewsDir)
    spark.read.parquet(sink)
  }

  /**
   * SEVENTH end-to-end streaming mode: the watermarked click←view
   * join as a LEFT OUTER stream-stream join — the semantics inner
   * joins dodge: an unmatched left row may only emit its null-padded
   * result once the watermark PROVES no future view can match it
   * (view_ts ≤ click_ts and views arrive above the watermark ⇒
   * provable once wm > click_ts), and that proof happens in the
   * no-data micro-batch after the last data batch. Clicks still
   * inside the final watermark horizon are held in state and never
   * emit — the closure rule this row's oracle encodes:
   *
   *   null rows ⇔ unmatched ∧ click_ts < min(max click ts, max view
   *   ts) − delay   (global watermark = min over both sources)
   *
   * Matched pairs emit exactly as in the inner join, so the streamed
   * output is batch-left-join rows minus the null rows of
   * still-horizon clicks.
   */
  def streamedClickViewOuterParity(
      spark: org.apache.spark.sql.SparkSession, events: DataFrame,
      watermark: String, horizonSeconds: Long,
      fixtureKey: Option[String] = None): DataFrame = {
    val clicksDir = fixtureDir(fixtureKey, "soj_clicks") { d =>
      events.filter(col("event_type") === "click")
        .write.mode("overwrite").parquet(d)
    }
    val viewsDir = fixtureDir(fixtureKey, "soj_views") { d =>
      events.filter(col("event_type") === "view")
        .write.mode("overwrite").parquet(d)
    }
    val ss = streamSession(spark)
    val sink = tempDir("graft_soj_sink")
    val ckpt = tempDir("graft_soj_ckpt")
    def src(dir: String) = ss.readStream
      .schema(ss.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1000000") // whole input: one batch
      .parquet(dir)
    val c = normalizeTs(src(clicksDir)).withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val v = normalizeTs(src(viewsDir)).withWatermark("ts", watermark)
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("view_ts"), col("value").as("view_value"))
    val q = c.join(v,
      col("user_id") === col("v_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $horizonSeconds SECONDS"),
      "left_outer")
      .select("click_id", "user_id", "click_ts", "view_id", "view_ts", "view_value")
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    releaseFixture(fixtureKey, clicksDir)
    releaseFixture(fixtureKey, viewsDir)
    spark.read.parquet(sink)
  }

  /**
   * EIGHTH end-to-end streaming mode: a keyed UPSERT sink via
   * `foreachBatch` — the CDC materialized-view pattern (stream in,
   * latest-row-per-key table out) that none of the built-in sinks
   * provide. Each micro-batch MERGEs into the keyed snapshot:
   * read the previous state, union the batch, keep each key's row
   * with the max (ts, event_id), and write the result to a
   * batchId-versioned directory — the standard idempotence recipe
   * (a retried batch overwrites its own version deterministically,
   * so the sink is exactly-once without a transactional store).
   * `maxFilesPerTrigger = 1` forces several real micro-batches.
   *
   * The previous version is derived FROM THE STORE, not from driver
   * memory: the largest committed (`_SUCCESS`-marked) `v<N>` with
   * N < batchId. A driver-memory counter would reset on checkpoint
   * recovery (silently dropping all prior keyed state) and would
   * advance on a batch that later retries; deriving from batchId +
   * the store's own committed markers keeps the merge idempotent
   * across recoveries and retries. An empty source (no batch ever
   * runs) returns the empty typed frame rather than reading `v-1`.
   *
   * Parity is ORDER-FREE by construction: "argmax (ts, event_id) per
   * key" is associative across any batch split, so the final state
   * equals the batch max_by — what this row's oracle asserts.
   */
  /**
   * NINTH end-to-end streaming mode — COMPLETE output: an unwindowed
   * global aggregation whose state never expires (no watermark, no
   * closure rule) and whose sink receives the FULL re-emitted result
   * each micro-batch, so the final table is simply the last complete
   * answer. This is the one built-in `OutputMode` the other eight
   * modes don't exercise (they are Append-family or foreachBatch);
   * the state-store shape — one row per group, updated every batch —
   * is the canonical "live totals dashboard" pattern. Parity: the
   * last emitted table must equal the batch group-by bit-for-bit
   * (count + exact DECIMAL value sum), which holds because Complete
   * mode re-emits the whole aggregate, not deltas.
   *
   * 100 TB note: Complete mode is only safe when the GROUP domain is
   * bounded (here: event types) — state and sink both scale with
   * |groups|, never with rows. That constraint is the documented
   * contract, exactly as Spark's own guide states it.
   */
  def streamedTypeTotalsComplete(
      spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, fixtureKey: Option[String] = None): DataFrame = {
    // three files → three real micro-batches: one multi-batch handoff
    // plus one more proves re-emission across ANY batch count (Complete
    // mode re-emits the whole aggregate each batch); more forced
    // batches only re-prove the same property at linear bench cost
    val srcDir = fixtureDir(fixtureKey, "tot_src") { d =>
      events.repartition(3).write.mode("overwrite").parquet(d)
    }
    val ss = streamSession(spark)
    val ckpt = tempDir("graft_tot_ckpt")
    val stream = ss.readStream
      .schema(ss.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1") // several real micro-batches
      .parquet(srcDir)
    val name = s"graft_totals_${System.nanoTime()}"
    val q = normalizeTs(stream)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .writeStream
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    releaseFixture(fixtureKey, srcDir)
    ss.table(name) // memory sink registers in the session that ran it
  }

  /**
   * TENTH end-to-end streaming mode — UPDATE output: the windowed
   * count re-emits every CHANGED (window, type) row each micro-batch
   * (`maxFilesPerTrigger = 1` forces several), the delta-feed shape a
   * live dashboard or downstream cache consumes — neither Append
   * (emit-once-on-close) nor Complete (re-emit everything). The
   * memory sink therefore accumulates SUCCESSIVE VERSIONS of each
   * key's row, and the parity gate is ORDER-FREE by construction: a
   * count is monotone nondecreasing across a key's emissions, so the
   * final state per key is exactly the MAX the sink ever saw,
   * regardless of micro-batch slicing or file arrival order. (A value
   * sum is not monotone in general, so the Update gate pins the
   * count; value parity is the Append/Complete rows' job.)
   *
   * No watermark ON PURPOSE: Update-mode state cleanup would make the
   * late-drop set depend on file arrival order — the one
   * nondeterminism this harness bans. The window domain is bounded
   * (the fixture spans a year of hourly windows), so unexpired state
   * is the documented contract, mirroring mode 9's bounded-domain
   * note: state scales with |windows|·|types|, never with rows.
   */
  def streamedWindowedUpdateParity(
      spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, fixtureKey: Option[String] = None): DataFrame = {
    // three files → three micro-batches: a key updated across batch
    // boundaries re-emits with a larger count, which is the whole
    // Update-mode delta contract; extra forced batches re-prove it at
    // linear bench cost
    val srcDir = fixtureDir(fixtureKey, "upd_src") { d =>
      events.repartition(3).write.mode("overwrite").parquet(d)
    }
    val ss = streamSession(spark)
    val ckpt = tempDir("graft_upd_ckpt")
    val stream = ss.readStream
      .schema(ss.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1") // several real micro-batches
      .parquet(srcDir)
    val name = s"graft_update_${System.nanoTime()}"
    val q = normalizeTs(stream)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("win.start").as("window_start"),
        col("event_type"), col("n_events"))
      .writeStream
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    releaseFixture(fixtureKey, srcDir)
    ss.table(name)
      .groupBy("window_start", "event_type")
      .agg(max("n_events").as("n_events"))
  }

  def streamedUpsertParity(
      spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, fixtureKey: Option[String] = None): DataFrame = {
    // three files → three merge batches: batch 2 merges v0+batch
    // (the handoff), batch 3 proves the merge chain — each further
    // forced batch costs a full read-merge-write of the snapshot
    val srcDir = fixtureDir(fixtureKey, "ups_src") { d =>
      events.repartition(3).write.mode("overwrite").parquet(d)
    }
    val ss = streamSession(spark)
    val stateRoot = tempDir("graft_ups_state")
    val ckpt = tempDir("graft_ups_ckpt")
    // committed snapshot versions, read from the store itself:
    // v<N> directories carrying the parquet committer's _SUCCESS marker
    def committedVersions(): Seq[Long] = {
      val root = new org.apache.hadoop.fs.Path(stateRoot)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
            fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
        }
        .map(_.getName.drop(1).toLong)
    }
    val stream = ss.readStream
      .schema(ss.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = normalizeTs(stream).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], batchId: Long) =>
        // max committed version STRICTLY below this batch: a retried
        // batch excludes its own (possibly partial) prior attempt and
        // re-merges against the same predecessor — deterministic replay
        val prev = committedVersions().filter(_ < batchId)
          .sorted.lastOption
        val cand = batch.select(col("user_id"), col("event_id"),
          col("ts"), col("value"))
        val merged = prev match {
          case None => cand
          case Some(p) => cand.unionByName(
            batch.sparkSession.read.parquet(s"$stateRoot/v$p")
              .select(col("user_id"), col("last_event_id").as("event_id"),
                col("last_ts").as("ts"), col("last_value").as("value")))
        }
        merged
          .groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"), col("value")))
            .as("__top"))
          .select(col("user_id"), col("__top.event_id").as("last_event_id"),
            col("__top.ts").as("last_ts"), col("__top.value").as("last_value"))
          .write.mode("overwrite").parquet(s"$stateRoot/v$batchId")
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    releaseFixture(fixtureKey, srcDir)
    committedVersions().sorted.lastOption match {
      case Some(last) => spark.read.parquet(s"$stateRoot/v$last")
      case None => normalizeTs(events).limit(0)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("ts").as("last_ts"), col("value").as("last_value"))
    }
  }

  /**
   * STREAM-STATIC join parity — the fourth end-to-end streaming
   * execution mode beside the windowed aggregate, keyed dedup, and
   * stream-stream join rows: a micro-batch stream of events
   * broadcast-joined against a STATIC dimension (the enrichment
   * every streaming pipeline does to its facts). The static side is a
   * plain DataFrame re-evaluated per micro-batch and the join is
   * STATELESS — no watermark, no state store — which is exactly the
   * contract this row pins: the streamed enriched rows, re-aggregated
   * after the sink, must equal the batch join bit-for-bit.
   *
   * @param dim static (event_type, tier) dimension
   * @return (tier, n_events, total_value) over the sink's contents
   */
  def streamedStaticEnrichParity(
      spark: org.apache.spark.sql.SparkSession, events: DataFrame,
      dim: DataFrame, fixtureKey: Option[String] = None): DataFrame = {
    val srcDir = fixtureDir(fixtureKey, "sse_src") { d =>
      events.write.mode("overwrite").parquet(d)
    }
    val ss = streamSession(spark)
    val sink = tempDir("graft_sse_sink")
    val ckpt = tempDir("graft_sse_ckpt")
    val stream = ss.readStream
      .schema(ss.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(srcDir)
    // re-home the static dimension onto the executing session: the
    // RDD is context-level (shared), only the plan gets rebuilt
    val dimLocal = ss.createDataFrame(dim.rdd, dim.schema)
    val q = stream
      .join(broadcast(dimLocal), "event_type")
      .select(col("event_type"), col("tier"), col("value"))
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    releaseFixture(fixtureKey, srcDir)
    spark.read.parquet(sink)
      .groupBy("tier")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
  }

  final case class UserSessionSummary(
      user_id: Long, n_events: Long, total_value: Double,
      last_ts: java.sql.Timestamp)

  /**
   * Custom state with EVENT-TIME TIMEOUT via `flatMapGroupsWithState`:
   * per-user activity accumulates silently (0 outputs per batch) until
   * the user goes idle for `idleSeconds` past the watermark, at which
   * point one summary row is emitted and the state is REMOVED — the
   * bounded-state discipline that keeps an unbounded key space (every
   * user ever seen) from accumulating forever in the state store at
   * 100 TB stream scale. `flatMap` (not `map`) because a group emits
   * zero or one rows per batch, not exactly one.
   */
  def userIdleSummaries(
      events: DataFrame, watermark: String, idleSeconds: Long): Dataset[UserSessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    normalizeTs(events).withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
            state: GroupState[UserSessionSummary]) => {
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            Iterator.single(out)
          } else {
            val prev = state.getOption.getOrElse(
              UserSessionSummary(user, 0L, 0.0, new java.sql.Timestamp(0L)))
            var n = prev.n_events
            var total = prev.total_value
            var last = prev.last_ts
            rows.foreach { case (_, ts, v) =>
              n += 1; total += v
              if (ts.after(last)) last = ts
            }
            state.update(UserSessionSummary(user, n, total, last))
            state.setTimeoutTimestamp(last.getTime + idleSeconds * 1000L)
            Iterator.empty
          }
        })
  }

  /**
   * Theil–Sen robust trend per event type: the median of all
   * pairwise slopes of the hourly count series — the
   * breakdown-point-29% alternative to OLS that one outlier hour
   * can't drag (Theil 1950; Sen 1968). Slopes are exact-integer
   * differences divided as doubles (identical IEEE op in any
   * engine); the median interpolates at even counts (the
   * `percentile`/`quantile_cont` shared definition) and rounds to
   * 6 dp — the package's accepted class.
   *
   * Scale note: the classical estimator is quadratic in the number
   * of HOURS (not events) — the pair join is grid-bounded (capped at
   * 8,784 hourly points = one leap year per type, erroring loudly
   * beyond, like [[resampleHourly]]); at 100 TB the hourly rollup is
   * the only thing that scans the data, and the O(H²) pair relation
   * stays ≤ ~39M slim rows per type regardless of corpus size.
   */
  def theilSenTrend(events: DataFrame, maxHours: Long = 8784L): DataFrame = {
    val ev = normalizeTs(events)
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
      .withColumn("h", expr("unix_timestamp(hr) div 3600"))
    val spans = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("nh")).filter(col("nh") > maxHours).count()
    require(spans == 0L,
      s"theilSenTrend: a type exceeds $maxHours hourly points — " +
        "the quadratic pair grid needs repeated-median sampling past that")
    val a = hourly.select(col("event_type"), col("h").as("h1"), col("c").as("c1"))
    val b = hourly.select(col("event_type").as("__et2"),
      col("h").as("h2"), col("c").as("c2"))
    a.join(b, col("event_type") === col("__et2") && col("h2") > col("h1"))
      .select(col("event_type"),
        ((col("c2") - col("c1")).cast("double") /
          (col("h2") - col("h1")).cast("double")).as("slope"))
      .groupBy("event_type")
      .agg(round(expr("percentile(slope, 0.5D)"), 6).as("theil_sen_slope"),
        count(lit(1)).as("n_pairs"))
  }

  /**
   * Mann–Kendall trend test per event type — the standard
   * non-parametric significance companion to [[theilSenTrend]]'s
   * slope (Mann 1945; Kendall 1975): S = Σ_{i<j} sign(c_j − c_i)
   * over the hourly count series, with the tie-corrected variance
   * Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 and the
   * continuity-corrected normal score z = (S∓1)/√Var(S). S, n and
   * 18·Var(S) are EXACT integers (every engine agrees bit-for-bit);
   * only z and Kendall's τ = 2S/(n(n−1)) touch floating point, in a
   * fixed expression order rounded to 6 dp — the package's accepted
   * class. All-tied series (Var = 0) score z = 0.
   *
   * Scale note: same grid-bounded shape as [[theilSenTrend]] — the
   * hourly rollup is the only full scan; the O(H²) sign pairs and
   * the tie census are over ≤ `maxHours` slim rows per type.
   */
  def mannKendallTrend(events: DataFrame, maxHours: Long = 8784L): DataFrame = {
    val ev = normalizeTs(events)
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
      .withColumn("h", expr("unix_timestamp(hr) div 3600"))
    val spans = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("nh")).filter(col("nh") > maxHours).count()
    require(spans == 0L,
      s"mannKendallTrend: a type exceeds $maxHours hourly points — " +
        "the quadratic sign grid needs blocked variance accounting past that")
    val a = hourly.select(col("event_type"), col("h").as("h1"), col("c").as("c1"))
    val b = hourly.select(col("event_type").as("__et2"),
      col("h").as("h2"), col("c").as("c2"))
    // CASE sign, not signum(): exact integer ±1/0 in any engine
    val sRel = a
      .join(b, col("event_type") === col("__et2") && col("h2") > col("h1"))
      .groupBy("event_type")
      .agg(sum(when(col("c2") > col("c1"), 1L)
        .when(col("c2") < col("c1"), -1L).otherwise(0L)).as("s"))
    // tie census: groups of equal counts within a type
    val ties = hourly.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie18"),
        count(lit(1)).as("groups"),
        sum(col("t")).as("n"))
    sRel.join(ties, "event_type")
      .withColumn("var18", expr("n * (n - 1) * (2 * n + 5) - tie18"))
      .select(col("event_type"), col("s"), col("n").as("n_hours"),
        col("var18"),
        round(when(col("var18") > 0,
          when(col("s") > 0,
            (col("s") - 1) / sqrt(col("var18") / lit(18.0)))
            .when(col("s") < 0,
              (col("s") + 1) / sqrt(col("var18") / lit(18.0)))
            .otherwise(lit(0.0)))
          .otherwise(lit(0.0)), 6).as("z"),
        round(lit(2.0) * col("s") / (col("n") * (col("n") - 1)), 6).as("tau"))
  }

  /**
   * Binary-segmentation changepoint detection over the hourly event
   * rate (Scott & Knott 1974; the CUSUM card's offline complement):
   * at each level, every current segment splits at the position
   * maximizing the between-segment variance reduction
   *
   *   gain(k) = (S_l·n_r − S_r·n_l)² / (n_l·n_r·n)
   *
   * whose numerator and denominator are EXACT integers from prefix
   * sums (the constant 1/n is dropped from the argmax). The argmax
   * compares num/den as IEEE doubles — one division, identical in
   * any engine — with position as the tie-break; `gain` is reported
   * on the 6-dp grid (count² units). Two levels → up to 3
   * changepoints, the classic elbow read.
   *
   * Shape: the hourly rollup is the only full scan; every level is
   * one pass over the BOUNDED hours relation (positions × segments,
   * ≤ thousands of slim rows), and the segment list on the driver is
   * ≤ 2^levels entries.
   */
  def binarySegmentation(events: DataFrame, levels: Int = 2): DataFrame = {
    val ev = normalizeTs(events)
    val spark = events.sparkSession
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy("hr")
    val pre = hourly
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("cs", sum("c").over(w))
      .select("pos", "hr", "c", "cs")
    pre.persist()
    // driver state: segment list (lo, hi) by position, ≤ 2^levels rows
    val out = Seq.newBuilder[(Int, Long, Long, Long)] // (level, lo, hi, split)
    // the (pos, hr) label map is collected alongside the cuts (bounded,
    // ≤ 8784 rows/year) so the cache can be released in the finally —
    // otherwise repeated invocations in one session leak cached blocks,
    // or the lazily-evaluated result recomputes the rollup per join.
    val posHr: Array[(Long, java.sql.Timestamp)] = try {
    val maxPos = pre.agg(max("pos")).collect().head.getLong(0)
    var segs = Seq((1L, maxPos)).filter { case (lo, hi) => hi > lo }
    var lvl = 1
    while (lvl <= levels && segs.nonEmpty) {
      import spark.implicits._
      val segDf = segs.toDF("lo", "hi")
      // gains for ALL current segments in one pass over the bounded
      // relation; argmax per segment by (score desc, pos)
      val wseg = org.apache.spark.sql.expressions.Window
        .partitionBy("lo", "hi")
        .orderBy(col("__score").desc, col("pos"))
      val best = broadcast(segDf)
        .join(pre, col("pos") >= col("lo") && col("pos") < col("hi"))
        .join(broadcast(pre.select(col("pos").as("hi2"), col("cs").as("cshi"))),
          col("hi2") === col("hi"))
        .join(broadcast(pre.select((col("pos") + 1).as("lo2"),
          col("cs").as("cslo_prev"))
          .unionByName(spark.range(1).select(lit(1L).as("lo2"),
            lit(0L).as("cslo_prev")))),
          col("lo2") === col("lo"))
        .select(col("lo"), col("hi"), col("pos"),
          (col("pos") - col("lo") + 1).as("nl"),
          (col("hi") - col("pos")).as("nr"),
          (col("cs") - col("cslo_prev")).as("sl"),
          (col("cshi") - col("cs")).as("sr"))
        .select(col("lo"), col("hi"), col("pos"),
          expr("CAST(sl AS DECIMAL(38,0)) * nr - CAST(sr AS DECIMAL(38,0)) * nl")
            .as("__d"),
          (col("nl") * col("nr")).as("__den"))
        .withColumn("__score",
          (col("__d") * col("__d")).cast("double") / col("__den").cast("double"))
        .withColumn("__rn", row_number().over(wseg))
        .filter(col("__rn") === 1)
        .select("lo", "hi", "pos")
        .collect()
      val found = best.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
      found.foreach { case (lo, hi, k) => out += ((lvl, lo, hi, k)) }
      segs = found.flatMap { case (lo, hi, k) =>
        Seq((lo, k), (k + 1, hi)) }.filter { case (lo, hi) => hi > lo }
      lvl += 1
    }
    pre.select(col("pos"), col("hr"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    } finally pre.unpersist()
    import spark.implicits._
    val posHrDf = posHr.toSeq.toDF("pos", "hr")
    val cuts = out.result().toDF("level", "lo_pos", "hi_pos", "split_pos")
    cuts
      .join(broadcast(posHrDf.select(col("pos").as("split_pos"),
        col("hr").as("split_hour"))), "split_pos")
      .join(broadcast(posHrDf.select(col("pos").as("lo_pos"),
        col("hr").as("lo_hour"))), "lo_pos")
      .join(broadcast(posHrDf.select(col("pos").as("hi_pos"),
        col("hr").as("hi_hour"))), "hi_pos")
      .select(col("level").cast("long").as("level"), col("lo_hour"),
        col("hi_hour"), col("split_hour"),
        (col("hi_pos") - col("lo_pos") + 1).as("n_hours"))
      .orderBy("level", "lo_hour")
  }

  /** Open-session state for [[sessionizeStream]] (micros + cents so
    * the fold is exact integers end to end). */
  final case class OpenSession(
      user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, cents: Long)

  /** One emitted session (total_value = cents/100.0 — bit-equal to
    * the batch DECIMAL(18,2) sum cast to double). */
  final case class SessionOut(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  private def tsMicros(ts: java.sql.Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  // exposed for the transformWithState processor (a top-level class)
  private[streaming] def tsMicrosPublic(ts: java.sql.Timestamp): Long = tsMicros(ts)
  private[streaming] def microsTsPublic(us: Long): java.sql.Timestamp = microsTs(us)

  /**
   * Gap-based sessionization as a STREAM — the same semantics as the
   * batch [[sessionize]] (split a user's event-time-ordered series
   * wherever the gap exceeds `gapSeconds`), implemented with
   * `flatMapGroupsWithState` + EVENT-TIME TIMEOUT: sessions closed by
   * a later in-batch event emit immediately; the open session lives
   * in state with its timeout at session_end + gap, emits when the
   * watermark passes it (Spark's timeout predicate is STRICT:
   * timeoutTimestamp < watermark, both in MILLISECONDS — the closure
   * rule the driver oracle replays), and the state is then REMOVED —
   * state is bounded by gap + watermark horizon per active user, not
   * by history. Values fold as exact integer cents of the
   * HALF_UP-rounded DECIMAL(18,2) cast, so the streamed totals are
   * bit-equal to the batch decimal sums.
   *
   * The per-batch sort of a user's rows is bounded by that user's
   * events per micro-batch (the batch operator's window has the same
   * per-user contract over the whole history — strictly weaker).
   */
  def sessionizeStream(
      events: DataFrame, gapSeconds: Long,
      watermark: String): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    normalizeTs(events).withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
            state: GroupState[OpenSession]) => {
          def emit(o: OpenSession): SessionOut = SessionOut(
            o.user_id, microsTs(o.start_us), microsTs(o.end_us),
            o.n_events, o.cents / 100.0)
          if (state.hasTimedOut) {
            val o = state.get
            state.remove()
            Iterator.single(emit(o))
          } else {
            // event-time order with the same (ts, event_id) tie-break
            // as the batch window
            val evs = rows.toArray.sortBy(r => (tsMicros(r._2), r._3))
            val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
            var open = state.getOption
            evs.foreach { case (_, ts, _, v) =>
              val us = tsMicros(ts)
              // HALF_UP cents — exactly Spark's double → DECIMAL(18,2)
              val cents = java.math.BigDecimal.valueOf(v)
                .setScale(2, java.math.RoundingMode.HALF_UP)
                .movePointRight(2).longValueExact()
              open = open match {
                case Some(o) if us - o.end_us > gapUs =>
                  out += emit(o)
                  Some(OpenSession(user, us, us, 1L, cents))
                case Some(o) =>
                  Some(o.copy(end_us = math.max(o.end_us, us),
                    n_events = o.n_events + 1, cents = o.cents + cents))
                case None =>
                  Some(OpenSession(user, us, us, 1L, cents))
              }
            }
            open.foreach { o =>
              state.update(o)
              // ms, like Spark's watermark clock
              state.setTimeoutTimestamp(o.end_us / 1000L + gapSeconds * 1000L)
            }
            out.iterator
          }
        })
  }

  /**
   * Fifth end-to-end Structured Streaming surface: gap sessionization
   * through a REAL micro-batch execution (file source → watermarked
   * flatMapGroupsWithState → parquet sink, Trigger.AvailableNow).
   * With the whole input as one data batch, in-batch-closed sessions
   * emit in batch 1 and the no-data flush batch fires the timeouts
   * whose session_end + gap (ms) < max(ts) − delay (ms) — every
   * session EXCEPT each user's last one when the stream goes quiet
   * inside its horizon. That closure rule is the driver oracle's
   * WHERE clause over the batch sessionization CTE.
   */
  def sessionsStreamedParity(
      spark: org.apache.spark.sql.SparkSession, eventsDir: String,
      gapSeconds: Long, watermark: String): DataFrame = {
    val ss = streamSession(spark)
    val schema = ss.read.parquet(eventsDir).schema
    val sink = tempDir("graft_sess_sink")
    val ckpt = tempDir("graft_sess_ckpt")
    val srcDir = {
      val p = java.nio.file.Paths.get(eventsDir.stripPrefix("file:"))
      if (java.nio.file.Files.isDirectory(p)) eventsDir
      else {
        val d = tempDir("graft_sess_src")
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(d).resolve(p.getFileName), p)
        d
      }
    }
    val src = ss.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1000000") // whole input: one batch
      .parquet(srcDir)
    val q = sessionizeStream(src, gapSeconds, watermark)
      .toDF()
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    if (srcDir != eventsDir) deleteNow(srcDir)
    spark.read.parquet(sink)
  }

  /**
   * Per-user EWMA smoothing of the value series — the standard
   * time-series baseline for anomaly/drift flags. alpha is FIXED at
   * 1/2 deliberately: `ewma_i = value_i * 0.5 + ewma_{i-1} * 0.5`
   * multiplies by an exact power of two at every step, so each step
   * is two exact scalings and ONE rounding — and because both this
   * fold and the oracle's recursive CTE evaluate the identical
   * expression in the identical sequential order, the doubles match
   * bit-for-bit (an arbitrary alpha would too, but 1/2 keeps the
   * per-step error to the single addition).
   *
   * Shape: ONE shuffle on user_id; each user's series is gathered
   * with `collect_list` + `sort_array` ((ts, event_id) total order —
   * the same tie-break discipline as [[sessionize]]) and folded by
   * the `aggregate` higher-order function — sequential by
   * construction, linear work, no quadratic window. The per-key
   * gather bounds state by the per-user event count (the same
   * contract as `sessionize`/`resampleHourly`); a key whose history
   * exceeds memory needs the streaming state variant
   * ([[userRunningTotalsAged]]'s discipline), not a bigger array.
   */
  def ewmaSmoothed(events: DataFrame): DataFrame = {
    val ev = normalizeTs(events)
    ev.select(col("user_id"), struct(col("ts"), col("event_id"),
        col("value").cast("double").as("value")).as("e"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(col("e"))).as("evs"))
      .withColumn("ewmas", expr(
        """aggregate(evs, cast(array() as array<double>),
          |  (acc, e) -> array_append(acc,
          |    CASE WHEN size(acc) = 0 THEN e.value
          |         ELSE e.value * 0.5D + element_at(acc, -1) * 0.5D END))
          |""".stripMargin))
      .select(col("user_id"), posexplode(arrays_zip(col("evs"), col("ewmas"))))
      .select(col("user_id"),
        col("col.evs.event_id").as("event_id"),
        col("col.evs.value").as("value"),
        // RAW double, deliberately unrounded: alpha = 1/2 produces
        // dyadic rationals that land EXACTLY on 6-dp .5 boundaries,
        // where Spark's HALF_UP and a float-multiply round disagree;
        // the unrounded doubles are bit-identical across engines
        col("col.ewmas").as("ewma"))
  }

  /**
   * Holt's linear (double exponential) smoothing per user — the
   * trend-aware upgrade of [[ewmaSmoothed]] and the standard cheap
   * forecaster: `level` tracks the series, `trend` its slope,
   * one-step forecast = level + trend. α = β = 1/2 for the same
   * reason as EWMA's α: halving is an exponent shift, and both
   * engines evaluate the IDENTICAL expression in the identical
   * sequential order, so the raw doubles match bit-for-bit (the
   * trend recurrence recomputes the new level inline rather than
   * binding it, keeping the operation order pinned). Initialization:
   * level₁ = x₁, trend₁ = 0 (declared).
   *
   * Shape: one per-user hash aggregate collecting the user-bounded
   * series, one aggregate() fold, one posexplode — no windows over
   * the corpus.
   */
  def holtSmoothed(events: DataFrame): DataFrame = {
    val ev = normalizeTs(events)
    ev.select(col("user_id"), struct(col("ts"), col("event_id"),
        col("value").cast("double").as("value")).as("e"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(col("e"))).as("evs"))
      .withColumn("st", expr(
        """aggregate(evs, cast(array() as array<struct<l:double,t:double>>),
          |  (acc, e) -> array_append(acc,
          |    CASE WHEN size(acc) = 0
          |      THEN named_struct('l', e.value, 't', cast(0.0 as double))
          |      ELSE named_struct(
          |        'l', e.value * 0.5D +
          |             (element_at(acc, -1).l + element_at(acc, -1).t) * 0.5D,
          |        't', ((e.value * 0.5D +
          |               (element_at(acc, -1).l + element_at(acc, -1).t) * 0.5D)
          |              - element_at(acc, -1).l) * 0.5D +
          |             element_at(acc, -1).t * 0.5D)
          |    END))""".stripMargin))
      .select(col("user_id"), posexplode(arrays_zip(col("evs"), col("st"))))
      .select(col("user_id"),
        col("col.evs.event_id").as("event_id"),
        col("col.evs.value").as("value"),
        col("col.st.l").as("level"),
        col("col.st.t").as("trend"),
        (col("col.st.l") + col("col.st.t")).as("forecast_1"))
  }

  /**
   * First-order event-type transition matrix per the user population —
   * the Markov-chain view of behavior (what follows a click?) that
   * powers next-event prediction features and funnel design. One
   * keyed window produces (prev, cur) bigrams with the (ts, event_id)
   * total order; one hash aggregate counts them; transition
   * probabilities are a single 6-dp-rounded division of exact
   * integers against the per-prev row totals (broadcast join-back).
   */
  def typeTransitions(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val bigrams = normalizeTs(events)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("cur"))
      .agg(count(lit(1)).as("n"))
    val totals = bigrams.groupBy("prev").agg(sum("n").as("total"))
    bigrams.join(broadcast(totals), "prev")
      .select(col("prev"), col("cur"), col("n"), col("total"),
        round(col("n") / col("total").cast("double"), 6).as("p"))
      .orderBy("prev", "cur")
  }

  /**
   * Frequent 3-step behavior paths — contiguous event-type trigrams
   * per user in (ts, event_id) order, with support counts: the
   * sequence-mining card one level up from [[typeTransitions]]'
   * Markov bigrams (what do users DO in threes — view→click→purchase
   * vs view→error→view). Contiguity keeps it one pass over the
   * user-partitioned window (two `lead`s), so the shape is identical
   * to transitions: a per-user window, one grouped count, no
   * candidate-generation blowup of general subsequence mining.
   */
  def typePaths3(events: DataFrame, minSupport: Long = 1L): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    normalizeTs(events)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(byUser))
      .withColumn("t3", lead(col("event_type"), 2).over(byUser))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSupport)
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
  }

  /**
   * DAU / trailing-7-day WAU / stickiness per calendar day — the
   * engagement card. The WAU side deliberately avoids BOTH the
   * interval join (inequality-only → nested loop) and a
   * distinct-over-RANGE-window (unsupported): each (user, active day)
   * fact contributes to the 7 window-end days it falls inside, via a
   * 7-way `sequence` explode — an EQUALITY aggregate shape whose
   * blow-up factor is the constant window length, not data. Output
   * keeps only days with actual activity (the dau join);
   * stickiness = dau/wau rounded at 6 dp from exact integer counts.
   */
  def dauWau(events: DataFrame): DataFrame = {
    val ud = normalizeTs(events)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("k"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("k")).as("day"))
      .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau") / col("wau").cast("double"), 6).as("stickiness"))
      .orderBy("day")
  }

  /** Output-mode helper: windowed aggregations append once the
    * watermark passes the window end. */
  val WindowedOutputMode: OutputMode = OutputMode.Append()

  final case class TotalsState(n_events: Long, total_cents: Long)
  final case class UserTotalCents(
      user_id: Long, n_events: Long, total_cents: Long)

  /**
   * Warm-started running totals — `StatefulProcessorWithInitialState`,
   * the backfill→tail handoff this file's header promises: a BATCH
   * aggregate over the lake becomes the stream's initial state, and
   * the stream continues counting from there instead of replaying
   * history. One `handleInitialState` call per key seeds the
   * `ValueState`; each micro-batch then folds its rows in exact
   * integer cents and emits the updated total (Update-mode delta
   * shape). TimeMode.None: totals are time-free, no watermark or
   * timers.
   */
  def userTotalsWarmStart(
      stream: DataFrame, initial: DataFrame): Dataset[UserTotalCents] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val init = initial
      .select(col("user_id").cast("long").as("user_id"),
        col("n_events").cast("long").as("n_events"),
        col("total_cents").cast("long").as("total_cents"))
      .as[UserTotalCents]
      .groupByKey(_.user_id)
    stream
      .select(col("user_id").cast("long"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new WarmStartTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(),
        init)
  }

  /**
   * ELEVENTH end-to-end streaming mode — WARM-START initial state:
   * the first half of the corpus (event_id % 2 = 0) is aggregated as
   * a BATCH (the backfill), handed to `transformWithState` as initial
   * state, and only the second half streams (file source, one file
   * per trigger → several real micro-batches, RocksDB provider,
   * Update output to a memory sink). The final answer must equal the
   * batch aggregate over the WHOLE corpus — the handoff loses
   * nothing, double-counts nothing.
   *
   * Parity is ORDER-FREE: each emission of a key strictly increases
   * its n_events, so the key's final state is its max-n_events
   * emission regardless of micro-batch slicing; warm-started keys
   * that never stream simply keep their seeded totals (re-emitted by
   * the final union with the backfill relation — initial state emits
   * nothing by itself, exactly like a resumed query).
   */
  def streamedWarmStartParity(
      spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, fixtureKey: Option[String] = None): DataFrame = {
    // Both inputs are deterministic fixtures, written once per key:
    // the backfill AGGREGATE (bounded: one row per user) persisted as
    // the initial-state relation — which also makes the seeding read
    // from the lake like a real backfill→tail handoff would — and the
    // streamed tail split into three files → three real micro-batches
    // (one batch folds ON TOP of seeded state, one proves the
    // batch-boundary handoff; more forced batches only re-prove it).
    val initDir = fixtureDir(fixtureKey, "warm_init") { d =>
      events.filter(col("event_id") % 2 === 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("total_cents"))
        .write.mode("overwrite").parquet(d)
    }
    val srcDir = fixtureDir(fixtureKey, "warm_src") { d =>
      events.filter(col("event_id") % 2 =!= 0)
        .repartition(3).write.mode("overwrite").parquet(d)
    }
    // RocksDB provider (required by transformWithState) on the CHILD
    // session only — no shared-conf set/restore race
    val ss = streamSession(spark, rocksDb = true)
    val initial = ss.read.parquet(initDir)
    val ckpt = tempDir("graft_warm_ckpt")
    val stream = ss.readStream
      .schema(ss.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1") // several real micro-batches
      .parquet(srcDir)
    val name = s"graft_warm_${System.nanoTime()}"
    val q = userTotalsWarmStart(stream, initial)
      .toDF()
      .writeStream
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    releaseFixture(fixtureKey, srcDir)
    // initDir is NOT released: the returned frame still reads it
    // (shutdown-hook cleanup reclaims un-keyed dirs at exit)
    // final state per streamed key = its max-n emission; keys that
    // never streamed keep their backfill totals
    val streamedFinal = ss.table(name)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total_cents"))).as("__m"))
      .select(col("user_id"), col("__m.n_events").as("n_events"),
        col("__m.total_cents").as("total_cents"))
    val seededOnly = initial.join(streamedFinal.select("user_id"),
      Seq("user_id"), "left_anti")
    streamedFinal.unionByName(seededOnly)
  }

  final case class UserTypeTop(
      user_id: Long, event_type: String, n_type: Long, top3_cents: Long,
      n_user_events: Long)

  /**
   * TWELFTH end-to-end streaming mode — MAP + LIST state: the two
   * `transformWithState` state variables the other eleven modes never
   * touch (the matrix so far: ValueState, event-time timers,
   * initial-state seeding). Per user, a `MapState[event_type → count]`
   * maintains the type histogram — the state shape for a
   * sub-keyed domain where a ValueState would re-serialize the whole
   * map per update and a wider grouping key would lose the per-user
   * emission — a `ListState` holds the user's THREE largest cents
   * values, and a `ValueState` counter tracks the user's total event
   * count (all three state kinds in one processor). The folds are
   * associative over any batch slicing (counts add; the 3-largest
   * MULTISET merges), and the parity gate is order-free through two
   * monotone high-water marks: n_type never decreases per (user,
   * type), and n_user_events strictly increases per user-batch — so
   * the user's FINAL top-3 sum is the one emitted at max
   * n_user_events. (The top-3 SUM itself is NOT monotone: while
   * fewer than three values are stored, a negative cents value
   * lowers it — the r15 review caught a max-over-emissions gate
   * silently assuming nonnegative metrics.) Each batch emits one row
   * per type TOUCHED in that batch, carrying the user's current
   * top-3 sum and event count.
   *
   * 100 TB note: state is |users| × (|types| + 4) entries — the
   * MapState sub-key keeps per-update work at the touched types, not
   * the whole histogram, which is the entire point of the API.
   */
  def userTypeHistogram(stream: DataFrame): Dataset[UserTypeTop] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col("user_id").cast("long"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new TypeHistTop3Processor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /**
   * [[userTypeHistogram]] through a real micro-batch run (file
   * source, three forced batches, RocksDB provider, Update output to
   * a memory sink): the final per-(user, type) count and per-user
   * top-3 sum — max over each key's monotone emissions — must equal
   * the batch aggregate exactly.
   */
  def streamedTypeHistParity(
      spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, fixtureKey: Option[String] = None): DataFrame = {
    val srcDir = fixtureDir(fixtureKey, "hist_src") { d =>
      events.repartition(3).write.mode("overwrite").parquet(d)
    }
    val ss = streamSession(spark, rocksDb = true)
    val ckpt = tempDir("graft_hist_ckpt")
    val stream = ss.readStream
      .schema(ss.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1") // several real micro-batches
      .parquet(srcDir)
    val name = s"graft_hist_${System.nanoTime()}"
    val q = userTypeHistogram(stream)
      .toDF()
      .writeStream
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    releaseFixture(fixtureKey, srcDir)
    // n_type is monotone per (user, type); the user's FINAL top-3 sum
    // is the emission at the n_user_events high-water mark (the sum
    // itself is NOT monotone once negative cents exist, and a row
    // only re-emits for types touched in its batch, so neither a
    // type-level nor a user-level max over top3_cents is the answer).
    // localCheckpoint: the memory-sink plan is a leaf that cannot
    // self-join (no attribute re-instancing); the checkpoint pins the
    // bounded emission log once and both aggregates read the pin.
    val sunk = ss.table(name).localCheckpoint(true)
    sunk.groupBy("user_id", "event_type")
      .agg(max("n_type").as("n_type"))
      .join(sunk.groupBy("user_id")
        .agg(max(struct(col("n_user_events"), col("top3_cents")))
          .as("__hw")), "user_id")
      .select(col("user_id"), col("event_type"), col("n_type"),
        col("__hw.top3_cents").as("top3_cents"))
  }

  /**
   * The SAME gap sessionization on `transformWithState` — Spark 4's
   * arbitrary-state API (SPARK-45939): typed `ValueState` + explicit
   * event-time TIMERS instead of flatMapGroupsWithState's single
   * timeout slot. Semantically identical to [[sessionizeStream]]
   * (the boundary spec pins that TWS timers also fire on the strict
   * `expiry < watermark` ms rule), so the driver oracle is shared.
   * TWS requires the RocksDB state-store provider — the harness sets
   * it for the query and restores the session conf after.
   */
  def sessionizeTws(
      events: DataFrame, gapSeconds: Long,
      watermark: String): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    normalizeTs(events).withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new GapSessionProcessor(gapSeconds),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /**
   * Sixth end-to-end Structured Streaming surface:
   * [[sessionizeTws]] through a real micro-batch run (file source →
   * RocksDB-backed transformWithState → parquet sink, AvailableNow),
   * sharing `events_sessions_streamed`'s closure-rule oracle.
   */
  def sessionsTwsParity(
      spark: org.apache.spark.sql.SparkSession, eventsDir: String,
      gapSeconds: Long, watermark: String): DataFrame = {
    // RocksDB provider set on the CHILD session only — no shared-conf
    // set/restore race (the execution-scoped-conf discipline)
    val ss = streamSession(spark, rocksDb = true)
    val schema = ss.read.parquet(eventsDir).schema
    val sink = tempDir("graft_tws_sink")
    val ckpt = tempDir("graft_tws_ckpt")
    val srcDir = {
      val p = java.nio.file.Paths.get(eventsDir.stripPrefix("file:"))
      if (java.nio.file.Files.isDirectory(p)) eventsDir
      else {
        val d = tempDir("graft_tws_src")
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(d).resolve(p.getFileName), p)
        d
      }
    }
    val src = ss.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(srcDir)
    val q = sessionizeTws(src, gapSeconds, watermark)
      .toDF()
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    deleteNow(ckpt)
    if (srcDir != eventsDir) deleteNow(srcDir)
    spark.read.parquet(sink)
  }
}

/**
 * `transformWithState` processor for gap sessionization: one
 * `ValueState[OpenSession]` per user plus ONE live event-time timer
 * at session_end + gap (stale timers are deleted on every update —
 * an early timer firing would otherwise emit a LIVE session). Same
 * exact-cents fold and (ts, event_id) ordering as the
 * flatMapGroupsWithState implementation.
 */
class GapSessionProcessor(gapSeconds: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp, Long, Double), EventPipeline.SessionOut] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}

  @transient private var open: ValueState[EventPipeline.OpenSession] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[EventPipeline.OpenSession]("open",
      org.apache.spark.sql.Encoders.product[EventPipeline.OpenSession],
      TTLConfig.NONE)

  private def emit(o: EventPipeline.OpenSession): EventPipeline.SessionOut =
    EventPipeline.SessionOut(o.user_id,
      EventPipeline.microsTsPublic(o.start_us),
      EventPipeline.microsTsPublic(o.end_us),
      o.n_events, o.cents / 100.0)

  override def handleInputRows(
      user: Long,
      rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
      timerValues: TimerValues): Iterator[EventPipeline.SessionOut] = {
    val gapUs = gapSeconds * 1000000L
    val evs = rows.toArray.sortBy(r => (EventPipeline.tsMicrosPublic(r._2), r._3))
    val out = scala.collection.mutable.ListBuffer.empty[EventPipeline.SessionOut]
    var cur: Option[EventPipeline.OpenSession] =
      if (open.exists()) Some(open.get()) else None
    evs.foreach { case (_, ts, _, v) =>
      val us = EventPipeline.tsMicrosPublic(ts)
      val cents = java.math.BigDecimal.valueOf(v)
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact()
      cur = cur match {
        case Some(o) if us - o.end_us > gapUs =>
          out += emit(o)
          Some(EventPipeline.OpenSession(user, us, us, 1L, cents))
        case Some(o) =>
          Some(o.copy(end_us = math.max(o.end_us, us),
            n_events = o.n_events + 1, cents = o.cents + cents))
        case None =>
          Some(EventPipeline.OpenSession(user, us, us, 1L, cents))
      }
    }
    cur.foreach { o =>
      open.update(o)
      val timers = getHandle.listTimers()
      while (timers.hasNext) getHandle.deleteTimer(
        timers.next().asInstanceOf[Long])
      getHandle.registerTimer(o.end_us / 1000L + gapSeconds * 1000L)
    }
    out.iterator
  }

  override def handleExpiredTimer(
      user: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[EventPipeline.SessionOut] = {
    if (!open.exists()) return Iterator.empty
    val o = open.get()
    open.clear()
    Iterator.single(emit(o))
  }
}

/**
 * `transformWithState` processor exercising all three state kinds:
 * one `MapState[String, Long]` per user for the event-type histogram
 * (per-update work touches only the batch's types — the sub-keyed
 * access pattern that distinguishes MapState from a ValueState-of-map),
 * one `ListState[Long]` holding the user's three largest cents values
 * (a bounded ranked buffer, merged associatively per batch), and one
 * `ValueState[Long]` event counter. Emits one row per type touched in
 * the batch with the user's current count, top-3 sum, and event
 * count; the count columns are the gate's monotone high-water marks
 * (the top-3 sum itself is not monotone under negative cents — see
 * [[EventPipeline.userTypeHistogram]]).
 */
class TypeHistTop3Processor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String, Long), EventPipeline.UserTypeTop] {
  import org.apache.spark.sql.streaming.{ListState, MapState, TTLConfig, TimeMode, TimerValues, ValueState}

  @transient private var hist: MapState[String, Long] = _
  @transient private var top3: ListState[Long] = _
  @transient private var nEvents: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    hist = getHandle.getMapState[String, Long]("hist",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    top3 = getHandle.getListState[Long]("top3",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    nEvents = getHandle.getValueState[Long]("n_events",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      user: Long, rows: Iterator[(Long, String, Long)],
      timerValues: TimerValues): Iterator[EventPipeline.UserTypeTop] = {
    val batch = rows.toArray
    // MapState: add the batch's per-type counts to the stored ones
    val touched = scala.collection.mutable.SortedSet.empty[String]
    batch.groupBy(_._2).foreach { case (t, rs) =>
      val cur = if (hist.containsKey(t)) hist.getValue(t) else 0L
      hist.updateValue(t, cur + rs.length)
      touched += t
    }
    // ListState: merge batch cents into the 3-largest multiset
    val prev = if (top3.exists()) top3.get().toArray else Array.empty[Long]
    val merged = (prev ++ batch.map(_._3)).sorted(Ordering[Long].reverse)
      .take(3)
    top3.put(merged)
    val t3 = merged.sum
    // ValueState: the per-user event count — the strictly increasing
    // high-water mark the parity gate selects the final top-3 by
    val n = (if (nEvents.exists()) nEvents.get() else 0L) + batch.length
    nEvents.update(n)
    // Materialize eagerly: state handles are only guaranteed valid while
    // the grouping-key thread-local is set, i.e. inside this call — a lazy
    // iterator reading hist.getValue after return is fragile across Spark
    // upgrades even though it happens to work on the pinned version.
    touched.iterator.map(t =>
      EventPipeline.UserTypeTop(user, t, hist.getValue(t), t3, n))
      .toVector.iterator
  }
}

/**
 * `StatefulProcessorWithInitialState` for warm-started user totals:
 * `handleInitialState` seeds one `ValueState[TotalsState]` per key
 * from the batch backfill; `handleInputRows` folds each micro-batch's
 * rows in exact integer cents and emits the updated running total.
 */
class WarmStartTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      Long, (Long, Long), EventPipeline.UserTotalCents,
      EventPipeline.UserTotalCents] {
  import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

  @transient private var totals: ValueState[EventPipeline.TotalsState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[EventPipeline.TotalsState]("totals",
      org.apache.spark.sql.Encoders.product[EventPipeline.TotalsState],
      TTLConfig.NONE)

  override def handleInitialState(
      user: Long, s: EventPipeline.UserTotalCents,
      timerValues: TimerValues): Unit =
    totals.update(EventPipeline.TotalsState(s.n_events, s.total_cents))

  override def handleInputRows(
      user: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[EventPipeline.UserTotalCents] = {
    val prev =
      if (totals.exists()) totals.get()
      else EventPipeline.TotalsState(0L, 0L)
    var n = prev.n_events
    var c = prev.total_cents
    rows.foreach { r => n += 1; c += r._2 }
    totals.update(EventPipeline.TotalsState(n, c))
    Iterator.single(EventPipeline.UserTotalCents(user, n, c))
  }
}
