package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface: windowed aggregation with watermark over
  * the events table. For the sandbox the parquet directory drives a real
  * streaming query synchronously (memory sink + processAllAvailable); in
  * production the same plan reads Kafka/files incrementally. */
object EventStream {

  /** The shared hourly-agg streaming plan (watermark + windowed
    * count/decimal-sum). Both the sandbox memory sink and the production
    * file sink run exactly this DataFrame. */
  private def hourlyPlan(spark: SparkSession, eventsParquet: String): DataFrame =
    events(spark, eventsParquet)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // decimal sum: exact + order-independent, so the streaming result is
      // bit-identical to the batch oracle regardless of micro-batch order
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("total_value"))
      .select(
        col("w.start").cast("timestamp_ntz").as("hour"),
        col("event_type"),
        col("n"),
        col("total_value"))

  /** The events table as a stream (a file path reads its parent DIRECTORY
    * through a glob filter), `ts` cast to the instant type watermarks need
    * — value-preserving with the session TZ at UTC, reversed on output.
    * The stream takes the declared events schema of [[graft.io.Tables]],
    * so starting it reads no file footer and runs no inference job. */
  private def events(spark: SparkSession, eventsParquet: String): DataFrame = {
    val f = new java.io.File(eventsParquet)
    val (dir, glob) = if (f.isDirectory) (eventsParquet, "*") else (f.getParent, f.getName)
    spark.readStream
      .schema(graft.io.Tables.Schemas("events"))
      .option("pathGlobFilter", glob)
      .parquet(dir)
      .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Hourly per-type counts/sums via a real streaming query. Returns the
    * final materialized result (hour, event_type, n, total_value).
    * Memory sink = sandbox-only synchronous oracle surface; production
    * deployments use [[hourlyAggToPath]] (same plan, file sink). */
  def hourlyAgg(spark: SparkSession, eventsParquet: String): DataFrame =
    runToMemory(spark, hourlyPlan(spark, eventsParquet), "graft_stream", "complete")

  /** Runs `plan` to completion into a memory sink and returns its rows as
    * a LocalRelation. The sink's rows already sit on the driver; the
    * sink's view is dropped before returning, so no call leaves a table
    * (and its rows) registered in the session. */
  private def runToMemory(
      spark: SparkSession,
      plan: org.apache.spark.sql.Dataset[_],
      prefix: String,
      outputMode: String): DataFrame = {
    val name = s"${prefix}_${System.nanoTime()}"
    val q = plan.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      try q.processAllAvailable() finally q.stop()
      val sink = spark.table(name)
      spark.createDataFrame(java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    } finally spark.catalog.dropTempView(name)
  }

  /** Production sink: the same hourly plan written incrementally to a
    * parquet directory. Update mode + foreachBatch — each micro-batch
    * appends its CHANGED windows stamped with the batch id (an idempotent
    * upsert log; Spark replays an interrupted batch under the same id, and
    * [[readHourlySink]] compacts by keeping the latest batch per key).
    * Nothing is ever materialized on the driver. */
  def hourlyAggToPath(
      spark: SparkSession,
      eventsParquet: String,
      outDir: String,
      checkpointDir: String): Unit = {
    val agg = hourlyPlan(spark, eventsParquet)
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Production sink for sessionization: append-mode flatMapGroupsWithState
    * writes closed sessions straight to parquet (append output mode emits
    * each session exactly once, so no compaction step is needed — unlike
    * the update-mode hourly agg). Same plan as [[sessionize]]; memory sink
    * there is the sandbox oracle surface only. */
  def sessionizeToPath(
      spark: SparkSession,
      eventsParquet: String,
      outDir: String,
      checkpointDir: String,
      gapMin: Int = 30): Unit = {
    val q = sessionPlan(spark, eventsParquet, gapMin).writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Compacted view over a [[hourlyAggToPath]] directory: latest batch's
    * row per (hour, event_type). */
  def readHourlySink(spark: SparkSession, outDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.read.parquet(outDir)
      .withColumn(
        "rn",
        row_number().over(Window
          .partitionBy(col("hour"), col("event_type"))
          .orderBy(col("batch_id").desc)))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** Session bounds in epoch MICROS and value as 1e-4 fixed-point — integer
    * columns compare exactly against a SQL oracle (double sums would be
    * summation-order-dependent). */
  final case class Session(
      user_id: Long,
      start_us: Long,
      end_us: Long,
      n_events: Long,
      total_e4: Long)

  /** public: Catalyst codegen constructs/encodes the state class. */
  final case class SessState(start: Long, last: Long, n: Long, total: Long)

  /** Custom-state sessionization: per-user sessions closed after `gapMin`
    * minutes of inactivity, via flatMapGroupsWithState with event-time
    * timeout — the KeyValueGroupedDataset custom-state surface of the build
    * rules. Emits closed sessions; the final watermark flush closes the
    * tail sessions. */
  def sessionize(
      spark: SparkSession,
      eventsParquet: String,
      gapMin: Int = 30): DataFrame =
    runToMemory(spark, sessionPlan(spark, eventsParquet, gapMin), "graft_sessions", "append")

  /** The shared sessionization streaming plan (flatMapGroupsWithState with
    * event-time timeout) behind both sinks. */
  private def sessionPlan(
      spark: SparkSession,
      eventsParquet: String,
      gapMin: Int): org.apache.spark.sql.Dataset[Session] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    val rows = events(spark, eventsParquet)
      .withWatermark("ts", "2 hours")
      // keep the watermarked ts column itself — projecting it away would
      // detach the watermark the event-time timeout needs
      .select(
        col("user_id").cast("long").as("user_id"),
        col("ts"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 10000).cast("long").as("value_e4"))
      .as[(Long, java.sql.Timestamp, Long, Long)]

    val gapUs = gapMin * 60000000L
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Long)], state: GroupState[SessState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.start, s.last, s.n, s.total))
          } else {
            val sorted = rows.toArray.sortBy(_._3)
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            var cur = state.getOption
            sorted.foreach { case (_, _, ts, v) =>
              cur match {
                case Some(s) if ts - s.last <= gapUs =>
                  cur = Some(SessState(s.start, ts, s.n + 1, s.total + v))
                case Some(s) =>
                  closed += Session(user, s.start, s.last, s.n, s.total)
                  cur = Some(SessState(ts, ts, 1L, v))
                case None =>
                  cur = Some(SessState(ts, ts, 1L, v))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.last + gapUs) / 1000L)
            }
            closed.iterator
          }
        })
  }
}
