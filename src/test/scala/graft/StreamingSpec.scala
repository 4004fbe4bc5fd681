package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables._

/** transformWithState processor: running event count per user (the
  * Spark 4 successor of flatMapGroupsWithState, RocksDB-backed). */
class UserCountProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long), (Long, Long)] {
  import org.apache.spark.sql.Encoders
  @transient private var count:
    org.apache.spark.sql.streaming.ValueState[Long] = _
  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    count = getHandle.getValueState[Long]("cnt", Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long)] = {
    val prev = if (count.exists()) count.get() else 0L
    val total = prev + rows.size
    count.update(total)
    Iterator.single((key, total))
  }
}

/** Bounded-state streaming dedup (bff-style): each grouping key is a
  * Bloom BLOCK (16 blocks x 4 words x 62 bits here); state per key is
  * four longs — 32 bytes per block REGARDLESS of how many ids stream
  * through, the bounded-memory alternative to dropDuplicates' one
  * state row per key. Bloom guarantees no false negatives, so a
  * repeated id is always suppressed; a false positive suppresses a
  * genuinely-new id at the (tunable) fp rate.
  * Input: (blk, id, p1, p2, p3); output: ids emitted on first sight. */
class BloomDedupProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Long, Long, Long), Long] {
  import org.apache.spark.sql.Encoders
  @transient private var words:
    org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, Long)] = _
  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    words = getHandle.getValueState[(Long, Long, Long, Long)]("bloom",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong),
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Long, Long, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[Long] = {
    var w = if (words.exists()) words.get() else (0L, 0L, 0L, 0L)
    def word(i: Long): Long = (i / 62) match {
      case 0 => w._1; case 1 => w._2; case 2 => w._3; case _ => w._4
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    rows.foreach { case (_, id, p1, p2, p3) =>
      val ps = Seq(p1, p2, p3)
      val seen = ps.forall(p => (word(p) >> (p % 62).toInt & 1L) == 1L)
      if (!seen) {
        out += id
        ps.foreach { p =>
          val m = 1L << (p % 62).toInt
          (p / 62) match {
            case 0 => w = w.copy(_1 = w._1 | m)
            case 1 => w = w.copy(_2 = w._2 | m)
            case 2 => w = w.copy(_3 = w._3 | m)
            case _ => w = w.copy(_4 = w._4 | m)
          }
        }
      }
    }
    words.update(w)
    out.iterator
  }
}

/** Batch ≡ stream equivalence (SURVEY.md §2.J, §5.2): the SAME windowed
  * transformations declared in StreamingOps run under Structured Streaming
  * from a file-replay source and must produce the batch rows. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  // file-source replay dir holding only events.parquet
  private lazy val replayDir: String = {
    val d = Files.createTempDirectory("events_replay").toFile
    d.deleteOnExit()
    val target = new java.io.File(d, "events.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), target.toPath)
    d.getAbsolutePath
  }

  private def streamedEvents = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // normalize ts exactly as Tables() does for batch reads (the physical
    // type differs across driver fixture generations: int64-nanos vs micros)
    val rawSchema = spark.read.parquet(s"$replayDir/events.parquet").schema
    Tables.normalizeEventsTs(
      spark.readStream.schema(rawSchema).parquet(replayDir))
  }

  /** transformWithState requires the RocksDB state store; save/restore
    * the provider conf around the body (shared by every tWS test). */
  private def withRocksDBStateStore[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def runToBatch(df: org.apache.spark.sql.DataFrame,
      name: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("tumbling windows: stream == batch") {
    val streamed = runToBatch(
      streamedEvents
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .select(fmtTs(col("w.start")).as("win_start"), col("event_type"),
          col("cnt"), col("sum_value")),
      "t_tumbling")
      .orderBy(col("win_start"), col("event_type")).collect().toSeq
    val batch = SparkEntry.queries("q_stream_tumbling")(spark, sf)
      .collect().toSeq
    assert(streamed == batch)
  }

  test("session windows: stream == batch") {
    val streamed = runToBatch(
      streamedEvents.filter(col("user_id") < 60)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"), fmtTsUs(col("w.start")).as("sess_start"),
          fmtTsUs(col("w.end")).as("sess_end"), col("cnt"),
          col("sum_value")),
      "t_session")
      .orderBy(col("user_id"), col("sess_start")).collect().toSeq
    val batch = SparkEntry.queries("q_stream_session")(spark, sf)
      .collect().toSeq
    assert(streamed == batch)
  }

  test("sliding windows: stream == batch") {
    val streamed = runToBatch(
      streamedEvents
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .select(fmtTs(col("w.start")).as("win_start"), col("cnt"),
          col("sum_value")),
      "t_sliding")
      .orderBy(col("win_start")).collect().toSeq
    val batch = SparkEntry.queries("q_stream_sliding")(spark, sf)
      .collect().toSeq
    assert(streamed == batch)
  }

  test("stream-static join enriches events with a dimension table") {
    // static dim: classify event types (broadcast to every micro-batch)
    val dim = Seq(("view", "read"), ("click", "read"), ("purchase", "write"),
      ("signup", "write"), ("error", "error"))
    import spark.implicits._
    val dimDf = dim.toDF("event_type", "klass")
    val streamed = runToBatch(
      streamedEvents.join(dimDf, "event_type")
        .groupBy(col("klass")).agg(count(lit(1)).as("cnt")),
      "t_dimjoin")
      .orderBy(col("klass")).collect().toSeq
    val batch = Tables(spark, sf, "events").join(dimDf, "event_type")
      .groupBy(col("klass")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("klass")).collect().toSeq
    assert(streamed == batch)
  }

  test("stream-stream join with watermark range condition == batch") {
    // both sides watermarked + time-range join condition: the combination
    // that lets Structured Streaming bound join state (a click older than
    // watermark - 30 min is evicted). Inner join -> append output.
    val clicks = streamedEvents.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val buys = streamedEvents.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(buys,
        col("user_id") === col("b_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        fmtTsUs(col("click_ts")).as("click_ts"),
        fmtTsUs(col("purchase_ts")).as("purchase_ts"))
    val q = joined.writeStream.format("memory").queryName("t_ssjoin")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_ssjoin")
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
      .collect().toSeq
    val batch = SparkEntry.queries("q_stream_stream_join")(spark, sf)
      .collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty, "fixture has no click->purchase pairs?")
  }

  test("stream-stream LEFT OUTER join emits null-padded rows after watermark expiry") {
    // outer rows cannot emit until the watermark proves no future match
    // can arrive; a far-future batch-2 row pushes both watermarks past
    // every original event and flushes the unmatched-click state.
    val d = Files.createTempDirectory("events_replay_outer").toFile
    d.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      new java.io.File(d, "events.parquet").toPath)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$d/events.parquet").schema
    val src = Tables.normalizeEventsTs(
      spark.readStream.schema(rawSchema).parquet(d.getAbsolutePath))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val buys = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(buys,
        col("user_id") === col("b_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    val q = joined.writeStream.format("memory").queryName("t_ssouter")
      .outputMode("append").start()
    q.processAllAvailable()
    // batch 2: one far-future click + purchase (user -1, +30 days)
    // The late file must carry the SAME physical ts type as the fixture (the
    // stream was declared with rawSchema), so build the +30d dummy row from
    // the normalized max-ts and convert back to the fixture's physical type.
    val raw = spark.read.parquet(s"$d/events.parquet")
    val mx = Tables.normalizeEventsTs(raw).orderBy(col("ts").desc).limit(1)
    val lateTs = col("ts") + expr("INTERVAL 30 DAYS")
    val tsBack: Column = rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => unix_micros(lateTs) * 1000L
      case t: org.apache.spark.sql.types.TimestampNTZType => lateTs.cast(t)
      case _ => lateTs
    }
    def dummy(id: Long, et: String) = mx.select(
      lit(id).cast("bigint").as("event_id"), tsBack.as("ts"),
      lit(-1L).as("user_id"), lit(et).as("event_type"),
      lit(0.0).as("value"), lit("").as("props"))
    val tmpOut = Files.createTempDirectory("late_dummy").toFile
    tmpOut.deleteOnExit()
    dummy(-1L, "click").union(dummy(-2L, "purchase"))
      .coalesce(1).write.mode("overwrite").parquet(tmpOut.getAbsolutePath)
    val part = tmpOut.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(d, "late.parquet").toPath)
    q.processAllAvailable(); q.stop()
    // the dummy click itself stays in state (nothing advances past it)
    val streamed = spark.table("t_ssouter").filter(col("click_id") >= 0)
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
      .collect().toSeq
    val ev = Tables(spark, sf, "events")
    val bc = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val bb = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batch = bc.join(bb,
        col("user_id") === col("b_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
      .collect().toSeq
    assert(streamed == batch)
    assert(batch.exists(_.isNullAt(2)), "no unmatched clicks in fixture?")
  }

  test("arbitrary stateful processing: flatMapGroupsWithState running count") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val counted = streamedEvents
      .selectExpr("user_id", "event_id").as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)], st: GroupState[Long]) =>
          val prev = st.getOption.getOrElse(0L)
          val total = prev + rows.size
          st.update(total)
          Iterator.single((uid, total))
      }.toDF("user_id", "total")
    val q = counted.writeStream.format("memory").queryName("t_state")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // last emitted total per user equals the batch count
    val streamed = spark.table("t_state")
      .groupBy(col("user_id")).agg(max(col("total")).as("n"))
      .orderBy(col("user_id")).collect().toSeq
    val batch = Tables(spark, sf, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("user_id")).collect().toSeq
    assert(streamed == batch)
  }

  test("streaming gap sessionization (flatMapGroupsWithState) == batch q_ts_sessionize") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = 1800L * 1000000L
    // three ts-ordered replay files -> three micro-batches, so session
    // state genuinely carries across batch boundaries (a session that
    // spans a boundary must be stitched by the state, not the batch)
    val dir = Files.createTempDirectory("sess_replay").toFile
    dir.deleteOnExit()
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    for ((lo, hi, i) <- Seq(("2024-01-01", "2024-01-11", 1),
        ("2024-01-11", "2024-01-21", 2), ("2024-01-21", "2024-02-01", 3))) {
      ev.filter(col("ts_us") >= unix_micros(lit(lo).cast("timestamp")) &&
          col("ts_us") < unix_micros(lit(hi).cast("timestamp")))
        .coalesce(1).write.parquet(s"$dir/b$i")
      Thread.sleep(1100) // file source orders batches by mod time
    }
    val sessions = spark.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/b*")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        // state: (sessionId, startUs, lastUs, nEvents)
        (uid: Long, rows: Iterator[(Long, Long, Long)],
         st: GroupState[(Int, Long, Long, Long)]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          val closed = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Int, Long, Long, Long)]
          var cur = st.getOption
          for ((_, _, ts) <- sorted) {
            cur match {
              case Some((sid, start, last, n)) if ts - last <= gapUs =>
                cur = Some((sid, start, ts, n + 1))
              case Some((sid, start, last, n)) =>
                closed += ((uid, sid, n, start, last))
                cur = Some((sid + 1, ts, ts, 1L))
              case None =>
                cur = Some((1, ts, ts, 1L))
            }
          }
          cur.foreach(st.update)
          closed.iterator
      }
      .toDF("user_id", "sess", "n_events", "start_us", "end_us")
    val q = sessions.writeStream.format("memory").queryName("t_sess")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_sess")
      .select(col("user_id"), col("sess").cast("long").as("sess"),
        col("n_events"),
        fmtTsUs(timestamp_micros(col("start_us"))).as("sess_start"),
        fmtTsUs(timestamp_micros(col("end_us"))).as("sess_end"))
      .orderBy(col("user_id"), col("sess")).collect().toSeq
    // the stream can only emit CLOSED sessions (the final open session
    // per user has no successor to close it) -> batch minus each
    // user's last session
    val batch = ops.TimeSeriesOps.qSessionize(spark, sf)
      .withColumn("last_sess", max(col("sess")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .filter(col("sess") =!= col("last_sess"))
      .select(col("user_id"), col("sess"), col("n_events"),
        col("sess_start"), col("sess_end"))
      .orderBy(col("user_id"), col("sess")).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} closed sessions != batch ${batch.size}")
  }

  test("streaming conversion measures (fMGWS) == batch q_event_conversions") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // state per user: (lastViewUs, lastViewRn, prevPurchaseUs, rnSoFar)
    // — the MATCH_RECOGNIZE navigation state. Unlike sessions there is
    // no open tail (a conversion emits the moment its purchase is
    // processed), so the streamed rows must equal the FULL batch
    // result, including conversions whose view and purchase land in
    // different micro-batches.
    val dir = Files.createTempDirectory("conv_replay").toFile
    dir.deleteOnExit()
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
    for ((lo, hi, i) <- Seq(("2024-01-01", "2024-01-11", 1),
        ("2024-01-11", "2024-01-21", 2), ("2024-01-21", "2024-02-01", 3))) {
      ev.filter(col("ts_us") >= unix_micros(lit(lo).cast("timestamp")) &&
          col("ts_us") < unix_micros(lit(hi).cast("timestamp")))
        .coalesce(1).write.parquet(s"$dir/b$i")
      Thread.sleep(1100)
    }
    val conv = spark.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/b*")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String)],
         st: GroupState[(Long, Long, Long, Long)]) =>
          var (lastVUs, lastVRn, prevPUs, rn) =
            st.getOption.getOrElse((-1L, -1L, -1L, 0L))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long, Long, Long)]
          for ((_, eid, tsUs, tpe) <- rows.toSeq.sortBy(r => (r._3, r._2))) {
            rn += 1
            if (tpe == "purchase") {
              if (lastVUs >= 0 && lastVUs > prevPUs)
                out += ((uid, eid, lastVUs, tsUs, tsUs - lastVUs,
                  rn - lastVRn - 1))
              prevPUs = tsUs
            } else if (tpe == "view") { lastVUs = tsUs; lastVRn = rn }
          }
          st.update((lastVUs, lastVRn, prevPUs, rn))
          out.iterator
      }
      .toDF("user_id", "purchase_id", "view_us", "purchase_us",
        "wait_us", "events_between")
    val q = conv.writeStream.format("memory").queryName("t_conv")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_conv")
      .orderBy(col("user_id"), col("purchase_us"), col("purchase_id"))
      .collect().toSeq
    val batch = ops.CorpusOps24.qEventConversions(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} conversions != batch ${batch.size}")
  }

  test("streaming EWMA (flatMapGroupsWithState lag state) == batch q_ts_ewma") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // replay in 3 time-sliced micro-batches so the 4-lag state genuinely
    // carries across batch boundaries (same discipline as the session test)
    val dir = Files.createTempDirectory("ewma_replay").toFile
    dir.deleteOnExit()
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 1e6).cast("long").as("vm"))
    for ((lo, hi, i) <- Seq(("2024-01-01", "2024-01-11", 1),
        ("2024-01-11", "2024-01-21", 2), ("2024-01-21", "2024-02-01", 3))) {
      ev.filter(col("ts_us") >= unix_micros(lit(lo).cast("timestamp")) &&
          col("ts_us") < unix_micros(lit(hi).cast("timestamp")))
        .coalesce(1).write.parquet(s"$dir/b$i")
      Thread.sleep(1100)
    }
    val weights = List(16L, 8L, 4L, 2L, 1L)
    val smoothed = spark.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/b*")
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        // state: up to 4 previous vm values, most recent first — the
        // integer lag-chain EWMA of q_ts_ewma, O(1) state per key
        (uid: Long, rows: Iterator[(Long, Long, Long, Long)],
         st: GroupState[List[Long]]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var hist = st.getOption.getOrElse(Nil)
          val out = sorted.map { case (_, eid, _, vm) =>
            val lags = vm :: hist
            val num = weights.zip(lags).map { case (w, v) => w * v }.sum
            val den = weights.zip(lags).map(_._1).sum
            hist = (vm :: hist).take(4)
            (uid, eid, vm, num / den) // non-negative: / == div
          }
          st.update(hist)
          out.iterator
      }.toDF("user_id", "event_id", "vm", "ewma_micro")
    val q = smoothed.writeStream.format("memory").queryName("t_ewma")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_ewma")
      .orderBy(col("user_id"), col("event_id")).collect().toSeq
    val batch = ops.TimeSeriesOps.qEwma(spark, sf).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}")
  }

  test("transformWithState (Spark 4 stateful API) keeps a running count per key") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    withRocksDBStateStore {
      import spark.implicits._
      val counted = streamedEvents
        .selectExpr("user_id", "event_id").as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new UserCountProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF("user_id", "total")
      val q = counted.writeStream.format("memory").queryName("t_tws")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("t_tws")
        .groupBy(col("user_id")).agg(max(col("total")).as("n"))
        .orderBy(col("user_id")).collect().toSeq
      val batch = Tables(spark, sf, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("user_id")).collect().toSeq
      assert(streamed == batch)
    }
  }

  test("bounded-state bloom dedup: 32 bytes per block, no repeat ever emitted") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    withRocksDBStateStore {
    // user_id dedup through a 16-block bloom: state is <= 16 x 32 bytes
    // however many users stream through (dropDuplicates would hold one
    // row per user); md5-position spelling identical to q_dedup_bloom
    val hashed = streamedEvents
      .withColumn("m", md5(col("user_id").cast("string")))
      .selectExpr(
        "cast(conv(substring(m, 1, 8), 16, 10) as bigint) % 16 as blk",
        "user_id",
        "cast(conv(substring(m, 9, 6), 16, 10) as bigint) % 248 as p1",
        "cast(conv(substring(m, 15, 6), 16, 10) as bigint) % 248 as p2",
        "cast(conv(substring(m, 21, 6), 16, 10) as bigint) % 248 as p3")
      .as[(Long, Long, Long, Long, Long)]
    val deduped = hashed.groupByKey(_._1)
      .transformWithState(new BloomDedupProcessor,
        TimeMode.None(), OutputMode.Append())
    val q = deduped.toDF("user_id").writeStream.format("memory")
      .queryName("t_bloom_dedup").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("t_bloom_dedup")
      .select(col("user_id")).collect().map(_.getLong(0)).toSeq
    val distinctUsers = Tables(spark, sf, "events")
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    // no false negatives: a user can never be emitted twice
    assert(emitted.size == emitted.toSet.size,
      "a repeated user slipped past the bloom")
    // at this load (~tens of users over 16x248 bits) no block's bits
    // cover another user's triple, so nothing is falsely suppressed
    // either: the emitted set IS the distinct-user set
    assert(emitted.toSet == distinctUsers,
      s"emitted ${emitted.size} vs ${distinctUsers.size} distinct users")
    }
  }

  test("parquet file sink + checkpoint: restarts are exactly-once") {
    val in = Files.createTempDirectory("eo_in").toFile
    val out = Files.createTempDirectory("eo_out").toFile
    val chk = Files.createTempDirectory("eo_chk").toFile
    Seq(in, out, chk).foreach(_.deleteOnExit())
    def addFile(name: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      new java.io.File(in, name).toPath)
    addFile("one.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$in/one.parquet").schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in.getAbsolutePath)
        .select(col("event_id"))
        .writeStream.format("parquet")
        .option("path", out.getAbsolutePath)
        .option("checkpointLocation", chk.getAbsolutePath)
        .start()
      q.processAllAvailable(); q.stop()
    }
    val n = spark.read.parquet(s"$sf/events.parquet").count()
    runOnce()
    assert(spark.read.parquet(out.getAbsolutePath).count() == n)
    // restart with one NEW file: only the new file is processed
    addFile("two.parquet")
    runOnce()
    assert(spark.read.parquet(out.getAbsolutePath).count() == 2 * n)
    // restart with nothing new: checkpoint prevents any reprocessing
    runOnce()
    assert(spark.read.parquet(out.getAbsolutePath).count() == 2 * n)
  }

  test("foreachBatch fans one stream out to two sinks (streaming multi-insert)") {
    val out1 = Files.createTempDirectory("fb_clicks").toFile
    val out2 = Files.createTempDirectory("fb_buys").toFile
    Seq(out1, out2).foreach(_.deleteOnExit())
    val q = streamedEvents.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // one scanned micro-batch feeding N sinks — the streaming shape
        // of Hive's FROM t INSERT OVERWRITE t1 ... INSERT OVERWRITE t2
        val cached = df.persist()
        try {
          cached.filter(col("event_type") === "click")
            .write.mode("append").parquet(out1.getAbsolutePath)
          cached.filter(col("event_type") === "purchase")
            .write.mode("append").parquet(out2.getAbsolutePath)
        } finally { cached.unpersist(); () }
      }
      .start()
    q.processAllAvailable(); q.stop()
    val ev = Tables(spark, sf, "events")
    assert(spark.read.parquet(out1.getAbsolutePath).count() ==
      ev.filter(col("event_type") === "click").count())
    assert(spark.read.parquet(out2.getAbsolutePath).count() ==
      ev.filter(col("event_type") === "purchase").count())
  }

  test("foreachBatch maintains an MV incrementally across micro-batches") {
    // streaming incremental view maintenance: each micro-batch appends
    // its PARTIAL aggregates as an MV delta partition; reading the MV
    // rolls the deltas up. At 100 TB this is the standard streaming-
    // warehouse shape (append-only delta MV + rollup-on-read /
    // compaction): per batch the write is O(batch's group keys), never
    // a rewrite of the MV, and the rollup stays partial-aggregable.
    val multi = Files.createTempDirectory("mv_replay").toFile
    multi.deleteOnExit()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$replayDir/events.parquet")
      .repartition(4) // 4 files -> 4 micro-batches with maxFilesPerTrigger=1
      .write.mode("overwrite").parquet(multi.getAbsolutePath)
    val mvDir = Files.createTempDirectory("mv_deltas").toFile
    mvDir.deleteOnExit()
    val rawSchema = spark.read.parquet(s"$replayDir/events.parquet").schema
    var batches = 0
    val q = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(multi.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("d_cnt"),
            sum(dec(col("value"))).as("d_sum")) // exact decimal partials:
          // float partial sums would not re-associate bit-identically
          .write.mode("append").parquet(mvDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    // rollup-on-read of the deltas == direct batch aggregate
    val got = spark.read.parquet(mvDir.getAbsolutePath)
      .groupBy(col("event_type"))
      .agg(sum(col("d_cnt")).as("cnt"),
        sum(col("d_sum")).cast("double").as("sum_value"))
      .orderBy(col("event_type")).collect().toSeq
    val want = spark.read.parquet(multi.getAbsolutePath)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("event_type")).collect().toSeq
    assert(got == want)
  }

  test("streaming IVF delta-merge (foreachBatch) == batch cell state") {
    // The index-maintenance family's streaming twin (q_sim_ivf_delta's
    // shape as a live ingest): vector micro-batches assign to the
    // FROZEN coarse quantizer map-side and append (cid, n, idsum)
    // partials; rollup-on-read equals the batch assignment over the
    // full corpus — the same append-only-delta + rollup discipline as
    // the streaming MV test, applied to ANN posting state. Exact
    // integer micro-quantized cosine, so stream == batch bit-for-bit.
    GraftSession.install(spark)
    val srcDir = Files.createTempDirectory("ivf_stream").toFile
    srcDir.deleteOnExit()
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val stateDir = Files.createTempDirectory("ivf_state").toFile
    stateDir.deleteOnExit()
    def quantize(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), expr(
        """transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
        .as("q"))
      .withColumn("n2", call_function("dotq", col("q"), col("q")))
    def assign(vecs: org.apache.spark.sql.DataFrame,
        cents: org.apache.spark.sql.DataFrame) = vecs
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (call_function("dotq", col("q"), col("cq")).cast("double") /
          (sqrt(col("n2").cast("double")) *
            sqrt(col("cn2").cast("double")))).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))
    // the frozen quantizer is a stored artifact: built ONCE from the
    // static corpus, captured by the foreachBatch closure
    val full = quantize(spark.read.parquet(srcDir.getAbsolutePath))
    val cents = full.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("n2").as("cn2"))
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        assign(quantize(df), cents)
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("d_n"), sum(col("vec_id")).as("d_idsum"))
          .write.mode("append").parquet(stateDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val got = spark.read.parquet(stateDir.getAbsolutePath)
      .groupBy(col("cid"))
      .agg(sum(col("d_n")).as("n"), sum(col("d_idsum")).as("idsum"))
      .orderBy(col("cid")).collect().toSeq
    val want = assign(full, cents)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("idsum"))
      .orderBy(col("cid")).collect().toSeq
    assert(got.nonEmpty && got == want,
      s"streamed cell state diverges: ${got.take(3)} vs ${want.take(3)}")
  }

  test("streaming substring-dup ingest (foreachBatch) == batch profile") {
    // q_dedup_substring's shape as a live ingest: document
    // micro-batches append their 8-token gram POSTINGS (doc_id, pos,
    // 60-bit hash) — the inverted index as an append-only stored
    // artifact; rollup-on-read (occurrences ≥ 2 → per-doc interval
    // union) equals the batch profile over the full corpus
    // bit-for-bit. The postings write is per-batch map-side work —
    // the same append-only-delta + rollup discipline as the IVF twin
    // above, applied to exact-substring dedup state.
    import org.apache.spark.sql.expressions.Window
    val srcDir = Files.createTempDirectory("sub_stream").toFile
    srcDir.deleteOnExit()
    Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val postDir = Files.createTempDirectory("sub_postings").toFile
    postDir.deleteOnExit()
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 7),
            i -> struct(CAST(i AS BIGINT) AS pos,
                        CAST(conv(substring(md5(concat_ws(' ',
                          slice(t, i, 8))), 1, 15), 16, 10) AS BIGINT)
                          AS h))""")).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.h").as("h"))
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        grams(df).write.mode("append").parquet(postDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val post = spark.read.parquet(postDir.getAbsolutePath)
    val dup = post.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cov = post.join(dup, Seq("h"), "left_semi")
      .withColumn("nxt", lead(col("pos"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(sum(least(lit(8L),
        coalesce(col("nxt") - col("pos"), lit(8L)))).as("dup"))
    val got = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_permille", expr("dup_tokens * 1000 div n_tokens"))
      .orderBy(col("doc_id")).collect().toSeq
    val want = try
        SparkEntry.queries("q_dedup_substring")(spark, sf)
          .collect().toSeq
      finally CacheScope.release()
    assert(got.nonEmpty && got == want,
      s"streamed substring profile diverges: ${got.take(3)} vs ${want.take(3)}")
  }

  test("streaming soft-dedup ingest (foreachBatch) == batch weights") {
    // q_mix_softdedup's shape as a live ingest: micro-batches append
    // their (source, fp, ntok) FINGERPRINT rows — per-batch map-side
    // work only, no cross-batch state — and rollup-on-read (cluster
    // sizes over the full appended log → inverse-size weights) equals
    // the batch mixture table bit-for-bit. Same append-only-delta +
    // rollup discipline as the substring twin above: the expensive
    // global state (cluster sizes) is never maintained incrementally,
    // it is a query over the cheap appended artifact.
    val srcDir = Files.createTempDirectory("sd_stream").toFile
    srcDir.deleteOnExit()
    Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val fpDir = Files.createTempDirectory("sd_fps").toFile
    fpDir.deleteOnExit()
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        df.select(col("source"), md5(col("text")).as("fp"),
            size(split(col("text"), " ")).cast("long").as("ntok"))
          .write.mode("append").parquet(fpDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val log = spark.read.parquet(fpDir.getAbsolutePath)
    val cl = log.groupBy(col("fp")).agg(count(lit(1)).as("copies"))
    val got = log.join(cl, Seq("fp"))
      .withColumn("w_micro", expr("1000000 div copies"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("copies") > 1, 1L).otherwise(0L)).as("dup_docs"),
        sum(col("ntok")).as("raw_tokens"),
        expr("""CAST(sum(CAST(ntok * w_micro AS DECIMAL(38, 0)))
                DIV 1000 AS BIGINT)""").as("eff_tokens_milli"))
      .orderBy(col("source")).collect().toSeq
    val want = try
        SparkEntry.queries("q_mix_softdedup")(spark, sf)
          .collect().toSeq
      finally CacheScope.release()
    assert(got.nonEmpty && got == want,
      s"streamed soft-dedup weights diverge: ${got.take(3)} vs ${want.take(3)}")
  }

  test("streaming cc-delta ingest (foreachBatch) == batch merge report") {
    // q_dedup_cc_delta's shape as a live ingest: edge micro-batches
    // append their (da, db) near-dup pairs — per-batch map-side work,
    // no cross-batch state — and rollup-on-read runs the contraction
    // merge over the full appended edge log, equal to the batch
    // report bit-for-bit. The standing base components are computed
    // from the log's base slice at read time, the same
    // append-only-delta + rollup discipline as the soft-dedup twin.
    val srcDir = Files.createTempDirectory("cc_stream").toFile
    srcDir.deleteOnExit()
    ops.Dedup.jaccardPairs(spark, sf).select(col("da"), col("db"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    CacheScope.release()
    val edgeDir = Files.createTempDirectory("cc_edges").toFile
    edgeDir.deleteOnExit()
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        df.write.mode("append").parquet(edgeDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val log = spark.read.parquet(edgeDir.getAbsolutePath)
    val got = try ops.CorpusOps48.ccDeltaFrom(log, _ % 10 === 0)
        .collect().toSeq
      finally CacheScope.release()
    val want = try
        SparkEntry.queries("q_dedup_cc_delta")(spark, sf)
          .collect().toSeq
      finally CacheScope.release()
    assert(got.nonEmpty && got == want,
      s"streamed cc-delta report diverges: ${got.take(3)} vs ${want.take(3)}")
  }

  test("streaming kmeans centroid partials (foreachBatch) == batch census") {
    // q_sim_kmeans_train's first rounds as a live ingest (VERDICT r15
    // item 6): vector micro-batches assign to the STANDING seed
    // quantizer and append (a) the narrow (vec_id, cid) assignment
    // and (b) per-cell per-component partial sums/counts — the
    // append-only centroid state. Rollup-on-read merges the partials
    // into EXACT integer component sums (order-invariant), so the
    // floored-mean round-1 centroids — and the round-0/round-1 census
    // built from them — equal the batch Lloyd loop bit-for-bit.
    val srcDir = Files.createTempDirectory("km_stream").toFile
    srcDir.deleteOnExit()
    GraftSession.install(spark)
    def quant(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), expr(
        """transform(embedding, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
        .as("q"))
      .withColumn("n2", call_function("dotq", col("q"), col("q")))
    Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    // the standing quantizer: the 16 lowest-id seed centroids, frozen
    // before the stream starts (the IVF-delta twin's convention)
    val centsDf = quant(spark.read.parquet(srcDir.getAbsolutePath)
      .filter(col("vec_id") < 16))
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("n2").as("cn2"))
      .filter(col("cn2") > 0)
    def assign(vecs: org.apache.spark.sql.DataFrame) = vecs
      .crossJoin(broadcast(centsDf))
      .select(col("vec_id"), col("q"), col("cid"),
        (call_function("dotq", col("q"), col("cq")).cast("double") /
          (sqrt(col("n2").cast("double")) *
            sqrt(col("cn2").cast("double")))).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid")))
        .as("cid"), first(col("q")).as("q"))
    val asgDir = Files.createTempDirectory("km_asg").toFile
    asgDir.deleteOnExit()
    val partDir = Files.createTempDirectory("km_part").toFile
    partDir.deleteOnExit()
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        val a = assign(quant(df))
        a.select(col("vec_id"), col("cid"))
          .write.mode("append").parquet(asgDir.getAbsolutePath)
        a.select(col("cid"), posexplode(col("q")))
          .groupBy(col("cid"), col("pos"))
          .agg(sum(col("col")).as("sm"), count(lit(1)).as("cnt"))
          .write.mode("append").parquet(partDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    // rollup-on-read: merge partials -> exact floored-mean centroids
    val asg0 = spark.read.parquet(asgDir.getAbsolutePath)
    val c1 = spark.read.parquet(partDir.getAbsolutePath)
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("sm")).as("sm"), sum(col("cnt")).as("cnt"))
      .withColumn("cv", expr("(sm - pmod(sm, cnt)) div cnt"))
      .groupBy(col("cid"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, cv))), x -> x.cv)")
        .as("cq"))
      .withColumn("cn2", call_function("dotq", col("cq"), col("cq")))
      .filter(col("cn2") > 0)
    val corpus = quant(spark.read.parquet(srcDir.getAbsolutePath))
    val asg1 = corpus.crossJoin(broadcast(c1))
      .select(col("vec_id"), col("cid"),
        (call_function("dotq", col("q"), col("cq")).cast("double") /
          (sqrt(col("n2").cast("double")) *
            sqrt(col("cn2").cast("double")))).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))
    def census(r: Int, a: org.apache.spark.sql.DataFrame,
        base: org.apache.spark.sql.DataFrame) = a
      .join(base.select(col("vec_id"), col("cid").as("pcid")), "vec_id")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cid") =!= col("pcid"), 1L).otherwise(0L))
          .as("moved"),
        min(col("vec_id")).as("min_vec"))
      .select(lit(r.toLong).as("round"), col("cid"), col("n"),
        col("moved"), col("min_vec"))
    val got = census(0, asg0, asg0).unionAll(census(1, asg1, asg0))
      .orderBy(col("round"), col("cid")).collect().toSeq
    val want = try
        SparkEntry.queries("q_sim_kmeans_train")(spark, sf)
          .filter(col("round") <= 1).collect().toSeq
      finally CacheScope.release()
    assert(got.nonEmpty && got == want,
      s"streamed kmeans census diverges: ${got.take(3)} vs ${want.take(3)}")
  }

  test("streaming NB token partials (foreachBatch) == batch confusion") {
    // q_quality_nb_train's training half as a live ingest: document
    // micro-batches append their TRAIN-split per-token (cp, cn)
    // count partials — the classifier's sufficient statistics as an
    // append-only artifact; rollup-on-read merges them into the exact
    // λ table (integer sums, order-invariant) and scores the standing
    // eval split, equal to the batch confusion bit-for-bit. The same
    // append-only-delta + rollup discipline as the centroid twin,
    // applied to model TRAINING state.
    val srcDir = Files.createTempDirectory("nb_stream").toFile
    srcDir.deleteOnExit()
    ops.CorpusOps46.gopherFlagged(
      Tables(spark, sf, "documents")
        .select(col("doc_id"), col("source"), col("text")),
      Seq("doc_id", "source", "text"))
      .select(col("doc_id"), col("source"), col("text"),
        col("r_all").as("label"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val partDir = Files.createTempDirectory("nb_parts").toFile
    partDir.deleteOnExit()
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        df.filter(col("doc_id") % 2 === 0)
          .select(col("label"),
            explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("tok"))
          .agg(sum(col("label")).as("cp"),
            sum(lit(1L) - col("label")).as("cn"))
          .write.mode("append").parquet(partDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    // rollup-on-read: merged partials ARE the batch trainer's token
    // table — feed them through the shared scorer via the facade path
    // by reconstructing the flags frame and swapping no code: the
    // merged (tok, cp, cn) must equal the batch table exactly, and
    // the downstream confusion follows from it
    val merged = spark.read.parquet(partDir.getAbsolutePath)
      .groupBy(col("tok"))
      .agg(sum(col("cp")).as("cp"), sum(col("cn")).as("cn"))
      .orderBy(col("tok")).collect().toSeq
    val flags = ops.CorpusOps46.gopherFlagged(
      Tables(spark, sf, "documents")
        .select(col("doc_id"), col("source"), col("text")),
      Seq("doc_id", "source", "text"))
      .filter(col("doc_id") % 2 === 0)
      .select(col("r_all").as("label"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(col("label")).as("cp"),
        sum(lit(1L) - col("label")).as("cn"))
      .orderBy(col("tok")).collect().toSeq
    assert(merged.nonEmpty && merged == flags,
      s"streamed NB partials diverge: ${merged.take(3)} vs ${flags.take(3)}")
  }

  test("dropDuplicatesWithinWatermark dedups inside the watermark horizon") {
    val df = streamedEvents
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"))
    val q = df.writeStream.format("memory").queryName("t_ddww")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("t_ddww").count()
    val distinctIds = Tables(spark, sf, "events")
      .select(countDistinct(col("event_id"))).collect().head.getLong(0)
    assert(emitted == distinctIds)
  }

  test("streaming latest-wins CDC state == batch q_cdc_compact") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // time-sliced micro-batches: the latest-wins state (version + payload
    // + change count) must genuinely carry across batch boundaries — an
    // early-batch upsert must survive, and a late-batch tombstone must
    // kill a key that looked live after batch 1
    val dir = Files.createTempDirectory("cdc_replay").toFile
    dir.deleteOnExit()
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
    for ((lo, hi, i) <- Seq(("2024-01-01", "2024-01-11", 1),
        ("2024-01-11", "2024-01-21", 2), ("2024-01-21", "2024-02-01", 3))) {
      ev.filter(col("ts_us") >= unix_micros(lit(lo).cast("timestamp")) &&
          col("ts_us") < unix_micros(lit(hi).cast("timestamp")))
        .coalesce(1).write.parquet(s"$dir/b$i")
      Thread.sleep(1100)
    }
    // state: (version ts_us, version event_id, n_changes, last type, value)
    val compacted = spark.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/b*")
      .as[(Long, Long, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String, Double)],
         st: GroupState[(Long, Long, Long, String, Double)]) =>
          var s = st.getOption.getOrElse((Long.MinValue, Long.MinValue,
            0L, "", 0.0))
          rows.foreach { case (_, eid, ts, typ, v) =>
            val newer = ts > s._1 || (ts == s._1 && eid > s._2)
            s = (if (newer) ts else s._1, if (newer) eid else s._2,
              s._3 + 1, if (newer) typ else s._4, if (newer) v else s._5)
          }
          st.update(s)
          Iterator.single((uid, s._1, s._2, s._3, s._4, s._5))
      }.toDF("user_id", "ts_us", "event_id", "n_changes",
        "last_event_type", "last_value")
    val q = compacted.writeStream.format("memory").queryName("t_cdc")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    // update mode emits one state row per key per touching batch; the
    // FINAL state per key is the row with the highest change count
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_changes").desc)
    val streamed = spark.table("t_cdc")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("last_event_type") =!= "error") // tombstone keys drop
      .select(col("user_id"), col("n_changes"), col("last_event_type"),
        col("last_value"))
      .orderBy(col("user_id")).collect().toSeq
    val batch = ops.CorpusOps11.qCdcCompact(spark, sf)
      .select(col("user_id"), col("n_changes"), col("last_event_type"),
        col("last_value"))
      .orderBy(col("user_id")).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} live keys != batch ${batch.size}")
  }

  test("watermarked streaming dedup emits each event_id once") {
    val deduped = {
      val df = streamedEvents
        .withWatermark("ts", "10 minutes")
        .dropDuplicates("event_id")
        .groupBy().agg(count(lit(1)).as("n"))
      val q = df.writeStream.format("memory").queryName("t_dedup")
        .outputMode("complete").start()
      q.processAllAvailable(); q.stop()
      spark.table("t_dedup").collect().head.getLong(0)
    }
    val distinctIds = Tables(spark, sf, "events")
      .select(countDistinct(col("event_id"))).collect().head.getLong(0)
    assert(deduped == distinctIds)
  }

  test("streaming CEP state machine == batch q_event_pattern regex count") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // The batch operator counts non-overlapping v[^p]*p matches with a
    // regex over the materialized per-user string; the STREAMING twin
    // is the equivalent 2-state machine (pending-view → purchase
    // consumes) running incrementally in flatMapGroupsWithState — the
    // state must survive micro-batch boundaries, so replay in three
    // ts-sliced files like the sessionization twin.
    val dir = Files.createTempDirectory("cep_replay").toFile
    dir.deleteOnExit()
    val ev = Tables(spark, sf, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
    for ((lo, hi, i) <- Seq(("2024-01-01", "2024-01-11", 1),
        ("2024-01-11", "2024-01-21", 2), ("2024-01-21", "2024-02-01", 3))) {
      ev.filter(col("ts_us") >= unix_micros(lit(lo).cast("timestamp")) &&
          col("ts_us") < unix_micros(lit(hi).cast("timestamp")))
        .coalesce(1).write.parquet(s"$dir/b$i")
      Thread.sleep(1100)
    }
    val matched = spark.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/b*")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        // state: (pendingView, conversionsSoFar)
        (uid: Long, rows: Iterator[(Long, Long, Long, String)],
         st: GroupState[(Boolean, Long)]) =>
          var (pending, conv) = st.getOption.getOrElse((false, 0L))
          for ((_, _, _, et) <- rows.toSeq.sortBy(r => (r._3, r._2))) {
            if (et == "view") pending = true
            else if (pending) { conv += 1; pending = false }
          }
          st.update((pending, conv))
          Iterator.single((uid, conv))
      }.toDF("user_id", "conv")
    val q = matched.writeStream.format("memory").queryName("t_cep")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_cep")
      .groupBy(col("user_id")).agg(max(col("conv")).as("n_conversions"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = ops.CorpusOps12.qEventPattern(spark, sf)
      .select(col("user_id"), col("n_conversions").cast("long"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"stream ${streamed.take(3)} != batch ${batch.take(3)}")
  }

  test("streaming TWAP intervals (fMGWS last-event state) == batch q_ts_twap") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // The stateful part of a streaming TWAP is carrying each user's
    // LAST (ts, value) across micro-batch boundaries so the holding
    // interval closes when the next event arrives — O(1) state per
    // key. Replay in 3 time slices so that carry is genuinely tested;
    // the final Σv·Δt/ΣΔt runs the batch operator's own DECIMAL(38,0)
    // aggregation over the streamed interval rows.
    val dir = Files.createTempDirectory("twap_replay").toFile
    dir.deleteOnExit()
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 1e6).cast("long").as("vm"))
    for ((lo, hi, i) <- Seq(("2024-01-01", "2024-01-11", 1),
        ("2024-01-11", "2024-01-21", 2), ("2024-01-21", "2024-02-01", 3))) {
      ev.filter(col("ts_us") >= unix_micros(lit(lo).cast("timestamp")) &&
          col("ts_us") < unix_micros(lit(hi).cast("timestamp")))
        .coalesce(1).write.parquet(s"$dir/b$i")
      Thread.sleep(1100)
    }
    val intervals = spark.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/b*")
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        // state: (last ts_us, last vm) — each arriving event closes
        // the previous event's holding interval
        (uid: Long, rows: Iterator[(Long, Long, Long, Long)],
         st: GroupState[(Long, Long)]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var prev = st.getOption
          val out = sorted.flatMap { case (_, _, ts, vm) =>
            val iv = prev.map { case (pts, pvm) => (uid, pvm, ts - pts) }
            prev = Some((ts, vm))
            iv
          }
          prev.foreach(st.update)
          out.iterator
      }.toDF("user_id", "vm", "dt_us")
    val q = intervals.writeStream.format("memory").queryName("t_twap")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_twap")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt_us")).as("span_us"),
        sum(expr("CAST(vm AS DECIMAL(38, 0)) * dt_us")).as("vdt"))
      .select(col("user_id"), col("n_intervals"), col("span_us"),
        expr("CAST(vdt div span_us AS BIGINT)").as("twap_micro"))
      .orderBy(col("user_id")).collect().toSeq
    val batch = ops.CorpusOps29.qTsTwap(spark, sf).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} users != batch ${batch.size}")
  }

  test("streaming AS-OF temporal join (fMGWS latest-state) == batch q_join_asof") {
    // the streaming twin of the as-of family: a click stream enriched
    // with the latest purchase-at-or-before per user, state = ONE
    // (ts, pid) pair per user (the Flink temporal-join shape). Three
    // ts-ranged replay files force the latest-purchase state to carry
    // across micro-batch boundaries.
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val dir = Files.createTempDirectory("asof_replay").toFile
    dir.deleteOnExit()
    val ev = Tables(spark, sf, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        (col("event_type") === "purchase").cast("int").as("is_r"),
        col("event_id"))
    for ((lo, hi, i) <- Seq(("2024-01-01", "2024-01-11", 1),
        ("2024-01-11", "2024-01-21", 2), ("2024-01-21", "2024-02-01", 3))) {
      ev.filter(col("ts_us") >= unix_micros(lit(lo).cast("timestamp")) &&
          col("ts_us") < unix_micros(lit(hi).cast("timestamp")))
        .coalesce(1).write.parquet(s"$dir/b$i")
      Thread.sleep(1100)
    }
    val joined = spark.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/b*")
      .as[(Long, Long, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        // state: latest purchase (ts_us, pid) at-or-before the cursor
        (uid: Long, rows: Iterator[(Long, Long, Int, Long)],
         st: GroupState[(Long, Long)]) =>
          // same within-ts tie rule as the batch window (purchases
          // sort before clicks on equal ts => inclusive <=)
          val sorted = rows.toSeq.sortBy(r => (r._2, -r._3, r._4))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Option[Long])]
          for ((_, ts, isR, id) <- sorted) {
            if (isR == 1) st.update((ts, id))
            else out += ((uid, id, st.getOption.map(_._2)))
          }
          out.iterator
      }
      .toDF("user_id", "click_id", "asof_pid")
    val q = joined.writeStream.format("memory").queryName("t_asof")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_asof")
      .orderBy(col("user_id"), col("click_id")).collect().toSeq
    val batch = SparkEntry.queries("q_join_asof")(spark, sf)
      .select(col("user_id"), col("click_id"), col("asof_pid"))
      .orderBy(col("user_id"), col("click_id")).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} != batch ${batch.size}")
  }

  test("streaming Misra-Gries heavy hitters: bounded state, MG guarantee") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // Bounded-state heavy hitters across micro-batches: each of 8
    // user-id shards keeps a Misra-Gries(k=32) summary (Misra & Gries
    // 1982) PLUS its total decrement count D, carried by
    // mapGroupsWithState. The MG theorem gives per-shard
    //   0 <= true(u) - est(u) <= D  (est(u)=0 for evicted users) and
    //   D <= N_shard/(k+1),
    // asserted here against exact per-shard batch counts — the sketch
    // analogue of the stream==batch twins, with the provable bound as
    // the equality.
    val k = 32
    val dir = Files.createTempDirectory("mg_replay").toFile
    dir.deleteOnExit()
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
    for ((lo, hi, i) <- Seq(("2024-01-01", "2024-01-11", 1),
        ("2024-01-11", "2024-01-21", 2), ("2024-01-21", "2024-02-01", 3))) {
      ev.filter(col("ts_us") >= unix_micros(lit(lo).cast("timestamp")) &&
          col("ts_us") < unix_micros(lit(hi).cast("timestamp")))
        .coalesce(1).write.parquet(s"$dir/b$i")
      Thread.sleep(1100)
    }
    val sketches = spark.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/b*")
      .as[(Long, Long)]
      .groupByKey(_._1 % 8)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[(Long, Long)],
         st: GroupState[(Map[Long, Long], Long, Long)]) =>
          var (m, d, batch) = st.getOption.getOrElse(
            (Map.empty[Long, Long], 0L, 0L))
          rows.foreach { case (uid, _) =>
            if (m.contains(uid)) m = m.updated(uid, m(uid) + 1)
            else if (m.size < k) m = m.updated(uid, 1L)
            else { // decrement-all step: one unit off every counter
              d += 1
              m = m.map { case (u, c) => u -> (c - 1) }
                .filter(_._2 > 0)
            }
          }
          st.update((m, d, batch + 1))
          (shard, batch + 1, d, m.toSeq)
      }.toDF("shard", "batch", "d", "entries")
    val q = sketches.writeStream.format("memory").queryName("t_mg")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    // keep each shard's LAST emission (the complete 3-batch sketch)
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("batch").desc)
    val fin = spark.table("t_mg")
      .withColumn("rk", row_number().over(wLast))
      .filter(col("rk") === 1).drop("rk")
      .collect()
    assert(fin.length == 8, s"shards: ${fin.length}")
    val truth = ev.groupBy((col("user_id") % 8).as("shard"), col("user_id"))
      .agg(count(lit(1)).as("n")).collect()
      .groupBy(_.getAs[Long]("shard"))
      .map { case (sh, rows) =>
        sh -> rows.map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n"))
          .toMap }
    fin.foreach { r =>
      val sh = r.getAs[Long]("shard")
      val d = r.getAs[Long]("d")
      val est = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("entries"))
        .map(e => e.getLong(0) -> e.getLong(1)).toMap
      val tr = truth(sh)
      val nShard = tr.values.sum
      assert(est.size <= k, s"state exceeded k: ${est.size}")
      assert(d <= nShard / (k + 1),
        s"decrements $d exceed N/(k+1)=${nShard / (k + 1)}")
      tr.foreach { case (u, n) =>
        val e = est.getOrElse(u, 0L)
        assert(e <= n && n - e <= d,
          s"MG bound violated for user $u: true $n est $e d $d")
        if (n > d) assert(est.contains(u),
          s"heavy hitter $u (true $n > d $d) evicted")
      }
    }
  }

  test("streaming NSW membership ingest (foreachBatch) == batch edge census") {
    // The r17 graph-ANN as a live ingest (the centroid-partials
    // twin's discipline applied to INDEX state): vector micro-batches
    // assign to the STANDING coarse quantizer (map-side vs frozen
    // centroids — batch boundaries cannot reorder it) and append ONLY
    // the narrow (vec_id, cid) membership log. Edges are a
    // deterministic function of cell membership, so the
    // rollup-on-read census over the accumulated log equals the batch
    // q_sim_nsw_delta census bit-for-bit — the append-only state IS
    // the index.
    val srcDir = Files.createTempDirectory("nsw_stream").toFile
    srcDir.deleteOnExit()
    GraftSession.install(spark)
    def quant(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), expr(
        """transform(embedding, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
        .as("q"))
      .withColumn("n2", call_function("dotq", col("q"), col("q")))
    Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val centsDf = quant(spark.read.parquet(srcDir.getAbsolutePath)
      .filter(col("vec_id") < 16))
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("n2").as("cn2"))
    val asgDir = Files.createTempDirectory("nsw_asg").toFile
    asgDir.deleteOnExit()
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        quant(df).crossJoin(broadcast(centsDf))
          .select(col("vec_id"), col("cid"),
            (call_function("dotq", col("q"), col("cq")).cast("double") /
              (sqrt(col("n2").cast("double")) *
                sqrt(col("cn2").cast("double")))).as("ccos"))
          .groupBy(col("vec_id"))
          .agg(max_by(col("cid"), struct(col("ccos"), -col("cid")))
            .as("cid"))
          .write.mode("append").parquet(asgDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    val asg = spark.read.parquet(asgDir.getAbsolutePath)
    val corpus = quant(spark.read.parquet(srcDir.getAbsolutePath))
    val got = try ops.CorpusOps57
        .censusFromMembership(corpus, asg, 16).collect().toSeq
      finally CacheScope.release()
    val want = try
        SparkEntry.queries("q_sim_nsw_delta")(spark, sf)
          .collect().toSeq
      finally CacheScope.release()
    assert(got.nonEmpty && got == want,
      s"streamed NSW census diverges: ${got.take(3)} vs ${want.take(3)}")
  }

  test("streaming rule-flag partials (foreachBatch) == batch attribution") {
    // r17 wave 61's attribution as a live monitor: every per-doc flag
    // (and hence a doc's fails / unique-fails contribution) is
    // map-side and doc-local, so each micro-batch appends its own
    // per-(source, rule) partial attribution table and rollup-on-read
    // (plain integer sums, order-invariant) equals the batch
    // q_quality_rule_attribution bit-for-bit — the standing "which
    // rule is doing the work" dashboard with no reprocessing.
    val srcDir = Files.createTempDirectory("attr_stream").toFile
    srcDir.deleteOnExit()
    Tables(spark, sf, "documents")
      .select(col("source"), col("text"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val partDir = Files.createTempDirectory("attr_parts").toFile
    partDir.deleteOnExit()
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        ops.CorpusOps60.ruleAttributionFrom(
          df.select(col("source").as("grp"), col("text")), "grp")
          .write.mode("append").parquet(partDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    val got = spark.read.parquet(partDir.getAbsolutePath)
      .groupBy(col("grp").as("source"), col("rule"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("fails")).as("fails"),
        sum(col("unique_fails")).as("unique_fails"))
      .select(col("source"), col("rule"), col("n_docs"), col("fails"),
        col("unique_fails"))
      .orderBy(col("source"), col("rule")).collect().toSeq
    val want = try
        SparkEntry.queries("q_quality_rule_attribution")(spark, sf)
          .collect().toSeq
      finally CacheScope.release()
    assert(got.nonEmpty && got.map(_.toSeq) == want.map(_.toSeq),
      s"streamed attribution diverges: ${got.take(3)} vs ${want.take(3)}")
  }

  test("streaming langid class-count partials (foreachBatch) == batch table") {
    // the multi-class NB twin of the binary token-partials twin:
    // micro-batches append their TRAIN-split (tok, cls) count
    // partials — the K-class classifier's sufficient statistics as
    // an append-only artifact; rollup-on-read (integer sums,
    // order-invariant) equals the batch trainer's (token, class)
    // table exactly, and the confusion matrix follows from it.
    val srcDir = Files.createTempDirectory("langid_stream").toFile
    srcDir.deleteOnExit()
    Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val partDir = Files.createTempDirectory("langid_parts").toFile
    partDir.deleteOnExit()
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        df.filter(col("doc_id") % 2 === 0)
          .select(col("lang").as("cls"),
            explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("tok"), col("cls"))
          .agg(count(lit(1)).as("ctc"))
          .write.mode("append").parquet(partDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    val merged = spark.read.parquet(partDir.getAbsolutePath)
      .groupBy(col("tok"), col("cls"))
      .agg(sum(col("ctc")).as("ctc"))
      .orderBy(col("tok"), col("cls")).collect().toSeq
    val batch = Tables(spark, sf, "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(col("lang").as("cls"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"), col("cls"))
      .agg(count(lit(1)).as("ctc"))
      .orderBy(col("tok"), col("cls")).collect().toSeq
    assert(merged.nonEmpty && merged == batch,
      s"streamed langid partials diverge: ${merged.take(3)}")
  }

  test("streaming cell-drift occupancy partials (foreachBatch) == batch TV") {
    // the monitoring family's ingest twin (r17 w79): embedding
    // micro-batches assign to the STANDING 16-cell quantizer
    // (map-side vs frozen centroids — batch boundaries cannot
    // reorder an argmax) and append ONLY the additive (cid, ha, hb)
    // occupancy partials; rollup-on-read through the shared TV
    // readout equals the batch q_emb_cell_drift bit-for-bit. The
    // drift tripwire runs standing, with no vector ever reprocessed.
    val srcDir = Files.createTempDirectory("celldrift_stream").toFile
    srcDir.deleteOnExit()
    GraftSession.install(spark)
    val parity = expr(
      """pmod(CAST(conv(substring(md5(CAST(vec_id AS STRING)),
          1, 15), 16, 10) AS BIGINT), 2)""") === 0
    def quant(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), expr(
        """transform(embedding, x ->
            CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))""")
        .as("q"))
    Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val centsDf = ops.CorpusOps75.prepared(
        quant(spark.read.parquet(srcDir.getAbsolutePath)
          .filter(col("vec_id") < 16)), parity)
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("n2").as("cn2"))
    val partDir = Files.createTempDirectory("celldrift_parts").toFile
    partDir.deleteOnExit()
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        ops.CorpusOps75.cellPartials(
            ops.CorpusOps75.prepared(quant(df), parity), centsDf)
          .write.mode("append").parquet(partDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    val got = try ops.CorpusOps75.cellDriftReadout(
        spark.read.parquet(partDir.getAbsolutePath), centsDf)
        .collect().toSeq
      finally CacheScope.release()
    val want = try
        SparkEntry.queries("q_emb_cell_drift")(spark, sf)
          .collect().toSeq
      finally CacheScope.release()
    assert(got.nonEmpty && got.map(_.toSeq) == want.map(_.toSeq),
      s"streamed cell-drift partials diverge: ${got.take(3)}")
  }

  test("streaming chao1 token-count partials (foreachBatch) == batch") {
    // the vocabulary census as an append-only artifact: per-doc token
    // counts are doc-local, so micro-batches append (grp, tok, c)
    // partials and the readout re-sums per token BEFORE the f1/f2
    // census (a hapax in two different batches must read as a
    // doubleton) — rollup-on-read == the batch q_text_chao1
    // bit-for-bit. The unseen-mass planning readout runs standing.
    val srcDir = Files.createTempDirectory("chao1_stream").toFile
    srcDir.deleteOnExit()
    Tables(spark, sf, "documents")
      .select(col("source").as("grp"), col("text"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val partDir = Files.createTempDirectory("chao1_parts").toFile
    partDir.deleteOnExit()
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        ops.CorpusOps79.chao1Counts(df, "grp")
          .write.mode("append").parquet(partDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    val got = try ops.CorpusOps79.chao1Readout(
        spark.read.parquet(partDir.getAbsolutePath), "grp")
        .withColumnRenamed("grp", "source").collect().toSeq
      finally CacheScope.release()
    val want = try
        SparkEntry.queries("q_text_chao1")(spark, sf).collect().toSeq
      finally CacheScope.release()
    assert(got.nonEmpty && got.map(_.toSeq) == want.map(_.toSeq),
      s"streamed chao1 partials diverge: ${got.take(3)}")
  }

  test("streaming rouge gram partials (foreachBatch) == batch table") {
    // the eval family's ingest twin: per-doc word-gram counts are
    // doc-local (a document arrives whole in one micro-batch), so
    // each batch appends its (source, doc_id, n, gram, c) partial
    // and rollup-on-read feeds the SHARED clip pipeline — equal to
    // the batch q_eval_rouge bit-for-bit. The candidate/reference
    // split needs no reprocessing when later batches arrive: the
    // lowest-doc_id reference is re-derived from the accumulated
    // census at read time.
    val srcDir = Files.createTempDirectory("rouge_stream").toFile
    srcDir.deleteOnExit()
    Tables(spark, sf, "documents")
      .select(col("source").as("grp"), col("doc_id"), col("text"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val partDir = Files.createTempDirectory("rouge_parts").toFile
    partDir.deleteOnExit()
    var batches = 0
    val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        ops.CorpusOps61.wordGrams(df, "grp")
          .groupBy(col("grp"), col("doc_id"), col("n"), col("gram"))
          .agg(count(lit(1)).as("c"))
          .write.mode("append").parquet(partDir.getAbsolutePath)
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    val census = spark.read.parquet(srcDir.getAbsolutePath)
      .select(col("grp"), col("doc_id"))
    val got = try ops.CorpusOps61.rougeReadout(
        ops.CorpusOps61.clipStats(
          spark.read.parquet(partDir.getAbsolutePath), census, "grp", 2),
        "grp").collect().toSeq
      finally CacheScope.release()
    val want = try
        SparkEntry.queries("q_eval_rouge")(spark, sf).collect().toSeq
      finally CacheScope.release()
    assert(got.nonEmpty && got.map(_.toSeq) == want.map(_.toSeq),
      s"streamed rouge partials diverge: ${got.take(3)}")
  }
}
