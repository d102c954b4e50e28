package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Tables

/** Deterministic micro-batch REPLAY of the streaming tier over the
  * static `events` fixture — the oracle gate for the Structured
  * Streaming operators. Each replay sorts the events by (ts, event_id),
  * feeds them through a `MemoryStream` in a fixed number of contiguous
  * micro-batches (`processAllAvailable` after each, so watermark
  * advancement per batch is reproducible), and returns the FINAL sink
  * table as a plain DataFrame for the driver's DuckDB hash-compare.
  * Watermark semantics are deterministic on a static ordered replay:
  * nothing ever arrives late, so no row is dropped, and state
  * eviction points depend only on the fixed batch boundaries.
  *
  * These replays are correctness harnesses for the streaming
  * OPERATORS, not a bulk-processing path: the driver-side sort/collect
  * feeding the MemoryStream is the test fixture's source, standing in
  * for Kafka/files; the operators under test are the same objects a
  * production `readStream` would compose.
  */
object StreamReplay {

  private val ctr = new java.util.concurrent.atomic.AtomicInteger()

  /** Run `body` with shuffle partitions pinned low: every stateful
    * operator instantiates one state store per shuffle partition per
    * micro-batch, so a replay over a fixture-sized stream pays 32×
    * store open/commit overhead per batch for no parallelism gain.
    * (A production stream sizes this to key cardinality instead.)
    * Restored afterwards so the shared session is unaffected.
    */
  private def withReplayConf[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "4")
    try body finally s.conf.set(key, prev)
  }

  /** One fixture event, typed for the MemoryStream. */
  case class REvent(ts: Timestamp, event_id: Long, user_id: Long,
                    event_type: String, value: Double)

  /** (user, UTC day) pair for the dedup replay — `LocalDate` so the
    * DateType encoding is field-based, independent of JVM timezone. */
  case class DayRow(ts: Timestamp, user_id: Long, day: java.time.LocalDate)

  private def sortedEvents(s: SparkSession, dir: String): Array[REvent] = {
    import s.implicits._
    Tables.events(s, dir)
      .select(col("ts"), col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("ts", "event_id")
      .as[REvent].collect()
  }

  private def feed[A](in: MemoryStream[A], q: StreamingQuery,
                      evs: Seq[A], nBatches: Int): Unit = {
    val per = math.max(1, math.ceil(evs.length.toDouble / nBatches).toInt)
    evs.grouped(per).foreach { b =>
      in.addData(b)
      q.processAllAvailable()
    }
  }

  /** Stop the query and hand back the sink's final contents, detached
    * from the (dropped) memory-sink view via an eager localCheckpoint.
    */
  private def finish(s: SparkSession, nm: String,
                     q: StreamingQuery): DataFrame = {
    val out = s.table(nm).localCheckpoint()
    q.stop()
    s.catalog.dropTempView(nm)
    out
  }

  /** W11 gate: watermarked hourly windowed agg, append mode. A sentinel
    * event 3 h past the last real event pushes the watermark past every
    * real window so append mode emits them all; the sentinel's own
    * window stays open and never appears.
    */
  def windowReplay(s: SparkSession, dir: String,
                   nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir)
    val in = MemoryStream[REvent]
    val nm = s"stream_win_${ctr.incrementAndGet()}"
    val q = StreamOps.windowedAgg(in.toDF(), "1 hour", "10 minutes")
      .select(unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("cnt"),
        round(col("sum_value"), 4).as("sum_value"))
      .writeStream.outputMode("append").format("memory").queryName(nm)
      .start()
    feed(in, q, evs.toSeq, nBatches)
    in.addData(REvent(
      new Timestamp(evs.last.ts.getTime + 3L * 3600 * 1000),
      -1L, -1L, "__flush__", 0.0))
    q.processAllAvailable()
    finish(s, nm, q).filter(col("event_type") =!= "__flush__")
  }

  /** W497 gate: the BUILT-IN `session_window` aggregation (native
    * dynamic-gap session windows), append mode. The flush sentinel 3 h
    * past the last event pushes the watermark past every real
    * session's close; the sentinel's own (user −1) session stays open
    * and is filtered. Surfaced bounds are exact epoch MICROS (the
    * engine merges at full timestamp precision, so the batch oracle
    * restates the strict >-gap boundary on epoch_us integers — a gap
    * of exactly 30 min still merges, the windows touch).
    */
  def sessionWindowReplay(s: SparkSession, dir: String,
                          nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir)
    val in = MemoryStream[REvent]
    val nm = s"stream_sesswin_${ctr.incrementAndGet()}"
    val q = StreamOps.sessionWindowNative(in.toDF())
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"))
      .writeStream.outputMode("append").format("memory").queryName(nm)
      .start()
    feed(in, q, evs.toSeq, nBatches)
    in.addData(REvent(
      new Timestamp(evs.last.ts.getTime + 3L * 3600 * 1000),
      -1L, -1L, "__flush__", 0.0))
    q.processAllAvailable()
    finish(s, nm, q).filter(col("user_id") =!= -1L)
      .orderBy("user_id", "start_us")
  }

  /** W17 gate: stateful gap sessionization. Sessions are emitted when
    * CLOSED by a later event; each user's final session is still open
    * at end-of-replay, so the batch restatement excludes each user's
    * last session.
    */
  def sessionReplay(s: SparkSession, dir: String,
                    nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir).map(e =>
      StreamOps.Event(e.user_id, e.event_id, e.ts.getTime / 1000, e.value))
    val in = MemoryStream[StreamOps.Event]
    val nm = s"stream_sess_${ctr.incrementAndGet()}"
    val q = StreamOps.sessionize(in.toDS(), gapSeconds = 1800)
      .writeStream.outputMode("append").format("memory").queryName(nm)
      .start()
    feed(in, q, evs.toSeq, nBatches)
    finish(s, nm, q)
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("start_epoch"), col("end_epoch"),
        round(col("sum_value"), 4).as("sum_value"))
  }

  /** W31 gate: streaming exact dedup on (user, day) — the row is
    * projected down to exactly the dedup key before the operator, so
    * the surviving row is identical whichever duplicate wins, and the
    * final sink equals `SELECT DISTINCT user_id, day`. The long
    * watermark delay keeps every key's state live across the whole
    * replay (eviction-free: the semantics under test are the state
    * plumbing, not the eviction cutoff).
    */
  def dedupReplay(s: SparkSession, dir: String,
                  nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir).map { e =>
      DayRow(e.ts, e.user_id,
        e.ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
    }
    val in = MemoryStream[DayRow]
    val nm = s"stream_dedup_${ctr.incrementAndGet()}"
    val q = StreamOps.dedupStream(in.toDF(), Seq("user_id", "day"),
        watermarkDelay = "3650 days")
      .select(col("user_id"), col("day"))
      .writeStream.outputMode("append").format("memory").queryName(nm)
      .start()
    feed(in, q, evs.toSeq, nBatches)
    finish(s, nm, q)
  }

  /** W95 gate: stream-stream interval join (clicks within the hour
    * before each purchase, per user). Both sides replay in lockstep
    * from the same global order; the long watermark keeps both join
    * buffers eviction-free, so the final sink equals the batch
    * interval join exactly.
    */
  def joinReplay(s: SparkSession, dir: String,
                 nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir)
    val lin = MemoryStream[REvent]
    val rin = MemoryStream[REvent]
    val nm = s"stream_join_${ctr.incrementAndGet()}"
    val joined = StreamOps.streamStreamJoin(
      lin.toDF().filter(col("event_type") === "click"),
      rin.toDF().filter(col("event_type") === "purchase"),
      windowSecs = 3600, watermarkDelay = "3650 days")
    val q = joined
      .select(col("user_id"), col("l_event_id"), col("r_event_id"),
        unix_timestamp(col("l_ts")).as("l_ep"),
        unix_timestamp(col("r_ts")).as("r_ep"))
      .writeStream.outputMode("append").format("memory").queryName(nm)
      .start()
    val per = math.max(1, math.ceil(evs.length.toDouble / nBatches).toInt)
    evs.grouped(per).foreach { b =>
      lin.addData(b.toSeq)
      rin.addData(b.toSeq)
      q.processAllAvailable()
    }
    finish(s, nm, q)
  }

  /** W31 gate: stream-static broadcast enrichment — every micro-batch
    * joins against a static dimension (per-type event counts, built
    * once from the same fixture), broadcast so the stream side never
    * shuffles. The final sink equals the batch join row-for-row.
    */
  def enrichReplay(s: SparkSession, dir: String,
                   nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir)
    val dim = Tables.events(s, dir)
      .groupBy("event_type").agg(count(lit(1)).as("type_count"))
    val in = MemoryStream[REvent]
    val nm = s"stream_enrich_${ctr.incrementAndGet()}"
    val q = StreamOps.enrichStream(in.toDF(), dim, "event_type")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("type_count"))
      .writeStream.outputMode("append").format("memory").queryName(nm)
      .start()
    feed(in, q, evs.toSeq, nBatches)
    finish(s, nm, q)
  }

  /** W109 gate: running per-user counters (`mapGroupsWithState`, Update
    * mode). The sink holds every per-batch update; the final state per
    * user is its row with the highest n_events (strictly monotone), and
    * must equal the plain batch GROUP BY.
    */
  def runningReplay(s: SparkSession, dir: String,
                    nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val evs = sortedEvents(s, dir).map(e =>
      StreamOps.Event(e.user_id, e.event_id, e.ts.getTime / 1000, e.value))
    val in = MemoryStream[StreamOps.Event]
    val nm = s"stream_run_${ctr.incrementAndGet()}"
    val q = StreamOps.runningCounts(in.toDS())
      .writeStream.outputMode("update").format("memory").queryName(nm)
      .start()
    feed(in, q, evs.toSeq, nBatches)
    finish(s, nm, q)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("n_events").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"),
        round(col("sum_value"), 4).as("sum_value"))
  }

  /** W506 gate: `transformWithState` distinct-type census (Update
    * mode). TWS runs only on the RocksDB state store provider — set
    * for this query, restored after (the rest of the board stays on
    * the default provider). Each user's FINAL census is its
    * max-n_events sink row (n_events strictly grows, so rn=1 is
    * unambiguous); batching only changes which intermediates appear.
    */
  def typeCensusReplay(s: SparkSession, dir: String,
                       nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider")
    try {
      val evs = sortedEvents(s, dir).map(e =>
        StreamOps.TypeUser(e.event_type, e.user_id))
      val in = MemoryStream[StreamOps.TypeUser]
      val nm = s"stream_tws_${ctr.incrementAndGet()}"
      val q = StreamOps.typeCensus(in.toDS())
        .writeStream.outputMode("update").format("memory").queryName(nm)
        .start()
      feed(in, q, evs.toSeq, nBatches)
      finish(s, nm, q)
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("n_events").desc)))
        .filter(col("rn") === 1)
        .select("user_id", "n_events", "n_types")
    } finally {
      prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  /** W507 gate: warm-started `transformWithState` census
    * (`StatefulProcessorWithInitialState`). The corpus splits at its
    * midpoint: the FIRST half becomes the batch-computed seed (the
    * backfill), the SECOND half streams in — the drained census must
    * equal the FULL-corpus batch census, proving the handoff loses
    * nothing. Users whose events all landed in the seed half never
    * appear in the sink (state persists silently without input);
    * their seed census IS their full census, appended via anti-join.
    */
  def typeCensusWarmReplay(s: SparkSession, dir: String,
                           nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider")
    try {
      val evs = sortedEvents(s, dir).map(e =>
        StreamOps.TypeUser(e.event_type, e.user_id))
      val (pre, live) = evs.splitAt(evs.length / 2)
      val seed = s.createDataset(pre.toIndexedSeq)
        .groupByKey(_.user_id)
        .mapGroups { (uid, it) =>
          val m = scala.collection.mutable.Map.empty[String, Long]
          var n = 0L
          it.foreach { e =>
            n += 1
            m.update(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
          }
          StreamOps.CensusSeed(uid, m.toMap, n)
        }
      val in = MemoryStream[StreamOps.TypeUser]
      val nm = s"stream_twsi_${ctr.incrementAndGet()}"
      val q = StreamOps.typeCensusWarmStart(in.toDS(), seed)
        .writeStream.outputMode("update").format("memory").queryName(nm)
        .start()
      feed(in, q, live.toSeq, nBatches)
      val last = finish(s, nm, q)
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("n_events").desc)))
        .filter(col("rn") === 1)
        .select("user_id", "n_events", "n_types")
      val seedOnly = seed.toDF()
        .join(last.select("user_id"), Seq("user_id"), "left_anti")
        .select(col("user_id"), col("total").as("n_events"),
          size(map_keys(col("type_counts"))).cast("long").as("n_types"))
      last.unionAll(seedOnly)
    } finally {
      prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  /** W508 gate: TIMER-based sessionization on transformWithState
    * (TimeMode.EventTime). Same session semantics and oracle as the
    * FMGS timeout variant; the flush sentinel pushes the watermark
    * past every armed alarm so the sink holds every session.
    */
  def timerSessionReplay(s: SparkSession, dir: String,
                         nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider")
    try {
      val evs = sortedEvents(s, dir).map(e =>
        StreamOps.TEvent(e.ts, e.user_id, e.event_id, e.value))
      val in = MemoryStream[StreamOps.TEvent]
      val nm = s"stream_twst_${ctr.incrementAndGet()}"
      val q = StreamOps.timerSessions(in.toDS(), gapSeconds = 1800)
        .writeStream.outputMode("append").format("memory").queryName(nm)
        .start()
      feed(in, q, evs.toSeq, nBatches)
      in.addData(StreamOps.TEvent(
        new Timestamp(evs.last.ts.getTime + 10L * 3600 * 1000),
        -1L, -1L, 0.0))
      q.processAllAvailable()
      finish(s, nm, q)
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("start_epoch"), col("end_epoch"),
          round(col("sum_value"), 4).as("sum_value"))
    } finally {
      prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  /** W511 gate: ListState consecutive-funnel detector. No watermark,
    * no sentinel — every hit emits in the batch that completes it.
    */
  def funnelReplay(s: SparkSession, dir: String,
                   nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider")
    try {
      val evs = sortedEvents(s, dir).map(e =>
        StreamOps.TypedEvent(e.ts, e.user_id, e.event_id, e.event_type))
      val in = MemoryStream[StreamOps.TypedEvent]
      val nm = s"stream_twsl_${ctr.incrementAndGet()}"
      val q = StreamOps.funnelHits(in.toDS())
        .writeStream.outputMode("append").format("memory").queryName(nm)
        .start()
      feed(in, q, evs.toSeq, nBatches)
      finish(s, nm, q)
        .select("user_id", "event_id", "ep")
    } finally {
      prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  /** Event-time TIMEOUT gate: sessions close when the WATERMARK
    * passes last-event + gap (`StreamOps.sessionizeEventTime`), so
    * after the flush sentinel pushes the watermark past every armed
    * timeout, the sink holds EVERY session — including each user's
    * final one, which the successor-closed replay above structurally
    * cannot emit. The oracle is therefore the full batch sessionize
    * restatement, no exclusions.
    */
  def timeoutSessionReplay(s: SparkSession, dir: String,
                           nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir).map(e =>
      StreamOps.TEvent(e.ts, e.user_id, e.event_id, e.value))
    val in = MemoryStream[StreamOps.TEvent]
    val nm = s"stream_tmo_${ctr.incrementAndGet()}"
    val q = StreamOps.sessionizeEventTime(in.toDS(), gapSeconds = 1800)
      .writeStream.outputMode("append").format("memory").queryName(nm)
      .start()
    feed(in, q, evs.toSeq, nBatches)
    // sentinel: one far-future event for a synthetic user drives the
    // watermark past every real session's (last + gap) timeout
    in.addData(StreamOps.TEvent(
      new Timestamp(evs.last.ts.getTime + 10L * 3600 * 1000),
      -1L, -1L, 0.0))
    q.processAllAvailable()
    finish(s, nm, q)
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("start_epoch"), col("end_epoch"),
        round(col("sum_value"), 4).as("sum_value"))
  }

  /** Late-data DROP gate — the watermark semantic none of the other
    * replays exercise (their replays are in-order, so nothing is ever
    * late). Every event with `event_id % stragglerMod == 0` is held
    * back and fed in one final batch AFTER the in-order main feed. By
    * then the watermark is `max(main ts) − delay` (Spark tracks event
    * time in milliseconds), so a straggler whose hour-window END ≤
    * watermark is dropped by the windowed aggregation's late-row
    * filter; stragglers inside the lateness allowance still count.
    * The DuckDB restatement computes the same cutoff arithmetically:
    * count windows over main ∪ {stragglers with window_end_ms > wm}.
    * A flush sentinel then pushes the watermark past every real
    * window so append mode emits them all.
    */
  def lateDataReplay(s: SparkSession, dir: String, nBatches: Int = 4,
                     stragglerMod: Long = 97): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val all = sortedEvents(s, dir)
    val (stragglers, main) =
      all.partition(_.event_id % stragglerMod == 0)
    val in = MemoryStream[REvent]
    val nm = s"stream_late_${ctr.incrementAndGet()}"
    val q = StreamOps.windowedAgg(in.toDF(), "1 hour", "30 minutes")
      .select(unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("cnt"))
      .writeStream.outputMode("append").format("memory").queryName(nm)
      .start()
    feed(in, q, main.toSeq, nBatches)
    in.addData(stragglers.toSeq) // one late batch against the final wm
    q.processAllAvailable()
    in.addData(REvent(
      new Timestamp(all.last.ts.getTime + 3L * 3600 * 1000),
      -1L, -1L, "__flush__", 0.0))
    q.processAllAvailable()
    finish(s, nm, q).filter(col("event_type") =!= "__flush__")
  }

  /** W264 gate: per-user token-bucket rate limiting. The drained
    * append-mode sink (events that PASSED the throttle, with tokens
    * remaining) equals the oracle's per-user recursive token-bucket
    * fold exactly — the state is pure integer arithmetic.
    */
  def rateLimitReplay(s: SparkSession, dir: String, nBatches: Int = 4,
                      capacity: Long = 2,
                      refillSecs: Long = 21600): DataFrame =
    withReplayConf(s) {
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val evs = sortedEvents(s, dir).map(e =>
        StreamOps.Event(e.user_id, e.event_id, e.ts.getTime / 1000,
          e.value))
      val in = MemoryStream[StreamOps.Event]
      val nm = s"stream_rl_${ctr.incrementAndGet()}"
      val q = StreamOps.rateLimit(in.toDS(), capacity, refillSecs)
        .writeStream.outputMode("append").format("memory")
        .queryName(nm).start()
      feed(in, q, evs.toSeq, nBatches)
      finish(s, nm, q).orderBy("user_id", "ep", "event_id")
    }

  /** W242 gate: streaming CDC apply. Every key's snapshot is re-emitted
    * whenever it changes (update mode); the drained stream's LAST
    * emission per key — the live row — must equal the batch
    * `latest_snapshot` compaction exactly, which is the oracle. The
    * last emission is selected by the same (ep, event_id) version
    * order the operator folds with, so the replay adds no tiebreak of
    * its own.
    */
  def cdcReplay(s: SparkSession, dir: String,
                nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val evs = sortedEvents(s, dir).map(e =>
      StreamOps.CdcRow(e.user_id, e.event_type, e.event_id,
        e.ts.getTime / 1000, e.value))
    val in = MemoryStream[StreamOps.CdcRow]
    val nm = s"stream_cdc_${ctr.incrementAndGet()}"
    val q = StreamOps.cdcLatest(in.toDS())
      .writeStream.outputMode("update").format("memory").queryName(nm)
      .start()
    feed(in, q, evs.toSeq, nBatches)
    finish(s, nm, q)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "event_type")
          .orderBy(col("ep").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ep"), col("value"))
  }

  /** W287 gate: streaming HLL per event type, update mode. Registers
    * are monotone maxima, so the drained sketch equals the batch
    * sketch regardless of batching; the estimate recomputes the batch
    * formula over the final registers (Σ2^-mj is an exact
    * powers-of-two sum — order-free by construction).
    */
  def hllReplay(s: SparkSession, dir: String,
                nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val evs = sortedEvents(s, dir).map(e =>
      StreamOps.TypeUser(e.event_type, e.user_id))
    val in = MemoryStream[StreamOps.TypeUser]
    val nm = s"stream_hll_${ctr.incrementAndGet()}"
    val q = StreamOps.hllSketch(in.toDS())
      .writeStream.outputMode("update").format("memory").queryName(nm)
      .start()
    feed(in, q, evs.toSeq, nBatches)
    val m = 16
    val fin = finish(s, nm, q)
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("n").desc)))
      .filter(col("rn") === 1)
    val est = fin
      .select(col("event_type"), posexplode(col("regs"))
        .as(Seq("bucket", "mj")))
      .groupBy("event_type")
      .agg(sum(pow(lit(2.0), -col("mj").cast("double"))).as("ssum"),
        sum(when(col("mj") === 0L, 1L).otherwise(0L)).as("v"))
      .select(col("event_type"),
        (lit(0.673) * lit(256.0) / col("ssum")).as("e_raw"), col("v"))
      .select(col("event_type"),
        when(col("e_raw") <= lit(2.5 * m) && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
          .otherwise(col("e_raw")).as("e"))
    est.select(col("event_type"),
        (floor(col("e") * lit(1e4) + lit(0.5)) / lit(1e4)).as("hll_est"))
      .orderBy("event_type")
  }

  /** W276 gate: per-user running z-score anomaly flags, append mode.
    * The state decision is pure-integer (`StreamOps.anomalyFlag`), so
    * the drained sink equals the oracle's preceding-rows window
    * restatement with the same cross-multiplied HUGEINT test.
    */
  def anomalyReplay(s: SparkSession, dir: String,
                    nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir).map(e =>
      StreamOps.Event(e.user_id, e.event_id, e.ts.getTime / 1000,
        e.value))
    val in = MemoryStream[StreamOps.Event]
    val nm = s"stream_anom_${ctr.incrementAndGet()}"
    val q = StreamOps.anomalyFlag(in.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName(nm).start()
    feed(in, q, evs.toSeq, nBatches)
    finish(s, nm, q)
      .select(col("user_id"), col("event_id"), col("ep"),
        round(col("value"), 4).as("value"))
      .orderBy("user_id", "ep", "event_id")
  }

  /** W512 gate: the `foreachBatch` EXACTLY-ONCE sink contract. Each
    * micro-batch lands at its own `batch=<id>` path with Overwrite
    * semantics — the standard idempotent-sink recipe for stores
    * without transactional streaming writers — and the replay commits
    * every batch TWICE (the same (data, batchId) pair a post-failure
    * re-delivery presents), so a sink that appended instead of
    * overwriting would double-count and hash-fail. The readback
    * aggregate over all batch paths must equal the plain batch
    * aggregate over the full events fixture: at-least-once delivery +
    * idempotent-by-batchId writes = exactly-once contents.
    */
  def foreachBatchReplay(s: SparkSession, dir: String,
                         nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir)
    inTempDir("graft_fb_replay") { root =>
    val sink = s"$root/sink"
    val in = MemoryStream[REvent]
    val q = in.toDF()
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("v_cents"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        // pin the batch's rows once so the two commits below write the
        // SAME data (re-delivery replays identical content)
        val once = df.localCheckpoint()
        once.write.mode("overwrite").parquet(s"$sink/batch=$id")
        // simulated re-delivery: a retried epoch re-commits the same
        // batchId — Overwrite-by-path keeps the sink exactly-once
        once.write.mode("overwrite").parquet(s"$sink/batch=$id")
        ()
      }
      .start()
    feed(in, q, evs.toSeq, nBatches)
    q.stop()
    s.read.parquet(sink)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("v_cents")).as("v_cents"))
      .orderBy("event_type")
      .localCheckpoint() // materialize before the sink dir is deleted
    }
  }

  /** W513 gate: RocksDB CHANGELOG CHECKPOINTING survives a mid-stream
    * restart. The transformWithState census runs with
    * `rocksdb.changelogCheckpointing.enabled` (per-batch delta files
    * instead of full snapshot uploads — the setting a large-state
    * production stream runs), is STOPPED cold after the first half of
    * the batches, and a NEW query resumes from the same checkpoint —
    * state must reload from snapshot+changelog replay and the final
    * census must equal the full-corpus batch census, proving the
    * restart lost no state. Sink is the W512 idempotent
    * foreachBatch-by-batchId store (a memory sink would reset on
    * restart); update-mode rows resolve to each user's LAST census via
    * the monotone n_events (strictly increasing per update).
    */
  def changelogRestartReplay(s: SparkSession, dir: String,
                             nBatches: Int = 4): DataFrame =
    withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val logKey = "spark.sql.streaming.stateStore.rocksdb" +
      ".changelogCheckpointing.enabled"
    val prevProv = s.conf.getOption(provKey)
    val prevLog = s.conf.getOption(logKey)
    s.conf.set(provKey, "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider")
    s.conf.set(logKey, "true")
    try {
      val evs = sortedEvents(s, dir).map(e =>
        StreamOps.TypeUser(e.event_type, e.user_id))
      inTempDir("graft_clog_replay") { root =>
      val sink = s"$root/sink"
      val in = MemoryStream[StreamOps.TypeUser]
      def start() = StreamOps.typeCensus(in.toDS()).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          df.write.mode("overwrite").parquet(s"$sink/batch=$id")
          ()
        }
        .start()
      val per = math.max(1, math.ceil(evs.length.toDouble / nBatches).toInt)
      val batches = evs.grouped(per).toSeq
      val (firstHalf, secondHalf) = batches.splitAt(batches.length / 2)
      val q1 = start()
      firstHalf.foreach { b => in.addData(b); q1.processAllAvailable() }
      q1.stop() // cold stop; offsets + RocksDB changelog are committed
      val q2 = start() // resumes from the checkpoint, reloads state
      secondHalf.foreach { b => in.addData(b); q2.processAllAvailable() }
      q2.processAllAvailable()
      q2.stop()
      s.read.parquet(sink)
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("n_events").desc)))
        .filter(col("rn") === 1)
        .select("user_id", "n_events", "n_types")
        .localCheckpoint() // materialize before the sink dir is deleted
      }
    } finally {
      prevProv match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
      prevLog match {
        case Some(v) => s.conf.set(logKey, v)
        case None => s.conf.unset(logKey)
      }
    }
  }

  /** W515 gate: LEFT-OUTER stream-stream join. Clicks join purchases
    * by the same user inside [l_ts, l_ts+1h]; unmatched clicks must
    * surface with the −1 sentinel right side (null-free for the hash
    * gate). Zero watermark delay + the sorted feed keep nothing late
    * (each batch's min ts ≥ the previous watermark), so the inner
    * pairs equal the batch join exactly; a far-future sentinel event
    * through BOTH streams then pushes the watermark past every
    * pending click + window so append mode flushes every outer row.
    */
  def outerJoinReplay(s: SparkSession, dir: String,
                      nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir)
    val lin = MemoryStream[REvent]
    val rin = MemoryStream[REvent]
    val nm = s"stream_ojoin_${ctr.incrementAndGet()}"
    val joined = StreamOps.streamStreamJoinOuter(
      lin.toDF().filter(col("event_type") === "click"),
      rin.toDF().filter(col("event_type") === "purchase"),
      windowSecs = 3600, watermarkDelay = "0 seconds")
    val q = joined
      .select(col("user_id"), col("l_event_id"),
        coalesce(col("r_event_id"), lit(-1L)).as("r_event_id"),
        unix_timestamp(col("l_ts")).as("l_ep"),
        coalesce(unix_timestamp(col("r_ts")), lit(-1L)).as("r_ep"))
      .writeStream.outputMode("append").format("memory").queryName(nm)
      .start()
    val per = math.max(1, math.ceil(evs.length.toDouble / nBatches).toInt)
    evs.grouped(per).foreach { b =>
      lin.addData(b.toSeq)
      rin.addData(b.toSeq)
      q.processAllAvailable()
    }
    // flush sentinel: one far-future click + purchase on user −999
    // advances BOTH watermarks past every pending click + window
    val far = Timestamp.valueOf("2200-01-01 00:00:00")
    lin.addData(REvent(far, -1L, -999L, "click", 0.0))
    rin.addData(REvent(far, -2L, -999L, "purchase", 0.0))
    q.processAllAvailable()
    finish(s, nm, q).filter(col("user_id") =!= -999L)
  }

  /** W516 gate: `dropDuplicatesWithinWatermark` under an at-least-once
    * feed — every batch re-delivers the PREVIOUS batch's tail (the
    * overlap an upstream retry produces) and duplicates each row
    * inside the batch too; the sink must still hold every event
    * exactly once. The 10-year delay keeps all dedup state live for
    * the fixture replay; production sizes it to the real re-delivery
    * horizon, which is what bounds the state store.
    */
  def dedupWithinWatermarkReplay(s: SparkSession, dir: String,
                                 nBatches: Int = 4): DataFrame =
    withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir)
    val in = MemoryStream[REvent]
    val nm = s"stream_dwm_${ctr.incrementAndGet()}"
    val q = StreamOps.dedupWithinWatermark(in.toDF(), Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ep"))
      .writeStream.outputMode("append").format("memory").queryName(nm)
      .start()
    val per = math.max(1, math.ceil(evs.length.toDouble / nBatches).toInt)
    val chunks = evs.grouped(per).toSeq
    chunks.zipWithIndex.foreach { case (b, i) =>
      val redelivered = if (i == 0) b else chunks(i - 1).takeRight(3) ++ b
      in.addData(redelivered.toSeq ++ redelivered.toSeq) // in-batch dups
      q.processAllAvailable()
    }
    finish(s, nm, q)
  }

  /** W514 gate: the STATE DATA SOURCE (`spark.read.format("statestore")`,
    * Spark 4) — checkpointed operator state inspected as a first-class
    * batch read, the on-call path when a stateful stream misbehaves.
    * The running per-user census streams the FIRST 2 of `nBatches`
    * micro-batches into a checkpoint and stops cold; the state store
    * is then read BACK as a plain DataFrame, and its value rows must
    * equal the batch aggregate over exactly that half-corpus prefix —
    * pinning both the reader's fidelity and the checkpoint's
    * completeness (a dropped or double-counted key would hash-fail).
    */
  def stateSourceAudit(s: SparkSession, dir: String,
                       nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir).map(e =>
      StreamOps.Event(e.user_id, e.event_id, e.ts.getTime / 1000, e.value))
    inTempDir("graft_state_src") { root =>
    val in = MemoryStream[StreamOps.Event]
    val nm = s"stream_ssrc_${ctr.incrementAndGet()}"
    val q = StreamOps.runningCounts(in.toDS())
      .writeStream.outputMode("update").format("memory").queryName(nm)
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    val per = math.max(1, math.ceil(evs.length.toDouble / nBatches).toInt)
    evs.grouped(per).take(2).foreach { b =>
      in.addData(b); q.processAllAvailable()
    }
    q.stop()
    s.catalog.dropTempView(nm)
    s.read.format("statestore").load(s"$root/ckpt")
      // FMGS wraps the user state: value.groupState = the UserStats row
      .select(col("value.groupState.*"))
      .select(col("user_id"), col("n_events"),
        round(col("sum_value"), 4).as("sum_value"))
      .orderBy("user_id")
      .localCheckpoint() // materialize before the checkpoint is deleted
    }
  }

  /** W518 gate: the STATE-METADATA source
    * (`spark.read.format("state-metadata")`) — the checkpoint's
    * operator registry read as a batch DataFrame, the first thing an
    * operator upgrade or state migration inspects (which stateful
    * operators exist, under which store names, spanning which batch
    * range). Two fed batches produce one deterministic row: operator 0,
    * FMGS, the default store, the replay's 4 shuffle partitions,
    * batches 0..1.
    */
  def stateMetadataAudit(s: SparkSession, dir: String,
                         nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir).map(e =>
      StreamOps.Event(e.user_id, e.event_id, e.ts.getTime / 1000, e.value))
    inTempDir("graft_state_md") { root =>
    val in = MemoryStream[StreamOps.Event]
    val nm = s"stream_smd_${ctr.incrementAndGet()}"
    val q = StreamOps.runningCounts(in.toDS())
      .writeStream.outputMode("update").format("memory").queryName(nm)
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    val per = math.max(1, math.ceil(evs.length.toDouble / nBatches).toInt)
    evs.grouped(per).take(2).foreach { b =>
      in.addData(b); q.processAllAvailable()
    }
    q.stop()
    s.catalog.dropTempView(nm)
    s.read.format("state-metadata").load(s"$root/ckpt")
      .select(col("operatorId").as("operator_id"),
        col("operatorName").as("operator_name"),
        col("stateStoreName").as("state_store_name"),
        col("numPartitions").as("num_partitions"),
        col("minBatchId").as("min_batch_id"),
        col("maxBatchId").as("max_batch_id"))
      .orderBy("operator_id")
      .localCheckpoint() // materialize before the checkpoint is deleted
    }
  }

  /** W520 gate: FILE-SOURCE streaming + `Trigger.AvailableNow` — the
    * backfill shape (process everything already on disk as a bounded
    * stream, then stop) over the fixture's own parquet files, paced to
    * one file per micro-batch. Every other replay feeds a
    * MemoryStream; this one exercises the FileStreamSource's listing /
    * offset tracking and the self-terminating trigger. Complete-mode
    * census to the sink: the final table must equal the batch
    * aggregate however the files split into batches.
    */
  def availableNowReplay(s: SparkSession, dir: String): DataFrame =
    withReplayConf(s) {
    import org.apache.spark.sql.streaming.Trigger
    // the fixture table is one parquet FILE; a file stream needs a
    // directory, so stage it as 4 files — which also makes the
    // one-file-per-trigger split a real 4-batch backfill
    inTempDir("graft_avnow") { root =>
    val staged = s"$root/events"
    Tables.events(s, dir).repartition(4).write.parquet(staged)
    val schema = Tables.events(s, dir).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    val nm = s"stream_avnow_${ctr.incrementAndGet()}"
    val q = src.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
          .as("v_cents"))
      .writeStream.outputMode("complete").format("memory").queryName(nm)
      .trigger(Trigger.AvailableNow())
      .start()
    // AvailableNow self-terminates when caught up; a false return means
    // the 5-minute budget elapsed with the backfill still running —
    // fail HERE instead of hashing a partial sink table (ADVICE r8)
    assert(q.awaitTermination(300000),
      "AvailableNow backfill did not terminate within 300s")
    val out = s.table(nm).localCheckpoint()
    s.catalog.dropTempView(nm)
    out.orderBy("event_type")
    }
  }

  /** W550 gate: streaming WRITE through the DSv2 adjacency sink — the
    * STREAMING_WRITE half of the connector's surface. A 4-file
    * AvailableNow backfill maps events to (src, dst) edges and lands
    * them through `writeStream.format("graft-adjacency")`; final file
    * names carry only (epoch, partition), so a replayed epoch
    * overwrites its own output (exactly-once by idempotent rename —
    * same discipline as the batch commit). The gate reads the sink
    * BACK through the connector's own scan and its census must equal
    * the oracle's batch restatement of the same edge mapping: the
    * epoch-granular sink lost nothing, duplicated nothing.
    */
  def dsv2SinkReplay(s: SparkSession, dir: String): DataFrame =
    withReplayConf(s) {
      import org.apache.spark.sql.streaming.Trigger
      inTempDir("graft_dsv2sink") { root =>
        val staged = s"$root/events"
        Tables.events(s, dir).repartition(4).write.parquet(staged)
        val schema = Tables.events(s, dir).schema
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged)
        val sink = s"$root/edges"
        val q = src
          .select(pmod(col("user_id"), lit(50L)).as("src"),
            pmod(col("event_id"), lit(1000L)).as("dst"))
          .writeStream.format("graft-adjacency")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start(sink)
        assert(q.awaitTermination(300000),
          "AvailableNow DSv2-sink backfill did not terminate in 300s")
        s.read.format("graft-adjacency").load(sink)
          .groupBy("src")
          .agg(count(lit(1)).as("n_edges"), sum(col("dst")).as("dst_sum"))
          .orderBy("src")
          .localCheckpoint() // materialize before the root is deleted
      }
    }

  /** W551 gate: streaming READ through the DSv2 adjacency source — the
    * MICRO_BATCH_READ half of the connector (W550 toured the write
    * half). The events edge mapping lands in the connector's table
    * through three batch appends (three file generations), then an
    * AvailableNow stream with `maxFilesPerTrigger=2` drains it in
    * file-admission-controlled micro-batches into a parquet sink. The
    * gate censuses the sink: the offset set-difference planning must
    * deliver every file exactly once — equal to the oracle's batch
    * restatement of the same mapping.
    */
  def dsv2SourceReplay(s: SparkSession, dir: String): DataFrame =
    withReplayConf(s) {
      import org.apache.spark.sql.streaming.Trigger
      inTempDir("graft_dsv2src") { root =>
        val table = s"$root/edges"
        val edges = Tables.events(s, dir)
          .select(pmod(col("user_id"), lit(50L)).as("src"),
            pmod(col("event_id"), lit(1000L)).as("dst"))
        // three arrival slices through the connector's batch writer
        (0 until 3).foreach { i =>
          edges.where(pmod(col("dst"), lit(3L)) === i)
            .write.format("graft-adjacency").mode("append").save(table)
        }
        val out = s"$root/out"
        val q = s.readStream.format("graft-adjacency")
          .option("maxFilesPerTrigger", "2")
          .load(table)
          .writeStream.format("parquet")
          .option("checkpointLocation", s"$root/ckpt")
          .option("path", out)
          .trigger(Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(300000),
          "AvailableNow DSv2-source drain did not terminate in 300s")
        s.read.parquet(out)
          .groupBy("src")
          .agg(count(lit(1)).as("n_edges"), sum(col("dst")).as("dst_sum"))
          .orderBy("src")
          .localCheckpoint() // materialize before the root is deleted
      }
    }

  /** W553 gate: a CUSTOM StateStoreProvider
    * (`streaming.GraftCountingStateStoreProvider`, plugged through
    * `spark.sql.streaming.stateStore.providerClass` — the same hook
    * RocksDB ships through) carrying the W31 exact-dedup replay. The
    * provider delegates storage to the built-in HDFS-backed store and
    * counts every keyed operation; the census must equal
    * `SELECT DISTINCT user_id, day` exactly — a user-supplied state
    * backend runs the stateful query bit-identically. The provider
    * conf is set for this query and restored after.
    */
  def customStateStoreReplay(s: SparkSession, dir: String,
                             nBatches: Int = 4): DataFrame =
    withReplayConf(s) {
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key, classOf[GraftCountingStateStoreProvider].getName)
      try {
        val evs = sortedEvents(s, dir).map { e =>
          DayRow(e.ts, e.user_id,
            e.ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
        }
        val in = MemoryStream[DayRow]
        val nm = s"stream_cstore_${ctr.incrementAndGet()}"
        val q = StreamOps.dedupStream(in.toDF(), Seq("user_id", "day"),
            watermarkDelay = "3650 days")
          .select(col("user_id"), col("day"))
          .writeStream.outputMode("append").format("memory").queryName(nm)
          .start()
        feed(in, q, evs.toSeq, nBatches)
        finish(s, nm, q)
      } finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
    }

  /** W528 gate: streaming UNION of two sources — the multi-feed ingest
    * shape (two kafka topics / two directories landing in one
    * pipeline). The fixture splits by alternating index across two
    * MemoryStreams feeding one unioned complete-mode census; the sink
    * must equal the single-source batch aggregate, pinning that the
    * union'd micro-batch planner loses/duplicates nothing across the
    * two sources' independent offset logs.
    */
  def unionReplay(s: SparkSession, dir: String,
                  nBatches: Int = 4): DataFrame = withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir)
    val a = MemoryStream[REvent]
    val b = MemoryStream[REvent]
    val nm = s"stream_union_${ctr.incrementAndGet()}"
    val q = a.toDF().union(b.toDF())
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
          .as("v_cents"))
      .writeStream.outputMode("complete").format("memory").queryName(nm)
      .start()
    val per = math.max(1, math.ceil(evs.length.toDouble / nBatches).toInt)
    evs.grouped(per).foreach { chunk =>
      val (ea, eb) = chunk.zipWithIndex.partition(_._2 % 2 == 0)
      a.addData(ea.map(_._1).toSeq)
      b.addData(eb.map(_._1).toSeq)
      q.processAllAvailable()
    }
    finish(s, nm, q).orderBy("event_type")
  }

  /** W533 gate: TWO streaming queries running CONCURRENTLY in one
    * session under `Trigger.ProcessingTime` — the multi-pipeline
    * production shape (several clock-paced jobs sharing one driver's
    * scheduler) that every other replay sidesteps by driver-pacing a
    * single query with processAllAvailable(). The fixture splits by
    * alternating index across two MemoryStreams; each query runs its
    * own complete-mode census on a 25 ms clock WHILE the other runs;
    * the gate feeds both without pacing and polls both sinks until
    * each has absorbed its half — covering concurrent micro-batch
    * planning, trigger clocking, and per-query state isolation. The
    * summed censuses must equal the single-source batch census.
    */
  def concurrentReplay(s: SparkSession, dir: String): DataFrame =
    withReplayConf(s) {
    import org.apache.spark.sql.streaming.Trigger
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir)
    val (ea, eb) = evs.zipWithIndex.partition(_._2 % 2 == 0)
    val a = MemoryStream[REvent]
    val b = MemoryStream[REvent]
    val base = ctr.incrementAndGet()
    val nmA = s"stream_conc_a_$base"
    val nmB = s"stream_conc_b_$base"
    def start(in: MemoryStream[REvent], nm: String) = in.toDF()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
          .as("v_cents"))
      .writeStream.outputMode("complete").format("memory").queryName(nm)
      .trigger(Trigger.ProcessingTime("25 milliseconds"))
      .start()
    val qa = start(a, nmA)
    val qb = start(b, nmB)
    // feed each stream its half in slices with NO pacing call — the
    // ProcessingTime clocks drain them while both queries are live
    val sa = ea.map(_._1).toSeq
    val sb = eb.map(_._1).toSeq
    sa.grouped(sa.length / 4 + 1).foreach(a.addData(_))
    sb.grouped(sb.length / 4 + 1).foreach(b.addData(_))
    def absorbed(nm: String): Long = s.table(nm)
      .agg(coalesce(sum("n_events"), lit(0L))).head().getLong(0)
    val deadline = System.nanoTime() + 120L * 1000000000L
    while ((absorbed(nmA) < sa.length || absorbed(nmB) < sb.length) &&
        System.nanoTime() < deadline)
      Thread.sleep(25)
    assert(absorbed(nmA) == sa.length && absorbed(nmB) == sb.length,
      "concurrent ProcessingTime queries did not absorb both feeds " +
        "within 120s")
    val outA = finish(s, nmA, qa)
    val outB = finish(s, nmB, qb)
    outA.union(outB).groupBy("event_type")
      .agg(sum("n_events").as("n_events"), sum("v_cents").as("v_cents"))
      .orderBy("event_type")
  }

  /** W529 gate: STREAMING `observe()` metrics — per-batch data-quality
    * counters riding the stream for free (CollectMetrics inside the
    * micro-batch plan, surfaced through `StreamingQueryProgress
    * .observedMetrics`, the hook a production monitor subscribes to).
    * The driver folds every batch's reported (rows, cents); the totals
    * must equal the batch aggregate — each micro-batch must have
    * reported exactly its own slice, no batch silent or double-counted.
    */
  def observeStreamReplay(s: SparkSession, dir: String,
                          nBatches: Int = 4): DataFrame =
    withReplayConf(s) {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val evs = sortedEvents(s, dir)
    val in = MemoryStream[REvent]
    val nm = s"stream_obs_${ctr.incrementAndGet()}"
    val q = in.toDF()
      .observe("graft_metrics", count(lit(1)).as("rows"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("cents"))
      .select(col("event_id"))
      .writeStream.outputMode("append").format("memory").queryName(nm)
      .start()
    feed(in, q, evs.toSeq, nBatches)
    q.processAllAvailable()
    val perBatch = q.recentProgress.toSeq
      // keep only entries CARRYING metrics, then dedupe by batchId —
      // an idle (no-data) progress event reuses the last batchId with
      // no observedMetrics and must not shadow the real entry
      .flatMap(p => Option(p.observedMetrics.get("graft_metrics"))
        .map(m => p.batchId -> m))
      .groupBy(_._1).map(_._2.head._2)
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1))) // empty batch: null sum
      .toSeq
    q.stop()
    s.catalog.dropTempView(nm)
    s.createDataFrame(Seq((perBatch.map(_._1).sum,
      perBatch.map(_._2).sum)))
      .toDF("rows_total", "cents_total")
  }

  private def deleteRec(root: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(root)
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  /** Staging-dir scope: `body` gets a fresh temp root, reclaimed in a
    * `finally` so a failing query/stream no longer leaks the tree
    * (ADVICE r8 — failures used to skip the success-path deleteRec and
    * accumulate across a 577-query board with retries). Results must be
    * materialized (localCheckpoint) before `body` returns. */
  private def inTempDir[T](prefix: String)(body: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(root) finally deleteRec(root)
  }
}
