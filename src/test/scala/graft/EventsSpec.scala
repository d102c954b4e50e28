package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{Events, Multimodal}

class EventsSpec extends SparkSpec {
  import spark.implicits._

  test("sessionize: 30-minute gaps split sessions per user") {
    val dir = java.nio.file.Files.createTempDirectory("ev").toString
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)
    Seq(
      (0L, ts(0), 1L, 1.0), (1L, ts(10), 1L, 2.0),   // session 1 (gap 10)
      (2L, ts(50), 1L, 3.0),                          // session 2 (gap 40)
      (3L, ts(0), 2L, 5.0)                            // other user
    ).toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.sessionize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(5))).toMap
    assert(got.size == 3)
    assert(got((1L, 1L)) == (2L, 3.0))   // 2 events, value 1+2
    assert(got((1L, 2L)) == (1L, 3.0))
    assert(got((2L, 1L)) == (1L, 5.0))
  }

  test("movingAvg: trailing range frame includes same-second ties") {
    val dir = java.nio.file.Files.createTempDirectory("ev").toString
    def ts(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)
    Seq(
      (0L, ts(0), 1L, 10.0),
      (1L, ts(100), 1L, 20.0),
      (2L, ts(100), 1L, 30.0),  // same second as event 1: shared frame
      (3L, ts(500), 1L, 40.0)   // 400s after: events 1,2 outside 300s? no — 500-100=400 > 300, so alone
    ).toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.movingAvg(spark, dir).collect()
      .map(r => r.getLong(1) -> (r.getDouble(4), r.getLong(5))).toMap
    assert(got(0L) == (10.0, 1L))
    // ties at t=100 each see {0,1,2}: avg 20, count 3 — regardless of order
    assert(got(1L) == (20.0, 3L) && got(2L) == (20.0, 3L))
    assert(got(3L) == (40.0, 1L))
  }

  test("slidingWindow: every event lands in exactly two 1h/30m windows") {
    val agg = Events.slidingWindow(spark, sf)
    val total = agg.agg(sum("cnt")).collect()(0).getLong(0)
    val raw = spark.read.parquet(s"$sf/events.parquet").count()
    assert(total == 2 * raw && raw > 0)
    // window starts sit on the 1800s grid
    assert(agg.filter(col("win_start") % 1800 =!= 0).count() == 0)
  }

  test("sessionWindowAgg: ==gap still merges; breaks past gap; end = last + gap") {
    val dir = java.nio.file.Files.createTempDirectory("sw").toString
    def ts(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)
    Seq(
      (0L, ts(0), 1L, 1.0),
      (1L, ts(1799), 1L, 2.0), // 1799s gap: merges
      (2L, ts(3599), 1L, 4.0), // exactly 1800s after: STILL merges (inclusive)
      (3L, ts(5400), 1L, 8.0), // 1801s after: breaks
      (4L, ts(99999), 2L, 16.0)
    ).toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.sessionWindowAgg(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val base = 1700000000L
    assert(got.toSeq == Seq(
      (1L, base, base + 3599 + 1800, 3L),        // events 0,1,2 merged
      (1L, base + 5400, base + 5400 + 1800, 1L), // event 3 alone
      (2L, base + 99999, base + 99999 + 1800, 1L)))
    // same boundary rule as the lag-form sessionize: both see 2 sessions
    val lagForm = Events.sessionize(spark, dir).collect()
    assert(lagForm.count(_.getLong(0) == 1L) == 2)
  }

  test("hourlyAgg covers every event exactly once") {
    val agg = Events.hourlyAgg(spark, sf)
    val total = agg.agg(sum("cnt")).collect()(0).getLong(0)
    val raw = spark.read.parquet(s"$sf/events.parquet").count()
    assert(total == raw && raw > 0)
  }

  test("multimodal decode is deterministic and kind-consistent") {
    val a = Multimodal.decode(spark, sf).collect().sortBy(_.doc_id)
    val b = Multimodal.decode(spark, sf).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
    a.foreach { m =>
      assert(m.kind == Seq("image", "audio", "video")((m.doc_id % 3).toInt))
      assert(m.width > 0 && m.height > 0 && m.n_frames > 0)
      if (m.kind == "image") assert(m.n_frames == 1)
    }
  }

  test("asofJoin matches a brute-force as-of on the fixture") {
    val got = Events.asofJoin(spark, sf, "purchase", "view").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("ep"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
    val views = ev.filter(_._4 == "view").groupBy(_._1)
    val expected = ev.filter(_._4 == "purchase").flatMap {
      case (u, eid, ep, _, _) =>
        views.getOrElse(u, Array.empty)
          .filter(_._3 <= ep)
          .sortBy(v => (v._3, v._2))   // latest second, then max event_id
          .lastOption
          .map(v => (u, eid) -> (ep, v._2,
            BigDecimal(v._5).setScale(4, BigDecimal.RoundingMode.HALF_UP)
              .toDouble))
    }.toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("interArrival gaps are non-negative and neighbors-only") {
    val rows = Events.interArrival(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= 0 && r.getLong(4) >= 0)
    }
  }

  test("frame sampling strides through video frames only") {
    val frames = Multimodal.sampleFrames(Multimodal.decode(spark, sf), 100)
      .collect()
    assert(frames.nonEmpty)
    val byDoc = frames.groupBy(_.getLong(0))
    byDoc.values.foreach { rows =>
      val idx = rows.map(_.getInt(1)).sorted
      assert(idx.head == 0)
      idx.zip(idx.tail).foreach { case (p, n) => assert(n - p == 100) }
    }
  }

  test("emaSmooth: matches the driver-side recurrence exactly") {
    val events = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "value").collect()
      // parquet ts reads as TIMESTAMP_NTZ → LocalDateTime in Row; the
      // session zone is UTC everywhere, so wall-clock == instant
      .map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
        r.getLong(2), r.getDouble(3)))
    val want = events.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._2, e._3)).toSeq
      var ema = sorted.head._4
      sorted.zipWithIndex.map { case (e, i) =>
        if (i > 0) ema = 0.2 * e._4 + (1 - 0.2) * ema
        (u, e._3) -> BigDecimal(ema).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }.toMap
    val got = Events.emaSmooth(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(got.size == events.length)
    assert(got == want)
  }

  test("interpolateHourly: dense spine, bounded interior fills") {
    val rows = Events.interpolateHourly(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    rows.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      // contiguous hourly grid, observed at both endpoints
      sorted.map(_._2).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(b - a == 3600L)
        case _ =>
      }
      assert(sorted.head._3 == 1 && sorted.last._3 == 1)
      // every interpolated value lies between its observed neighbors
      val obs = sorted.filter(_._3 == 1).map(t => t._2 -> t._4)
      sorted.filter(_._3 == 0).foreach { case (_, h, _, v) =>
        val (ph, pv) = obs.takeWhile(_._1 < h).last
        val (nh, nv) = obs.dropWhile(_._1 < h).head
        assert(ph < h && h < nh)
        assert(v >= math.min(pv, nv) - 1e-6 && v <= math.max(pv, nv) + 1e-6)
      }
    }
  }

  test("resizePlan fits inside 256², preserves aspect, never upscales") {
    val rows = Multimodal.resizePlan(Multimodal.decode(spark, sf)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (kind, w, h) = (r.getString(1), r.getInt(2), r.getInt(3))
      val (nw, nh, resized) = (r.getInt(4), r.getInt(5), r.getBoolean(6))
      assert(kind != "audio")
      if (resized) {
        assert(math.max(w, h) > 256 && math.max(nw, nh) <= 256)
        // floor fit: new = floor(old * 256 / longSide)
        val ls = math.max(w, h)
        assert(nw == w * 256 / ls && nh == h * 256 / ls)
      } else {
        assert(nw == w && nh == h && math.max(w, h) <= 256)
      }
      assert(nw >= 1 && nh >= 1)
    }
    assert(rows.exists(_.getBoolean(6)), "fixture should need some resizes")
  }

  test("retentionCohorts: offset-0 cell covers each cohort's full user set") {
    val rows = Events.retentionCohorts(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    assert(rows.nonEmpty)
    // every user is active in their own first week, so the offset-0
    // cell must equal the cohort's total distinct users
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("w"))
      .collect().map(r => r.getLong(0) -> r.getDate(1).toString)
    val cohortOf = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val cohorts = cohortOf.groupBy(_._2).view.mapValues(_.size).toMap
    cohorts.foreach { case (w, n) =>
      assert(rows((w, 0)) == n.toLong, s"cohort $w offset 0")
    }
    // and no cell can exceed its cohort size
    rows.foreach { case ((w, _), n) => assert(n <= cohorts(w)) }
  }

  test("daily series, day buckets and transition counts are built in one place") {
    // a hand-built spine would re-decide the day bucket, bounds,
    // zero-fill and caching on its own; the one site outside
    // dailySeries is seasonalMannKendall's (day × hour) grid
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("src/main/scala/graft/operators/Events.scala")))
    def uses(code: String) =
      java.util.regex.Pattern.quote(code).r.findAllMatchIn(src).size
    assert(uses("explode(sequence(col(\"d0\"), col(\"d1\")))") <= 2)
    assert(uses("floor(unix_timestamp(col(\"ts\")) / lit(86400L))") == 1)
    assert(uses("lead(col(\"event_type\"), 1)") == 1)
  }
}
