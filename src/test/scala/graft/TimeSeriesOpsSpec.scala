package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.TimeSeriesOps

class TimeSeriesOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("ohlcv: open/close follow event time, not input order") {
    val rows = Seq(
      // deliberately out of order within the day
      ("m1", ts("2024-01-01 12:00:00"), 1L, 50.0),
      ("m1", ts("2024-01-01 00:00:01"), 2L, 10.0), // earliest -> open
      ("m1", ts("2024-01-01 23:59:59"), 3L, 70.0), // latest -> close
      ("m1", ts("2024-01-01 06:00:00"), 4L, 5.0),  // low
      ("m1", ts("2024-01-01 18:00:00"), 5L, 90.0), // high
      ("m2", ts("2024-01-01 01:00:00"), 6L, 42.0))
      .toDF("market", "ts", "seq", "price")
    val candles = TimeSeriesOps.ohlcv(rows, "market", "ts", "price", "seq")
      .orderBy("market").collect()
    val m1 = candles(0)
    assert(m1.getAs[Double]("open") === 10.0)
    assert(m1.getAs[Double]("close") === 70.0)
    assert(m1.getAs[Double]("high") === 90.0)
    assert(m1.getAs[Double]("low") === 5.0)
    assert(m1.getAs[Long]("n") === 5)
    val m2 = candles(1)
    assert(m2.getAs[Double]("open") === 42.0 && m2.getAs[Double]("close") === 42.0)
  }

  test("ohlcv: identical timestamps broken deterministically by tie column") {
    val t = ts("2024-01-01 10:00:00")
    val rows = Seq(("m", t, 2L, 20.0), ("m", t, 1L, 10.0), ("m", t, 3L, 30.0))
      .toDF("market", "ts", "seq", "price")
    val c = TimeSeriesOps.ohlcv(rows, "market", "ts", "price", "seq").head()
    assert(c.getAs[Double]("open") === 10.0)  // seq 1
    assert(c.getAs[Double]("close") === 30.0) // seq 3
  }

  test("rollingExtremes pairs each extreme with its timestamp") {
    val rows = Seq(
      ("m", ts("2024-01-01 00:00:00"), 10.0),
      ("m", ts("2024-01-02 00:00:00"), 30.0),
      ("m", ts("2024-01-03 00:00:00"), 20.0))
      .toDF("market", "ts", "price")
    val r = TimeSeriesOps.rollingExtremes(rows, "market", "ts", "price",
        windowSec = 7L * 86400)
      .orderBy("ts").collect()
    assert(r(2).getAs[Double]("rolling_high") === 30.0)
    assert(r(2).getAs[Timestamp]("rolling_high_ts") === ts("2024-01-02 00:00:00"))
    assert(r(2).getAs[Double]("rolling_low") === 10.0)
    assert(r(2).getAs[Timestamp]("rolling_low_ts") === ts("2024-01-01 00:00:00"))
  }

  test("resume cursor + incremental filter (W1): only newer rows survive") {
    val stored = Seq(
      ("m1", ts("2024-01-05 00:00:00")), ("m1", ts("2024-01-06 00:00:00")),
      ("m2", ts("2024-01-03 00:00:00"))).toDF("market", "ts")
    val incoming = Seq(
      ("m1", ts("2024-01-06 00:00:00")), // == cursor -> dropped
      ("m1", ts("2024-01-07 00:00:00")), // newer -> kept
      ("m2", ts("2024-01-01 00:00:00")), // older -> dropped
      ("m3", ts("2024-01-01 00:00:00"))) // unseen key -> kept
      .toDF("market", "ts")
    val cursors = TimeSeriesOps.resumeCursors(stored, "market", "ts")
    val got = TimeSeriesOps.newerThanCursor(incoming, cursors, "market", "ts")
      .as[(String, Timestamp)].collect().toSet
    assert(got === Set(("m1", ts("2024-01-07 00:00:00")),
      ("m3", ts("2024-01-01 00:00:00"))))
  }

  test("rollingAnomalies: a planted spike flags; steady traffic does not") {
    // user 1: steady 10.0 every minute, one 500.0 spike, then steady again
    val rows = (0 until 20).map { i =>
      val v = if (i == 15) 500.0 else 10.0
      (1L, ts(f"2024-01-01 10:${i}%02d:00"), v)
    } :+ ((2L, ts("2024-01-01 10:00:00"), 999.0)) // n=1 window: never flags
    val got = TimeSeriesOps.rollingAnomalies(
        rows.toDF("user_id", "ts", "value"), "user_id", "ts", "value",
        windowSec = 3600L, z = 3)
      .select($"user_id", $"ts", $"is_anomaly")
      .as[(Long, Timestamp, Boolean)].collect()
      .map { case (u, t, f) => (u, t.toString) -> f }.toMap
    assert(got((1L, "2024-01-01 10:15:00.0")), "spike must flag")
    assert(!got((2L, "2024-01-01 10:00:00.0")), "n=1 window never flags")
    val flagged = got.filter(_._2).keys.toSeq
    assert(flagged === Seq((1L, "2024-01-01 10:15:00.0")),
      s"only the spike flags, got $flagged")
  }

  test("rollingAnomalies matches the float z-score test away from boundaries") {
    // driver-side reference on real data: flag iff |x - mean| > 3*sigma
    // (population), computed per trailing window; tolerate only rows whose
    // float margin is razor-thin (the exact form is the ground truth there)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts", $"value")
    val got = TimeSeriesOps.rollingAnomalies(
        ev, "user_id", "ts", "value", windowSec = 86400L, z = 3)
      .select($"event_id", $"is_anomaly").as[(Long, Boolean)].collect().toMap
    val raw = ev.as[(Long, Long, Timestamp, Double)].collect()
      .groupBy(_._2)
    var checked = 0
    raw.values.foreach { evs =>
      val sorted = evs.sortBy(_._3.getTime)
      sorted.foreach { case (id, _, t, x) =>
        val win = sorted.filter(e => e._3.getTime <= t.getTime &&
          e._3.getTime >= t.getTime - 86400000L).map(_._4)
        val n = win.size
        val mean = win.sum / n
        val variance = win.map(v => (v - mean) * (v - mean)).sum / n
        val margin = math.abs(math.abs(x - mean) - 3 * math.sqrt(variance))
        if (margin > 1e-6) { // away from the decision boundary
          assert(got(id) === (math.abs(x - mean) > 3 * math.sqrt(variance)),
            s"event $id")
          checked += 1
        }
      }
    }
    assert(checked > 100, s"checked only $checked rows")
  }

  test("holt tracks a linear trend an ewma lags; holtWinters learns a planted season") {
    import java.sql.Timestamp
    def ts(i: Int) = new Timestamp(60000L + i * 60000L)
    // strictly increasing series: Holt's forecast converges onto the
    // ramp while EWMA trails it permanently
    val ramp = (0 until 60).map(i => (1L, ts(i), i.toLong, 100.0 + 5.0 * i))
      .toDF("key", "t", "tie", "v")
    val holt = TimeSeriesOps.holt(ramp, "key", "t", "tie", "v")
      .select($"rn", $"vu", $"forecast").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    // late-window one-step forecast error (vs the NEXT value) small
    val lateErr = holt.sliding(2).collect {
      case Array((_, _, f), (_, vuNext, _)) => math.abs(f - vuNext)
    }.toSeq.takeRight(10)
    assert(lateErr.forall(_ <= 2000L),
      s"holt must track the ramp within 2 units late on: $lateErr")
    // period-4 seasonal sawtooth on a flat base: HW's late forecasts
    // must beat Holt's on the same series (the seasonal term's job)
    val season = Seq(0.0, 40.0, 10.0, -30.0)
    val wave = (0 until 80).map(i => (1L, ts(i), i.toLong, 100.0 + season(i % 4)))
      .toDF("key", "t", "tie", "v")
    def lateAbsErr(rows: Seq[(Long, Long, Long)]): Double = {
      val s = rows.sortBy(_._1)
      s.sliding(2).collect {
        case Seq((_, _, f), (_, vuNext, _)) => math.abs(f - vuNext).toDouble
      }.toSeq.takeRight(30).sum
    }
    val hwErr = lateAbsErr(TimeSeriesOps
      .holtWinters(wave, "key", "t", "tie", "v", period = 4)
      .select($"rn", $"vu", $"forecast").as[(Long, Long, Long)].collect().toSeq)
    val holtErr = lateAbsErr(TimeSeriesOps
      .holt(wave, "key", "t", "tie", "v")
      .select($"rn", $"vu", $"forecast").as[(Long, Long, Long)].collect().toSeq)
    assert(hwErr < holtErr / 2,
      s"seasonal forecasts must beat trend-only by 2x on a sawtooth: $hwErr vs $holtErr")
  }
}
