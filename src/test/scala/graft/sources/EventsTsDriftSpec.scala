package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Guard against the next events.ts physical-format drift.
  *
  * The driver's generator has shipped `events.parquet` as timestamp[ns]
  * (rounds ≤5, read as int64 nanos via `nanosAsLong`) and timestamp[µs]
  * (round 6+, read as TIMESTAMP_NTZ) — the round-6 switch silently broke
  * all 16 ts-family gates. `Tables.tsToMicros` is the single
  * compatibility point; this spec writes the SAME events three ways —
  * int64 nanos, timestamp[µs] naive (NTZ), timestamp[µs] UTC-adjusted —
  * and asserts the normalized micros agree exactly across all encodings,
  * so an upstream regeneration can never zero those gates again.
  */
class EventsTsDriftSpec extends SparkSpec {
  import spark.implicits._

  // deterministic fixture: µs timestamps spanning several hours + a
  // sub-millisecond tail that a wrong ns/µs divisor would corrupt
  private val rows: Seq[(Long, Long)] =
    (0L until 64L).map(i => (i, 1700000000000000L + i * 3600000007L + i % 1000))

  private def writeAndNormalize(dir: String, dt: DataType): Map[Long, Long] = {
    val base = rows.toDF("event_id", "us")
    val df = dt match {
      case LongType => base.select($"event_id", ($"us" * 1000L).as("ts"))
      case TimestampNTZType =>
        base.select($"event_id", timestamp_micros($"us").cast(TimestampNTZType).as("ts"))
      case TimestampType =>
        base.select($"event_id", timestamp_micros($"us").as("ts"))
      case other => fail(s"unhandled $other")
    }
    df.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("ts").dataType == dt,
      s"parquet round-trip changed the dtype under test: wrote $dt, read ${back.schema("ts").dataType}")
    Tables.tsToMicros(back)
      .select($"event_id", $"ts").as[(Long, Long)].collect().toMap
  }

  test("tsToMicros yields identical micros for ns-as-long, µs-NTZ, and µs-UTC encodings") {
    val expected = rows.toMap
    for (dt <- Seq[DataType](LongType, TimestampNTZType, TimestampType)) {
      withTempDir("graft_tsdrift") { dir =>
        val got = writeAndNormalize(dir, dt)
        assert(got == expected, s"normalized micros diverge for encoding $dt")
      }
    }
  }

  test("property: arbitrary epoch-micros survive every encoding unchanged") {
    // randomized twin of the fixture test: any µs value a generator could
    // emit (1970..2200, including sub-ms tails and exact-second values)
    // must round-trip identically through all three physical encodings
    val gen = new scala.util.Random(20260813L)
    val us = Seq.fill(200)(math.abs(gen.nextLong()) % 7258118400000000L) // < year 2200
    val base = us.zipWithIndex.map { case (u, i) => (i.toLong, u) }
    val asNs = base.map { case (i, u) => (i, u * 1000L) }.toDF("event_id", "ts")
    val asNtz = base.toDF("event_id", "us")
      .select($"event_id", timestamp_micros($"us").cast(TimestampNTZType).as("ts"))
    val asLtz = base.toDF("event_id", "us")
      .select($"event_id", timestamp_micros($"us").as("ts"))
    val expected = base.toMap
    for (df <- Seq(asNs, asNtz, asLtz)) {
      val got = Tables.tsToMicros(df)
        .select($"event_id", $"ts").as[(Long, Long)].collect().toMap
      assert(got == expected, s"divergence under ${df.schema("ts").dataType}")
    }
  }

  test("the live testdata events table normalizes to plausible int64 micros") {
    // whatever the current generator ships, Tables.events must come back
    // with ts as LongType micros in a sane epoch range (2020..2040)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType == LongType, "Tables.events did not normalize ts to long")
    val Row(lo: Long, hi: Long) = ev.agg(min($"ts"), max($"ts")).head()
    val us2020 = 1577836800000000L
    val us2040 = 2208988800000000L
    assert(lo >= us2020 && hi <= us2040,
      s"normalized ts range [$lo, $hi] is not epoch-µs — wrong divisor for the current encoding")
  }
}
