package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Fixtures

/** The fixture boundary is the one place the engine trusts external bytes;
  * these cases pin the two guarantees that broke in round 9:
  *  - `Fixtures.events` returns identical rows whether the writer encoded
  *    `ts` as TIMESTAMP(NANOS) (long nanos) or TIMESTAMP_NTZ micros, so a
  *    fixture refresh can't silently change query semantics;
  *  - a wrong-typed column fails fast with a *named* diff, not 24 scattered
  *    analysis errors.
  */
class FixturesSpec extends SparkSpecBase {

  // Three instants around a DST boundary + an exact second, micro precision.
  private val microsUtc = Seq(
    1696118400000000L, // 2023-10-01T00:00:00Z
    1696118400123456L,
    1699999999999999L,
    1700000000000000L)

  test("events loader: long-nanos and timestamp-us encodings load identically") {
    val s = spark
    import s.implicits._

    def eventRows(tsCol: org.apache.spark.sql.Column) =
      microsUtc.zipWithIndex.toDF("us", "i").select(
        ($"i" + 1).cast("long").as("event_id"),
        tsCol.as("ts"),
        ($"i" % 3).cast("long").as("user_id"),
        lit("click").as("event_type"),
        ($"us" % 97).cast("double").as("value"),
        lit("{}").as("props"))

    // Encoding A: int64 nanos column named ts (what nanosAsLong yields).
    val dirA = tempDir("fixtures")
    eventRows(($"us" * 1000L).cast("long")).write.parquet(s"$dirA/events.parquet")

    // Encoding B: TIMESTAMP_NTZ micros (the current fixture writer's type).
    val dirB = tempDir("fixtures")
    eventRows(timestamp_micros($"us").cast(TimestampNTZType))
      .write.parquet(s"$dirB/events.parquet")

    withSQLConf("spark.sql.session.timeZone" -> "UTC") {
      val a = Fixtures.events(spark, dirA)
      val b = Fixtures.events(spark, dirB)
      assert(a.schema("ts").dataType === TimestampType)
      assert(b.schema("ts").dataType === TimestampType)
      assert(rows(a.orderBy("event_id")) === rows(b.orderBy("event_id")))
      // And the instants are the exact micros we wrote, interpreted as UTC.
      val got = a.orderBy("event_id").select(unix_micros($"ts")).as[Long].collect.toSeq
      assert(got === microsUtc)
    }
  }

  test("wrong-typed fixture column fails with a named schema diff") {
    val s = spark
    import s.implicits._
    val dir = tempDir("fixtures")
    // documents.n_chars as string — a type drift the loader must name.
    Seq((1L, "hello", "en", "web", "5"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalStateException](Fixtures.t(spark, dir, "documents"))
    assert(e.getMessage.contains("documents.n_chars"))
    assert(e.getMessage.contains("got string"))
  }

  test("missing fixture column is named in the diff") {
    val s = spark
    import s.implicits._
    val dir = tempDir("fixtures")
    Seq((1L, "hello")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalStateException](Fixtures.t(spark, dir, "documents"))
    assert(e.getMessage.contains("documents.lang: MISSING"))
  }
}
