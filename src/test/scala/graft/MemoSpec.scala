package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

/** Contracts of the one in-JVM memo ([[Memo]]): builds run outside any
  * map lock and may acquire other keys, one build per key however many
  * acquirers, a failed build stores nothing, and no query changes a conf
  * that keys it.
  */
class MemoSpec extends SparkSpecBase {
  import spark.implicits._

  private def frameKeys(prefix: String): Seq[String] =
    Memo.census().collect { case Memo.Row(k, Memo.Frame, _, _) if k.startsWith(prefix) => k }

  test("a build that acquires other keys inside its own build completes") {
    // sixteen nested acquisitions: enough inserts that a memo building
    // inside its map's compute lock has to resize (or collide with) the
    // bin it holds, which throws 'Recursive update' there
    val n = System.nanoTime()
    val outer = Memo.frame("nest_outer", Some(s"outer_$n"), spark) {
      (1 to 16)
        .map(i => Memo.frame("nest_inner", Some(s"inner_${n}_$i"), spark)(Seq(i.toLong).toDF("id")))
        .reduce(_ union _)
    }
    assert(outer.as[Long].collect().sorted.toSeq == (1L to 16L))
    assert(frameKeys("nest_inner_").size >= 16 && frameKeys("nest_outer_").size == 1)
  }

  test("a build that re-acquires its own key fails fast instead of waiting on itself") {
    val n = System.nanoTime()
    def self: org.apache.spark.sql.DataFrame =
      Memo.frame("nest_self", Some(s"self_$n"), spark)(self)
    val e = intercept[IllegalStateException](self)
    assert(e.getMessage.contains("inside its own build"))
    assert(frameKeys("nest_self_").isEmpty, "the failed build must leave nothing behind")
  }

  test("six threads acquiring one key run one build and read identical rows") {
    val n = System.nanoTime()
    val builds = new AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val futures = (1 to 6).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Long, String)]] {
          def call(): Seq[(Long, String)] = {
            start.await()
            Memo.frame("flight", Some(s"flight_$n"), spark) {
              builds.incrementAndGet()
              Thread.sleep(200) // hold the flight open while the others arrive
              (1 to 50).map(i => (i.toLong, s"row $i")).toDF("id", "text")
            }.as[(Long, String)].collect().sorted.toSeq
          }
        })
      }
      start.countDown()
      val results = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get() == 1, s"expected one build, got ${builds.get()}")
      assert(results.distinct.size == 1 && results.head.size == 50)
      assert(frameKeys("flight_").size == 1)
    } finally pool.shutdown()
  }

  test("a throwing build leaves nothing behind and the next caller builds again") {
    val n = System.nanoTime()
    val builds = new AtomicInteger(0)
    def acquire(fail: Boolean) = Memo.frame("throwing", Some(s"throwing_$n"), spark) {
      builds.incrementAndGet()
      if (fail) throw new RuntimeException("build failed")
      Seq(7L).toDF("id")
    }
    intercept[RuntimeException](acquire(fail = true))
    assert(frameKeys("throwing_").isEmpty, "a failed build must store nothing")
    assert(acquire(fail = false).as[Long].collect().toSeq == Seq(7L))
    assert(builds.get() == 2, "the caller after a failure must build again")
    assert(acquire(fail = true).as[Long].collect().toSeq == Seq(7L), "a built key is a hit")
    assert(builds.get() == 2 && frameKeys("throwing_").size == 1)
  }

  test("build-once reruns only when its data key changes") {
    val name = s"once_spec_${System.nanoTime()}"
    val builds = new AtomicInteger(0)
    Memo.once(name, "a")(builds.incrementAndGet(): Unit)
    Memo.once(name, "a")(builds.incrementAndGet(): Unit)
    assert(builds.get() == 1)
    Memo.once(name, "b")(builds.incrementAndGet(): Unit)
    assert(builds.get() == 2)
    intercept[RuntimeException](Memo.once(name, "c")(throw new RuntimeException("build failed")))
    Memo.once(name, "c")(builds.incrementAndGet(): Unit)
    assert(builds.get() == 3, "a failed build-once must rebuild on the next call")
  }

  test("a content-keyed frame acquired before and after Fixtures.events is one entry, one build") {
    // a fresh session carries only the confs set at session build; the
    // events loader must not change a conf that is part of the memo key
    val s2 = spark.newSession()
    val n = System.nanoTime()
    val builds = new AtomicInteger(0)
    def acquire() = Memo.frame("evkey", Some(s"events_key_$n"), s2) {
      builds.incrementAndGet()
      s2.range(3).toDF("id")
    }
    // a minimal events fixture in the long-nanos encoding
    val dir = tempDir("memo_events")
    s2.range(3)
      .select(col("id").as("event_id"), (col("id") * 1000000000L).as("ts"), col("id").as("user_id"),
        lit("click").as("event_type"), col("id").cast("double").as("value"), lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    assert(acquire().count() == 3L)
    assert(graft.queries.Fixtures.events(s2, dir).filter(col("ts").isNull).count() == 0L)
    assert(acquire().count() == 3L)
    assert(frameKeys("evkey_").size == 1, s"memo entries: ${frameKeys("evkey_")}")
    assert(builds.get() == 1, s"builds: ${builds.get()}")
  }
}
