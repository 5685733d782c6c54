package graft.queries

import java.sql.Timestamp

import graft.SparkSpec

/** ev_stationary collects the transition matrix to the driver under the
  * bounded-event-type-enum contract (|types|² ≤ 10⁴ — the same shape as
  * the engine's other bounded collects). The r15 guard must fail LOUDLY,
  * naming the contract, when a corpus violates it — never OOM quietly.
  */
class StationaryGuardSpec extends SparkSpec {
  import spark.implicits._

  test("ev_stationary: a >10^4-transition corpus fails loudly at the guard") {
    val dir = graft.rawdata.Topic.tempDir("stationary-guard")
    // one user per ordered type pair (102 types → 10404 distinct
    // transitions), two events each — every pair lands one matrix row
    val n = 102
    val rows = for {
      a <- 0 until n; b <- 0 until n
    } yield {
      val u = (a * n + b).toLong
      Seq((2 * u, new Timestamp(1700000000000L), u, s"t$a", 1.0, "{}"),
        (2 * u + 1, new Timestamp(1700000060000L), u, s"t$b", 1.0, "{}"))
    }
    rows.flatten.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      EventQueries.queries("ev_stationary")(spark, dir)
    }
    assert(e.getMessage.contains("bounded-event-type-enum contract"),
      s"guard must name the contract, got: ${e.getMessage}")
    graft.rawdata.Topic.rmTree(new java.io.File(dir))
  }

  test("ev_stationary: the real corpus stays inside the guard") {
    // the sf0.001 corpus has a bounded type enum — the guard must not fire
    assert(EventQueries.queries("ev_stationary")(spark, sf).count() > 0)
  }
}
