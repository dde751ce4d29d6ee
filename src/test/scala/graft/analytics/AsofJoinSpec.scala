package graft.analytics

import graft.SparkSpec

class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  test("asofJoin: latest prior-or-equal right row per key; null when none") {
    val left = Seq(
      (1L, 10L, ts(100)), // between q@50 and q@150 → matches 50
      (2L, 10L, ts(150)), // exactly at q@150 → same-ts match
      (3L, 10L, ts(40)),  // before any quote → null
      (4L, 20L, ts(100))  // other key, no quotes at all → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts(50), 1.5), (10L, ts(150), 2.5), (10L, ts(999), 9.9)
    ).toDF("user_id", "ts", "value")
    val out = AsofJoin.asofJoin(left, right, Seq("user_id"), "ts")
      .select($"event_id", $"asof_value")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out === Map(1L -> Some(1.5), 2L -> Some(2.5),
      3L -> None, 4L -> None))
  }

  test("asofJoin plan: one key shuffle, no range join explosion") {
    val p = graft.SparkEntry.queries("q20_asof_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("asofJoinForward: earliest at-or-after right row; tolerance nulls far matches") {
    val left = Seq(
      (1L, 10L, ts(100)), // next quote at 150 → matches 2.5
      (2L, 10L, ts(150)), // exactly at q@150 → same-ts match
      (3L, 10L, ts(1000)), // after all quotes → null
      (4L, 20L, ts(100))  // other key, no quotes → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts(50), 1.5), (10L, ts(150), 2.5), (10L, ts(999), 9.9)
    ).toDF("user_id", "ts", "value")
    def run(tol: Option[String]) =
      AsofJoin.asofJoinForward(left, right, Seq("user_id"), "ts",
        tolerance = tol)
        .select($"event_id", $"asof_value")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(run(None) === Map(1L -> Some(2.5), 2L -> Some(2.5),
      3L -> None, 4L -> None))
    // 40s tolerance: click 1's next quote is 50s away → nulled; the
    // same-ts match survives trivially
    assert(run(Some("40 seconds")) === Map(1L -> None, 2L -> Some(2.5),
      3L -> None, 4L -> None))
  }

  test("q50 plan: forward asof is the same window shape, no range explosion") {
    val p = graft.SparkEntry.queries("q50_asof_forward")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }
}
