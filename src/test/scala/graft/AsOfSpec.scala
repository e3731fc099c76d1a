package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.AsOf

class AsOfSpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private lazy val trades = Seq(
    ("A", ts(1), 100L),
    ("A", ts(5), 101L),
    ("A", ts(10), 102L),
    ("B", ts(3), 200L),
    ("C", ts(4), 300L) // key with no quotes at all
  ).toDF("sym", "ts", "trade_id")

  private lazy val quotes = Seq(
    ("A", ts(0), 10.0),
    ("A", ts(5), 11.0), // exact-timestamp tie with trade A@5
    ("A", ts(7), 12.0),
    ("B", ts(9), 20.0) // later than B's only trade
  ).toDF("sym", "ts", "px")

  test("as-of join picks the most recent prior (or equal) right row per key") {
    val out = AsOf.joinAsOf(trades, quotes, Seq("sym"), "ts", Seq("px"))
      .select("trade_id", "px").as[(Long, Option[Double])].collect().toMap
    assert(out(100L) == Some(10.0)) // A@1 ← quote@0
    assert(out(101L) == Some(11.0)) // A@5 ← quote@5 (tie matches, >= semantics)
    assert(out(102L) == Some(12.0)) // A@10 ← quote@7
    assert(out(200L) == None) // B@3: only quote is at 9, later
    assert(out(300L) == None) // C: no quotes
  }

  test("as-of join preserves every left row and column") {
    val out = AsOf.joinAsOf(trades, quotes, Seq("sym"), "ts", Seq("px"))
    assert(out.count() == trades.count())
    assert(out.columns.toSeq == (trades.columns.toSeq :+ "px"))
  }

  test("tolerance nulls out stale matches") {
    val out = AsOf.joinAsOfTolerant(trades, quotes, Seq("sym"), "ts", Seq("px"), "2 minutes")
      .select("trade_id", "px").as[(Long, Option[Double])].collect().toMap
    assert(out(100L) == Some(10.0)) // 1 minute old — fresh
    assert(out(101L) == Some(11.0)) // same-instant
    assert(out(102L) == None) // quote@7 is 3 minutes before trade@10 — stale
  }

  test("null-timestamp right rows match nothing (not everything)") {
    val qs = Seq(("A", null.asInstanceOf[Timestamp], 99.0)).toDF("sym", "ts", "px")
    val out = AsOf.joinAsOf(trades, qs, Seq("sym"), "ts", Seq("px"))
      .select("trade_id", "px").as[(Long, Option[Double])].collect().toMap
    assert(out.values.forall(_.isEmpty))
  }

  test("null-KEY right rows match nothing — ASOF joins on key equality (round 20)") {
    // The declared oracle is a native ASOF JOIN `ON l.key = r.key AND
    // l.ts >= r.ts`: an equality with NULL is false, so a null-key
    // right row can match nothing — including a null-key LEFT row.
    // (The pre-round-20 keyed window grouped null-key right rows WITH
    // null-key left rows and filled them — a divergence from the
    // oracle in this corner; the left row still survives with a NULL
    // value, left-outer semantics.) Both bucket paths pinned.
    val tradesN = trades.unionByName(
      Seq((null.asInstanceOf[String], ts(6), 400L)).toDF("sym", "ts", "trade_id"))
    val qs = Seq(
      ("A", ts(0), 10.0),
      (null.asInstanceOf[String], ts(2), 99.0)
    ).toDF("sym", "ts", "px")
    for (buckets <- Seq(1, 32)) {
      val out = AsOf.joinAsOf(tradesN, qs, Seq("sym"), "ts", Seq("px"), timeBuckets = buckets)
        .select("trade_id", "px").as[(Long, Option[Double])].collect().toMap
      assert(out(400L).isEmpty, s"buckets=$buckets: null-key left row matched a null-key right row")
      assert(out(100L) == Some(10.0), s"buckets=$buckets")
      assert(out.size == tradesN.count())
    }
    // the SQL-text backend drops the same right rows as the plan path
    tradesN.createOrReplaceTempView("AsofNullTrades")
    qs.createOrReplaceTempView("AsofNullQuotes")
    val cat = Map("AsofNullTrades" -> tradesN, "AsofNullQuotes" -> qs)
    val q = "AsofNullTrades | join kind=asof (AsofNullQuotes) on sym, ts | project trade_id, px"
    val viaSql = spark.sql(Pql.compileToSql(q, cat)).as[(Long, Option[Double])].collect().toMap
    assert(viaSql(400L).isEmpty, "SQL text: null-key left row matched a null-key right row")
    assert(viaSql == Pql.query(spark, q, cat).as[(Long, Option[Double])].collect().toMap)
  }

  test("multi-value fill takes the whole matched row, even when a value is NULL") {
    // DuckDB/kdb ASOF: the most recent right row wins ATOMICALLY — a
    // NULL field in the matched row stays NULL, it is not backfilled
    // from an older row, and px/size never mix across right rows.
    val qs = Seq(
      ("A", ts(0), Option(10.0), Option(5L)),
      ("A", ts(4), None, Option(7L)), // px NULL in the matching row
      ("A", ts(8), Option(12.0), None) // size NULL in the matching row
    ).toDF("sym", "ts", "px", "size")
    val out = AsOf.joinAsOf(trades, qs, Seq("sym"), "ts", Seq("px", "size"))
      .select("trade_id", "px", "size")
      .as[(Long, Option[Double], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(100L) == ((Some(10.0), Some(5L)))) // A@1 ← quote@0
    assert(out(101L) == ((None, Some(7L)))) // A@5 ← quote@4: px stays NULL
    assert(out(102L) == ((Some(12.0), None))) // A@10 ← quote@8: size stays NULL
  }

  test("plan (timeBuckets=1) is union + keyed window: no range-join probing, one shuffle") {
    val df = AsOf.joinAsOf(trades, quotes, Seq("sym"), "ts", Seq("px"), timeBuckets = 1)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan) // not a join at all
    assert(plan.contains("Window"), plan)
  }

  test("bucketed plan splits the per-key sort on (key, bucket); no cartesian, no range probe") {
    val df = AsOf.joinAsOf(trades, quotes, Seq("sym"), "ts", Seq("px"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the fill window partitions on (key, __bucket) — a hot key's sort
    // runs as up to timeBuckets parallel tasks, not one
    assert(
      plan.contains("hashpartitioning(sym") && plan.contains("__bucket"),
      plan
    )
    // the 1-row bounds aggregate is collected at plan time (round 19)
    // and baked as literals — no nested-loop join of any kind remains,
    // and there is never a per-row range probe
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Window"), plan)
    // same answer as the single-window form
    val single = AsOf.joinAsOf(trades, quotes, Seq("sym"), "ts", Seq("px"), timeBuckets = 1)
    assert(
      df.orderBy("trade_id").collect().toSeq == single.orderBy("trade_id").collect().toSeq
    )
  }
}
