package graft

import org.apache.spark.sql.functions._
import graft.queries.{JoinQueries, ScaledWindow, StreamQueries, WindowQueries}

class JoinWindowStreamSpec extends SparkSpec {

  test("all join/window/stream queries execute and return rows") {
    (JoinQueries.queries ++ WindowQueries.queries ++ StreamQueries.queries)
      .foreach { case (name, fn) =>
        assert(fn(spark, sf).count() > 0, s"$name returned no rows")
      }
  }

  test("semi + anti partition orders") {
    val total = Tables.orders(spark, sf).count()
    val semi = JoinQueries.queries("q_join_semi")(spark, sf).count()
    val anti = JoinQueries.queries("q_join_anti")(spark, sf).count()
    assert(semi + anti == total)
  }

  test("as-of join matches brute force for sampled users") {
    val asof = JoinQueries.queries("q_join_asof")(spark, sf)
      .select("event_id", "purchase_us").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val e = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect()
    val purchases = e.filter(_.getString(2) == "purchase")
      .groupBy(_.getLong(1))
      .map { case (u, rs) => u -> rs.map(_.getLong(3)).sorted.toSeq }
    e.filter(_.getString(2) == "click").take(200).foreach { r =>
      val expect = purchases.getOrElse(r.getLong(1), Seq.empty)
        .takeWhile(_ <= r.getLong(3)).lastOption
      assert(asof(r.getLong(0)) == expect, s"event ${r.getLong(0)}")
    }
  }

  test("retention equals a driver-side cohort recomputation") {
    val days = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val byDay = days.groupBy(_._2)
    val want = byDay.keys.toSeq.sorted.map { day =>
      val users = byDay(day).map(_._1).toSet
      val next = byDay.getOrElse(day + 1, Array.empty[(Long, Long)]).map(_._1).toSet
      (day, users.size.toLong, (users intersect next).size.toLong)
    }
    val got = graft.queries.StreamQueries.queries("q_retention")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("funnel counts match a driver-side recomputation") {
    val day = 86400000000L
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    var (nV, nC, nP) = (0L, 0L, 0L)
    evs.groupBy(_._1).foreach { case (_, es) =>
      val t1 = es.filter(_._2 == "view").map(_._3).minOption
      t1.foreach { t1v =>
        nV += 1
        val t2 = es.filter(e => e._2 == "click" && e._3 > t1v && e._3 <= t1v + day)
          .map(_._3).minOption
        t2.foreach { t2v =>
          nC += 1
          if (es.exists(e => e._2 == "purchase" && e._3 > t2v && e._3 <= t2v + day))
            nP += 1
        }
      }
    }
    val r = StreamQueries.queries("q_funnel")(spark, sf).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((nV, nC, nP)))
  }

  test("session_window operator agrees with lag-gap sessionization") {
    val a = StreamQueries.queries("q_session_window")(spark, sf)
      .select("user_id", "s_start_us", "n_events").collect().map(_.toSeq).toSet
    val b = StreamQueries.queries("q_sessionize")(spark, sf)
      .select("user_id", "s_start_us", "n_events").collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("sliding windows hold each event exactly twice") {
    val n = Tables.events(spark, sf).count()
    val windowed = StreamQueries.queries("q_window_sliding")(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(windowed == 2 * n)
  }

  test("label encode is a bijection in sorted value order") {
    val rows = WindowQueries.queries("q_label_encode")(spark, sf)
      .select("c_mktsegment", "segment_code").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).sortBy(_._1)
    assert(rows.map(_._2).sameElements(rows.indices))
  }

  test("broadcast join plan actually broadcasts the dim side") {
    val plan = JoinQueries.queries("q_join_broadcast")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  test("rank columns are consistent within a partition") {
    val rows = WindowQueries.queries("q_win_rank")(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("rn", "rnk", "drnk").collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) == i + 1)
      assert(r.getInt(1) <= r.getInt(0) && r.getInt(2) <= r.getInt(1))
    }
  }

  test("salted rank reproduces the plain window exactly") {
    val plain = WindowQueries.queries("q_win_rank")(spark, sf)
      .collect().map(_.toSeq)
    val salted = WindowQueries.queries("q_win_rank_salted")(spark, sf)
      .collect().map(_.toSeq)
    assert(salted.length == plain.length)
    salted.zip(plain).foreach { case (s, p) => assert(s == p) }
  }

  test("salted rank stays exact with exchange reuse disabled") {
    // the salted plan's rank must not rely on the optimizer deduping
    // its exchanges or its scalar subqueries
    withConf(
      "spark.sql.exchange.reuse" -> "false",
      "spark.sql.execution.reuseSubquery" -> "false") {
      val plain = WindowQueries.queries("q_win_rank")(spark, sf)
        .collect().map(_.toSeq)
      val salted = WindowQueries.queries("q_win_rank_salted")(spark, sf)
        .collect().map(_.toSeq)
      assert(salted.length == plain.length)
      salted.zip(plain).foreach { case (s, p) => assert(s == p) }
    }
  }

  test("salted rank never sorts a whole segment in one task") {
    // the skew-proof property: every segment spans more than one of the
    // rankCum buckets the salted query windows over, so no single
    // task's sort covers a full segment
    val slices = withConf("spark.sql.shuffle.partitions" -> "32") {
      ScaledWindow.bucketed(Tables.customer(spark, sf), WindowQueries.saltedOrder)
        .groupBy("c_mktsegment")
        .agg(countDistinct(col("_b")).as("n_slices"))
        .collect()
    }
    assert(slices.length == 5)
    slices.foreach { r =>
      assert(r.getLong(1) > 1,
        s"segment ${r.getString(0)} landed in a single bucket")
    }
  }
}
