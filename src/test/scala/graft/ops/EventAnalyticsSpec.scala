package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions.{col, sum}

import graft.SparkSuite
import graft.sources.Tables

/** Event-analytics laws: each operator is checked exactly against a
  * driver-side reference implementation over the real sf0.001 events
  * table (1000 rows — small enough to replay in Scala, real enough to
  * carry ties, gaps, and multi-day spans), plus the plan pins that
  * hold the one-exchange designs. */
class EventAnalyticsSpec extends SparkSuite {

  private lazy val events: Seq[(Long, Long, Timestamp, Double, String)] =
    Tables.events(spark, sf)
      .select("user_id", "event_id", "ts", "value", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getDouble(3), r.getString(4)))
      .toSeq

  // --- sessionize ---

  private def refSessions(gapMinutes: Long): Map[(Long, Long), (Timestamp, Timestamp, Long)] = {
    val gapUs = gapMinutes * 60L * 1000000L
    def us(t: Timestamp) = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    events.groupBy(_._1).flatMap { case (user, evs) =>
      val ordered = evs.sortBy(e => (us(e._3), e._2))
      var sess = 0L
      var prev = Long.MinValue
      val tagged = ordered.map { e =>
        if (prev == Long.MinValue || us(e._3) - prev > gapUs) sess += 1
        prev = us(e._3)
        (sess, e)
      }
      tagged.groupBy(_._1).map { case (s, g) =>
        val ts = g.map(_._2._3)
        (user, s) -> (ts.minBy(us), ts.maxBy(us), g.size.toLong)
      }
    }
  }

  test("sessionize matches the driver-side reference on real events") {
    val got = EventAnalytics.sessionize(Tables.events(spark, sf))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getTimestamp(2), r.getTimestamp(3), r.getLong(4)))
      .toMap
    val want = refSessions(720L)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (s, e, n)) =>
      assert((s, e, n) == want(k), s"session $k")
    }
  }

  test("sessionize plan: one exchange feeds windows AND the per-session aggregate") {
    val plan = EventAnalytics.sessionize(Tables.events(spark, sf))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(800))
  }

  test("sessionize: sessions are maximal (boundary gaps exceed the threshold)") {
    // adjacent sessions of the same user must be separated by > gap —
    // otherwise the flag logic merged or split wrongly somewhere
    val gapUs = 720L * 60L * 1000000L
    def us(t: Timestamp) = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val rows = EventAnalytics.sessionize(Tables.events(spark, sf))
      .select("user_id", "session_no", "session_start", "session_end")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3)))
      .sortBy(t => (t._1, t._2))
    rows.sliding(2).foreach {
      case Array((u1, s1, _, end1), (u2, s2, start2, _)) if u1 == u2 =>
        assert(s2 == s1 + 1, s"session numbering gap for user $u1")
        assert(us(start2) - us(end1) > gapUs,
          s"user $u1 sessions $s1/$s2 closer than the gap")
      case _ => ()
    }
  }

  test("sessionize laws: events conserved at any gap; session count monotone in gap") {
    val ev = Tables.events(spark, sf)
    val total = ev.count()
    val counts = Seq(1L, 60L, 720L, 527040L).map { gap =>
      val df = EventAnalytics.sessionize(ev, gapMinutes = gap)
      val agg = df.agg(org.apache.spark.sql.functions.sum(col("n_events")),
        org.apache.spark.sql.functions.count(col("session_no"))).collect()(0)
      assert(agg.getLong(0) == total, s"gap=$gap must conserve events")
      agg.getLong(1)
    }
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"session count must shrink as the gap grows: $counts")
    // a gap longer than the fixture's whole span → one session per user
    val users = ev.select("user_id").distinct().count()
    assert(counts.last == users, "huge gap collapses to one session per user")
  }

  test("sessionize agrees with Spark's builtin session_window aggregation") {
    // independent implementation cross-check: the builtin gap-session
    // aggregate must produce the same (user, n_events, start) session
    // multiset. Boundary semantics differ only when a gap EXACTLY
    // equals the threshold (builtin merges ts < prev+gap, ours splits
    // on > gap); microsecond fixture timestamps never land there.
    import org.apache.spark.sql.functions.{col => c, count, session_window, sum}
    val ev = Tables.events(spark, sf)
    def us(t: Timestamp) = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val builtin = ev.groupBy(session_window(c("ts"), "720 minutes"), c("user_id"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_events"))
      .select(c("user_id"), c("session_window.start").as("session_start"), c("n_events"))
      .collect().map(r => (r.getLong(0), us(r.getTimestamp(1)), r.getLong(2))).sorted
    val ours = EventAnalytics.sessionize(ev)
      .select(c("user_id"), c("session_start"), c("n_events"))
      .collect().map(r => (r.getLong(0), us(r.getTimestamp(1)), r.getLong(2))).sorted
    assert(ours.toSeq == builtin.toSeq)
  }

  // --- funnel ---

  test("funnel matches the driver-side reference on real events") {
    def us(t: Timestamp) = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val want = events.groupBy(_._1).map { case (user, evs) =>
      val t1 = evs.filter(_._5 == "view").map(_._3).sortBy(us).headOption
      val t2 = t1.flatMap(a =>
        evs.filter(e => e._5 == "click" && us(e._3) > us(a)).map(_._3).sortBy(us).headOption)
      val t3 = t2.flatMap(b =>
        evs.filter(e => e._5 == "purchase" && us(e._3) > us(b)).map(_._3).sortBy(us).headOption)
      user -> (t1, t2, t3, t1.size + t2.size + t3.size.toLong)
    }
    val got = EventAnalytics.funnel(Tables.events(spark, sf))
      .collect()
      .map(r => r.getLong(0) -> (Option(r.getTimestamp(1)), Option(r.getTimestamp(2)),
        Option(r.getTimestamp(3)), r.getLong(4)))
      .toMap
    // users with no funnel-stage events at all produce no row (the
    // filter drops them before the window) — compare on the union and
    // require absent users to have an empty reference funnel
    want.foreach { case (u, w) =>
      got.get(u) match {
        case Some(g) => assert(g == w, s"user $u")
        case None => assert(w._4 == 0L, s"user $u missing but reached ${w._4}")
      }
    }
    assert(got.keySet.subsetOf(want.keySet))
  }

  test("funnel: stage counts are monotone non-increasing, plan has one exchange") {
    val df = EventAnalytics.funnel(Tables.events(spark, sf))
    val reached = df.groupBy().agg(
      org.apache.spark.sql.functions.sum(col("t_stage1").isNotNull.cast("long")),
      org.apache.spark.sql.functions.sum(col("t_stage2").isNotNull.cast("long")),
      org.apache.spark.sql.functions.sum(col("t_stage3").isNotNull.cast("long")))
      .collect()(0)
    assert(reached.getLong(0) >= reached.getLong(1))
    assert(reached.getLong(1) >= reached.getLong(2))
    assert(reached.getLong(0) > 0, "fixture must exercise stage 1")
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(800))
  }

  test("abTest matches the driver-side two-proportion z-test") {
    val byUser = events.groupBy(_._1)
    val conv = byUser.toSeq.map { case (u, evs) =>
      (u % 2, if (evs.count(_._5 == "purchase") > 13) 1L else 0L)
    }
    val (na, nb) = (conv.count(_._1 == 0).toLong, conv.count(_._1 == 1).toLong)
    val (ca, cb) = (conv.filter(_._1 == 0).map(_._2).sum, conv.filter(_._1 == 1).map(_._2).sum)
    val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
    val pooled = (ca + cb).toDouble / (na + nb)
    val z = (pa - pb) / math.sqrt(pooled * (1 - pooled) * (1.0 / na + 1.0 / nb))
    val r = EventAnalytics.abTest(Tables.events(spark, sf)).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((na, nb, ca, cb)))
    if (pooled == 0.0 || pooled == 1.0) {
      assert(r.isNullAt(6) && r.getLong(7) == 0L, "degenerate pooled rate must null z")
    } else {
      assert(math.abs(r.getDouble(6) - z) < 1e-5, s"z ${r.getDouble(6)} vs $z")
      assert(r.getLong(7) == (if (math.abs(z) > 1.96) 1L else 0L))
    }
    // degenerate arm: threshold 0 converts EVERY user (each fires every
    // type on this dense fixture) → pooled rate 1, variance 0 → the
    // nullif guard yields NULL z and significant=0, never a crash
    val all = EventAnalytics.abTest(Tables.events(spark, sf),
      convType = "view", minEvents = 0L).head
    assert(all.getDouble(4) == 1.0 && all.getDouble(5) == 1.0)
    assert(all.isNullAt(6) && all.getLong(7) == 0L)
  }

  test("resampleDaily: dense per-user spine, events conserved, gaps zero-filled") {
    val day = java.time.ZoneOffset.UTC
    def dayOf(t: Timestamp) = t.toInstant.atZone(day).toLocalDate
    val out = EventAnalytics.resampleDaily(Tables.events(spark, sf))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant.atZone(day).toLocalDate,
        r.getLong(2), r.getDouble(3)))
    val byUser = out.groupBy(_._1)
    val evByUser = events.groupBy(_._1)
    assert(byUser.keySet == evByUser.keySet)
    byUser.foreach { case (u, rows) =>
      val days = rows.map(_._2).sortBy(_.toEpochDay)
      val (d0, d1) = (evByUser(u).map(e => dayOf(e._3)).minBy(_.toEpochDay),
        evByUser(u).map(e => dayOf(e._3)).maxBy(_.toEpochDay))
      assert(days.head == d0 && days.last == d1, s"user $u span")
      assert(days.length == d1.toEpochDay - d0.toEpochDay + 1, s"user $u density")
      assert(days.distinct.length == days.length, s"user $u dup days")
      assert(rows.map(_._3).sum == evByUser(u).size.toLong, s"user $u events conserved")
      rows.filter(_._3 == 0).foreach { case (_, _, _, v) =>
        assert(v == 0.0, s"user $u gap day with nonzero value")
      }
    }
  }

  // --- retention ---

  test("retention matches the driver-side reference; offset 0 equals cohort size") {
    val day = java.time.ZoneOffset.UTC
    def dayOf(t: Timestamp) = t.toInstant.atZone(day).toLocalDate
    val firstDay = events.groupBy(_._1).map { case (u, evs) =>
      u -> evs.map(e => dayOf(e._3)).min(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    }
    val want = events.flatMap(e => Some((e._1, dayOf(e._3)))).distinct
      .map { case (u, d) => (firstDay(u), d.toEpochDay - firstDay(u).toEpochDay) }
      .filter(_._2 <= 7)
      .groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val got = EventAnalytics.retention(Tables.events(spark, sf))
      .collect()
      .map(r => (r.getTimestamp(0).toInstant.atZone(day).toLocalDate,
        r.getInt(1).toLong) -> r.getLong(2))
      .toMap
    assert(got == want.map { case ((d, o), n) => (d, o) -> n })
    // offset 0 is the cohort size: every user is active on their first day
    val cohortSizes = firstDay.groupBy(_._2).map { case (d, g) => d -> g.size.toLong }
    cohortSizes.foreach { case (d, n) =>
      assert(got((d, 0L)) == n, s"cohort $d day-0")
    }
  }

  // --- pageRank ---

  test("pageRank matches an exact integer driver replay on a synthetic graph") {
    import spark.implicits._
    // user walks: 1→2→3→1→2 (user A), 2→3→2 (user B), 4→3 (user C),
    // plus a self-loop 3→3 that must be DROPPED
    val walks = Seq(
      (10L, Seq(1L, 2L, 3L, 1L, 2L)),
      (11L, Seq(2L, 3L, 3L, 2L)), // contains the self-loop 3→3
      (12L, Seq(4L, 3L)))
    val rows = walks.flatMap { case (u, ks) =>
      ks.zipWithIndex.map { case (k2, i) =>
        (u * 1000L + i, new Timestamp(1700000000000L + u * 1000000L + i * 1000L),
          u, "view", 0.0, s"""{"k": $k2}""")
      }
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventAnalytics.pageRankQ(ev, iters = 3, k = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toList
    graft.ops.PipelineCaches.release(spark)
    // driver replay, same integer nano arithmetic
    val edges = walks.flatMap { case (_, ks) =>
      ks.zip(ks.tail).filter(p => p._1 != p._2)
    }.groupBy(identity).map { case (e, g) => e -> g.size.toLong }
    val wout = edges.groupBy(_._1._1).map { case (s, g) => s -> g.values.sum }
    val nodes = edges.keys.flatMap(e => Seq(e._1, e._2)).toSet
    var r = nodes.map(_ -> 1000000000L).toMap
    (1 to 3).foreach { _ =>
      val s = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case ((a, b), w) => s(b) += r(a) * w / wout(a) }
      r = nodes.map(v => v -> (150000000L + 85L * s(v) / 100L)).toMap
    }
    val want = r.toList.sortBy { case (n, rk) => (-rk, n) }
    assert(got == want, s"got $got want $want")
    // every node keeps at least the base mass; the hub (3) outranks the
    // leaf source (4), which nothing points at
    assert(got.forall(_._2 >= 150000000L))
    assert(r(3L) > r(4L))
    // branch parity: the DISTRIBUTED loop (gate forced large) must
    // equal the local contraction the fixture rides
    val dist = forced("large") { s =>
      import s.implicits._
      EventAnalytics.pageRankQ(rows.toDF(ev.columns.toSeq: _*), iters = 3, k = 10).collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toList
    }
    assert(dist == want, "distributed branch diverged from local contraction")
  }

  test("pageRank on real events: deterministic, top-k cut respected, ranks above base") {
    val a = EventAnalytics.pageRankQ(Tables.events(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    graft.ops.PipelineCaches.release(spark)
    val b = EventAnalytics.pageRankQ(Tables.events(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    graft.ops.PipelineCaches.release(spark)
    assert(a == b, "pageRank must be bit-deterministic across runs")
    assert(a.length <= 20 && a.nonEmpty)
    assert(a.forall(_._2 >= 150000000L), "base mass floor")
    assert(a == a.sortBy(x => (-x._2, x._1)), "output ordered (rank desc, node asc)")
  }

  test("label propagation: two weakly-bridged cliques resolve as two " +
    "communities; branch parity; nodes conserved") {
    // two triangles {1,2,3} and {10,11,12} with heavy internal edges,
    // one light bridge 3–10: after 2 synchronous min-label rounds the
    // left triangle carries label 1 and the right label 10
    val edges = Seq(
      (1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 5L),
      (10L, 11L, 5L), (11L, 12L, 5L), (10L, 12L, 5L),
      (3L, 10L, 1L))
    def labels(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      val es = edges.toDF("src", "dst", "w")
      val sym = es.select(col("src"), col("dst"), col("w"))
        .unionByName(es.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        .groupBy("src", "dst").agg(sum("w").as("w"))
      EventAnalytics.propagateLabels(sym, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val local = labels(spark)
    assert(local.values.sum == 6L, "every node labeled exactly once")
    assert(local.keySet == Set(1L, 10L) && local(1L) == 3L && local(10L) == 3L,
      s"expected two 3-node communities, got $local")
    // branch parity: force the distributed loop
    val dist = forced("large")(labels)
    assert(dist == local, "distributed branch diverged from local contraction")
  }

  test("seq dataset: exact driver replay of the trailing-k context; " +
    "population = events with a predecessor; contexts bounded by k") {
    val ev = Tables.events(spark, sf)
    val seq = ev.select(col("user_id"), col("event_id"), col("ts"),
      col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
    val want = seq.groupBy(_._1).values.flatMap { rows =>
      val ordered = rows.sortBy(r => (r._3.getTime, r._2))
      ordered.zipWithIndex.collect { case ((_, id, _, label), i) if i > 0 =>
        val ctx = ordered.slice(math.max(0, i - 3), i).map(_._4).mkString(" ")
        (id, ctx, label)
      }
    }.toSet
    val got = EventAnalytics.seqDatasetQ(ev).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getString(3))).toSet
    assert(got == want, "engine pairs must replay the ordered context")
    assert(got.forall(_._2.split(" ").length <= 3), "context bounded by k")
    val nWithPred = seq.groupBy(_._1).values.map(_.size - 1).sum
    assert(got.size == nWithPred,
      "every event with a predecessor emits exactly one pair")
  }

  test("mau: driver-side replay; window=1 degenerates to DAU; " +
    "mau dominates dau everywhere") {
    val ev = Tables.events(spark, sf)
    val act = ev.select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val days = act.map(_._2).distinct
    val want = days.map { d =>
      d -> act.filter(a => !a._2.isAfter(d) &&
        !a._2.isBefore(d.minusDays(29))).map(_._1).distinct.length.toLong
    }.toMap
    val got = EventAnalytics.mauQ(ev).collect()
      .map(r => r.getTimestamp(0).toLocalDateTime.toLocalDate -> r.getLong(1))
      .toMap
    assert(got == want, "mau must replay the trailing-30-day distinct count")
    val dau = EventAnalytics.mauQ(ev, windowDays = 1).collect()
      .map(r => r.getTimestamp(0).toLocalDateTime.toLocalDate -> r.getLong(1))
      .toMap
    val wantDau = days.map(d =>
      d -> act.filter(_._2 == d).map(_._1).distinct.length.toLong).toMap
    assert(dau == wantDau, "window=1 is exactly DAU")
    assert(got.forall { case (d, m) => m >= dau(d) },
      "a 30-day window can only see more users than its last day")
  }

  test("mau approx: KMV error law (rel_err well under 5/sqrt(k-2)); " +
    "exact mode when a window holds < k users; merge == window sketch") {
    val ev = Tables.events(spark, sf)
    // the gate carries the estimate and rel_err as deterministic data;
    // the LAW lives here: KMV rsd is ~1/sqrt(k-2), so 5 sigma is a
    // generous-but-meaningful ceiling at any fixture
    val k = 256
    val rows = EventAnalytics.mauApproxQ(ev, k = k).collect()
    assert(rows.nonEmpty)
    val bound = 5.0 / math.sqrt(k - 2.0)
    rows.foreach { r =>
      val (exact, kUsed, est, relErr) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(relErr <= bound,
        s"day ${r.get(0)}: rel_err $relErr breaks the 5-sigma KMV law")
      if (kUsed < k)
        assert(est == kUsed.toDouble && exact.toDouble == est,
          "a window with < k hashes must report exactly (collision-free fixture)")
    }
    // tiny-k forces estimator mode even at the fixture (sf0.001 has
    // 15 distinct users), and the law still holds with its wider rsd
    val small = EventAnalytics.mauApproxQ(ev, k = 8).collect()
    assert(small.exists(_.getLong(2) == 8L),
      "k=8 must saturate the sketch on this fixture")
    val wide = 5.0 / math.sqrt(8 - 2.0)
    small.foreach(r => assert(r.getDouble(4) <= wide,
      s"k=8 day ${r.get(0)}: rel_err ${r.getDouble(4)} breaks the law"))
  }

  test("hits: star fixture separates hubs from authorities; branch parity") {
    // 1,2,3 all point at 9; 9 points nowhere. 9 is the pure authority
    // (max score by construction), the pointers are pure equal hubs,
    // and every score the roles forbid is exactly zero.
    val edges = Seq((1L, 9L, 2L), (2L, 9L, 2L), (3L, 9L, 2L))
    def scores(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      EventAnalytics.hitsEdges(edges.toDF("src", "dst", "w")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    val local = scores(spark)
    val auth = local.map(x => x._1 -> x._2).toMap
    val hub = local.map(x => x._1 -> x._3).toMap
    assert(auth(9L) == local.map(_._2).max && auth(9L) > 0L)
    assert(auth(1L) == 0L && auth(2L) == 0L && auth(3L) == 0L,
      "no in-edges → zero authority")
    assert(hub(9L) == 0L, "no out-edges → zero hub")
    assert(hub(1L) == hub(2L) && hub(2L) == hub(3L) && hub(1L) > 0L,
      "symmetric pointers are equal hubs")
    val dist = forced("large")(scores)
    assert(dist.sortBy(_._1).toSeq == local.sortBy(_._1).toSeq,
      "distributed branch diverged from local contraction")
  }

  test("hits on zero edges returns an empty frame (no empty-max throw); " +
    "the distributed gate ships no edge rows") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(EventAnalytics.hitsEdges(none).isEmpty,
      "empty edge set must yield an empty frame, like propagateLabels")
    assert(EventAnalytics.rankEdges(none).isEmpty)
    assert(EventAnalytics.propagateLabels(none).isEmpty)
  }

  test("hits on real events: deterministic, top-k by authority, branch parity") {
    val ev = Tables.events(spark, sf)
    val a = EventAnalytics.hitsQ(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    graft.ops.PipelineCaches.release(spark)
    val b = forced("large")(s => EventAnalytics.hitsQ(Tables.events(s, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList)
    assert(a.toSet == b.toSet, "branch parity on the real graph")
    assert(a.length <= 20 && a.nonEmpty)
    assert(a == a.sortBy(x => (-x._2, x._1)), "ordered (authority desc, node asc)")
  }

  test("label propagation on real events: deterministic, nodes conserved, " +
    "branch parity") {
    val ev = Tables.events(spark, sf)
    val nNodes = EventAnalytics.transitionEdges(ev)
      .select(col("src").as("n")).union(
        EventAnalytics.transitionEdges(ev).select(col("dst").as("n")))
      .distinct().count()
    val a = EventAnalytics.labelPropQ(ev).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.ops.PipelineCaches.release(spark)
    val b = forced("large")(s => EventAnalytics.labelPropQ(Tables.events(s, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(a == b, "distributed branch diverged from local contraction")
    assert(a.values.sum == nNodes, "label histogram conserves the node count")
    assert(a.keySet.nonEmpty && a.keySet.size >= 1)
  }
}
