package graft

import graft.operators.EventOps
import graft.queries.Registry
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch time-series operators: the salted sessionize vs the direct window
  * on a skewed fixture, and the session posture confs.
  */
class EventOpsSuite extends SparkTestBase {

  test("q25 precondition: events.value is exact 2-decimal (cent math is exact)") {
    // q25 sums value as integer cents — order-free exact and immune to the
    // two cross-engine round(double) failure modes sf0.1 exposed. That is
    // only sound while the fixture column stays 2-decimal; this canary
    // fails loudly if regenerated fixtures ever break the precondition.
    val bad = Tables.events(spark, sf)
      .filter(abs(col("value") * 100 - round(col("value") * 100)) > 1e-6)
      .count()
    assert(bad == 0L, s"$bad event values are not exact 2-decimal")
  }

  test("salted sessionize == direct window sessionize on a skewed fixture") {
    val s = spark
    import s.implicits._
    val gapNs = 30L * 60 * 1000 * 1000 * 1000
    val rnd = new scala.util.Random(11)
    // one hot user (50k events, mixed dense runs + cross-block gaps) plus
    // 50 normal users; timestamps deliberately land on/near block edges
    val hot = (0 until 50000).map { i =>
      (i.toLong, i.toLong * 700000000L + rnd.nextInt(1000), 1L)
    }
    val cold = (0 until 2000).map { i =>
      (100000L + i, rnd.nextLong(50000L * 700000000L), 2L + (i % 50))
    }
    val events = (hot ++ cold).toDF("event_id", "ts", "user_id")
    val salted = EventOps.sessionizeSalted(events, gapNs, 4L * 3600 * 1000 * 1000 * 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val direct = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("q64 equals q26 on the fixture (same sessions, skew-hardened plan)") {
    val a = Registry.byName("q64_sessionize_salted").q(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = Registry.byName("q26_sessionize").q(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("session posture: speculation on, AQE on, UTC, nanosAsLong") {
    assert(spark.conf.get("spark.speculation") == "true")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("funnel plan is one user-keyed exchange regardless of step count (q124, q128)") {
    // the N-step claim made load-bearing: every step is a conditional-min
    // inside the SAME per-user aggregate, so 3 steps and 5 steps plan the
    // IDENTICAL exchange inventory — one hash exchange on user_id (the only
    // corpus-sized shuffle) plus the bounded single-partition roll-up. A
    // second hash exchange appearing at higher N means a step compiled to
    // a join/window and the plan no longer scales in step count.
    Seq("q124_funnel", "q128_funnel_5step").foreach { name =>
      val df = Registry.byName(name).q(spark, sf)
      df.collect()
      val ex = shuffleExchanges(df)
      val hashed = ex.filter(e => e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.exists(_.references.exists(_.name == "user_id"))
        case _ => false
      })
      assert(hashed.size == 1,
        s"$name: expected exactly one user_id-keyed exchange, got ${hashed.size}")
      assert(ex.size <= 2,
        s"$name: expected at most user-keyed + global roll-up exchanges, got ${ex.size}")
    }
  }

  test("q148 resample: complete per-series spine, LOCF total, fill flags honest") {
    val rows = Registry.byName("q148_resample_gapfill").q(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (et, rs) =>
      val hrs = rs.map(_.getLong(1)).sorted
      // the spine is gap-free: one row per hour from the series' first
      // observed hour to its last
      assert(hrs.length == (hrs.last - hrs.head + 1),
        s"$et: spine has gaps (${hrs.length} rows over ${hrs.last - hrs.head + 1} hours)")
      assert(hrs.distinct.length == hrs.length, s"$et: duplicate spine rows")
      rs.foreach { r =>
        val (filled, n) = (r.getBoolean(2), r.getLong(3))
        assert(filled == (n == 0L), s"$et hr=${r.getLong(1)}: filled=$filled but n=$n")
        // LOCF never yields NULL: the first spine bucket is the series'
        // min OBSERVED hour, so a carried value always exists
        assert(!r.isNullAt(4), s"$et hr=${r.getLong(1)}: sum_value is null")
      }
      // boundary rows are observed by construction
      val first = rs.minBy(_.getLong(1))
      assert(!first.getBoolean(2), s"$et: first spine bucket marked filled")
    }
  }

  test("q150 OLS: two-exchange sufficient-statistic plan, sane fit values") {
    val df = Registry.byName("q150_trend_ols").q(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, slope, intercept, r2) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(n > 2, s"${r.getString(0)}: degenerate series n=$n")
      assert(!slope.isNaN && !slope.isInfinite, s"${r.getString(0)}: slope=$slope")
      assert(!intercept.isNaN && !intercept.isInfinite)
      assert(r2 >= 0.0 && r2 <= 1.0, s"${r.getString(0)}: r2=$r2 out of [0,1]")
    }
    // the whole regression must stay a two-exchange aggregation pass:
    // hourly rollup keyed (event_type, hr) then per-series stats keyed
    // event_type — a third hash exchange means a join or window crept in
    val hashEx = shuffleExchanges(df).filter(_.outputPartitioning match {
      case _: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => true
      case _ => false
    })
    assert(hashEx.size <= 2,
      s"q150: expected hourly-rollup + per-series exchanges only, got ${hashEx.size}")
  }

  test("q152 HLL rollup: merged union equals direct sketch; rollup is complete") {
    val rows = Registry.byName("q152_hll_rollup").q(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"${r.getString(0)}: merged estimate out of bound")
      assert(r.getBoolean(4), s"${r.getString(0)}: direct estimate out of bound")
    }
    // the mergeability claim, asserted on the estimates themselves: the
    // union of per-day sketches and one whole-scan sketch must land on the
    // SAME estimate (HLL registers are max-merged — partitioning the input
    // by day cannot change the final register state)
    val ev = Tables.events(spark, sf).select(
      col("event_type"), expr("ts div 86400000000000").as("day"), col("user_id"))
    val merged = ev.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("m"))
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("dd"))
    val cmp = merged.join(direct, Seq("event_type")).collect()
    cmp.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"${r.getString(0)}: merged ${r.getLong(1)} != direct ${r.getLong(2)}")
    }
  }

  test("q153 anomaly: displayed z agrees with the integer flag; stats broadcast") {
    val df = Registry.byName("q153_anomaly_3sigma").q(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty, "no anomalies at suite SF — test is vacuous")
    // the FLAG is exact integer arithmetic; the z column is a float
    // display derived separately — every flagged row must read |z| >= 3
    // (within the 1e-4 display rounding), or the two formulas diverged
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3)) >= 2.9999,
        s"${r.getString(0)} hr=${r.getLong(1)}: flagged but z=${r.getDouble(3)}")
    }
    // the per-series stats table is tiny and must broadcast — a shuffled
    // join here means the hourly table is being exchanged a second time
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("SortMergeJoin") && !physical.contains("ShuffledHashJoin"),
      s"q153 shuffles the stats join:\n$physical")
  }

  test("q156 transitions: block-salted lag equals the direct per-user window") {
    val ev = Tables.events(spark, sf)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val direct = ev
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val salted = Registry.byName("q156_transition_matrix").q(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(salted == direct, "boundary stitching lost or invented transitions")
    // conservation: every event except each user's first is a transition
    val total = ev.count()
    val users = ev.select(col("user_id")).distinct().count()
    assert(direct.toSeq.map(_._3).sum == total - users)
    // each from-row's probabilities sum to 1
    Registry.byName("q156_transition_matrix").q(spark, sf).collect()
      .groupBy(_.getString(0)).foreach { case (from, rs) =>
        val p = rs.map(_.getDouble(3)).sum
        assert(math.abs(p - 1.0) < 1e-9, s"$from: probabilities sum to $p")
      }
  }

  test("q157 cumulative unique: running sum of new users reproduces countDistinct") {
    val rows = Registry.byName("q157_cumulative_unique").q(spark, sf).collect()
    assert(rows.nonEmpty)
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(rows.last.getLong(3) == users, "final cum_unique != total distinct users")
    // monotone, and the cumsum is internally consistent with n_new
    rows.foldLeft(0L) { (acc, r) =>
      val cum = r.getLong(3)
      assert(cum == acc + r.getLong(2), s"day ${r.getLong(0)}: cumsum broken")
      assert(r.getLong(1) <= cum, "more actives than users seen to date")
      cum
    }
  }

  test("q159 sweep: two-phase day-blocked concurrency equals the global window") {
    val rows = Registry.byName("q159_concurrency_sweep").q(spark, sf).collect()
    assert(rows.nonEmpty)
    // direct global-window recomputation (test-only collect is fine)
    val gapNs = 30L * 60 * 1000 * 1000 * 1000
    val dayNs = 24L * 3600 * 1000 * 1000 * 1000
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(spark, sf)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("ns",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L)
          .otherwise(0L))
      .withColumn("sid",
        sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    val pts = sess.flatMap { case (st, en) => Seq((st, 1L), (en, -1L)) }
      .sortBy { case (t, delta) => (t, -delta) }
    var c = 0L
    val dayMax = scala.collection.mutable.Map.empty[Long, Long]
    pts.foreach { case (t, delta) =>
      c += delta
      val day = Math.floorDiv(t, dayNs)
      dayMax(day) = math.max(dayMax.getOrElse(day, Long.MinValue), c)
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == dayMax.toMap, "two-phase sweep diverges from the global sweep")
  }

  test("q161 A/B: one exchange, arms partition the users, decision matches z") {
    val df = Registry.byName("q161_ab_test").q(spark, sf)
    val r = df.collect().head
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(r.getLong(0) + r.getLong(1) == users, "arms do not partition the users")
    assert(r.getLong(2) <= r.getLong(0) && r.getLong(3) <= r.getLong(1))
    val z = r.getDouble(6)
    assert(!z.isNaN && !z.isInfinite)
    assert(r.getBoolean(7) == (math.abs(z) >= 1.96))
    // the corpus must collapse through exactly one user-keyed hash exchange
    val hashEx = shuffleExchanges(df).filter(_.outputPartitioning match {
      case _: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => true
      case _ => false
    })
    assert(hashEx.size <= 1, s"q161: expected one user exchange, got ${hashEx.size}")
  }

  test("q163 EWMA: dense spine, power-of-two weights match direct recompute") {
    val rows = Registry.byName("q163_ewma_smooth").q(spark, sf).collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (tp, rs) =>
      val hrs = rs.map(_.getLong(1))
      // calendar-dense: consecutive hours from the series min to max
      assert(hrs.zip(hrs.drop(1)).forall { case (a, b) => b == a + 1 },
        s"$tp: spine has gaps")
      val cents = rs.map(r => math.round(r.getDouble(3) * 100))
      rs.zipWithIndex.foreach { case (r, t) =>
        val ks = (0 to 10).filter(k => t - k >= 0)
        val num = ks.map(k => cents(t - k) * (1L << (10 - k))).sum
        val den = ks.map(k => 1L << (10 - k)).sum
        assert(r.getLong(4) == num, s"$tp hr=${hrs(t)}: ewma_num mismatch")
        assert(r.getLong(5) == den, s"$tp hr=${hrs(t)}: ewma_den mismatch")
        assert(r.getDouble(6) == num.toDouble / den.toDouble / 100.0,
          s"$tp hr=${hrs(t)}: ewma division mismatch")
        if (t >= 10) assert(den == 2047L)
      }
    }
  }

  test("q190 Gini: grouped two-phase Lorenz equals the sorted-scan formula") {
    val df = Registry.byName("q190_revenue_gini").q(spark, sf)
    val r = df.collect().head
    // one-materialization pin (r13 verdict #1 cohort audit): vt and withB
    // are localCheckpointed, so nothing downstream re-plans the events
    // scan — the unbarriered form statically planned it 5×.
    assert(!df.queryExecution.executedPlan.toString.contains("Scan parquet"),
      "q190 re-plans its events upstream past the localCheckpoint barriers")
    val vals = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("v"))
      .collect().map(_.getLong(1)).sorted
    val n = vals.length.toLong
    val s = vals.sum
    val wsum = vals.zipWithIndex.map { case (v, i) => (i + 1L) * v }.sum
    assert(r.getLong(0) == n && r.getLong(1) == s)
    assert(r.getDouble(2) ==
      (2L * wsum - (n + 1) * s).toDouble / (n * s).toDouble, "gini formula")
    val k = (n + 9) / 10
    val top = vals.reverse.take(k.toInt).sum
    assert(r.getLong(3) == top * 1000000L / s, "top-decile share")
    // sanity: gini in [0, 1); top decile holds at least its uniform share
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
    assert(r.getLong(3) >= 1000000L * k / n)
  }

  test("q212 native session_window agrees with the lag sessionize on the fixture") {
    val native = Registry.byName("q212_session_window_native").q(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val lagForm = Registry.byName("q26_sessionize").q(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(native.keySet == lagForm.keySet)
    // boundary semantics differ only within ±1µs of an exact 30-minute gap
    // (µs-trunc + ≥ vs ns + >) — absent from the frozen fixture, so the
    // two formulations must agree user-for-user
    native.foreach { case (u, v) =>
      assert(lagForm(u) == v, s"user $u: native $v vs lag ${lagForm(u)}")
    }
    // the plan is the sessionized aggregate, not a per-event lag window
    val df = Registry.byName("q212_session_window_native").q(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("UpdatingSessions") || plan.contains("session_window"),
      s"expected the native session aggregation in the plan:\n$plan")
  }

  test("q189 RFM: count-based quintiles equal the direct rank formula") {
    val df = Registry.byName("q189_rfm_segments").q(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // One-materialization pin (r13 verdict #1): the per-buyer table and
    // each quintile input are localCheckpointed, so the executed plan
    // downstream of the barriers contains ZERO parquet scans — the
    // unbarriered form statically re-planned the upstream ~54× (316
    // Exchanges, 108 scans) and survived only via AQE stage-reuse. A
    // parquet scan reappearing here means a barrier was dropped.
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"),
      "q189 plans its events upstream past the localCheckpoint barriers")
    val p = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("t"), count(lit(1)).as("f"),
        sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val dayNs = 24L * 3600 * 1000 * 1000 * 1000
    val ref = p.map(_._2).max
    val axes = p.map { case (_, t, f, c) => (-((ref - t) / dayNs), f, c / 100, c) }
    def score(vals: Seq[Long], v: Long): Long =
      math.min(1 + 5 * vals.count(_ < v).toLong / vals.length, 5L)
    val (rs, fs, ms) = (axes.map(_._1).toSeq, axes.map(_._2).toSeq, axes.map(_._3).toSeq)
    val expected = axes.groupBy { case (r, f, m, _) =>
      (score(rs, r), score(fs, f), score(ms, m))
    }.map { case (k, v) => k -> (v.length.toLong, v.map(_._4).sum) }
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
      (r.getLong(3), math.round(r.getDouble(4) * 100))).toMap
    assert(got == expected, "quintile scoring diverges from the direct rank formula")
    // buyers partition into segments exactly once
    assert(rows.map(_.getLong(3)).sum == p.length.toLong)
    // scores stay in [1, 5]
    rows.foreach(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      .foreach(sc => assert(sc >= 1 && sc <= 5)))
  }

  test("q187 quantum: Aggregator laws, exact recovery, partial-merge plan") {
    import graft.functions.GcdAgg
    // Aggregator algebra: identity, commutativity, associativity, sign-free
    assert(GcdAgg.reduce(GcdAgg.zero, 42L) == 42L)
    assert(GcdAgg.merge(12L, 18L) == 6L && GcdAgg.merge(18L, 12L) == 6L)
    assert(GcdAgg.merge(GcdAgg.merge(12L, 18L), 8L) ==
      GcdAgg.merge(12L, GcdAgg.merge(18L, 8L)))
    assert(GcdAgg.reduce(0L, -15L) == 15L)
    // Long.MinValue edge (r13 ADVICE): |MinValue| has no positive Long, so
    // the abs is applied AFTER the Euclidean recursion — gcd(MinValue, k)
    // for odd k is 1, for 6 is 2; only the unrepresentable gcd = 2^63
    // (all inputs multiples of MinValue) stays negative, by contract.
    assert(GcdAgg.reduce(Long.MinValue, 3L) == 1L)
    assert(GcdAgg.reduce(6L, Long.MinValue) == 2L)
    assert(GcdAgg.merge(Long.MinValue, 12L) == 4L)
    assert(GcdAgg.reduce(GcdAgg.zero, Long.MinValue) == Long.MinValue)
    val df = Registry.byName("q187_price_quantum").q(spark, sf)
    val rows = df.collect()
    // the hidden per-type units must be RECOVERED exactly
    val expected = Map("click" -> 5L, "view" -> 10L, "purchase" -> 25L,
      "signup" -> 50L, "error" -> 1L)
    assert(rows.map(r => r.getString(0) -> r.getLong(2)).toMap == expected,
      "detector failed to recover the fabricated quanta")
    // the UDAF must aggregate with a map-side partial (ObjectHashAggregate
    // pair), not ship raw rows to one reducer
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"typed Aggregator lost its partial-merge:\n$plan")
  }

  test("q183 SCD2 join: carried version equals a direct per-user interval lookup") {
    val rows = Registry.byName("q183_scd2_join").q(spark, sf).collect()
    assert(rows.length == 6, "all five states + the 'none' branch must be live")
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("t"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byUser = ev.groupBy(_._1).map { case (u, v) =>
      u -> v.map(e => (e._2, e._3, e._4)).sortBy(e => (e._1, e._2))
    }
    val (t0, t1) = (ev.map(_._2).min, ev.map(_._2).max)
    val facts = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice") * 100).cast("long"))
      .collect().map { r =>
        val ok = r.getLong(1)
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"ord:v1:$ok".getBytes("UTF-8"))
        val h = java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 1000000L
        (r.getLong(0) % 15, t0 + h * ((t1 - t0) / 1000000L), r.getLong(2))
      }
    val expected = facts.groupBy { case (u, t, _) =>
      // the version in effect: latest event with (t_e, id) <= (t, fact) —
      // events sort before facts at equal t, so <= on t alone is right
      byUser.get(u).flatMap(vs => vs.takeWhile(_._1 <= t).lastOption)
        .map(_._3).getOrElse("none")
    }.map { case (st, v) => st -> (v.length.toLong, v.map(_._3).sum) }
    val got = rows.map(r =>
      r.getString(0) -> (r.getLong(1), math.round(r.getDouble(2) * 100))).toMap
    assert(got == expected.map { case (k, (n, c)) => k -> (n, c) },
      "carried SCD2 version diverges from the direct interval lookup")
  }

  test("q182 disorder: two-phase high-water mark equals the global sweep; all bands live") {
    val rows = Registry.byName("q182_disorder_profile").q(spark, sf).collect()
    assert(rows.length == 5, "every lateness band must be exercised by the jitter")
    // direct recompute: same jitter, one global arrival-ordered sweep
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts")).collect()
      .map { r =>
        val id = r.getLong(0)
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"arr:v1:$id".getBytes("UTF-8"))
        val j = java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 10000L
        (id, r.getLong(1), r.getLong(1) + j * j * 1000000L)
      }
    var hwm = Long.MinValue
    val lates = ev.sortBy(e => (e._3, e._1)).map { case (_, ts, _) =>
      hwm = math.max(hwm, ts); math.max(hwm - ts, 0L)
    }
    def band(l: Long): String =
      if (l <= 0) "0_on_time" else if (l <= 60000000000L) "1_within_1min"
      else if (l <= 3600000000000L) "2_within_1h"
      else if (l <= 86400000000000L) "3_within_1day" else "4_over_1day"
    val expected = lates.groupBy(band).map { case (b, v) =>
      b -> (v.length.toLong, v.max)
    }
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(got == expected, "blocked high-water mark diverges from the global sweep")
    rows.foreach(r =>
      assert(r.getLong(2) == r.getLong(1) * 1000000L / ev.length, "share_ppm"))
  }

  test("q179 session paths: top-10 equals a direct sessionize-and-count sweep") {
    val rows = Registry.byName("q179_session_paths").q(spark, sf).collect()
    assert(rows.length == 10)
    val gapNs = 30L * 60 * 1000 * 1000 * 1000
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val paths = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._2, e._3))
      val sessions = scala.collection.mutable.ListBuffer.empty[List[String]]
      var cur = List.empty[String]
      var prev = Long.MinValue
      sorted.foreach { case (_, ts, _, tp) =>
        if (prev == Long.MinValue || ts - prev > gapNs) {
          if (cur.nonEmpty) sessions += cur.reverse
          cur = List(tp)
        } else cur = tp :: cur
        prev = ts
      }
      if (cur.nonEmpty) sessions += cur.reverse
      sessions.map(_.take(8).mkString(">"))
    }
    val expected = paths.groupBy(identity).map { case (p, o) => p -> o.size.toLong }
      .toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == expected,
      "session path top-10 diverges from the direct sweep")
  }

  test("q178 range frame: value-distance window equals a direct gap-aware sweep") {
    val rows = Registry.byName("q178_range_frame").q(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (tp, rs) =>
      val byHr = rs.map(r => r.getLong(1) -> math.round(r.getDouble(3) * 100)).toMap
      rs.foreach { r =>
        val h = r.getLong(1)
        val inFrame = byHr.filter { case (hh, _) => hh >= h - 23 && hh <= h }
        assert(r.getLong(4) == inFrame.values.sum,
          s"$tp hr=$h: range-frame sum wrong")
        // the frame must span VALUE distance — observed hours only, gaps
        // excluded by construction (win24_hours counts frame ROWS)
        assert(r.getLong(5) == inFrame.size.toLong,
          s"$tp hr=$h: range-frame row count wrong")
      }
    }
  }

  test("q164 skew profile: exact top-10 counts, one corpus exchange, no global sort") {
    val df = Registry.byName("q164_key_skew_profile").q(spark, sf)
    val rows = df.collect()
    assert(rows.length == 10)
    val direct = Tables.events(spark, sf).select(col("user_id")).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.length.toLong }
    val top = direct.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == top,
      "top-10 heavy hitters diverge from the direct count")
    val total = direct.values.sum
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * 1000000L / total, "share_ppm broken")
      assert(r.getLong(3) == direct.size.toLong)
      assert(r.getDouble(4) ==
        direct.values.max.toDouble * direct.size / total, "skew ratio broken")
    }
    // one corpus-sized key exchange; the top-10 must be TakeOrderedAndProject
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TakeOrderedAndProject"),
      s"q164 plans a global sort instead of top-K:\n$physical")
  }

  test("q165 attribution: blocked two-phase equals the direct per-user scan") {
    val rows = Registry.byName("q165_attribution").q(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val winNs = 7L * 24 * 3600 * 1000 * 1000 * 1000
    val credited = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._2, e._3))
      var last: Option[(Long, Long, String)] = None
      sorted.flatMap { case (_, ts, id, tp) =>
        if (tp != "purchase") { last = Some((ts, id, tp)); None }
        else last match {
          case Some((lts, _, ltp)) if ts - lts <= winNs =>
            Some((ltp, (ts - lts) / 60000000000L))
          case _ => Some(("none", 0L))
        }
      }
    }
    val exp = credited.groupBy(_._1).map { case (ch, v) =>
      ch -> (v.size.toLong, v.map(_._2).sum)
    }
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == exp, s"attribution diverges: got $got expected $exp")
    // conversions partition: every purchase credited exactly once
    val purchases = ev.count(_._4 == "purchase").toLong
    assert(rows.map(_.getLong(1)).sum == purchases)
  }

  test("q250 TWAP equals a sequential LOCF-segment replay") {
    val rows = Registry.byName("q250_twap").q(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), expr("ts div 1000"),
        round(col("value") * 100).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val dayUs = 86400000000L
    val exp = ev.groupBy(e => (e._1, e._3 / dayUs)).map { case ((tp, day), es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      val segs = sorted.zipAll(sorted.drop(1).map(e => Some(e._3)), null, None)
        .collect { case (e, nxt) if e != null =>
          (e._4, nxt.getOrElse((day + 1) * dayUs) - e._3)
        }
      val num = segs.map { case (c, dt) => c * dt }.sum
      val den = segs.map(_._2).sum
      ((tp, day), (es.length.toLong, num * 1000L / den,
        es.map(_._4).sum * 1000L / es.length, den))
    }
    assert(rows.length == exp.size)
    for (r <- rows) {
      val e = exp((r.getString(0), r.getLong(1)))
      assert(r.getLong(2) == e._1, "n_events")
      assert(r.getLong(3) == e._2, s"${r.getString(0)}/${r.getLong(1)} twap")
      assert(r.getLong(4) == e._3, "mean")
      assert(r.getLong(5) == e._4, "span_us")
    }
    // the measured span never exceeds the day, and every series-day's
    // segments tile [first event, day end] exactly
    for (r <- rows) assert(r.getLong(5) >= 1L && r.getLong(5) <= dayUs)
  }

  private def rnd6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q256 Markov attribution replays from a JVM-side value iteration") {
    val df = Registry.byName("q256_markov_attribution").q(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // one-materialization pin: ev/trans/folded are localCheckpointed, so
    // the plan downstream of the barriers holds zero parquet scans
    assert(!df.queryExecution.executedPlan.toString.contains("Scan parquet"),
      "q256 re-plans its events upstream past the localCheckpoint barriers")
    // JVM replay: sessionize (30-min µs gap), first-order transition
    // counts, then the same 32-step Jacobi value iteration per scenario,
    // edge order mirrored ((f, t, p) sort) so the fold is bit-identical
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("ts div 1000"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val gapUs = 1800000000L
    val trans = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    ev.groupBy(_._1).values.foreach { es =>
      val sorted = es.sortBy(e => (e._3, e._2))
      var sid = 0L; var prev = Long.MinValue
      val bySid = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String)]
      for (e <- sorted) {
        if (prev == Long.MinValue || e._3 - prev >= gapUs) sid += 1
        prev = e._3
        bySid += ((sid, e._4))
      }
      bySid.groupBy(_._1).values.foreach { ses =>
        val types = ses.map(_._2).toSeq
        val conv = if (types.contains("purchase")) "CONV" else "NULL"
        val chans = types.filter(_ != "purchase")
        if (chans.isEmpty) trans(("START", conv)) += 1
        else {
          trans(("START", chans.head)) += 1
          chans.sliding(2).foreach {
            case Seq(a, b) => trans((a, b)) += 1
            case _         =>
          }
          trans((chans.last, conv)) += 1
        }
      }
    }
    val nF = trans.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val scens = trans.keys.map(_._1).filter(_ != "START").toSeq.distinct
    def pConv(removed: Option[String]): Double = {
      val edges = trans.toSeq
        .filter { case ((f, _), _) => !removed.contains(f) }
        .map { case ((f, t), cnt) =>
          val t2 = if (removed.contains(t)) "NULL" else t
          (f, t2, cnt.toDouble / nF(f).toDouble)
        }
        .sortBy(e => (e._1, e._2, e._3))
      val froms = edges.map(_._1).distinct.sorted
      var pv = froms.map(_ => 0.0)
      for (_ <- 1 to 32) {
        pv = froms.map { s =>
          edges.filter(_._1 == s).foldLeft(0.0) { case (a, (_, t, p)) =>
            a + p * (t match {
              case "CONV" => 1.0
              case "NULL" => 0.0
              case c =>
                val i = froms.indexOf(c)
                if (i >= 0) pv(i) else 0.0
            })
          }
        }
      }
      pv(froms.indexOf("START"))
    }
    val pFull = pConv(None)
    val pc = scens.map(c => c -> pConv(Some(c))).toMap
    val res = scens.map(c => c -> (1.0 - pc(c) / pFull)).toMap
    val reSum = scens.sorted.map(res).sum
    assert(rows.length == scens.length)
    for (r <- rows) {
      val ch = r.getString(0)
      assert(r.getDouble(1) == rnd6(pFull), s"$ch p_full")
      assert(r.getDouble(2) == rnd6(pc(ch)), s"$ch p_removed")
      assert(r.getDouble(3) == rnd6(res(ch)), s"$ch removal_effect")
      assert(r.getDouble(4) == rnd6(res(ch) / reSum), s"$ch attribution")
    }
    // removal can only hurt conversion; attributions are a partition of 1
    for (r <- rows) assert(r.getDouble(2) <= r.getDouble(1) + 1e-9)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-5)
  }

  test("q257 Kaplan-Meier replays from a per-user duration sweep") {
    val df = Registry.byName("q257_kaplan_meier").q(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // plan shape: exactly 2 parquet scans — the 1-row censor-horizon
    // aggregate (allowlisted broadcast knob) and the duration pass
    val scans = flattenPlan(df.queryExecution.executedPlan).count {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _ => false
    }
    assert(scans == 2, s"q257 expected 2 parquet scans, saw $scans")
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), expr("ts div 1000"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val tEnd = ev.map(_._3).max
    val durs = ev.groupBy(_._1).values.flatMap { es =>
      val t0s = es.filter(_._2 == "signup").map(_._3)
      if (t0s.isEmpty) None
      else {
        val t0 = t0s.min
        val tps = es.collect { case (_, "purchase", us) if us >= t0 => us }
        val (end, died) =
          if (tps.nonEmpty) (tps.min, true) else (tEnd, false)
        Some(((end - t0) / 86400000000L, died))
      }
    }.toSeq
    val byDay = durs.groupBy(_._1).map { case (day, ds) =>
      day -> (ds.count(_._2).toLong, ds.count(!_._2).toLong)
    }
    val days = byDay.keys.toSeq.sorted
    val nTotal = durs.size.toLong
    var atRisk = nTotal; var lnSum = 0.0; var hitZero = false
    val exp = scala.collection.mutable.Map
      .empty[Long, (Long, Long, Long, Double)]
    for (day <- days) {
      val (d, c) = byDay(day)
      if (atRisk == d) hitZero = true
      if (atRisk > d)
        lnSum += math.log((atRisk - d).toDouble / atRisk.toDouble)
      val s = if (hitZero) 0.0 else rnd6(math.exp(lnSum))
      if (d > 0) exp(day) = (atRisk, d, c, s)
      atRisk -= d + c
    }
    assert(rows.length == exp.size)
    for (r <- rows) {
      val e = exp(r.getLong(0))
      assert(r.getLong(1) == e._1, s"day ${r.getLong(0)} n_risk")
      assert(r.getLong(2) == e._2, "d_events")
      assert(r.getLong(3) == e._3, "c_censored")
      assert(r.getDouble(4) == e._4, s"day ${r.getLong(0)} survival")
    }
    // KM invariants: survival non-increasing in [0, 1]; risk sets shrink
    val sv = rows.map(_.getDouble(4))
    assert(sv.zip(sv.drop(1)).forall { case (a, b) => b <= a + 1e-12 })
    assert(sv.forall(s => s >= 0.0 && s <= 1.0))
    val nr = rows.map(_.getLong(1))
    assert(nr.zip(nr.drop(1)).forall { case (a, b) => b < a })
    assert(nr.head <= nTotal)
  }

  test("q258 log-rank test replays from a JVM-side hypergeometric sweep") {
    val df = Registry.byName("q258_logrank_test").q(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1)
    // plan shape: exactly 2 parquet scans — the 1-row censor-horizon
    // aggregate (allowlisted broadcast knob) and the duration pass
    val scans = flattenPlan(df.queryExecution.executedPlan).count {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _ => false
    }
    assert(scans == 2, s"q258 expected 2 parquet scans, saw $scans")
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), expr("ts div 1000"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val tEnd = ev.map(_._3).max
    def arm1(u: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:v1:$u".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(4).map("%02x".format(_)).mkString, 16) % 2 == 0
    }
    val durs = ev.groupBy(_._1).flatMap { case (uid, es) =>
      val t0s = es.filter(_._2 == "signup").map(_._3)
      if (t0s.isEmpty) None
      else {
        val t0 = t0s.min
        val tps = es.collect { case (_, "purchase", us) if us >= t0 => us }
        val (end, died) =
          if (tps.nonEmpty) (tps.min, true) else (tEnd, false)
        Some(((end - t0) / 86400000000L, died, arm1(uid)))
      }
    }.toSeq
    val byDay = durs.groupBy(_._1).map { case (day, ds) =>
      day -> (ds.count(e => e._3 && e._2).toLong,
        ds.count(e => !e._3 && e._2).toLong,
        ds.count(_._3).toLong, ds.count(!_._3).toLong)
    }
    val days = byDay.keys.toSeq.sorted
    var n1 = durs.count(_._3).toLong
    var n2 = durs.count(!_._3).toLong
    var o1 = 0L; var o2 = 0L; var e1s = 0.0; var vs = 0.0
    for (day <- days) {
      val (d1, d2, r1, r2) = byDay(day)
      val dd = d1 + d2; val nn = n1 + n2
      if (dd > 0) {
        o1 += d1; o2 += d2
        val e1 = dd.toDouble * n1.toDouble / nn.toDouble
        e1s += e1
        if (nn > 1)
          vs += e1 * (n2.toDouble / nn.toDouble) *
            ((nn - dd).toDouble / (nn - 1).toDouble)
      }
      n1 -= r1; n2 -= r2
    }
    val r = rows.head
    assert(r.getLong(0) == o1, "o1")
    assert(r.getLong(2) == o2, "o2")
    assert(r.getDouble(1) == rnd6(e1s), "e1")
    assert(r.getDouble(3) == rnd6((o1 + o2).toDouble - e1s), "e2")
    val chi2 = (o1.toDouble - e1s) * (o1.toDouble - e1s) / vs
    assert(r.getDouble(4) == rnd6(chi2), "chi2")
    assert(r.getBoolean(5) == (chi2 >= 3.841459), "significant")
    // log-rank invariants: expectations partition total deaths; both arms
    // populated (the seeded split is near-even); variance strictly positive
    assert(math.abs((r.getDouble(1) + r.getDouble(3)) -
      (o1 + o2).toDouble) < 2e-6, "E1 + E2 must equal O1 + O2")
    assert(o1 > 0 && o2 > 0, "both arms must observe deaths on the fixture")
    assert(vs > 0.0 && r.getDouble(4) >= 0.0)
  }

  test("q261 burst Viterbi replays from a JVM-side integer min-plus DP") {
    val df = Registry.byName("q261_burst_viterbi").q(spark, sf)
    val rows = df.collect()
    assert(rows.length == 5)
    // one-materialization pin: the (type, hour) count table is
    // localCheckpointed, so the final plan re-scans no parquet
    assert(!df.queryExecution.executedPlan.toString.contains("Scan parquet"),
      "q261 re-plans its events upstream past the localCheckpoint barrier")
    def md5b(x: String, m: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(x.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString,
        16) % m
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), expr("(ts div 1000) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val h0 = ev.map(_._2).min; val h1 = ev.map(_._2).max
    val span = (h1 - h0 + 1).toInt
    for (r <- rows) {
      val ty = r.getString(0)
      val s1 = 50 + md5b(s"burst:v1:$ty:1", 250)
      val s2 = 350 + md5b(s"burst:v1:$ty:2", 250)
      val cnt = new Array[Long](span)
      for ((t2, hr) <- ev if t2 == ty) cnt((hr - h0).toInt) += 1
      val arr = (0 until span).map { t =>
        val p = (t >= s1 && t < s1 + 12) || (t >= s2 && t < s2 + 12)
        (t.toLong, cnt(t) * (if (p) 5L else 1L), p)
      }
      val tot = arr.map(_._2).sum
      val lam0 = tot.toDouble / span.toDouble
      def rq(x: Double): Long =
        BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val a0 = rq(1e6 * lam0); val a1 = 5 * a0
      val lc0 = rq(1e6 * math.log(lam0)); val lc1 = rq(1e6 * math.log(5.0 * lam0))
      val g = rq(1e6 * math.log(span.toDouble))
      var d0 = 0L; var d1 = g
      // path state: (hours, episodes, run, longest, first, plantedHits)
      var st0 = (0L, 0L, 0L, 0L, -1L, 0L); var st1 = (0L, 1L, 0L, 0L, -1L, 0L)
      for ((t, c, p) <- arr) {
        val (pd, ps) = if (d0 <= d1) (d0, st0) else (d1, st1)
        val nd0 = pd + a0 - c * lc0
        val ns0 = (ps._1, ps._2, 0L, ps._4, ps._5, ps._6)
        val (pd1, ps1, stay) =
          if (d1 <= d0 + g) (d1, st1, true) else (d0 + g, st0, false)
        val nd1 = pd1 + a1 - c * lc1
        val run = if (stay) ps1._3 + 1 else 1L
        val ns1 = (ps1._1 + 1, if (stay) ps1._2 else ps1._2 + 1, run,
          math.max(ps1._4, run), if (ps1._5 >= 0) ps1._5 else t,
          ps1._6 + (if (p) 1L else 0L))
        d0 = nd0; d1 = nd1; st0 = ns0; st1 = ns1
      }
      val (st, cost) = if (d0 <= d1) (st0, d0) else (st1, d1)
      assert(r.getLong(1) == span, s"$ty n_hours")
      assert(r.getLong(2) == a0, s"$ty lam0_micro")
      assert(r.getLong(3) == s1 && r.getLong(4) == s2, s"$ty planted windows")
      assert(r.getLong(5) == st._1, s"$ty burst_hours")
      assert(r.getLong(6) == st._2, s"$ty episodes")
      assert(r.getLong(7) == st._4, s"$ty longest")
      assert(r.getLong(8) == st._5, s"$ty first_burst_t")
      assert(r.getLong(9) == st._6, s"$ty planted_hits")
      assert(r.getLong(10) == cost, s"$ty cost_micro")
      // recovery invariants: near-perfect precision (at sf0.001 a window-
      // adjacent noise hour can ride along — ≤2 false positives measured,
      // zero at sf0.01+), and the planted windows are found
      assert(r.getLong(9) >= r.getLong(5) - 2, s"$ty false-positive burst hours")
      assert(r.getBoolean(11), s"$ty planted bursts must be recovered")
    }
  }

  test("q264 SPRT replays from a JVM-side day-granular LLR walk") {
    val rows = Registry.byName("q264_sprt").q(spark, sf).collect()
    assert(rows.length == 1)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDay = ev.groupBy(_._1).values.map { es =>
      val day = es.map(_._2).min / 86400000000L
      val conv = es.count(_._3 == "purchase") >= 14
      (day, conv)
    }.toSeq.groupBy(_._1).map { case (d, us) =>
      d -> (us.size.toLong, us.count(_._2).toLong)
    }
    var cum = 0L; var ctr = 0L
    var dec = 0; var dday = -1L; var dtrials = 0L; var dllr = 0L
    for (day <- byDay.keys.toSeq.sorted) {
      val (t, c) = byDay(day)
      cum += c * 356675L + (t - c) * -262364L
      ctr += t
      if (dec == 0 && (cum >= 2944439L || cum <= -2944439L)) {
        dec = if (cum >= 2944439L) 1 else -1
        dday = day; dtrials = ctr; dllr = cum
      }
    }
    val r = rows.head
    assert(r.getLong(2) == byDay.size, "n_days")
    assert(r.getLong(3) == byDay.values.map(_._1).sum, "n_trials")
    assert(r.getLong(4) == byDay.values.map(_._2).sum, "n_convs")
    if (dec == 0) {
      assert(r.getString(5) == "continue" && r.isNullAt(6) && r.isNullAt(7))
      assert(r.getLong(8) == cum, "llr_final at horizon")
      // a continuing test must sit strictly inside the boundaries
      assert(math.abs(cum) < 2944439L)
    } else {
      assert(r.getString(5) == (if (dec == 1) "accept_h1" else "accept_h0"))
      assert(r.getLong(6) == dday && r.getLong(7) == dtrials)
      assert(r.getLong(8) == dllr, "llr frozen at the decision day")
      assert(math.abs(dllr) >= 2944439L)
    }
    // Wald constants tie to their derivations
    assert(356675L == math.round(1e6 * math.log(0.50 / 0.35)))
    assert(-262364L == math.round(1e6 * math.log(0.50 / 0.65)))
    assert(2944439L == math.round(1e6 * math.log(0.95 / 0.05)))
  }

  test("q269 median CI replays from JVM-side sorted order statistics") {
    val rows = Registry.byName("q269_median_ci").q(spark, sf).collect()
    assert(rows.length == 5)
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for (r <- rows) {
      val ty = r.getString(0)
      val vals = ev.filter(_._1 == ty).map(_._2).sorted
      val n = vals.length.toLong
      val med = (n + 1) / 2
      val lo = math.max(math.floor(n.toDouble / 2.0 -
        0.98 * math.sqrt(n.toDouble)).toLong, 1L)
      val hi = math.min(math.ceil(n.toDouble / 2.0 +
        0.98 * math.sqrt(n.toDouble)).toLong + 1L, n)
      assert(r.getLong(1) == n && r.getLong(2) == med)
      assert(r.getLong(3) == lo && r.getLong(4) == hi, s"$ty ranks")
      assert(r.getLong(5) == vals((med - 1).toInt), s"$ty median")
      assert(r.getLong(6) == vals((lo - 1).toInt), s"$ty lo order stat")
      assert(r.getLong(7) == vals((hi - 1).toInt), s"$ty hi order stat")
      // interval invariants: brackets the median; width positive
      assert(r.getLong(6) <= r.getLong(5) && r.getLong(5) <= r.getLong(7))
      assert(r.getLong(8) == r.getLong(7) - r.getLong(6) && r.getLong(8) >= 0)
    }
  }

  test("q271 CUPED replays from JVM-side moment arithmetic") {
    val rows = Registry.byName("q271_cuped").q(spark, sf).collect()
    assert(rows.length == 1)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val tMid = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val users = ev.groupBy(_._1).map { case (uid, es) =>
      val arm = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"ab:v1:$uid".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16) % 2 == 0
      val x = es.count(_._2 < tMid).toLong
      val y = es.count(e => e._2 >= tMid && e._3 == "purchase").toLong
      (arm, x, y)
    }.toSeq
    val n = users.size.toDouble
    def s(f: ((Boolean, Long, Long)) => Long,
          p: ((Boolean, Long, Long)) => Boolean = _ => true): Double =
      users.filter(p).map(f).sum.toDouble
    val (sx, sy, sxy, sxx) =
      (s(_._2), s(_._3), s(t => t._2 * t._3), s(t => t._2 * t._2))
    val theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    def armStats(a: Boolean) = {
      val na = users.count(_._1 == a).toDouble
      val p = (t: (Boolean, Long, Long)) => t._1 == a
      val (xa, ya) = (s(_._2, p), s(_._3, p))
      val (xya, xxa, yya) =
        (s(t => t._2 * t._3, p), s(t => t._2 * t._2, p), s(t => t._3 * t._3, p))
      val mAdj = ya / na - theta * (xa / na - sx / n)
      val vAdj = (yya / na - (ya / na) * (ya / na)) -
        2.0 * theta * (xya / na - (xa / na) * (ya / na)) +
        theta * theta * (xxa / na - (xa / na) * (xa / na))
      (na, ya / na, mAdj, vAdj, yya / na - (ya / na) * (ya / na))
    }
    val (na, myA, mAdjA, vAdjA, vRawA) = armStats(true)
    val (nb, myB, mAdjB, vAdjB, vRawB) = armStats(false)
    val zR = (myA - myB) / math.sqrt(vRawA / na + vRawB / nb)
    val zC = (mAdjA - mAdjB) / math.sqrt(vAdjA / na + vAdjB / nb)
    val r = rows.head
    assert(r.getLong(0) == na.toLong && r.getLong(1) == nb.toLong)
    assert(r.getDouble(2) == rnd6(theta), "theta")
    assert(r.getDouble(4) == rnd6(myA - myB), "diff_raw")
    assert(r.getDouble(5) == rnd6(mAdjA - mAdjB), "diff_cuped")
    assert(r.getDouble(6) == rnd6(zR), "z_raw")
    assert(r.getDouble(7) == rnd6(zC), "z_cuped")
    assert(r.getBoolean(9) == (math.abs(zR) >= 1.96))
    assert(r.getBoolean(10) == (math.abs(zC) >= 1.96))
    // sanity: corr is a correlation, reduction bounded by total variance.
    // (At sf0.1 the honest-negative holds: memoryless users, corr ≈ −0.02,
    // ~200 ppm reduction. sf0.001's 15 users carry small-sample noise corr
    // ≈ 0.43 → ~40% reduction that legitimately moves z across 1.96 —
    // variance reduction changing a borderline decision IS the method.)
    assert(math.abs(r.getDouble(3)) < 1.0, "corr_xy is a correlation")
    assert(r.getLong(8) < 1000000L, "reduction bounded by total variance")
  }

  test("q272 dispersion test replays from a JVM-side spine sweep") {
    val rows = Registry.byName("q272_dispersion_test").q(spark, sf).collect()
    assert(rows.length == 5)
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), expr("(ts div 1000) div 3600000000"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val h0 = ev.map(_._2).min; val h1 = ev.map(_._2).max
    val span = (h1 - h0 + 1)
    for (r <- rows) {
      val ty = r.getString(0)
      val byHr = ev.filter(_._1 == ty).groupBy(_._2).view
        .mapValues(_.length.toLong).toMap
      val cs = (0L until span).map(t => byHr.getOrElse(h0 + t, 0L))
      val n = span; val tot = cs.sum; val q2 = cs.map(c => c * c).sum
      val num = n * q2 - tot * tot
      val nd = (n - 1).toDouble
      val lo = math.round(1000.0 * (nd - 1.96 * math.sqrt(2.0 * nd)))
      val hi = math.round(1000.0 * (nd + 1.96 * math.sqrt(2.0 * nd)))
      assert(r.getLong(1) == n && r.getLong(2) == tot)
      assert(r.getLong(3) == num * 1000L / tot, s"$ty disp_milli")
      assert(r.getLong(4) == lo && r.getLong(5) == hi, s"$ty band")
      assert(r.getBoolean(6) ==
        (num * 1000L >= lo * tot && num * 1000L <= hi * tot))
      // the premise q261 rests on: the raw fixture is homogeneous Poisson
      assert(r.getBoolean(6), s"$ty should be Poisson on the raw fixture")
    }
  }

  test("q275 RANSAC replays from a JVM-side candidate sweep") {
    val rows = Registry.byName("q275_ransac_fit").q(spark, sf).collect()
    assert(rows.length == 1)
    def md5l(x: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val ev = Tables.events(spark, sf)
      .select(expr("(ts div 1000) div 3600000000"),
        round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val h0 = ev.map(_._1).min; val h1 = ev.map(_._1).max
    val hh = h1 - h0 + 1
    val y0 = ev.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val ys = y0.values.sum
    val slopeP = (ys / hh) / 10; val tau = 2 * (ys / hh)
    val pts = (0L until hh).map { t =>
      val out = md5l(s"ransac:v1:$t") % 24 == 0
      (t, (y0.getOrElse(h0 + t, 0L) + slopeP * t) * (if (out) 20L else 1L), out)
    }
    val cands = (0L until 16L).map { k =>
      val i = md5l(s"ra:v1:$k") % hh
      val j0 = md5l(s"rb:v1:$k") % hh
      val j = if (j0 == i) (j0 + 1) % hh else j0
      (k, i, j)
    }
    def inliers(i: Long, j: Long): Seq[(Long, Long)] = {
      val yi = pts(i.toInt)._2; val yj = pts(j.toInt)._2
      pts.collect { case (t, y, _) if
        math.abs((y - yi) * (j - i) - (yj - yi) * (t - i)) <=
          tau * math.abs(j - i) => (t, y) }
    }
    val best = cands.map { case (k, i, j) => (k, i, j, inliers(i, j).size) }
      .maxBy { case (k, _, _, n) => (n, -k) }
    val r = rows.head
    assert(r.getLong(0) == hh && r.getLong(2) == best._1, "best candidate")
    assert(r.getLong(3) == best._4.toLong, "inlier count")
    assert(r.getLong(6) == slopeP, "planted slope")
    // refit slope replay
    val in = inliers(best._2, best._3)
    val n = in.size.toDouble
    val (sx, sy) = (in.map(_._1).sum.toDouble, in.map(_._2).sum.toDouble)
    val sxy = in.map(p => p._1 * p._2).sum.toDouble
    val sxx = in.map(p => p._1 * p._1).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(r.getDouble(4) == rnd6(slope), "ransac refit slope")
    // robustness invariants: recovery within 10%, OLS strictly worse
    assert(r.getBoolean(7), "planted trend must be recovered")
    assert(math.abs(r.getDouble(4) - slopeP) < math.abs(r.getDouble(5) - slopeP),
      "RANSAC must beat raw OLS on the contaminated series")
  }

  test("q278/q279 Theil-Sen and Mann-Kendall replay from a JVM pair sweep") {
    def md5l(x: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val ev = Tables.events(spark, sf)
      .select(expr("(ts div 1000) div 3600000000"),
        round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val h0 = ev.map(_._1).min; val hh = ev.map(_._1).max - h0 + 1
    val y0 = ev.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val slopeP = (y0.values.sum / hh) / 10
    val ys = (0L until hh).map { t =>
      (y0.getOrElse(h0 + t, 0L) + slopeP * t) *
        (if (md5l(s"ransac:v1:$t") % 24 == 0) 20L else 1L)
    }
    // Theil-Sen: lower median of quantized pairwise slopes
    val slopes = for (i <- 0 until hh.toInt; j <- (i + 1) until hh.toInt)
      yield {
        val num = (ys(j) - ys(i)) * 1000L; val den = (j - i).toLong
        num / den // both engines truncate toward zero
      }
    val sorted = slopes.sorted
    val med = sorted(((sorted.size + 1) / 2 - 1))
    val rTs = Registry.byName("q278_theil_sen").q(spark, sf).collect().head
    assert(rTs.getLong(0) == hh && rTs.getLong(1) == slopes.size.toLong)
    assert(rTs.getLong(2) == med, "Theil-Sen median slope")
    assert(rTs.getLong(3) == slopeP && rTs.getBoolean(4),
      "planted slope recovered with no tuning parameter")
    // Mann-Kendall: exact sign concordance + tie-corrected variance
    // (computed on RAW diffs — a quantized slope can hit 0 while the raw
    // difference doesn't)
    var sRaw = 0L
    for (i <- 0 until hh.toInt; j <- (i + 1) until hh.toInt)
      sRaw += java.lang.Long.signum(ys(j) - ys(i)).toLong
    val tieSum = ys.groupBy(identity).values
      .map(g => { val t = g.size.toLong; t * (t - 1) * (2 * t + 5) }).sum
    val varNum = hh * (hh - 1) * (2 * hh + 5) - tieSum
    val z = (sRaw.toDouble - math.signum(sRaw.toDouble)) /
      math.sqrt(varNum.toDouble / 18.0)
    val rMk = Registry.byName("q279_mann_kendall").q(spark, sf).collect().head
    assert(rMk.getLong(1) == sRaw, "S statistic")
    assert(rMk.getLong(2) == varNum, "tie-corrected variance numerator")
    assert(rMk.getLong(3) == (2000L * sRaw) / (hh * (hh - 1)), "tau milli")
    assert(rMk.getDouble(4) == rnd6(z), "z")
    assert(rMk.getString(5) == "increasing",
      "the planted trend must be detected through the contamination")
  }

  test("q281 conformal replays from a JVM-side split-fit-calibrate sweep") {
    val rows = Registry.byName("q281_conformal").q(spark, sf).collect()
    assert(rows.length == 5)
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), expr("(ts div 1000) div 3600000000"),
        round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val h0 = ev.map(_._2).min; val hh = ev.map(_._2).max - h0 + 1
    for (r <- rows) {
      val ty = r.getString(0)
      val byHr = ev.filter(_._1 == ty).groupBy(_._2).view
        .mapValues(_.map(_._3).sum).toMap
      val pts = (0L until hh).map(t => (t, byHr.getOrElse(h0 + t, 0L)))
      val train = pts.filter(_._1 * 10 < hh * 8)
      val cal = pts.filter(p => p._1 * 10 >= hh * 8 && p._1 * 10 < hh * 9)
      val test = pts.filter(_._1 * 10 >= hh * 9)
      val n = train.size.toDouble
      val (sx, sy) = (train.map(_._1).sum.toDouble, train.map(_._2).sum.toDouble)
      val sxy = train.map(p => p._1 * p._2).sum.toDouble
      val sxx = train.map(p => p._1 * p._1).sum.toDouble
      val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val a = (sy - b * sx) / n
      def rm(p: (Long, Long)): Long = math.abs(
        BigDecimal(1000000.0 * (p._2.toDouble - (a + b * p._1.toDouble)))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val calR = cal.map(rm).sorted
      val k = (9 * (calR.size + 1) + 9) / 10
      val qhat = calR(k - 1)
      val covered = test.count(p => rm(p) <= qhat).toLong
      assert(r.getLong(1) == calR.size.toLong && r.getLong(2) == k.toLong)
      assert(r.getLong(3) == qhat, s"$ty q_hat")
      assert(r.getLong(4) == test.size.toLong && r.getLong(5) == covered)
      assert(r.getLong(6) == covered * 1000000L / test.size)
      // the conformal promise: coverage near the 90% target (exact finite-
      // sample guarantee is in expectation; one draw stays in a wide band)
      assert(r.getBoolean(7), s"$ty coverage fell below the audit floor")
      assert(r.getLong(6) <= 1000000L)
    }
  }
}
