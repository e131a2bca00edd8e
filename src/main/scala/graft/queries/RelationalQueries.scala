package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{CurationOps, RelationalOps, StatsOps}
import graft.sources.Tables

/** Relational and statistical queries over the TPC-H tables and the events
  * table: joins (TPC-H, semi/anti, as-of, range, spatial, bucketed, salted,
  * Bloom-pruned), windows, sampling, sketches, drift tests and graph
  * algorithms.
  */
object RelationalQueries extends Family("relational") {
  import QuerySupport._

  /** Skew-salted equi-join vs a plain-join oracle: salting must be
    * result-invariant (it only changes the shuffle layout), so the salted
    * lineitem⋈orders aggregates equal DuckDB's plain join.
    */
  q("q_salted_join",
    // Salting only changes the shuffle layout — the result must equal a
    // plain join.
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(l_quantity) + 1e-6, 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("k"), col("l_partkey"), col("l_quantity"))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    graft.operators.RelationalOps.saltedJoin(li, ord, "k", "l_partkey", nSalts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), rnd(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** Content-hash stratified sample: partitioning-independent training-mix
    * split (the scale-correct replacement for rand-based sampleBy).
    */
  q("q_stratified_sample",
    // 60-bit md5 bucket mirror (see q_doc_fingerprints): ASCII digits ⇒
    // VARCHAR md5 == binary md5.
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 <
        |  CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
        |            WHEN 'fr' THEN 1000 WHEN 'es' THEN 2500 ELSE 0 END
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.CurationOps.stratifiedSampleByHash(
      Tables.documents(s, dir), "lang", "doc_id",
      Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1, "es" -> 0.25))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Deterministic domain-mixing gate: weights derived from each source's
    * numeric suffix ((i mod 4)·0.75 + 0.5 → 0.5 / 1.25 / 2.0 / 2.75 —
    * exact binary fractions, so both engines' fractional-copy comparison
    * is bit-identical), epochs fanned out shuffle-free. Output pins the
    * full-epoch replication (equal per-epoch censuses) and the
    * hash-selected fractional tail per source.
    */
  q("q_domain_mix",
    // Domain-mix mirror: weights recomputed from the source suffix (exact
    // binary fractions), the same md5 bucket picks the fractional-epoch
    // rows, epochs unnested identically.
      """WITH d AS (SELECT source, n_chars,
        |    (CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) % 4) * 0.75 + 0.5 AS wt,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 10000 AS b
        |  FROM documents),
        |c AS (SELECT source, n_chars,
        |    CAST(floor(wt) AS INT) +
        |      (CASE WHEN b < (wt - floor(wt)) * 10000.0 THEN 1 ELSE 0 END) AS nc
        |  FROM d),
        |e AS (SELECT source, n_chars,
        |    unnest(generate_series(0, nc - 1)) AS epoch
        |  FROM c WHERE nc > 0)
        |SELECT source, CAST(epoch AS INT) AS epoch,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val weights = (0 until 20)
      .map(i => s"src$i" -> ((i % 4) * 0.75 + 0.5)).toMap
    graft.operators.CurationOps.mixSources(
      Tables.documents(s, dir), "source", "doc_id", weights)
      .groupBy(col("source"), col("epoch"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("source", "epoch")
  }

  /** Event sessionization (inactivity gap > 1 h starts a new session):
    * per-(user, session) event counts and value sums.
    */
  q("q_sessionize",
      """WITH s AS (SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 3600
        |       THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |t AS (SELECT user_id, value,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  round(sum(value) + 1e-6, 2) AS sum_value
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    RelationalOps.sessionize(Tables.events(s, dir), "user_id", "ts", 3600L,
      tieBreak = Seq("event_id"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), rnd(sum("value"), 2).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** As-of join gate: every click is enriched with the value of the same
    * user's most recent at-or-before purchase (right side collapsed to one
    * row per (user, ts) first), then aggregated per user. The oracle runs
    * DuckDB's NATIVE `ASOF LEFT JOIN`, so the union+window plan is checked
    * against an independent implementation of the same published
    * semantics. Timestamps in the fixture are µs-aligned, so the µs
    * (Spark) vs ns (DuckDB) representations order identically.
    */
  q("q_asof_join",
      """WITH r AS (SELECT user_id, ts, max(value) AS ref_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |l AS (SELECT user_id, event_id, ts
        |  FROM events WHERE event_type = 'click')
        |SELECT l.user_id, CAST(count(*) AS BIGINT) AS n_clicks,
        |  CAST(count(r.ref_value) AS BIGINT) AS n_matched,
        |  round(sum(r.ref_value) + 1e-9, 4) AS sum_ref
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val right = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts")).agg(max("value").as("ref_value"))
    val left = ev.where(col("event_type") === "click")
      .select("user_id", "event_id", "ts")
    RelationalOps.asOfJoin(left, "user_id", "ts", right, "user_id", "ts", "ref_value")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_clicks"),
        count("asof_ref_value").as("n_matched"),
        rnd(sum("asof_ref_value"), 4).as("sum_ref"))
      .orderBy("user_id")
  }

  /** Adversarial as-of fixture: every purchase row of a `user_id % 5 = 0`
    * user carries a NULL ref_value, so matched-but-null rows flow through
    * the join at scale. The presence semantics (ADVICE r6: a matched
    * null-valued right row yields null, never a fallback to an earlier
    * non-null row) is what DuckDB's native ASOF LEFT JOIN pins here: a
    * fallback implementation would inflate n_matched/sum_ref for exactly
    * those users.
    */
  q("q_asof_null",
      """WITH r AS (SELECT user_id, ts,
        |    CASE WHEN user_id % 5 = 0 THEN NULL ELSE max(value) END AS ref_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |l AS (SELECT user_id, event_id, ts
        |  FROM events WHERE event_type = 'click')
        |SELECT l.user_id, CAST(count(*) AS BIGINT) AS n_clicks,
        |  CAST(count(r.ref_value) AS BIGINT) AS n_matched,
        |  round(sum(r.ref_value) + 1e-9, 4) AS sum_ref
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val right = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(when(col("user_id") % 5 === 0, lit(null).cast("double"))
        .otherwise(max("value")).as("ref_value"))
    val left = ev.where(col("event_type") === "click")
      .select("user_id", "event_id", "ts")
    RelationalOps.asOfJoin(left, "user_id", "ts", right, "user_id", "ts", "ref_value")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_clicks"),
        count("asof_ref_value").as("n_matched"),
        rnd(sum("asof_ref_value"), 4).as("sum_ref"))
      .orderBy("user_id")
  }

  /** Bucketized range join gate: sampled lineitems (points = ship day)
    * against per-order service windows of bounded length (≤ 13 days, so
    * bucket width 14 puts every interval on ≤ 2 buckets). The oracle is
    * the plain inequality join DuckDB plans natively (IEJoin); the Spark
    * side must produce the identical match set through the bucket
    * equi-join + containment filter.
    */
  q("q_range_join",
      """WITH p AS (SELECT l_orderkey, l_linenumber,
        |    date_diff('day', DATE '1992-01-01', l_shipdate) AS p_day,
        |    l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 97 = 0),
        |iv AS (SELECT o_orderkey,
        |    date_diff('day', DATE '1992-01-01', o_orderdate) AS iv_start,
        |    date_diff('day', DATE '1992-01-01', o_orderdate) + o_orderkey % 14 AS iv_end
        |  FROM orders WHERE o_orderkey % 89 = 0)
        |SELECT iv.o_orderkey, CAST(count(*) AS BIGINT) AS n_pts,
        |  CAST(count(DISTINCT p.l_orderkey) AS BIGINT) AS n_orders,
        |  round(sum(p.l_extendedprice) + 1e-9, 4) AS sum_price
        |FROM p JOIN iv ON p.p_day BETWEEN iv.iv_start AND iv.iv_end
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val epoch = lit("1992-01-01")
    val pts = Tables.lineitem(s, dir)
      .where(col("l_orderkey") % 97 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate"), epoch).cast("long").as("p_day"),
        col("l_extendedprice"))
    val iv = Tables.orders(s, dir)
      .where(col("o_orderkey") % 89 === 0)
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), epoch).cast("long").as("iv_start"),
        (datediff(col("o_orderdate"), epoch) + col("o_orderkey") % 14)
          .cast("long").as("iv_end"))
    RelationalOps.rangeJoin(pts, "p_day", iv, "iv_start", "iv_end", bucketWidth = 14L)
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_pts"),
        countDistinct("l_orderkey").as("n_orders"),
        rnd(sum("l_extendedprice"), 4).as("sum_price"))
      .orderBy("o_orderkey")
  }

  /** Fixture polygons for q_point_in_polygon: CLOSED integer rings — an
    * axis-aligned square, a CONCAVE L (parity > 1 crossing on some
    * rays), and a triangle (non-axis-aligned edges exercise the
    * cross-multiplied intersection test).
    */
  private val PipPolys: Seq[(Long, Seq[(Long, Long)])] = Seq(
    1L -> Seq((100L, 100L), (300L, 100L), (300L, 300L), (100L, 300L),
      (100L, 100L)),
    2L -> Seq((0L, 0L), (200L, 0L), (200L, 100L), (100L, 100L),
      (100L, 200L), (0L, 200L), (0L, 0L)),
    3L -> Seq((250L, 250L), (450L, 250L), (350L, 420L), (250L, 250L)))

  /** Point-in-polygon containment census: event points against the three
    * fixture rings through bbox-cell candidates + integer ray-cast
    * parity; the oracle is the brute-force all-pairs edge test over the
    * same rings.
    */
  q("q_point_in_polygon",
    // Point-in-polygon mirror: brute-force all-pairs edge test (no
    // cells) with the IDENTICAL integer crossing condition.
    {
      val edges = PipPolys.flatMap { case (id, vs) =>
        vs.sliding(2).map { w =>
          s"($id, ${w(0)._1}, ${w(0)._2}, ${w(1)._1}, ${w(1)._2})"
        }
      }.mkString(", ")
      s"""WITH p AS (SELECT event_id AS pid, (event_id * 7) % 500 AS px,
         |    event_id % 500 AS py FROM events),
         |e(poly_id, x1, y1, x2, y2) AS (VALUES $edges),
         |cr AS (SELECT p.pid, p.px, p.py, e.poly_id FROM p JOIN e ON
         |  ((e.y1 > p.py) != (e.y2 > p.py)) AND
         |  ((e.y2 > e.y1 AND (e.x1 - p.px) * (e.y2 - e.y1)
         |      + (e.x2 - e.x1) * (p.py - e.y1) > 0)
         |   OR (e.y2 < e.y1 AND (e.x1 - p.px) * (e.y2 - e.y1)
         |      + (e.x2 - e.x1) * (p.py - e.y1) < 0))),
         |ins AS (SELECT pid, poly_id FROM cr
         |  GROUP BY 1, 2 HAVING count(*) % 2 = 1)
         |SELECT CAST(poly_id AS BIGINT) AS poly_id,
         |  CAST(count(*) AS BIGINT) AS n_inside,
         |  CAST(sum(pid) AS BIGINT) AS sum_pid
         |FROM ins GROUP BY 1 ORDER BY poly_id""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val polys = PipPolys.map { case (id, vs) =>
      (id, vs.map(_._1), vs.map(_._2))
    }.toDF("poly_id", "xs", "ys")
    // px spreads via event_id·7 (user_id tops out near 150 at small sf,
    // which would leave the x>250 polygons pointless)
    val pts = Tables.events(s, dir).select(col("event_id").as("id"),
      ((col("event_id") * 7) % 500).as("x"), (col("event_id") % 500).as("y"))
    RelationalOps.pointInPolygonJoin(pts, "id", "x", "y",
        polys, "poly_id", "xs", "ys", cellSize = 128L)
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n_inside"), sum("pid").as("sum_pid"))
      .orderBy("poly_id")
  }

  /** Spatial radius self-join: all event-point pairs within distance 5
    * on an integer grid, via 3×3 cell-neighborhood candidates + exact
    * integer distance filter. The oracle is the brute-force O(n²)
    * distance join — a genuinely different algorithm producing the
    * identical pair set.
    */
  q("q_spatial_join",
    // Spatial mirror: brute-force distance join (no cells) — same pairs.
      """WITH p AS (SELECT event_id AS id, user_id % 500 AS x,
        |    event_id % 500 AS y FROM events)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |    AS BIGINT) AS dist2
        |FROM p a JOIN p b ON a.id < b.id
        |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val pts = Tables.events(s, dir).select(col("event_id").as("id"),
      (col("user_id") % 500).as("x"), (col("event_id") % 500).as("y"))
    RelationalOps.radiusJoin(pts, "id", "x", "y", radius = 5L)
      .orderBy("id_a", "id_b")
  }

  /** Regular-grid resampling of the per-user event series at step 50:
    * forward fill + linear interpolation at each tick, replayed
    * tick-for-tick by the oracle's window mirror.
    */
  q("q_resample",
    // Resample mirror: identical union + two-frame window over (ts, kind)
    // with obs-before-tick tie order; identical interpolation arithmetic.
      """WITH o AS (SELECT user_id % 20 AS k, event_id AS ts, value AS v
        |  FROM events),
        |b AS (SELECT k, (min(ts) // 50) * 50 AS t0, (max(ts) // 50) * 50 AS t1
        |  FROM o GROUP BY 1),
        |ticks AS (SELECT k, unnest(generate_series(t0, t1, 50)) AS ts FROM b),
        |u AS (SELECT k, ts, v, 0 AS kind FROM o
        |  UNION ALL SELECT k, ts, NULL AS v, 1 AS kind FROM ticks),
        |w AS (SELECT k, ts, kind,
        |    last_value(v IGNORE NULLS) OVER
        |      (PARTITION BY k ORDER BY ts, kind
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS) OVER
        |      (PARTITION BY k ORDER BY ts, kind
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    first_value(v IGNORE NULLS) OVER
        |      (PARTITION BY k ORDER BY ts, kind
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS) OVER
        |      (PARTITION BY k ORDER BY ts, kind
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM u)
        |SELECT k, ts AS tick, round(pv + 1e-9, 4) AS ffill,
        |  round(CASE WHEN nt IS NULL OR nt = pt THEN pv
        |    ELSE pv + (nv - pv) * (ts - pt) / (nt - pt) END + 1e-9, 4) AS interp
        |FROM w WHERE kind = 1 AND pv IS NOT NULL
        |ORDER BY k, tick""".stripMargin) { (s, dir) =>
    RelationalOps.resample(
      Tables.events(s, dir).select((col("user_id") % 20).as("k"),
        col("event_id"), col("value")),
      "k", "event_id", "value", step = 50L)
      .select(col("k"), col("tick"), rnd("ffill", 4).as("ffill"),
        rnd("interp", 4).as("interp"))
      .orderBy("k", "tick")
  }

  /** Pareto frontier of lineitem on (max l_quantity, min
    * l_extendedprice): per-partition local frontiers, then the bounded
    * dominance anti-join. The oracle is the NOT EXISTS dominance query —
    * a different algorithm over the same strict-dominance order.
    */
  q("q_skyline",
    // Skyline mirror: the NOT EXISTS dominance formulation.
    // Skyline mirror in O(n log n): the NOT EXISTS dominance formulation is
    // O(n²) in DuckDB (inequality + OR defeats IEJoin — at sf0.1's 600k
    // rows the blockwise NL join ran for half an hour; found by the sf0.1
    // oracle gate). Equivalent window form: s is dominated iff
    // min(price | q > s.q) <= s.p  OR  min(price | q >= s.q) < s.p.
      """WITH t AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    l_extendedprice FROM lineitem),
        |g AS (SELECT l_quantity AS q, min(l_extendedprice) AS mp
        |  FROM t GROUP BY 1),
        |r AS (SELECT q, mp,
        |    min(mp) OVER (ORDER BY q DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_gt,
        |    min(mp) OVER (ORDER BY q DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_ge
        |  FROM g)
        |SELECT t.l_orderkey, t.l_linenumber, t.l_quantity, t.l_extendedprice
        |FROM t JOIN r ON t.l_quantity = r.q
        |WHERE (r.min_gt IS NULL OR r.min_gt > t.l_extendedprice)
        |  AND r.min_ge >= t.l_extendedprice
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    RelationalOps.skyline(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice")),
      Seq(("l_quantity", true), ("l_extendedprice", false)))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Robust MAD outlier census per returnflag over extended prices —
    * exact medians, rounded-deviation comparison at k = 3.
    */
  q("q_mad_outliers",
    // MAD mirror: quantile_cont medians, identical rounded-deviation gate.
      """WITH med AS (SELECT l_returnflag AS g,
        |    quantile_cont(l_extendedprice, 0.5) AS m
        |  FROM lineitem GROUP BY 1),
        |dev AS (SELECT l.l_returnflag AS g,
        |    abs(l.l_extendedprice - med.m) AS ad, med.m
        |  FROM lineitem l JOIN med ON l.l_returnflag = med.g),
        |mad AS (SELECT g, quantile_cont(ad, 0.5) AS md FROM dev GROUP BY 1)
        |SELECT d.g AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(max(d.m) + 1e-9, 4) AS med, round(max(mad.md) + 1e-9, 4) AS mad,
        |  CAST(sum(CASE WHEN round(d.ad + 1e-9, 6) >
        |    3.0 * round(mad.md + 1e-9, 6) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev d JOIN mad ON d.g = mad.g GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    StatsOps.madOutliers(Tables.lineitem(s, dir), "l_returnflag",
      "l_extendedprice", k = 3.0)
      .select(col("l_returnflag"), col("n"), rnd("med", 4).as("med"),
        rnd("mad", 4).as("mad"), col("n_outliers"))
      .orderBy("l_returnflag")
  }

  /** The bounded-memory MAD census (GK-sketch medians) on the SAME
    * fixture as q_mad_outliers — at gate scales the sketch degenerates to
    * the exact rank-⌈n/2⌉ order statistic (the approxGroupQuantiles gate
    * contract: allowed rank error 2·n/accuracy < 1 needs accuracy > 2n;
    * 10⁶ covers sf0.1's ~300k-row flag groups, where the default 10⁵ only
    * covered sf0.01 — found by the sf0.1 oracle gate), which the oracle
    * replays with a rank window, while the identical code path runs
    * bounded-memory at production accuracy.
    */
  q("q_mad_approx",
    // Approx-MAD mirror: the GK degeneracy contract — medians are the
    // exact rank-⌈n/2⌉ order statistics, replayed with rank windows.
      """WITH r AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |med AS (SELECT g, max(CASE WHEN rn = greatest(1,
        |      CAST(ceil(0.5 * n) AS BIGINT)) THEN v END) AS m
        |  FROM r GROUP BY g),
        |dev AS (SELECT r.g, abs(r.v - med.m) AS ad, med.m
        |  FROM r JOIN med USING (g)),
        |r2 AS (SELECT g, ad, m,
        |    row_number() OVER (PARTITION BY g ORDER BY ad) AS rn2,
        |    count(*) OVER (PARTITION BY g) AS n2
        |  FROM dev),
        |mad AS (SELECT g, max(CASE WHEN rn2 = greatest(1,
        |      CAST(ceil(0.5 * n2) AS BIGINT)) THEN ad END) AS md
        |  FROM r2 GROUP BY g)
        |SELECT d.g AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(max(d.m) + 1e-9, 4) AS med,
        |  round(max(mad.md) + 1e-9, 4) AS mad,
        |  CAST(sum(CASE WHEN round(d.ad + 1e-9, 6) >
        |    3.0 * round(mad.md + 1e-9, 6) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev d JOIN mad USING (g) GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    StatsOps.madOutliersApprox(Tables.lineitem(s, dir), "l_returnflag",
      "l_extendedprice", k = 3.0, accuracy = 1000000)
      .select(col("l_returnflag"), col("n"), rnd("med", 4).as("med"),
        rnd("mad", 4).as("mad"), col("n_outliers"))
      .orderBy("l_returnflag")
  }

  /** k-anonymity / l-diversity release report over customer quasi-
    * identifiers (nation × market segment) with the account-balance
    * thousand-bucket as the sensitive attribute; k = 5, l = 3.
    */
  q("q_privacy_report",
    // Privacy mirror: the same two-level aggregation.
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT floor(c_acctbal / 1000)) AS BIGINT) AS n_sens
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_groups_below_k,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_at_risk,
        |  min(n) AS min_group_size,
        |  CAST(sum(CASE WHEN n_sens < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_groups_below_l,
        |  min(n_sens) AS min_diversity
        |FROM g""".stripMargin) { (s, dir) =>
    CurationOps.privacyReport(
      Tables.customer(s, dir).select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_bucket")),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket", k = 5L, l = 3L)
  }

  /** ε-DP Laplace-noised per-language counts (ε=0.5, seed 42): the
    * oracle replays the seeded hash→uniform→inverse-CDF noise exactly.
    */
  q("q_dp_counts",
    // DP mirror: the seeded md5→uniform→inverse-CDF Laplace draw
    // replayed term for term (b = 1/ε = 2, u = hash60/2^60, the same
    // 1e-12 log floor).
      """WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |h AS (SELECT lang, n,
        |    CAST(CAST('0x' || substr(md5(lang || '#' || '42'), 1, 15)
        |      AS BIGINT) AS DOUBLE) / 1152921504606846976.0 - 0.5 AS c
        |  FROM g)
        |SELECT lang, n,
        |  round(n + -2.0 * sign(c) * ln(greatest(1e-12, 1.0 - 2.0 * abs(c)))
        |    + 1e-9, 4) AS noisy_r
        |FROM h ORDER BY lang""".stripMargin) { (s, dir) =>
    CurationOps.dpNoisyCounts(Tables.documents(s, dir), "lang",
      epsilon = 0.5, seed = 42L)
      .select(col("lang"), col("n"), rnd("noisy", 4).as("noisy_r"))
      .orderBy("lang")
  }

  /** Weighted sample without replacement (A-ES keys from the 60-bit md5
    * draw): top-50 documents by ln(u)/n_chars — reproducible
    * quality-weighted selection, mirrored end-to-end in SQL.
    */
  q("q_weighted_sample",
      """WITH s AS (SELECT doc_id, n_chars,
        |    ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |        + 0.5) / 1152921504606846976.0)
        |      / CAST(n_chars AS DOUBLE) AS score
        |  FROM documents
        |  WHERE n_chars > 0),  -- mirror the A-ES positive-weight guard
        |r AS (SELECT doc_id, n_chars, score,
        |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
        |  FROM s)
        |SELECT doc_id, n_chars, rank, round(score + 1e-9, 6) AS score
        |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin) { (s, dir) =>
    CurationOps.weightedSample(
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", k = 50)
      .select(col("doc_id"), col("n_chars"), col("rank"),
        rnd("_score", 6).as("score"))
      .orderBy("rank")
  }

  /** Fixed-width price histogram per return flag. */
  q("q_histogram",
      """SELECT l_returnflag, CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    StatsOps.histogram(Tables.lineitem(s, dir), "l_returnflag",
      "l_extendedprice", binWidth = 5000.0)
      .orderBy("l_returnflag", "bin")
  }

  /** One-pass Pearson correlation matrix over the lineitem numerics. */
  q("q_corr_matrix",
      """SELECT col_a, col_b, round(c + 1e-9, 6) AS corr FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |    corr(l_quantity, l_extendedprice) AS c FROM lineitem
        |  UNION ALL SELECT 'l_quantity', 'l_discount',
        |    corr(l_quantity, l_discount) FROM lineitem
        |  UNION ALL SELECT 'l_quantity', 'l_tax',
        |    corr(l_quantity, l_tax) FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |    corr(l_extendedprice, l_discount) FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |    corr(l_extendedprice, l_tax) FROM lineitem
        |  UNION ALL SELECT 'l_discount', 'l_tax',
        |    corr(l_discount, l_tax) FROM lineitem)
        |ORDER BY col_a, col_b""".stripMargin) { (s, dir) =>
    StatsOps.correlationMatrix(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .select(col("col_a"), col("col_b"), rnd("corr", 6).as("corr"))
      .orderBy("col_a", "col_b")
  }

  /** Sketch-quantile gate: `percentile_approx` (the mergeable GK summary —
    * the documented 100 TB switch for the exact profilers) over
    * l_extendedprice per return flag. Accuracy is set above the group row
    * count, where the sketch degenerates to the exact lower order
    * statistic at rank max(1, ⌈q·n⌉) — which the oracle recomputes with a
    * plain rank window, so the production code path is gate-checked
    * against independent SQL.
    */
  q("q_profile_approx",
    // GK-sketch mirror: at accuracy > n the sketch answer is the exact
    // lower order statistic at rank max(1, floor(q*n)) — a rank window.
    {
      def qc(q: Double, nm: String): String =
        s"""round(max(CASE WHEN rn = greatest(1, CAST(ceil($q * n) AS BIGINT))
           |  THEN v END) + 1e-9, 4) AS $nm""".stripMargin
      s"""WITH r AS (SELECT l_returnflag AS g, l_extendedprice AS v,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM lineitem)
         |SELECT g AS l_returnflag, CAST(max(n) AS BIGINT) AS n,
         |  ${qc(0.25, "q25")}, ${qc(0.5, "q50")}, ${qc(0.75, "q75")},
         |  ${qc(0.95, "q95")}
         |FROM r GROUP BY g ORDER BY l_returnflag""".stripMargin
    }) { (s, dir) =>
    StatsOps.approxGroupQuantiles(Tables.lineitem(s, dir),
      "l_returnflag", "l_extendedprice",
      Seq(0.25, 0.5, 0.75, 0.95), accuracy = 1000000)
      .select(col("l_returnflag"), col("n"),
        rnd("q25", 4).as("q25"), rnd("q50", 4).as("q50"),
        rnd("q75", 4).as("q75"), rnd("q95", 4).as("q95"))
      .orderBy("l_returnflag")
  }

  /** Engine-portable HLL distinct gate: register sketch from the shared
    * 60-bit md5 hash, estimate + linear-counting correction recomputed
    * bit-for-bit by the oracle; exact distinct alongside shows the sketch
    * error the 1.04/√m bound promises.
    */
  q("q_approx_distinct",
    // Portable-HLL mirror: identical registers from the shared 60-bit md5
    // hash, identical exact-integer inverse-power sum, identical estimate
    // arithmetic (alpha interpolated from the same double).
    {
      val m = 4096L; val w = 48
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val rankCase = (w - 1 to 0 by -1).reverse // ascending b → CASE order
      val chain = (w - 1 to 0 by -1)
        .map(b => s"WHEN rest >= ${1L << b} THEN ${w - b}")
        .mkString(" ")
      s"""WITH h AS (SELECT l_returnflag AS g,
         |    CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS hv
         |  FROM lineitem),
         |s AS (SELECT g, hv % $m AS reg, hv // $m AS rest FROM h),
         |r AS (SELECT g, reg, CASE $chain ELSE ${w + 1} END AS rk FROM s),
         |regs AS (SELECT g, reg, max(rk) AS mj FROM r GROUP BY 1, 2),
         |a AS (SELECT g, CAST(count(*) AS BIGINT) AS present,
         |    CAST(sum(CAST(1 AS BIGINT) << CAST(${w + 1} - mj AS INTEGER)) AS BIGINT)
         |      AS sum_scaled
         |  FROM regs GROUP BY 1),
         |e AS (SELECT g,
         |    CAST(sum_scaled + ($m - present) * (CAST(1 AS BIGINT) << ${w + 1})
         |      AS DOUBLE) / ${math.pow(2.0, (w + 1).toDouble)} AS sum_inv,
         |    CAST($m - present AS DOUBLE) AS zeros
         |  FROM a),
         |est AS (SELECT g,
         |    CASE WHEN zeros > 0 AND CAST($alpha AS DOUBLE) * $m * $m / sum_inv <= ${2.5 * m}
         |         THEN ${m.toDouble} * ln(${m.toDouble} / zeros)
         |         ELSE CAST($alpha AS DOUBLE) * $m * $m / sum_inv END AS hll
         |  FROM e),
         |x AS (SELECT l_returnflag AS g,
         |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact
         |  FROM lineitem GROUP BY 1)
         |SELECT g AS l_returnflag, n_exact, round(hll + 1e-9, 4) AS hll_est
         |FROM x JOIN est USING (g) ORDER BY l_returnflag""".stripMargin
    }) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    exact.join(StatsOps.hllDistinct(li, "l_returnflag", "l_partkey", p = 12),
        "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"),
        rnd("hll_estimate", 4).as("hll_est"))
      .orderBy("l_returnflag")
  }

  /** KMV/theta-sketch corpus-overlap estimates between the three
    * l_returnflag partitions of lineitem's partkey universe: per-set
    * bounded sketches (k smallest distinct 60-bit md5 hashes, map-side
    * partial aggregation), then pairwise union / intersection /
    * difference estimates computed from the two k-long ARRAYS alone —
    * the 100 TB corpus-overlap answer without a corpus × corpus join.
    * The exact tier (distinct sizes + pairwise intersections) rides
    * along as the verification baseline, and the oracle rebuilds the
    * identical sketches from the same md5 hashes.
    */
  q("q_theta_sketch",
    // KMV/theta mirror: identical k-smallest-distinct-md5 sketches per
    // set (window rank over distinct hashes), identical θ = min(θ_A, θ_B)
    // in exact BIGINT domain, identical n·M/θ double arithmetic.
    {
      val k = 256
      val M = "1152921504606846976" // 2^60, the 60-bit md5 hash space
      s"""WITH dv AS (SELECT DISTINCT l_returnflag AS s, l_partkey AS v FROM lineitem),
         |h AS (SELECT DISTINCT s,
         |    CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15) AS BIGINT) AS hv
         |  FROM dv),
         |rk AS (SELECT s, hv, row_number() OVER (PARTITION BY s ORDER BY hv) AS rn FROM h),
         |sk AS (SELECT s, hv FROM rk WHERE rn <= $k),
         |st AS (SELECT s, count(*) AS n, max(hv) AS kth FROM sk GROUP BY 1),
         |th AS (SELECT s, n, kth,
         |    CASE WHEN n >= $k THEN kth ELSE CAST($M AS BIGINT) END AS theta,
         |    CASE WHEN n >= $k THEN ${(k - 1).toDouble} * ${M}e0 / CAST(kth AS DOUBLE)
         |         ELSE CAST(n AS DOUBLE) END AS est
         |  FROM st),
         |pairs AS (SELECT a.s AS sa, b.s AS sb, least(a.theta, b.theta) AS theta,
         |    a.est AS est_a, b.est AS est_b
         |  FROM th a, th b WHERE a.s < b.s),
         |ap AS (SELECT p.sa, p.sb, count(*) AS na FROM pairs p
         |  JOIN sk ka ON ka.s = p.sa AND ka.hv < p.theta GROUP BY 1, 2),
         |bp AS (SELECT p.sa, p.sb, count(*) AS nb FROM pairs p
         |  JOIN sk kb ON kb.s = p.sb AND kb.hv < p.theta GROUP BY 1, 2),
         |ip AS (SELECT p.sa, p.sb, count(*) AS ni FROM pairs p
         |  JOIN sk ka ON ka.s = p.sa AND ka.hv < p.theta
         |  JOIN sk kb ON kb.s = p.sb AND kb.hv = ka.hv GROUP BY 1, 2),
         |ex AS (SELECT a.s AS sa, b.s AS sb, CAST(count(*) AS BIGINT) AS n_intersect
         |  FROM dv a JOIN dv b ON a.v = b.v AND a.s < b.s GROUP BY 1, 2),
         |sz AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM dv GROUP BY 1)
         |SELECT p.sa AS set_a, p.sb AS set_b, sza.n AS n_a, szb.n AS n_b,
         |  ex.n_intersect,
         |  round(p.est_a + 1e-9, 4) AS est_a, round(p.est_b + 1e-9, 4) AS est_b,
         |  round((ap.na + bp.nb - ip.ni) * ${M}e0 / CAST(p.theta AS DOUBLE) + 1e-9, 4)
         |    AS est_union,
         |  round(ip.ni * ${M}e0 / CAST(p.theta AS DOUBLE) + 1e-9, 4) AS est_intersect,
         |  round((ap.na - ip.ni) * ${M}e0 / CAST(p.theta AS DOUBLE) + 1e-9, 4)
         |    AS est_a_not_b
         |FROM pairs p
         |JOIN ap ON ap.sa = p.sa AND ap.sb = p.sb
         |JOIN bp ON bp.sa = p.sa AND bp.sb = p.sb
         |JOIN ip ON ip.sa = p.sa AND ip.sb = p.sb
         |JOIN ex ON ex.sa = p.sa AND ex.sb = p.sb
         |JOIN sz sza ON sza.s = p.sa
         |JOIN sz szb ON szb.s = p.sb
         |ORDER BY set_a, set_b""".stripMargin
    }) { (s, dir) =>
    val k = 256
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("set"), col("l_partkey").as("v"))
    val est = StatsOps.thetaSetOps(StatsOps.kmvSketch(li, "set", "v", k), k)
    val dv = li.distinct
    val exact = dv.as("a").join(dv.as("b"),
        col("a.v") === col("b.v") && col("a.set") < col("b.set"))
      .groupBy(col("a.set").as("set_a"), col("b.set").as("set_b"))
      .agg(count(lit(1)).as("n_intersect"))
    val sizes = dv.groupBy(col("set")).agg(count(lit(1)).as("n"))
    est.join(exact, Seq("set_a", "set_b"))
      .join(sizes.select(col("set").as("set_a"), col("n").as("n_a")), "set_a")
      .join(sizes.select(col("set").as("set_b"), col("n").as("n_b")), "set_b")
      .select(col("set_a"), col("set_b"), col("n_a"), col("n_b"),
        col("n_intersect"),
        rnd("est_a", 4).as("est_a"), rnd("est_b", 4).as("est_b"),
        rnd("est_union", 4).as("est_union"),
        rnd("est_intersect", 4).as("est_intersect"),
        rnd("est_a_not_b", 4).as("est_a_not_b"))
      .orderBy("set_a", "set_b")
  }

  /** Single-pass column profile of lineitem: numeric and string columns in
    * one aggregation job, exploded to the long layout.
    */
  q("q_profile", {
      def num(c: String) =
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  round(CAST(min($c) AS DOUBLE) + 1e-9, 4) AS min_num,
           |  round(CAST(max($c) AS DOUBLE) + 1e-9, 4) AS max_num,
           |  round(avg($c) + 1e-9, 4) AS mean,
           |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           |FROM lineitem""".stripMargin
      def str(c: String) =
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |  CAST(NULL AS DOUBLE) AS mean,
           |  min($c) AS min_str, max($c) AS max_str
           |FROM lineitem""".stripMargin
      (Seq("l_quantity", "l_extendedprice", "l_partkey").map(num) ++
        Seq("l_returnflag", "l_linestatus").map(str))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")
    }) { (s, dir) =>
    StatsOps.profileColumns(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_partkey", "l_returnflag", "l_linestatus"))
      .select(col("column"), col("n"), col("n_null"), col("n_distinct"),
        rnd("min_num", 4).as("min_num"), rnd("max_num", 4).as("max_num"),
        rnd("mean", 4).as("mean"), col("min_str"), col("max_str"))
      .orderBy("column")
  }

  /** Group-wise z-score outlier gate over event values (|z| ≤ 2 on the
    * rounded score), aggregated per type.
    */
  q("q_zscore_gate",
      """WITH s AS (SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sd
        |  FROM events GROUP BY 1),
        |k AS (SELECT e.event_type, e.value
        |  FROM events e JOIN s USING (event_type)
        |  WHERE s.sd = 0 OR round(abs((e.value - s.mu) / s.sd) + 1e-9, 6) <= 2.0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
        |  round(sum(value) + 1e-9, 4) AS sum_kept
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    CurationOps.zScoreFilter(
      Tables.events(s, dir).select(col("event_type"), col("value")),
      "event_type", "value", maxZ = 2.0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"), rnd(sum("value"), 4).as("sum_kept"))
      .orderBy("event_type")
  }

  /** Exact per-group quantile vector (linear interpolation — the
    * `quantile_cont` convention both engines share).
    */
  q("q_quantiles",
      """SELECT l_returnflag, CAST(count(l_extendedprice) AS BIGINT) AS n,
        |  round(quantile_cont(l_extendedprice, 0.25) + 1e-9, 4) AS q25,
        |  round(quantile_cont(l_extendedprice, 0.5) + 1e-9, 4) AS q50,
        |  round(quantile_cont(l_extendedprice, 0.75) + 1e-9, 4) AS q75,
        |  round(quantile_cont(l_extendedprice, 0.95) + 1e-9, 4) AS q95
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    StatsOps.groupQuantiles(Tables.lineitem(s, dir), "l_returnflag",
      "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.95))
      .select(col("l_returnflag"), col("n"),
        rnd("q25", 4).as("q25"), rnd("q50", 4).as("q50"),
        rnd("q75", 4).as("q75"), rnd("q95", 4).as("q95"))
      .orderBy("l_returnflag")
  }

  /** Bucketed co-located join gate: both fact tables are written
    * bucketed + sorted on the join key (`colocateBucketed` — the one-time
    * shuffle), then joined bucket-aligned with a `merge` hint. At 100 TB
    * this is the difference between shuffling the fact table on every
    * query and never shuffling it again; PlanSpec pins the zero-Exchange
    * join. Results must equal the plain join, which is what the oracle
    * runs.
    */
  q("q_bucketed_join",
    // revenue mirrored in exact integer cents·basis-points (order-free
    // sum; a float Σ drifts past the 2-decimal boundary at sf0.1 group
    // sizes — see q_bucketed_join).
      """SELECT o_orderkey % 100 AS grp, CAST(count(*) AS BIGINT) AS n_items,
        |  round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |    (10000 - CAST(round(l_discount * 10000) AS BIGINT))) AS DOUBLE)
        |    / 1000000 + 1e-9, 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    RelationalOps.colocateBucketed(
      Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
      "g_orders_bkt", "o_orderkey", buckets = 8)
    RelationalOps.colocateBucketed(
      Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice", "l_discount"),
      "g_lineitem_bkt", "l_orderkey", buckets = 8)
    val o = s.table("g_orders_bkt")
    val l = s.table("g_lineitem_bkt")
    // revenue in EXACT integer cents·basis-points: a float Σ ext·(1−disc)
    // is summation-order-dependent, and at sf0.1's ~6k rows/group the
    // cross-engine drift (~1e-4 on a 3e8 sum) can flip a 2-decimal
    // boundary that the 1e-9 epsilon cannot absorb (found by the sf0.1
    // oracle gate). Prices/discounts are 2-decimal by construction, so
    // the scaled products are exact longs and the sum is order-free.
    o.hint("merge").join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy((col("o_orderkey") % 100).as("grp"))
      .agg(count(lit(1)).as("n_items"),
        rnd(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(10000L) - round(col("l_discount") * 10000).cast("long")))
          .cast("double") / lit(1000000.0), 2)
          .as("revenue"))
      .orderBy("grp")
  }

  /** Bounded top-k-per-group gate: best 5 docs per (lang, source) group
    * by (n_chars desc, id asc) via the custom [[graft.functions.TopKAgg]]
    * Aggregator — state ≤ k, map-side partials, only k rows per group per
    * partition shuffle. The oracle replays with the window form the
    * aggregator replaces; semilattice determinism is what makes the two
    * agree exactly.
    */
  q("q_topk_per_group",
    // The window form the bounded aggregator replaces, replayed as the
    // oracle: identical (score desc, id asc) total order.
      """SELECT grp, rank, doc_id, n_chars FROM (
        |  SELECT lang || '_' || source AS grp, doc_id,
        |    CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang || '_' || source
        |      ORDER BY n_chars DESC, doc_id) AS INT) AS rank
        |  FROM documents)
        |WHERE rank <= 5 ORDER BY grp, rank""".stripMargin) { (s, dir) =>
    graft.functions.TopK.topKPerGroup(
      Tables.documents(s, dir)
        .select(concat(col("lang"), lit("_"), col("source")).as("grp"),
          col("doc_id"), col("n_chars")),
      "grp", "doc_id", "n_chars", k = 5)
      .select(col("grp"), col("rank"), col("doc_id"),
        col("n_chars").cast("long").as("n_chars"))
      .orderBy("grp", "rank")
  }

  /** Column-lineage gate: [[graft.plans.Lineage.columnLineage]] analyzes
    * the flagship five-table join's Catalyst plan (never executing it)
    * and must recover exactly which source columns feed each output —
    * r_name/n_name pass through their dimensions, revenue derives from
    * lineitem's price and discount, the count literal from nothing. The
    * oracle is the hand-derived edge list.
    */
  q("q_column_lineage",
    // The hand-derived lineage edge list for the flagship join — a
    // structural gate on the plan-analysis result.
      """SELECT * FROM (VALUES
        |  ('n_items', 'literal', ''),
        |  ('n_name', 'nation', 'n_name'),
        |  ('r_name', 'region', 'r_name'),
        |  ('revenue', 'lineitem', 'l_discount'),
        |  ('revenue', 'lineitem', 'l_extendedprice'))
        |  v(out_col, src_table, src_col)
        |ORDER BY out_col, src_table, src_col""".stripMargin) { (s, dir) =>
    graft.plans.Lineage.columnLineage(qJoinRegionalRevenue(s, dir))
      .orderBy("out_col", "src_table", "src_col")
  }

  /** Gaps-and-islands merge of per-customer-bucket service windows:
    * overlapping intervals coalesce via the two-window break/island
    * formulation, replayed window-for-window by the oracle.
    */
  q("q_interval_merge",
    // lag/lead windows replayed in µs with the same (ts, event id) order.
    // Islands mirror: the same two windows (prev-max-end break, running
    // break sum) over the identical (s, e) sort.
      """WITH iv AS (SELECT o_custkey % 50 AS k,
        |    date_diff('day', DATE '1992-01-01', o_orderdate) AS s,
        |    date_diff('day', DATE '1992-01-01', o_orderdate)
        |      + o_orderkey % 14 AS e
        |  FROM orders),
        |w AS (SELECT k, s, e,
        |    max(e) OVER (PARTITION BY k ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |b AS (SELECT k, s, e,
        |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS brk FROM w),
        |i AS (SELECT k, s, e,
        |    sum(brk) OVER (PARTITION BY k ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM b)
        |SELECT k, CAST(island AS BIGINT) AS island,
        |  CAST(min(s) AS BIGINT) AS start_day,
        |  CAST(max(e) AS BIGINT) AS end_day,
        |  CAST(count(*) AS BIGINT) AS n_intervals
        |FROM i GROUP BY 1, 2 ORDER BY k, island""".stripMargin) { (s, dir) =>
    val epoch = lit("1992-01-01")
    val iv = Tables.orders(s, dir).select(
      (col("o_custkey") % 50).as("k"),
      datediff(col("o_orderdate"), epoch).cast("long").as("s0"),
      (datediff(col("o_orderdate"), epoch) + col("o_orderkey") % 14)
        .cast("long").as("s1"))
    RelationalOps.mergeIntervals(iv, "k", "s0", "s1")
      .select(col("k"), col("island"), col("start").as("start_day"),
        col("end").as("end_day"), col("n_intervals"))
      .orderBy("k", "island")
  }

  /** Join-key skew diagnosis over lineitem's partkey: per-key census
    * fold + bounded top-k heaviest keys — the report that picks between
    * plain, broadcast, salted, and AQE-skew joins.
    */
  q("q_skew_report",
    // Skew mirror: per-key census + the same (n DESC, key) top-5.
      """WITH c AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(max(n) AS BIGINT) AS max_count,
        |    CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_count
        |  FROM c),
        |t AS (SELECT key, n,
        |    CAST(row_number() OVER (ORDER BY n DESC, key) AS INT) AS rank
        |  FROM c)
        |SELECT t.rank, t.key, t.n, s.n_keys, s.n_rows, s.max_count,
        |  round(s.avg_count + 1e-9, 4) AS avg_count,
        |  round(CAST(s.max_count AS DOUBLE) / s.avg_count + 1e-9, 4) AS skew
        |FROM t CROSS JOIN s WHERE t.rank <= 5 ORDER BY t.rank""".stripMargin) { (s, dir) =>
    StatsOps.skewReport(Tables.lineitem(s, dir), "l_partkey", topK = 5)
      .select(col("rank"), col("key"), col("n"), col("n_keys"),
        col("n_rows"), col("max_count"),
        rnd("avg_count", 4).as("avg_count"), rnd("skew", 4).as("skew"))
      .orderBy("rank")
  }

  /** CDC change-set apply (warehouse MERGE): each customer's latest
    * order refreshes the account balance ('U'), every 97th ordered
    * customer is a tombstone ('D'), latest-wins per key — then a
    * per-segment census of the merged table. The oracle folds the same
    * change set with a window + left join.
    */
  q("q_cdc_apply",
    // CDC mirror: the same latest-order change set folded with a window
    // + left join; tombstones drop, latest change wins.
      """WITH l AS (SELECT o_custkey AS c_custkey, o_totalprice AS price,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |ch AS (SELECT c_custkey, price FROM l WHERE rn = 1),
        |m AS (SELECT c.c_mktsegment,
        |    CASE WHEN ch.c_custkey IS NOT NULL THEN ch.price
        |         ELSE c.c_acctbal END AS bal,
        |    ch.c_custkey IS NOT NULL AND c.c_custkey % 97 = 0 AS del
        |  FROM customer c LEFT JOIN ch USING (c_custkey))
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(bal) + 1e-6, 2) AS sum_bal
        |FROM m WHERE NOT del GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val base = Tables.customer(s, dir)
    val latest = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice"))).as("_m"))
      .select(col("o_custkey").as("c_custkey"),
        col("_m.o_orderkey").as("_seq"), col("_m.o_totalprice").as("_price"))
    val changes = base.join(latest, "c_custkey")
      .withColumn("c_acctbal", col("_price"))
      .withColumn("_op", when(col("c_custkey") % 97 === 0, lit("D"))
        .otherwise(lit("U")))
      .drop("_price")
    RelationalOps.applyChangeSet(base, changes, Seq("c_custkey"), "_seq", "_op")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), rnd(sum("c_acctbal"), 2).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** First-order Markov transition matrix over per-user event-type
    * sequences: lag window + |states|²-bounded pair reduce, row-
    * normalized probabilities.
    */
  q("q_transitions",
    // Transition mirror: identical lag pairing and row normalization.
      """WITH p AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev AS prev_state, event_type AS next_state,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE prev IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_state, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.prev_state, c.next_state, c.n,
        |  round(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) + 1e-9, 6) AS p
        |FROM c JOIN t USING (prev_state)
        |ORDER BY prev_state, next_state""".stripMargin) { (s, dir) =>
    RelationalOps.transitionMatrix(Tables.events(s, dir), "user_id",
      "event_id", "event_id", "event_type")
      .select(col("prev_state"), col("next_state"), col("n"),
        rnd("p", 6).as("p"))
      .orderBy("prev_state", "next_state")
  }

  /** Two-sample KS drift test between the click and view value
    * distributions — exact integer-rational D with the argmax value,
    * replayed integer-for-integer by the oracle.
    */
  q("q_ks_test",
    // KS mirror: identical distinct-value cumulative counts, identical
    // integer numerator, one double division — plus the min-v argmax.
      """WITH t AS (SELECT value AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
        |  FROM events WHERE event_type IN ('click', 'view')),
        |c AS (SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
        |    CAST(sum(ib) AS BIGINT) AS cb FROM t GROUP BY 1),
        |w AS (SELECT v,
        |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb
        |  FROM c),
        |g AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb FROM c),
        |s AS (SELECT w.v, abs(w.cuma * g.nb - w.cumb * g.na) AS num
        |  FROM w CROSS JOIN g),
        |m AS (SELECT max(num) AS mx FROM s)
        |SELECT g.na AS n_a, g.nb AS n_b, CAST(m.mx AS BIGINT) AS d_num,
        |  round(CAST(m.mx AS DOUBLE)
        |    / (CAST(g.na AS DOUBLE) * CAST(g.nb AS DOUBLE)) + 1e-9, 6) AS d,
        |  (SELECT min(s2.v) FROM s s2, m m2 WHERE s2.num = m2.mx) AS at_v
        |FROM g CROSS JOIN m""".stripMargin) { (s, dir) =>
    StatsOps.ksTest(Tables.events(s, dir), "event_type", "value",
      a = "click", b = "view")
      .select(col("n_a"), col("n_b"), col("d_num"), rnd("d", 6).as("d"),
        col("at_v"))
  }

  /** PSI drift score between the click and view value distributions at
    * bin width 0.5 — deterministic skip-census for one-sided bins.
    */
  q("q_psi",
    // PSI mirror: identical floor bins, skip census, ln terms.
      """WITH t AS (SELECT CAST(floor(value / 0.5) AS BIGINT) AS bin,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
        |  FROM events WHERE event_type IN ('click', 'view')),
        |c AS (SELECT bin, CAST(sum(ia) AS BIGINT) AS ca,
        |    CAST(sum(ib) AS BIGINT) AS cb FROM t GROUP BY 1),
        |g AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb FROM c),
        |terms AS (SELECT c.ca, c.cb,
        |    CASE WHEN c.ca > 0 AND c.cb > 0 THEN
        |      (CAST(c.ca AS DOUBLE) / g.na - CAST(c.cb AS DOUBLE) / g.nb)
        |      * ln((CAST(c.ca AS DOUBLE) / g.na)
        |          / (CAST(c.cb AS DOUBLE) / g.nb))
        |    ELSE 0.0 END AS term,
        |    g.na, g.nb
        |  FROM c CROSS JOIN g)
        |SELECT CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(CASE WHEN ca = 0 OR cb = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_skipped,
        |  max(na) AS n_a, max(nb) AS n_b,
        |  round(sum(term) + 1e-9, 4) AS psi
        |FROM terms""".stripMargin) { (s, dir) =>
    StatsOps.psi(Tables.events(s, dir), "event_type", "value",
      a = "click", b = "view", binWidth = 0.5)
      .select(col("n_bins"), col("n_skipped"), col("n_a"), col("n_b"),
        rnd("psi", 4).as("psi"))
  }

  /** Pearson chi-square contingency of event_type × user-id bucket:
    * the full grid (zero cells included), expected counts from exact
    * integer marginals, per-cell contributions, and the statistic + dof
    * on every row.
    */
  q("q_chi_square",
    // Chi-square mirror: full grid from the exact integer marginals.
      """WITH d AS (SELECT event_type, user_id % 4 AS bucket FROM events),
        |obs AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_obs
        |  FROM d GROUP BY 1, 2),
        |ra AS (SELECT event_type, sum(n_obs) AS ra FROM obs GROUP BY 1),
        |rb AS (SELECT bucket, sum(n_obs) AS rb FROM obs GROUP BY 1),
        |g AS (SELECT sum(n_obs) AS n,
        |    count(DISTINCT event_type) AS da, count(DISTINCT bucket) AS db
        |  FROM obs),
        |cells AS (SELECT ra.event_type, rb.bucket,
        |    coalesce(obs.n_obs, 0) AS n_obs,
        |    CAST(ra.ra AS DOUBLE) * CAST(rb.rb AS DOUBLE) / CAST(g.n AS DOUBLE)
        |      AS expected
        |  FROM ra CROSS JOIN rb CROSS JOIN g
        |  LEFT JOIN obs USING (event_type, bucket)),
        |wc AS (SELECT *, (CAST(n_obs AS DOUBLE) - expected)
        |    * (CAST(n_obs AS DOUBLE) - expected) / expected AS contrib
        |  FROM cells),
        |st AS (SELECT sum(contrib) AS chi2 FROM wc)
        |SELECT wc.event_type, wc.bucket, wc.n_obs,
        |  round(wc.expected + 1e-9, 4) AS expected,
        |  round(wc.contrib + 1e-9, 4) AS contrib,
        |  round(st.chi2 + 1e-9, 4) AS chi2,
        |  CAST((g.da - 1) * (g.db - 1) AS BIGINT) AS dof
        |FROM wc CROSS JOIN st CROSS JOIN g
        |ORDER BY event_type, bucket""".stripMargin) { (s, dir) =>
    StatsOps.chiSquare(
      Tables.events(s, dir).select(col("event_type"),
        (col("user_id") % 4).as("bucket")),
      "event_type", "bucket")
      .select(col("event_type"), col("bucket"), col("n_obs"),
        rnd("expected", 4).as("expected"), rnd("contrib", 4).as("contrib"),
        rnd("chi2", 4).as("chi2"), col("dof"))
      .orderBy("event_type", "bucket")
  }

  /** SCD-2 gate: per-user event-type history collapsed into validity
    * intervals by [[graft.operators.RelationalOps.scd2]]; the oracle
    * replays the lag/lead windows in µs arithmetic with the same
    * (ts, event id) ordering.
    */
  q("q_scd2",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |c AS (SELECT *, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
        |runs AS (SELECT user_id, event_type, us, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type),
        |iv AS (SELECT user_id, event_type, us AS valid_from,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS valid_to FROM runs)
        |SELECT user_id, event_type, CAST(valid_from AS BIGINT) AS valid_from,
        |  CAST(valid_to AS BIGINT) AS valid_to
        |FROM iv ORDER BY user_id, valid_from, event_type""".stripMargin) { (s, dir) =>
    RelationalOps.scd2(Tables.events(s, dir), "user_id", "ts", "event_id",
      "event_type")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("valid_from")).as("valid_from"),
        unix_micros(col("valid_to")).as("valid_to"))
      .orderBy("user_id", "valid_from", "event_type")
  }

  /** Funnel gate (signup → click → purchase, strictly ordered firsts):
    * per-depth user censuses + total signup→purchase delay, via
    * [[graft.operators.RelationalOps.funnel]].
    */
  q("q_funnel",
    // Sequential firsts replayed as chained min-aggregations.
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events WHERE event_id % 19 = 0),
        |t0 AS (SELECT user_id, min(us) AS t0 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |t1 AS (SELECT e.user_id, min(us) AS t1 FROM e JOIN t0 USING (user_id)
        |  WHERE event_type = 'click' AND us > t0 GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN t1 USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t1 GROUP BY 1),
        |u AS (SELECT k.user_id, t0.t0, t1.t1, t2.t2
        |  FROM (SELECT DISTINCT user_id FROM e) k
        |  LEFT JOIN t0 USING (user_id) LEFT JOIN t1 USING (user_id)
        |  LEFT JOIN t2 USING (user_id)),
        |r AS (SELECT user_id,
        |    CASE WHEN t2 IS NOT NULL THEN 3 WHEN t1 IS NOT NULL THEN 2
        |         WHEN t0 IS NOT NULL THEN 1 ELSE 0 END AS reached,
        |    t2 - t0 AS delay FROM u)
        |SELECT CAST(reached AS INT) AS reached,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(coalesce(sum(CASE WHEN reached = 3 THEN delay END), 0) AS BIGINT)
        |    AS sum_delay_us
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    // every 19th event only — at full density every user completes the
    // funnel and the gate would not discriminate depths
    RelationalOps.funnel(Tables.events(s, dir).filter(col("event_id") % 19 === 0),
      "user_id", "ts", "event_type",
      Seq("signup", "click", "purchase"))
      .groupBy(col("reached"))
      .agg(count(lit(1)).as("n_users"),
        coalesce(sum(when(col("reached") === 3,
          unix_micros(col("t_2")) - unix_micros(col("t_0")))), lit(0L))
          .as("sum_delay_us"))
      .orderBy("reached")
  }

  /** Daily cohort retention matrix over the events month. */
  q("q_cohort_retention",
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY 1),
        |a AS (SELECT e.user_id, CAST(e.ts AS DATE) AS day, f.cohort_day
        |  FROM events e JOIN f USING (user_id))
        |SELECT cohort_day, CAST(day - cohort_day AS INT) AS offset_days,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    RelationalOps.cohortRetention(Tables.events(s, dir), "user_id", "ts")
      .orderBy("cohort_day", "offset_days")
  }

  /** Degree-ordered triangle counting on the 30-node event graph; the
    * oracle counts the same triangles with the INDEPENDENT id-ordered
    * brute construction, so the orientation trick is checked against a
    * different algorithm.
    */
  q("q_triangles",
    // The INDEPENDENT id-ordered brute triangle enumeration — a different
    // algorithm from the degree-ordered orientation under test.
      """WITH e AS (SELECT DISTINCT least(user_id % 30, event_id % 30) AS a,
        |    greatest(user_id % 30, event_id % 30) AS b
        |  FROM events WHERE user_id % 30 <> event_id % 30),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT unnest([x, y, z]) AS node FROM t)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.graph.GraphOps.triangleCounts(
      Tables.events(s, dir).select((col("user_id") % 30).as("src"),
        (col("event_id") % 30).as("dst")),
      "src", "dst")
      .orderBy("node")
  }

  /** Exact-N-per-group sample gate: 10 docs per language by the md5
    * priority draw through the bounded aggregator; the oracle replays
    * with the window form over the same 60-bit-bucket-as-double priority.
    */
  q("q_sample_n_per_group",
    // The window replay of the bounded-aggregator sample: identical
    // 60-bit md5 bucket cast to DOUBLE (the shared precision), identical
    // (prio desc, id asc) order.
      """SELECT lang, rank, doc_id FROM (
        |  SELECT lang, doc_id, CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |        1, 15) AS BIGINT) AS DOUBLE) DESC, doc_id) AS INT) AS rank
        |  FROM documents)
        |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin) { (s, dir) =>
    CurationOps.sampleNPerGroup(Tables.documents(s, dir), "lang", "doc_id", 10)
      .select(col("lang"), col("rank"), col("doc_id"))
      .orderBy("lang", "rank")
  }

  /** Data-quality contract gate: five declarative expectations over the
    * documents table — evaluated in ONE aggregation job by
    * [[graft.operators.StatsOps.qualityReport]] — with mixed passes and
    * deliberate failures; the oracle recomputes every satisfaction
    * fraction.
    */
  q("q_quality_report",
    // Every satisfaction fraction recomputed; thresholds and verdicts
    // replayed.
      """WITH m AS (SELECT
        |    round(sum(CASE WHEN text IS NOT NULL THEN 1.0 ELSE 0.0 END)
        |      / count(*) + 1e-9, 6) AS not_null_text,
        |    round(CAST(count(DISTINCT doc_id) AS DOUBLE) / count(*) + 1e-9, 6)
        |      AS uniq_id,
        |    round(CAST(count(DISTINCT text) AS DOUBLE) / count(*) + 1e-9, 6)
        |      AS uniq_text,
        |    round(sum(CASE WHEN n_chars >= 1 AND n_chars <= 400
        |      THEN 1.0 ELSE 0.0 END) / count(*) + 1e-9, 6) AS in_range,
        |    round(sum(CASE WHEN regexp_matches(lang, '^[a-z]{2}$')
        |      THEN 1.0 ELSE 0.0 END) / count(*) + 1e-9, 6) AS re_lang
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'not_null' AS rule, 'text' AS "column",
        |    CAST(1.0 AS DOUBLE) AS threshold, not_null_text AS metric,
        |    not_null_text >= 1.0 AS passed FROM m
        |  UNION ALL SELECT 'unique', 'doc_id', 1.0, uniq_id,
        |    uniq_id >= 1.0 FROM m
        |  UNION ALL SELECT 'unique', 'text', 0.99, uniq_text,
        |    uniq_text >= 0.99 FROM m
        |  UNION ALL SELECT 'in_range', 'n_chars', 0.9, in_range,
        |    in_range >= 0.9 FROM m
        |  UNION ALL SELECT 'matches_regex', 'lang', 1.0, re_lang,
        |    re_lang >= 1.0 FROM m)
        |ORDER BY rule, "column", threshold""".stripMargin) { (s, dir) =>
    StatsOps.qualityReport(Tables.documents(s, dir), Seq(
      StatsOps.NotNull("text"),
      StatsOps.Unique("doc_id"),
      StatsOps.Unique("text", threshold = 0.99), // clone families fail this
      StatsOps.InRange("n_chars", 1, 400, threshold = 0.9),
      StatsOps.MatchesRegex("lang", "^[a-z]{2}$")))
      .orderBy("rule", "column", "threshold")
  }

  /** Z-order locality gate: user/event coordinates interleaved to a
    * Morton key, rows bucketed by its top bits, per-bucket bounding
    * boxes — confined boxes are the pruning evidence. Pure bit
    * arithmetic, replayed exactly by the oracle.
    */
  q("q_zorder",
    // Identical Morton interleave arithmetic (sum of disjoint shifted
    // bit-tests) and bucket split.
    {
      val interleave = (0 until 8).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH c AS (SELECT user_id % 256 AS x, event_id % 256 AS y FROM events),
         |z AS (SELECT x, y, $interleave AS zv FROM c)
         |SELECT zv >> 8 AS bucket, CAST(count(*) AS BIGINT) AS n,
         |  CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
         |  CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
    }) { (s, dir) =>
    CurationOps.zOrderStats(
      Tables.events(s, dir).select((col("user_id") % 256).as("x"),
        (col("event_id") % 256).as("y")),
      "x", "y", bits = 8, bucketShift = 8)
      .orderBy("bucket")
  }

  /** BFS hop distances from node 0 over the link-graph fixture — min-
    * distance relaxation with observe-driven convergence; the oracle is
    * the recursive-CTE walk bounded by the graph's node count.
    */
  q("q_shortest_paths",
    // BFS mirror: recursive-CTE walk, min hop per node, bounded by the
    // 45-node universe.
      """WITH RECURSIVE e AS (SELECT DISTINCT user_id % 40 AS src,
        |    event_id % 45 AS dst FROM events WHERE user_id % 40 <> event_id % 45),
        |walk(node, d) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS d
        |  UNION
        |  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.d < 50)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY 1 ORDER BY node""".stripMargin) { (s, dir) =>
    graft.graph.GraphOps.shortestPaths(
      Tables.events(s, dir).select((col("user_id") % 40).as("src"),
        (col("event_id") % 45).as("dst")),
      "src", "dst", sources = Seq(0L))
      .orderBy("node")
  }

  /** Rollup (grouping-sets) aggregation over returnflag × linestatus —
    * the OLAP subtotal lattice, with rollup NULLs folded to a marker so
    * both engines emit identical keys.
    */
  q("q_rollup",
    // Rollup mirror: GROUP BY ROLLUP with the same NULL-marker fold.
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        |  coalesce(l_linestatus, '(all)') AS ls,
        |  CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
        coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")
  }

  /** Range-frame moving aggregate: per user, the sum/count of event
    * values within the last 100 event-ids (RANGE frame — value-based,
    * not row-based; the frame contracts on gaps, which is the semantic
    * difference this query pins).
    */
  q("q_range_window",
    // Range-frame mirror: identical value-based frame bounds.
      """SELECT user_id, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_frame,
        |  round(sum(value) OVER w + 1e-9, 4) AS sum_frame
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rangeBetween(-100, 0)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_frame"),
        rnd(sum("value").over(w), 4).as("sum_frame"))
      .orderBy("user_id", "event_id")
  }

  /** PageRank gate: a 45-node link graph derived from events (src =
    * user_id mod 40, dst = event_id mod 45 — nodes 40–44 have no
    * out-edges, so the dangling-mass path is exercised), 5 power-iteration
    * rounds at damping 0.85 via [[graft.graph.GraphOps.pageRank]]. The
    * oracle replays all 5 rounds as chained CTEs — same formula, same
    * operand nesting — so only summation order differs (absorbed by the
    * shared rounding).
    */
  q("q_pagerank",
    // All 5 power-iteration rounds replayed as chained CTEs: per round,
    // contributions rank/outdeg summed per destination, dangling mass from
    // out-degree-less nodes redistributed uniformly, damping applied with
    // the same operand nesting as the Spark side.
    {
      val iters = (1 to 5).map { k =>
        s"""r$k AS (SELECT nd.node AS node,
           |    (1.0 - 0.85) / c.n + 0.85 * (coalesce(s.contrib, 0.0) + d.m / c.n)
           |      AS rank
           |  FROM nodes nd CROSS JOIN cnt c
           |  LEFT JOIN (SELECT e.dst AS node, sum(r.rank / dg.outdeg) AS contrib
           |      FROM e JOIN r${k - 1} r ON e.src = r.node
           |      JOIN deg dg ON e.src = dg.src GROUP BY 1) s ON nd.node = s.node
           |  CROSS JOIN (SELECT coalesce(sum(rank), 0.0) AS m FROM r${k - 1}
           |      WHERE node NOT IN (SELECT src FROM deg)) d)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT user_id % 40 AS src, event_id % 45 AS dst
         |    FROM events WHERE user_id % 40 <> event_id % 45),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |cnt AS (SELECT count(*) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT node, 1.0 / (SELECT n FROM cnt) AS rank FROM nodes),
         |$iters
         |SELECT node, round(rank + 1e-9, 6) AS rank FROM r5
         |ORDER BY node""".stripMargin
    }) { (s, dir) =>
    val edges = Tables.events(s, dir).select(
      (col("user_id") % 40).as("src"), (col("event_id") % 45).as("dst"))
    graft.graph.GraphOps.pageRank(edges, "src", "dst", iterations = 5)
      .select(col("node"), rnd(col("rank"), 6).as("rank"))
      .orderBy("node")
  }

  /** Bloom-prune gate: lineitem pre-filtered by the Bloom of the urgent
    * orders' keys before any join — the runtime-filter pattern. The oracle
    * rebuilds the identical position set and membership test, so the
    * bloom-pass census (false positives INCLUDED, a deterministic function
    * of the hash family) and the exact-match census must both agree;
    * `n_false_pos` additionally pins pass ⊇ match.
    */
  q("q_bloom_prune",
    // Bloom-prune mirror: the position set and the three membership tests
    // rebuilt with the same row-salted md5 family — the pruned census
    // matches exactly, deterministic false positives included.
      """WITH dimk AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |b AS (SELECT DISTINCT
        |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '_' ||
        |      CAST(k AS VARCHAR)), 1, 15) AS BIGINT) % 16384 AS pos
        |  FROM dimk, (SELECT unnest(generate_series(0, 2)) AS j) s),
        |f AS (SELECT l_returnflag, l_orderkey FROM lineitem),
        |p AS (SELECT l_returnflag FROM f WHERE
        |  (CAST('0x' || substr(md5('0_' || CAST(l_orderkey AS VARCHAR)), 1, 15)
        |     AS BIGINT) % 16384) IN (SELECT pos FROM b)
        |  AND (CAST('0x' || substr(md5('1_' || CAST(l_orderkey AS VARCHAR)), 1, 15)
        |     AS BIGINT) % 16384) IN (SELECT pos FROM b)
        |  AND (CAST('0x' || substr(md5('2_' || CAST(l_orderkey AS VARCHAR)), 1, 15)
        |     AS BIGINT) % 16384) IN (SELECT pos FROM b)),
        |bp AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_bloom_pass
        |  FROM p GROUP BY 1),
        |t AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_true
        |  FROM f WHERE l_orderkey IN (SELECT k FROM dimk) GROUP BY 1)
        |SELECT bp.l_returnflag, n_bloom_pass, n_true,
        |  n_bloom_pass - n_true AS n_false_pos
        |FROM bp JOIN t USING (l_returnflag) ORDER BY 1""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    val pruned = RelationalOps.bloomPruneJoin(li, "l_orderkey",
      urgent, "o_orderkey", m = 16384L, d = 3)
    val bloomCnt = pruned.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_bloom_pass"))
    val trueCnt = li.join(urgent.select("o_orderkey"),
        li("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n_true"))
    bloomCnt.join(trueCnt, "l_returnflag")
      .select(col("l_returnflag"), col("n_bloom_pass"), col("n_true"),
        (col("n_bloom_pass") - col("n_true")).as("n_false_pos"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q1 (pricing summary): the canonical scan-heavy OLAP
    * aggregation. Money sums run in EXACT decimal arithmetic and cast to
    * double only once at the end (a 60 k-term double sum would be
    * re-association-sensitive across engines), so every figure —
    * including the averages — is bit-deterministic.
    */
  q("q_tpch_q1",
    // TPC-H Q1 mirror: exact decimal money sums, one cast to double.
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    + 1e-6, 2) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) + 1e-6, 2) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |    * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))))
        |    AS DOUBLE) + 1e-6, 2) AS sum_charge,
        |  round(sum(l_quantity) / count(*) + 1e-9, 4) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    / count(*) + 1e-9, 4) AS avg_price,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    // tight scales keep the triple product inside exact decimal range
    // (12,2)×(4,2)×(4,2) → scale-6 precision ~22, well under 38 in BOTH
    // engines (wider scales would overflow DuckDB's 38 cap on the
    // charge product and silently promote to double)
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val disc = col("l_discount").cast("decimal(4,2)")
    val tax = col("l_tax").cast("decimal(4,2)")
    val one = lit(1).cast("decimal(4,2)")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * (one - disc)).cast("double").as("sum_disc_price"),
        sum(price * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        rnd("sum_base_price", 2).as("sum_base_price"),
        rnd("sum_disc_price", 2).as("sum_disc_price"),
        rnd("sum_charge", 2).as("sum_charge"),
        rnd(col("sum_qty") / col("count_order"), 4).as("avg_qty"),
        rnd(col("sum_base_price") / col("count_order"), 4).as("avg_price"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3 (shipping priority): the canonical selective three-way
    * join + top-k, with revenue in exact decimal and the broadcast-dim
    * plan Catalyst picks for the bounded customer filter.
    */
  q("q_tpch_q3",
    // TPC-H Q3 mirror: same decimal revenue, same deterministic top-10.
      """WITH j AS (SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        |    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
        |      * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
        |      AS DOUBLE) AS revenue
        |  FROM customer c
        |  JOIN orders o ON c.c_custkey = o.o_custkey
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE c.c_mktsegment = 'BUILDING'
        |    AND o.o_orderdate < TIMESTAMP '1996-03-15'
        |    AND l.l_shipdate > TIMESTAMP '1996-03-15'
        |  GROUP BY 1, 2, 3)
        |SELECT l_orderkey, round(revenue + 1e-6, 2) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM j ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val disc = col("l_discount").cast("decimal(4,2)")
    val one = lit(1).cast("decimal(4,2)")
    val cut = lit("1996-03-15")
    Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, dir).filter(col("o_orderdate") < cut),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir).filter(col("l_shipdate") > cut),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(price * (one - disc)).cast("double").as("revenue"))
      .select(col("l_orderkey"), rnd("revenue", 2).as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** NS-cylinder join shape (`ns_cylinder.py:17-40`): fact ⋈ fact ⋈ dim with
    * broadcast small dims — lineitem ⋈ orders ⋈ customer ⋈ B(nation) ⋈ B(region).
    */
  private[graft] def qJoinRegionalRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_items"),
        // exact integer cents·basis-points (order-free sum): a float
        // Σ ext·(1−disc) drifts ~4e-4 against the oracle at sf0.1's
        // ~24k-row nation groups — the round-11 standing float-sum rule
        rnd(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(10000L) - round(col("l_discount") * 10000).cast("long")))
          .cast("double") / lit(1000000.0), 2).as("revenue"))
      .orderBy("r_name", "n_name")

  q("q_join_regional_revenue",
    // revenue in exact integer cents·basis-points (order-free; the
    // round-11 standing float-sum rule — see q_bucketed_join)
      """SELECT r_name, n_name, count(*) AS n_items,
        |  round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |    (10000 - CAST(round(l_discount * 10000) AS BIGINT))) AS DOUBLE)
        |    / 1000000 + 1e-9, 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)(qJoinRegionalRevenue)

  /** CleanFilter referenced-only semantics (`clean.py:39`) / checkpoint-skip
    * shape: left-semi join.
    */
  q("q_semi_customers_with_orders",
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** Checkpoint-resume remaining-work (`core/base.py:595-602`): work-list
    * anti-joined against the completed ledger (here: customers minus those
    * with an urgent order).
    */
  q("q_anti_customers_without_orders",
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    RelationalOps.remaining(
      Tables.customer(s, dir),
      Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey")),
      "c_custkey")
      .select("c_custkey", "c_mktsegment", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** EdgeComputeFilter (`edge_compute.py:40`): canonical distinct edge set. */
  q("q_distinct_edges",
      """SELECT DISTINCT least(l_partkey, l_suppkey) AS edge_a,
        |  greatest(l_partkey, l_suppkey) AS edge_b
        |FROM lineitem
        |WHERE least(l_partkey, l_suppkey) <> greatest(l_partkey, l_suppkey)
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    RelationalOps.canonicalEdges(Tables.lineitem(s, dir), "l_partkey", "l_suppkey")
      .orderBy("edge_a", "edge_b")
  }

  /** CleanFilter duplicate-removal keep-first (`clean.py:39`). */
  q("q_keep_first_dedup",
      """SELECT l_partkey, l_suppkey, CAST(min(l_orderkey) AS BIGINT) AS min_l_orderkey,
        |  count(*) AS n_dups
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    RelationalOps.keepFirst(Tables.lineitem(s, dir),
      Seq("l_partkey", "l_suppkey"), "l_orderkey")
      .orderBy("l_partkey", "l_suppkey")
  }

  /** RandomPermutationFilter id reassignment (`random_permutation.py:83-139`). */
  q("q_permutation_ids",
      """SELECT * FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_orderkey, l_linenumber) AS INTEGER) AS new_id
        |  FROM lineitem) t
        |WHERE new_id <= 100 ORDER BY l_returnflag, new_id""".stripMargin) { (s, dir) =>
    RelationalOps.reassignIds(
      Tables.lineitem(s, dir).select("l_returnflag", "l_orderkey", "l_linenumber"),
      Seq("l_returnflag"), Seq(col("l_orderkey"), col("l_linenumber")))
      .filter(col("new_id") <= 100)
      .orderBy("l_returnflag", "new_id")
  }

  /** Pivoted-timestep flattening as long-format lag (`SURVEY §2.6`):
    * per-entity ordered delta via window lag.
    */
  q("q_window_lag_delta",
      """SELECT user_id, event_id,
        |  round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) + 1e-6, 2)
        |    AS delta
        |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        rnd(col("value") - lag(col("value"), 1).over(w), 2).as("delta"))
      .orderBy("user_id", "event_id")
  }

  /** Displacement-timestep pivot (`mesh_zarr.py:105`): wide per-key matrix. */
  q("q_pivot_event_matrix",
      """SELECT user_id,
        |  round(sum(CASE WHEN event_type = 'click' THEN value END) + 1e-6, 2) AS click,
        |  round(sum(CASE WHEN event_type = 'error' THEN value END) + 1e-6, 2) AS error,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value END) + 1e-6, 2) AS purchase,
        |  round(sum(CASE WHEN event_type = 'signup' THEN value END) + 1e-6, 2) AS signup,
        |  round(sum(CASE WHEN event_type = 'view' THEN value END) + 1e-6, 2) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(sum(col("value")))
    pivoted.select(col("user_id") +: types.map(t => rnd(col(t), 2).as(t)): _*)
      .orderBy("user_id")
  }

  /** NetCDF4Sink year-split layout (`netcdf_writer.py:55-74`): the partition
    * keys (variable, year) and their contents.
    */
  q("q_year_partition_counts",
      """SELECT event_type, CAST(year(ts) AS INTEGER) AS yr, count(*) AS n,
        |  round(CAST(sum(value) AS DOUBLE) + 1e-6, 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"), year(col("ts")).as("yr"))
      .agg(count(lit(1)).as("n"), rnd(sum("value"), 2).as("sum_value"))
      .orderBy("event_type", "yr")
  }

  /** Nested-JSON flattening cycle: per user group, a document with a
    * nested item ARRAY is serialized with `to_json` and parsed back with
    * a typed `from_json` schema, the array explodes to relational rows,
    * and a post-flatten predicate aggregates — the serialize → parse →
    * explode → filter chain every JSON ingest runs. The oracle computes
    * the same census straight from the events, so any loss in the JSON
    * cycle (ordering, typing, null handling) breaks the match.
    */
  q("q_json_flatten",
    // JSON-flatten mirror: the same census straight from the events —
    // any loss in the serialize→parse→explode cycle breaks the match.
      """WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY user_id % 10 ORDER BY event_id) AS rn
        |  FROM events)
        |SELECT g, CAST(count(*) AS BIGINT) AS n_pos,
        |  CAST(sum(v) AS BIGINT) AS sum_pos,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM q WHERE v > 0 AND rn <= 1000 GROUP BY 1 ORDER BY g""".stripMargin) { (s, dir) =>
    val quant0 = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("long").as("v"))
    // real JSON documents are bounded-size: cap each group's item array
    // at 1000 (unbounded docs would grow with the corpus — a fixture
    // artifact, not a JSON-cycle property)
    val w = Window.partitionBy("g").orderBy("event_id")
    val quant = quant0.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 1000).drop("_rn")
    val docs = quant.groupBy("g").agg(
      to_json(struct(col("g"),
        sort_array(collect_list(struct(col("event_id").as("id"), col("v"))))
          .as("items"))).as("doc"))
    val schema = org.apache.spark.sql.types.DataType.fromDDL(
      "struct<g: bigint, items: array<struct<id: bigint, v: bigint>>>")
    docs.select(from_json(col("doc"), schema).as("j"))
      .select(col("j.g").as("g"), explode(col("j.items")).as("item"))
      .filter(col("item.v") > 0)
      .groupBy("g")
      .agg(count(lit(1)).as("n_pos"), sum("item.v").as("sum_pos"),
        min("item.id").as("min_id"), max("item.id").as("max_id"))
      .orderBy("g")
  }

  /** JSON detail-column extraction (`quality.py:72` uses JSON payloads):
    * get_json_object + aggregation.
    */
  q("q_json_extract",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)) + 1e-9, 4) AS avg_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        rnd(avg("k"), 4).as("avg_k"))
      .orderBy("event_type")
  }
}
