"""Relational skeletons of the extraction kernels (SURVEY.md §2.9),
expressed over the driver's TPC-H-ish tables so the DuckDB oracle can
check them: gap-sessionization (G1), interval islands (G3), mode with
the reference's exclude-1 retry (G2), argmax vote (G8), top-k cap
(L3), accuracy/whitespace-style metrics (G11/G12), point-in-box range
predicate (F1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_S = 1800
_HOT_KEYS = 10
# point-in-interval bucket width: near the registry intervals' 0.45 span
_INTERVAL_BUCKET_WIDTH = 1.0


def sessionize_gaps(events: DataFrame) -> DataFrame:
    """G1 analog: per user, a new session starts when the gap to the
    previous event exceeds 30 min; count sessions per user."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = events.select(
        "user_id",
        F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0).alias("new_session"),
    )
    return (
        marked.groupBy("user_id")
        .agg(F.sum("new_session").cast("bigint").alias("n_sessions"))
        .select(F.col("user_id").cast("bigint").alias("user_id"), "n_sessions")
    )


def interval_islands(lineitem: DataFrame) -> DataFrame:
    """G3 analog (gaps-and-islands): per supplier, merge overlapping
    [shipdate, shipdate+7d] intervals; count the merged islands."""
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    start = F.unix_timestamp("l_shipdate")
    end = start + 7 * 86400
    prev_max_end = F.max(end).over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = lineitem.select(
        "l_suppkey",
        F.when(prev_max_end.isNull() | (start > prev_max_end), 1).otherwise(0).alias("new_island"),
    )
    return (
        marked.groupBy("l_suppkey")
        .agg(F.sum("new_island").cast("bigint").alias("n_islands"))
        .select(F.col("l_suppkey").cast("bigint").alias("suppkey"), "n_islands")
    )


def mode_of_counts(orders: DataFrame) -> DataFrame:
    """G2 analog with the reference's semantics (`stream.py:349-358`):
    mode of per-customer order counts (ties → smallest); if the mode is
    1, retry with 1s excluded."""
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    freq = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("f"))
    m1 = freq.orderBy(F.desc("f"), F.asc("cnt")).limit(1).select(F.col("cnt").alias("m1"))
    m2 = (
        freq.where(F.col("cnt") != 1)
        .orderBy(F.desc("f"), F.asc("cnt"))
        .limit(1)
        .select(F.col("cnt").alias("m2"))
    )
    return (
        m1.crossJoin(m2)
        .select(
            F.when(F.col("m1") == 1, F.col("m2")).otherwise(F.col("m1"))
            .cast("bigint")
            .alias("modal_count")
        )
    )


def argmax_vote(orders: DataFrame) -> DataFrame:
    """G8 analog (`core.py:137-158`): the order priority whose finished
    orders carry the highest total price wins the vote."""
    sums = (
        orders.where(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(F.sum("o_totalprice").alias("s"))
    )
    return (
        sums.orderBy(F.desc("s"), F.asc("o_orderpriority"))
        .limit(1)
        .select(F.col("o_orderpriority").alias("winning_priority"))
    )


def topk_cap(part: DataFrame) -> DataFrame:
    """L3 analog (`image_processing.py:168`): keep the 10 largest by
    retail price (deterministic tie-break on key)."""
    w = Window.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            F.col("p_partkey").cast("bigint").alias("partkey"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def grid_metrics(lineitem: DataFrame) -> DataFrame:
    """G11/G12 analog: accuracy-style weighted mean of (1 - discount)
    and whitespace-style empty-fraction (qty < 5), ×10000 floored."""
    return lineitem.agg(
        F.floor(F.avg(F.lit(1.0) - F.col("l_discount")) * 10000).cast("bigint").alias("accuracy_x10k"),
        F.floor(
            F.avg(F.when(F.col("l_quantity") < 5, 1.0).otherwise(0.0)) * 10000
        ).cast("bigint").alias("whitespace_x10k"),
    )


def range_predicate(events: DataFrame) -> DataFrame:
    """F1 analog (`utils.py:354-379`): midpoint-in-box ±2 tolerance —
    events whose value lies in [10-2, 20+2], counted per type."""
    return (
        events.where((F.col("value") >= 10 - 2) & (F.col("value") <= 20 + 2))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_in_box"))
    )


SESSIONIZE_SQL = f"""
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > {SESSION_GAP_S}
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
FROM g GROUP BY user_id
"""

INTERVAL_ISLANDS_SQL = """
WITH m AS (
  SELECT l_suppkey,
         CASE WHEN max(epoch(l_shipdate) + 7*86400)
                    OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR epoch(l_shipdate) > max(epoch(l_shipdate) + 7*86400)
                    OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM lineitem)
SELECT CAST(l_suppkey AS BIGINT) AS suppkey, CAST(SUM(new_island) AS BIGINT) AS n_islands
FROM m GROUP BY l_suppkey
"""

MODE_SQL = """
WITH counts AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
freq AS (SELECT cnt, COUNT(*) AS f FROM counts GROUP BY cnt),
m1 AS (SELECT cnt AS m1 FROM freq ORDER BY f DESC, cnt ASC LIMIT 1),
m2 AS (SELECT cnt AS m2 FROM freq WHERE cnt <> 1 ORDER BY f DESC, cnt ASC LIMIT 1)
SELECT CAST(CASE WHEN m1.m1 = 1 THEN m2.m2 ELSE m1.m1 END AS BIGINT) AS modal_count
FROM m1, m2
"""

ARGMAX_SQL = """
SELECT o_orderpriority AS winning_priority
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY SUM(o_totalprice) DESC, o_orderpriority ASC LIMIT 1
"""

TOPK_SQL = """
SELECT CAST(p_partkey AS BIGINT) AS partkey,
       CAST(row_number() OVER (ORDER BY p_retailprice DESC, p_partkey ASC) AS BIGINT) AS rank
FROM part QUALIFY rank <= 10
"""

GRID_METRICS_SQL = """
SELECT CAST(FLOOR(AVG(1.0 - l_discount) * 10000) AS BIGINT) AS accuracy_x10k,
       CAST(FLOOR(AVG(CASE WHEN l_quantity < 5 THEN 1.0 ELSE 0.0 END) * 10000) AS BIGINT) AS whitespace_x10k
FROM lineitem
"""

RANGE_PREDICATE_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_in_box
FROM events WHERE value >= 8 AND value <= 22
GROUP BY event_type
"""


def asof_join(events):
    """As-of join — each purchase event matched to the latest signup
    event of the same user at-or-before its timestamp.

    Spark has no ASOF JOIN operator; the standard scalable re-expression
    is the sort-based union trick: tag both sides, one window pass per
    user ordered by (ts, event_id) carrying ``last(right_id, ignorenulls)``
    forward, then keep the left rows. ONE shuffle on user_id, no join,
    no per-row Python — versus the naive range-join (quadratic per user)
    or a broadcast that cannot hold the right side at 100 TB. The DuckDB
    oracle uses its native ASOF LEFT JOIN.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    left_type, right_type = "purchase", "signup"
    e = events.select("event_id", "ts", "user_id", "event_type").where(
        F.col("event_type").isin([left_type, right_type])
    )
    # Inclusive as-of (l.ts >= r.ts, as DuckDB's native ASOF): right-side
    # rows at an EQUAL timestamp must sort before left rows so the window
    # frame at the left row already contains them; ordering by event_id
    # alone would make same-ts matches depend on id assignment.
    side = F.when(F.col("event_type") == right_type, 0).otherwise(1)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), side.asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    right_id = F.when(F.col("event_type") == right_type, F.col("event_id"))
    right_ts = F.when(F.col("event_type") == right_type, F.col("ts"))
    joined = (
        e.withColumn("asof_event_id", F.last(right_id, ignorenulls=True).over(w))
        .withColumn("asof_ts", F.last(right_ts, ignorenulls=True).over(w))
        .where(F.col("event_type") == left_type)
    )
    # TIMESTAMP_NTZ has no direct long cast in Spark 4; unix_timestamp
    # under the UTC session tz = floor(epoch seconds), matching the
    # oracle's FLOOR(epoch(ts))
    gap = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.col("asof_ts"))
    return joined.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("asof_event_id").cast("bigint").alias("asof_event_id"),
        gap.cast("bigint").alias("gap_seconds"),
    )


ASOF_JOIN_SQL = """
WITH l AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'),
r AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'signup')
SELECT CAST(l.event_id AS BIGINT) AS event_id,
       CAST(l.user_id AS BIGINT) AS user_id,
       CAST(r.event_id AS BIGINT) AS asof_event_id,
       CAST(FLOOR(epoch(l.ts)) AS BIGINT) - CAST(FLOOR(epoch(r.ts)) AS BIGINT) AS gap_seconds
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def bucketized_interval_join(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Point-in-interval join (``value`` in [``lo``, ``hi``]) as an
    EQUI-join — the scale fix for the
    range join Catalyst can only plan as a nested loop (BNLJ/cartesian:
    O(points × intervals), the classic cluster-killer). Each interval
    is exploded to the buckets it covers (bounded by
    interval_span/_INTERVAL_BUCKET_WIDTH — the width sits near the
    typical span so the fan-out is ~2), each point hashes to one
    bucket, and the join runs on the bucket key with the exact range
    predicate applied after the match. Shuffle carries only bucket-key
    rows; no pair explosion beyond genuine candidates."""
    b = F.floor(F.col("value") / _INTERVAL_BUCKET_WIDTH).cast("long")
    p = points.withColumn("__bucket", b)
    span = F.sequence(
        F.floor(F.col("lo") / _INTERVAL_BUCKET_WIDTH).cast("long"),
        F.floor(F.col("hi") / _INTERVAL_BUCKET_WIDTH).cast("long"),
    )
    iv = intervals.withColumn("__bucket", F.explode(span))
    return (
        p.join(iv, "__bucket")
        .where((F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi")))
        .drop("__bucket")
    )


def range_join_agg(events: DataFrame, part: DataFrame) -> DataFrame:
    """Driver query for the interval join: events.value against
    per-part bands [0.5·(p_partkey % 1120), +0.45] — partkey-derived so
    the 20k intervals tile the [0, 560] value domain in near-disjoint
    lanes (p_size-derived bands would stack 400 parts per lane and the
    TRUE join result would be ~10^8 pairs at sf0.1 — a data-modeling
    problem, not an operator one). Per matched part: point count and
    the id range (exact-integer outputs for the oracle); 1.0-wide buckets."""
    intervals = part.select(
        F.col("p_partkey").cast("bigint").alias("partkey"),
        ((F.col("p_partkey") % 1120) * 0.5).alias("lo"),
        ((F.col("p_partkey") % 1120) * 0.5 + 0.45).alias("hi"),
    )
    pts = events.select(F.col("event_id").cast("bigint").alias("event_id"), "value")
    matched = bucketized_interval_join(pts, intervals)
    return matched.groupBy("partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )


RANGE_JOIN_SQL = """
SELECT CAST(p.p_partkey AS BIGINT) AS partkey,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(e.event_id) AS BIGINT) AS min_event_id,
       CAST(MAX(e.event_id) AS BIGINT) AS max_event_id
FROM part p JOIN events e
  ON e.value >= (p.p_partkey % 1120) * 0.5
 AND e.value <= (p.p_partkey % 1120) * 0.5 + 0.45
GROUP BY p.p_partkey
"""


def time_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style hierarchical rollup: per-user event counts and
    value sums at minute → hour → day grains, where each COARSER grain
    is re-aggregated from the next finer grain's partial aggregates —
    never from raw rows. At 100 TB the raw table is touched ONCE (the
    minute pass); the hour and day passes aggregate the already-tiny
    rollup, which is how continuous aggregates stay cheap. Output is
    the stacked rollup with a ``grain`` discriminator column
    (value sums are ×100-floored to exact integers for the oracle).

    One scan + three shrinking partial-agg exchanges; the naive
    per-grain-from-raw form scans and shuffles the corpus three times.
    """
    base = events.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.date_trunc("minute", F.col("ts")).alias("minute_ts"),
        F.floor(F.col("value") * 100).cast("bigint").alias("value_x100"),
    )
    minute = base.groupBy("user_id", "minute_ts").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("value_x100").cast("bigint").alias("sum_value_x100"),
    )
    # materialize each grain once: the three union branches otherwise
    # recompute the shared subtrees (Catalyst's exchange reuse does not
    # fire across these union branches — verified: 6 scans without
    # this, 1 with), which would re-scan the raw table per grain
    minute = minute.localCheckpoint(eager=False)
    hour = (
        minute.withColumn("hour_ts", F.date_trunc("hour", F.col("minute_ts")))
        .groupBy("user_id", "hour_ts")
        .agg(F.sum("n_events").cast("bigint").alias("n_events"),
             F.sum("sum_value_x100").cast("bigint").alias("sum_value_x100"))
    )
    hour = hour.localCheckpoint(eager=False)
    day = (
        hour.withColumn("day_ts", F.date_trunc("day", F.col("hour_ts")))
        .groupBy("user_id", "day_ts")
        .agg(F.sum("n_events").cast("bigint").alias("n_events"),
             F.sum("sum_value_x100").cast("bigint").alias("sum_value_x100"))
    )

    def shaped(df, grain, ts_col):
        return df.select(
            F.lit(grain).alias("grain"),
            "user_id",
            F.date_format(ts_col, "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
            "n_events", "sum_value_x100",
        )

    return (
        shaped(minute, "minute", "minute_ts")
        .unionByName(shaped(hour, "hour", "hour_ts"))
        .unionByName(shaped(day, "day", "day_ts"))
    )


TIME_ROLLUP_SQL = """
WITH base AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         date_trunc('minute', ts) AS minute_ts,
         CAST(FLOOR(value * 100) AS BIGINT) AS value_x100
  FROM events),
m AS (
  SELECT user_id, minute_ts,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(value_x100) AS BIGINT) AS sum_value_x100
  FROM base GROUP BY user_id, minute_ts),
h AS (
  SELECT user_id, date_trunc('hour', minute_ts) AS hour_ts,
         CAST(SUM(n_events) AS BIGINT) AS n_events,
         CAST(SUM(sum_value_x100) AS BIGINT) AS sum_value_x100
  FROM m GROUP BY user_id, date_trunc('hour', minute_ts)),
d AS (
  SELECT user_id, date_trunc('day', hour_ts) AS day_ts,
         CAST(SUM(n_events) AS BIGINT) AS n_events,
         CAST(SUM(sum_value_x100) AS BIGINT) AS sum_value_x100
  FROM h GROUP BY user_id, date_trunc('day', hour_ts))
SELECT 'minute' AS grain, user_id, strftime(minute_ts, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
       n_events, sum_value_x100 FROM m
UNION ALL
SELECT 'hour', user_id, strftime(hour_ts, '%Y-%m-%d %H:%M:%S'), n_events, sum_value_x100 FROM h
UNION ALL
SELECT 'day', user_id, strftime(day_ts, '%Y-%m-%d %H:%M:%S'), n_events, sum_value_x100 FROM d
"""


def histogram_quantiles(documents):
    """Mergeable histogram-sketch quantiles of ``n_chars`` per source —
    the scale-correct quantile design: a true per-group quantile needs
    a full sort per group (the wrong 100-TB shape), and classic sketches
    (t-digest, GK) are order-dependent so no cross-engine oracle can
    pin them. A FIXED-BOUNDARY histogram sketch gives up a little
    resolution for exactly the two properties that matter here:
    - **mergeable with partial aggregation**: bucket counts combine
      map-side; the shuffle carries one row per (source, bucket);
    - **deterministic**: bucket = floor(log2(v+1)) via bin()-length,
      interpolation in integer thousandths — the DuckDB twin matches
      bit-for-bit.

    Estimate per quantile q (ppm; p50, p90, p99): find the first bucket
    whose cumulative count reaches ceil(q·n/1e6), then linearly
    interpolate inside the bucket's value range [2^b - 1, 2^(b+1) - 1)
    by the position within the bucket (integer x1000).

    Output: (source, q_ppm, est_x1000)."""
    from pyspark.sql import Window as W

    bucket = (F.length(F.bin(F.col("n_chars") + F.lit(1))) - 1).cast("bigint")
    hist = (
        documents.groupBy("source", bucket.alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = W.partitionBy("source").orderBy("b")
    cum = hist.select(
        "source", "b", "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(W.partitionBy("source")).alias("n"),
    )
    qdf = documents.sparkSession.createDataFrame(
        [(500_000,), (900_000,), (990_000,)], "q_ppm long")
    # target rank (1-based, ceil): the first bucket with cum >= target
    ranked = (
        cum.crossJoin(F.broadcast(qdf))
        .selectExpr(
            "source", "b", "c", "cum", "n", "q_ppm",
            "(q_ppm * n + 999999) DIV 1000000 AS target",
        )
        .where(F.col("cum") >= F.col("target"))
        .groupBy("source", "q_ppm")
        .agg(F.min_by(F.struct("b", "c", "cum"), F.col("b")).alias("hit"),
             F.first("n").alias("n"))
        .selectExpr("source", "q_ppm", "hit.b AS b", "hit.c AS c",
                    "hit.cum AS cum", "n")
    )
    # bucket b holds values in [2^b - 1, 2^(b+1) - 1); interpolate by
    # the target's position within the bucket, all integer x1000
    return ranked.selectExpr(
        "source", "q_ppm",
        "( (CAST(POW(2, b) AS BIGINT) - 1) * 1000"
        "  + ((CAST(POW(2, b) AS BIGINT)) * 1000"
        "     * ((q_ppm * n + 999999) DIV 1000000 - (cum - c)) ) DIV c"
        ") AS est_x1000",
    ).orderBy("source", "q_ppm")


HISTOGRAM_QUANTILES_SQL = """
WITH hist AS (
  SELECT source,
         CAST(LENGTH(BIN(n_chars + 1)) - 1 AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
cum AS (
  SELECT source, b, c,
         SUM(c) OVER (PARTITION BY source ORDER BY b) AS cum,
         SUM(c) OVER (PARTITION BY source) AS n
  FROM hist),
qs(q_ppm) AS (VALUES (500000), (900000), (990000)),
hits AS (
  SELECT source, q_ppm, b, c, cum, n,
         row_number() OVER (PARTITION BY source, q_ppm ORDER BY b) AS rn
  FROM cum CROSS JOIN qs
  WHERE cum >= (q_ppm * n + 999999) // 1000000)
SELECT source, CAST(q_ppm AS BIGINT) AS q_ppm,
       CAST(((CAST(POW(2, b) AS BIGINT) - 1) * 1000
             + ((CAST(POW(2, b) AS BIGINT)) * 1000
                * ((q_ppm * n + 999999) // 1000000 - (cum - c))) // c)
         AS BIGINT) AS est_x1000
FROM hits WHERE rn = 1
ORDER BY source, q_ppm
"""


def event_props_stats(events: DataFrame) -> DataFrame:
    """Semi-structured column handling: the ``props`` column carries
    JSON payloads; extract the ``k`` field JVM-side (``get_json_object``
    stays inside codegen — no Python, no UDF) and aggregate per event
    type. The scan prunes to (event_type, props); at 100 TB the JSON
    parse is scan-local and the shuffle carries one row per type.
    Production schema-on-read would use ``from_json`` with a schema;
    ``get_json_object`` is the schemaless probe variant."""
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("k").cast("bigint").alias("k_sum"),
            F.max("k").cast("bigint").alias("k_max"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("bigint").alias("k_missing"),
        )
    )


EVENT_PROPS_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(MAX(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS k_max,
       CAST(SUM(CASE WHEN props ->> 'k' IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS k_missing
FROM events GROUP BY event_type
"""


def session_rollup(events: DataFrame) -> DataFrame:
    """Per-session rollup via Spark's NATIVE ``session_window``
    operator (the streaming-capable session primitive — in batch it
    plans UpdatingSessions/MergingSessions aggs): one row per (user,
    session) with the session start, event count, and span. Gap
    semantics pinned by test: a gap of EXACTLY ``SESSION_GAP_S`` merges,
    strictly greater splits — the same ``> gap`` convention as
    ``sessionize_gaps``, so the classic gaps-and-islands SQL is the
    exact cross-engine twin of the built-in operator.

    Plan shape: one shuffle on user_id, per-key in-task session merge
    (bounded per-entity groups, the sessionize class); no window
    functions, no second shuffle — ``session_window.start`` IS the
    session's min event time."""
    return (
        events.groupBy("user_id", F.session_window("ts", f"{SESSION_GAP_S} seconds"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.max("ts").alias("ts_max"))
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.unix_timestamp(F.col("session_window.start"))
            .cast("bigint").alias("session_start"),
            F.col("n").cast("bigint").alias("n_events"),
            (F.unix_timestamp("ts_max")
             - F.unix_timestamp(F.col("session_window.start")))
            .cast("bigint").alias("span_s"),
        )
    )


SESSION_ROLLUP_SQL = f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > {SESSION_GAP_S}
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
s AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT CAST(user_id AS BIGINT) AS user_id,
       -- floor() each epoch: Spark's unix_timestamp TRUNCATES
       -- sub-second timestamps while DuckDB's BIGINT cast rounds
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS span_s
FROM s GROUP BY user_id, sid
"""


def key_skew_profile(df: DataFrame) -> DataFrame:
    """Shuffle-key skew diagnostic: the log2-bucket histogram of
    per-key group sizes — the measurement that decides whether a
    groupBy/join on the ``tok`` key column needs salting, AQE skew handling, or a
    bounded-aggregate restructure (the tool behind this repo's
    inverted_index hot-term fix). One row per occupied size bucket b
    (keys whose group size has floor(log2) = b): how many keys, how
    many rows they carry, and the largest group in the bucket — the
    top bucket's max_rows IS the hottest key's reducer load.

    Two partial-agg passes, both scale-safe: per-key counts (short
    key + long), then at most 64 bucket rows. Never sorts, never holds
    a group."""
    counts = df.groupBy(F.col("tok").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    b = (F.length(F.bin(F.col("c"))) - 1).cast("bigint")
    return (
        counts.groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"),
             F.sum("c").cast("bigint").alias("sum_rows"),
             F.max("c").cast("bigint").alias("max_rows"))
        .orderBy("bucket")
    )


def hot_keys(df: DataFrame) -> DataFrame:
    """The 10 hottest ``tok`` keys of a prospective shuffle, with their row
    counts and corpus share in ppm — the companion readout to
    ``key_skew_profile`` naming WHICH keys need the salt/cap. Per-key
    partial-agg count, then orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k, k-row merge — no
    global sort); the total joins in as one broadcast row."""
    counts = df.groupBy(F.col("tok").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    total = counts.agg(F.sum("c").cast("bigint").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "k", "c",
            F.expr("c * CAST(1000000 AS BIGINT) DIV total")
            .cast("bigint").alias("share_ppm"),
        )
        .orderBy(F.desc("c"), "k")
        .limit(_HOT_KEYS)
    )


# driver registration profiles the corpus TOKEN key — the skewed
# shuffle key every text operator here groups or joins on
TOKEN_SKEW_PROFILE_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS k FROM documents),
counts AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY k)
SELECT CAST(LENGTH(BIN(c)) - 1 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS sum_rows,
       CAST(MAX(c) AS BIGINT) AS max_rows
FROM counts GROUP BY 1 ORDER BY 1
"""

TOKEN_HOT_KEYS_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS k FROM documents),
counts AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY k),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM counts)
SELECT k, c, CAST(c * 1000000 // total AS BIGINT) AS share_ppm
FROM counts, tot
ORDER BY c DESC, k LIMIT 10
"""
