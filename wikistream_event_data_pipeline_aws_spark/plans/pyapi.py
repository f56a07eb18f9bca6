"""Python-path operator surface (SURVEY §2.12): the Arrow-batched
escape hatches for semantics built-ins can't express, demonstrated on
operators whose results an independent engine still reproduces exactly.

The core engine stays UDF-free (COVERAGE §2.12); these two queries pin
the *plumbing* — grouped ``applyInPandas`` with an explicit result
schema, and a Python UDTF consumed through a SQL LATERAL join — the
way a real pipeline attaches pandas/NumPy-only logic (exact per-group
quantiles, custom parsers) to a Spark plan.

Determinism discipline: the pandas median is the DISCRETE (lower)
median ``sorted[(n-1)//2]`` — an element of the input, no float
interpolation — so it equals DuckDB's ``quantile_disc(0.5)`` bit-for-
bit where interpolated medians can drift by an ulp. The UDTF re-emits
JSON pairs exactly as the built-in ``from_json``+``explode`` path does
(`map_explode_props`), so its oracle is plain SQL.

Scale notes: ``applyInPandas`` shuffles once on the grouping key and
streams each group through Arrow — memory is bounded by the largest
group, not the table, and partial aggregation does NOT apply (that is
the price of the escape hatch; the expression-based queries keep the
map-side combine). The UDTF is a row flat-map with Arrow transfer
(``useArrow=True``) and no shuffle at all. Both are registered as
surface demos, not replacements for the built-in formulations.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf
from pyspark.sql import functions as F

from ..catalog import load_table


def user_value_median_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user discrete median of ``value`` via grouped applyInPandas."""
    e = load_table(spark, sf_dir, "events").select("user_id", "value")

    def median_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf["value"].sort_values().reset_index(drop=True)
        n = len(vals)
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [n],
                "median_value": [float(vals.iloc[(n - 1) // 2])],
            }
        )

    return e.groupBy("user_id").applyInPandas(
        median_fn, "user_id bigint, n_events bigint, median_value double"
    )


USER_VALUE_MEDIAN_PANDAS_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       quantile_disc(value, 0.5) AS median_value
FROM events
GROUP BY user_id
"""


@udtf(returnType="key string, val int", useArrow=True)
class _PropsKV:
    """Emit one (key, val) row per JSON property — the UDTF twin of the
    built-in ``from_json`` + ``explode`` path in ``map_explode_props``."""

    def eval(self, props: str):  # noqa: ANN201 - UDTF contract
        if props is None:
            return
        for k, v in json.loads(props).items():
            yield k, int(v)


def props_kv_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse purchase-event props through the UDTF.

    The event_type filter is applied to the DataFrame BEFORE the view/
    LATERAL join on purpose: Catalyst does not push predicates through
    a LATERAL Python UDTF join (measured: a WHERE written after the
    join ran the UDTF over all 100k rows, 18.5s; filtering first lands
    in the parquet scan as ``PushedFilters`` and runs the UDTF over
    the 20% that needs it, 4.2s). The deployment rule for UDTFs at
    scale: cut rows relationally first, cross the Python boundary
    last — and verify in the plan that the Filter sits under the
    ``ArrowEvalPythonUDTF`` node."""
    e = load_table(spark, sf_dir, "events").filter("event_type = 'purchase'")
    e.createOrReplaceTempView("__pyapi_events")
    spark.udtf.register("props_kv", _PropsKV)
    return spark.sql(
        """
        SELECT e.event_id, s.key, s.val
        FROM __pyapi_events e, LATERAL props_kv(e.props) s
        """
    )


PROPS_KV_UDTF_SQL = """
SELECT event_id,
       unnest(json_keys(props)) AS key,
       CAST(json_extract(props, '$.' || unnest(json_keys(props))) AS INTEGER) AS val
FROM events
WHERE event_type = 'purchase'
"""


def _sse_capture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic SSE capture fixture: the events table serialized
    as NDJSON in event_id order — what recording the reference's SSE
    firehose for this corpus would produce. Built once per version of
    the events file (``operators/memo.fixture``), so repeated calls pay
    the ~seconds serialization cost once, not per call (VERDICT r6
    item 5)."""
    import os

    import pyarrow.parquet as pq

    from ..operators.memo import fixture

    def build(cap_dir: str) -> str:
        tbl = pq.read_table(
            os.path.join(sf_dir, "events.parquet"),
            columns=["event_id", "ts", "event_type", "value"],
        ).sort_by("event_id")
        # serialize with f-strings, not per-row json.dumps (~5x): event_id is
        # an int, ts's str() form contains no JSON specials, value is a
        # finite double (repr == json's float form) or null, and event_type
        # is escaped once per DISTINCT value via json.dumps — so the bytes
        # are exactly what the dumps(sort_keys=True) formulation produced
        # (VERDICT r7 item 5: the rebuild runs inside the benched query
        # whenever the driver regenerates testdata; keep it cheap)
        ets = tbl.column("event_type").to_pylist()
        esc = {et: json.dumps(et) for et in set(ets)}
        lines = [
            f'{{"event_id": {eid}, "event_type": {esc[et]}, "ts": "{ts}", '
            f'"value": {"null" if v is None else repr(float(v))}}}\n'
            for eid, et, ts, v in zip(
                tbl.column("event_id").to_pylist(),
                ets,
                tbl.column("ts").to_pylist(),
                tbl.column("value").to_pylist(),
            )
        ]
        path = os.path.join(cap_dir, "capture.ndjson")
        with open(path, "w", encoding="utf-8") as f:
            f.writelines(lines)
        return path

    return fixture("sse_capture", sf_dir, ("events",), build)


def ensure_sse_registered(spark: SparkSession) -> None:
    # Register unconditionally: re-registration is a cheap dict put on
    # the session's DataSource registry, while memoizing on id(spark)
    # can skip a NEW session whose id() CPython reused after the old
    # session was garbage-collected ("data source not found").
    from ..sources import SSEReplayDataSource

    spark.dataSource.register(SSEReplayDataSource)


def sse_replay_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the custom ``sse_replay`` Python DataSource
    (S2 as an IN-ENGINE source, not an out-of-engine feeder): the
    events table round-trips through an NDJSON capture fixture, the
    Spark 4 DataSource API reads it back (partitioned line ranges
    planned driver-side), ``from_json`` parses the envelope JVM-side,
    and the aggregate must match the oracle computed DIRECTLY on the
    parquet table — any row the source drops, duplicates or mangles
    breaks the hash. Python touches bytes only (line fan-out); parsing
    and aggregation stay in codegen."""
    ensure_sse_registered(spark)
    path = _sse_capture(spark, sf_dir)
    raw = (
        spark.read.format("sse_replay")
        .option("path", path)
        .option("partitions", "8")
        .load()
    )
    env = raw.select(
        F.from_json(
            F.col("event_json"),
            "event_id bigint, ts string, event_type string, value double",
        ).alias("e")
    )
    return (
        env.select("e.*")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


SSE_REPLAY_SOURCE_STATS_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


COGROUP_BUCKETS = 64


def cogroup_click_purchase_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided grouped-map (``cogroup().applyInPandas``) — the last
    pandas-API shape in the §2.12 surface: the click slice and the
    purchase slice arrive as TWO aligned pandas frames in one Arrow
    batch, and the reconcile (per-user counts + signed first-click to
    first-purchase lag) happens in plain pandas. The demo semantics are
    deliberately join-expressible so the DuckDB oracle can replay them
    exactly — the operator's real use is per-key logic too gnarly for
    SQL (per-user model scoring, custom sessionizers).

    DEPLOYMENT RULE measured here (VERDICT r6 item 5): cogroup on a
    BUCKET of the key, never the raw key, when per-key work is small.
    Grouping by raw user_id crossed the Python boundary once per user
    — ~1,500 single-user pandas calls at sf0.1 cost 8.6s of pure
    per-group overhead (frame construction + dispatch), and at 100 TB
    that's one Python call per key, unbounded. Hash-bucketing the key
    ({COGROUP_BUCKETS} buckets here; sized so a bucket fits executor
    memory in production) ships the same rows in {COGROUP_BUCKETS}
    Arrow batches and VECTORIZES the per-user logic with
    pandas.groupby inside each call — same output, ~5x less wall
    clock, per-call overhead amortized over thousands of keys.

    The lag is integer seconds — FLOOR of the exact microsecond delta
    on BOTH engines (pandas Timedelta floordiv here, FLOOR(date_diff
    'microsecond'/1e6) in the oracle; fixture ts is timestamp[us], so a
    coarser ms-granularity date_diff would disagree within ~1ms of an
    integer second) — nullable when a side is absent."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(e.event_type == "click").select("user_id", "ts")
    # the right side gets DISTINCT column names: both branches descend
    # from the same scan, and Spark's cogroup attribute-dedup silently
    # PRUNES a right-side column whose attribute id collides with the
    # left (observed: right arrived as ['user_id'] only) — the same
    # self-join ambiguity family as SPARK-14948
    purchases = e.filter(e.event_type == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )

    def reconcile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        lc = left.groupby("user_id", sort=False).agg(
            n_clicks=("ts", "size"), first_click=("ts", "min")
        )
        rp = right.groupby("p_user_id", sort=False).agg(
            n_purchases=("p_ts", "size"), first_purchase=("p_ts", "min")
        )
        m = lc.join(rp, how="outer")
        lag = (m["first_purchase"] - m["first_click"]) // pd.Timedelta(seconds=1)
        return pd.DataFrame(
            {
                "user_id": m.index.to_numpy("int64"),
                "n_clicks": m["n_clicks"].fillna(0).to_numpy("int64"),
                "n_purchases": m["n_purchases"].fillna(0).to_numpy("int64"),
                "first_lag_seconds": lag.astype("Int64"),
            }
        )

    bucket = (F.col("user_id") % COGROUP_BUCKETS).alias("bucket")
    p_bucket = (F.col("p_user_id") % COGROUP_BUCKETS).alias("bucket")
    return (
        clicks.groupBy(bucket)
        .cogroup(purchases.groupBy(p_bucket))
        .applyInPandas(
            reconcile,
            "user_id long, n_clicks long, n_purchases long, first_lag_seconds long",
        )
    )


COGROUP_CLICK_PURCHASE_LAG_SQL = """
WITH c AS (
  SELECT user_id, COUNT(*) AS n_clicks, MIN(ts) AS first_click
  FROM events WHERE event_type = 'click' GROUP BY user_id
),
p AS (
  SELECT user_id, COUNT(*) AS n_purchases, MIN(ts) AS first_purchase
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       CAST(COALESCE(c.n_clicks, 0) AS BIGINT) AS n_clicks,
       CAST(COALESCE(p.n_purchases, 0) AS BIGINT) AS n_purchases,
       CASE WHEN c.user_id IS NOT NULL AND p.user_id IS NOT NULL
            THEN CAST(FLOOR(date_diff('microsecond', c.first_click, p.first_purchase) / 1000000.0) AS BIGINT)
            ELSE NULL END AS first_lag_seconds
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
"""


QUERIES = {
    "user_value_median_pandas": user_value_median_pandas,
    "props_kv_udtf": props_kv_udtf,
    "sse_replay_source_stats": sse_replay_source_stats,
    "cogroup_click_purchase_lag": cogroup_click_purchase_lag,
}

ORACLES = {
    "user_value_median_pandas": USER_VALUE_MEDIAN_PANDAS_SQL,
    "props_kv_udtf": PROPS_KV_UDTF_SQL,
    "sse_replay_source_stats": SSE_REPLAY_SOURCE_STATS_SQL,
    "cogroup_click_purchase_lag": COGROUP_CLICK_PURCHASE_LAG_SQL,
}
