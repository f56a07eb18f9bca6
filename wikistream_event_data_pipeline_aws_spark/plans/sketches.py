"""Deterministic sketch operators (north-star "novel sketch" scope).

Four mergeable sketches — HyperLogLog (global + per-group), count-min,
and a fixed-width histogram quantile — each built from engine-neutral
primitives so that, unusually for sketches, their outputs are exactly
value-hash-checkable against an independent engine. The common scale
property: every sketch state is bounded by its parameters (registers,
counter grid, bins), NOT by data volume, and combines associatively —
per-partition partial states merge with max/sum, which is exactly what
Spark's partial/final hash aggregation already does. At 100 TB these
replace the exact formulations (countDistinct / per-key counts /
global sort percentiles) whose shuffle grows with key cardinality.

``hll_distinct_events`` is a real HyperLogLog built from engine-neutral
primitives so that — unusually for a sketch — its output is exactly
value-hash-checkable against an independent engine:

* the hash is the repo's md5-derived 60-bit uniform (``hex_hash``), so
  both engines see identical bits;
* register index = low 10 bits, rho = leading-zero count of the
  remaining 50 bits + 1, computed as ``51 - length(ltrim('0',
  bin(rest)))`` — pure integer/string ops, no floating log;
* the harmonic denominator ``sum(2^-M)`` is kept EXACT by scaling to
  ``sum(2^(62-M))`` in DECIMAL(38,0) (max register 51 keeps every term
  integral), with empty registers folded in arithmetically;
* only the final estimate divides two deterministic doubles.

Scale shape: one narrow projection, one 1024-key hash aggregation
(map-side combined — at most m rows cross the wire per partition),
one scalar agg. This is the mergeable-sketch pattern: per-partition
register vectors combine by element-wise max, which is exactly what
the partial/final Max aggregation already does. The exact
``countDistinct`` rides along only to report the sketch's observed
relative error; a production caller would drop it (it is the
expensive half of the query).

Reference scope: the reference profiles distinct counts exactly
(spark/jobs equivalents use COUNT(DISTINCT)); the sketch is the 100 TB
path where exact distinct is a full extra shuffle of every key.

Deliberate omission: the small-range linear-counting correction
(``m * ln(m/V)`` when the raw estimate is under 2.5m) needs ``ln``,
which is not bit-identical across engines — adding it would break the
zero-tolerance oracle. The raw estimate plus the reported
``rel_error`` keeps the regime visible instead (at sf0.001 the corpus
sits in that regime; at sf0.01+ the raw estimate is within ~0.1%).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.textops import hex_hash

HLL_M = 1024  # registers (p=10)
_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
# alpha * m^2 * 2^62 — the whole numerator as ONE double literal so both
# engines parse the identical constant
_NUM = repr(_ALPHA * HLL_M * HLL_M * float(1 << 62))
_POW62 = 1 << 62


def hll_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    h = hex_hash(F.col("event_id").cast("string"), seed="hll")
    t = e.select(h.alias("h")).select(
        (F.col("h") % HLL_M).alias("bucket"),
        F.expr(f"h div {HLL_M}").alias("rest"),
    )
    rho = F.lit(51) - F.length(F.expr("ltrim('0', conv(rest, 10, 2))"))
    regs = t.select("bucket", rho.alias("rho")).groupBy("bucket").agg(
        F.max("rho").alias("M")
    )
    a = regs.agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.expr("CAST(shiftleft(1L, 62 - M) AS DECIMAL(38,0))")).alias("s_obs"),
    )
    x = e.agg(F.countDistinct("event_id").alias("n_exact"))
    s_total = F.expr(
        f"s_obs + CAST({HLL_M}L - n_obs AS DECIMAL(38,0))"
        f" * CAST({_POW62} AS DECIMAL(38,0))"
    )
    est = F.lit(float(_NUM)) / s_total.cast("double")
    n_exact_d = F.col("n_exact").cast("double")
    return a.crossJoin(x).select(
        F.lit(HLL_M).cast("long").alias("m"),
        F.col("n_obs").alias("n_nonzero_registers"),
        F.col("n_exact").alias("n_exact_distinct"),
        est.alias("hll_estimate"),
        ((est - n_exact_d) / n_exact_d).alias("rel_error"),
    )


HLL_DISTINCT_EVENTS_SQL = f"""
WITH h AS (
  SELECT CAST(concat('0x', substr(md5(concat('hll', CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM events
),
t AS (SELECT h % {HLL_M} AS bucket, h // {HLL_M} AS rest FROM h),
r AS (
  SELECT bucket, MAX(51 - length(ltrim(bin(rest), '0'))) AS M
  FROM t GROUP BY bucket
),
a AS (
  SELECT COUNT(*) AS n_obs,
         SUM(CAST(1::BIGINT << (62 - M) AS DECIMAL(38,0))) AS s_obs
  FROM r
),
x AS (SELECT COUNT(DISTINCT event_id) AS n_exact FROM events)
SELECT CAST({HLL_M} AS BIGINT) AS m,
       n_obs AS n_nonzero_registers,
       n_exact AS n_exact_distinct,
       {_NUM} / CAST(s_obs + CAST({HLL_M} - n_obs AS DECIMAL(38,0))
                     * CAST({_POW62} AS DECIMAL(38,0)) AS DOUBLE) AS hll_estimate,
       ({_NUM} / CAST(s_obs + CAST({HLL_M} - n_obs AS DECIMAL(38,0))
                      * CAST({_POW62} AS DECIMAL(38,0)) AS DOUBLE)
        - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_error
FROM a, x
"""


def hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HyperLogLog: distinct users per event_type.

    Same register construction as :func:`hll_distinct_events` but keyed
    by ``event_type`` — the grouped-sketch pattern that replaces
    ``COUNT(DISTINCT user_id) GROUP BY type`` at scale. State is
    ``n_groups x m`` registers; the exact distinct (a second shuffle of
    every (type, user) pair) rides along only to report error.
    """
    e = load_table(spark, sf_dir, "events")
    h = hex_hash(F.col("user_id").cast("string"), seed="hllg")
    t = e.select("event_type", h.alias("h")).select(
        "event_type",
        (F.col("h") % HLL_M).alias("bucket"),
        F.expr(f"h div {HLL_M}").alias("rest"),
    )
    rho = F.lit(51) - F.length(F.expr("ltrim('0', conv(rest, 10, 2))"))
    regs = (
        t.select("event_type", "bucket", rho.alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("M"))
    )
    a = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.expr("CAST(shiftleft(1L, 62 - M) AS DECIMAL(38,0))")).alias("s_obs"),
    )
    x = e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    s_total = F.expr(
        f"s_obs + CAST({HLL_M}L - n_obs AS DECIMAL(38,0))"
        f" * CAST({_POW62} AS DECIMAL(38,0))"
    )
    est = F.lit(float(_NUM)) / s_total.cast("double")
    n_exact_d = F.col("n_exact").cast("double")
    return a.join(x, "event_type").select(
        "event_type",
        F.col("n_obs").alias("n_nonzero_registers"),
        F.col("n_exact").alias("n_exact_distinct"),
        est.alias("hll_estimate"),
        ((est - n_exact_d) / n_exact_d).alias("rel_error"),
    )


HLL_DISTINCT_USERS_BY_TYPE_SQL = f"""
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(concat('hllg', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM events
),
t AS (SELECT event_type, h % {HLL_M} AS bucket, h // {HLL_M} AS rest FROM h),
r AS (
  SELECT event_type, bucket, MAX(51 - length(ltrim(bin(rest), '0'))) AS M
  FROM t GROUP BY event_type, bucket
),
a AS (
  SELECT event_type, COUNT(*) AS n_obs,
         SUM(CAST(1::BIGINT << (62 - M) AS DECIMAL(38,0))) AS s_obs
  FROM r GROUP BY event_type
),
x AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type)
SELECT a.event_type,
       n_obs AS n_nonzero_registers,
       n_exact AS n_exact_distinct,
       {_NUM} / CAST(s_obs + CAST({HLL_M} - n_obs AS DECIMAL(38,0))
                     * CAST({_POW62} AS DECIMAL(38,0)) AS DOUBLE) AS hll_estimate,
       ({_NUM} / CAST(s_obs + CAST({HLL_M} - n_obs AS DECIMAL(38,0))
                      * CAST({_POW62} AS DECIMAL(38,0)) AS DOUBLE)
        - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_error
FROM a JOIN x ON a.event_type = x.event_type
"""


CMS_D = 4  # hash rows
CMS_W = 2048  # counter columns per row
CMS_TOPK = 15


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters over ``events.user_id``.

    Sketch state is a ``d x w`` counter grid (8192 cells) regardless of
    key cardinality: each event increments one cell per hash row, and
    Spark's map-side partial aggregation means at most ``d*w`` rows per
    partition cross the shuffle. Estimates take the MIN over the d
    cells for each candidate key (classic CMS upper bound: never under,
    over only on collisions). The grid is broadcast for the estimate
    join; the exact per-key count rides along to report the overcount.

    Reference scope: the reference's gold jobs compute exact per-user
    counts (gold_batch_job.py user_daily_metrics); CMS is the bounded-
    state alternative when the user dimension itself no longer fits a
    shuffle at 100 TB.
    """
    e = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("string")
    cols = F.array(*[(hex_hash(u, seed=f"cms{j}") % CMS_W) for j in range(CMS_D)])
    pos = e.select(F.col("user_id"), F.posexplode(cols).alias("j", "col"))
    counters = pos.groupBy("j", "col").agg(F.count(F.lit(1)).alias("c"))
    cand = pos.select("user_id", "j", "col").distinct()
    est = (
        cand.join(F.broadcast(counters), ["j", "col"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est_count"))
    )
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.desc("est_count"), "user_id")
        .limit(CMS_TOPK)
    )


HEAVY_HITTERS_CMS_SQL = f"""
WITH pos AS (
  SELECT user_id, j,
         CAST(concat('0x', substr(md5(concat('cms', CAST(j AS VARCHAR), CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % {CMS_W} AS col
  FROM events, range({CMS_D}) t(j)
),
counters AS (SELECT j, col, COUNT(*) AS c FROM pos GROUP BY j, col),
cand AS (SELECT DISTINCT user_id, j, col FROM pos),
est AS (
  SELECT user_id, MIN(c) AS est_count
  FROM cand JOIN counters USING (j, col) GROUP BY user_id
),
exact AS (SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id)
SELECT user_id, est_count, exact_count, est_count - exact_count AS overcount
FROM est JOIN exact USING (user_id)
ORDER BY est_count DESC, user_id
LIMIT {CMS_TOPK}
"""


HIST_BINS = 256
HIST_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def histogram_quantiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram quantile sketch over ``events.value``.

    The mergeable alternative to a global sort: one pass for (min, max,
    n), one map-side-combined aggregation into ``B`` bins, then the
    quantile lookup runs over the B-row histogram — bounded by B, not
    by data volume (the single-partition cumulative window is over at
    most 256 rows by construction). Estimate = bin midpoint; the bin
    width bounds the error at (max-min)/B. Contrast with the exact
    count+offset formulation in ``dq_profile_value`` which still
    shuffles every distinct value.

    All arithmetic is plain IEEE double ops evaluated in the same order
    in both engines, so even the estimates value-hash-match exactly.
    """
    e = load_table(spark, sf_dir, "events")
    mm = e.agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = e.crossJoin(F.broadcast(mm)).select(
        # degenerate-domain guard (same CASE in the oracle): a constant
        # value column has mx == mn — bin 0, not a 0/0 NULL-vs-NaN split
        F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.lit(HIST_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * HIST_BINS
                ),
            )
        )
        .alias("bin"),
        "mn",
        "mx",
        "n",
    )
    hist = binned.groupBy("bin", "mn", "mx", "n").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bin", "mn", "mx", "n", F.sum("cnt").over(w).alias("cum"))
    qs = F.explode(F.array(*[F.lit(q) for q in HIST_QS])).alias("q")
    targets = cum.select("bin", "mn", "mx", "n", "cum", qs).filter(
        F.col("cum") >= F.ceil(F.col("q") * F.col("n"))
    )
    best = targets.groupBy("q").agg(
        F.min("bin").alias("bin"),
        F.first("mn").alias("mn"),
        F.first("mx").alias("mx"),
        F.first("n").alias("n"),
    )
    est = F.col("mn") + (F.col("bin") + F.lit(0.5)) / HIST_BINS * (F.col("mx") - F.col("mn"))
    return best.select(
        "q",
        F.ceil(F.col("q") * F.col("n")).alias("target_rank"),
        "bin",
        est.alias("est_value"),
        F.col("n").alias("n_rows"),
    )


_QS_LIST = ", ".join(f"CAST({q!r} AS DOUBLE)" for q in HIST_QS)

HISTOGRAM_QUANTILES_VALUE_SQL = f"""
WITH mm AS (SELECT MIN(value) AS mn, MAX(value) AS mx, COUNT(*) AS n FROM events),
binned AS (
  SELECT CASE WHEN mx = mn THEN 0::BIGINT
              ELSE LEAST({HIST_BINS - 1}::BIGINT,
                         CAST(FLOOR((value - mn) / (mx - mn) * {HIST_BINS}) AS BIGINT))
         END AS bin,
         mn, mx, n
  FROM events, mm
),
hist AS (SELECT bin, mn, mx, n, COUNT(*) AS cnt FROM binned GROUP BY bin, mn, mx, n),
cum AS (
  SELECT bin, mn, mx, n,
         SUM(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
t AS (
  SELECT q, bin, mn, mx, n, cum
  FROM cum, unnest([{_QS_LIST}]) AS u(q)
  WHERE cum >= CEIL(q * n)
),
best AS (
  SELECT q, MIN(bin) AS bin, MIN(mn) AS mn, MIN(mx) AS mx, MIN(n) AS n
  FROM t GROUP BY q
)
SELECT q,
       CAST(CEIL(q * n) AS BIGINT) AS target_rank,
       bin,
       mn + (bin + CAST(0.5 AS DOUBLE)) / {HIST_BINS} * (mx - mn) AS est_value,
       n AS n_rows
FROM best
"""

# The streaming sink explicitly DROPS NULL measurements before binning
# (streaming/ingest.start_histogram_sink: a NULL would otherwise count
# inside a real bin via least/greatest null-skipping), so the streaming
# query's oracle must filter them too — n = COUNT(value), not COUNT(*).
# The batch query bins NULLs into a NULL bin and counts them, so the
# two oracles differ by exactly this filter; parity on NULL-free
# fixtures hid the difference, and the dirty-data DQ fixtures show
# NULL values are in-contract.
STREAMING_HISTOGRAM_QUANTILES_SQL = HISTOGRAM_QUANTILES_VALUE_SQL.replace(
    "FROM events", "FROM (SELECT * FROM events WHERE value IS NOT NULL) events"
)


def hll_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from MERGED sketches — the property
    that makes HLL a planner tool, not just a counter: the union sketch
    is the register-wise MAX of the two side sketches (both hashed with
    the SAME seed), and inclusion-exclusion gives
    ``|A∩B| ≈ est(A) + est(B) − est(A∪B)`` without ever joining the
    sides. At 100 TB each side's sketch is m registers however large
    the side, the merge touches 2m rows, and the planner gets an
    overlap estimate for free; the exact intersection (a real shuffle
    of every user) rides along only to report error."""
    e = load_table(spark, sf_dir, "events")
    h = hex_hash(F.col("user_id").cast("string"), seed="hllj")
    rho = F.lit(51) - F.length(F.expr("ltrim('0', conv(rest, 10, 2))"))

    def regs(df: DataFrame) -> DataFrame:
        t = df.select(h.alias("h")).select(
            (F.col("h") % HLL_M).alias("bucket"),
            F.expr(f"h div {HLL_M}").alias("rest"),
        )
        return (
            t.select("bucket", rho.alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("M"))
        )

    ra = regs(e.filter(F.col("event_type") == "click"))
    rb = regs(e.filter(F.col("event_type") == "purchase"))
    ru = (
        ra.select("bucket", F.col("M").alias("Ma"))
        .join(rb.select("bucket", F.col("M").alias("Mb")), "bucket", "full_outer")
        .select(
            "bucket",
            F.greatest(
                F.coalesce(F.col("Ma"), F.lit(0)), F.coalesce(F.col("Mb"), F.lit(0))
            ).alias("M"),
        )
    )

    def est_row(r: DataFrame, name: str) -> DataFrame:
        a = r.agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(F.expr("CAST(shiftleft(1L, 62 - M) AS DECIMAL(38,0))")).alias(
                "s_obs"
            ),
        )
        s_total = F.expr(
            f"s_obs + CAST({HLL_M}L - n_obs AS DECIMAL(38,0))"
            f" * CAST({_POW62} AS DECIMAL(38,0))"
        )
        return a.select((F.lit(float(_NUM)) / s_total.cast("double")).alias(name))

    flags = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("c"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("p"),
    )
    exact = flags.agg(
        F.sum((F.col("c") * F.col("p")).cast("long")).alias("n_exact_intersection")
    )
    out = (
        est_row(ra, "est_clickers")
        .crossJoin(est_row(rb, "est_purchasers"))
        .crossJoin(est_row(ru, "est_union"))
        .crossJoin(exact)
    )
    est_i = F.col("est_clickers") + F.col("est_purchasers") - F.col("est_union")
    n_exact_d = F.col("n_exact_intersection").cast("double")
    return out.select(
        "est_clickers",
        "est_purchasers",
        "est_union",
        est_i.alias("est_intersection"),
        "n_exact_intersection",
        ((est_i - n_exact_d) / n_exact_d).alias("rel_error"),
    )


_HLL_REGS_SQL = """
  SELECT h % {m} AS bucket,
         MAX(51 - length(ltrim(bin(h // {m}), '0'))) AS M
  FROM (
    SELECT CAST(concat('0x', substr(md5(concat('hllj', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
    FROM events WHERE event_type = '{t}'
  ) GROUP BY bucket
"""

_HLL_EST_SQL = """
  SELECT {num} / CAST(s_obs + CAST({m} - n_obs AS DECIMAL(38,0))
                      * CAST({p62} AS DECIMAL(38,0)) AS DOUBLE) AS {name}
  FROM (SELECT COUNT(*) AS n_obs,
               SUM(CAST(1::BIGINT << (62 - M) AS DECIMAL(38,0))) AS s_obs
        FROM {src})
"""


def _hll_join_sql() -> str:
    ra = _HLL_REGS_SQL.format(m=HLL_M, t="click")
    rb = _HLL_REGS_SQL.format(m=HLL_M, t="purchase")
    ea = _HLL_EST_SQL.format(num=_NUM, m=HLL_M, p62=_POW62, name="est_clickers", src="ra")
    eb = _HLL_EST_SQL.format(num=_NUM, m=HLL_M, p62=_POW62, name="est_purchasers", src="rb")
    eu = _HLL_EST_SQL.format(num=_NUM, m=HLL_M, p62=_POW62, name="est_union", src="ru")
    return f"""
WITH ra AS ({ra}),
rb AS ({rb}),
ru AS (
  SELECT COALESCE(ra.bucket, rb.bucket) AS bucket,
         greatest(COALESCE(ra.M, 0), COALESCE(rb.M, 0)) AS M
  FROM ra FULL OUTER JOIN rb ON ra.bucket = rb.bucket
),
exact AS (
  SELECT CAST(SUM(c * p) AS BIGINT) AS n_exact_intersection
  FROM (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
    FROM events GROUP BY user_id
  )
)
SELECT est_clickers, est_purchasers, est_union,
       est_clickers + est_purchasers - est_union AS est_intersection,
       n_exact_intersection,
       (est_clickers + est_purchasers - est_union
        - CAST(n_exact_intersection AS DOUBLE))
         / CAST(n_exact_intersection AS DOUBLE) AS rel_error
FROM ({ea}), ({eb}), ({eu}), exact
"""


HLL_JOIN_CARDINALITY_SQL = _hll_join_sql()


ROLL_DAYS = 7  # trailing window width


def hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{ROLL_DAYS}-day distinct users per day answered by
    MERGING daily HLL sketches — the production shape that makes
    ``rolling_active_users`` (the exact twin, kept as the yardstick)
    cheap at scale: each day's 1024 registers are built ONCE from that
    day's events; every window is then a register-wise MAX over
    {ROLL_DAYS} sketch rows. The rolling merge joins the (days ×
    registers) sketch table against the day spine — sketch-size ×
    calendar work, independent of event volume, which is exactly why
    mergeable sketches exist. Same fixed-point register arithmetic as
    the other HLL queries (DECIMAL sums, one float division), so the
    approximate path is value-hash-checked; the exact trailing count
    rides along to report the realized error."""
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    h = hex_hash(F.col("user_id").cast("string"), seed="hllr")
    # integer div, not float: h spans 60 bits, beyond double precision
    t = e.select("d", h.alias("h")).select(
        "d",
        (F.col("h") % HLL_M).alias("bucket"),
        F.expr(f"h div {HLL_M}").alias("rest"),
    )
    rho = F.lit(51) - F.length(F.expr("ltrim('0', conv(rest, 10, 2))"))
    daily = (
        t.select("d", "bucket", rho.alias("rho"))
        .groupBy("d", "bucket")
        .agg(F.max("rho").alias("M"))
    )
    days = e.select("d").distinct()
    spine = days.select(F.col("d").alias("win_end"))
    merged = (
        daily.join(
            F.broadcast(spine),
            (F.col("d") <= F.col("win_end"))
            & (F.col("d") >= F.date_sub(F.col("win_end"), ROLL_DAYS - 1)),
        )
        .groupBy("win_end", "bucket")
        .agg(F.max("M").alias("M"))
    )
    a = merged.groupBy("win_end").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.expr("CAST(shiftleft(1L, 62 - M) AS DECIMAL(38,0))")).alias("s_obs"),
    )
    exact = (
        e.distinct()
        .join(
            F.broadcast(spine),
            (F.col("d") <= F.col("win_end"))
            & (F.col("d") >= F.date_sub(F.col("win_end"), ROLL_DAYS - 1)),
        )
        .groupBy("win_end")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    s_total = F.expr(
        f"s_obs + CAST({HLL_M}L - n_obs AS DECIMAL(38,0))"
        f" * CAST({_POW62} AS DECIMAL(38,0))"
    )
    est = F.lit(float(_NUM)) / s_total.cast("double")
    n_exact_d = F.col("n_exact").cast("double")
    return a.join(exact, "win_end").select(
        F.col("win_end").cast("string").alias("window_end_day"),
        F.col("n_obs").alias("n_nonzero_registers"),
        F.col("n_exact").alias("n_exact_distinct"),
        est.alias("hll_estimate"),
        ((est - n_exact_d) / n_exact_d).alias("rel_error"),
    )


HLL_ROLLING_DISTINCT_SQL = f"""
WITH e AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
h AS (
  SELECT d,
         CAST(concat('0x', substr(md5(concat('hllr', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM e
),
t AS (SELECT d, h % {HLL_M} AS bucket, h // {HLL_M} AS rest FROM h),
daily AS (
  SELECT d, bucket, MAX(51 - length(ltrim(bin(rest), '0'))) AS M
  FROM t GROUP BY d, bucket
),
spine AS (SELECT DISTINCT d AS win_end FROM e),
merged AS (
  SELECT s.win_end, daily.bucket, MAX(daily.M) AS M
  FROM daily JOIN spine s
    ON daily.d <= s.win_end AND daily.d >= s.win_end - {ROLL_DAYS - 1}
  GROUP BY s.win_end, daily.bucket
),
a AS (
  SELECT win_end, COUNT(*) AS n_obs,
         SUM(CAST(1::BIGINT << (62 - M) AS DECIMAL(38,0))) AS s_obs
  FROM merged GROUP BY win_end
),
x AS (
  SELECT s.win_end, COUNT(DISTINCT p.user_id) AS n_exact
  FROM (SELECT DISTINCT d, user_id FROM e) p JOIN spine s
    ON p.d <= s.win_end AND p.d >= s.win_end - {ROLL_DAYS - 1}
  GROUP BY s.win_end
)
SELECT CAST(a.win_end AS VARCHAR) AS window_end_day,
       n_obs AS n_nonzero_registers,
       n_exact AS n_exact_distinct,
       {_NUM} / CAST(s_obs + CAST({HLL_M} - n_obs AS DECIMAL(38,0))
                     * CAST({_POW62} AS DECIMAL(38,0)) AS DOUBLE) AS hll_estimate,
       ({_NUM} / CAST(s_obs + CAST({HLL_M} - n_obs AS DECIMAL(38,0))
                      * CAST({_POW62} AS DECIMAL(38,0)) AS DOUBLE)
        - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_error
FROM a JOIN x ON a.win_end = x.win_end
"""


KMV_K = 256
_KMV_DOMAIN = float(1 << 60)  # hex_hash is uniform on [0, 2^60)


def kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values sketches with MERGEABLE set-operation
    estimates — the sketch family member HLL lacks: because a KMV
    sketch is literally the k smallest hash values of a set, the union
    sketch is computable FROM THE TWO SKETCHES (k smallest of their
    union — demonstrated here by merging the sketch rows, not
    rescanning the data), and the intersection follows from the
    matching-hash fraction within the union sketch (ρ = |union-sketch
    members present in both sides| / k, ∩-estimate = ρ·∪-estimate).
    Everything except the final estimates is EXACT integer data — the
    k smallest values of a deterministic md5 hash — so the whole
    sketch state is value-hash-checkable; estimates are single float
    expressions ((k−1)·2⁶⁰/h₍ₖ₎). Each sketch is a TakeOrdered top-k
    (never a global sort); exact distinct counts ride along as the
    error yardstick."""
    o = load_table(spark, sf_dir, "orders")

    def members(year: int) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == year)
            .select(F.col("o_custkey").alias("user_id"))
            .distinct()
        )

    def hashes(year: int) -> DataFrame:
        return members(year).select(
            hex_hash(F.col("user_id").cast("string"), seed="kmv").alias("h")
        )

    def sketch(h: DataFrame) -> DataFrame:
        return h.orderBy("h").limit(KMV_K)

    ha, hb = hashes(1995), hashes(1997)
    sa = sketch(ha).localCheckpoint(eager=True)
    sb = sketch(hb).localCheckpoint(eager=True)
    su = sketch(sa.unionByName(sb).distinct())
    ka = sa.agg(F.max("h").alias("hk_a"), F.count(F.lit(1)).alias("k_a"))
    kb = sb.agg(F.max("h").alias("hk_b"), F.count(F.lit(1)).alias("k_b"))
    both = (
        su.join(sa.withColumnRenamed("h", "h_a"), su["h"] == F.col("h_a"), "left")
        .join(sb.withColumnRenamed("h", "h_b"), su["h"] == F.col("h_b"), "left")
        .agg(
            F.max("h").alias("hk_u"),
            F.count(F.lit(1)).alias("k_u"),
            F.sum(
                (F.col("h_a").isNotNull() & F.col("h_b").isNotNull()).cast("int")
            )
            .cast("bigint")
            .alias("n_both"),
        )
    )
    xa = members(1995).agg(F.count(F.lit(1)).alias("n_a_exact"))
    xb = members(1997).agg(F.count(F.lit(1)).alias("n_b_exact"))
    xab = (
        members(1995)
        .intersect(members(1997))
        .agg(F.count(F.lit(1)).alias("n_inter_exact"))
    )

    def est(k: str, hk: str) -> F.Column:
        return (F.col(k) - 1).cast("double") * F.lit(_KMV_DOMAIN) / F.col(
            hk
        ).cast("double")

    out = (
        ka.crossJoin(kb).crossJoin(both).crossJoin(xa).crossJoin(xb).crossJoin(xab)
    )
    est_u = est("k_u", "hk_u")
    return out.select(
        F.col("k_a").alias("k"),
        "n_a_exact",
        "n_b_exact",
        "n_inter_exact",
        "n_both",
        est("k_a", "hk_a").alias("est_a"),
        est("k_b", "hk_b").alias("est_b"),
        est_u.alias("est_union"),
        (F.col("n_both").cast("double") / F.col("k_u").cast("double") * est_u).alias(
            "est_intersection"
        ),
    )


_KMV_HASH = (
    "CAST(concat('0x', substr(md5(concat('kmv', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT)"
)
_KMV_A = "SELECT DISTINCT o_custkey AS user_id FROM orders WHERE year(o_orderdate) = 1995"
_KMV_B = "SELECT DISTINCT o_custkey AS user_id FROM orders WHERE year(o_orderdate) = 1997"

KMV_SET_OPERATIONS_SQL = f"""
WITH ha AS (
  SELECT {_KMV_HASH} AS h FROM ({_KMV_A})
),
hb AS (
  SELECT {_KMV_HASH} AS h FROM ({_KMV_B})
),
sa AS (SELECT h FROM ha ORDER BY h LIMIT {KMV_K}),
sb AS (SELECT h FROM hb ORDER BY h LIMIT {KMV_K}),
su AS (
  SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) ORDER BY h LIMIT {KMV_K}
),
ka AS (SELECT MAX(h) AS hk_a, COUNT(*) AS k_a FROM sa),
kb AS (SELECT MAX(h) AS hk_b, COUNT(*) AS k_b FROM sb),
bth AS (
  SELECT MAX(su.h) AS hk_u, COUNT(*) AS k_u,
         CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both
  FROM su LEFT JOIN sa a ON su.h = a.h LEFT JOIN sb b ON su.h = b.h
),
xa AS (SELECT COUNT(*) AS n_a_exact FROM ({_KMV_A})),
xb AS (SELECT COUNT(*) AS n_b_exact FROM ({_KMV_B})),
xab AS (
  SELECT COUNT(*) AS n_inter_exact FROM (
    SELECT user_id FROM ({_KMV_A}) INTERSECT SELECT user_id FROM ({_KMV_B})
  )
)
SELECT k_a AS k, n_a_exact, n_b_exact, n_inter_exact, n_both,
       CAST(k_a - 1 AS DOUBLE) * {_KMV_DOMAIN!r} / CAST(hk_a AS DOUBLE) AS est_a,
       CAST(k_b - 1 AS DOUBLE) * {_KMV_DOMAIN!r} / CAST(hk_b AS DOUBLE) AS est_b,
       CAST(k_u - 1 AS DOUBLE) * {_KMV_DOMAIN!r} / CAST(hk_u AS DOUBLE) AS est_union,
       CAST(n_both AS DOUBLE) / CAST(k_u AS DOUBLE)
         * (CAST(k_u - 1 AS DOUBLE) * {_KMV_DOMAIN!r} / CAST(hk_u AS DOUBLE))
         AS est_intersection
FROM ka, kb, bth, xa, xb, xab
"""


def _hll_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Two-file (even/odd user_id) replay source, built once per version
    of the events table; bench.warmup pre-builds it with the other
    setup artifacts. It replays the DISTINCT user set: HLL registers are
    duplicate-insensitive (max of identical rho), so streaming the
    deduped keys is register-identical to streaming every event — and
    the fixture write drops from |events| to |users| rows."""
    from ..operators.memo import fixture
    from ..streaming.ingest import write_parity_replay

    def build(base: str) -> str:
        e = load_table(spark, sf_dir, "events").select("user_id")
        return write_parity_replay(e.distinct(), "user_id", base)

    return fixture("hll_src", sf_dir, ("events",), build)


def streaming_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch materialization end-to-end: the events table is
    replayed as TWO micro-batches (deterministic even/odd user split,
    one file each) through ``streaming.ingest.start_hll_sink``, whose
    foreachBatch MAX-merges each batch's registers into a persistent
    ≤1024-row register table — then the final estimate is read back
    from that table. Because register max-merge is associative and
    idempotent, the streamed two-batch sketch is BIT-IDENTICAL to the
    batch sketch over all events, which is exactly what the DuckDB
    oracle checks (same construction, one pass). Replay idempotency is
    pinned separately in the invariant tests."""
    import tempfile

    from ..streaming.ingest import await_drain, file_stream, start_hll_sink

    with tempfile.TemporaryDirectory(prefix="hll_stream_", ignore_cleanup_errors=True) as tmp:
        regs_path, ckpt = f"{tmp}/regs", f"{tmp}/ckpt"
        # the SOURCE fixture is shared; register/checkpoint state is per-run
        src = _hll_stream_src(spark, sf_dir)
        stream = file_stream(spark, src, "user_id bigint", max_files_per_trigger=1)
        q = start_hll_sink(
            stream,
            regs_path,
            key_col="user_id",
            seed="hlls",
            checkpoint_dir=ckpt,
            m=HLL_M,
            trigger={"availableNow": True},
        )
        await_drain(q, "hll stream")

        regs = spark.read.parquet(regs_path)
        a = regs.agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(F.expr("CAST(shiftleft(1L, 62 - M) AS DECIMAL(38,0))")).alias("s_obs"),
        )
        x = load_table(spark, sf_dir, "events").agg(
            F.countDistinct("user_id").alias("n_exact")
        )
        s_total = F.expr(
            f"s_obs + CAST({HLL_M}L - n_obs AS DECIMAL(38,0))"
            f" * CAST({_POW62} AS DECIMAL(38,0))"
        )
        est = F.lit(float(_NUM)) / s_total.cast("double")
        n_exact_d = F.col("n_exact").cast("double")
        return a.crossJoin(x).select(
            F.col("n_obs").alias("n_nonzero_registers"),
            F.col("n_exact").alias("n_exact_distinct"),
            est.alias("hll_estimate"),
            ((est - n_exact_d) / n_exact_d).alias("rel_error"),
        ).localCheckpoint(eager=True)


STREAMING_HLL_USERS_SQL = f"""
WITH h AS (
  SELECT CAST(concat('0x', substr(md5(concat('hlls', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM events
),
t AS (SELECT h % {HLL_M} AS bucket, h // {HLL_M} AS rest FROM h),
r AS (
  SELECT bucket, MAX(51 - length(ltrim(bin(rest), '0'))) AS M
  FROM t GROUP BY bucket
),
a AS (
  SELECT COUNT(*) AS n_obs,
         SUM(CAST(1::BIGINT << (62 - M) AS DECIMAL(38,0))) AS s_obs
  FROM r
),
x AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events)
SELECT n_obs AS n_nonzero_registers,
       n_exact AS n_exact_distinct,
       {_NUM} / CAST(s_obs + CAST({HLL_M} - n_obs AS DECIMAL(38,0))
                     * CAST({_POW62} AS DECIMAL(38,0)) AS DOUBLE) AS hll_estimate,
       ({_NUM} / CAST(s_obs + CAST({HLL_M} - n_obs AS DECIMAL(38,0))
                      * CAST({_POW62} AS DECIMAL(38,0)) AS DOUBLE)
        - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_error
FROM a, x
"""


def _hist_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Two-file (even/odd event_id) replay source, built once per
    version of the events table; bench.warmup pre-builds it with the
    other setup artifacts."""
    from ..operators.memo import fixture
    from ..streaming.ingest import write_parity_replay

    def build(base: str) -> str:
        e = load_table(spark, sf_dir, "events").select("event_id", "value")
        return write_parity_replay(e, "event_id", base)

    return fixture("hist_src", sf_dir, ("events",), build)


def streaming_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile sketch end-to-end — the ADDITIVE-state twin
    of ``streaming_hll_users``: events replay as two micro-batches
    (even/odd event_id files) through
    ``streaming.ingest.start_histogram_sink``, whose per-batch bin
    counts are keyed by (batch_id, bin) and INSERT-ONLY merged, so a
    replayed batch no-ops before any write — exactly-once by idempotent
    insert where the HLL sink gets it from max-merge algebra (the two
    production mechanisms, both now exercised). The bin domain is fixed
    a priori from the static fixture (the streaming-histogram
    contract: a stream cannot take the min/max pre-pass). Because
    binning is per-row and bin sums are associative, the streamed
    histogram is BIT-IDENTICAL to the one-pass batch histogram over
    the non-NULL values; the oracle is the batch SQL with the sink's
    NULL filter applied (``STREAMING_HISTOGRAM_QUANTILES_SQL``). State:
    n_batches x B rows, compactable by summing — never data-sized."""
    import tempfile

    from ..streaming.ingest import await_drain, file_stream, start_histogram_sink

    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    mm = e.agg(F.min("value").alias("mn"), F.max("value").alias("mx")).first()
    mn, mx = float(mm["mn"]), float(mm["mx"])

    src = _hist_stream_src(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="hist_stream_", ignore_cleanup_errors=True) as tmp:
        bins_path, ckpt = f"{tmp}/bins", f"{tmp}/ckpt"
        stream = file_stream(
            spark, src, "event_id bigint, value double", max_files_per_trigger=1
        )
        q = start_histogram_sink(
            stream,
            bins_path,
            value_col="value",
            mn=mn,
            mx=mx,
            checkpoint_dir=ckpt,
            n_bins=HIST_BINS,
            trigger={"availableNow": True},
        )
        await_drain(q, "histogram stream")

        hist = (
            spark.read.parquet(bins_path)
            .groupBy("bin")
            .agg(F.sum("cnt").alias("cnt"))
        )
        n_total = hist.agg(F.sum("cnt").alias("n"))
        w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        cum = hist.select("bin", F.sum("cnt").over(w).alias("cum")).join(
            F.broadcast(n_total)
        )
        qs = F.explode(F.array(*[F.lit(x) for x in HIST_QS])).alias("q")
        targets = cum.select("bin", "cum", "n", qs).filter(
            F.col("cum") >= F.ceil(F.col("q") * F.col("n"))
        )
        best = targets.groupBy("q").agg(
            F.min("bin").alias("bin"), F.first("n").alias("n")
        )
        est = F.lit(mn) + (F.col("bin") + F.lit(0.5)) / HIST_BINS * F.lit(mx - mn)
        return best.select(
            "q",
            F.ceil(F.col("q") * F.col("n")).alias("target_rank"),
            "bin",
            est.alias("est_value"),
            F.col("n").alias("n_rows"),
        ).localCheckpoint(eager=True)


def histogram_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED histogram quantile sketch — per event_type P50/P90 in one
    pass, the shape a metrics backend runs for every (metric, service)
    pair: per-type (min, max, n) bounds (|types| rows, broadcast back),
    per (type, bin) counts, then the quantile lookup over each type's
    <= B rows via a TYPE-PARTITIONED cumulative window (keyed shuffle,
    never a global sort). State: |types| x B cells however large the
    input — same argument as the grouped HLL."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    mm = e.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = e.join(F.broadcast(mm), "event_type").select(
        "event_type",
        # degenerate-domain guard: a type whose values are all equal has
        # mx == mn; everything lands in bin 0 (the oracle carries the
        # identical CASE — without it Spark's 0/0 division yields NULL
        # while DuckDB yields NaN and errors on CAST(FLOOR(NaN) AS BIGINT))
        F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.lit(HIST_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * HIST_BINS
                ),
            )
        )
        .alias("bin"),
        "mn",
        "mx",
        "n",
    )
    hist = binned.groupBy("event_type", "bin", "mn", "mx", "n").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "event_type", "bin", "mn", "mx", "n", F.sum("cnt").over(w).alias("cum")
    )
    qs = F.explode(F.array(F.lit(0.5), F.lit(0.9))).alias("q")
    targets = cum.select("event_type", "bin", "mn", "mx", "n", "cum", qs).filter(
        F.col("cum") >= F.ceil(F.col("q") * F.col("n"))
    )
    best = targets.groupBy("event_type", "q").agg(
        F.min("bin").alias("bin"),
        F.first("mn").alias("mn"),
        F.first("mx").alias("mx"),
        F.first("n").alias("n"),
    )
    est = F.col("mn") + (F.col("bin") + F.lit(0.5)) / HIST_BINS * (
        F.col("mx") - F.col("mn")
    )
    return best.select(
        "event_type",
        "q",
        F.ceil(F.col("q") * F.col("n")).alias("target_rank"),
        "bin",
        est.alias("est_value"),
        F.col("n").alias("n_rows"),
    )


HISTOGRAM_QUANTILES_BY_TYPE_SQL = f"""
WITH mm AS (
  SELECT event_type, MIN(value) AS mn, MAX(value) AS mx, COUNT(*) AS n
  FROM events GROUP BY event_type
),
binned AS (
  SELECT e.event_type,
         CASE WHEN mm.mx = mm.mn THEN 0::BIGINT
              ELSE LEAST({HIST_BINS - 1}::BIGINT,
                         CAST(FLOOR((e.value - mm.mn) / (mm.mx - mm.mn) * {HIST_BINS}) AS BIGINT))
         END AS bin,
         mm.mn, mm.mx, mm.n
  FROM events e JOIN mm ON e.event_type = mm.event_type
),
hist AS (
  SELECT event_type, bin, mn, mx, n, COUNT(*) AS cnt
  FROM binned GROUP BY event_type, bin, mn, mx, n
),
cum AS (
  SELECT event_type, bin, mn, mx, n,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
t AS (
  SELECT event_type, q, bin, mn, mx, n, cum
  FROM cum, unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS u(q)
  WHERE cum >= CEIL(q * n)
),
best AS (
  SELECT event_type, q, MIN(bin) AS bin, MIN(mn) AS mn, MIN(mx) AS mx, MIN(n) AS n
  FROM t GROUP BY event_type, q
)
SELECT event_type, q,
       CAST(CEIL(q * n) AS BIGINT) AS target_rank,
       bin,
       mn + (bin + 0.5) / {HIST_BINS} * (mx - mn) AS est_value,
       n AS n_rows
FROM best
"""


QUERIES = {
    "hll_join_cardinality": hll_join_cardinality,
    "hll_rolling_distinct": hll_rolling_distinct,
    "kmv_set_operations": kmv_set_operations,
    "streaming_hll_users": streaming_hll_users,
    "hll_distinct_events": hll_distinct_events,
    "hll_distinct_users_by_type": hll_distinct_users_by_type,
    "heavy_hitters_cms": heavy_hitters_cms,
    "histogram_quantiles_value": histogram_quantiles_value,
    "histogram_quantiles_by_type": histogram_quantiles_by_type,
    "streaming_histogram_quantiles": streaming_histogram_quantiles,
}

ORACLES = {
    "hll_join_cardinality": HLL_JOIN_CARDINALITY_SQL,
    "hll_rolling_distinct": HLL_ROLLING_DISTINCT_SQL,
    "kmv_set_operations": KMV_SET_OPERATIONS_SQL,
    "streaming_hll_users": STREAMING_HLL_USERS_SQL,
    "hll_distinct_events": HLL_DISTINCT_EVENTS_SQL,
    "hll_distinct_users_by_type": HLL_DISTINCT_USERS_BY_TYPE_SQL,
    "heavy_hitters_cms": HEAVY_HITTERS_CMS_SQL,
    "histogram_quantiles_value": HISTOGRAM_QUANTILES_VALUE_SQL,
    "histogram_quantiles_by_type": HISTOGRAM_QUANTILES_BY_TYPE_SQL,
    "streaming_histogram_quantiles": STREAMING_HISTOGRAM_QUANTILES_SQL,
}
