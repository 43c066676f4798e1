"""Oracle parity for every registered query — the in-repo replica of the
driver's correctness gate (reference mechanism: golden-output reconciliation,
`migration_validation/reconciliation.py:39-155`).

Runs at sf0.001 for speed; the driver re-runs the same contract at sf0.01.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pytest

from redshift_to_lakehouse_migration_spark.queries import ORACLES, QUERIES
from tests.conftest import SF_SMOKE as SF_DIR

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _normalized_lines(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)


def assert_rows_match(s_rows, s_cols, d_rows, d_cols, context=""):
    """The driver's value-hash gate, but diagnosable: on mismatch, dump the
    symmetric difference of the normalized row multisets (VERDICT r9 #1c —
    one reproduction of an intermittent must be enough to see WHICH values
    shifted, not just that two md5s differ)."""
    from collections import Counter

    s_lines = _normalized_lines(s_rows, s_cols)
    d_lines = _normalized_lines(d_rows, d_cols)
    if s_lines == d_lines:
        return
    sc, dc = Counter(s_lines), Counter(d_lines)
    only_s = list((sc - dc).elements())
    only_d = list((dc - sc).elements())
    cols = "|".join(sorted(s_cols))
    raise AssertionError(
        f"value mismatch{context}: columns(sorted)={cols}\n"
        f"rows only in SPARK result ({len(only_s)}; first 10):\n  "
        + "\n  ".join(line.replace("\x1f", " | ") for line in only_s[:10])
        + f"\nrows only in ORACLE result ({len(only_d)}; first 10):\n  "
        + "\n  ".join(line.replace("\x1f", " | ") for line in only_d[:10]))


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, oracle_con):
    sdf = QUERIES[name](spark, SF_DIR)
    s_rows = [tuple(r) for r in sdf.collect()]
    if name not in ORACLES:
        # rows-only contract: the check IS that collect() completed;
        # non-emptiness at driver scale is the replica/driver's gate
        return
    rel = oracle_con.sql(ORACLES[name])
    d_rows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert len(s_rows) == len(d_rows)
    assert_rows_match(s_rows, sdf.columns, d_rows, rel.columns,
                      context=f" [{name}]")


def test_approx_percentiles_bounded(spark):
    """The approx_percentile scale path (no oracle) must land within 1%
    relative error of the exact-percentile twin on every group and
    quantile — the reference's reconciliation-tolerance pattern
    (`migration_validation/reconciliation.py:58-92`)."""
    from redshift_to_lakehouse_migration_spark.queries.analytics import (
        price_percentiles,
        price_percentiles_approx,
    )

    sf = "/root/testdata/sf0.01"
    exact = {r.return_flag: r for r in price_percentiles(spark, sf).collect()}
    approx = {r.return_flag: r
              for r in price_percentiles_approx(spark, sf).collect()}
    assert set(exact) == set(approx) and len(exact) > 0
    for flag, e in exact.items():
        a = approx[flag]
        assert a.n_lines == e.n_lines
        for col in ("median_qty", "price_q1", "price_q3", "price_p95"):
            ev, av = getattr(e, col), getattr(a, col)
            assert abs(av - ev) <= 0.01 * abs(ev), (flag, col, ev, av)


def test_hll_estimates_within_3x_configured_rsd_of_exact(spark):
    """HLL sketch estimates (no oracle) must land within 3x the sketch's
    configured relative standard deviation of the exact distinct count
    computed side-by-side in this test — rsd = 1.04/sqrt(2^lgConfigK)
    with Spark's default lgConfigK=12, so the bound is 3 x 1.625% =
    4.875% (the 99.7% confidence band), with a +-1 integer-rounding
    floor.  At sf0.01 the daily cardinalities (~150) sit in the sketch's
    sparse-exact regime, so the observed error is 0 and the bound is
    far from flaky while still failing on any silent estimator
    regression.  The merged-month row additionally proves sketch
    merge-correctness (hll_union_agg over the daily sketches vs a
    distinct over raw rows)."""
    from pyspark.sql import functions as F

    from redshift_to_lakehouse_migration_spark.queries.events import (
        events_daily_unique_users_hll,
    )
    from redshift_to_lakehouse_migration_spark.tables import load

    rsd = 1.04 / (2 ** 12) ** 0.5     # Spark default lgConfigK=12
    bound = 3 * rsd                   # 0.04875

    sf = "/root/testdata/sf0.01"
    rows = events_daily_unique_users_hll(spark, sf).collect()
    e = load(spark, sf, "events")
    # cast the twin's key to timestamp_ntz BEFORE collecting: the query
    # returns NTZ days (utc_ntz), while collecting an LTZ timestamp
    # converts through the driver's host timezone — on a non-UTC host
    # the dict keys would shift by the offset and every lookup KeyErrors
    exact_by_day = {
        r.day: r.exact for r in
        e.groupBy(F.date_trunc("day", "ts").cast("timestamp_ntz")
                  .alias("day"))
        .agg(F.countDistinct("user_id").alias("exact")).collect()}
    total = e.count()
    checked = 0
    for r in rows:
        if r.n_events == total:       # the merged month row
            exact = e.select("user_id").distinct().count()
        else:
            exact = exact_by_day[r.day]
        assert abs(r.approx_users - exact) <= max(1, bound * exact), (
            r, exact, bound)
        checked += 1
    assert checked == len(exact_by_day) + 1


def test_audit_anomalous_access_nonempty_parity(spark, tmp_path):
    """audit_anomalous_access returns ZERO rows at every driver SF (no
    principal exceeds 2x the mean in the uniform synthetic log), so its
    driver hash rows are vacuously green — the oracle's value columns
    (incl. the r4 BIGINT-pinned threshold) have never been compared on
    actual data. Exercise the pair on a synthetic log engineered to
    produce anomalies and hash-compare the non-empty results."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    base = datetime(2026, 3, 1, 12, 0, 0)
    rows = []
    # principal 1: 20 actions (anomalous); principals 2-5: 2 each.
    for i in range(20):
        rows.append((i, base + timedelta(hours=i), 1,
                     "read", 1.0, '{"k": %d}' % (i % 3)))
    for p in range(2, 6):
        for j in range(2):
            rows.append((100 * p + j, base + timedelta(hours=j), p,
                         "read", 1.0, '{"k": 1}'))
    table = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    })
    pq.write_table(table, tmp_path / "events.parquet")

    sdf = QUERIES["audit_anomalous_access"](spark, str(tmp_path))
    s_rows = [tuple(r) for r in sdf.collect()]
    assert len(s_rows) >= 1  # the whole point: a NON-vacuous comparison

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{tmp_path}/events.parquet'")
    rel = con.sql(ORACLES["audit_anomalous_access"])
    # driver-width contract: every column integral-width from DuckDB (the
    # r4 threshold pin). rel.types is static metadata — no execution —
    # and catches the HUGEINT regression directly, so the query runs
    # exactly once (the fetchall below).
    for col, t in zip(rel.columns, rel.types):
        assert str(t) in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT"), \
            (col, str(t))
    d_rows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert len(s_rows) == len(d_rows)
    assert_rows_match(s_rows, sdf.columns, d_rows, rel.columns,
                      context=" [audit_anomalous_access]")


def test_decimal_double_cast_parity_at_scale(spark):
    """DuckDB's direct DECIMAL→DOUBLE cast is off by one ulp on some
    values (found by the sf0.5 replica: 2 of agg_pricing_summary's 6
    sum_charge groups at ~1.4e10 — below the driver SFs the sums never
    reach the tripping magnitudes, which is why four rounds of sf0.01
    gates missed it), while Spark's cast is correctly rounded — so every
    oracle converts via CAST(CAST(x AS VARCHAR) AS DOUBLE)
    (`functions.d2d_sql`), whose string→double parse IS correctly
    rounded. Pin the three-way contract on the exact values that tripped
    the replica: Python float(Decimal) is the correctly-rounded referee;
    Spark's direct cast and the oracle's d2d_sql route must both match
    it bit-for-bit. (decimal literals — exact on every path.)"""
    from redshift_to_lakehouse_migration_spark.functions import d2d_sql

    vals = ["14059786862.086451", "14085844849.391201",  # divergent
            "14074817504.332457", "13992822269.049598"]  # control
    con = duckdb.connect()
    for v in vals:
        correct = float(Decimal(v))
        s = spark.sql(
            f"SELECT CAST(CAST('{v}' AS DECIMAL(38,6)) AS DOUBLE) AS x"
        ).collect()[0].x
        assert s == correct, (v, s, correct)
        lit = f"CAST('{v}' AS DECIMAL(38,6))"
        d = con.sql(f"SELECT {d2d_sql(lit)} AS x").fetchone()[0]
        assert d == correct, (v, d, correct)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_dtype_width_parity(name, spark, oracle_con):
    """The DRIVER's canonicalizer is width-sensitive where this replica's
    string normalization is not: DuckDB widening SUM(BIGINT)/`//` to
    HUGEINT lands as float64/object in pandas and flips the driver hash
    even when values are identical (five r3 red rows were exactly this).
    Guard the class: every column Spark types as integral must come back
    from DuckDB as an integer pandas dtype, and no oracle may emit a list
    column (the driver canonicalizer crashes on unhashable cells)."""
    ddf = oracle_con.execute(ORACLES[name]).df()
    stypes = {f.name: f.dataType.simpleString()
              for f in QUERIES[name](spark, SF_DIR).schema.fields}
    integral = {"tinyint", "smallint", "int", "bigint"}
    int_dtypes = {"int8", "int16", "int32", "int64",
                  "uint8", "uint16", "uint32", "uint64"}
    for col, dt in ddf.dtypes.astype(str).items():
        st = stypes.get(col)
        if st in integral:
            assert dt in int_dtypes, (
                f"{name}.{col}: Spark {st} vs DuckDB pandas {dt} — "
                f"pin the oracle with CAST(... AS BIGINT)")
        if st is not None:
            assert not st.startswith("array"), (
                f"{name}.{col}: array column reaches the driver "
                f"canonicalizer — emit a delimited string instead")


# r10 root cause of the r9 full-suite flake: an oracle windowing over a
# NON-total ORDER BY (events_sessionized's `ORDER BY ts`) computed is_new
# in one window pass and cumulatively summed it in another, and DuckDB's
# parallel window execution need not give both passes the same TIE order
# — measured: 2 distinct result sets in 60 runs of the identical SQL on
# the seed-20260817 hostile DB (the Spark side was correct both times;
# see queries/events.py oracle comment). Static tripwire below: every
# tie-SENSITIVE ordering in every oracle must include a unique-key column
# so the ordering is total. Covered orderings (r11, VERDICT r10 #2):
#   1. OVER (...) / WINDOW ... AS (...) clauses — ROWS-framed or plain;
#      RANGE frames and partition-only windows are tie-insensitive and
#      exempt (word-boundary \bRANGE\b so a column named ts_range does
#      NOT exempt its window — ADVICE r10);
#   2. in-AGGREGATE ORDER BY — list/array_agg/string_agg/group_concat/
#      first/last/arg_min/arg_max(... ORDER BY ...) are the same
#      nondeterminism class: a parallel aggregate may feed tied rows in
#      either order, so the concatenated/picked value flips.
# Unique-key matches are word-bounded too (event_id_bucket does not
# satisfy an event_id tiebreaker).
_TIE_UNIQUE_KEYS = ("event_id", "o_orderkey", "doc_id", "vec_id",
                    "neighbor_id", "centroid_id", "query_id", "claim_id",
                    "premium_id", "policy_id", "c_custkey", "date_key")
_TIE_AGG_FNS = ("list", "array_agg", "string_agg", "group_concat",
                "listagg", "first", "last", "arg_min", "arg_max",
                "min_by", "max_by")


def _balanced_paren_bodies(sql, open_re):
    """Bodies of every balanced ``(...)`` opened by a match of open_re
    (a regex ending at the opening paren)."""
    import re

    out = []
    for m in re.finditer(open_re, sql, re.I):
        i, depth = m.end(), 1
        while depth and i < len(sql):
            depth += {"(": 1, ")": -1}.get(sql[i], 0)
            i += 1
        out.append(sql[m.end():i - 1])
    return out


def _tie_unsafe_sites(sql):
    """Tie-sensitive orderings in ``sql`` lacking a unique-key tiebreaker.
    Returns a list of offending clause snippets (empty = tie-safe)."""
    import re

    def total(order_expr):
        return any(re.search(r"\b" + re.escape(k) + r"\b", order_expr, re.I)
                   for k in _TIE_UNIQUE_KEYS)

    bad = []
    # 1. window clauses
    for cl in _balanced_paren_bodies(sql, r"(?:OVER|WINDOW\s+\w+\s+AS)\s*\("):
        ob = re.search(r"ORDER\s+BY(.*?)(?:\bROWS\b|\bRANGE\b|$)",
                       cl, re.I | re.S)
        if not ob or re.search(r"\bRANGE\b", cl, re.I):
            continue
        if not total(ob.group(1)):
            bad.append("OVER: " + " ".join(cl.split())[:90])
    # 2. order-dependent aggregates. Nested ORDER BY belonging to an inner
    # window (e.g. first(x) OVER (ORDER BY ...)) is handled by pass 1; an
    # aggregate body containing OVER is skipped here to avoid double count.
    agg_open = r"\b(?:" + "|".join(_TIE_AGG_FNS) + r")\s*\("
    for body in _balanced_paren_bodies(sql, agg_open):
        if re.search(r"\bOVER\b", body, re.I):
            continue
        ob = re.search(r"ORDER\s+BY(.*)$", body, re.I | re.S)
        if ob and not total(ob.group(1)):
            bad.append("AGG: " + " ".join(body.split())[:90])
    return bad


def test_oracle_orderings_are_tie_safe():
    """Static lint over ALL registered oracles: no tie-sensitive ordering
    (window OR in-aggregate) without a unique-key tiebreaker."""
    from redshift_to_lakehouse_migration_spark.queries import ORACLES

    flagged = [(name, site) for name, sql in ORACLES.items()
               for site in _tie_unsafe_sites(sql)]
    assert not flagged, (
        "oracle ordering without a unique-key tiebreaker — with tied sort "
        "keys DuckDB's parallel execution may feed rows in either order "
        f"and the oracle itself becomes nondeterministic: {flagged}")


def test_tie_safety_lint_detects_the_flake_classes():
    """The lint itself must flag each known nondeterminism class and not
    be fooled by the ADVICE r10 substring traps."""
    # the literal r9 flake shape: two passes over a non-total ordering
    assert _tie_unsafe_sites(
        "SELECT SUM(is_new) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) "
        "FROM t")
    # in-aggregate ordering without tiebreaker (VERDICT r10 #2 synthetic)
    assert _tie_unsafe_sites("SELECT string_agg(x, ',' ORDER BY ts) FROM t")
    assert _tie_unsafe_sites("SELECT list(x ORDER BY ts) FROM t")
    # fixed forms pass
    assert not _tie_unsafe_sites(
        "SELECT string_agg(x, ',' ORDER BY ts, event_id) FROM t")
    assert not _tie_unsafe_sites(
        "SELECT lag(x) OVER (ORDER BY ts, event_id) FROM t")
    # RANGE frames are tie-insensitive and exempt...
    assert not _tie_unsafe_sites(
        "SELECT SUM(x) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR "
        "PRECEDING AND CURRENT ROW) FROM t")
    # ...but a column merely NAMED ts_range must not exempt its window
    # (ADVICE r10: substring RANGE trap)
    assert _tie_unsafe_sites(
        "SELECT lag(x) OVER (ORDER BY ts_range) FROM t")
    # a non-unique column embedding a key name must not satisfy the
    # tiebreaker (ADVICE r10: event_id_bucket trap)
    assert _tie_unsafe_sites(
        "SELECT lag(x) OVER (ORDER BY ts, event_id_bucket) FROM t")
    # partition-only windows (no ORDER BY) are exempt
    assert not _tie_unsafe_sites(
        "SELECT SUM(x) OVER (PARTITION BY grp) FROM t")
    # unordered aggregates are exempt; order-independent args don't flag
    assert not _tie_unsafe_sites("SELECT list(x) FROM t")
    # aggregate-named window call defers to the window pass (no double flag)
    assert _tie_unsafe_sites(
        "SELECT first(x) OVER (ORDER BY ts) FROM t") == [
        "OVER: ORDER BY ts"]
