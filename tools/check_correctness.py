"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every registered query at a given sf_dir on Spark AND its oracle SQL on
DuckDB, then compares row count, sorted column names, and an order-insensitive
value hash. Queries without an oracle get a rows-only check (non-empty).

The cell normalization is TYPE-TAGGED and separator-escaped: a query
regressing from SQL NULL to the string 'NULL', from DATE to its string
form, or emitting a value containing the field separator must flip the
hash, not silently collide into a false PASS. Both engines return the
same Python classes for every column type the surface uses (date,
datetime, Decimal, bool, int, float, str, bytes, list), so tagging is
parity-neutral — asserted by the full suite staying green.

Usage: python tools/check_correctness.py [--vanilla] [--conf k=v ...]
       [sf_dir] [query ...]
  --vanilla: bare SparkSession (no engine confs), mirroring the external
  driver's own session — catches engine-conf-dependent results.
  --conf k=v: extra Spark conf overlaid on the session — the
  plan/semantics-invariance axes (spark.sql.ansi.enabled=false,
  spark.sql.caseSensitive=true, AQE/codegen/broadcast toggles) all run
  through this one flag, repeatable.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# --vanilla: run under a bare SparkSession (no engine confs) — the
# external driver builds its OWN session, so a query whose result
# depended on any engine conf would pass the default replica yet fail
# the driver; this flag is the parity check (r6: 98/98).
_raw = sys.argv[1:]
VANILLA = "--vanilla" in _raw
EXTRA_CONF: dict[str, str] = {}
_args: list[str] = []
_i = 0
while _i < len(_raw):
    a = _raw[_i]
    if a == "--vanilla":
        pass
    elif a == "--conf":
        _i += 1
        if _i >= len(_raw) or "=" not in _raw[_i]:
            print("ERROR: --conf requires k=v")
            raise SystemExit(2)
        k, _, v = _raw[_i].partition("=")
        EXTRA_CONF[k] = v
    else:
        _args.append(a)
    _i += 1
SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
ONLY = set(_args[1:])


def norm_cell(v):
    """Normalize a cell to a canonical TYPE-TAGGED string: two values
    compare equal only when both class-category and content match."""
    if v is None:
        return "\x00N"
    if isinstance(v, bool):
        return "\x00b:true" if v else "\x00b:false"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00f:NaN"
        return "\x00f:" + repr(v)
    if isinstance(v, int):
        return "\x00i:" + str(v)
    if isinstance(v, Decimal):
        return "\x00d:" + str(v)
    if isinstance(v, datetime):
        return "\x00ts:" + v.isoformat(sep=" ")
    if isinstance(v, date):
        return "\x00dt:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        # length-prefix elements so ['a,b'] can never equal ['a','b']
        return "\x00L:" + "|".join(
            f"{len(e)}#{e}" for e in (norm_cell(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return "\x00x:" + v.hex()
    # strings: escape the field separator so a \x1f inside a value cannot
    # shift the cell boundary
    return "\x00s:" + str(v).replace("\x1f", "\x1f\x1f")


def row_keys(rows, colnames):
    """Canonical sorted row strings (ONE definition — the hash and the
    mismatch diagnostic must agree on what was compared)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows)


def value_hash(rows, colnames):
    return hashlib.md5(
        "\n".join(hashlib.md5(k.encode()).hexdigest()
                  for k in row_keys(rows, colnames)).encode()).hexdigest()


def main():
    from redshift_to_lakehouse_migration_spark.queries import ORACLES, QUERIES
    from redshift_to_lakehouse_migration_spark.session import get_spark
    from redshift_to_lakehouse_migration_spark.tables import TABLES

    unknown = ONLY - set(QUERIES)
    if unknown:
        # a typo must not select zero queries and exit green
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2

    if VANILLA:
        from pyspark.sql import SparkSession
        builder = (SparkSession.builder.master("local[32]")
                   .appName("check_correctness_vanilla"))
        for k, v in EXTRA_CONF.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    else:
        spark = get_spark("check_correctness", extra_conf=EXTRA_CONF)
    if EXTRA_CONF:
        # Pin the axis keys against tables.load -> tune_for_session,
        # which would otherwise spark.conf.set() every runtime-settable
        # engine default straight back before the first query runs —
        # the sweep would then false-PASS without testing its axis.
        spark.conf.set("spark.graft.confPinned", ",".join(EXTRA_CONF))
        for k, v in EXTRA_CONF.items():
            try:
                spark.conf.set(k, v)
            except Exception:
                # static conf: runtime set is refused, but the builder
                # already applied it and this tool always launches a
                # fresh JVM, so the axis did take effect
                print(f"note: {k} is builder-time only (applied at launch)")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    names = [n for n in QUERIES if not ONLY or n in ONLY]
    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        if name not in ORACLES:
            # rows-only contract still has a bar: a no-oracle query that
            # regresses to empty output must fail loudly here.  No driver
            # collect (at generated large scale points a full-result
            # collect is exactly the maxResultSize/OOM class the sf4 run
            # died on) — but not bare count() either: Catalyst prunes
            # unreferenced output projections under count(), so an
            # expression that crashes only when evaluated (e.g. an ANSI
            # cast in an output column) would sail through the
            # 'spark error -> FAIL' gate (ADVICE r7).  The noop sink
            # converts every output column to InternalRow, forcing full
            # expression evaluation with zero driver memory; count()
            # afterwards is then a cheap row-cardinality read.
            try:
                df = QUERIES[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                n_rows = df.count()
            except Exception as e:
                print(f"FAIL {name}: spark error: {e}")
                n_fail += 1
                continue
            if n_rows:
                print(f"ROWS {name}: {n_rows} rows (no oracle) "
                      f"[{time.time()-t0:.1f}s]")
                n_pass += 1
            else:
                print(f"FAIL {name}: 0 rows (no oracle; rows-only check "
                      f"requires non-empty output)")
                n_fail += 1
            continue
        try:
            sdf = QUERIES[name](spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        try:
            rel = con.sql(ORACLES[name])
            d_cols = rel.columns
            d_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        if not problems:
            if value_hash(s_rows, s_cols) != value_hash(d_rows, d_cols):
                problems.append("value-hash mismatch")
                ss, dd = row_keys(s_rows, s_cols), row_keys(d_rows, d_cols)
                for a, b in zip(ss, dd):
                    if a != b:
                        problems.append(f"  spark : {a[:300]!r}")
                        problems.append(f"  duckdb: {b[:300]!r}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
            n_fail += 1
        else:
            print(f"PASS {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    axis_drift = []
    for k, v in EXTRA_CONF.items():
        try:
            live = spark.conf.get(k)
        except Exception:
            continue  # builder-time-only conf: not runtime-readable
        if live != v:
            axis_drift.append(f"{k}={live!r} (wanted {v!r})")
    if axis_drift:
        # the sweep ran, but not on the axis it advertised — that is a
        # FAIL of the run itself, not of any query
        print("FAIL axis drift: " + "; ".join(axis_drift))
        n_fail += 1
    elif EXTRA_CONF:
        print("axis held: " + ",".join(f"{k}={v}"
                                       for k, v in EXTRA_CONF.items()))
    print(f"\n{n_pass} pass, {n_fail} fail / {len(names)} queries @ {SF_DIR}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
