"""Local mimic of the driver's correctness gate.

For every entry in queries(): run the Spark query at the given sf dir AND the
DuckDB oracle on the same parquet files, then compare row count, column names,
and order-insensitive values. Prints one line per query + a JSON summary.

Each line gives the Spark seconds (query plus collect) and the DuckDB seconds
(oracle plus fetch) separately.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # collapse -0.0 / 0.0 and format stably
        if v == 0:
            v = 0.0
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out


def default_driver_mem() -> str:
    """Driver heap default: 40% of physical memory, at least 1g.

    sf0.1 stress runs collect ~10^6-row results, so the 1g Spark default
    OOMs; a heap the size of RAM (16g on a 16 GB host) lets the OS kill the
    JVM mid-run instead. The sf0.01 run peaks at ~4.7 GB RSS with a 6g heap.
    """
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, int(total * 0.4) >> 30)}g"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    from entityresolution_capstone_spark.session import get_spark

    spark = get_spark(
        app_name="check-correctness",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            # effective only when this process starts the JVM
            "spark.driver.memory": os.environ.get(
                "ERCS_CHECK_DRIVER_MEM", default_driver_mem()
            ),
        },
    )

    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
            )
        except Exception:
            pass

    summary = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"{name:24s} SPARK-ERROR {type(e).__name__}: {str(e)[:160]}")
            summary[name] = "spark_error"
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"{name:24s} rows-only  n={len(s_rows)}  (spark {spark_s:.1f}s)")
            summary[name] = f"rows_only:{len(s_rows)}"
            continue
        t0 = time.time()
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"{name:24s} DUCK-ERROR {type(e).__name__}: {str(e)[:160]}")
            summary[name] = "duck_error"
            continue
        duck_s = time.time() - t0
        secs = f"(spark {spark_s:.1f}s, duckdb {duck_s:.1f}s)"
        sc, sr = norm_rows(s_cols, s_rows)
        dc, dr = norm_rows(d_cols, d_rows)
        status = []
        if sc != dc:
            status.append(f"SCHEMA spark={sc} duck={dc}")
        if len(sr) != len(dr):
            status.append(f"COUNT spark={len(sr)} duck={len(dr)}")
        if not status and sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            status.append(f"VALUES {len([1 for a,b in zip(sr,dr) if a!=b])} rows differ, e.g. {diffs}")
        if status:
            print(f"{name:24s} MISMATCH  {' | '.join(status)}  {secs}")
            summary[name] = "mismatch"
        else:
            print(f"{name:24s} OK  n={len(sr)}  {secs}")
            summary[name] = f"ok:{len(sr)}"
    _frontier_cache_audit(spark)
    print(json.dumps(summary))
    spark.stop()


def _frontier_cache_audit(spark):
    """The ER queries read the stage tables of one ``Pipeline.run`` per
    (application, sf_dir) key (driver_queries._FRONTIER_CACHE); assert the
    keys stayed bounded and report the tables' bytes on disk and the
    session's persistent RDDs (docs/SCALE.md 'Driver-gate frontier cache')."""
    try:
        from entityresolution_capstone_spark.plans import driver_queries as DQ

        n_keys = len(DQ._FRONTIER_CACHE)
        # one (applicationId, sf_dir) key per gate run; more means queries
        # are being run against unexpected sf dirs and the cache will grow
        assert n_keys <= 2, (
            f"frontier cache grew to {n_keys} (app, sf_dir) keys — bounded "
            "design assumes one sf per gate run"
        )
        disk = sum(
            os.path.getsize(os.path.join(root, f))
            for st in DQ._FRONTIER_CACHE.values()
            for root, _, files in os.walk(st["base_dir"])
            for f in files
        )
        n_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
        print(
            f"frontier-cache audit: {n_keys} key(s), stage tables "
            f"{disk/1e6:.1f} MB on disk, {n_rdds} persistent RDDs"
        )
    except AssertionError:
        raise
    except Exception as e:  # JVM introspection is best-effort
        print(f"frontier-cache audit skipped: {type(e).__name__}: {e}")


if __name__ == "__main__":
    main()
