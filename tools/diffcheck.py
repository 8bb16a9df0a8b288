"""Oracle differential of the query modules: run every query of every
``spark_shp/queries_*.py`` module in Spark and its oracle SQL in DuckDB on the
same sf dir; compare row count, column names, and order-insensitive value
multiset. The registry's queries (the ``__spark_entry__`` contract) come
first; the modules the registry does not merge are checked as well.

Usage: python tools/diffcheck.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import math
import pathlib
import sys
import time

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def oracle_connection(sf_dir: str):
    """DuckDB connection with one view per input table of ``sf_dir``."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def every_query() -> dict:
    """name -> (spark_fn, oracle_sql | None) over every ``queries_*`` module
    of spark_shp: the registry's queries first, in registry order, then the
    QUERIES of the modules the registry does not merge."""
    import importlib
    import pkgutil

    import spark_shp
    from spark_shp.registry import ALL_QUERIES

    merged = dict(ALL_QUERIES)
    for info in pkgutil.iter_modules(spark_shp.__path__):
        if not info.name.startswith("queries_"):
            continue
        mod = importlib.import_module(f"spark_shp.{info.name}")
        for name, entry in mod.QUERIES.items():
            if merged.setdefault(name, entry) is not entry:
                raise RuntimeError(f"duplicate query name: {name}")
    return merged


def compare(spark, con, sf_dir: str, fn, sql) -> tuple[str, str]:
    """One query's differential: run ``fn`` in Spark and its oracle ``sql``
    in DuckDB, compare column names, row count and the order-insensitive
    value multiset. Returns (status, detail), status one of "ok", "FAIL"
    and "rows" (no oracle)."""
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as ex:
        return "FAIL", f"spark error: {ex}"
    if sql is None:
        return "rows", f"{len(srows)} rows (no oracle)"
    try:
        rel = con.sql(sql)
        ocols = [c.lower() for c in rel.columns]
        orows = rel.fetchall()
    except Exception as ex:
        return "FAIL", f"duckdb error: {ex}"
    scols_l = [c.lower() for c in scols]
    problems = []
    if sorted(scols_l) != sorted(ocols):
        problems.append(f"cols {scols_l} vs {ocols}")
    if len(srows) != len(orows):
        problems.append(f"rowcount {len(srows)} vs {len(orows)}")
    if not problems:
        cs, co = canon(srows, scols_l), canon(orows, ocols)
        if cs != co:
            bad = next((i, a, b) for i, (a, b) in
                       enumerate(zip(cs, co)) if a != b)
            problems.append(f"values differ, first diff row "
                            f"{bad[0]}: {bad[1]} vs {bad[2]}")
    if problems:
        return "FAIL", "; ".join(problems)
    return "ok", f"{len(srows)} rows"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    # this checkout first, not whichever copy is installed
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
    from spark_shp.session import get_spark

    spark = get_spark(cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(sf_dir)

    qs = every_query()
    if filters:
        qs = {k: v for k, v in qs.items()
              if any(f in k for f in filters)}
    counts = {"ok": 0, "FAIL": 0, "rows": 0}
    for name, (fn, sql) in qs.items():
        t0 = time.time()
        status, detail = compare(spark, con, sf_dir, fn, sql)
        counts[status] += 1
        tail = "" if status == "FAIL" else f" [{time.time()-t0:.1f}s]"
        print(f"{status:<6}{name}: {detail}{tail}")
    print(f"\n{counts['ok']} ok, {counts['FAIL']} FAIL, "
          f"{counts['rows']} rows-only")
    spark.stop()
    return 1 if counts["FAIL"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
