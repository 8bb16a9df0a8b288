"""Type-parity audit between each query's Spark schema and its DuckDB
oracle's column types.

WHY: the driver's CORRECTNESS hash is type-aware, but tools/diffcheck.py
compares value multisets type-insensitively — which is exactly how the
conditional_pivot HUGEINT-vs-BIGINT mismatch survived two rounds with every
value equal. This audit catches that whole bug class statically: it runs
the oracle with LIMIT 0 semantics (DuckDB relation types), takes the Spark
DataFrame dtype (no job execution — plan only), maps both to a canonical
type vocabulary, and fails on any column whose canonical types differ.

Usage: python tools/typecheck_oracles.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import pathlib
import sys

# canonical vocabulary both engines map into
_DUCK = {
    "BOOLEAN": "bool",
    "TINYINT": "i8", "SMALLINT": "i16", "INTEGER": "i32", "BIGINT": "i64",
    "HUGEINT": "i128", "UTINYINT": "u8", "USMALLINT": "u16",
    "UINTEGER": "u32", "UBIGINT": "u64",
    "FLOAT": "f32", "DOUBLE": "f64",
    "VARCHAR": "str", "BLOB": "bytes",
    "DATE": "date", "TIMESTAMP": "ts", "TIMESTAMP WITH TIME ZONE": "ts",
    "TIME": "time", "INTERVAL": "interval",
}

_SPARK = {
    "boolean": "bool",
    "tinyint": "i8", "smallint": "i16", "int": "i32", "bigint": "i64",
    "float": "f32", "double": "f64",
    "string": "str", "binary": "bytes",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
}


def canon_duck(t: str) -> str:
    s = str(t).upper()
    if s.startswith("DECIMAL"):
        return f"dec({s})"
    if s.endswith("[]"):
        return f"list<{canon_duck(s[:-2])}>"
    return _DUCK.get(s, s.lower())


def canon_spark(t: str) -> str:
    s = t.lower()
    if s.startswith("decimal"):
        return f"dec({s.upper()})"
    if s.startswith("array<") and s.endswith(">"):
        return f"list<{canon_spark(s[6:-1])}>"
    return _SPARK.get(s, s)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    # this checkout first, not whichever copy is installed
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
    from spark_shp.session import get_spark
    from tools.diffcheck import every_query, oracle_connection

    spark = get_spark(cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(sf_dir)

    qs = every_query()
    if filters:
        qs = {k: v for k, v in qs.items() if any(f in k for f in filters)}
    ok = bad = skipped = 0
    for name, (fn, sql) in qs.items():
        if sql is None:
            skipped += 1
            continue
        try:
            sdf = fn(spark, sf_dir)
            stypes = {c.lower(): canon_spark(t) for c, t in sdf.dtypes}
            rel = con.sql(sql)
            otypes = {c.lower(): canon_duck(t)
                      for c, t in zip(rel.columns, rel.types)}
        except Exception as ex:
            print(f"FAIL  {name}: error building schemas: {ex}")
            bad += 1
            continue
        risky, benign = [], []
        for c in sorted(set(stypes) | set(otypes)):
            a, b = stypes.get(c, "<missing>"), otypes.get(c, "<missing>")
            if a == b:
                continue
            # signed int widths i8..i64 all surface as int64 through the
            # compare harness's pandas conversion — same hashed values
            # (r2 evidence: 9 i32-vs-i64 queries were hash-green). What
            # BREAKS the hash is a type whose pandas representation changes
            # the value: HUGEINT/DECIMAL -> float/object, FLOAT32 rounding,
            # unsigned widths, or a genuinely different family.
            ints = {"i8", "i16", "i32", "i64"}
            (benign if a in ints and b in ints else risky).append(
                f"{c}: spark={a} oracle={b}")
        if risky:
            print(f"TYPE-MISMATCH  {name}: " + "; ".join(risky))
            bad += 1
        else:
            if benign:
                print(f"note  {name} (benign int widths): "
                      + "; ".join(benign))
            ok += 1
    print(f"\n{ok} type-aligned, {bad} mismatched, {skipped} no-oracle")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
