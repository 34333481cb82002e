"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at the given sf dir, compare row
counts + column-name sets + value hashes (columns sorted by name, rows
sorted), PLUS an Arrow-level type comparison (the round-2 lang_id_ngram
driver-red was a DuckDB HUGEINT vs Spark BIGINT drift invisible to
stringified-value hashing — a type-sensitive driver hash legitimately
differs on equal values, so local green must include type parity)."""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

# this checkout's root, so a second checkout (an A/B) checks its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from soweego_spark.operators import pins  # noqa: E402
from soweego_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NULL"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def canon_type(t):
    """Canonical label for an Arrow type: engines that agree on values
    may still disagree on representation the driver treats as equal
    (string vs large_string, list vs large_list); everything else —
    notably int width (int64 vs DuckDB's int128 HUGEINT sums), decimal
    vs float — stays distinct because a typed hash distinguishes them."""
    import pyarrow as pa

    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "str"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "bin"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{canon_type(t.key_type)},{canon_type(t.item_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{canon_type(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    return str(t)


def type_mismatches(s_schema, d_schema):
    """Per-column canonical-type diffs between two Arrow schemas."""
    s_map = {f.name: canon_type(f.type) for f in s_schema}
    d_map = {f.name: canon_type(f.type) for f in d_schema}
    return [
        f"{n}: spark={s_map[n]} duck={d_map[n]}"
        for n in sorted(set(s_map) & set(d_map))
        if s_map[n] != d_map[n]
    ]


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    # data-dependent oracle generators (embedding_ivf_topk replays its
    # k-means fit on the parquet under test) key off this; the driver's
    # gate runs at the default sf0.01
    os.environ["SOWEEGO_ORACLE_SF_DIR"] = SF_DIR
    spark = get_spark(cpus=8, app_name="oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        with pins.scope():  # one query's pins never outlive it
            df = fn(spark, SF_DIR)
            pdf = df.toPandas()
        s_cols = list(pdf.columns)
        s_rows = [tuple(r) for r in pdf.itertuples(index=False)]
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(s_rows)} rows")
            continue
        from pyspark.sql.pandas.types import to_arrow_schema

        s_schema = to_arrow_schema(df.schema)
        d_tbl = con.execute(oracles[name]).arrow()
        d_cols = d_tbl.column_names
        d_rows = list(zip(*(c.to_pylist() for c in d_tbl.columns)))
        if not d_cols:
            d_rows = []
        ok_cols = sorted(s_cols) == sorted(d_cols)
        ok_rows = len(s_rows) == len(d_rows)
        ok_hash = ok_cols and frame_hash(s_cols, s_rows) == frame_hash(
            d_cols, d_rows
        )
        ty_diffs = type_mismatches(s_schema, d_tbl.schema) if ok_cols else []
        ok_types = not ty_diffs
        status = (
            "OK" if (ok_cols and ok_rows and ok_hash and ok_types) else "FAIL"
        )
        if status == "FAIL":
            failed.append(name)
        print(
            f"{name:28s} {status} cols={ok_cols} "
            f"rows={len(s_rows)}/{len(d_rows)} hash={ok_hash} "
            f"types={ok_types}"
        )
        if ty_diffs:
            print("  type drift:", "; ".join(ty_diffs))
        if status == "FAIL" and ok_cols and not ok_hash:
            order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
            s_set = {tuple(norm_cell(r[i]) for i in order) for r in s_rows}
            dorder = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
            d_set = {tuple(norm_cell(r[i]) for i in dorder) for r in d_rows}
            print("  spark-only:", list(s_set - d_set)[:3])
            print("  duck-only :", list(d_set - s_set)[:3])
    print("FAILED:", failed if failed else "none")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
