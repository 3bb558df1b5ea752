"""Local mimic of the driver's correctness gate: run every
__spark_entry__.queries() entry against its oracle_sql() twin in DuckDB
at sf0.01 and compare row count + schema + order-insensitive values.

Usage: python tools/check_oracles.py [query ...]

ORACLE_SF_DIR overrides the data dir (default sf0.01 — what the driver
uses). Running at sf0.1 is a scale-robustness check the driver never
performs; the expected-parquet oracles (rolling_fingerprint,
dedup_simhash, multimodal_image_dhash/_near_dup, the two ANN candidate
twins, and the KMV user-hash twin) are pinned to sf0.01 input and are
skipped automatically on any other dir.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Spark's Python workers import the package too: give them this tree
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (REPO, os.environ.get("PYTHONPATH"))))

TESTDATA = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: None if v is None else str(v)
            )
        elif "float" in str(df[c].dtype):
            df[c] = df[c].map(
                lambda v: None if v is None or (isinstance(v, float) and math.isnan(v))
                else f"{v:.9g}"
            )
        else:
            df[c] = df[c].astype(str).where(df[c].notna(), None)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> None:
    import __spark_entry__ as entry_mod
    from v2_ocr_spark.session import get_spark

    only = set(sys.argv[1:])
    # a typo'd name in a hand-typed chunk list must FAIL, not silently
    # verify nothing ('0/0 OK', exit 0 — a dropped query ships green)
    unknown = only - set(entry_mod.queries())
    if unknown:
        raise SystemExit(f"unknown query names: {sorted(unknown)}")
    spark = get_spark(app_name="oracle-check", master="local[8]",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{TESTDATA}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results = []

    def report(item):
        results.append(item)
        print(f"{item[1]:18s} {item[0]:28s} {item[2]}", flush=True)

    for name, fn in qs.items():
        if only and name not in only:
            continue
        sf_name = TESTDATA.rstrip("/").rsplit("/", 1)[-1]
        if sf_name != "sf0.01":
            # fixture/oracle paths follow V2OCR_DATA_DIR, not a literal
            # /root/repo/data — build both prefixes from REPO_DATA so an
            # overridden data dir still skips/retargets correctly.
            if f"{entry_mod.REPO_DATA}/oracle" in oracles.get(name, ""):
                report(
                    (name, "SKIP", "expected-parquet oracle pinned to sf0.01")
                )
                continue
            # transcripts-fixture oracles hardcode the repo fixture dir
            # (the driver's DuckDB session only registers testdata
            # views); retarget them to the matching fixture scale.
            if name in oracles:
                oracles[name] = oracles[name].replace(
                    f"{entry_mod.REPO_DATA}/sf0.01/",
                    f"{entry_mod.REPO_DATA}/{sf_name}/",
                )
        t0 = time.time()
        try:
            df = fn(spark, TESTDATA)
            # the driver canonicalizes EVERY query's output by sorting
            # all columns, and its pandas sort rejects non-scalar cells
            # (r3: rolling_fingerprint's array<long> hard-errored the
            # driver while this mimic passed it). Checking the SPARK
            # schema is the only reliable mimic: canon() here
            # stringifies object cells first, so calling it would NOT
            # reproduce the driver's failure.
            from pyspark.sql.types import ArrayType, MapType, StructType

            complex_cols = [
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            if complex_cols:
                report(
                    (name, "NON-SCALAR-SCHEMA",
                     f"driver canon cannot sort {complex_cols} — project "
                     "to scalars (digest/concat_ws) at the query surface")
                )
                continue
            got = df.toPandas()
        except Exception as exc:  # noqa: BLE001
            report((name, "SPARK-ERROR", f"{type(exc).__name__}: {exc}"))
            continue
        if name not in oracles:
            report(
                (name, "ROWS-ONLY", f"{len(got)} rows, {time.time()-t0:.1f}s")
            )
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            report((name, "ORACLE-ERROR", f"{type(exc).__name__}: {exc}"))
            continue
        if len(got) != len(exp):
            report(
                (name, "ROWCOUNT-MISMATCH", f"spark={len(got)} duckdb={len(exp)}")
            )
            continue
        if sorted(got.columns) != sorted(exp.columns):
            report(
                (name, "SCHEMA-MISMATCH",
                 f"spark={sorted(got.columns)} duckdb={sorted(exp.columns)}")
            )
            continue
        cg, ce = canon(got), canon(exp)
        if cg.equals(ce):
            report((name, "OK", f"{len(got)} rows, {time.time()-t0:.1f}s"))
        else:
            neq = (cg != ce) & ~(cg.isna() & ce.isna())
            bad_rows = neq.any(axis=1)
            idx = list(cg.index[bad_rows])[:3]
            detail = []
            for i in idx:
                for c in cg.columns:
                    if neq.at[i, c]:
                        detail.append(
                            f"row{i}.{c}: spark={cg.at[i, c]!r} "
                            f"duckdb={ce.at[i, c]!r}"
                        )
            report(
                (name, "VALUE-MISMATCH",
                 f"{int(bad_rows.sum())}/{len(cg)} rows differ; " + "; ".join(detail[:4]))
            )

    spark.stop()
    n_ok = sum(1 for r in results if r[1] in ("OK", "ROWS-ONLY", "SKIP"))
    print(f"\n{n_ok}/{len(results)} OK")
    if n_ok < len(results):
        sys.exit(1)


if __name__ == "__main__":
    main()
