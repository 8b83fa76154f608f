#!/usr/bin/env python
"""Local replica of the driver's correctness gate, emitting an auditable
artifact.

The driver evaluates only the first 50 registered queries alphabetically;
this script runs ALL of them — every Spark builder against its DuckDB
oracle at the driver's scale (sf0.01 by default) — and writes per-query
``{rows_match, schema_match, hash_match, spark_rows, oracle_rows, err}``
to ``CORRECTNESS_local_r{N}.json`` in the repo root, in the same shape as
the driver's ``CORRECTNESS_r{N}.json``, so every operator has committed
correctness evidence (the moral equivalent of the reference's pg_regress
golden corpus, /root/reference/sql/*.sql).

Usage::

    python scripts/local_gate.py --round 3 [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def canon(value):
    """Canonicalize a cell for order-insensitive, engine-neutral compare."""
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return repr(value)
    if isinstance(value, bool):
        return "b:%s" % value
    if isinstance(value, list):
        return "[%s]" % ",".join(str(canon(v)) for v in value)
    if isinstance(value, dict):
        return "{%s}" % ",".join(
            f"{k}={canon(v)}" for k, v in sorted(value.items()))
    if hasattr(value, "asDict"):  # pyspark Row (struct cell)
        return canon(value.asDict())
    return str(value)


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Hash the result the way the driver does: columns sorted by NAME,
    rows as an order-insensitive multiset of canonicalized values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    canon_rows = sorted(
        "|".join(str(canon(row[i])) for i in order) for row in rows)
    h = hashlib.md5()
    h.update("\x1f".join(c.lower() for c in sorted(cols, key=str.lower))
             .encode())
    for r in canon_rows:
        h.update(b"\x1e")
        h.update(r.encode())
    return h.hexdigest()


def compare(spark, duck, spec, sf_dir: str) -> dict:
    """Run ``spec``'s Spark builder over ``sf_dir`` and its DuckDB oracle
    on ``duck`` (views over the same files), and compare them the way the
    driver does. An exception is recorded in ``err``, not raised."""
    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": None, "oracle_rows": None, "err": None}
    try:
        sdf = spec.builder(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        rec["spark_rows"] = len(srows)
        dres = duck.sql(spec.oracle)
        dcols = dres.columns
        drows = dres.fetchall()
        rec["oracle_rows"] = len(drows)
        rec["rows_match"] = len(srows) == len(drows)
        rec["schema_match"] = (sorted(c.lower() for c in scols)
                               == sorted(c.lower() for c in dcols))
        rec["hash_match"] = (result_hash(scols, srows)
                             == result_hash(dcols, drows))
    except Exception as exc:  # noqa: BLE001 — recorded, not raised
        rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*", help="subset of query names")
    args = ap.parse_args()

    import duckdb

    from cstore_fdw_spark.datasets import TABLES
    from cstore_fdw_spark.operators import clear_caches, load_all
    from cstore_fdw_spark.session import get_spark

    registry = load_all()
    spark = get_spark(app_name="local-gate")
    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                 f"'{args.sf_dir}/{t}.parquet'")

    names = args.only or sorted(registry)
    out: dict[str, dict] = {}
    t0 = time.time()
    fails = []
    for i, name in enumerate(names, 1):
        clear_caches(spark)  # previous query's caches die before the next
        rec = compare(spark, duck, registry[name], args.sf_dir)
        out[name] = rec
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        if not ok:
            fails.append(name)
        print(f"[{i:3}/{len(names)}] {'ok  ' if ok else 'FAIL'} {name}",
              flush=True)

    clear_caches(spark)
    residual = dict(spark.sparkContext._jsc.getPersistentRDDs().items())
    print(f"persistent RDDs after sweep+clear: {len(residual)}")

    suffix = "" if not args.only else ".partial"
    path = os.path.join(
        REPO, f"CORRECTNESS_local_r{args.round:02d}.json{suffix}")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    n_ok = len(names) - len(fails)
    print(f"\n{n_ok}/{len(names)} green in {time.time() - t0:.0f}s -> {path}")
    if fails:
        print("FAILURES:", ", ".join(fails))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
