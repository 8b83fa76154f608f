#!/usr/bin/env python
"""Correctness sweep at SCALE-SWEEP data sizes (testdata_scale/g*).

The sf0.01 oracle gate proves semantics; this sweep re-proves them at
10x-30x that scale, where three real r13 bugs (decimal double-rounding
past 2^53, DECIMAL(18,6) sum-of-squares overflow, a GC-bound join loop)
first became visible. Two comparison modes:

* collect mode (default): the local gate's exact driver-shaped compare —
  both engines' full results collected, columns sorted by name, rows an
  order-insensitive multiset of canonicalized values, md5-hashed.
* checksum mode (``--checksum name``): for queries whose OUTPUT is too
  large to collect (dedup_simhash emits ~126 M integer rows at g3.0),
  both engines instead compute COUNT(*) plus two order-insensitive
  modular polynomial checksums over the integer columns IN-ENGINE — the
  identical SQL expression text is evaluated by Spark and DuckDB, so a
  match still certifies the full multiset (up to the 2^31 modulus) with
  zero driver memory. Only valid for all-integer outputs.

Usage::

    python scripts/scale_correctness.py --g-dir testdata_scale/g3.0 \
        --out CORRECTNESS_scale_r14.json --queries q1_pricing_summary ... \
        [--checksum dedup_simhash]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from local_gate import compare  # noqa: E402

#: order-insensitive multiset checksum over integer columns: per row
#: fold cols (sorted by name) through acc = (acc*1000003 + col) mod P,
#: then SUM(v) and SUM(v*v mod P) over rows. P = 2^31-1 keeps every
#: intermediate inside exact SIGNED int64 in BOTH engines (no overflow,
#: no HUGEINT promotion difference): acc < P, acc*1000003 < 2^51, and
#: SUM of per-row values < P ~ 2^31 stays under the signed 2^63 bound
#: up to ~2^32 rows (~4 B-row headroom; current sweeps are ~2^27).
P = 2_147_483_647


def _cap_duck(conn):
    """Apply optional resource caps to a DuckDB connection.

    ``SCALE_DUCKDB_MEMORY_LIMIT`` (e.g. ``48GB``) and
    ``SCALE_DUCKDB_THREADS`` (e.g. ``16``) bound the oracle so a long
    sharded g10 run can share the host with concurrent Spark work
    instead of DuckDB's default 80%-of-RAM limit starving it. No
    effect when the env vars are unset (the committed sweeps' default).
    """
    mem = os.environ.get("SCALE_DUCKDB_MEMORY_LIMIT")
    if mem:
        conn.sql(f"SET memory_limit='{mem}'")
        # spill beyond the cap instead of failing the shard
        conn.sql("SET temp_directory='/tmp/duckdb_scale_spill'")
    thr = os.environ.get("SCALE_DUCKDB_THREADS")
    if thr:
        conn.sql(f"SET threads={int(thr)}")
    return conn


def _poly_expr(cols: list[str]) -> str:
    acc = "0"
    for c in sorted(cols, key=str.lower):
        # CAST each column to BIGINT BEFORE the modular fold: narrow
        # (INT32) columns would otherwise evaluate `(c % P) + P` in
        # 32-bit — a hard overflow error in DuckDB and a silent wrap in
        # Spark (ANSI off)
        acc = (f"(({acc}) * 1000003 + "
               f"((CAST({c} AS BIGINT) % {P}) + {P}) % {P}) % {P}")
    return acc


def checksum_compare(spark, duck, spec) -> dict:
    sdf = spec.builder(spark, args.g_dir)
    int_types = ("tinyint", "smallint", "int", "bigint")
    int_project = spec.name in (args.int_project or [])
    if int_project:
        # --int-project: checksum only the integer columns (same-named
        # projection wraps the oracle too). Honest for outputs whose
        # non-integer columns are pure functions of the integer ones
        # (e.g. a jaccard derived from n_common/size_a/size_b): the
        # integer multiset pins the pair set; recorded in the artifact.
        keep = [f.name for f in sdf.schema.fields
                if f.dataType.simpleString() in int_types]
        if not keep:
            # ValueError, not SystemExit: the per-query try/except in
            # main() catches Exception and records the error in the
            # artifact — a SystemExit would abort the whole sweep
            raise ValueError(
                f"--int-project kept no columns for {spec!r}")
        sdf = sdf.select(*keep)
    # the modular fold is only exact over integer payloads — a silent
    # BIGINT cast of a float/string column would checksum garbage that
    # might even "match" by truncation luck; fail loudly instead
    for f in sdf.schema.fields:
        if f.dataType.simpleString() not in int_types:
            # ValueError (recorded per-query), not SystemExit (aborts
            # the sweep): a boolean- or double-emitting query in a
            # --checksum list should fail ITS row like any other
            # compare failure, not kill the remaining queries
            raise ValueError(
                f"checksum mode needs all-integer outputs; column "
                f"{f.name!r} of {spec!r} is {f.dataType.simpleString()}")
    scols = sdf.columns
    v = _poly_expr(scols)
    aggs = [f"COUNT(*) AS n", f"SUM({v}) AS s1",
            f"SUM((({v}) * ({v})) % {P}) AS s2"]
    srow = sdf.selectExpr(*aggs).collect()[0]
    oracle = spec.oracle
    if int_project:
        oracle = (f"SELECT {', '.join(scols)} FROM ({oracle}) ipt")
    if spec.name in (args.shard_oracle_by_lang or []):
        duck_t = _sharded_oracle_checksums(oracle, aggs)
    else:
        dres = duck.sql(f"SELECT {', '.join(aggs)} FROM ({oracle}) t")
        drow = dres.fetchall()[0]
        duck_t = (int(drow[0]), int(drow[1] or 0), int(drow[2] or 0))
    spark_t = (int(srow["n"]), int(srow["s1"] or 0), int(srow["s2"] or 0))
    return {
        "rows_match": spark_t[0] == duck_t[0],
        "schema_match": True,  # checksum folds the sorted column list
        "hash_match": spark_t == duck_t,
        "spark_rows": spark_t[0], "oracle_rows": duck_t[0],
        "err": None,
        "mode": ("engine_side_checksum_int_projected" if int_project
                 else "engine_side_checksum"),
        "oracle_sharded_by_lang":
            spec.name in (args.shard_oracle_by_lang or []),
        "checksum_columns": scols,
        "spark_checksums": [spark_t[1], spark_t[2]],
        "oracle_checksums": [duck_t[1], duck_t[2]],
    }


def _sharded_oracle_checksums(oracle: str, aggs: list[str]) -> tuple:
    """Run the oracle once per ``documents.lang`` shard and SUM the
    per-shard (COUNT, s1, s2) in the driver as exact Python ints — the
    feasible-oracle path for queries whose DuckDB replica OOMs on the
    full corpus (r15: route_ngram_minhash_tier's rarity window is
    ~150 M exploded gram rows at g10.0).

    Why per-lang sharding is SEMANTICS-PRESERVING for the route tier
    (and any oracle whose output is a same-lang pair set): document
    frequencies are computed per (lang, gram), the rarity prefix per
    doc from its own lang's df order, and the verify join keeps only
    ``sb.lang = sa.lang`` pairs — so a shard restricted to one lang
    computes exactly the full oracle's rows for that lang, cross-lang
    band collisions being pairs the full oracle drops anyway. The
    union over langs is therefore the full output, and the multiset
    checksum is a SUM over disjoint shards (exact: driver-side Python
    ints, no modulus on the outer sum — mirroring how the engines'
    own SUM over per-row values behaves).

    Each shard gets a FRESH DuckDB connection (memory released between
    shards) whose ``documents`` view carries the lang filter; the
    other table views are created unfiltered."""
    import duckdb

    from cstore_fdw_spark.datasets import TABLES

    langs = [r[0] for r in duckdb.sql(
        f"SELECT DISTINCT lang FROM '{args.g_dir}/documents.parquet' "
        f"ORDER BY lang").fetchall()]
    tot = [0, 0, 0]
    for lg in langs:
        sd = _cap_duck(duckdb.connect())
        for t in TABLES:
            flt = f" WHERE lang = '{lg}'" if t == "documents" else ""
            sd.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                   f"'{args.g_dir}/{t}.parquet'{flt}")
        t0 = time.time()
        row = sd.sql(
            f"SELECT {', '.join(aggs)} FROM ({oracle}) t").fetchall()[0]
        sd.close()
        print(f"#   oracle shard lang={lg}: n={int(row[0])} "
              f"({time.time() - t0:.0f}s)", flush=True)
        for i in range(3):
            tot[i] += int(row[i] or 0)
    return tuple(tot)


def main() -> int:
    import duckdb

    from cstore_fdw_spark.datasets import TABLES
    from cstore_fdw_spark.operators import clear_caches, load_all
    from cstore_fdw_spark.session import get_spark

    registry = load_all()
    spark = get_spark(app_name="scale-correctness")
    spark.sparkContext.setLogLevel("ERROR")
    duck = _cap_duck(duckdb.connect())
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                 f"'{args.g_dir}/{t}.parquet'")

    out: dict[str, dict] = {}
    fails = []
    for i, name in enumerate(args.queries, 1):
        clear_caches(spark)
        spec = registry[name]
        t0 = time.time()
        try:
            if name in (args.checksum or []) \
                    or name in (args.int_project or []) \
                    or name in (args.shard_oracle_by_lang or []):
                rec = checksum_compare(spark, duck, spec)
            else:
                rec = compare(spark, duck, spec, args.g_dir)
        except Exception as exc:  # noqa: BLE001 — recorded, not raised
            rec = {"rows_match": False, "schema_match": False,
                   "hash_match": False, "spark_rows": None,
                   "oracle_rows": None,
                   "err": f"{type(exc).__name__}: {exc}"[:500]}
        rec["sec"] = round(time.time() - t0, 1)
        out[name] = rec
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        if not ok:
            fails.append(name)
        print(f"[{i:3}/{len(args.queries)}] {'ok  ' if ok else 'FAIL'} "
              f"{name} ({rec['sec']}s)", flush=True)

    label = os.path.basename(args.g_dir.rstrip("/"))
    payload = {label: out}
    if args.meta:
        payload["_meta"] = json.loads(args.meta)
    if args.out and os.path.exists(args.out) and args.merge:
        with open(args.out) as f:
            prior = json.load(f)
        for k, v in payload.items():
            if isinstance(v, dict) and isinstance(prior.get(k), dict):
                prior[k].update(v)  # per-label deep merge: rerun a
            else:                   # subset without dropping the rest
                prior[k] = v
        payload = prior
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)
    n_ok = len(args.queries) - len(fails)
    print(f"\n{n_ok}/{len(args.queries)} green -> {args.out}")
    if fails:
        print("FAILURES:", ", ".join(fails))
    return 1 if fails else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--g-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--queries", nargs="+", required=True)
    ap.add_argument("--checksum", nargs="*", default=[],
                    help="queries compared via in-engine checksums")
    ap.add_argument("--int-project", nargs="*", default=[],
                    help="checksum queries restricted to their integer "
                         "columns (same projection on both engines)")
    ap.add_argument("--shard-oracle-by-lang", nargs="*", default=[],
                    help="checksum queries whose DuckDB oracle runs "
                         "once per documents.lang shard (per-shard "
                         "sums added exactly in the driver) — only "
                         "valid when the oracle's output partitions "
                         "by lang (same-lang pair sets)")
    ap.add_argument("--meta", default=None, help="JSON _meta blob")
    ap.add_argument("--merge", action="store_true",
                    help="merge into an existing --out file")
    args = ap.parse_args()
    raise SystemExit(main())
