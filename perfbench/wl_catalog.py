"""Catalog workloads: the lifecycle of one managed table, once per run.

The lifecycle runs in phases. ``load``: ``create_table``, then
``insert`` batches and one final ``io.copy_from_csv`` batch over
disjoint, arrival-ordered ``id`` ranges. ``cold``: the first read round. Then
``rewrite``: ``delete_where`` on ~3% of the rows and ``compact``.
``warm``: read rounds on the rewritten table. ``drop``: ``drop_table``.
A read round is the read mix through ``catalog.sql`` plus the metadata
calls (``row_count``, ``table_size``, ``column_minmax``). Every read,
the deleted count, and the row count and checksum after the delete and
after the compact are checked against DuckDB over the generated rows.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from recorder import Recorder

SCHEMA = ("id bigint, ts timestamp, cust bigint, amount decimal(12,2), "
          "qty int, flag string, note string")
START = np.datetime64("2024-01-01T00:00:00", "us")
STEP_US = 60_000_000  # one row per minute of arrival time
WORDS = np.array("alpha bravo cargo delta ember fjord gamma harbor ionic "
                 "jolly karma lunar metro nexus orbit pixel quartz radar "
                 "sonic tango ultra vivid waltz xenon yield zephyr".split())


def _decimal(cents: np.ndarray) -> pa.Array:
    """int64 hundredths -> decimal(12,2) without a Python loop."""
    words = np.zeros((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    return pa.Array.from_buffers(pa.decimal128(12, 2), len(cents),
                                 [None, pa.py_buffer(words.tobytes())])


def generate_rows(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, n])
    ids = np.arange(n, dtype=np.int64)
    ts = START.astype("int64") + ids * STEP_US \
        + rng.integers(0, STEP_US, n)
    note = pc.binary_join_element_wise(
        *[pa.array(WORDS[rng.integers(0, len(WORDS), n)]) for _ in range(6)],
        " ")
    return pa.table({
        "id": ids,
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "cust": rng.integers(0, max(n // 20, 10), n),
        "amount": _decimal(rng.integers(0, 100_000_000, n)),
        "qty": rng.integers(1, 51, n).astype(np.int32),
        "flag": pa.array(np.array(["A", "F", "N", "R"])[
            rng.integers(0, 4, n)]),
        "note": note,
    })


def _ts(us: int) -> str:
    return str((START + np.timedelta64(int(us), "us")).astype(
        "datetime64[s]")).replace("T", " ")


def read_mix(n: int, seed: int) -> dict[str, str]:
    """The six reads, with seed-chosen parameters."""
    r = random.Random(seed)
    point = r.randrange(n)
    lo = r.randrange(n - n // 1000 - 1)
    t0 = r.randrange(int(n * 0.9)) * STEP_US
    return {
        "point": f"SELECT * FROM t WHERE id = {point}",
        "id_range": f"SELECT * FROM t WHERE id BETWEEN {lo} "
                    f"AND {lo + max(n // 1000, 1) - 1}",
        "ts_range": "SELECT flag, count(*) AS n, sum(amount) AS amount "
                    f"FROM t WHERE ts >= TIMESTAMP '{_ts(t0)}' AND ts < "
                    f"TIMESTAMP '{_ts(t0 + n // 10 * STEP_US)}' "
                    "GROUP BY flag",
        "cust": "SELECT count(*) AS n, sum(qty) AS qty FROM t "
                f"WHERE cust = {r.randrange(max(n // 20, 10))}",
        "grouped": "SELECT flag, sum(qty) AS qty FROM t GROUP BY flag",
        "count": "SELECT count(*) AS n FROM t",
    }


CHECKSUM = ("SELECT count(*) AS n, sum(id) AS id, sum(amount) AS amount, "
            "sum(qty) AS qty FROM t")


class CatalogWorkload:
    kind = "catalog"

    def __init__(self, name: str, options: dict, rows: dict,
                 batches: int, nominal_pass_s: float, min_warm: int):
        self.name = name
        #: ``create_table`` options
        self.options = options
        self.rows = rows
        #: load batches; the last one is loaded with COPY
        self.batches = batches
        #: measured warm read round on a 4-core host (see wl_registry)
        self.nominal_pass_s = nominal_pass_s
        self.min_warm = min_warm

    def generate(self, root: str, out_dir: str, seed: int,
                 scale: str) -> dict:
        n = self.rows[scale]
        table = generate_rows(n, seed)
        os.makedirs(out_dir)
        pq.write_table(table, os.path.join(out_dir, "all.parquet"))
        per = -(-n // self.batches)
        for b in range(self.batches):
            part = table.slice(b * per, per)
            if b < self.batches - 1:
                pq.write_table(part, os.path.join(out_dir, f"b{b}.parquet"))
            else:
                # PostgreSQL CSV text: no header, timestamps as text
                part = part.set_column(
                    1, "ts", pc.strftime(part["ts"], "%Y-%m-%d %H:%M:%S"))
                pacsv.write_csv(part, os.path.join(out_dir, f"b{b}.csv"),
                                pacsv.WriteOptions(include_header=False))
        return {"rows": n, "arrow_bytes": table.nbytes,
                "batches": self.batches, "options": self.options}

    def prepare(self, root: str, spark, inputs: str, seed: int,
                duck, inject_wrong: bool) -> dict:
        from cstore_fdw_spark.catalog import CStoreCatalog

        from wl_registry import load_script

        result_hash = load_script(root, "local_gate").result_hash
        table = pq.read_table(os.path.join(inputs, "all.parquet"))
        n = table.num_rows
        duck.register("generated", table)
        duck.sql("CREATE TABLE t AS SELECT * FROM generated")

        def answers(queries):
            out = {}
            for k, q in queries.items():
                res = duck.sql(q)
                out[k] = result_hash(res.columns, res.fetchall())
            return out

        reads = read_mix(n, seed)
        lo = random.Random(seed + 1).randrange(n - n * 3 // 100)
        delete = f"id BETWEEN {lo} AND {lo + n * 3 // 100 - 1}"
        loaded = {"rows": n, "answers": answers(reads),
                  "minmax": duck.sql("SELECT min(id), max(id) FROM t")
                  .fetchone()}
        deleted = duck.sql(f"SELECT count(*) FROM t WHERE {delete}") \
            .fetchone()[0]
        duck.sql(f"DELETE FROM t WHERE {delete}")
        rewritten = {"rows": n - deleted,
                     "answers": answers({**reads, "checksum": CHECKSUM}),
                     "minmax": duck.sql("SELECT min(id), max(id) FROM t")
                     .fetchone()}
        if inject_wrong:
            loaded["answers"]["count"] = "0" * 32
        return {"spark": spark, "n": n, "reads": reads, "delete": delete,
                "deleted": deleted, "rewritten": rewritten, "expect": loaded,
                "result_hash": result_hash,
                "batches": [os.path.join(inputs, f"b{b}.parquet")
                            for b in range(self.batches - 1)],
                "csv": os.path.join(inputs, f"b{self.batches - 1}.csv"),
                "arrow_bytes": table.nbytes,
                "catalog": CStoreCatalog(spark)}

    def plan(self, n_warm: int) -> list:
        return ([("load", self.load), ("cold", self.read_round),
                 ("rewrite", self.rewrite)]
                + [("warm", self.read_round)] * n_warm
                + [("drop", self.drop)])

    # ----------------------------------------------------------- phases
    def load(self, st: dict, rec: Recorder) -> None:
        from cstore_fdw_spark.io import copy_from_csv

        spark, cat = st["spark"], st["catalog"]
        with rec.op("catalog.create_table"):
            cat.create_table("t", SCHEMA, **self.options)
        loads = []
        for i, path in enumerate(st["batches"]):
            with rec.op("catalog.insert", f"batch{i}") as op:
                cat.insert("t", spark.read.parquet(path))
            loads.append(op)
        with rec.op("io.copy_from_csv") as op:
            copy_from_csv(cat, "t", st["csv"])
        loads.append(op)
        rec.set("load_rows_per_s", st["n"] / sum(o.seconds for o in loads))
        rec.set("catalog.files", self._data_files(cat))
        rec.set("space_amp", cat.table_size("t") / st["arrow_bytes"])

    def read_round(self, st: dict, rec: Recorder) -> None:
        cat, expect = st["catalog"], st["expect"]
        self._reads(st, rec, st["reads"])
        self._row_count(st, rec)
        with rec.op("catalog.metadata", "table_size"):
            cat.table_size("t")
        with rec.op("catalog.metadata", "column_minmax") as op:
            mm = cat.column_minmax("t", "id")
            # None is the API's "no metadata answer"; anything else must
            # be exact
            rec.check(op, mm is None or tuple(mm) == expect["minmax"],
                      f"column_minmax {mm}")

    def rewrite(self, st: dict, rec: Recorder) -> None:
        cat = st["catalog"]
        st["expect"] = st["rewritten"]
        with rec.op("catalog.delete_where") as op:
            rec.check(op, cat.delete_where("t", st["delete"])
                      == st["deleted"], "deleted count")
        self._row_count(st, rec)
        self._reads(st, rec, {"checksum": CHECKSUM})
        with rec.op("catalog.compact"):
            cat.compact("t")
        self._row_count(st, rec)
        self._reads(st, rec, {"checksum": CHECKSUM})

    def drop(self, st: dict, rec: Recorder) -> None:
        with rec.op("catalog.drop_table"):
            st["catalog"].drop_table("t")

    @staticmethod
    def _row_count(st, rec) -> None:
        with rec.op("catalog.metadata", "row_count") as op:
            rows = st["catalog"].row_count("t")
            rec.check(op, rows == st["expect"]["rows"], f"row_count {rows}")

    def _reads(self, st, rec, queries) -> None:
        cat = st["catalog"]
        files = self._data_files(cat)
        with rec.op("catalog.sql_view"):
            cat.sql_view("t")
        for name, q in queries.items():
            with rec.op("read", name, read=True) as op:
                with rec.op("catalog.sql", name):
                    df = cat.sql(q)
                with rec.op("catalog.execute", name):
                    rows = [tuple(r) for r in df.collect()]
                rec.catalyst(df, force_plan=False)
                op.info.update(result_rows=len(rows), table_files=files)
                rec.check(op, st["result_hash"](df.columns, rows)
                          == st["expect"]["answers"][name],
                          f"{name} != duckdb")

    @staticmethod
    def _data_files(cat) -> int:
        root = cat.table_path("t")
        return sum(1 for _d, _s, fs in os.walk(root) for f in fs
                   if f.endswith((".parquet", ".cstore")))


WORKLOADS = {
    "catalog_parquet": CatalogWorkload(
        "catalog_parquet", {"storage_format": "parquet"},
        rows={"full": 600_000, "tiny": 5_000}, batches=5,
        nominal_pass_s=3.0, min_warm=1),
    "catalog_cstore": CatalogWorkload(
        # 1,000-row blocks (the minimum) give the small table several
        # skip-list blocks per file, as the 10,000-row default does at
        # the reference's scale
        "catalog_cstore", {"storage_format": "cstore",
                           "block_row_count": 1_000},
        # every v1.7 write and read pays a fixed Python-worker cost of
        # ~1.5 s; the row count and three batches keep the run inside its
        # time budget
        rows={"full": 3_000, "tiny": 2_000}, batches=3,
        nominal_pass_s=11.0, min_warm=2),
}
