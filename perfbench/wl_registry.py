"""Registry workloads: named queries of ``cstore_fdw_spark.operators``.

One pass runs every query of the workload, in an order the seed
permutes, as ``spec.builder`` then a ``noop`` write — except the cold
pass, which collects each result and hash-compares it with the query's
live DuckDB oracle (``spec.oracle``) over the same generated inputs.
"""

from __future__ import annotations

import importlib.util
import os
import random

from recorder import Recorder

TPCH = ["q1_pricing_summary", "q3_shipping_priority",
        "q5_local_supplier_volume", "q6_forecast_revenue",
        "q9_product_type_profit", "q18_large_volume_customer",
        "q21_suppliers_kept_waiting"]
DEDUP_GRAPH = ["dedup_connected_components", "dedup_minhash_lsh",
               "dedup_ngram_jaccard", "pagerank_bipartite_3iter"]


def load_script(root: str, name: str):
    """Import ``scripts/<name>.py`` (the repo's own generator / gate)."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(root, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class RegistryWorkload:
    kind = "registry"

    def __init__(self, name: str, queries: list[str],
                 nominal_pass_s: float, min_warm: int):
        self.name = name
        self.queries = queries
        #: measured warm pass on a 4-core host; turns --seconds into a
        #: fixed number of passes, so equal --seconds means equal work
        self.nominal_pass_s = nominal_pass_s
        self.min_warm = min_warm

    @staticmethod
    def scale_factor(scale: str) -> float:
        return {"full": 0.01, "tiny": 0.001}[scale]

    def generate(self, root: str, out_dir: str, seed: int,
                 scale: str) -> dict:
        gen = load_script(root, "make_scale_data")
        rows = gen.generate(self.scale_factor(scale), out_dir, seed=seed)
        return {"sf": self.scale_factor(scale), "rows": rows}

    def prepare(self, root: str, spark, inputs: str, seed: int,
                duck, inject_wrong: bool) -> dict:
        from cstore_fdw_spark.operators import load_all

        registry = load_all()
        result_hash = load_script(root, "local_gate").result_hash
        for fn in sorted(os.listdir(inputs)):
            if fn.endswith(".parquet"):
                duck.sql(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                         f"'{os.path.join(inputs, fn)}'")
        expected = {}
        for q in self.queries:
            res = duck.sql(registry[q].oracle)
            expected[q] = result_hash(res.columns, res.fetchall())
        if inject_wrong:
            expected[self.queries[0]] = "0" * 32
        order = list(self.queries)
        random.Random(seed).shuffle(order)
        return {"spark": spark, "inputs": inputs, "registry": registry,
                "expected": expected, "order": order,
                "result_hash": result_hash}

    def plan(self, n_warm: int) -> list:
        return [("cold", self.query_pass)] \
            + [("warm", self.query_pass)] * n_warm

    def query_pass(self, st: dict, rec: Recorder) -> None:
        from cstore_fdw_spark.operators import clear_caches

        spark = st["spark"]
        cold = rec.phase.kind == "cold"
        for q in st["order"]:
            clear_caches(spark)  # every pass re-executes from the scan
            with rec.op("query", q, read=True) as op:
                with rec.op("operators.build", q):
                    df = st["registry"][q].builder(spark, st["inputs"])
                rec.catalyst(df, force_plan=True)
                with rec.op("operators.execute", q):
                    if cold:
                        rows = [tuple(r) for r in df.collect()]
                    else:
                        df.write.format("noop").mode("overwrite").save()
            if cold:
                op.info["result_rows"] = len(rows)
                rec.check(op, st["result_hash"](df.columns, rows)
                          == st["expected"][q], f"{q} != oracle")
        clear_caches(spark)


WORKLOADS = {
    "tpch": RegistryWorkload("tpch", TPCH, nominal_pass_s=8.0, min_warm=1),
    "dedup_graph": RegistryWorkload("dedup_graph", DEDUP_GRAPH,
                                    nominal_pass_s=12.0, min_warm=1),
}
