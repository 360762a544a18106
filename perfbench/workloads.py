"""The three benchmark workloads and their output checks.

Each workload is built so that one layer does most of its work:

- ``tpch_relational``: relational queries whose time is in the terminal
  action (joins, shuffles, codegen); op-build is a small share.
- ``llm_dedup_build``: LLM data-pipeline ops whose time is in op-build
  (gates, memo probes, eager checkpoints, an AvailableNow stream run
  inside the op function).
- ``warehouse_ingest``: the ``SparkWarehouse`` verbs plus ``prepare``,
  ``infer_schema`` and ``chunks``; the only workload that writes.
"""

from __future__ import annotations

import os
import random
import shutil

from ingest import KEY, UPDATE_MOD, UPDATE_REM, make_inputs

TPCH_OPS = (
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_nation_volume",
    "q10_returned_items",
    "q13_order_distribution",
    "q18_large_volume_customer",
    "q21_sole_late_supplier",
    "join_asof",
    "topk_per_group",
)
LLM_OPS = (
    "dedup_minhash_verified",
    "dedup_shingle_containment",
    "stream_tumbling_counts",
    "dedup_tfidf_cosine_pairs",
    "dedup_simhash_neardup",
    "contamination_bloom_prefilter",
    "similarity_lsh_topk",
)
#: the calls of an ingest pass, each named after its layer
INGEST_STEPS = (
    "warehouse.load_records",
    "warehouse.load_df",
    "warehouse.merge",
    "warehouse.read_after_write",
    "warehouse.update",
    "warehouse.fetch",
    "warehouse.query",
    "data.prepare",
    "schema_infer.infer",
    "schema_infer.infer_distributed",
    "data.chunks",
)
CHUNK_LIMIT = 1 << 20


class QueryWorkload:
    """Runs ``queries()[name](spark, sf_dir).count()`` for each op, in
    an order drawn from the seed. Outputs are checked once per run,
    against the DuckDB oracle: each cold-pass call's DataFrame right
    after the call, outside its timing, so no pass holds earlier ops'
    results."""

    def __init__(self, ops: tuple[str, ...], scale: int = 1):
        self.ops = ops
        #: table size, as a multiple of the sf0.01 row counts
        self.scale = scale

    def prepare(self, bench, seed: int) -> None:
        import __spark_entry__

        self.fns = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.order = list(self.ops)
        random.Random(seed).shuffle(self.order)
        self.con = None
        self.bad: dict[str, str] = {}

    def run_pass(self, bench, index: int) -> None:
        for name in self.order:
            fn = self.fns[name]
            rec, df, _ = bench.call(
                name,
                lambda fn=fn: fn(bench.spark, bench.sf_dir),
                lambda df: df.count(),
            )
            if index == 0 and rec["ok"]:
                bench.untimed(lambda: self.check_op(bench, name, df))

    def check_op(self, bench, name: str, df) -> None:
        from oracle_harness import compare_query, duckdb_connect

        if self.con is None:
            self.con = duckdb_connect(bench.sf_dir)
        try:
            compare_query(df, self.con, self.oracles[name], name)
        except Exception as exc:
            self.bad[name] = f"{type(exc).__name__}: {exc}"[:400]

    def check(self, bench, index: int) -> dict[str, str]:
        """The failed checks of the pass just run; closes the oracle."""
        if self.con is not None:
            self.con.close()
            self.con = None
        bad, self.bad = self.bad, {}
        return bad


class IngestWorkload:
    """One pass loads, merges, updates and reads a fresh warehouse root:

    1. ``SparkWarehouse.new(data=records)``: ``ingest.N_RECORDS`` nested
       records (record path);
    2. ``SparkWarehouse.new(data=orders)``: the bulk DataFrame path, whose
       schema inference runs distributed;
    3. ``ingest.N_BATCHES`` CDC ``merge`` batches of ``ingest.BATCH_SIZE``
       U/D/I changes, each followed by a ``df().count()`` read;
    4. one DataFrame ``update`` of 2% of keys, a ``fetch`` top-100 and a
       ``query`` aggregate;
    5. ``prepare``, ``infer_schema`` and ``chunks(1 MiB)`` on the records,
       and ``infer_schema_distributed`` on the orders frame.
    """

    scale = 1

    def prepare(self, bench, seed: int) -> None:
        from load_datawarehouse_spark.session import load_tables

        self.inp = make_inputs(seed)
        self.orders = load_tables(bench.spark, bench.sf_dir, register_views=False)["orders"]
        self.n_orders = self.orders.count()
        inp = self.inp
        #: user rows a pass commits: both loads, the merge changes, the update
        self.rows_per_pass = (
            len(inp["records"]) + self.n_orders + sum(len(b) for b in inp["batches"]) + inp["n_updated"]
        )
        self.out: dict = {}
        self.prev_root = None

    def run_pass(self, bench, index: int) -> None:
        from pyspark.sql import functions as F

        from load_datawarehouse_spark.data import chunks, prepare
        from load_datawarehouse_spark.schema_infer import infer_schema, infer_schema_distributed
        from load_datawarehouse_spark.warehouse import QuerySort, SparkWarehouse

        spark, inp, out = bench.spark, self.inp, {}
        root = os.path.join(bench.tmp, f"warehouse-{index}")
        self.root = root
        self.out = out

        _, wh, _ = bench.call(
            "warehouse.load_records",
            lambda: SparkWarehouse.new(spark, root, "records", data=inp["records"]),
        )
        bench.call("warehouse.load_df", lambda: SparkWarehouse.new(spark, root, "orders", data=self.orders))
        if wh is None:
            return
        out["counts"] = []
        for batch in inp["batches"]:
            bench.call("warehouse.merge", lambda batch=batch: wh.merge(batch, keys=[KEY]))
            _, _, n = bench.call("warehouse.read_after_write", wh.df, lambda df: df.count())
            out["counts"].append(n)
        bench.call(
            "warehouse.update",
            lambda: wh.update(
                wh.df()
                .filter(F.col(KEY) % UPDATE_MOD == UPDATE_REM)
                .withColumn("amount", F.col("amount") + F.lit(1.0)),
                keys=[KEY],
            ),
        )
        _, _, out["fetch"] = bench.call(
            "warehouse.fetch",
            lambda: wh.fetch([KEY, "amount"], sort=[("amount", QuerySort.DESCENDING)], count=100),
            lambda df: df.collect(),
        )
        _, _, out["query"] = bench.call(
            "warehouse.query",
            lambda: wh.query("SELECT status, COUNT(*) AS n FROM records GROUP BY status"),
            lambda df: df.collect(),
        )
        _, prepared, _ = bench.call("data.prepare", lambda: prepare(inp["records"]))
        _, out["infer"], _ = bench.call("schema_infer.infer", lambda: infer_schema(prepared or []))
        _, out["infer_distributed"], _ = bench.call(
            "schema_infer.infer_distributed", lambda: infer_schema_distributed(self.orders)
        )
        _, out["chunks"], _ = bench.call(
            "data.chunks", lambda: list(chunks(inp["records"], size_limit=CHUNK_LIMIT))
        )

    def check(self, bench, index: int) -> dict[str, str]:
        """Compare the pass's outputs with the model; returns op -> reason."""
        from pyspark.sql import functions as F

        from load_datawarehouse_spark.warehouse import SparkWarehouse

        inp, out, model, bad = self.inp, self.out, self.inp["model"], {}
        if "counts" not in out:
            return bad
        if out["counts"] != inp["counts_after_merge"]:
            bad["warehouse.read_after_write"] = f"counts {out['counts']} != {inp['counts_after_merge']}"
        wh = SparkWarehouse.get(bench.spark, self.root, "records")
        df = wh.df()
        rows = df.select(KEY, "amount", "status").collect()
        keys = {r[KEY] for r in rows}
        cents = df.select(F.sum(F.round(F.col("amount") * 100).cast("long"))).collect()[0][0]
        if len(rows) != len(model.rows) or keys != set(model.rows):
            bad["warehouse.merge"] = f"{len(rows)} rows, model {len(model.rows)}; key sets differ"
        elif cents != model.checksum():
            bad["warehouse.update"] = f"amount checksum {cents} != model {model.checksum()}"
        top = [r["amount"] for r in out.get("fetch") or []]
        if top != model.top_amounts(100):
            bad["warehouse.fetch"] = "top-100 amounts differ from the model"
        got = {r["status"]: r["n"] for r in out.get("query") or []}
        if got != model.status_counts():
            bad["warehouse.query"] = f"status counts {got} != {model.status_counts()}"
        n_orders = SparkWarehouse.get(bench.spark, self.root, "orders").df().count()
        if n_orders != self.n_orders:
            bad["warehouse.load_df"] = f"orders table has {n_orders} rows, source {self.n_orders}"
        names = {f["name"] for f in (out["infer"].schema if out.get("infer") else [])}
        if not {KEY, "cust_id", "order_date", "items", "tags", "coupon_code", "gift_note"} <= names:
            bad["schema_infer.infer"] = f"inferred fields {sorted(names)}"
        dist = [f["name"] for f in (out["infer_distributed"].schema if out.get("infer_distributed") else [])]
        if dist != self.orders.columns:
            bad["schema_infer.infer_distributed"] = f"inferred fields {dist}"
        parts = out.get("chunks") or []
        if sum(len(c) for c in parts) != len(inp["records"]) or len(parts) < 2:
            bad["data.chunks"] = f"{len(parts)} chunks holding {sum(len(c) for c in parts)} rows"
        if self.prev_root:
            shutil.rmtree(self.prev_root, ignore_errors=True)
        self.prev_root = self.root
        return bad

    def storage(self, bench) -> dict:
        """Bytes on disk per JSON byte of the live rows, and data files."""
        from load_datawarehouse_spark.data import json_size
        from load_datawarehouse_spark.warehouse import SparkWarehouse

        wh = SparkWarehouse.get(bench.spark, self.root, "records")
        live = [r.asDict(recursive=True) for r in wh.df().collect()]
        on_disk, files = 0, 0
        for table in ("records", "orders"):
            for dirpath, _, names in os.walk(os.path.join(self.root, table, "data")):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        if table == "records":
                            on_disk += os.path.getsize(os.path.join(dirpath, n))
        return {
            "bytes_stored_per_user_byte": on_disk / json_size(live),
            "data_files": files,
            "user_bytes_records": json_size(self.inp["records"]),
            "user_bytes_batches": sum(json_size(b) for b in self.inp["batches"]),
            "user_bytes_orders": json_size(self.orders),
        }


WORKLOADS = {
    # sf0.1-sized tables, so that the terminal action, not op-build,
    # holds most of the time, as it does at bench.py's sf0.1
    "tpch_relational": lambda: QueryWorkload(TPCH_OPS, scale=10),
    "llm_dedup_build": lambda: QueryWorkload(LLM_OPS),
    # llm_dedup_build without its AvailableNow stream op, which alone
    # takes about half of that workload's pass
    "llm_dedup_batch": lambda: QueryWorkload(tuple(o for o in LLM_OPS if o != "stream_tumbling_counts")),
    "warehouse_ingest": IngestWorkload,
}
