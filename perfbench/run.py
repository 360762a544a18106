"""Layered benchmark of the engine on a driver-style Spark session.

Run from the repository root:

    python3 perfbench/run.py --workload tpch_relational --seed 1 --seconds 10 --trace 0

One process, one closed-loop client (one op call at a time). A run:

1. generates the input tables once per checkout (``datagen.py``);
2. sets up the session ``SETUP_REPS`` times (start, ``load_tables``, a
   first ``lineitem`` count). The first set-up also launches the JVM;
   the others stop the session and start a new one in the same JVM, and
   ``setup_s`` is their median;
3. runs a cold pass (the first pass in a fresh process), checking
   outputs outside the timed region;
4. runs warm passes until ``--seconds`` have gone by and at least
   ``MIN_PASSES`` warm passes were timed; the warm-pass metrics are
   means over them, since the JVM keeps warming up for several passes;
5. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``).

The session is built as the external caller of ``__spark_entry__``
builds it: ``master("local[4]")`` and ``spark.ui.enabled=false``,
nothing else.
With ``--trace 1`` warm passes alternate untraced and traced, spans and
Spark counters are collected, and the whole record (spans with self
time, per-op counters, per-layer figures, the session conf) is written
to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

SETUP_REPS = 4
#: untraced warm passes a run times at least (and as many traced ones
#: with ``--trace 1``), so that a slow first warm pass weighs a third
#: or less
MIN_PASSES = 3
REQUIRED = ("load_datawarehouse_spark/__init__.py", "__spark_entry__.py", "tests/oracle_harness.py")
TMP_DIR = ".perfbench_tmp"
OUT_DIR = ".perfbench_out"
DATA_DIR = ".perfbench_data"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _p90(xs):
    return statistics.quantiles(xs, n=10)[8] if len(xs) > 1 else _median(xs)


def _dumps(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=str)


def memo_entries() -> int:
    """Entries in the engine's gate memos, read from outside."""
    from load_datawarehouse_spark.ops import _util, llm

    return (
        len(_util._MEASURED_ROWS_CACHE)
        + len(_util._MEASURED_WORKLOAD_CACHE)
        + len(llm._BAND_SIZE_CACHE)
    )


class Bench:
    def __init__(self, args, root: str, tmp: str):
        from datagen import ensure_tables
        from workloads import WORKLOADS

        self.args = args
        self.root = root
        self.tmp = tmp
        self.workload = WORKLOADS[args.workload]()
        self.sf_dir = ensure_tables(os.path.join(root, DATA_DIR), self.workload.scale)
        self.passes: list[dict] = []
        self.failures: dict[str, str] = {}

    # --- session ----------------------------------------------------------

    def setup(self) -> None:
        """Set up ``SETUP_REPS`` times; keep every session object alive so
        ``id(spark)``-keyed program caches can never see a reused id.
        The first set-up includes the JVM launch, about 10 s, which no
        engine change can move; it is kept out of the median."""
        from pyspark.sql import SparkSession

        from load_datawarehouse_spark.session import load_tables

        self.sessions, self.setup_reps = [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if self.sessions:
                self.sessions[-1].stop()
            spark = (
                SparkSession.builder.master("local[4]")
                .config("spark.ui.enabled", "false")
                .getOrCreate()
            )
            t1 = time.perf_counter()
            load_tables(spark, self.sf_dir, register_views=False)["lineitem"].count()
            t2 = time.perf_counter()
            self.sessions.append(spark)
            self.setup_reps.append({"start_s": t1 - t0, "load_tables_s": t2 - t1, "setup_s": t2 - t0})
            spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # --- op calls -----------------------------------------------------------

    def call(self, name: str, build, action=None):
        """Time one op call: ``build`` (the API call) then ``action`` (the
        terminal action on its result, if any). Returns (record, build
        output, action output); a raised exception marks the call failed."""
        from load_datawarehouse_spark.ops._util import release_lineage_cuts

        tr = self.tracer
        rec = {"op": name, "ok": True, "build_s": 0.0, "action_s": 0.0}
        out = result = a_span = None
        memo0 = memo_entries()
        with tr.span(name, kind="op") as op_span:
            t0 = time.perf_counter()
            try:
                with tr.span("build", jobs=True) as b_span:
                    out = build()
                t1 = time.perf_counter()
                rec["build_s"] = t1 - t0
                if action is not None:
                    with tr.span("action", jobs=True) as a_span:
                        result = action(out)
                    rec["action_s"] = time.perf_counter() - t1
            except Exception as exc:
                rec["ok"] = False
                rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
                out = result = None
            rec["wall_s"] = time.perf_counter() - t0
        release_lineage_cuts()
        rec["memo_misses"] = memo_entries() - memo0
        if tr.enabled:
            rec["span"] = op_span["id"]
            rec["build_span"] = b_span["id"]
            rec["action_span"] = a_span["id"] if a_span else None
            rec["cached_block_bytes"] = tr.cached_block_bytes()
        self.current["ops"].append(rec)
        return rec, out, result

    def untimed(self, fn) -> None:
        """Run ``fn`` (an output check) inside a pass, outside its timing."""
        from spans import tree_cpu_seconds

        c0, t0 = tree_cpu_seconds(os.getpid()), time.perf_counter()
        with self.tracer.span("check"):
            fn()
        self.current["untimed_s"] += time.perf_counter() - t0
        self.current["untimed_cpu_s"] += tree_cpu_seconds(os.getpid()) - c0

    # --- passes -------------------------------------------------------------

    def run_pass(self, index: int, traced: bool) -> dict:
        """Run one pass. Its wall and CPU seconds leave out the checks made
        during it, and its ``rss_mb`` is the peak resident set of the driver
        and the JVM during the pass, checks after the pass excluded."""
        from spans import reset_hwm, tree_cpu_seconds, vm_hwm_kb

        self.tracer.enabled = traced
        self.current = {"index": index, "traced": traced, "ops": [], "untimed_s": 0.0, "untimed_cpu_s": 0.0}
        pids = ("self", self.jvm_pid)
        for pid in pids:
            reset_hwm(pid)
        with self.tracer.span("pass", index=index):
            c0, t0 = tree_cpu_seconds(os.getpid()), time.perf_counter()
            self.workload.run_pass(self, index)
            self.current["wall_s"] = time.perf_counter() - t0 - self.current["untimed_s"]
            self.current["cpu_s"] = tree_cpu_seconds(os.getpid()) - c0 - self.current["untimed_cpu_s"]
        self.current["rss_mb"] = sum(vm_hwm_kb(pid) for pid in pids) / 1024.0
        self.tracer.enabled = False
        p = self.current
        p["memo_misses"] = sum(r["memo_misses"] for r in p["ops"])
        if traced:
            self._attach_counters(p)
        bad = self.workload.check(self, index)
        for r in p["ops"]:
            if r["ok"] and r["op"] in bad:
                r["ok"] = False
                r["error"] = "check: " + bad[r["op"]]
        for op, why in bad.items():
            self.failures.setdefault(op, why)
        for r in p["ops"]:
            if not r["ok"]:
                self.failures.setdefault(r["op"], r["error"])
        self.passes.append(p)
        return p

    def _attach_counters(self, p: dict) -> None:
        from spans import busy_seconds, job_totals

        tr = self.tracer
        tr.resolve_jobs(tr.spans)
        by_id = {s["id"]: s for s in tr.spans}
        for r in p["ops"]:
            op = by_id[r["span"]]
            build = by_id[r["build_span"]].get("jobs", [])
            action = by_id[r["action_span"]].get("jobs", []) if r.get("action_span") is not None else []
            r["build"] = job_totals(build)
            r["action"] = job_totals(action)
            busy = busy_seconds(build + action, op["wall_start"], op["wall_end"])
            r["no_job_s"] = max(0.0, (op["wall_end"] - op["wall_start"]) - busy)

    def run(self) -> dict:
        from spans import Tracer

        args = self.args
        self.setup()
        self.tracer = Tracer(self.spark, enabled=bool(args.trace))
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.workload.prepare(self, args.seed)
        with self.tracer.span(args.workload, seed=args.seed):
            self.run_pass(0, traced=bool(args.trace))
            t0, i, timed = time.perf_counter(), 1, 0
            while True:
                self.run_pass(i, traced=False)
                i, timed = i + 1, timed + 1
                if args.trace:
                    self.run_pass(i, traced=True)
                    i += 1
                if time.perf_counter() - t0 >= args.seconds and timed >= MIN_PASSES:
                    break
        return self.report()

    # --- report -------------------------------------------------------------

    def report(self) -> dict:
        from spans import self_times
        from workloads import IngestWorkload

        args = self.args
        cold, warm = self.passes[0], self.passes[1:]
        untraced = [p for p in warm if not p["traced"]]
        traced = [p for p in warm if p["traced"]]
        calls = [r for p in self.passes for r in p["ops"]]
        failed = sum(1 for r in calls if not r["ok"])
        lat = [r["wall_s"] for p in untraced for r in p["ops"]]
        warm_memo = [p["memo_misses"] for p in warm]
        memo_repeats = len(set(warm_memo)) <= 1
        if not memo_repeats:
            self.failures.setdefault("util.memo_misses", f"warm passes missed {warm_memo}")

        end_to_end = {
            "setup_s": (_median([r["setup_s"] for r in self.setup_reps[1:]]), "s"),
            # means over the warm passes: the passes of one run have no
            # outliers, only the JVM's warm-up trend, and their mean spread
            # less from run to run than their median, minimum or maximum
            "pass_s": (_mean([p["wall_s"] for p in untraced]), "s"),
            "peak_rss_mb": (_mean([p["rss_mb"] for p in untraced]), "MB"),
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "attempted": len(calls),
            "failed": failed,
            "failed_ops_ratio": failed / max(1, len(calls)),
            "failures": self.failures,
            "op_latency": {
                "calls": len(lat),
                "p50_s": _median(lat),
                "p90_s": _p90(lat),
            },
            "setup_reps": self.setup_reps,
            "passes": [
                {
                    **{k: p[k] for k in ("index", "traced", "wall_s", "cpu_s", "untimed_s", "rss_mb", "memo_misses")},
                    "op_walls": [[r["op"], r["wall_s"]] for r in p["ops"]],
                }
                for p in self.passes
            ],
            "memo_misses_repeat": memo_repeats,
            "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
            "cold_pass_s": cold["wall_s"],
            "pass_cpu_s": _mean([p["cpu_s"] for p in untraced]),
            "per_op": per_op(untraced or traced),
            "session_conf": dict(sorted(self.spark.sparkContext.getConf().getAll())),
            "sql_conf": dict(sorted(self.spark.conf.getAll.items())),
        }
        ingest = {}
        if isinstance(self.workload, IngestWorkload):
            ingest = detail["ingest"] = self.ingest_detail(untraced or traced, traced)
        metrics = end_to_end
        if args.trace:
            self_times(self.tracer.spans)
            metrics = self.layer_metrics(cold, traced, untraced, ingest)
            detail["per_layer"] = {k: v for k, (v, _) in metrics.items()}
            detail["per_op_counters"] = per_op_counters(traced)
            detail["spans"] = self.tracer.spans
        self.write_detail(detail)
        return {
            "correct": not self.failures,
            "attempted": len(calls),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, cold: dict, traced: list[dict], untraced: list[dict], ingest: dict) -> dict:
        """The per-layer metrics, the same names on every workload: a layer
        the workload does not call reads 0."""
        from workloads import INGEST_STEPS, LLM_OPS

        def per_pass(fn):
            return _median([fn(p) for p in traced])

        def op_sum(p, fn):
            return sum(fn(r) for r in p["ops"])

        def jobs_sum(p, key):
            return op_sum(p, lambda r: r["build"][key] + r["action"][key])

        build = per_pass(lambda p: op_sum(p, lambda r: r["build_s"]))
        action = per_pass(lambda p: op_sum(p, lambda r: r["action_s"]))
        traced_pass = _mean([p["wall_s"] for p in traced])
        blocks = [r["cached_block_bytes"] for p in [cold, *traced] for r in p["ops"]]
        lat = [r["wall_s"] for p in untraced for r in p["ops"]]
        ops = per_op(traced)
        counters = per_op_counters(traced)
        out = {
            "session.start_s": (_median([r["start_s"] for r in self.setup_reps[1:]]), "s"),
            "session.load_tables_s": (_median([r["load_tables_s"] for r in self.setup_reps[1:]]), "s"),
            "cold_pass_s": (cold["wall_s"], "s"),
            "pass_cpu_s": (_mean([p["cpu_s"] for p in untraced]), "s"),
            "ops.build_s": (build, "s"),
            "ops.action_s": (action, "s"),
            "ops.build_share": (build / (build + action) if build + action else 0.0, "ratio"),
            "ops.no_job_s": (per_pass(lambda p: op_sum(p, lambda r: r["no_job_s"])), "s"),
            "ops.build_jobs": (per_pass(lambda p: op_sum(p, lambda r: r["build"]["jobs"])), "count"),
            "ops.action_jobs": (per_pass(lambda p: op_sum(p, lambda r: r["action"]["jobs"])), "count"),
            "spark.jobs": (per_pass(lambda p: jobs_sum(p, "jobs")), "count"),
            "spark.stages": (per_pass(lambda p: jobs_sum(p, "stages")), "count"),
            "spark.tasks": (per_pass(lambda p: jobs_sum(p, "tasks")), "count"),
            "spark.task_run_s": (per_pass(lambda p: jobs_sum(p, "task_run_ms")) / 1e3, "s"),
            "spark.task_cpu_s": (per_pass(lambda p: jobs_sum(p, "task_cpu_ns")) / 1e9, "s"),
            "spark.shuffle_read_bytes": (per_pass(lambda p: jobs_sum(p, "shuffle_read_bytes")), "bytes"),
            "spark.shuffle_write_bytes": (per_pass(lambda p: jobs_sum(p, "shuffle_write_bytes")), "bytes"),
            "spark.output_bytes": (per_pass(lambda p: jobs_sum(p, "output_bytes")), "bytes"),
            "spark.spill_bytes": (per_pass(lambda p: jobs_sum(p, "spill_bytes")), "bytes"),
            "spark.failed_tasks": (per_pass(lambda p: jobs_sum(p, "failed_tasks")), "count"),
            "util.memo_misses": (cold["memo_misses"], "count"),
            "util.cached_block_bytes": (max(blocks) if blocks else 0, "bytes"),
            "trace.pass_s": (traced_pass, "s"),
            "trace.overhead_s": (traced_pass - _mean([p["wall_s"] for p in untraced]), "s"),
            "ops.latency_p50_s": (_median(lat), "s"),
            "ops.latency_p90_s": (_p90(lat), "s"),
        }
        for step in INGEST_STEPS:
            out[step + "_s"] = (ops[step]["wall_s"] if step in ops else 0.0, "s")
        out.update({
            "warehouse.rows_committed_per_s": (ingest.get("rows_committed_per_s", 0.0), "1/s"),
            "warehouse.bytes_stored_per_user_byte": (ingest.get("bytes_stored_per_user_byte", 0.0), "ratio"),
            "warehouse.bytes_written_per_user_byte": (
                ingest.get("warehouse.bytes_written_per_user_byte", 0.0), "ratio"
            ),
            "warehouse.data_files": (ingest.get("data_files", 0), "count"),
            "warehouse.commit_jobs": (ingest.get("warehouse.commit_jobs", 0), "count"),
        })
        for name in LLM_OPS:
            c = counters.get(name, {})
            out[f"op.{name}.build_s"] = (c.get("build_s", 0.0), "s")
            out[f"op.{name}.action_s"] = (c.get("action_s", 0.0), "s")
            out[f"op.{name}.build_jobs"] = (c.get("build_jobs", 0), "count")
        return out

    def ingest_detail(self, timed: list[dict], traced: list[dict]) -> dict:
        """The warehouse_ingest figures: per-verb seconds, rows committed
        per second of write verbs, and storage and write amplification."""
        wl = self.workload
        out = wl.storage(self)
        write_verbs = ("warehouse.load_records", "warehouse.load_df", "warehouse.merge", "warehouse.update")
        rows = wl.rows_per_pass
        out.update({name + "_s": rec["wall_s"] for name, rec in per_op(timed).items()})
        out["rows_committed_per_pass"] = rows
        out["rows_committed_per_s"] = _median([
            rows / sum(r["wall_s"] for r in p["ops"] if r["op"] in write_verbs) for p in timed
        ])
        if traced:
            user_bytes = out["user_bytes_records"] + out["user_bytes_batches"] + out["user_bytes_orders"]
            writes = [[r["build"] for r in p["ops"] if r["op"] in write_verbs] for p in traced]
            out["warehouse.bytes_written_per_user_byte"] = (
                _median([sum(b["output_bytes"] for b in w) for w in writes]) / user_bytes
            )
            out["warehouse.commit_jobs"] = _median([sum(b["jobs"] for b in w) for w in writes])
        return out

    def write_detail(self, detail: dict) -> None:
        out = os.path.join(self.root, OUT_DIR)
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}.json")
        with open(path, "w") as fh:
            fh.write(_dumps(detail))
        summary = {k: v for k, v in detail.items() if k not in ("spans", "session_conf", "sql_conf")}
        print("# detail: " + _dumps(summary), file=sys.stderr)
        print(f"# detail written to {os.path.relpath(path, self.root)}", file=sys.stderr)


def per_op(passes: list[dict]) -> dict:
    """Median over ``passes`` of each op's wall, build and action seconds
    (summed over the op's calls within a pass)."""
    out = {}
    for name in sorted({r["op"] for p in passes for r in p["ops"]}):
        calls = [[r for r in p["ops"] if r["op"] == name] for p in passes]
        out[name] = {
            k: _median([sum(r[k] for r in c) for c in calls]) for k in ("wall_s", "build_s", "action_s")
        }
    return out


def per_op_counters(passes: list[dict]) -> dict:
    """Per-op job/stage/shuffle counters over the traced passes (summed
    over an op's calls within a pass), and whether every call's counters
    repeated exactly from pass to pass."""

    def sig(r):
        return (
            r["build"]["jobs"], r["action"]["jobs"], r["build"]["stages"] + r["action"]["stages"],
            r["build"]["shuffle_write_bytes"] + r["action"]["shuffle_write_bytes"],
        )

    out = {}
    for name in sorted({r["op"] for p in passes for r in p["ops"]}):
        calls = [[r for r in p["ops"] if r["op"] == name] for p in passes]
        sigs = [tuple(sig(r) for r in c) for c in calls]
        first = [sum(x) for x in zip(*sigs[0])]
        out[name] = {
            "build_s": _median([sum(r["build_s"] for r in c) for c in calls]),
            "action_s": _median([sum(r["action_s"] for r in c) for c in calls]),
            "build_jobs": first[0],
            "action_jobs": first[1],
            "stages": first[2],
            "shuffle_bytes": first[3],
            "task_cpu_s": _median([
                sum(r["build"]["task_cpu_ns"] + r["action"]["task_cpu_ns"] for r in c) / 1e9 for c in calls
            ]),
            "no_job_s": _median([sum(r["no_job_s"] for r in c) for c in calls]),
            "calls_per_pass": len(calls[0]),
            "counters_repeat": len(set(sigs)) == 1,
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path[:0] = [root, os.path.join(root, "tests")]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Python workers started by the JVM (e.g. infer_schema_distributed's
    # RDD) import the engine, so they need the repo root on their path.
    # Temporary files of Python, Spark and the JVM stay in the checkout.
    tmp = os.path.join(root, TMP_DIR, str(os.getpid()))
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    bench = Bench(args, root, tmp)
    try:
        result = bench.run()
    finally:
        if hasattr(bench, "spark"):
            bench.shutdown()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
