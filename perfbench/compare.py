"""Label per-op wall-time deltas between two benchmark runs.

    python3 perfbench/compare.py BASE.json NEW.json

Both files are the detail records ``run.py`` writes to
``.perfbench_out/`` (``<workload>-seed<n>-trace<k>.json``); traced
records (``--trace 1``) carry the counters the labels need. Each op
is labelled, and one whose median wall moved by more than
``MIN_DELTA`` of the base is flagged ``*``:

- ``plan``: its jobs, stages or shuffle bytes moved too, so the plan
  changed;
- ``ambient``: the counters are identical, so the delta is load on the
  machine, not the code;
- ``replanned``: AQE re-planned it within a run (its counters did not
  repeat from pass to pass), so the counters cannot decide;
- ``unlabelled``: one of the records has no counters (untraced run).
"""

from __future__ import annotations

import argparse
import json
import sys

COUNTERS = ("build_jobs", "action_jobs", "stages", "shuffle_bytes")
MIN_DELTA = 0.2


def _ops(detail: dict) -> dict:
    walls = detail.get("per_op", {})
    counters = detail.get("per_op_counters", {})
    return {name: (rec["wall_s"], counters.get(name)) for name, rec in walls.items()}


def label(base: dict, new: dict) -> list[dict]:
    b_ops, n_ops = _ops(base), _ops(new)
    rows = []
    for name in sorted(set(b_ops) & set(n_ops)):
        (bw, bc), (nw, nc) = b_ops[name], n_ops[name]
        delta = (nw - bw) / bw if bw else 0.0
        if bc is None or nc is None:
            lab = "unlabelled"
        elif not (bc["counters_repeat"] and nc["counters_repeat"]):
            lab = "replanned"
        elif any(bc[k] != nc[k] for k in COUNTERS):
            lab = "plan"
        else:
            lab = "ambient"
        rows.append({
            "op": name,
            "base_s": bw,
            "new_s": nw,
            "delta": delta,
            "flagged": abs(delta) > MIN_DELTA,
            "label": lab,
            "counters": {k: [bc and bc[k], nc and nc[k]] for k in COUNTERS},
        })
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args(argv)
    with open(args.base) as fh:
        base = json.load(fh)
    with open(args.new) as fh:
        new = json.load(fh)
    rows = label(base, new)
    print(f"{'op':36} {'base_s':>8} {'new_s':>8} {'delta':>7}  label")
    for r in rows:
        mark = "*" if r["flagged"] else " "
        print(f"{r['op']:36} {r['base_s']:8.3f} {r['new_s']:8.3f} {r['delta']:+7.1%}{mark} {r['label']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
