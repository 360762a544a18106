"""Seeded inputs and a Python model for the ``warehouse_ingest`` workload.

The records imitate what the warehouse loader is built for: nested,
semi-structured rows with keys that need sanitizing (``"Order Key"``,
``"cust-id"``), optional fields present in 1/7 and 1/11 of rows, a
nested RECORD (``items``, a list of dicts) and a REPEATED scalar
(``tags``). The CDC batches are drawn against a Python model of the
table, which then predicts the table's final key set, row count and
amount checksum.
"""

from __future__ import annotations

import random

N_RECORDS = 5_000
N_BATCHES = 4
BATCH_SIZE = 250
#: U / D / I shares of a CDC batch
BATCH_MIX = (0.5, 0.2, 0.3)
#: the DataFrame ``update`` touches keys with key % UPDATE_MOD == UPDATE_REM (2%)
UPDATE_MOD, UPDATE_REM = 50, 7
KEY = "Order_Key"
_TAGS = ["gift", "bulk", "express", "fragile", "return", "promo", "b2b"]
_STATUS = ["F", "O", "P"]


def make_record(rng: random.Random, key: int) -> dict:
    rec = {
        "Order Key": key,
        "cust-id": rng.randrange(1_500),
        "order date": f"{rng.randint(1995, 2001)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
        "amount": round(rng.uniform(1.0, 5000.0), 2),
        "status": rng.choice(_STATUS),
        "items": [
            {"sku-id": rng.randrange(2_000), "qty": rng.randint(1, 9), "unit price": round(rng.uniform(1, 500), 2)}
            for _ in range(rng.randint(1, 3))
        ],
        "tags": rng.sample(_TAGS, rng.randint(0, 3)),
    }
    if key % 7 == 0:
        rec["coupon code"] = f"C{rng.randrange(100):03d}"
    if key % 11 == 0:
        rec["gift note"] = rng.choice(["happy birthday", "congrats", "thanks!"])
    return rec


class Model:
    """The table as the benchmark expects it: key -> (amount, status)."""

    def __init__(self, records: list[dict]):
        self.rows = {r["Order Key"]: (r["amount"], r["status"]) for r in records}

    def apply(self, batch: list[dict]) -> None:
        for ch in batch:
            k = ch["Order Key"]
            if ch["op"] == "D":
                self.rows.pop(k, None)
            else:
                self.rows[k] = (ch["amount"], ch["status"])

    def apply_update(self) -> None:
        for k, (amount, status) in self.rows.items():
            if k % UPDATE_MOD == UPDATE_REM:
                self.rows[k] = (amount + 1.0, status)

    def checksum(self) -> int:
        """Sum of amounts in cents; the table side computes the same sum."""
        return sum(int(round(a * 100)) for a, _ in self.rows.values())

    def status_counts(self) -> dict:
        out: dict = {}
        for _, s in self.rows.values():
            out[s] = out.get(s, 0) + 1
        return out

    def top_amounts(self, n: int) -> list[float]:
        return sorted((a for a, _ in self.rows.values()), reverse=True)[:n]


def make_inputs(seed: int) -> dict:
    """Records, CDC batches and the row counts the model predicts after
    each step. The same seed gives the same inputs."""
    rng = random.Random(seed)
    records = [make_record(rng, k) for k in range(N_RECORDS)]
    model = Model(records)
    next_key = N_RECORDS
    batches, counts_after_merge = [], []
    n_u, n_d = int(BATCH_SIZE * BATCH_MIX[0]), int(BATCH_SIZE * BATCH_MIX[1])
    n_i = BATCH_SIZE - n_u - n_d
    for _ in range(N_BATCHES):
        picked = rng.sample(sorted(model.rows), n_u + n_d)
        batch = [{**make_record(rng, k), "op": "U"} for k in picked[:n_u]]
        batch += [{"Order Key": k, "op": "D"} for k in picked[n_u:]]
        batch += [{**make_record(rng, k), "op": "I"} for k in range(next_key, next_key + n_i)]
        next_key += n_i
        rng.shuffle(batch)
        model.apply(batch)
        batches.append(batch)
        counts_after_merge.append(len(model.rows))
    n_updated = sum(1 for k in model.rows if k % UPDATE_MOD == UPDATE_REM)
    model.apply_update()
    return {
        "records": records,
        "batches": batches,
        "counts_after_merge": counts_after_merge,
        "n_updated": n_updated,
        "model": model,
    }
