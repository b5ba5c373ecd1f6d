"""Seeded input generators. Pure numpy/pandas: no Spark, no clock.

A generator is created from (params, seed) and yields its inputs in a
fixed order, so one seed always gives the same base table and the same
sequence of batches or requests, however many the run consumes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class Zipf:
    """Zipf(s) over n items. Rank r has weight 1/r**s; the rank -> item
    mapping is a seeded permutation, so the hot items are not simply the
    smallest ids."""

    def __init__(self, rng: np.random.Generator, n: int, s: float):
        w = 1.0 / np.arange(1, n + 1) ** s
        self.p = w / w.sum()
        self.perm = rng.permutation(n)
        self.rng = rng

    def draw(self, size: int) -> np.ndarray:
        return self.perm[self.rng.choice(len(self.p), size=size, p=self.p)]


def user_bytes(pdf: pd.DataFrame) -> int:
    """Bytes of user data in a batch: the fixed width of each numeric
    value plus the UTF-8 length of each string."""
    total = 0
    for col in pdf.columns:
        s = pdf[col]
        if s.dtype == object:
            total += int(s.map(lambda v: len(v.encode())).sum())
        else:
            total += int(s.dtype.itemsize) * len(s)
    return total


class CdcGen:
    """PK table keyed (tenant, id), bucketed by tenant. Base rows: every
    tenant's ids [0, base_ids). Batch i touches `buckets_per_batch`
    buckets, taken in turn (with 2 of 8: buckets 0-1, then 2-3, 4-5,
    6-7, 0-1, ...), and one tenant picked uniformly in each. Each row is
    an insert of a fresh id, or an update or delete of a Zipf-skewed
    base id, by the configured shares. `seq` orders every change;
    `__op` is 'U' or 'D'. `tenant_bucket[t]` is tenant t's bucket.

    The bucket order is fixed so that auto compaction runs on the same
    commits in every run: a commit adds one data dir, so with
    auto-compact-dirs = 3 it runs every 3rd commit. With buckets drawn
    at random, how often it ran (and with it the commit latency and
    write amplification) would depend on the seed, as it would with
    skewed tenants."""

    DDL = "tenant int, id bigint, amount bigint, note string, seq bigint, __op string"

    def __init__(self, params: dict, seed: int, tenant_bucket: list[int]):
        self.p = params
        self.rng = np.random.default_rng(seed)
        self.id_z = Zipf(self.rng, params["base_ids"], params["zipf_s"])
        self.seq = 0
        self.next_id = params["base_ids"]
        self.by_bucket = [
            [t for t, b in enumerate(tenant_bucket) if b == bucket]
            for bucket in range(params["buckets"])
        ]
        if not all(self.by_bucket):
            raise ValueError("every bucket needs at least one tenant")
        self.batches = 0

    def _frame(self, tenant, ids, ops) -> pd.DataFrame:
        n = len(ids)
        amount = self.rng.integers(0, 10**9, n)
        seq = self.seq + 1 + np.arange(n)
        self.seq += n
        return pd.DataFrame(
            {
                "tenant": np.asarray(tenant, dtype=np.int32),
                "id": np.asarray(ids, dtype=np.int64),
                "amount": amount.astype(np.int64),
                "note": [f"n{a % 99991}" for a in amount],
                "seq": seq.astype(np.int64),
                "__op": ops,
            }
        )

    def base(self) -> pd.DataFrame:
        t, b = self.p["tenants"], self.p["base_ids"]
        return self._frame(np.repeat(np.arange(t), b), np.tile(np.arange(b), t), ["U"] * (t * b))

    def batch(self) -> pd.DataFrame:
        p, n, k = self.p, self.p["batch_rows"], self.p["buckets_per_batch"]
        first = self.batches * k
        self.batches += 1
        tenants = [
            self.rng.choice(self.by_bucket[b % p["buckets"]]) for b in range(first, first + k)
        ]
        tenant = self.rng.choice(tenants, size=n)
        sh = p["shares"]
        kind = self.rng.choice(3, size=n, p=[sh["insert"], sh["update"], sh["delete"]])
        ids = self.id_z.draw(n)
        fresh = kind == 0
        ids[fresh] = self.next_id + np.arange(int(fresh.sum()))
        self.next_id += int(fresh.sum())
        return self._frame(tenant, ids, np.where(kind == 2, "D", "U").tolist())


class ServeGen:
    """PK table keyed (user, item), bucketed by user. Base: each user
    owns `items_per_user` distinct items from [0, item_space). Requests
    are point lookups of an owned item (Zipf-skewed user), point lookups
    of an absent item (negative id), or prefix lookups by user. Trickle
    batches update owned items (3/4) and insert fresh ones (1/4)."""

    DDL = "user bigint, item bigint, score bigint, label string, seq bigint"

    def __init__(self, params: dict, seed: int):
        self.p = params
        self.rng = np.random.default_rng(seed)
        self.user_z = Zipf(self.rng, params["users"], params["zipf_s"])
        self.seq = 0
        self.next_item = params["item_space"]

    def _frame(self, users, items) -> pd.DataFrame:
        n = len(users)
        score = self.rng.integers(0, 10**9, n)
        seq = self.seq + 1 + np.arange(n)
        self.seq += n
        return pd.DataFrame(
            {
                "user": np.asarray(users, dtype=np.int64),
                "item": np.asarray(items, dtype=np.int64),
                "score": score.astype(np.int64),
                "label": [f"l{s % 9973}" for s in score],
                "seq": seq.astype(np.int64),
            }
        )

    def base(self) -> pd.DataFrame:
        u, k = self.p["users"], self.p["items_per_user"]
        items = self.rng.random((u, self.p["item_space"])).argsort(axis=1)[:, :k]
        return self._frame(np.repeat(np.arange(u), k), items.ravel())

    def request(self, items_of) -> tuple[str, tuple]:
        """('point', (user, item)) or ('prefix', (user,)); `items_of(u)`
        lists the user's items as the model holds them now."""
        user = int(self.user_z.draw(1)[0])
        r = self.rng.random()
        if r < self.p["prefix_frac"]:
            return "prefix", (user,)
        if r < self.p["prefix_frac"] + self.p["miss_frac"]:
            return "point", (user, -1 - int(self.rng.integers(0, 10**6)))
        owned = items_of(user)
        return "point", (user, int(owned[self.rng.integers(len(owned))]))

    def trickle(self, items_of) -> pd.DataFrame:
        n = self.p["trickle_rows"]
        users = self.user_z.draw(n)
        n_new = n // 4
        items = [self.next_item + i for i in range(n_new)]
        self.next_item += n_new
        for u in users[n_new:]:
            owned = items_of(int(u))
            items.append(int(owned[self.rng.integers(len(owned))]))
        return self._frame(users, items)
