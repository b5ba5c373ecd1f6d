"""Reference models and output checks. Pure Python: each check takes
what the program returned and what the model expects, and returns a
list of mismatch descriptions (empty means correct)."""

from __future__ import annotations

from collections import Counter

import pandas as pd

_SHOW = 3  # mismatches quoted per failed check


def _diff_maps(actual: dict, expected: dict, what: str) -> list[str]:
    bad = [k for k in expected.keys() | actual.keys() if actual.get(k) != expected.get(k)]
    return [
        f"{what} {k}: got {actual.get(k)!r}, want {expected.get(k)!r}"
        for k in sorted(bad, key=repr)[:_SHOW]
    ] + ([f"{what}: {len(bad) - _SHOW} more mismatches"] if len(bad) > _SHOW else [])


class LwwModel:
    """Last-write-wins state of a default-merge PK table: apply each
    change in `seq` order; '__op' == 'D' removes the key."""

    def __init__(self, key: list[str], values: list[str]):
        self.key, self.values = key, values
        self.rows: dict[tuple, tuple] = {}

    def apply(self, pdf: pd.DataFrame) -> None:
        pdf = pdf.sort_values("seq", kind="stable")
        keys = zip(*(pdf[c].tolist() for c in self.key))
        vals = zip(*(pdf[c].tolist() for c in self.values))
        for k, v, op in zip(keys, vals, pdf["__op"].tolist()):
            if op == "D":
                self.rows.pop(k, None)
            else:
                self.rows[k] = v


def check_snapshot(rows, expected: dict[tuple, tuple], key_len: int) -> list[str]:
    """The table's snapshot rows (key columns first, then values) equal
    the model's key -> values map."""
    actual = {tuple(r[:key_len]): tuple(r[key_len:]) for r in rows}
    if len(actual) != len(rows):
        return [f"snapshot: {len(rows) - len(actual)} duplicate keys"]
    return _diff_maps(actual, expected, "snapshot key")


def check_counts(consumer: Counter, committed: Counter, what: str) -> list[str]:
    """Per-change-type counts the consumer saw equal the committed ones."""
    return _diff_maps(dict(consumer), dict(committed), what)


def check_lookup(rows, expected: list[tuple], key) -> list[str]:
    """A lookup returned exactly the model's rows for the key."""
    got = sorted(tuple(r) for r in rows)
    return [] if got == expected else [f"lookup {key}: got {got[:_SHOW]}, want {expected[:_SHOW]}"]


class ServeModel:
    """(user, item) -> (score, label, seq), with an owner index for
    prefix lookups. Trickle batches hold one change per key."""

    def __init__(self):
        self.rows: dict[tuple, tuple] = {}
        self.by_user: dict[int, list[int]] = {}

    def apply(self, pdf: pd.DataFrame) -> None:
        cols = ("user", "item", "score", "label", "seq")
        for u, i, s, lab, q in zip(*(pdf[c].tolist() for c in cols)):
            if (u, i) not in self.rows:
                self.by_user.setdefault(u, []).append(i)
            self.rows[(u, i)] = (s, lab, q)

    def items_of(self, user: int) -> list[int]:
        return self.by_user[user]

    def expected(self, kind: str, key: tuple) -> list[tuple]:
        if kind == "prefix":
            items = self.by_user.get(key[0], [])
            return sorted((key[0], i, *self.rows[(key[0], i)]) for i in items)
        row = self.rows.get(key)
        return [] if row is None else [(*key, *row)]
