"""Independent answers for every output the workloads check.

Each oracle recomputes the expected result from the generated inputs
in plain Python/numpy, sharing no code with the program under test.
"""

from __future__ import annotations

import glob
import math
import os
import re
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# -- cooling ---------------------------------------------------------------


def year_ids(start: datetime, minutes: int, y: int) -> tuple[int, int]:
    """Ids of calendar year ``y`` on the one-payment-per-minute grid
    (id 1 at ``start``); ``lo > hi`` when the grid misses the year."""
    lo = int((datetime(y, 1, 1) - start).total_seconds() // 60) + 1
    hi = int((datetime(y + 1, 1, 1) - start).total_seconds() // 60)
    return max(lo, 1), min(hi, minutes)


def federation_counts(start: datetime, minutes: int, cooled_through: int) -> dict:
    """{(year, src): (cnt, id_sum)} once years up to ``cooled_through``
    moved to the lake ('s3') and the rest are still hot ('pg')."""
    out = {}
    for y in range(start.year, 2100):
        lo, hi = year_ids(start, minutes, y)
        if lo > hi:
            break
        n = hi - lo + 1
        out[(y, "s3" if y <= cooled_through else "pg")] = (n, (lo + hi) * n // 2)
    return out


def payments_raw_bytes(lo: int, hi: int) -> int:
    """Raw size of payments ``lo..hi``: id, accdt, acckt, amount and
    payment_date at 8 bytes, state 'done', doc_num = str(id) and
    descr = 'payment ' + str(id)."""
    digits = 0
    for d in range(1, 20):
        a, b = max(lo, 10 ** (d - 1)), min(hi, 10 ** d - 1)
        if a <= b:
            digits += (b - a + 1) * d
    return (hi - lo + 1) * (5 * 8 + 4 + 8) + 2 * digits


def corrupt_one_row(partition_dir: str) -> None:
    """Add 1 to the ``amount`` of the first row of the partition's
    first data file, in place."""
    part = sorted(glob.glob(os.path.join(partition_dir, "*.parquet")))[0]
    tbl = pq.read_table(part)
    i = tbl.schema.get_field_index("amount")
    amount = tbl.column(i).to_numpy().copy()
    amount[0] += 1.0
    tbl = tbl.set_column(i, "amount", pa.array(amount))
    crc = os.path.join(partition_dir, "." + os.path.basename(part) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    pq.write_table(tbl, part)


# -- llm_corpus ------------------------------------------------------------


def quality_filter_count(docs: pd.DataFrame) -> int:
    """Documents passing the pretraining gates: first of each exact
    (normalized) duplicate group, 30..90 tokens, average word length
    4..5, language 'en'."""
    keeper: dict[str, int] = {}
    norms = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        n = re.sub(r"\s+", " ", text.strip(" ").lower())
        norms.append(n)
        keeper[n] = min(keeper.get(n, doc_id), doc_id)
    count = 0
    for doc_id, n, lang in zip(docs["doc_id"], norms, docs["lang"]):
        toks = len(n.split(" "))
        awl = (len(n) - (toks - 1)) / toks
        if (keeper[n] == doc_id and 30 <= toks <= 90 and 4.0 <= awl <= 5.0
                and lang == "en"):
            count += 1
    return count


def _round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def shingle_jaccard(a: str, b: str, k: int = 3) -> float:
    """Exact Jaccard of the distinct k-word shingle sets of two texts
    (lowercased, whitespace-collapsed), rounded to 1e-6."""
    def shingles(t: str) -> set[str]:
        w = re.sub(r"\s+", " ", t.strip(" ").lower()).split(" ")
        return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}

    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return _round6(len(sa & sb) / union) if union else 0.0


def union_find_clusters(pairs) -> set[tuple[int, int, int]]:
    """{(doc_id, keeper_id, cluster_size)} for every document in a
    multi-document component of the pair graph; keeper = smallest id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for v in list(parent):
        members.setdefault(find(v), []).append(v)
    return {(v, min(ms), len(ms)) for ms in members.values() for v in ms}


class TopK:
    """Exact cosine top-k in numpy, with the IVF probe restriction
    (integer micro-unit assignment to the given centroids) replayed."""

    TOL = 2e-6  # scores are rounded to 1e-6; allow one rounding step

    def __init__(self, emb: pd.DataFrame, centroids) -> None:
        self.ids = emb["vec_id"].to_numpy()
        self.E = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
        self.norms = np.sqrt((self.E * self.E).sum(axis=1))
        self.C = np.asarray(centroids, dtype=np.int64)
        X = np.floor(self.E * 1e6 + 0.5).astype(np.int64)
        d = -2 * (X @ self.C.T) + (self.C * self.C).sum(axis=1)
        self.assign = np.argmin(d, axis=1)

    def scores(self, q: np.ndarray) -> np.ndarray:
        r = (self.E @ q) / (self.norms * math.sqrt(float(q @ q)))
        return np.floor(r * 1e6 + 0.5) / 1e6

    def check(self, q, got, k: int, nprobe: int | None) -> tuple[bool, str]:
        mask = np.ones(len(self.ids), dtype=bool)
        if nprobe is not None:
            qq = np.floor(np.asarray(q) * 1e6 + 0.5).astype(np.int64)
            dist = ((qq - self.C) ** 2).sum(axis=1)
            probe = sorted(range(len(self.C)), key=lambda c: (int(dist[c]), c))[:nprobe]
            mask = np.isin(self.assign, probe)
        s = self.scores(np.asarray(q, dtype=np.float64))
        by_id = dict(zip(self.ids[mask].tolist(), s[mask].tolist()))
        best = sorted(by_id.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        if len(got) != len(best):
            return False, f"{len(got)} rows, want {len(best)}"
        if len({i for i, _ in got}) != len(got):
            return False, "duplicate ids"
        for i, score in got:
            if i not in by_id or abs(score - by_id[i]) > self.TOL:
                return False, f"id {i} score {score} vs {by_id.get(i)}"
        if any(a[1] < b[1] for a, b in zip(got, got[1:])):
            return False, "scores not descending"
        if got and got[-1][1] < best[-1][1] - self.TOL:
            return False, f"missed a better candidate: {got[-1]} < {best[-1]}"
        return True, ""


# -- cdc_stream ------------------------------------------------------------


class CdcReplay:
    """The table a changelog must produce: apply changes in ``seq``
    order, an upsert replaces the whole row, a delete removes the key."""

    COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderpriority")

    def __init__(self, orders: pd.DataFrame) -> None:
        self.rows = {r[0]: r for r in self._tuples(orders)}
        self.max_key = max(self.rows)

    def _tuples(self, df: pd.DataFrame):
        cols = [df[c].tolist() for c in self.COLUMNS]
        return list(zip(*cols))

    def apply(self, batch: pd.DataFrame) -> None:
        batch = batch.sort_values("seq")
        for row, op in zip(self._tuples(batch), batch["op"].tolist()):
            if op == "D":
                self.rows.pop(row[0], None)
            else:
                self.rows[row[0]] = row
                self.max_key = max(self.max_key, row[0])

    def pick_key(self, rng: np.random.Generator) -> int:
        return int(rng.integers(0, self.max_key + 1))

    def lookup(self, key: int) -> list[tuple]:
        return [self.rows[key]] if key in self.rows else []

    def aggregate(self) -> tuple[int, int, float]:
        return (len(self.rows), sum(r[1] for r in self.rows.values()),
                math.fsum(r[3] for r in self.rows.values()))

    def compare(self, table: pd.DataFrame) -> tuple[bool, str]:
        got = {r[0]: r for r in self._tuples(table)}
        if len(got) != len(table):
            return False, "duplicate keys in the table"
        if got == self.rows:
            return True, ""
        diff = set(got.items()) ^ set(self.rows.items())
        return False, f"{len(diff)} differing rows, e.g. {sorted(diff)[:2]}"
