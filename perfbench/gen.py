"""Seeded input generators. Nothing here touches Spark: every workload's
input is produced from ``--seed`` before timing starts, and the engine only
ever sees the files these functions write.

Generators write into a staging directory; the benchmark lands one round
at a time into the directory the pipeline watches (a hard link, so a file
appears whole). The oracle reads the same files (Debezium JSON) or the
planted pair sets.
"""

from __future__ import annotations

import json
import os

import numpy as np

STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
WORDS = tuple(
    "ironic final pending regular express special bold silent quick careful "
    "even furious unusual blithe idle busy daring dogged fluffy ruthless "
    "packages deposits requests accounts instructions theodolites foxes "
    "pinto beans asymptotes dependencies platelets excuses sheaves courts "
    "sleep wake nag haggle cajole boost detect integrate use maintain "
    "among above along across about after against around".split())

DAY0 = np.datetime64("1992-01-01")


def _write_round(out_dir: str, idx: int, lines: list[str]) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"round-{idx:05d}.json")
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return path


# -- upsert_stream: a Debezium-JSON change script --------------------------

class OrdersTable:
    """In-memory image of an orders-shaped source table with keys
    ``1 .. 2 * n_keys``, the first ``n_keys`` alive. Every mutation returns
    the Debezium-JSON line that describes it, stamped with a strictly
    increasing ``seq``. Columns are Python lists: a line is formatted from
    plain ints and strings, which keeps generating a large snapshot cheap."""

    def __init__(self, rng: np.random.Generator, db: str, schema: str,
                 table: str, n_keys: int):
        self.rng = rng
        self.seq = 0
        self.source = json.dumps({"db": db, "schema": schema, "table": table},
                                 separators=(",", ":"))
        cap = n_keys * 2
        self.alive = np.zeros(cap, dtype=bool)
        self.cust = rng.integers(1, 15_000, cap).tolist()
        self.price = np.round(rng.uniform(900.0, 500_000.0, cap), 2).tolist()
        self.status = rng.integers(0, 3, cap).tolist()
        self.prio = rng.integers(0, 5, cap).tolist()
        self.date = [str(d) for d in DAY0 + rng.integers(0, 2400, cap)]
        self.qty = rng.integers(1, 50, cap).tolist()
        self.comment = rng.integers(0, len(WORDS), (cap, 3)).tolist()
        self.n = n_keys
        self.alive[:n_keys] = True

    def _image(self, i: int) -> str:
        c = self.comment[i]
        return ('{"o_orderkey":%d,"o_custkey":%d,"o_orderstatus":"%s",'
                '"o_totalprice":%.2f,"o_orderdate":"%s",'
                '"o_orderpriority":"%s","o_qty":%d,"o_comment":"%s %s %s"}'
                % (i + 1, self.cust[i], STATUSES[self.status[i]],
                   self.price[i], self.date[i], PRIORITIES[self.prio[i]],
                   self.qty[i], WORDS[c[0]], WORDS[c[1]], WORDS[c[2]]))

    def _line(self, op: str, before: str, after: str) -> str:
        self.seq += 1
        return ('{"before":%s,"after":%s,"op":"%s","ts_ms":%d,"seq":%d,'
                '"source":%s}' % (before, after, op,
                                  1_700_000_000_000 + self.seq, self.seq,
                                  self.source))

    def snapshot(self) -> list[str]:
        return [self._line("r", "null", self._image(i))
                for i in np.flatnonzero(self.alive).tolist()]

    def update(self, i: int, price: float, status: int, word: int) -> str:
        before = self._image(i)
        self.price[i], self.status[i] = price, status
        self.comment[i][0] = word
        return self._line("u", before, self._image(i))

    def delete(self, i: int) -> str:
        self.alive[i] = False
        return self._line("d", self._image(i), "null")

    def insert(self) -> str:
        if self.n >= len(self.alive):
            raise ValueError("OrdersTable key capacity exhausted")
        i = self.n
        self.n += 1
        self.alive[i] = True
        return self._line("c", "null", self._image(i))

    def churn(self, n_updates: int, n_deletes: int, n_inserts: int,
              hot: np.ndarray, hot_share: float) -> list[str]:
        """One round of churn. Updates draw ``hot_share`` of their keys from
        ``hot`` (repeats within a round are intended: the sink must keep
        the last writer by seq); deletes never hit a hot key."""
        live = np.flatnonzero(self.alive[:self.n])
        n_hot = int(n_updates * hot_share)
        picks = np.concatenate([self.rng.choice(hot, n_hot),
                                self.rng.choice(live, n_updates - n_hot)])
        self.rng.shuffle(picks)
        prices = np.round(self.rng.uniform(900.0, 500_000.0, len(picks)), 2)
        statuses = self.rng.integers(0, 3, len(picks))
        words = self.rng.integers(0, len(WORDS), len(picks))
        lines = [self.update(i, p, st, w) for i, p, st, w in zip(
            picks.tolist(), prices.tolist(), statuses.tolist(),
            words.tolist()) if self.alive[i]]
        cold = np.setdiff1d(live, hot)
        for i in self.rng.choice(cold, min(n_deletes, len(cold)),
                                 replace=False).tolist():
            lines.append(self.delete(i))
        lines.extend(self.insert() for _ in range(n_inserts))
        return lines


def upsert_stream_inputs(seed: int, out_dir: str, n_keys: int,
                         churn_rounds: int, update_share: float) -> list[str]:
    """Round 0 is the snapshot of ``n_keys`` orders; each later round
    updates ``update_share`` of the keys' worth of rows (30% of the updates
    hit a fixed 1% hot-key set), deletes ~1% and inserts ~1% new keys."""
    rng = np.random.default_rng(seed)
    t = OrdersTable(rng, "bench", "sales", "orders", n_keys)
    hot = rng.choice(n_keys, max(1, n_keys // 100), replace=False)
    files = [_write_round(out_dir, 0, t.snapshot())]
    for r in range(1, churn_rounds + 1):
        files.append(_write_round(out_dir, r, t.churn(
            int(n_keys * update_share), n_keys // 100, n_keys // 100, hot,
            0.3)))
    return files


# -- neardup_corpus: replicated documents / embeddings ----------------------

def neardup_inputs(seed: int, out_dir: str, n_base: int, families: int,
                   replicas: int, dim: int = 32
                   ) -> tuple[str, str, set, set, int, int]:
    """A corpus of ``n_base`` unrelated documents and vectors, of which
    ``families`` are replicated ``replicas`` times: text replicas append
    `` r<n>`` (a near-duplicate: one new word 3-gram out of ~40), vector
    replicas are identical. Unrelated texts share no 3-gram by
    construction (each is drawn from a 50k-word vocabulary) and unrelated
    vectors are Gaussian in ``dim`` dimensions, so the planted pairs are
    exactly the pairs above either operator's threshold.

    Returns (documents path, embeddings path, planted doc pairs, planted
    vector pairs, n docs, n vectors)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(50_000)])
    words = rng.integers(0, len(vocab), (n_base, 40))
    texts = [" ".join(vocab[row]) for row in words]
    vecs = rng.standard_normal((n_base, dim)).astype(np.float32)
    fam = rng.choice(n_base, families, replace=False)
    doc_ids = list(range(1, n_base + 1))
    vec_ids = list(range(1, n_base + 1))
    doc_pairs: set = set()
    vec_pairs: set = set()
    for b in fam:
        members = [int(b) + 1]
        for r in range(1, replicas):
            new_id = len(doc_ids) + 1
            doc_ids.append(new_id)
            vec_ids.append(new_id)
            texts.append(texts[b] + f" r{r}")
            vecs = np.vstack([vecs, vecs[b]])
            members.append(new_id)
        for a in members:
            for c in members:
                if a < c:
                    doc_pairs.add((a, c))
                    vec_pairs.add((a, c))
    os.makedirs(out_dir, exist_ok=True)
    docs_path = os.path.join(out_dir, "documents.parquet")
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(doc_ids, pa.int64()),
                             "text": pa.array(texts)}), docs_path)
    pq.write_table(pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs],
                              pa.list_(pa.float32()))}), emb_path)
    return docs_path, emb_path, doc_pairs, vec_pairs, len(doc_ids), len(vec_ids)
