"""Seeded input generators. The program under test only ever sees their
output files: the same seed always yields byte-identical rows.

- `write_tables`: the star schema + documents/embeddings catalog that
  `open_pulsar_spark.tables.load_table` reads (one parquet file per
  table). Value domains follow the shared test tables (TESTDATA.md):
  uniform keys and dates, 5 segments/priorities, 3 return flags, a
  30-word document vocabulary with 5% exact-copy near-duplicates.
- `UpdateGenerator`: bus updates (`router.UPDATE_SCHEMA`) with a skewed
  chat_id and the edge rows the router must handle.
- `write_epochs`: splits documents into epoch files whose mtimes
  strictly increase, because the file source orders files by mtime.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DUP_SHARE = 0.05

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, n: int, start: dt.datetime, n_days: int) -> pa.Array:
    us = _us(start) + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_documents(rng, n: int, id_base: int = 0) -> pa.Table:
    """n documents; DUP_SHARE of them are another doc's text + ' dup'
    (Jaccard well above the LSH verify threshold)."""
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))) for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """All ten catalog tables at scale factor `sf` (sf=1 ≙ 6M lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part), strict=True
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), 2405),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _days(rng, n_li, dt.datetime(1995, 1, 2), 2499),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _us(dt.datetime(2024, 1, 1))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = make_documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    return t


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_epochs(docs: pa.Table, n_epochs: int, seed: int, out_dir: str) -> list[pa.Table]:
    """Deal the documents, in a seed-chosen order, into n_epochs equal
    epochs and write one file per epoch, mtimes strictly increasing in
    epoch order. Returns the epochs."""
    rng = np.random.default_rng(seed)
    which = rng.permutation(docs.num_rows) % n_epochs
    os.makedirs(out_dir, exist_ok=True)
    base = int(dt.datetime.now().timestamp()) - 10 * n_epochs
    epochs = []
    for e in range(n_epochs):
        part = docs.select(["doc_id", "text"]).filter(pa.array(which == e))
        path = os.path.join(out_dir, f"epoch-{e:03d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (base + e, base + e))
        epochs.append(part)
    return epochs


COMMANDS = ["/status", "/help", "/mode chat", "/mode@pulsarbot task", "/reset"]
TASK_VERBS = ["fix", "run", "build", "implement", "refactor", "deploy"]
CHAT_WORDS = ["hello", "thanks", "how", "is", "the", "build", "going", "today", "why", "ok"]
ALLOWED_IDS = frozenset(range(1, 41))  # senders 41..50 are unauthorized
N_CHATS = 200


class UpdateGenerator:
    """Bus updates in `router.UPDATE_SCHEMA` shape, as python dicts.

    Mix per update: 15% commands, 20% tasks (an imperative opener, some
    longer than the 200-char classifier cut), 10% empty/blank text, the
    rest chat; 5% unauthorized senders; 10% arrive as `edited_message`.
    chat_id follows a 1/k law over N_CHATS chats, so a few chats carry
    most turns (the per-chat in-flight admission path).

    These shares are an assumption, not measured bot traffic: they are
    chosen so that every branch and every filter sees rows in each file.
    The stream run reports the share each branch actually receives
    (`route.*_share`).
    """

    def __init__(self, seed: int, first_id: int = 1):
        self.rng = np.random.default_rng(seed)
        w = 1.0 / np.arange(1, N_CHATS + 1)
        self.chat_p = w / w.sum()
        self.next_id = first_id

    def _text(self) -> str | None:
        rng, u = self.rng, self.rng.random()
        if u < 0.15:
            return COMMANDS[int(rng.integers(0, len(COMMANDS)))]
        if u < 0.35:
            n = 60 if rng.random() < 0.15 else int(rng.integers(2, 8))
            return f"{TASK_VERBS[int(rng.integers(0, len(TASK_VERBS)))]} " + " ".join(
                rng.choice(CHAT_WORDS, n)
            )
        if u < 0.45:
            return [None, "", "   "][int(rng.integers(0, 3))]
        return " ".join(rng.choice(CHAT_WORDS, int(rng.integers(1, 10))))

    def rows(self, n: int) -> list[dict]:
        out = []
        for _ in range(n):
            rng = self.rng
            sender = int(rng.integers(41, 51)) if rng.random() < 0.05 else int(rng.integers(1, 41))
            msg = {
                "chat": {"id": int(rng.choice(N_CHATS, p=self.chat_p)) + 1},
                "from": {"id": sender, "username": f"user{sender}"},
                "text": self._text(),
            }
            edited = rng.random() < 0.10
            out.append(
                {
                    "update_id": self.next_id,
                    "message": None if edited else msg,
                    "edited_message": msg if edited else None,
                }
            )
            self.next_id += 1
        return out
