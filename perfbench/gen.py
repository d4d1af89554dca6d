"""Seeded input generators. Everything is built with NumPy and written with
pyarrow, outside Spark: the engine only ever sees the generated files.

The same seed always yields byte-identical tables.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "tool"])


def _rng(seed: int, stream: str) -> np.random.Generator:
    # One independent generator per input, so adding an input never shifts
    # the values of another.
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def write_table(path: Path, columns: dict) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(columns), str(path))


# --------------------------------------------------------------------------- #
# stream: a conversation history plus per-epoch turn events
# --------------------------------------------------------------------------- #


def conversation_lengths(rng: np.random.Generator, n_convs: int, avg_turns: int = 10) -> np.ndarray:
    """1 conversation in 100 is hot (30x the average length); the rest get
    1..2*avg turns, as in ``sources.transcripts.generate_transcripts``."""
    lengths = rng.integers(1, 2 * avg_turns + 1, size=n_convs)
    lengths[::100] = 30 * avg_turns
    return lengths


def turns_table(conv: np.ndarray, turn: np.ndarray, diff: np.ndarray) -> dict:
    return {
        "conv_id": pa.array(conv, pa.int64()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(ROLES[turn % 3]),
        "diff": pa.array(diff, pa.int64()),
    }


class TurnStream:
    """A conversation history and the turn events that follow it.

    Each event file carries ``n_events`` updates: inserts append the next
    turn of a conversation (30% of them land on the hot 1%), retractions
    remove the latest live turn of a random conversation. Live turns of a
    conversation therefore always stay the prefix ``[0, next_turn)``.
    """

    def __init__(self, seed: int, n_convs: int):
        self.rng = _rng(seed, "stream")
        self.n_convs = n_convs
        self.next_turn = conversation_lengths(self.rng, n_convs).astype(np.int64)
        self.hot = np.arange(0, n_convs, 100)

    def history(self) -> dict:
        conv = np.repeat(np.arange(self.n_convs, dtype=np.int64), self.next_turn)
        starts = np.cumsum(self.next_turn) - self.next_turn
        turn = np.arange(conv.size, dtype=np.int64) - np.repeat(starts, self.next_turn)
        return turns_table(conv, turn, np.ones(conv.size, dtype=np.int64))

    def events(self, n_events: int, retract_frac: float = 0.1) -> dict:
        rng = self.rng
        is_retract = rng.random(n_events) < retract_frac
        hot = rng.random(n_events) < 0.3
        pick = np.where(
            hot,
            self.hot[rng.integers(0, self.hot.size, n_events)],
            rng.integers(0, self.n_convs, n_events),
        )
        conv = np.empty(n_events, dtype=np.int64)
        turn = np.empty(n_events, dtype=np.int64)
        diff = np.empty(n_events, dtype=np.int64)
        nxt = self.next_turn
        # Sequential on purpose: a retraction must see the inserts before it.
        for i in range(n_events):
            c = int(pick[i])
            if is_retract[i] and nxt[c] > 0:
                nxt[c] -= 1
                conv[i], turn[i], diff[i] = c, nxt[c], -1
            else:
                conv[i], turn[i], diff[i] = c, nxt[c], 1
                nxt[c] += 1
        return turns_table(conv, turn, diff)


# --------------------------------------------------------------------------- #
# registry: the TPC-H-like star schema plus events, documents, embeddings
# --------------------------------------------------------------------------- #

WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
PART_ADJ = np.array("blue cold hot large new old red small".split())
PART_NOUN = np.array("anvil bolt gear plate ring rod widget".split())
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "en", "de", "es", "fr", "zh"])


def _days(rng, n, start="1995-01-01", span_days=2400) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def registry_tables(seed: int, out_dir: Path, sf: float = 0.001) -> dict[str, int]:
    """Write the ten registry tables at scale factor ``sf`` (0.001 gives
    6000 lineitems, as in the engine's smallest test tables). Returns row
    counts by table."""
    rng = _rng(seed, "registry")
    n_cust, n_supp, n_part = max(int(150_000 * sf), 50), max(int(10_000 * sf), 5), max(int(200_000 * sf), 50)
    n_orders, n_users, n_events = max(int(1_500_000 * sf), 200), max(int(15_000 * sf), 5), max(int(1_000_000 * sf), 200)
    n_docs, n_vecs = max(int(500_000 * sf), 100), max(int(500_000 * sf), 100)
    tables: dict[str, dict] = {}

    tables["region"] = {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    tables["nation"] = {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    }
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }
    tables["part"] = {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(PART_ADJ[rng.integers(0, PART_ADJ.size, n_part)], " "),
            PART_NOUN[rng.integers(0, PART_NOUN.size, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, PART_TYPES.size, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) / 10.0, 2),
    }
    order_date = _days(rng, n_orders)
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": order_date,
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_orders)],
    }
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    l_line = np.arange(l_order.size) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    n_li = l_order.size
    quantity = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": order_date[l_order] + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
    }
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 1_000_000, n_events)
    ).astype("timedelta64[us]")
    # The graph queries read an edge user_id -> floor(value) % 150 from each
    # event and start from users 0-2. The first 3 * n_users events link each
    # of those roots to every user, so every seed gives the same number of
    # fixpoint rounds; the rest are random.
    user = rng.integers(0, n_users, n_events)
    value = np.round(rng.exponential(50.0, n_events), 2)
    hub = np.arange(3 * n_users)
    user[hub], value[hub] = hub // n_users, hub % n_users + 0.5
    tables["events"] = {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": ev_ts,
        "user_id": pa.array(user, pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_events)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            # Near-duplicate of an earlier document, as the dedup queries expect.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[rng.integers(0, WORDS.size, int(rng.integers(10, 100)))]))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.integers(0, LANGS.size, n_docs)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        write_table(out_dir / f"{name}.parquet", cols)
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}
