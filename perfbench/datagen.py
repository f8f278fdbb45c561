"""Seeded inputs for the benchmark.

Two generators, both pure functions of their seed:

- :func:`write_tables` writes the ten TPC-H-ish tables the query
  registry reads (schemas as in FIXTURES.md §1-2), with the value
  domains of the project's sf datasets, at a chosen scale factor.
- :func:`change_stream` yields Debezium envelope segments for the
  ``cdc_apply`` workload, and :func:`expected_state` folds the same
  events in plain Python into the final row per key.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]


def _ts(start: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), pa.timestamp("us"))


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    day = rng.integers(0, span + 1, n).astype(np.int64)
    return _ts(dt.datetime(start.year, start.month, start.day), day * 86_400_000_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf`` (row counts as in
    the project's sf datasets: lineitem 6e6 x sf, orders 1.5e6 x sf)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # Document lengths and near-duplicate positions do not depend on the
    # seed: the engine sizes Python-stage fan-out by input bytes, so a
    # seed that shifted the table's size would change the plan.
    texts: list[str] = []
    for i in range(n_doc):
        if i % 20 == 19:
            # near-duplicate of an earlier document, marked by one word
            words = texts[i - 1 - (7 * i) % 10].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(WORDS, 10 + (37 * i) % 90))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.6 * centers[labels]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write :func:`make_tables` as ``<out_dir>/<table>.parquet``
    (one file each, like the project's sf datasets); returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# Change stream for cdc_apply
# ---------------------------------------------------------------------------

DB = "appdb"
TABLE = "accounts"  # the routed table: even keys
OTHER_TABLE = "audit"  # odd keys, routed away by the pipeline
ROW_OPS = ("c", "u", "d", "r")
# FIXTURES.md §3 op mix: r 10%, c 50%, u 30%, d 10%
OP_SHARES = (("r", 0.1), ("c", 0.5), ("u", 0.3), ("d", 0.1))
# FIXTURES.md §3 noise: one extra row after every event whose index is
# a multiple of 97 (tombstone), 101 (DDL), 103 (malformed), 107 (op m)
NOISE_EVERY = {"tombstone": 97, "ddl": 101, "malformed": 103, "non_row": 107}


@dataclass(frozen=True)
class StreamShape:
    """Shape of the generated change stream. The op mix, the routing by
    key parity and the noise come from FIXTURES.md §3, and the routed
    key count from the apply probe that motivated the benchmark (a
    table of under 400 rows). The segment is a tenth of the probe's
    20k-event micro-batch so that the runs fit the benchmark's time
    budget, and the Zipf exponent is a choice; perfbench/README.md
    gives the measurements behind both."""

    keys: int = 800  # key domain; the even half is routed
    zipf_a: float = 1.2  # key skew
    events_per_step: int = 2000  # row events per sealed segment


def _envelope(op: str, after: dict | None, table: str) -> str:
    return json.dumps(
        {
            "payload": {
                "op": op,
                "before": None,
                "after": after,
                "source": {"db": DB, "table": table},
            }
        },
        separators=(",", ":"),
    )


def change_stream(seed: int, steps: int, shape: StreamShape = StreamShape()):
    """Yield ``steps`` segments, each a list of ``(seq, key, value)``
    log rows (the ``graal_cdc_log`` line shape). Keys are Zipf-skewed
    over ``shape.keys``; even keys belong to TABLE, odd ones to
    OTHER_TABLE. Ops are drawn with OP_SHARES and noise rows are
    injected by event index with NOISE_EVERY, both as in FIXTURES.md
    §3. ``seq`` is globally increasing from ``shape.keys`` (seqs below
    that are free for an initial snapshot). Deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    ops = [op for op, _ in OP_SHARES]
    shares = [share for _, share in OP_SHARES]
    seq = shape.keys
    event = 0
    n = shape.events_per_step
    for _ in range(steps):
        keys = (rng.zipf(shape.zipf_a, n) - 1) % shape.keys
        kinds = rng.choice(ops, n, p=shares)
        amounts = rng.integers(0, 1_000_000, n)
        tiers = rng.integers(0, 5, n)
        rows: list[tuple[int, str | None, str | None]] = []
        for i in range(n):
            k = int(keys[i])
            op = str(kinds[i])
            table = TABLE if k % 2 == 0 else OTHER_TABLE
            after = None if op == "d" else {
                "id": k, "amount": int(amounts[i]), "tier": f"t{int(tiers[i])}"}
            rows.append((seq, str(k), _envelope(op, after, table)))
            seq += 1
            if event % NOISE_EVERY["tombstone"] == 0:  # F3
                rows.append((seq, str(k), None))
                seq += 1
            if event % NOISE_EVERY["ddl"] == 0:  # F5 schema change
                ddl = {"payload": {"ddl": f"ALTER TABLE {table} ADD COLUMN c INT",
                                   "source": {"db": DB, "table": table}}}
                rows.append((seq, str(k), json.dumps(ddl, separators=(",", ":"))))
                seq += 1
            if event % NOISE_EVERY["malformed"] == 0:  # F4
                rows.append((seq, str(k), '{"noPayload":true}'))
                seq += 1
            if event % NOISE_EVERY["non_row"] == 0:  # F6
                rows.append((seq, str(k), _envelope("m", {}, table)))
                seq += 1
            event += 1
        yield rows


def expected_state(
    segments, start: dict[int, tuple[int, str, int]] | None = None
) -> dict[int, tuple[int, str, int]]:
    """Plain-Python fold of the change stream over ``start`` (default
    empty): ``{id: (amount, tier, seq)}`` for every routed key whose
    last row event is not a delete. Noise rows and OTHER_TABLE events
    leave the state untouched. ``start`` is not modified."""
    state = dict(start or {})
    for rows in segments:
        for seq, key, value in rows:
            if value is None:
                continue
            payload = json.loads(value).get("payload")
            if not isinstance(payload, dict) or "ddl" in payload:
                continue
            if payload.get("op") not in ROW_OPS or "after" not in payload:
                continue
            if payload["source"]["table"] != TABLE:
                continue
            k = int(key)
            if payload["op"] == "d":
                state.pop(k, None)
            else:
                after = payload["after"]
                state[k] = (after["amount"], after["tier"], seq)
    return state
