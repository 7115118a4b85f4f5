"""Seeded input generators. The same seed gives the same inputs; every
generator renders its whole output before timing starts, so the timed
generator thread only writes bytes that already exist.

- ``rtdl_events``: rtdl ingest envelopes covering the reference message
  shapes (canonical message, null/{}/[] fields, projectId and writeKey
  alt-id routing, ~1% unrouted, one rtdl_205 control message, PII strings
  on a pii-detection stream, and a field that appears mid-run).
- ``cdc_changes``: skewed key updates plus new-key inserts for an upsert
  stream.
- ``tpch_tables``: a TPC-H-shaped star schema (FIXTURES.md section 1).
- ``documents`` / ``embeddings``: the LLM-curation fixture tables.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# -- rtdl events --------------------------------------------------------------

CANON_ID = "837a8d07-cd06-4e17-bcd8-aef0b5e48d31"
PII_ID = "5d1f7a4e-2b0c-4c55-9a51-3e2f6c1b9d01"
PROJECT_ALT = "proj-0001"
WRITEKEY_ALT = "ext-system-key-01"
CONTROL_TYPE = "rtdl_205"

# (stream_id, stream_alt_id, message_type, folder, functions)
STREAMS = (
    (CANON_ID, "", "test-msg", "canonical", "ingester"),
    ("a3c0b8f2-7f5e-4a8e-9d11-6f0f3f3a2b10", PROJECT_ALT, "project-msg",
     "project", "ingester"),
    ("c9e4d2a1-5b6f-4d7e-8a9b-0c1d2e3f4a5b", WRITEKEY_ALT, "segment-msg",
     "segment", "ingester"),
    (PII_ID, "", "pii-msg", "pii", "ingester,pii-detection"),
)

# The schema the file stream reads with: the union of every shape below.
EVENT_SCHEMA = (
    "stream_id string, projectId string, writeKey string, type string, "
    "seq bigint, name string, array array<bigint>, "
    "properties struct<age:bigint>, a string, b struct<x:bigint>, "
    "c array<bigint>, d string, traits struct<email:string>, "
    "ssn string, phone string, note string, campaign string"
)

SSN_RE = r"\d{3}-\d{2}-\d{4}"
PHONE_RE = r"[2-9]\d{2}-\d{3}-\d{4}"


@dataclass
class EventFile:
    """One pre-rendered JSON-lines file and what the lake should get
    from it: ``expected[(folder, rtdl_table)] = rows``."""

    name: str
    text: str
    n_events: int
    expected: dict[tuple[str, str], int] = field(default_factory=dict)


def _event(rng: np.random.Generator, seq: int, mid_run: bool) -> tuple[dict, tuple | None]:
    """One event and the (folder, rtdl_table) it must land in, or None
    when it must not land (unrouted)."""
    u = rng.random()
    if u < 0.01:  # unrouted: an id no config knows
        return {"stream_id": f"unknown-{seq}", "seq": seq, "d": "lost"}, None
    if u < 0.55:
        ev = {
            "stream_id": CANON_ID,
            "seq": seq,
            "name": f"user{int(rng.integers(1000))}",
            "array": [int(x) for x in rng.integers(0, 100, 3)],
            "properties": {"age": int(rng.integers(18, 90))},
            "a": None,
            "b": {},
            "c": [],
            "d": "kept",
        }
        table = "test-msg"
        if rng.random() < 0.3:
            ev["type"] = "page_view"
            table = "page_view"
        if mid_run:
            ev["campaign"] = f"c{int(rng.integers(5))}"
        return ev, ("canonical", table)
    if u < 0.70:  # projectId wins over the stream_id it also carries
        ev = {
            "projectId": PROJECT_ALT,
            "stream_id": CANON_ID,
            "seq": seq,
            "type": "track",
            "name": f"p{seq}",
        }
        return ev, ("project", "track")
    if u < 0.85:
        ev = {
            "writeKey": WRITEKEY_ALT,
            "type": "identify",
            "seq": seq,
            "traits": {"email": f"u{seq}@example.com"},
        }
        return ev, ("segment", "identify")
    ev = {
        "stream_id": PII_ID,
        "seq": seq,
        "ssn": f"{rng.integers(100, 999)}-{rng.integers(10, 99)}-"
        f"{rng.integers(1000, 9999)}",
        "phone": f"{rng.integers(200, 999)}-555-{rng.integers(1000, 9999)}",
        "note": f"call {rng.integers(200, 999)}-333-{rng.integers(1000, 9999)}",
    }
    return ev, ("pii", "pii-msg")


def rtdl_events(
    seed: int, n_files: int, per_file: int, first_seq: int = 0,
    mid_run_from: int | None = None, control_in: int | None = None,
    prefix: str = "ev",
) -> list[EventFile]:
    """``n_files`` JSON-lines files of ``per_file`` events each. Files
    from index ``mid_run_from`` on carry a field earlier files lack; file
    ``control_in`` also carries one rtdl_205 control message."""
    rng = np.random.default_rng(seed)
    files = []
    seq = first_seq
    for i in range(n_files):
        lines, expected = [], {}
        mid = mid_run_from is not None and i >= mid_run_from
        for _ in range(per_file):
            ev, dest = _event(rng, seq, mid)
            lines.append(json.dumps(ev))
            if dest is not None:
                expected[dest] = expected.get(dest, 0) + 1
            seq += 1
        if control_in == i:
            lines.append(json.dumps({"stream_id": "", "type": CONTROL_TYPE}))
        files.append(
            EventFile(f"{prefix}-{first_seq + i * per_file:09d}.json",
                      "\n".join(lines) + "\n", len(lines), expected)
        )
    return files


# -- CDC changes --------------------------------------------------------------


@dataclass
class ChangeFile:
    name: str
    text: str
    keys: np.ndarray
    values: np.ndarray
    seqs: np.ndarray


def base_table(n_rows: int) -> pd.DataFrame:
    """The upsert target before any change: v is a function of k and seq
    is -1, so the model needs no copy of it."""
    k = np.arange(n_rows, dtype=np.int64)
    return pd.DataFrame({"k": k, "v": base_value(k), "seq": np.full(n_rows, -1, dtype=np.int64)})


def base_value(k):
    return (k * 7919) % 100003


def cdc_changes(
    seed: int, n_rows: int, n_files: int, per_file: int,
    insert_share: float = 0.2, cooldown_files: int = 16,
) -> list[ChangeFile]:
    """Skewed updates (half of them on a hot 2% of the keys) and new-key
    inserts. A key is not changed again within ``cooldown_files`` files,
    so no micro-batch holds two changes to one key and the last-write-wins
    order inside a batch cannot matter."""
    rng = np.random.default_rng(seed)
    hot = max(1, n_rows // 50)
    last_used: dict[int, int] = {}
    next_key = n_rows
    seq = 0
    out = []
    for i in range(n_files):
        keys: list[int] = []
        in_file: set[int] = set()
        n_ins = int(round(per_file * insert_share))
        while len(keys) < per_file - n_ins:
            pool = hot if rng.random() < 0.5 else next_key
            k = int(rng.integers(0, pool))
            if k in in_file or i - last_used.get(k, -10**9) < cooldown_files:
                continue
            in_file.add(k)
            last_used[k] = i
            keys.append(k)
        for _ in range(n_ins):
            keys.append(next_key)
            last_used[next_key] = i
            next_key += 1
        karr = np.array(keys, dtype=np.int64)
        seqs = np.arange(seq, seq + len(keys), dtype=np.int64)
        seq += len(keys)
        vals = rng.integers(0, 1_000_000, len(keys)).astype(np.int64)
        text = "".join(
            f'{{"k":{k},"v":{v},"seq":{s}}}\n' for k, v, s in zip(karr, vals, seqs)
        )
        out.append(ChangeFile(f"chg-{i:06d}.json", text, karr, vals, seqs))
    return out


CDC_SCHEMA = "k bigint, v bigint, seq bigint"

# -- TPC-H-shaped tables ------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("large", "hot", "blue", "green", "small", "red")
PART_NOUN = ("ring", "bolt", "gear", "pipe", "nut")


def tpch_tables(seed: int, n_lineitem: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_orders = max(1, n_lineitem // 4)
    n_cust = max(10, n_lineitem // 40)
    n_part = max(10, n_lineitem // 30)
    n_supp = max(10, n_lineitem // 600)
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": list(REGIONS)})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    retail = np.round(900 + (np.arange(n_part) % 2000) * 0.1, 2)
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(("LARGE", "ECONOMY", "SMALL", "MEDIUM"), n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    # lines per order: 1..7, trimmed to n_lineitem
    per = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), per)[:n_lineitem]
    n_li = len(okeys)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per])[:n_li].astype(np.int32)
    pkeys = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * retail[pkeys], 2)
    ship = odate[okeys] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    flags = rng.choice(("A", "N", "R"), n_li)
    status = np.where(ship > np.datetime64("1998-06-17"), "O", "F")
    lineitem = pd.DataFrame({
        "l_orderkey": okeys,
        "l_partkey": pkeys,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": flags,
        "l_linestatus": status,
        "l_shipdate": ship.astype("datetime64[us]"),
    })
    total = np.bincount(okeys, weights=price, minlength=n_orders)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(("O", "F", "P"), n_orders),
        "o_totalprice": np.round(total, 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def order_events(seed: int, n: int, n_days: int = 12) -> list[dict]:
    """Order events for the partitioned lake table: event time spread over
    ``n_days`` days so the daily buckets differ."""
    rng = np.random.default_rng(seed + 7)
    day0 = np.datetime64("2024-03-01T00:00:00")
    secs = rng.integers(0, n_days * 86400, n)
    types = rng.choice(("order_placed", "order_shipped", "order_returned"), n,
                       p=(0.6, 0.3, 0.1))
    return [
        {"stream_id": CANON_ID, "type": str(t), "order_id": int(i),
         "amount": int(a), "ts": str(day0 + np.timedelta64(int(s), "s")).replace("T", " ")}
        for i, (s, t, a) in enumerate(zip(secs, types, rng.integers(1, 10_000, n)))
    ]


# -- curation tables ----------------------------------------------------------

VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window the stream merge table join "
    "vector customer data row"
).split()
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")


def documents(seed: int, n: int) -> pd.DataFrame:
    """Documents of 10-100 words over a small vocabulary; one in ten is a
    lightly edited copy of an earlier one (near-duplicates for MinHash,
    repeated spans for span dedup)."""
    rng = np.random.default_rng(seed + 11)
    texts: list[list[str]] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = list(texts[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = [str(w) for w in rng.choice(VOCAB, int(rng.integers(10, 101)))]
        texts.append(words)
    text = [" ".join(w) for w in texts]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def embeddings(seed: int, n: int, dim: int = 64, n_labels: int = 10) -> pd.DataFrame:
    rng = np.random.default_rng(seed + 13)
    centers = rng.normal(0, 1, (n_labels, dim))
    label = rng.integers(0, n_labels, n)
    vecs = centers[label] + rng.normal(0, 0.8, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": label.astype(np.int32),
    })
