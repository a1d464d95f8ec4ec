"""Seeded input generators for the benchmark.

Everything here is pure Python + NumPy + PyArrow: no Spark, so input
generation never runs inside a timed region and the same seed gives
byte-identical inputs.

Wire format: one JSON line per change event,
``{"_seq": n, "topic": t, "op": o, "value": "<Debezium envelope>"}``,
matching the package's ``WIRE_SCHEMA`` and ``parse_envelope``.
Timestamps ride as int64 epoch microseconds (MicroTimestamp).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC_PREFIX = "postgres_cdc.iman."
BASE_TS_US = 1_700_000_000_000_000
CREATED_TS_US = 1_690_000_000_000_000

# (name, wire type, logical name) per payload field, in schema order
USERS_FIELDS = [
    ("user_id", "int32", None),
    ("username", "string", None),
    ("account_type", "string", None),
    ("updated_at", "int64", "io.debezium.time.MicroTimestamp"),
    ("created_at", "int64", "io.debezium.time.MicroTimestamp"),
]
ACCOUNT_TYPES = ["Bronze", "Silver", "Gold", "Platinum"]


def _schema_json(table: str, fields) -> str:
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "type": wire,
                    "optional": i > 0,
                    "name": logical,
                    "version": 1 if logical else None,
                    "field": name,
                }
                for i, (name, wire, logical) in enumerate(fields)
            ],
            "optional": False,
            "name": f"{TOPIC_PREFIX}{table}.Value",
        },
        separators=(",", ":"),
    )


def _wire_line(seq: int, table: str, op: str, envelope: str) -> str:
    # envelope text holds no backslashes or control characters, so
    # escaping its quotes is the whole JSON string encoding
    value = envelope.replace('"', '\\"')
    return f'{{"_seq":{seq},"topic":"{TOPIC_PREFIX}{table}","op":"{op}","value":"{value}"}}'


def _zipf_cdf(n_keys: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    return np.cumsum(w) / w.sum()


# ---------------------------------------------------------------- backlog


@dataclass(frozen=True)
class BacklogSpec:
    """Backlog traffic.  SPEC.json (``backlog_parameters``) gives each
    value's source, or marks it as an unverified assumption and why."""

    n_keys: int = 100_000  # assumption
    zipf_s: float = 0.99  # YCSB's default Zipfian constant
    events_per_file: int = 50_000
    ts_range_s: int = 4_000  # assumption: few distinct versions per hot key -> ties
    p_create: float = 0.10  # assumption
    p_delete: float = 0.05  # assumption
    p_truncated: float = 0.01


@dataclass
class BacklogEvents:
    """Columnar record of one generated file, for the reference model."""

    seq: np.ndarray
    op: np.ndarray
    key: np.ndarray
    account_type: np.ndarray
    updated_at: np.ndarray
    truncated: np.ndarray
    lines: list[str]

    def text(self) -> str:
        return "\n".join(self.lines) + "\n"


_USERS_SCHEMA_JSON = _schema_json("users", USERS_FIELDS)


def users_envelope(key: int, seq: int, account_type: str, updated_at: int) -> str:
    return (
        f'{{"schema":{_USERS_SCHEMA_JSON},"payload":{{"user_id":{key},'
        f'"username":"user_{key}_{seq}","account_type":"{account_type}",'
        f'"updated_at":{updated_at},"created_at":{CREATED_TS_US}}}}}'
    )


def truncate_envelope(envelope: str) -> str:
    """A record cut off inside its schema block: never valid JSON."""
    return envelope[: len(envelope) // 3]


def backlog_file(seed: int, index: int, spec: BacklogSpec = BacklogSpec()) -> BacklogEvents:
    """File ``index`` of the backlog for ``seed``: Zipf keys, a c/u/d mix,
    coarse timestamps (so versions tie and ``_seq`` breaks the tie), and
    about 1% truncated envelopes.  ``_seq`` is globally increasing."""
    rng = np.random.default_rng([seed, 1, index])
    n = spec.events_per_file
    cdf = _zipf_cdf(spec.n_keys, spec.zipf_s)
    key = np.minimum(np.searchsorted(cdf, rng.random(n)), spec.n_keys - 1)
    u = rng.random(n)
    op = np.where(u < spec.p_create, "c", np.where(u < spec.p_create + spec.p_delete, "d", "u"))
    at = rng.integers(0, len(ACCOUNT_TYPES), n)
    updated = BASE_TS_US + rng.integers(0, spec.ts_range_s, n) * 1_000_000
    truncated = rng.random(n) < spec.p_truncated
    seq = 1 + index * n + np.arange(n, dtype=np.int64)
    lines = []
    for i in range(n):
        env = users_envelope(int(key[i]), int(seq[i]), ACCOUNT_TYPES[at[i]], int(updated[i]))
        if truncated[i]:
            env = truncate_envelope(env)
        lines.append(_wire_line(int(seq[i]), "users", str(op[i]), env))
    return BacklogEvents(
        seq=seq,
        op=op,
        key=key.astype(np.int64),
        account_type=np.array(ACCOUNT_TYPES, dtype=object)[at],
        updated_at=updated.astype(np.int64),
        truncated=truncated,
        lines=lines,
    )


# ------------------------------------------------------------ star schema

STAR_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64)).cast(pa.timestamp("us"))


def star_schema(seed: int, sf: float = 0.01) -> dict[str, pa.Table]:
    """A star schema in the shape of the repo's TESTDATA fixtures (same
    tables, columns, types and value domains) at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_vec = max(50, int(50_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], dtype=object)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)], type=pa.string()),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], dtype=object)
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(types[rng.integers(0, 6, n_part)], type=pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    status = np.array(["P", "O", "F"], dtype=object)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(status[rng.integers(0, 3, n_ord)], type=pa.string()),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)], type=pa.string()),
        }
    )
    flags = np.array(["A", "N", "R"], dtype=object)
    lstat = np.array(["F", "O"], dtype=object)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(flags[rng.integers(0, 3, n_li)], type=pa.string()),
            "l_linestatus": pa.array(lstat[rng.integers(0, 2, n_li)], type=pa.string()),
            "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2498, n_li)) * _DAY_US),
        }
    )
    etypes = np.array(["error", "click", "view", "signup", "purchase"], dtype=object)
    gaps = np.maximum(1, rng.exponential(259e6, n_ev)).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
            "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)], type=pa.string()),
            "value": np.round(rng.exponential(49.6, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    langs = np.array(["en", "zh", "es", "de", "fr"], dtype=object)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": texts,
            "lang": pa.array(
                langs[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])], type=pa.string()
            ),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return out


def write_star_schema(seed: int, out_dir: str, sf: float = 0.01) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
