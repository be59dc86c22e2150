"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of (seed, size):

- ``write_tables``: the ten parquet tables the query registry reads
  (TPC-H-shaped star schema plus ``events``, ``documents`` and
  ``embeddings``), with the column types, value ranges and categorical
  pools of the reference test data at the same scale factor. One file and
  one row group per table. Timestamps are naive TIMESTAMP(NANOS), the
  pandas-style input format ``tables.load_table`` documents, so its
  nanos-as-long read and conversion are on every timed path.
- ``write_landing_zone``: a bronze landing zone of gzip JSONL chat logs,
  one file per video under ``<month>/<channel>/``, built from the message
  and badge pools of ``operators/synth.py``. Users are Zipf-skewed and one
  channel is hot. The generator returns its own per-month tallies, which
  the ETL workload checks the silver table against.

Only numpy, pyarrow and the standard library are used, so generation does
not start Spark.
"""

from __future__ import annotations

import gzip
import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    ns = us.astype("int64") * 1000
    return pa.array(ns, type=pa.int64()).cast(pa.timestamp("ns"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), version="2.6",
                   coerce_timestamps=None)


def table_sizes(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables at scale factor ``sf``; return sizes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(sf)
    n_users = round(15_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    k = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, k)]),
    })

    k = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
    })

    k = n["part"]
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), k)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, k)]),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1, 2)),
    })

    k = n["orders"]
    d0 = _epoch_us(1995, 1, 1)
    n_days = (_epoch_us(2001, 8, 1) - d0) // _DAY_US + 1
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, k)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, k)),
        "o_orderdate": _ts(d0 + rng.integers(0, n_days, k) * _DAY_US),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, k)]),
    })

    k = n["lineitem"]
    s0 = _epoch_us(1995, 1, 2)
    s_days = (_epoch_us(2001, 11, 4) - s0) // _DAY_US + 1
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, k)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, k)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, k)]),
        "l_shipdate": _ts(s0 + rng.integers(0, s_days, k) * _DAY_US),
    })

    k = n["events"]
    e0 = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, k)) + e0
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, k), pa.int64()),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, k)]),
        "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    })

    # 5% of documents are a copy of an earlier one with " dup" appended, so
    # the near-duplicate jobs always have true pairs to find.
    k = n["documents"]
    texts: list[str] = []
    words = np.array(_WORDS)
    lengths = rng.integers(10, 100, k)
    dup = rng.random(k) < 0.05
    for i in range(k):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lengths[i])]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, k, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(k)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    k = n["embeddings"]
    vec = rng.standard_normal((k, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    })
    return n


# --- bronze chat-log landing zone --------------------------------------------

MEMBER_EVENT_TYPES = ("new_member", "gift_member")


def write_landing_zone(
    out_dir: str,
    seed: int,
    months: list[str],
    msgs_per_month: int,
    videos_per_month: int,
    n_channels: int = 6,
    n_users: int = 20_000,
) -> dict[str, dict]:
    """Write ``<out_dir>/<YYYY-MM>/<channel>/<video>.jsonl.gz`` chat logs.

    Every video lies inside one month, so a month's silver rows are exactly
    the (channel, video, user) triples of that month's files. Returns, per
    month, the message count, the silver row count and the sum of
    ``total_message_count`` the A1 aggregate must produce.
    """
    from holochatstats_spark.operators.synth import BADGES, MESSAGES

    rng = np.random.default_rng([seed, 2])
    channels = [f"ch{c}" for c in range(n_channels)]
    # one hot channel: half of all videos
    chan_p = np.full(n_channels, 0.5 / (n_channels - 1))
    chan_p[0] = 0.5
    # Zipf-skewed user popularity, ranks shuffled by seed
    user_w = 1.0 / np.arange(1, n_users + 1) ** 1.1
    user_w = rng.permutation(user_w / user_w.sum())
    counted = np.array([cat is not None for _, cat in MESSAGES])
    type_pool = np.array(["chat"] * 17 + ["paid_message", "new_member", "gift_member"])

    tallies: dict[str, dict] = {}
    for month in months:
        y, m = (int(x) for x in month.split("-"))
        start = _epoch_us(y, m, 1)
        span = _epoch_us(y + m // 12, m % 12 + 1, 1) - start - 4 * 3600 * 1_000_000
        per_video = rng.multinomial(msgs_per_month, np.full(videos_per_month, 1 / videos_per_month))
        vid_chan = rng.choice(n_channels, videos_per_month, p=chan_p)
        silver_rows = 0
        total_counted = 0
        for v in range(videos_per_month):
            k = int(per_video[v])
            if k == 0:
                continue
            vid = f"{month}-v{v:04d}-s{seed}"
            v0 = start + int(rng.integers(0, span))
            ts = v0 + np.sort(rng.integers(0, 3 * 3600 * 1_000_000, k))
            users = rng.choice(n_users, k, p=user_w)
            mtype = type_pool[rng.integers(0, len(type_pool), k)]
            msg_i = rng.integers(0, len(MESSAGES), k)
            badge_i = rng.integers(0, len(BADGES), k)
            is_member = np.isin(mtype, MEMBER_EVENT_TYPES)
            silver_rows += len(np.unique(users))
            total_counted += int((~is_member & counted[msg_i]).sum())
            path = os.path.join(out_dir, month, channels[vid_chan[v]], f"{vid}.jsonl.gz")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            lines = []
            for j in range(k):
                gift = mtype[j] == "gift_member"
                lines.append(json.dumps({
                    "user_id": f"u{users[j]}",
                    "username": f"user {users[j]}",
                    "timestamp": int(ts[j]),
                    "membership_rank": -2 if gift else BADGES[badge_i[j]][1],
                    "message_category": None,
                    "message": "" if is_member[j] else MESSAGES[msg_i[j]][0],
                    "message_type": str(mtype[j]),
                    "gifter": f"user {users[(j + 1) % k]}" if gift else None,
                }, ensure_ascii=False))
            with gzip.open(path, "wt", encoding="utf-8", compresslevel=1) as f:
                f.write("\n".join(lines))
                f.write("\n")
        tallies[month] = {
            "messages": int(per_video.sum()),
            "silver_rows": silver_rows,
            "total_message_count": total_counted,
        }
    return {"channels": channels, "months": tallies}
