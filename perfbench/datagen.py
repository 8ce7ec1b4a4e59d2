"""Seeded inputs for the benchmark workloads.

Two families, both a pure function of the seed:

- ``write_tables``: the engine's ten test tables (TPC-H-ish star schema
  plus ``events``, ``documents`` and ``embeddings``) with the column
  types, value domains and row counts of the sf0.01 fixtures, written
  as one parquet file per table.  Numpy generates them, so the program
  under test only ever sees the files.
- ``stage_skew_replay``: the reference experiment's two day-skewed
  pageview sources, cut into event-time-ordered replay files per
  source plus the two close-sentinel files the streaming replica needs.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts of the sf0.01 fixtures.
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05

_US_PER_DAY = 86_400_000_000


def _us(dt: datetime) -> int:
    return int(dt.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000


def _days(rng, n, start: datetime, end: datetime) -> pa.Array:
    """Midnight timestamps drawn uniformly from [start, end]."""
    lo, hi = _us(start) // _US_PER_DAY, _us(end) // _US_PER_DAY
    return pa.array(rng.integers(lo, hi + 1, n) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            # near duplicate: an earlier document with one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``."""
    rng = np.random.default_rng(seed)
    nc, ns, npart, no, nl, ne = (
        BASE_ROWS[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    i64 = lambda a: np.asarray(a, dtype=np.int64)  # noqa: E731

    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(nc)),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": i32(rng.integers(0, 25, nc)),
                "c_acctbal": _money(rng, nc, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(ns)),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": i32(rng.integers(0, 25, ns)),
                "s_acctbal": _money(rng, ns, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(range(npart)),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (npart, 2))
                ],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
                "p_type": _pick(rng, PART_TYPES, npart),
                "p_size": i32(rng.integers(1, 51, npart)),
                "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(range(no)),
                "o_custkey": i64(rng.integers(0, nc, no)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
                "o_totalprice": _money(rng, no, 1000.0, 500000.0),
                "o_orderdate": _days(rng, no, datetime(1995, 1, 1), datetime(2001, 8, 1)),
                "o_orderpriority": _pick(rng, PRIORITIES, no),
            }
        ),
    }
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, no, nl)),
            "l_partkey": i64(rng.integers(0, npart, nl)),
            "l_suppkey": i64(rng.integers(0, ns, nl)),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, nl, datetime(1995, 1, 2), datetime(2001, 11, 4)),
        }
    )
    start = _us(datetime(2024, 1, 1))
    ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, ne))
    tables["events"] = pa.table(
        {
            "event_id": i64(range(ne)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": i64(rng.integers(0, max(15, ne * 15 // 1000), ne)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, BASE_ROWS["documents"])
    tables["embeddings"] = _embeddings(rng, BASE_ROWS["embeddings"])
    return tables


def write_tables(out_dir: str, seed: int) -> None:
    """Write ``{out_dir}/{table}.parquet`` for every table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


@dataclass(frozen=True)
class ReplayFile:
    """One staged replay file: which source, its path and event-time span."""

    source: int
    path: str
    start_us: int
    end_us: int  # exclusive
    max_ts_us: int
    rows: int


def stage_skew_replay(
    sources: list[pa.Table],
    out_dir: str,
    hours_per_file: int,
    sentinel_key: str,
    sentinel_times: list[datetime],
) -> list[ReplayFile]:
    """Cut each source into ``hours_per_file`` event-time files, then
    append the close sentinels.

    The file stream replays files in modification-time order, so every
    file gets an explicit, strictly increasing mtime.  Each source
    lives in its own directory ``{out_dir}/src{i}``.
    """
    files: list[ReplayFile] = []
    span = hours_per_file * 3_600_000_000
    mtime = time.time() - 100_000.0
    for i, table in enumerate(sources):
        d = os.path.join(out_dir, f"src{i}")
        os.makedirs(d)
        ts = pc.cast(table["ts"], pa.int64()).to_numpy()
        slot = ts // span
        pieces = [(s, table.filter(pa.array(slot == s))) for s in np.unique(slot)]
        sentinel_ts = [_us(t.replace(tzinfo=None)) for t in sentinel_times]
        for t_us in sentinel_ts:
            row = pa.table(
                {
                    "url": [sentinel_key],
                    "ts": pa.array([t_us], pa.int64()).cast(table.schema.field("ts").type),
                    "event_id": ["sentinel"],
                },
                schema=table.schema,
            )
            pieces.append((None, row))
        for k, (s, piece) in enumerate(pieces):
            path = os.path.join(d, f"part-{k:04d}.parquet")
            pq.write_table(piece, path)
            mtime += 1.0
            os.utime(path, (mtime, mtime))
            piece_ts = pc.cast(piece["ts"], pa.int64())
            max_ts = pc.max(piece_ts).as_py()
            start, end = (s * span, (s + 1) * span) if s is not None else (max_ts, max_ts + 1)
            files.append(ReplayFile(i, path, start, end, max_ts, piece.num_rows))
    return files
