"""Seeded inputs: stock-tick files for the two stream workloads and
sf0.1-shaped parquet tables for the query suite.

Everything here is a pure function of the seed, so two runs with the same
seed see byte-identical inputs. The engine only ever sees the files.
The tables follow the column names, types and value ranges of the
repository's sf0.1 fixtures (``FIXTURES.md`` section B), one row group
per file as there, so every scan is one task.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Event time of tick second 0. Fixed, so window boundaries do not depend
#: on when the run happens.
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

_VOCAB = (
    "query row stream the spark line small fast group customer batch sort value "
    "hash filter big data dup part column order scan a slow agg key window table "
    "merge vector join"
).split()


def _iso(sec: int) -> str:
    return (T0 + timedelta(seconds=sec)).isoformat()


def symbols(n: int) -> list[str]:
    return [f"S{i:04d}" for i in range(n)]


def tick_lines(rng: np.random.Generator, syms: list[str], sec: int) -> str:
    """One NDJSON file body: one tick per symbol for event second ``sec``.

    About a tenth of the ticks have ``size_per_sec = 0`` (left out of the
    SMA sum and count) and a third are ``filled``, so every branch of the
    aggregate is exercised."""
    n = len(syms)
    vwap = np.round(rng.uniform(10.0, 500.0, n), 2)
    size = np.where(rng.random(n) < 0.1, 0, rng.integers(1, 1000, n))
    real = rng.random(n) >= 1 / 3
    now, nxt = _iso(sec), _iso(sec + 1)
    rows = []
    for s, v, z, r in zip(syms, vwap.tolist(), size.tolist(), real.tolist()):
        rows.append(
            f'{{"symbol":"{s}","type":"stock","start":"{now}","end":"{nxt}",'
            f'"current_time":"{now}","last_data_time":"{now}",'
            f'"real_data_count":{int(r)},"filled_data_count":{int(not r)},'
            f'"real_or_filled":"{"real" if r else "filled"}",'
            f'"vwap_price_per_sec":{v},"size_per_sec":{z},'
            f'"volume_till_now":{1000.0 + sec},"yesterday_price":100.0,'
            f'"price_change_percentage":0.5}}'
        )
    return "\n".join(rows) + "\n"


def write_tick_files(
    seed: int, out_dir: str, n_symbols: int, first_sec: int, n_secs: int
) -> list[str]:
    """Write one file per event second into ``out_dir`` and return the
    file names in event-time order. File mtimes are set one second apart
    in the same order, because the file source orders new files by mtime."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, first_sec])
    syms = symbols(n_symbols)
    names = []
    for sec in range(first_sec, first_sec + n_secs):
        name = f"ticks_{sec:06d}.json"
        path = os.path.join(out_dir, name)
        with open(path, "w") as fh:
            fh.write(tick_lines(rng, syms, sec))
        os.utime(path, (1_600_000_000 + sec, 1_600_000_000 + sec))
        names.append(name)
    return names


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, table.num_rows)
    )


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int):
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def write_tables(seed: int, out_dir: str, sf: float = 0.1) -> None:
    """sf-scaled TPC-H-ish tables plus ``events``, ``documents`` and
    ``embeddings`` (row counts at sf0.1: lineitem 600k, orders 150k,
    part 20k, customer 15k, supplier 1k, documents 5k, embeddings 2k)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    adjs = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    nouns = np.array(["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(
            np.char.add(adjs[rng.integers(0, 8, n_part)], " "), nouns[rng.integers(0, 8, n_part)]
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("ms")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    }))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line), pa.timestamp("ms")),
    }))
    n_ev = int(1_000_000 * sf)
    ev_ts = np.datetime64("2024-01-01", "ns") + rng.integers(
        0, 30 * 86_400 * 10**9, n_ev
    ).astype("timedelta64[ns]")
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(ev_ts), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    }))
    n_doc = int(50_000 * sf)
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n_doc)
    ]
    for i in rng.choice(n_doc, n_doc // 500, replace=False):  # exact duplicates
        texts[i] = texts[(i + 1) % n_doc]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    n_emb, dim = int(20_000 * sf), 64
    vec = rng.standard_normal((n_emb, dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }))
