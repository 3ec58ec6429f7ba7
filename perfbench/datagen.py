"""Seeded inputs, generated once per checkout under the benchmark's
scratch directory and reused by later runs.

The TPC-H-style tables follow the schema and value domains of the
repository's fixtures (FIXTURES.md): one base shard is drawn with
numpy, then ``tools/gen_sf.py`` scales it by key-offset sharding into
one file per shard. The curation corpus comes from
``tools/gen_realdup.py`` (4% near-duplicate involvement).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _days(lo: int, hi: int, n: int, rng) -> pa.Array:
    """Uniform midnight timestamps between two day offsets from 1995-01-01."""
    d = rng.integers(lo, hi + 1, size=n) + EPOCH_1995
    return pa.array(d * US_PER_DAY, type=pa.timestamp("us"))


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def write_tpch_base(out_dir: str, sf: float, seed: int) -> None:
    """One shard of the fixture schema at scale ``sf``."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_l = int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = lambda a: pa.array(a, type=pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, type=pa.int64())  # noqa: E731
    pick = lambda opts, n: [opts[i] for i in rng.integers(0, len(opts), size=n)]  # noqa: E731
    tables = {
        "region": {"r_regionkey": i32(range(5)), "r_name": REGIONS},
        "nation": {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        },
        "customer": {
            "c_custkey": i64(range(n_c)),
            "c_name": _names("Customer", n_c),
            "c_nationkey": i32(rng.integers(0, 25, size=n_c)),
            "c_acctbal": _money(-999.99, 9999.99, n_c, rng),
            "c_mktsegment": pick(SEGMENTS, n_c),
        },
        "supplier": {
            "s_suppkey": i64(range(n_s)),
            "s_name": _names("Supplier", n_s),
            "s_nationkey": i32(rng.integers(0, 25, size=n_s)),
            "s_acctbal": _money(-999.99, 9999.99, n_s, rng),
        },
        "part": {
            "p_partkey": i64(range(n_p)),
            "p_name": [f"{a} {b}" for a, b in zip(pick(PART_ADJ, n_p), pick(PART_NOUN, n_p))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_p)],
            "p_type": pick(PART_TYPES, n_p),
            "p_size": i32(rng.integers(1, 51, size=n_p)),
            "p_retailprice": 900.0 + (np.arange(n_p) % 1000) / 10.0,
        },
        "orders": {
            "o_orderkey": i64(range(n_o)),
            "o_custkey": i64(rng.integers(0, n_c, size=n_o)),
            "o_orderstatus": pick(["F", "O", "P"], n_o),
            "o_totalprice": _money(1000.0, 500000.0, n_o, rng),
            "o_orderdate": _days(0, 2403, n_o, rng),
            "o_orderpriority": pick(PRIORITIES, n_o),
        },
        "lineitem": {
            "l_orderkey": i64(rng.integers(0, n_o, size=n_l)),
            "l_partkey": i64(rng.integers(0, n_p, size=n_l)),
            "l_suppkey": i64(rng.integers(0, n_s, size=n_l)),
            "l_linenumber": i32(rng.integers(1, 8, size=n_l)),
            "l_quantity": rng.integers(1, 51, size=n_l).astype(np.float64),
            "l_extendedprice": _money(900.0, 105000.0, n_l, rng),
            "l_discount": rng.integers(0, 11, size=n_l) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_l) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_l),
            "l_linestatus": pick(["F", "O"], n_l),
            "l_shipdate": _days(1, 2499, n_l, rng),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _build_once(dst: str, build) -> str:
    """Run ``build(tmp_dir)`` unless ``dst`` is complete; publish by rename
    so an interrupted build never leaves a half-written cache entry."""
    if os.path.isdir(dst):
        return dst
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.rename(tmp, dst)
    except OSError:  # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)
    return dst


def _tool(root: str, script: str, *args) -> None:
    subprocess.run(
        [sys.executable, os.path.join(root, "tools", script), *map(str, args)],
        check=True,
        stdout=subprocess.DEVNULL,
    )


def tpch_dataset(root: str, cache: str, base_sf: float, shards: int, seed: int) -> str:
    """``shards`` key-disjoint copies of a ``base_sf`` shard (multi-file)."""

    def build(tmp: str) -> None:
        base = os.path.join(tmp, "base")
        write_tpch_base(base, base_sf, seed)
        _tool(root, "gen_sf.py", base, os.path.join(tmp, "sf"), shards)
        shutil.rmtree(base)

    d = _build_once(os.path.join(cache, f"tpch-b{base_sf}-x{shards}-s{seed}"), build)
    return os.path.join(d, "sf")


def corpus_dataset(root: str, cache: str, n_docs: int, dup_rate: float, seed: int) -> str:
    return _build_once(
        os.path.join(cache, f"corpus-n{n_docs}-d{dup_rate}-s{seed}"),
        lambda tmp: _tool(root, "gen_realdup.py", tmp, n_docs, dup_rate, seed),
    )


def row_counts(data_dir: str, names) -> dict[str, int]:
    """Rows per table; a table is one parquet file or a directory of shards."""
    out = {}
    for n in names:
        p = os.path.join(data_dir, f"{n}.parquet")
        files = (
            [os.path.join(p, f) for f in sorted(os.listdir(p))] if os.path.isdir(p) else [p]
        )
        out[n] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return out
