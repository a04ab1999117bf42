"""Deterministic input generation for the benchmark.

Two kinds of input, both written under the benchmark's work directory:

- the **fixture**: the ten contract tables (TESTDATA.md schemas) at a fixed
  scale and a fixed seed, so every run and every seed reads the same
  tables and the oracle hashes stay comparable across runs. Written once
  per checkout (the "build" step) and reused.
- the **ETL input** of the ``etl`` workload: ``q_etl_pipeline``'s dirtied
  four-column slice of the fixture's lineitem, replicated with the
  orderkey shifted as ``tools/make_scale_data.py`` shifts it, written as a
  directory of CSV part files. The ``--seed`` drives only the row order and
  the part-file split, so the cleaned output is the same for every seed
  when the pipeline is partition-invariant.

Each table is written as one parquet row group, like the contract fixture,
so ``session.load_table`` makes the same widening decisions on it.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed seed of the fixture tables (the contract fixture uses 42 too).
FIXTURE_SEED = 42
#: Bumped whenever the generator's output changes, so a stale fixture in a
#: reused work directory is regenerated instead of silently reused.
GENERATOR_VERSION = 1
#: Orderkey shift between ETL-input copies (tools/make_scale_data.py).
COPY_KEY_OFFSET = 10_000_000_000

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "small", "red", "cold", "green"]
_PART_NOUN = ["ring", "bolt", "plate", "anvil", "widget", "gear", "pipe", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, as exact cents divided once (DECIMAL-friendly)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(base: str, rng: np.random.Generator, span: int, n: int) -> np.ndarray:
    return np.datetime64(base, "us") + rng.integers(0, span, n) * np.timedelta64(
        86_400_000_000, "us"
    )


def _write(path: str, cols: dict[str, pa.Array]) -> int:
    table = pa.table(cols)
    pq.write_table(table, path, compression="snappy", row_group_size=table.num_rows or 1)
    return table.num_rows


def fixture_tables(scale: float) -> dict[str, dict[str, pa.Array]]:
    """The ten contract tables at ``scale`` (lineitem = 6,000,000 × scale)."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, dict[str, pa.Array]] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }
    adj = np.array(_PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, 8, n_part)]
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days("1995-01-01", rng, 2405, n_ord)),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days("1995-01-02", rng, 2499, n_line)),
    }
    ts_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(100, int(15_000 * scale)), n_ev), i64),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    texts = []
    for i in range(n_doc):
        if i >= 100 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), n_tok)]))
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, 5, n_doc)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(x) for x in texts], i64),
    }
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    }
    return t


def ensure_fixture(root: str, scale: float) -> tuple[str, dict]:
    """Write the fixture under ``root`` unless an identical one is there.

    Returns (sf_dir, manifest); the manifest records the generator version,
    scale and per-table row counts and bytes."""
    key = f"v{GENERATOR_VERSION}_s{scale}"
    sf_dir = os.path.join(root, f"fixture_{key}")
    manifest_path = os.path.join(sf_dir, "MANIFEST.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return sf_dir, json.load(f)
    tmp = sf_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = {}
    for name, cols in fixture_tables(scale).items():
        path = os.path.join(tmp, f"{name}.parquet")
        rows = _write(path, cols)
        tables[name] = {"rows": rows, "bytes": os.path.getsize(path)}
    manifest = {"generator_version": GENERATOR_VERSION, "scale": scale,
                "seed": FIXTURE_SEED, "tables": tables}
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(sf_dir, ignore_errors=True)
    os.rename(tmp, sf_dir)
    return sf_dir, manifest


def etl_input_frame(sf_dir: str, slice_rows: int, copies: int):
    """``q_etl_pipeline``'s raw projection of the first ``slice_rows`` rows
    of lineitem, ``copies`` times with the orderkey shifted per copy, as a
    pandas frame of strings."""
    import pandas as pd

    li = pq.read_table(
        os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_linenumber", "l_extendedprice",
                 "l_shipdate", "l_returnflag"],
    ).slice(0, slice_rows).to_pandas()
    price = "$" + li["l_extendedprice"].map(repr)
    price = price.where(li["l_linenumber"] != 3, "N/A")
    ship = li["l_shipdate"].dt.strftime("%d/%m/%Y")
    frames = [
        pd.DataFrame({
            "okey": (li["l_orderkey"] + i * COPY_KEY_OFFSET).astype(str),
            "price": price, "ship": ship, "flag": li["l_returnflag"],
        })
        for i in range(copies)
    ]
    return pd.concat(frames, ignore_index=True)


def ensure_etl_input(root: str, sf_dir: str, slice_rows: int, copies: int, seed: int) -> dict:
    """Write the seed's CSV input once and reuse it on later runs.

    The seed permutes the rows and picks the number of part files (2-6) and
    their cut points. Returns a record of the path, seed, rows and bytes."""
    path = os.path.join(
        root, f"etl_input_{os.path.basename(sf_dir)}_r{slice_rows}_c{copies}_seed{seed}.csv")
    record_path = path + ".json"
    if os.path.exists(record_path):
        with open(record_path) as f:
            return json.load(f)
    rng = np.random.default_rng(seed)
    frame = etl_input_frame(sf_dir, slice_rows, copies)
    frame = frame.iloc[rng.permutation(len(frame))]
    n_parts = int(rng.integers(2, 7))
    cuts = np.sort(rng.choice(np.arange(1, len(frame)), n_parts - 1, replace=False))
    bounds = [0, *cuts.tolist(), len(frame)]
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    part_bytes = []
    for i in range(n_parts):
        part = os.path.join(tmp, f"part-{i:05d}.csv")
        frame.iloc[bounds[i]:bounds[i + 1]].to_csv(part, index=False)
        part_bytes.append(os.path.getsize(part))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    record = {"path": path, "seed": seed, "slice_rows": slice_rows, "copies": copies,
              "rows": len(frame),
              "parts": n_parts, "part_bytes": part_bytes, "bytes": sum(part_bytes)}
    with open(record_path, "w") as f:
        json.dump(record, f, sort_keys=True)
    return record
