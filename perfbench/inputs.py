"""Seeded input generator for the benchmark.

Every table the workloads read is made here from ``--seed`` alone, with
numpy and pyarrow (no Spark), so one seed always gives the same bytes and
the benchmark never reads data from outside its checkout.

- ``base``: the ten scale tables (TPC-H-like relations, ``events``,
  ``documents``, ``embeddings``) with the column types, value domains and
  row counts of the engine's sf0.01 test tables; row order is permuted by
  the seed.
- ``corpus``: the base tables plus a 10x ``documents``/``embeddings`` pair
  built the way ``tools/sf1_probe.py`` builds its 10x corpus: every doc is
  replicated into a 10-member near-duplicate group (one replica-tagged token
  each) and every embedding into 10 perturbed copies (the per-element
  perturbation and the row order come from the seed).
- ``star``: the base tables plus, under ``star/``, a 10x ``documents``
  table and the journal-quartile dimension for the star ETL. The article
  rows themselves come from the engine's ``plans.star_ops.synth_articles``
  (it needs Spark), so this module only writes the documents they derive
  from; ``perfbench.workloads`` renders the article JSON once per seed.

Inputs are cached per seed under the build directory; a finished build
leaves a ``manifest.json`` (rows and bytes per table) and is reused.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Base scale (the engine's sf0.01 row counts).
SF = 0.01
#: Near-duplicate group size of the corpus (``tools/sf1_probe.py``).
REPLICAS = 10
#: Subdirectory of a ``star`` input set that holds the star ETL's own
#: ``documents`` and ``journal_quartiles`` tables.
STAR_SUBDIR = "star"

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMB_DIM = 64

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _rows(base: int, sf: float) -> int:
    return max(1, int(round(base * sf / 0.01)))


def _write(table: pa.Table, path: str, parts: int = 1) -> None:
    """One parquet file per table, or a directory of ``parts`` files."""
    if parts == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


def _permuted(rng: np.random.Generator, cols: dict) -> pa.Table:
    n = len(next(iter(cols.values())))
    order = rng.permutation(n)
    return pa.table(
        {k: (v.take(pa.array(order)) if isinstance(v, pa.Array) else v[order])
         for k, v in cols.items()}
    )


def _strings(values) -> pa.Array:
    return pa.array(list(values), pa.string())


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i, k in enumerate(lengths):
        # ~5 % near-duplicates of an earlier doc, tagged like the test tables
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
    }


def _doc_table(docs: dict, rng: np.random.Generator) -> pa.Table:
    return _permuted(rng, {
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": _strings(docs["text"]),
        "lang": _strings(docs["lang"]),
        "source": _strings(docs["source"]),
        "n_chars": pa.array([len(t) for t in docs["text"]], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _emb_table(vecs: np.ndarray, labels: np.ndarray, rng: np.random.Generator) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, EMB_DIM, dtype=np.int32))
    return _permuted(rng, {
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def base_tables(rng: np.random.Generator, sf: float = SF) -> dict[str, pa.Table]:
    """The ten scale tables at scale ``sf`` (sf0.01 row counts at 0.01)."""
    n_cust, n_supp, n_part = _rows(1500, sf), _rows(100, sf), _rows(2000, sf)
    n_ord, n_ev, n_doc = _rows(15000, sf), _rows(10000, sf), _rows(500, sf)
    n_emb = max(500, _rows(200, sf))
    n_users = _rows(150, sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _strings(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": _strings(f"NATION_{i}" for i in range(25)),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = _permuted(rng, {
        "c_custkey": ck,
        "c_name": _strings(f"Customer#{i:09d}" for i in ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _strings(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust)),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = _permuted(rng, {
        "s_suppkey": sk,
        "s_name": _strings(f"Supplier#{i:09d}" for i in sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = ["small", "hot", "old", "blue", "red", "cold", "new", "large"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
    t["part"] = _permuted(rng, {
        "p_partkey": pk,
        "p_name": _strings(
            f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part),
                                                  rng.integers(0, 8, n_part))),
        "p_brand": _strings(f"Brand#{b}" for b in rng.integers(1, 26, n_part)),
        "p_type": _strings(rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part)),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(_DAY_US, "us")
    t["orders"] = _permuted(rng, {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _strings(rng.choice(["P", "O", "F"], n_ord)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": _strings(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    })
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    n_li = len(l_ok)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * np.timedelta64(_DAY_US, "us")
    t["lineitem"] = _permuted(rng, {
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_no,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _strings(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": _strings(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) * np.timedelta64(1, "us")
    t["events"] = _permuted(rng, {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _strings(rng.choice(
            ["click", "signup", "error", "view", "purchase"], n_ev)),
        "value": np.maximum(0.01, np.round(rng.exponential(40.0, n_ev), 2)),
        "props": _strings(f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)),
    })
    t["documents"] = _doc_table(_documents(rng, n_doc), rng)
    t["embeddings"] = _emb_table(
        _embeddings(rng, n_emb), rng.integers(0, 10, n_emb), rng
    )
    return t


def replicated_documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """10x documents: ``n_docs`` seed docs, each in a 10-member near-duplicate
    group with one replica-tagged token (``tools/sf1_probe.py``)."""
    docs = _documents(rng, n_docs)
    return _doc_table({
        "doc_id": np.concatenate([docs["doc_id"] + r * n_docs for r in range(REPLICAS)]),
        "text": [f"{t} replica{r}" for r in range(REPLICAS) for t in docs["text"]],
        "lang": np.concatenate([docs["lang"]] * REPLICAS),
        "source": [s for _ in range(REPLICAS) for s in docs["source"]],
    }, rng)


def replicated_embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    """10x embeddings: ``n_vecs`` seed vectors, each in 10 copies scaled
    per element by a seeded factor in 1 +- 3e-3 (``tools/sf1_probe.py``)."""
    vecs = _embeddings(rng, n_vecs)
    labels = rng.integers(0, 10, n_vecs)
    eps = 1.0 + rng.integers(-3, 4, (REPLICAS, EMB_DIM)) * 1e-3
    reps = np.concatenate([(vecs * eps[r]).astype(np.float32) for r in range(REPLICAS)])
    return _emb_table(reps, np.tile(labels, REPLICAS), rng)


def quartile_table(rng: np.random.Generator, journals: list[str]) -> pa.Table:
    """Journal-quartile dimension (journal, year, quartile, issn): each
    journal gets a seeded subset of the years 2000-2024."""
    rows = {"journal": [], "year": [], "quartile": [], "issn": []}
    for j, name in enumerate(journals):
        years = np.flatnonzero(rng.random(25) < 0.6) + 2000
        for y in years:
            rows["journal"].append(name)
            rows["year"].append(int(y))
            rows["quartile"].append(f"Q{int(rng.integers(1, 5))}")
            rows["issn"].append(f"IS{j}-{int(rng.integers(0, 3))}")
    return pa.table({
        "journal": _strings(rows["journal"]),
        "year": pa.array(rows["year"], pa.int32()),
        "quartile": _strings(rows["quartile"]),
        "issn": _strings(rows["issn"]),
    })


def data_files(path: str) -> list[str]:
    """``path`` itself if it is a file, else the files under it without
    Spark's ``.crc`` and ``_SUCCESS`` files."""
    if os.path.isfile(path):
        return [path]
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if not f.startswith((".", "_"))]


def data_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in data_files(path))


def build(cache_root: str, kind: str, seed: int, **size) -> tuple[str, dict]:
    """Build (or reuse) the ``kind`` inputs for ``seed`` and return
    ``(directory, manifest)``. The manifest maps each table to its rows and
    bytes. ``size`` keys: ``sf`` for every kind; ``docs``/``vecs`` for
    ``corpus``; ``journals`` for ``star``."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(cache_root, f"{kind}-{tag}-seed{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    tables = base_tables(rng, size.get("sf", SF))
    parts = {}
    if kind == "corpus":
        tables["documents"] = replicated_documents(rng, size["docs"])
        tables["embeddings"] = replicated_embeddings(rng, size["vecs"])
        parts = {"documents": 4, "embeddings": 4}
    elif kind == "star":
        tables[f"{STAR_SUBDIR}/documents"] = replicated_documents(rng, size["docs"])
        tables[f"{STAR_SUBDIR}/journal_quartiles"] = quartile_table(
            rng, [f"Pub{i}" for i in range(size["journals"])]
        )
        os.makedirs(os.path.join(out, STAR_SUBDIR))
    elif kind != "base":
        raise ValueError(f"unknown input kind {kind!r}")
    manifest = {}
    for name, table in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        _write(table, path, parts.get(name, 1))
        manifest[name] = {"rows": table.num_rows, "bytes": data_bytes(path)}
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return out, manifest
