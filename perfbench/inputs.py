"""Seeded synthetic inputs for the benchmark workloads.

Every table is written in the physical layout the library reads (one
parquet file per table, ``timestamp[us]`` without a zone, ``int64``
keys), so the library receives only these files. The rows themselves
come from one fixed base draw; the workload seed sets their order, and
where the landing zone is cut into files. So every seed gives the ops
the same work in another physical layout, and runs with different
seeds differ only by how fast they were, not by what they computed.
The same seed always gives byte-identical tables; row counts and key
ranges are fixed by the sizes below.

- ``star``: a TPC-H-shaped star schema. A base copy is generated, then
  replicated ``STAR_REPLICAS`` times with every key column shifted by
  ``replica * stride`` (stride = max key + 1), so every foreign-key join
  stays valid and join selectivities match the base copy. The row order
  of each table is a seeded permutation.
- ``corpus``: ``documents`` (word sequences with planted exact and near
  duplicates) and ``embeddings`` (unit vectors around ten label
  centres), each in a seeded row order. ``documents`` is also cut into
  several files at seeded boundaries under ``landing/documents``, as a
  landing zone a file stream drains.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STAR_BASE = {"customer": 750, "supplier": 50, "part": 1000, "orders": 7500}
STAR_REPLICAS = 2
N_DOCUMENTS = 300
N_EMBEDDINGS = 200
EMBED_DIM = 64
N_LANDING_FILES = 2
BASE_SEED = 20240501  # the rows every seed reorders

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big "
    "stream filter vector group"
).split()
STOPWORDS = {
    "en": ["the", "a", "and", "of"],
    "de": ["der", "die", "und", "das"],
    "es": ["el", "la", "que", "y"],
    "fr": ["le", "et", "les", "des"],
    "zh": ["数据", "查询", "表"],
}
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# key column -> domain; columns sharing a domain shift by the same stride
STAR_KEYS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "region": {},
    "nation": {},
}

def _days(start: str, n: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "D").astype("datetime64[us]") + n.astype(
        "timedelta64[D]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_base(rng: np.random.Generator) -> dict[str, pa.Table]:
    """One unreplicated copy of the star schema."""
    nc, ns, npart, no = (STAR_BASE[k] for k in ("customer", "supplier", "part", "orders"))
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    pk = np.arange(npart, dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    odate = _days("1995-01-01", rng.integers(0, 2400, no))
    orders = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": odate,
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    nl = len(okey)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lpart = rng.integers(0, npart, nl).astype(np.int64)
    price = np.round(qty * (900.0 + (lpart % 1000) * 0.1) * rng.uniform(0.95, 1.05, nl), 2)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, nl).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": lpart,
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": ship,
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def replicate(base: dict[str, pa.Table], factor: int, rng: np.random.Generator) -> dict[str, pa.Table]:
    """Key-offset replica: ``factor`` copies, keys shifted per copy, rows
    in a seeded order. Dimension tables without keys stay single."""
    strides: dict[str, int] = {}
    for tab, cols in STAR_KEYS.items():
        for col, dom in cols.items():
            mx = int(pc.max(base[tab][col]).as_py())
            strides[dom] = max(strides.get(dom, 0), mx + 1)
    out = {}
    for tab, t in base.items():
        keyed = STAR_KEYS[tab]
        if not keyed:
            out[tab] = t
            continue
        copies = []
        for i in range(factor):
            cols = {
                name: (
                    pa.array(t[name].to_numpy() + i * strides[keyed[name]])
                    if name in keyed
                    else t[name]
                )
                for name in t.column_names
            }
            copies.append(pa.table(cols, schema=t.schema))
        full = pa.concat_tables(copies)
        out[tab] = full.take(rng.permutation(full.num_rows))
    return out


def documents(rng: np.random.Generator, n: int = N_DOCUMENTS) -> pa.Table:
    """Word-sequence documents. About 12% repeat an earlier text exactly
    and 18% are near duplicates of one (a few words replaced), so the
    dedup operators find real clusters."""
    texts: list[str] = []
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.12:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.30:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
            continue
        vocab = WORDS + STOPWORDS[langs[i]]
        k = int(rng.integers(10, 101))
        texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), k)))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int = N_EMBEDDINGS, dim: int = EMBED_DIM) -> pa.Table:
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    v = centres[labels] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def split_files(t: pa.Table, n_files: int, rng: np.random.Generator) -> list[pa.Table]:
    """Cut a table into ``n_files`` contiguous, non-empty slices at seeded
    boundaries (each slice at least half an even share)."""
    share = t.num_rows // n_files
    sizes = share // 2 + rng.multinomial(t.num_rows - n_files * (share // 2), [1 / n_files] * n_files)
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    return [t.slice(int(a), int(b - a)) for a, b in zip(bounds[:-1], bounds[1:])]


def _write(t: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(t, tmp)
    os.replace(tmp, path)


def build(kind: str, seed: int, out_dir: str) -> dict:
    """Write the ``kind`` input set for ``seed`` into ``out_dir`` and
    return its manifest: rows and bytes per table."""
    kind_id = {"star": 1, "corpus": 2}[kind]
    base_rng = np.random.default_rng([BASE_SEED, kind_id])
    rng = np.random.default_rng([seed, kind_id])
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    files: dict[str, list[pa.Table]] = {}
    if kind == "star":
        tables = replicate(star_base(base_rng), STAR_REPLICAS, rng)
    elif kind == "corpus":
        tables = {
            name: t.take(rng.permutation(t.num_rows))
            for name, t in (("documents", documents(base_rng)), ("embeddings", embeddings(base_rng)))
        }
        files = {"documents": split_files(tables["documents"], N_LANDING_FILES, rng)}
    else:
        raise ValueError(kind)
    manifest: dict = {"kind": kind, "seed": seed, "tables": {}}
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        entry = {"rows": t.num_rows}
        if name in files:
            zone = os.path.join(out_dir, "landing", name)
            os.makedirs(zone, exist_ok=True)
            for i, part in enumerate(files[name]):
                _write(part, os.path.join(zone, f"part-{i:03d}.parquet"))
            entry["files"] = len(files[name])
        entry["bytes"] = _dir_bytes(out_dir, name)
        manifest["tables"][name] = entry
    validate(kind, out_dir, manifest)
    return manifest


def _dir_bytes(out_dir: str, name: str) -> int:
    zone = os.path.join(out_dir, "landing", name)
    if os.path.isdir(zone):
        return sum(os.path.getsize(os.path.join(zone, f)) for f in os.listdir(zone))
    return os.path.getsize(os.path.join(out_dir, f"{name}.parquet"))


def expected_rows(kind: str) -> dict[str, int | None]:
    """Row counts the generator promises (None: seed-dependent)."""
    if kind == "star":
        r = STAR_REPLICAS
        return {
            "region": 5,
            "nation": 25,
            "customer": STAR_BASE["customer"] * r,
            "supplier": STAR_BASE["supplier"] * r,
            "part": STAR_BASE["part"] * r,
            "orders": STAR_BASE["orders"] * r,
            "lineitem": None,
        }
    return {"documents": N_DOCUMENTS, "embeddings": N_EMBEDDINGS}


def validate(kind: str, out_dir: str, manifest: dict) -> None:
    """Re-read what was written and check row counts and key ranges."""
    for name, want in expected_rows(kind).items():
        t = pq.read_table(os.path.join(out_dir, f"{name}.parquet"))
        if want is not None and t.num_rows != want:
            raise RuntimeError(f"{name}: {t.num_rows} rows, expected {want}")
        if manifest["tables"][name]["rows"] != t.num_rows:
            raise RuntimeError(f"{name}: manifest row count mismatch")
        for col in STAR_KEYS.get(name, {}):
            keys = t[col].to_numpy()
            if keys.min() < 0:
                raise RuntimeError(f"{name}.{col}: negative key")
        if kind == "star" and name in ("customer", "supplier", "part", "orders"):
            col = next(iter(STAR_KEYS[name]))
            keys = t[col].to_numpy()
            if len(np.unique(keys)) != t.num_rows or keys.max() != t.num_rows - 1:
                raise RuntimeError(f"{name}.{col}: keys are not 0..{t.num_rows - 1}")
        zone = os.path.join(out_dir, "landing", name)
        if os.path.isdir(zone):
            parts = pq.read_table(zone)
            if parts.num_rows != t.num_rows:
                raise RuntimeError(f"{name}: landing zone holds {parts.num_rows} rows")
    if kind == "star":
        li = pq.read_table(os.path.join(out_dir, "lineitem.parquet"), columns=["l_orderkey"])
        if li["l_orderkey"].to_numpy().max() >= STAR_BASE["orders"] * STAR_REPLICAS:
            raise RuntimeError("lineitem.l_orderkey outside the orders key range")
