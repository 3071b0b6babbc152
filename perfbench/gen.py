"""Seeded input generation for the benchmark (never timed).

Everything the program reads is made here from ``--seed``: the parquet
tables of the query workloads, the SIRENE import fixture and the salted
curation corpus. The same seed and size give
byte-identical inputs. Value domains follow the engine's reference test
tables (TPC-H-like star schema, an ``events`` stream table, a
``documents`` corpus with 5% near-duplicates and a ``embeddings`` table
of unit vectors), so every query keeps its usual plan shape.
"""

from __future__ import annotations

import datetime as dt
import zipfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.41, 0.14, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

ORDER_DATES = (dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))
SHIP_DATES = (dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))
EVENT_SPAN = (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31))


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per table, so adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _days(rng, span, n) -> np.ndarray:
    lo, hi = span
    d = rng.integers(0, (hi - lo).days + 1, n)
    return np.datetime64(lo, "us") + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def table_rows(sf: float) -> dict[str, int]:
    """Row count of each table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def make_tables(out: Path, sf: float, seed: int) -> dict[str, int]:
    """Write the ten parquet tables of the query workloads to ``out``.
    Returns the row count per table."""
    out.mkdir(parents=True, exist_ok=True)
    n = table_rows(sf)
    i32 = pa.int32()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": list(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    r = _rng(seed, "customer")
    k = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k)],
    })

    r = _rng(seed, "supplier")
    k = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })

    r = _rng(seed, "part")
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, k)],
        "p_size": r.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })

    r = _rng(seed, "orders")
    k = n["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": _days(r, ORDER_DATES, k),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)],
    })

    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": r.integers(0, n["orders"], k),
        "l_partkey": r.integers(0, n["part"], k),
        "l_suppkey": r.integers(0, n["supplier"], k),
        "l_linenumber": r.integers(1, 8, k).astype(np.int32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": _days(r, SHIP_DATES, k),
    })

    r = _rng(seed, "events")
    k = n["events"]
    span_us = int((EVENT_SPAN[1] - EVENT_SPAN[0]).total_seconds() * 1e6)
    offsets = np.sort(r.integers(0, span_us, k))
    _write(out, "events", {
        "event_id": np.arange(k, dtype=np.int64),
        "ts": np.datetime64(EVENT_SPAN[0], "us") + offsets.astype("timedelta64[us]"),
        "user_id": r.integers(0, max(1, n["customer"] // 10), k),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })

    texts = doc_texts(n["documents"], seed)
    r = _rng(seed, "documents-meta")
    k = n["documents"]
    _write(out, "documents", {
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, k, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    r = _rng(seed, "embeddings")
    k = n["embeddings"]
    vecs = r.standard_normal((k, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": r.integers(0, 10, k).astype(np.int32),
    })
    return n


def doc_texts(k: int, seed: int) -> list[str]:
    """``k`` documents of 10-100 words; every 20th is a near-duplicate
    (an earlier document plus the token ``dup``)."""
    r = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(k):
        if i % 20 == 19:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[r.integers(0, len(vocab), r.integers(10, 101))]))
    return texts


# --- import fixtures -------------------------------------------------------

SIRENE_DESSIN = """\
Nom,Libellé,Longueur,Type,Ordre
siren,Numéro SIREN,9,Texte,1
denominationUniteLegale,Dénomination,120,Texte,2
dateCreationUniteLegale,Date de création,10,Date,3
anneeEffectifs,Année,4,Date,4
nombrePeriodes,Périodes,2,Numérique,5
trancheEffectifs,Tranche,2,Texte,6
"""

SURNAMES = (
    "MARTIN BERNARD THOMAS PETIT ROBERT RICHARD DURAND DUBOIS MOREAU LAURENT "
    "SIMON MICHEL LEFEBVRE LEROY ROUX DAVID BERTRAND MOREL FOURNIER GIRARD"
).split()


def make_sirene(out: Path, rows: int, seed: int) -> int:
    """A SIRENE directory: the dessin CSV plus one zipped UTF-8 CSV of
    ``rows`` legal units (some dates and counts dirty on purpose, as in
    the real stock files)."""
    out.mkdir(parents=True, exist_ok=True)
    (out / "dessinstockunitelegale.csv").write_text(SIRENE_DESSIN, encoding="utf-8")
    r = _rng(seed, "sirene")
    sirens = r.choice(900_000_000, rows, replace=False) + 100_000_000
    years = r.integers(1950, 2024, rows)
    months = r.integers(1, 13, rows)
    days = r.integers(1, 29, rows)
    lines = [
        "siren,denominationUniteLegale,dateCreationUniteLegale,"
        "anneeEffectifs,nombrePeriodes,trancheEffectifs"
    ]
    for i in range(rows):
        date = "" if i % 17 == 0 else f"{years[i]}-{months[i]:02d}-{days[i]:02d}"
        periods = "x" if i % 23 == 0 else str(int(r.integers(0, 90)))
        name = f"SOC {SURNAMES[i % len(SURNAMES)]} {int(r.integers(0, 10_000))}"
        lines.append(
            f"{sirens[i]},{name},{date},{int(r.integers(2000, 2024))},"
            f"{periods},{int(r.integers(0, 54)):02d}"
        )
    with zipfile.ZipFile(out / "StockUniteLegale_utf8.zip", "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("-", "\n".join(lines) + "\n")
    return rows


def make_curation_corpus(out: Path, docs: int, seed: int) -> dict[str, int]:
    """Salted copy of the generated documents for ``curate_corpus``:
    every document appears twice; the copy is salted with a seeded token
    for 70% of documents and left identical (an exact duplicate) for the
    rest. Only the salting comes from ``seed``: the documents themselves
    are the same for every seed, so curation does the same work on every
    seed. Returns the input and exact-distinct counts."""
    out.parent.mkdir(parents=True, exist_ok=True)
    base = doc_texts(docs, 0)
    r = _rng(seed, "salt")
    salted = [
        t + f" salt{int(r.integers(0, 1_000_000))}" if r.random() < 0.7 else t
        for t in base
    ]
    texts = base + salted
    k = len(texts)
    pq.write_table(pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[_rng(0, "salt-lang").choice(5, k, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), out)
    return {"n_input": k, "n_distinct": len(set(texts))}
