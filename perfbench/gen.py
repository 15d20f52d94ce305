"""Seeded input generators for the workloads, with an on-disk cache.

Every generator is a pure function of ``(seed, scale)``: the same arguments
give byte-identical parquet files, other seeds give other inputs. Inputs are
written once per ``(workload, seed, scale)`` under the cache directory and
reused by later runs; generation never runs inside set-up or a timed region.
"""

from __future__ import annotations

import itertools
import json
import os
import random

import pandas as pd

# Word list and shape of the sf-scaled ``documents`` tables the registered
# queries read: 10-100 words drawn uniformly from a 30-word vocabulary, no
# punctuation, so nearly every sentence fills the kernel's 48-token window.
_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3

# Input size per unit scale, fixed in words and characters rather than in
# documents, so that every seed gives the same amount of work (the 50x crawl
# pages alone would move it by +-10%). See README.md for the measured times.
EXTRACT_WORDS = 39_600  # ~720 documents
CRAWL_CHARS = 45_000  # ~150 pages
LINEITEMS = 6_000
LINEITEMS_PER_PART = 30


def _rng(table: str, seed: int) -> random.Random:
    # str seeds hash through sha512: stable across processes and versions
    return random.Random(f"{table}/{seed}")


def documents(seed: int, scale: float = 1.0) -> pd.DataFrame:
    """``documents`` table (doc_id, text, lang)."""
    rng = _rng("documents", seed)
    rows, n_words = [], 0
    while n_words < EXTRACT_WORDS * scale or len(rows) < 4:
        words = [rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 100))]
        rows.append((len(rows), " ".join(words), rng.choice(_LANGS)))
        n_words += len(words)
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang"])


def crawl_pages(seed: int, scale: float = 1.0) -> pd.DataFrame:
    """Common-Crawl-style pages from ``sources.pages`` (skewed: 1% of pages
    are 50x longer) with ``text`` nulled, so only the html remains."""
    from deepex_spark.sources.pages import synth_page_rows

    n = 64
    while True:
        rows = synth_page_rows(n_docs=n, seed=seed, skew=True)
        chars = itertools.accumulate(len(r[3]) for r in rows)
        end = next((i + 1 for i, c in enumerate(chars) if c >= CRAWL_CHARS * scale), None)
        if end is not None:
            break
        n *= 2
    df = pd.DataFrame(rows[: max(end, 4)], columns=["url", "warc_ts", "html", "text", "lang"])
    df["text"] = pd.array([None] * len(df), dtype="string")
    df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
    return df


def aliases(seed: int) -> pd.DataFrame:
    """Alias dictionary: a seeded half of the corpus entities mapped to
    canonical ids, plus aliases that match nothing. Keys are unique after
    ``lower(trim(.))``, so the join's ``dropDuplicates`` picks no winner."""
    from deepex_spark.sources.pages import _OBJECTS, _SUBJECTS

    rng = _rng("aliases", seed)
    names = sorted(set(_SUBJECTS) | set(_OBJECTS))
    linked = rng.sample(names, len(names) // 2)
    rows = [(name, f"ent:{name.lower().replace(' ', '_')}") for name in sorted(linked)]
    for i in range(200):
        rows.append((f"unmatched alias {seed} {i}", f"ent:none_{i}"))
    return pd.DataFrame(rows, columns=["alias", "canonical"])


def lineitem(seed: int, scale: float = 1.0) -> pd.DataFrame:
    """Lineitem-shaped ``(l_orderkey, l_partkey)``: orders of 1-13 items
    (mostly 1-7, mean ~4 as in the sf-scaled lineitem tables), ~30
    lineitems per part, no part twice in one order."""
    rng = _rng("lineitem", seed)
    n = max(60, round(LINEITEMS * scale))
    n_parts = max(14, n // LINEITEMS_PER_PART)
    okeys, pkeys = [], []
    order = 0
    while len(okeys) < n:
        size = rng.randint(8, 13) if rng.random() < 0.02 else rng.randint(1, 7)
        for p in rng.sample(range(1, n_parts + 1), size):
            okeys.append(order)
            pkeys.append(p)
        order += 1
    return pd.DataFrame({"l_orderkey": okeys, "l_partkey": pkeys}, dtype="int64")


def _write(df: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    df.to_parquet(tmp, index=False)
    os.replace(tmp, path)


def materialize(workload: str, seed: int, scale: float, cache_root: str) -> str:
    """Write the workload's inputs under ``cache_root`` unless present;
    returns the input directory."""
    sizes = f"{EXTRACT_WORDS}-{CRAWL_CHARS}-{LINEITEMS}-{LINEITEMS_PER_PART}"
    d = os.path.join(cache_root, f"{workload}-seed{seed}-scale{scale:g}-sizes{sizes}")
    done = os.path.join(d, "_inputs.json")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    if workload == "extract_longsent":
        tables = {"documents": documents(seed, scale)}
    elif workload == "kg_build_graph":
        tables = {"pages": crawl_pages(seed, scale), "aliases": aliases(seed),
                  "lineitem": lineitem(seed, scale)}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    for name, df in tables.items():
        _write(df, os.path.join(d, f"{name}.parquet"))
    with open(done, "w") as f:
        json.dump({name: len(df) for name, df in tables.items()}, f)
    return d
