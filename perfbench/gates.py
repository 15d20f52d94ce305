"""Correctness gates: each workload's output against an oracle that does
not share its execution path.

* triples: a seeded sample of documents, row for row, against the
  single-process ``local_oracle.local_pipeline``;
* vertices and edges: re-derived in DuckDB from the checkpointed triples,
  the alias dictionary and ``nlp.keywords.lemma`` over the predicates;
* graph queries: each query's own registered ``oracle_sql()`` in DuckDB.

A gate returns a list of problems; an empty list means the output passed.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pandas as pd

# Output columns of ``pipeline_triples``; the kg checkpoint carries these
# plus bookkeeping columns, and the local oracle produces all of them.
TRIPLE_COLS = [
    "docid", "subj", "rel", "obj", "subj_s", "subj_e", "obj_s", "obj_e",
    "score", "offset", "contrastive_dis", "rank",
]
_FLOAT_COLS = {"score", "contrastive_dis"}


def _row_key(r: dict, cols) -> tuple:
    return tuple(round(r[c], 12) if c in _FLOAT_COLS else r[c] for c in cols)


def compare_rows(got: list[dict], want: list[dict], cols=TRIPLE_COLS) -> list[str]:
    """Multiset equality of two row lists on ``cols``, floats rounded to 12
    places (as tests/test_parity.py does)."""
    g = Counter(_row_key(r, cols) for r in got)
    w = Counter(_row_key(r, cols) for r in want)
    if g == w:
        return []
    missing, extra = w - g, g - w
    return [
        f"{sum(missing.values())} oracle rows missing, {sum(extra.values())} extra "
        f"(of {len(want)}); e.g. missing={list(missing)[:1]} extra={list(extra)[:1]}"
    ]


def oracle_triples(pages: list[tuple[str, str]]) -> dict[str, list[dict]]:
    """(docid, text) -> {docid: rows} from the single-process pipeline."""
    from deepex_spark.config import DeepExConfig
    from deepex_spark.local_oracle import local_pipeline

    out: dict[str, list[dict]] = {d: [] for d, _ in pages}
    for r in local_pipeline(pages, DeepExConfig.small()):
        out[r["docid"]].append({c: r[c] for c in TRIPLE_COLS})
    return out


def check_sample(got: dict, want: dict) -> list[str]:
    problems = []
    for docid, rows in want.items():
        problems += [f"doc {docid}: {p}" for p in compare_rows(got.get(docid, []), rows)]
    return problems


def _duck(catalog_dir: str, alias_path: str):
    import duckdb

    con = duckdb.connect()
    for t in ("triples", "vertices", "edges"):
        glob = os.path.join(catalog_dir, t, "**", "*.parquet")
        con.execute(
            f"CREATE VIEW spark_{t} AS SELECT * FROM read_parquet('{glob}', hive_partitioning=true)"
        )
    con.execute(f"CREATE VIEW aliases AS SELECT * FROM read_parquet('{alias_path}')")
    return con


# Same normalizations as operators/linking.py and operators/canonicalize.py,
# restated in DuckDB SQL (linking key, entity and predicate canonical forms).
_LINKED = r"""
CREATE TABLE linked AS
WITH dict AS (
  SELECT lower(trim(alias)) AS k, min(canonical) AS canonical FROM aliases GROUP BY 1
),
t AS (
  SELECT t.*, coalesce(ds.canonical, lower(trim(t.subj))) AS subj_entity,
         coalesce(dobj.canonical, lower(trim(t.obj))) AS obj_entity
  FROM spark_triples t
  LEFT JOIN dict ds ON ds.k = lower(trim(t.subj))
  LEFT JOIN dict dobj ON dobj.k = lower(trim(t.obj))
)
SELECT *,
  trim(regexp_replace(regexp_replace(lower(subj_entity), '\s+', ' ', 'g'),
       '^(the|a|an|this|that|these|those) ', '')) AS subj_canon,
  trim(regexp_replace(regexp_replace(lower(obj_entity), '\s+', ' ', 'g'),
       '^(the|a|an|this|that|these|those) ', '')) AS obj_canon,
  trim(regexp_replace(regexp_replace(lower(rel), '[^\x00-\x7F]+', ' ', 'g'), '\s+', ' ', 'g'))
    AS pred_norm
FROM t
"""

_VERTICES = """
SELECT canonical, CAST(count(DISTINCT docid) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_mentions, list_sort(list_distinct(list(surface))) AS surfaces
FROM (SELECT subj_canon AS canonical, subj AS surface, docid FROM linked
      UNION ALL SELECT obj_canon, obj, docid FROM linked)
GROUP BY canonical
"""

_EDGES = """
SELECT l.subj_canon, l.obj_canon, p.pred_canon,
       CAST(count(*) AS BIGINT) AS n_evidence, CAST(count(DISTINCT docid) AS BIGINT) AS n_docs,
       max(score) AS max_score, sum(score) AS sum_score,
       min(docid) AS sample_docid
FROM linked l JOIN preds p ON p.pred_norm = l.pred_norm
GROUP BY 1, 2, 3
"""

_SPARK_EDGES = """
SELECT vs.canonical AS subj_canon, vo.canonical AS obj_canon, e.pred_canon,
       e.n_evidence, e.n_docs, e.max_score, e.sum_score, e.sample_docid
FROM spark_edges e
JOIN spark_vertices vs ON vs.entity_id = e.subj_id
JOIN spark_vertices vo ON vo.entity_id = e.obj_id
"""


def _frame_rows(df: pd.DataFrame) -> Counter:
    return Counter(
        tuple(tuple(v) if hasattr(v, "__len__") and not isinstance(v, str) else v for v in row)
        for row in df.itertuples(index=False)
    )


def _diff(name: str, got: pd.DataFrame, want: pd.DataFrame, floats=()) -> list[str]:
    """Rows must match exactly on every column but ``floats``, which must
    agree to 1e-6 (summation order moves the last digits)."""
    keys = [c for c in want.columns if c not in floats]
    g, w = _frame_rows(got[keys]), _frame_rows(want[keys])
    if g != w:
        return [f"{name}: {sum((w - g).values())} oracle rows missing, "
                f"{sum((g - w).values())} extra (of {len(want)})"]
    if floats:
        m = got.merge(want, on=keys, suffixes=("_got", "_want"))
        bad = sum(int((~np.isclose(m[f + "_got"], m[f + "_want"], rtol=0, atol=1e-6)).sum())
                  for f in floats)
        if bad or len(m) != len(want):
            return [f"{name}: {bad} values differ (of {len(want)} rows)"]
    return []


def check_graph_tables(catalog_dir: str, alias_path: str) -> list[str]:
    """Vertices and edges written by ``build_knowledge_graph`` against a
    DuckDB re-derivation from the checkpointed triples."""
    from deepex_spark.nlp.keywords import lemma

    con = _duck(catalog_dir, alias_path)
    con.execute(_LINKED)
    preds = con.execute("SELECT DISTINCT pred_norm FROM linked").fetchdf()
    preds["pred_canon"] = preds["pred_norm"].map(lambda s: " ".join(lemma(w) for w in s.split()))
    con.register("preds", preds)
    problems = []
    # ids are xxhash64 of the canonical string: one id per canonical form
    n_ids, n_names = con.execute(
        "SELECT count(DISTINCT entity_id), count(DISTINCT canonical) FROM spark_vertices"
    ).fetchone()
    if n_ids != n_names or n_ids != con.execute("SELECT count(*) FROM spark_vertices").fetchone()[0]:
        problems.append(f"vertices: {n_ids} ids for {n_names} canonical names")
    cols = "canonical, n_docs, n_mentions, surfaces"
    problems += _diff(
        "vertices",
        con.execute(f"SELECT {cols} FROM spark_vertices").fetchdf(),
        con.execute(_VERTICES).fetchdf(),
    )
    problems += _diff(
        "edges",
        con.execute(_SPARK_EDGES).fetchdf(),
        con.execute(_EDGES).fetchdf(),
        floats=("max_score", "sum_score"),
    )
    con.close()
    return problems


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order- and dtype-insensitive frame, floats rounded to 6 places (the
    comparison tools/check_oracles.py makes)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def oracle_graph(name: str, lineitem_path: str) -> pd.DataFrame:
    import duckdb

    from deepex_spark.queries import REGISTRY

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{lineitem_path}')")
    out = normalize(con.execute(REGISTRY[name].oracle).fetchdf())
    con.close()
    return out


def check_graph_query(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    got = normalize(got)
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} vs {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows vs {len(want)}"]
    if not got.equals(want):
        bad = int(((got != want) & ~(got.isna() & want.isna())).any(axis=1).sum())
        return [f"{name}: {bad} of {len(want)} rows differ"]
    return []
