"""The workloads: one timed pass each, its correctness gate, and the
traced run that splits it into layers.

A workload object is built from its cached input directory before the
Spark session starts; ``prepare`` computes the oracle answers there too, so
neither set-up nor any timed region pays for them.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd

from . import gates
from .harness import checksum

GRAPH_QUERIES = [
    ("triangle", "kg_triangle_count"),
    ("kcore", "kg_kcore"),
    ("ktruss", "kg_ktruss"),
    ("components", "kg_components"),
    ("link_pred", "kg_link_pred_heuristic"),
]
SAMPLE_DOCS = 6


@dataclass
class Pass:
    """Result of one timed pass."""

    wall_s: float
    triples: int
    digest: str
    problems: list[str]
    attempted: int = 1
    failed: int | None = None  # default: 1 if the gate found problems
    parts: dict = field(default_factory=dict)  # seconds per named part
    groups: dict = field(default_factory=dict)  # Spark job group per part, when traced

    def __post_init__(self):
        if self.failed is None:
            self.failed = int(bool(self.problems))


def _median_kernel_us(docs: list[tuple[str, str]], seed: int, n_sent: int = 160) -> dict:
    """Single-process timing of the sentence kernel's public entry points
    over a seeded sample of the workload's sentences (3 passes, medians)."""
    from deepex_spark.config import DeepExConfig
    from deepex_spark.functions.text import blank_parens_py
    from deepex_spark.kernel import sentence_kernel as K
    from deepex_spark.kernel._cnative import load_cbeam
    from deepex_spark.local_oracle import local_sentencize
    from deepex_spark.nlp.attention import get_attention_provider
    from deepex_spark.operators.rerank import candidate_distances

    cfg = DeepExConfig.small()
    provider = get_attention_provider(cfg)
    sents = [(d, off, s) for d, text in docs
             for _, off, s in local_sentencize(blank_parens_py(text))]
    sample = random.Random(f"kernel/{seed}").sample(sents, min(n_sent, len(sents)))
    per_pass = []
    for _ in range(3):
        feat_ns = att_ns = proc_ns = emb_ns = n_cand = 0
        proc_each = []
        cache: dict = {}
        for d, off, s in sample:
            t0 = time.perf_counter_ns()
            feat = K.featurize(d, off, s, cfg)
            t1 = time.perf_counter_ns()
            # the kernel's own windowing: attention is timed on exactly the
            # windows process_sentence_tuples scores
            for win in K._window_features(feat, cfg):
                provider.attention(win.tokens)
            t2 = time.perf_counter_ns()
            rows = K.process_sentence_tuples(d, off, s, cfg, provider)
            t3 = time.perf_counter_ns()
            for r in rows:
                candidate_distances(r[2], r[4], r[5], r[6], cfg.encoder_dim, cache)
            t4 = time.perf_counter_ns()
            feat_ns += t1 - t0
            att_ns += t2 - t1
            proc_ns += t3 - t2
            emb_ns += t4 - t3
            n_cand += len(rows)
            proc_each.append((t3 - t2) / 1e3)
        n = len(sample)
        per_pass.append({
            "kernel.featurize_us": feat_ns / n / 1e3,
            "kernel.attention_us": att_ns / n / 1e3,
            "kernel.process_us": proc_ns / n / 1e3,
            "kernel.walk_us": (proc_ns - feat_ns - att_ns) / n / 1e3,
            "kernel.sent_p99_us": statistics.quantiles(proc_each, n=100)[98],
            "rerank.embed_us": emb_ns / max(n_cand, 1) / 1e3,
        })
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["kernel.native"] = 1.0 if load_cbeam() is not None else 0.0
    return out


def _sample_ids(ids: list[str], seed: int) -> list[str]:
    return sorted(random.Random(f"sample/{seed}").sample(ids, min(SAMPLE_DOCS, len(ids))))


class ExtractLongsent:
    """``pipeline_triples`` over unpunctuated word-run documents."""

    name = "extract_longsent"
    trace_repeats = 3  # runs per traced prefix and of the untraced reference

    def __init__(self, input_dir: str, work_dir: str, seed: int):
        self.input_dir = input_dir
        self.seed = seed
        docs = pd.read_parquet(os.path.join(input_dir, "documents.parquet"))
        # read_documents zero-pads doc_id to 40 characters
        self.docs = [(str(i).zfill(40), t) for i, t in zip(docs["doc_id"], docs["text"])]
        self.sample = _sample_ids([d for d, _ in self.docs], seed)

    def prepare(self) -> None:
        by_id = dict(self.docs)
        self.want = gates.oracle_triples([(d, by_id[d]) for d in self.sample])

    def run(self, spark) -> Pass:
        from deepex_spark.queries import REGISTRY

        t0 = time.perf_counter()
        df = REGISTRY["pipeline_triples"].spark_fn(spark, self.input_dir)
        n, digest, rows = checksum(df, "docid", self.sample)
        wall = time.perf_counter() - t0
        return Pass(wall, n, digest, gates.check_sample(rows, self.want))

    def trace(self, spark, groups) -> dict:
        from deepex_spark.config import DeepExConfig
        from deepex_spark.sources.pages import read_documents

        cfg = DeepExConfig.small()
        docs = read_documents(spark, self.input_dir).withColumnRenamed("docid", "url")
        chain = _extraction_chain(docs, cfg, gates.TRIPLE_COLS)
        out = _run_extraction_prefixes(chain, groups, self.trace_repeats)
        out.update(_median_kernel_us(self.docs, self.seed))
        return out


def _extraction_chain(pages, cfg, columns=None) -> list:
    """Cumulative prefixes of ``pipeline.extract_triples``, built from the
    same public stage functions in the same order; the last one projects
    ``columns`` when given. ``distill`` stops before ``with_doc_rank``: when
    the output drops ``doc_rank`` (``pipeline_triples``), Catalyst prunes
    that window from the full plan, so it is charged to ``rerank``."""
    from deepex_spark.functions.sentencize import sentencize
    from deepex_spark.operators.distill import distill_project, with_doc_rank
    from deepex_spark.operators.extract import extract_candidates
    from deepex_spark.operators.rerank import rerank_triples
    from deepex_spark.pipeline import normalize_pages

    norm = normalize_pages(pages, cfg)
    sents = sentencize(norm, mode=cfg.sentencize_offsets, scan_max_len=cfg.sentencize_scan_max_len)
    cand = extract_candidates(sents, cfg, repartition=not cfg.repartition_by_url)
    proj = distill_project(cand, cfg)
    full = rerank_triples(with_doc_rank(proj), cfg)
    return [("normalize", norm), ("sentencize", sents), ("extract", cand),
            ("distill", proj), ("rerank", full.select(*columns) if columns else full)]


def _run_extraction_prefixes(chain, groups, repeats: int = 1) -> dict:
    """Each prefix ends in the checksum sink and runs in its own job group,
    ``repeats`` rounds over the whole chain (so no prefix is measured warmer
    than another); a layer's time is the difference between the median
    times of consecutive prefixes. Counts come from the last round."""
    times, rows, groups_of = {}, {}, {}
    for _ in range(repeats):
        for label, df in chain:
            dt, (rows[label], _, _), groups_of[label] = groups.run(
                label, lambda df=df: checksum(df, "docid"))
            times.setdefault(label, []).append(dt)
    t = {label: statistics.median(ts) for label, ts in times.items()}
    st = {label: groups.stats(g) for label, g in groups_of.items()}
    return {
        "normalize.s": t["normalize"],
        "normalize.tasks": st["normalize"]["first_stage_tasks"],
        "sentencize.s": t["sentencize"] - t["normalize"],
        "sentencize.sentences": rows["sentencize"],
        "sentencize.max_task_s": st["sentencize"]["max_task_s"],
        "extract.s": t["extract"] - t["sentencize"],
        "extract.candidates": rows["extract"],
        "extract.candidates_per_sentence": rows["extract"] / max(rows["sentencize"], 1),
        "extract.failed_tasks": st["extract"]["failed_tasks"],
        "distill.s": t["distill"] - t["extract"],
        "distill.triples": rows["distill"],
        "rerank.window_s": t["rerank"] - t["distill"],
        "trace.layer_sum_s": t["rerank"],
    }


class KgBuild:
    """``build_knowledge_graph`` over html-only crawl pages, with linking,
    canonicalization and catalog writes."""

    def __init__(self, input_dir: str, work_dir: str, seed: int):
        from deepex_spark.functions.text import html_to_text_py

        self.work_dir = work_dir
        self.seed = seed
        self.pages_path = os.path.join(input_dir, "pages.parquet")
        self.alias_path = os.path.join(input_dir, "aliases.parquet")
        pages = pd.read_parquet(self.pages_path, columns=["url", "html"])
        self.docs = [(u, html_to_text_py(h)) for u, h in zip(pages["url"], pages["html"])]
        self.sample = _sample_ids([u for u, _ in self.docs], seed)
        self.n_runs = 0

    def prepare(self) -> None:
        by_id = dict(self.docs)
        self.want = gates.oracle_triples([(d, by_id[d]) for d in self.sample])

    def _catalog(self):
        from deepex_spark.plans.catalog import Catalog

        self.n_runs += 1
        d = os.path.join(self.work_dir, f"catalog-{self.n_runs}")
        shutil.rmtree(d, ignore_errors=True)
        return d, Catalog(d)

    def run(self, spark) -> Pass:
        from deepex_spark.config import DeepExConfig
        from deepex_spark.pipeline import build_knowledge_graph

        cat_dir, catalog = self._catalog()
        t0 = time.perf_counter()
        pages = spark.read.parquet(self.pages_path)
        alias = spark.read.parquet(self.alias_path)
        triples, _, _ = build_knowledge_graph(
            pages, DeepExConfig.small(), alias_df=alias, catalog=catalog, link_strategy="broadcast"
        )
        n, digest, rows = checksum(triples, "docid", self.sample)
        wall = time.perf_counter() - t0
        problems = gates.check_sample(rows, self.want)
        problems += gates.check_graph_tables(cat_dir, self.alias_path)
        shutil.rmtree(cat_dir, ignore_errors=True)
        return Pass(wall, n, digest, problems)

    def trace(self, spark, groups) -> dict:
        from pyspark.sql import functions as F

        from deepex_spark.config import DeepExConfig
        from deepex_spark.operators.canonicalize import canonicalize_triples
        from deepex_spark.operators.graph import build_edges, build_vertices
        from deepex_spark.operators.linking import link_triples

        cfg = DeepExConfig.small()
        pages = spark.read.parquet(self.pages_path)
        alias = spark.read.parquet(self.alias_path)
        chain = _extraction_chain(pages, cfg)
        out = _run_extraction_prefixes(chain, groups)
        extraction = out.pop("trace.layer_sum_s")
        cat_dir, catalog = self._catalog()
        # the checkpoint write re-runs the whole extraction chain
        ckpt, _, _ = groups.run("checkpoint", lambda: catalog.checkpoint(
            chain[-1][1], "triples", bucket_col="docid", run_id=cfg.run_id))
        read = catalog.read(spark, "triples")
        t_read, _, _ = groups.run("read", lambda: checksum(read, "docid"))
        linked = link_triples(read, alias, strategy="broadcast", salt_buckets=cfg.salt_buckets)
        t_link, _, _ = groups.run("link", lambda: checksum(linked, "docid"))
        canon = canonicalize_triples(linked)
        t_canon, _, _ = groups.run("canonicalize", lambda: checksum(canon, "docid"))
        # each table write re-runs read -> link -> canonicalize; materialize_s
        # includes that re-computation
        t_v, _, _ = groups.run("vertices", lambda: catalog.write(build_vertices(canon, cfg.run_id), "vertices"))
        t_e, _, _ = groups.run("edges", lambda: catalog.write(build_edges(canon, cfg.run_id), "edges"))
        files = [os.path.join(r, f) for r, _, fs in os.walk(cat_dir) for f in fs if f.endswith(".parquet")]
        linked_share = linked.agg(
            (F.sum(F.col("subj_linked").cast("long")) + F.sum(F.col("obj_linked").cast("long")))
            / (2 * F.count(F.lit(1)))
        ).first()[0]
        out.update({
            "catalog.checkpoint_s": ckpt - extraction,
            "catalog.read_s": t_read,
            "catalog.bytes_written": sum(os.path.getsize(f) for f in files),
            "catalog.files_written": len(files),
            "linking.s": t_link - t_read,
            "linking.linked_share": linked_share,
            "canonicalize.s": t_canon - t_link,
            "graph.materialize_s": t_v + t_e,
            "graph.vertices": catalog.read(spark, "vertices").count(),
            "graph.edges": catalog.read(spark, "edges").count(),
            "trace.layer_sum_s": ckpt + t_v + t_e,
        })
        shutil.rmtree(cat_dir, ignore_errors=True)
        out.update(_median_kernel_us(self.docs, self.seed))
        return out


def _frame_digest(frames: list[pd.DataFrame]) -> str:
    h = hashlib.sha256()
    for f in frames:
        h.update(pd.util.hash_pandas_object(f, index=False).values.tobytes())
    return h.hexdigest()


class GraphQueries:
    """Five registered iterative graph queries, back to back, over a
    lineitem-shaped co-occurrence graph."""

    def __init__(self, input_dir: str, work_dir: str, seed: int):
        self.input_dir = input_dir
        self.lineitem = os.path.join(input_dir, "lineitem.parquet")

    def prepare(self) -> None:
        import duckdb

        self.want = {q: gates.oracle_graph(q, self.lineitem) for _, q in GRAPH_QUERIES}
        con = duckdb.connect()
        self.edges_in = con.execute(
            f"""SELECT count(*) FROM (SELECT DISTINCT a.l_partkey, b.l_partkey
            FROM read_parquet('{self.lineitem}') a JOIN read_parquet('{self.lineitem}') b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""
        ).fetchone()[0]
        con.close()

    def _query(self, spark, q: str) -> pd.DataFrame:
        from deepex_spark.queries import REGISTRY

        return REGISTRY[q].spark_fn(spark, self.input_dir).toPandas()

    def run(self, spark, groups=None) -> Pass:
        frames, problems, parts, group_ids, failed = [], [], {}, {}, 0
        for label, q in GRAPH_QUERIES:
            if groups is None:
                t0 = time.perf_counter()
                got = self._query(spark, q)
                parts[label] = time.perf_counter() - t0
            else:
                parts[label], got, group_ids[label] = groups.run(label, lambda q=q: self._query(spark, q))
            bad = gates.check_graph_query(q, got, self.want[q])
            failed += bool(bad)
            problems += bad
            frames.append(gates.normalize(got))
        n = self.edges_in * len(GRAPH_QUERIES)
        return Pass(sum(parts.values()), n, _frame_digest(frames), problems, len(GRAPH_QUERIES),
                    failed, parts, group_ids)

    def trace(self, spark, groups) -> dict:
        import deepex_spark.queries as Q
        from deepex_spark.operators.graph import kcore, ktruss

        traced = self.run(spark, groups)
        out = {f"graph.{label}_s": traced.parts[label] for label, _ in GRAPH_QUERIES}
        out["graph.link_pred_shuffle_mb"] = (
            groups.stats(traced.groups["link_pred"])["shuffle_write_bytes"] / 2**20
        )
        out["graph.edges_in"] = float(self.edges_in)

        def timed(op, rounds, **kw):
            edges = Q._part_cooccurrence_edges(spark, self.input_dir)
            return groups.run(f"{op.__name__}{rounds}",
                              lambda: op(edges, n_rounds=rounds, **kw).toPandas())[0]

        out["graph.kcore_round_s"] = (timed(kcore, 3, k=80) - timed(kcore, 1, k=80)) / 2
        out["graph.ktruss_round_s"] = (timed(ktruss, 3, k=8) - timed(ktruss, 1, k=8)) / 2
        out["trace.layer_sum_s"] = traced.wall_s
        return out


class KgBuildGraph:
    """Text to knowledge graph, then graph analytics: ``KgBuild`` over the
    crawl pages followed by ``GraphQueries`` over the lineitem graph."""

    name = "kg_build_graph"
    trace_repeats = 1  # a traced run is ~110 s already

    def __init__(self, input_dir: str, work_dir: str, seed: int):
        self.parts = [KgBuild(input_dir, work_dir, seed), GraphQueries(input_dir, work_dir, seed)]

    def prepare(self) -> None:
        for part in self.parts:
            part.prepare()

    def run(self, spark) -> Pass:
        build, queries = (part.run(spark) for part in self.parts)
        return Pass(
            build.wall_s + queries.wall_s,
            build.triples,
            hashlib.sha256((build.digest + queries.digest).encode()).hexdigest(),
            build.problems + queries.problems,
            build.attempted + queries.attempted,
            build.failed + queries.failed,
            {"build": build.wall_s, **queries.parts},
        )

    def trace(self, spark, groups) -> dict:
        build, queries = (part.trace(spark, groups) for part in self.parts)
        layer_sum = build.pop("trace.layer_sum_s") + queries.pop("trace.layer_sum_s")
        return {**build, **queries, "trace.layer_sum_s": layer_sum}


WORKLOADS = {w.name: w for w in (ExtractLongsent, KgBuildGraph)}
