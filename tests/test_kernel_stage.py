"""The kernel stage's body (``extract.kernel_batches``) run in-process:
per-task memory stays bounded, each candidate is embedded once, and an
encoder other than the surrogate one is rejected before any task runs."""

import pandas as pd
import pytest

from deepex_spark.config import DeepExConfig
from deepex_spark.operators import rerank
from deepex_spark.operators.extract import kernel_batches
from deepex_spark.sources.pages import synth_doc_for


def _sentences(n_docs: int = 6) -> pd.DataFrame:
    rows = []
    for i in range(n_docs):
        for pos, sent in enumerate(synth_doc_for(i, seed=11).split(". ")[:3]):
            rows.append((f"d{i}", pos, 0, sent))
    return pd.DataFrame(rows, columns=["docid", "sent_pos", "sent_offset", "sent_text"])


def _run(cfg: DeepExConfig) -> pd.DataFrame:
    pdf = _sentences()
    # two batches, as a task with two Arrow batches would see them
    return pd.concat(kernel_batches(iter([pdf[:7], pdf[7:]]), cfg), ignore_index=True)


def test_sentence_cache_never_holds_more_than_one_entry(monkeypatch):
    sizes: list[int] = []
    real = rerank.candidate_distances

    def spy(*args):
        out = real(*args)
        sizes.append(len(args[5]))
        return out

    monkeypatch.setattr(rerank, "candidate_distances", spy)
    out = _run(DeepExConfig.small())
    assert len(out) > 5  # many sentences, each with candidates
    assert sizes and max(sizes) == 1


def test_non_surrogate_encoder_is_rejected_on_the_driver(spark):
    from deepex_spark.local_oracle import local_candidates
    from deepex_spark.operators.extract import extract_candidates

    cfg = DeepExConfig.small(encoder_provider="hf")
    sentences = spark.createDataFrame(_sentences())
    with pytest.raises(ValueError, match="encoder_provider='hf'"):
        extract_candidates(sentences, cfg)
    with pytest.raises(ValueError, match="encoder_provider='hf'"):
        rerank.add_contrastive_distance(sentences, cfg)
    with pytest.raises(ValueError, match="encoder_provider='hf'"):
        local_candidates([("d0", "Alice met Bob. Bob knew Carol.")], cfg)
    # '.unsort' mode never embeds, so the encoder is not consulted there
    unsort = DeepExConfig.small(encoder_provider="hf", rerank_sorted=False)
    assert extract_candidates(sentences, unsort).columns


def test_surrogate_encoder_embeds_each_candidate_once(monkeypatch):
    calls: list[tuple] = []
    real = rerank.contrastive_distance_py

    def counting(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(rerank, "contrastive_distance_py", counting)
    out = _run(DeepExConfig.small())
    n_cands = int(out["subj"].map(len).sum())
    assert len(calls) == n_cands
    for fwd, rev in zip(out["dis_fwd"], out["dis_rev"]):
        assert list(fwd) == list(rev)
