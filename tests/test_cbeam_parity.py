"""Native walk kernel (_cbeam.c) must be bit-identical to the pure-Python
``beam_search_ie`` — paths, scores, ordering, everything — across synthetic
corpora, both the windowed small() config and the full task() config, plus
degenerate edges (empty segs, single entity, threshold filtering)."""

import numpy as np
import pytest

from deepex_spark.config import DeepExConfig
from deepex_spark.kernel import sentence_kernel as sk
from deepex_spark.kernel.sentence_kernel import beam_search_ie, featurize
from deepex_spark.nlp.attention import get_attention_provider
from deepex_spark.sources.pages import synth_doc_for

pytestmark = pytest.mark.skipif(
    sk._cbeam is None, reason="native kernel unavailable (no compiler)"
)


def _python_walks(att, feat, cfg):
    saved = sk._cbeam
    sk._cbeam = None
    try:
        return beam_search_ie(att, feat, cfg)
    finally:
        sk._cbeam = saved


def _native_walks(att, feat, cfg):
    assert sk._cbeam is not None
    return beam_search_ie(att, feat, cfg)


@pytest.mark.parametrize("cfg", [DeepExConfig.small(), DeepExConfig.task()])
def test_walks_bit_identical_on_synth_docs(cfg):
    provider = get_attention_provider(cfg)
    n_checked = 0
    for i in range(40):
        text = synth_doc_for(i, seed=7)[:400]
        for sent in text.split(". "):
            feat = featurize(f"d{i}", 0, sent, cfg)
            for win in sk._window_features(feat, cfg):
                att = provider.attention(win.tokens)
                py = _python_walks(att, win, cfg)
                na = _native_walks(att, win, cfg)
                assert py == na  # exact: tuples, float bits, order
                n_checked += 1
    assert n_checked > 40


def test_walks_identical_with_threshold_and_search_n():
    cfg = DeepExConfig.task(
        search_score_threshold=0.4, search_n=5, search_ranking_type="mean"
    )
    provider = get_attention_provider(cfg)
    for i in range(10):
        sent = synth_doc_for(i, seed=13)[:200]
        feat = featurize(f"t{i}", 0, sent, cfg)
        att = provider.attention(feat.tokens)
        assert _python_walks(att, feat, cfg) == _native_walks(att, feat, cfg)


def test_walks_identical_on_adversarial_ties():
    # constant attention rows maximize sort ties — the stable orderings of
    # the two implementations must still agree exactly
    cfg = DeepExConfig.task()
    feat = featurize("tie", 0, "Alpha beta gamma ! Delta epsilon zeta", cfg)
    n = len(feat.tokens)
    att = np.full((n, n), 1.0 / n)
    assert _python_walks(att, feat, cfg) == _native_walks(att, feat, cfg)


def test_process_sentence_end_to_end_identical():
    from deepex_spark.kernel.sentence_kernel import process_sentence

    cfg = DeepExConfig.small()
    provider = get_attention_provider(cfg)
    for i in range(15):
        sent = synth_doc_for(i, seed=21)[:300]
        saved = sk._cbeam
        sk._cbeam = None
        try:
            py = process_sentence(f"p{i}", 3, sent, cfg, provider)
        finally:
            sk._cbeam = saved
        na = process_sentence(f"p{i}", 3, sent, cfg, provider)
        assert py == na


_DEGENERATE = {"beam_size=0": {"beam_size": 0}, "search_n=-1": {"search_n": -1}}

_DEGENERATE_RUN = """
import json, sys
from deepex_spark.config import DeepExConfig
from deepex_spark.kernel.sentence_kernel import process_sentence
from deepex_spark.nlp.attention import get_attention_provider
from deepex_spark.sources.pages import synth_doc_for

out = {}
for name, kw in json.loads(sys.argv[1]).items():
    cfg = DeepExConfig.task(**kw)
    provider = get_attention_provider(cfg)
    out[name] = [
        process_sentence(f"g{i}", 0, synth_doc_for(i, seed=17)[:300], cfg, provider)
        for i in range(6)
    ]
print(json.dumps(out))
"""


def test_degenerate_configs_match_disabled_native_kernel():
    """beam_size < 1 and a negative search_n are outside what the C kernel
    implements: with it loaded they must give exactly what a process with
    DEEPEX_DISABLE_CBEAM=1 gives (the reference Python path)."""
    import json
    import os
    import subprocess
    import sys

    run = [sys.executable, "-c", _DEGENERATE_RUN, json.dumps(_DEGENERATE)]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def outputs(**env):
        proc = subprocess.run(
            run, capture_output=True, check=True, text=True, cwd=repo,
            env=dict(os.environ, **env),
        )
        return json.loads(proc.stdout)

    native = outputs()
    python = outputs(DEEPEX_DISABLE_CBEAM="1")
    assert native == python
    assert sum(map(len, python["search_n=-1"])) > 0
