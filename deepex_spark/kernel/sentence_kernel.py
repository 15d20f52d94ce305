"""Per-sentence extraction kernel (the algorithmic heart).

A from-scratch re-implementation of the reference's stage-0 dataflow for one
sentence: wordpiece features -> NP mentions -> token<->mention interval
alignment -> attention matrix -> bidirectional beam search over attention
scores -> triple assembly -> per-sentence dedup + ranking. Everything is a
pure function of (docid, offset, text, config), so the Spark ``mapInPandas``
stage and the single-node "local oracle" used by parity tests share this
exact code path.

Faithfully preserved reference semantics (cited against /root/reference):

* interval alignment predicate ``span1[1] > span0[0] and span1[0] < span0[1]``
  and doc-level span shift (``src/deepex/data/re_data.py:130-131,235-236``);
* entity-position extraction incl. the ``'' in '!=?'`` substring exclusion,
  the add-extra-entity first/last-minus-one quirk, and per-segment
  boundary-token extras (``src/deepex/model/kgm.py:297-350``);
* beam expansion rules: direction constraint only after the first hop,
  bound hops always allowed, no revisits, cross-segment check, beam pruned
  by score/len with Python-stable ordering (``kgm.py:358-391``);
* pair enumeration within dist_const per direction (``kgm.py:393-421``);
* filter/sort: min/max len, threshold, 'sum'/'mean' ranking, per-sentence
  top-n (``kgm.py:274-294``);
* canonical direction flip; the ``seq[1:-1] = sorted(seq[1:-1])`` quirk at
  ``kgm.py:234`` which effectively clamps a sequence score at 1.0 before
  accumulation (bool True sorts between floats);
* triple assembly: Python ``str.title()`` casing, same-span rejection,
  relation = detokenized tokens strictly between head/tail span runs with
  ``##`` partial-wordpiece edge pruning (``kgm.py:58-144``);
* per-sentence dedup accumulating [freq, cum_score, first spans, cum
  attended_len, offset] and dedup ranking types with the cand_min_len
  filter (``kgm.py:171-203,252-257``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from deepex_spark.nlp.chunker import np_chunks
from deepex_spark.nlp.tokenizer import basic_tokens, detok_single, detokenize, encode

# native walk kernel (same semantics, bit-identical output — see _cbeam.c);
# None => pure-Python path below
try:
    from deepex_spark.kernel._cnative import load_cbeam

    _cbeam = load_cbeam()
except Exception:  # pragma: no cover - any build/load problem => Python path
    _cbeam = None

NIL = "$NIL$"
NIL_SPAN = (-1, -1)


@dataclass
class SentenceFeatures:
    docid: str
    offset: int
    text: str
    tokens: list[str]
    special: list[int]
    ent_names: list[str]
    ent_spans: list[tuple[int, int]]


def featurize(docid: str, offset: int, text: str, cfg) -> SentenceFeatures:
    """Tokenize + detect mentions + align tokens to mentions (O5/O6/O8)."""
    enc = encode(
        text,
        max_length=cfg.max_length,
        wordpiece_max_chars=cfg.wordpiece_max_chars,
        wordpiece_piece_chars=cfg.wordpiece_piece_chars,
    )
    mentions = np_chunks(basic_tokens(text), text, cfg.max_mentions_np_len)
    names: list[str] = []
    spans: list[tuple[int, int]] = []
    for (ts, te), is_special in zip(enc.offsets, enc.special_mask):
        if is_special or (ts == 0 and te == 0):
            names.append(NIL)
            spans.append(NIL_SPAN)
            continue
        hit = False
        for name, ms, me in mentions:
            # first overlapping mention wins (re_data.py:229-243)
            if me > ts and ms < te:
                names.append(name)
                spans.append((ms + offset, me + offset))
                hit = True
                break
        if not hit:
            names.append(NIL)
            spans.append(NIL_SPAN)
    return SentenceFeatures(
        docid=docid,
        offset=offset,
        text=text,
        tokens=enc.tokens,
        special=enc.special_mask,
        ent_names=names,
        ent_spans=spans,
    )


def entity_segments(feat: SentenceFeatures, cfg, names=None, add_extra=None):
    """Entity token positions + per-segment groups (kgm.py:297-350).

    ``names`` overrides the entity-name array (RC mode passes the head_/
    tail_/relation_ arrays); ``add_extra`` overrides cfg.add_extra_entity
    (forced False in RC mode, kgm.py:423)."""
    S = len(feat.tokens)
    if names is None:
        names = feat.ent_names
    if add_extra is None:
        add_extra = cfg.add_extra_entity
    detoks = [detok_single(t) for t in feat.tokens]
    eid = [
        i
        for i in range(S)
        if names[i] != NIL and feat.special[i] == 0 and detoks[i] not in "!=?"
    ]
    if add_extra:
        non_special = [i for i in range(S) if feat.special[i] == 0]
        if len(non_special) > 0 and non_special[0] not in eid:
            eid.append(non_special[0])
        if len(non_special) > 1:
            last_id = non_special[-1] - 1  # faithful minus-one quirk (kgm.py:311)
            if last_id not in eid:
                eid.append(last_id)
    if len(eid) < 1:
        return None, None
    eid = sorted(eid)
    if not cfg.sentence:
        return eid, [list(eid)]
    split_indices = [i for i in range(S) if detoks[i] in "!=?" and detoks[i] != ""]
    sent_eid_sids: list[list[int]] = []
    for i in range(-1, len(split_indices)):
        seg: list[int] = []
        if add_extra and 0 <= i < len(split_indices) - 1:
            seg.extend([split_indices[i] + 1, split_indices[i + 1] - 1])
        for e in list(eid):
            if i == -1:
                if (len(split_indices) == 0 or e < split_indices[0]) and e not in seg:
                    seg.append(e)
            elif i == len(split_indices) - 1:
                if e > split_indices[i] and e not in seg:
                    seg.append(e)
            else:
                if split_indices[i] < e < split_indices[i + 1] and e not in seg:
                    seg.append(e)
        sent_eid_sids.append(sorted(seg))
        if len(seg) >= 1:
            eid.append(sorted(seg)[-1])  # faithful duplicate append (kgm.py:345)
    return sorted(eid), sent_eid_sids


def _segment_location(a: int, u: int, v: int) -> int:
    return (a < u) + (a < v)


def _cross_segment(a: int, last: int, node: int, bound: int) -> bool:
    return (
        last != node
        and last != bound
        and _segment_location(a, node, bound) != _segment_location(last, node, bound)
    )


from operator import itemgetter as _itemgetter

_MEAN_KEY = _itemgetter(3)


def _first_hop(node, offset, svals, sidx, topk):
    """Round-1 expansion of one beam walk (kgm.py:358-391, first pass of
    the while loop). On hop 1 ``plen1 == 2`` so neither the direction
    constraint nor the cross-segment check applies (``multi`` is false,
    kgm.py:370-379) and the bound gets no special treatment — the result is
    provably independent of both direction and bound, so ``beam_search_ie``
    computes it ONCE per start node and shares it across the ~|segment|
    (start, bound) walks instead of redoing it per pair.

    Beam entries are (path, score, visited, score/len, visited-bitmask):
    the ranking mean is maintained incrementally at append so each round's
    prune is a plain stable sort on a stored field — same ordering as the
    reference's ``key=lambda tup: tup[1]/len(tup[0])``; the bitmask gives
    O(1) revisit checks on long unpunctuated text.
    """
    row_i = sidx[node - offset]
    row_v = svals[node - offset]
    mask0 = 1 << node
    new = []
    tempk = 0
    for k in range(len(row_i)):
        if tempk == topk:
            break
        tga = row_i[k] + offset
        if (mask0 >> tga) & 1:
            continue
        ns = row_v[k]
        new.append(((node, tga), ns, False, ns / 2.0, mask0 | (1 << tga)))
        tempk += 1
    new.sort(key=_MEAN_KEY, reverse=True)
    return new[:topk]


def uni_beam(node, offset, dvals, didx, att_rows, topk, bound, first_beam):
    """Rounds 2+ of one (start, bound) directed beam walk (kgm.py:358-391).

    Acceptance rules identical to the reference's scan of the pre-sorted
    full attention row: take targets in descending attention order until
    ``topk`` accepted; skip revisits always; skip direction violations and
    cross-segment hops unless the target is the bound (bound hops always
    allowed); beam pruned to topk by score/len with Python-stable ordering.

    Performance shape (semantics-preserving): from hop 2 on, the only
    admissible targets are the strictly-monotone ones plus the bound, so
    the scan reads the per-(row, direction) PREFILTERED streams
    ``didx``/``dvals`` (descending-value order, ties by ascending local
    index — same stable-argsort order as the full row) and merge-injects
    the bound at its exact (value, local index) rank via ``att_rows``
    lookups. The merged emission order is byte-identical to the full-row
    scan, pinned by tests/test_kernel.py + the parity goldens.
    ``first_beam`` is the shared bound-independent hop-1 expansion from
    :func:`_first_hop`.
    """
    bl = bound - offset
    beam = first_beam
    while True:
        all_visited = True
        for c in beam:
            if not c[2]:
                all_visited = False
                break
        if all_visited:
            break
        new = []
        append = new.append
        for path, score, visited, mean, mask in beam:
            v = path[-1] - offset
            if v == bl:
                append((path, score, True, mean, mask))
                continue
            plen1 = len(path) + 1
            last = v + offset
            # paths here have length >= 2, so ``multi`` is always true
            check_cross = last != node and last != bound
            if check_cross:
                loc_last = (last < node) + (last < bound)
            fi = didx[v]
            fv = dvals[v]
            n = len(fi)
            bval = att_rows[v][bl]
            bound_pending = True
            tempk = 0
            k = 0
            while tempk < topk:
                if bound_pending and (
                    k >= n or bval > fv[k] or (bval == fv[k] and bl < fi[k])
                ):
                    # bound reached its stable-sort rank: emit it (exempt
                    # from direction/cross checks, kgm.py:373-379)
                    bound_pending = False
                    if (mask >> bound) & 1:
                        continue
                    ns = score + bval
                    append((path + (bound,), ns, False, ns / plen1, mask | (1 << bound)))
                    tempk += 1
                elif k < n:
                    tgt = fi[k]
                    val = fv[k]
                    k += 1
                    if tgt == bl:
                        continue  # emitted via the injection branch above
                    tga = tgt + offset
                    if (mask >> tga) & 1:
                        continue
                    if check_cross and ((tga < node) + (tga < bound)) != loc_last:
                        continue
                    ns = score + val
                    append((path + (tga,), ns, False, ns / plen1, mask | (1 << tga)))
                    tempk += 1
                else:
                    break
        new.sort(key=_MEAN_KEY, reverse=True)
        beam = new[:topk]
    return beam


def _native_config(cfg) -> bool:
    """Whether the C kernel implements ``cfg`` exactly. Degenerate configs
    (``beam_size < 1``, a negative ``search_n``) take the reference Python
    path, so they behave the same with and without the native kernel."""
    sn = cfg.search_n
    return 1 <= cfg.beam_size <= 128 and (sn is None or sn == "None" or int(sn) >= 0)


def beam_search_ie(att: np.ndarray, feat: SentenceFeatures, cfg):
    """IE-mode pair enumeration + beam walks (kgm.py:393-421). Returns raw
    sequences [(path_tuple, score)] after filter/sort (kgm.py:274-294)."""
    eid, segs = entity_segments(feat, cfg)
    if eid is None:
        return []
    offset0 = eid[0]
    end = eid[-1]
    pruned = att[offset0 : end + 1, offset0 : end + 1]
    if "gpt2" in cfg.model_name_or_path:
        # GPT-2 attention is causal (lower-triangular): symmetrize by
        # folding the transpose's strict upper triangle back in
        # (kgm.py:402-404)
        pruned = pruned + np.triu(pruned.T, k=1)
    n_side = pruned.shape[0]
    if _cbeam is not None and n_side <= 256 and _native_config(cfg):
        # native path: identical walk enumeration/ordering/arithmetic in C
        # (_cbeam.c) — the expensive per-sentence loop without interpreter
        # overhead. Fallback below is the reference Python implementation.
        sn = cfg.search_n
        sn = -1 if (sn is None or sn == "None") else int(sn)
        return _cbeam.beam_walks(
            np.ascontiguousarray(pruned, dtype=np.float64),
            n_side,
            [[e - offset0 for e in seg] for seg in segs],
            offset0,
            cfg.beam_size,
            cfg.dist_const,
            cfg.search_min_len,
            cfg.search_max_len,
            float(cfg.search_score_threshold),
            1 if cfg.search_ranking_type == "mean" else 0,
            sn,
        )
    order_np = np.argsort(-pruned, axis=1, kind="stable")
    vals_np = np.take_along_axis(pruned, order_np, axis=1)
    order = order_np.tolist()
    vals = vals_np.tolist()
    att_rows = pruned.tolist()
    # per-(row, direction) prefiltered target streams: the boolean mask on
    # the stable-argsort order preserves (value desc, local index asc)
    lidx, lval, ridx, rval = [], [], [], []
    for v in range(pruned.shape[0]):
        row, rv = order_np[v], vals_np[v]
        lm = row < v
        lidx.append(row[lm].tolist())
        lval.append(rv[lm].tolist())
        rm = row > v
        ridx.append(row[rm].tolist())
        rval.append(rv[rm].tolist())
    topk = cfg.beam_size
    first_cache: dict[int, list] = {}
    res: list[tuple[tuple[int, ...], float, bool]] = []
    for seg in segs:
        for i in range(len(seg)):
            u = seg[i]
            fb = first_cache.get(u)
            if fb is None:
                fb = first_cache[u] = _first_hop(u, offset0, vals, order, topk)
            for j in range(i - 1, i - 1 - cfg.dist_const, -1):
                if j < 0:
                    break
                res.extend(uni_beam(u, offset0, lval, lidx, att_rows, topk, seg[j], fb))
            for j in range(i + 1, i + 1 + cfg.dist_const, 1):
                if j > len(seg) - 1:
                    break
                res.extend(uni_beam(u, offset0, rval, ridx, att_rows, topk, seg[j], fb))
    out: list[tuple[tuple[int, ...], float]] = []
    for path, score, *_rest in res:
        L = len(path)
        if cfg.search_min_len <= L <= cfg.search_max_len:
            s = score / L if cfg.search_ranking_type == "mean" else score
            if s > cfg.search_score_threshold:
                out.append((path, s))
    out.sort(key=lambda t: t[1], reverse=True)
    if cfg.search_n is not None and cfg.search_n != "None":
        out = out[: cfg.search_n]
    return out


def _seq_offsets(tokens: list[str], rid: int, begin: int, end: int) -> tuple[int, int]:
    """Backward/forward contiguous '##' piece counts (kgm.py:58-76)."""
    pre = 0
    if tokens[rid].startswith("##"):
        pre = 1
        for p in range(rid - 1, begin - 1, -1):
            if not tokens[p].startswith("##"):
                break
            pre += 1
    nxt = 0
    for q in range(rid + 1, end + 1, 1):
        if not tokens[q].startswith("##"):
            break
        nxt += 1
    return pre, nxt


def relation_text(path: list[int], feat: SentenceFeatures) -> str | None:
    """Relation = detokenized tokens strictly between the head-span run and
    tail-span run, with partial-wordpiece edge pruning (kgm.py:83-121)."""
    hid, tid = path[0], path[-1]
    h_span = feat.ent_spans[path[0]]
    t_span = feat.ent_spans[path[-1]]
    first_rid = path[1]
    last_rid = path[-2]
    for i in range(1, len(path) - 2, 1):
        if feat.ent_spans[path[i]] == h_span:
            first_rid = path[i + 1]
        else:
            break
    for i in range(len(path) - 2, 1, -1):
        if feat.ent_spans[path[i]] == t_span:
            last_rid = path[i - 1]
        else:
            break
    if first_rid > last_rid:
        return None
    fp, fn = _seq_offsets(feat.tokens, first_rid, hid, tid)
    lp, ln = _seq_offsets(feat.tokens, last_rid, hid, tid)
    first_pruned = first_rid
    last_pruned = last_rid
    if first_rid - fp <= hid:
        first_pruned = first_rid + fn + 1
    if last_rid + ln >= tid:
        last_pruned = last_rid - lp - 1
    if first_pruned > last_pruned:
        return None
    return detokenize(feat.tokens[first_pruned : last_pruned + 1])


def convert_to_triplet(path, feat: SentenceFeatures):
    """'H [SEP] R [SEP] T' assembly (kgm.py:124-144)."""
    if len(path) < 3:
        return None, None
    h = feat.ent_names[path[0]].title()
    t = feat.ent_names[path[-1]].title()
    h_span = feat.ent_spans[path[0]]
    t_span = feat.ent_spans[path[-1]]
    if h_span[0] == t_span[0] and h_span[1] == t_span[1]:
        return None, None
    r = relation_text(path, feat)
    if r is None:
        return None, None
    return h + " [SEP] " + r + " [SEP] " + t, [list(h_span), list(t_span)]


def _rank_key(dedup_ranking_type: str):
    if dedup_ranking_type == "freq":
        return lambda kv: kv[1][0]
    if dedup_ranking_type == "score":
        return lambda kv: kv[1][1]
    if dedup_ranking_type == "score_freq":
        return lambda kv: kv[1][1] / kv[1][0]
    if dedup_ranking_type == "score_freq_len":
        return lambda kv: kv[1][1] / (kv[1][0] * len(kv[0].strip().split(" ")))
    if dedup_ranking_type == "score_len":
        return lambda kv: kv[1][1] / kv[1][3]
    raise ValueError("support (freq, score, score_freq, score_freq_len, score_len)")


def accumulate_candidates(dedup: dict, seqs, feat: SentenceFeatures, cfg) -> None:
    """Canonical flip + score clamp + assembly + per-sentence dedup
    accumulation (kgm.py:221-265). Mutates ``dedup`` in place so windowed
    over-long sentences accumulate into one per-sentence dict.

    Assembly is memoized per canonical path within the window: walks from
    different (start, bound) pairs frequently yield the same path (that is
    exactly how freq > 1 arises), and ``convert_to_triplet`` is a pure
    function of (path, feat) — ~3x fewer assembly calls, same results.
    Paths stay tuples end-to-end (tuple[::-1] for the canonical flip): the
    hot loop allocates no lists."""
    conv_cache: dict[tuple, tuple] = {}
    cache_get = conv_cache.get
    dedup_get = dedup.get
    is_rc = cfg.beam_mode == "RC"
    nil = [-1, -1]
    for path, score in seqs:
        pk = path if is_rc or path[0] < path[-1] else path[::-1]
        # seq[1:-1] = sorted([score, visited=True]) quirk (kgm.py:234):
        # scores above 1.0 become bool True (=1.0) in the score slot.
        s = score if score <= 1.0 else 1.0
        hit = cache_get(pk)
        if hit is None:
            hit = conv_cache[pk] = convert_to_triplet(pk, feat)
        trip, spans = hit
        if trip is None or spans is None or spans[0] == nil or spans[1] == nil:
            continue
        key = trip.strip()
        e = dedup_get(key)
        if e is None:
            dedup[key] = [1, s, spans, len(pk)]
        else:
            e[0] += 1
            e[1] += s
            e[3] += len(pk)


def rank_candidates(dedup: dict, cfg):
    """Per-sentence dedup ranking + cand_min_len filter (kgm.py:171-203).
    Returns ranked [(triple_key, freq, cum_score, h_span, t_span,
    attended_len)]."""
    items = sorted(dedup.items(), key=_rank_key(cfg.dedup_ranking_type), reverse=True)
    items = [
        (k, v) for k, v in items if len(k.strip().split(" ")) >= cfg.cand_min_len
    ]
    return [(k, v[0], v[1], v[2][0], v[2][1], v[3]) for k, v in items]


def assemble_and_dedup(seqs, feat: SentenceFeatures, cfg):
    dedup: dict[str, list] = {}
    accumulate_candidates(dedup, seqs, feat, cfg)
    return rank_candidates(dedup, cfg)


def _window_features(feat: SentenceFeatures, cfg) -> list[SentenceFeatures]:
    """Scale guard for pathologically long unpunctuated sentences: when
    ``cfg.max_kernel_tokens`` is set and a sentence exceeds it, process the
    token stream in windows (boundaries snapped to whole wordpieces). The
    default (None) is the faithful reference behaviour — one search over
    the whole (truncated-at-max_length) sentence."""
    limit = getattr(cfg, "max_kernel_tokens", None)
    n = len(feat.tokens)
    if not limit or n - 2 <= limit:
        return [feat]
    from deepex_spark.nlp.tokenizer import CLS, SEP

    out = []
    s = 1
    while s < n - 1:
        e = min(s + limit, n - 1)
        while e < n - 1 and feat.tokens[e].startswith("##"):
            e += 1
        out.append(
            SentenceFeatures(
                docid=feat.docid,
                offset=feat.offset,
                text=feat.text,
                tokens=[CLS] + feat.tokens[s:e] + [SEP],
                special=[1] + feat.special[s:e] + [1],
                ent_names=[NIL] + feat.ent_names[s:e] + [NIL],
                ent_spans=[NIL_SPAN] + feat.ent_spans[s:e] + [NIL_SPAN],
            )
        )
        s = e
    return out


_RANK_CODES = {
    "freq": 0, "score": 1, "score_freq": 2, "score_freq_len": 3, "score_len": 4,
}


def process_sentence_tuples(docid: str, offset: int, text: str, cfg, att_provider):
    """Full kernel for one sentence -> candidate tuples in column order
    (docid, sent_offset, sent_text, triple_key, subj, rel, obj, subj_s,
    subj_e, obj_s, obj_e, freq, score, attended_len, cand_rank). Spans ride
    as four plain INTs end-to-end (not 2-element arrays): less Arrow object
    churn in the hot loop and ~30B/row less through the docid shuffle.

    When the native kernel is available the whole IE inner loop — walks,
    canonical flip, triple assembly, per-sentence dedup + ranking — runs as
    ONE C call per sentence (``_cbeam.ie_sentence``); the walk set (often
    10-100x the final candidate count) never materializes as Python
    objects. The Python loop below is the reference fallback and computes
    bit-identical rows (tests/test_cbeam_parity.py)."""
    feat = featurize(docid, offset, text, cfg)
    wins = _window_features(feat, cfg)
    rank_code = _RANK_CODES.get(cfg.dedup_ranking_type)
    use_c = (
        _cbeam is not None
        and hasattr(_cbeam, "ie_sentence")
        and cfg.beam_mode != "RC"
        and rank_code is not None
        and _native_config(cfg)
    )
    if use_c:
        payload = []
        for win in wins:
            eid, segs = entity_segments(win, cfg)
            if eid is None:
                continue
            offset0 = eid[0]
            pruned = att_provider.attention(win.tokens)[
                offset0 : eid[-1] + 1, offset0 : eid[-1] + 1
            ]
            if "gpt2" in cfg.model_name_or_path:
                pruned = pruned + np.triu(pruned.T, k=1)
            if pruned.shape[0] > 256:
                use_c = False
                break
            payload.append(
                (
                    np.ascontiguousarray(pruned, dtype=np.float64),
                    pruned.shape[0],
                    [[e - offset0 for e in seg] for seg in segs],
                    offset0,
                    win.tokens,
                    win.ent_names,
                    win.ent_spans,
                )
            )
        if use_c:
            sn = cfg.search_n
            sn = -1 if (sn is None or sn == "None") else int(sn)
            ranked = _cbeam.ie_sentence(
                payload,
                cfg.beam_size,
                cfg.dist_const,
                cfg.search_min_len,
                cfg.search_max_len,
                float(cfg.search_score_threshold),
                1 if cfg.search_ranking_type == "mean" else 0,
                sn,
                rank_code,
                cfg.cand_min_len,
            )
            rows = []
            for rank, (key, freq, score, hs, he, ts, te, attended) in enumerate(ranked):
                h, r, t = (part.strip() for part in key.split("[SEP]"))
                rows.append(
                    (docid, offset, text, key, h, r, t, hs, he, ts, te,
                     freq, float(score), attended, rank)
                )
            return rows
    dedup: dict[str, list] = {}
    for win in wins:
        att = att_provider.attention(win.tokens)
        seqs = beam_search_ie(att, win, cfg)
        if seqs:
            accumulate_candidates(dedup, seqs, win, cfg)
    if not dedup:
        return []
    rows = []
    for rank, (key, freq, score, h_span, t_span, attended) in enumerate(
        rank_candidates(dedup, cfg)
    ):
        h, r, t = (part.strip() for part in key.split("[SEP]"))
        rows.append(
            (docid, offset, text, key, h, r, t,
             h_span[0], h_span[1], t_span[0], t_span[1],
             freq, float(score), attended, rank)
        )
    return rows


_TUPLE_FIELDS = (
    "docid", "sent_offset", "sent_text", "triple_key", "subj", "rel", "obj",
    "subj_s", "subj_e", "obj_s", "obj_e", "freq", "score", "attended_len",
    "cand_rank",
)


def process_sentence(docid: str, offset: int, text: str, cfg, att_provider):
    """Dict-row variant (local oracle / tests)."""
    return [
        dict(zip(_TUPLE_FIELDS, row))
        for row in process_sentence_tuples(docid, offset, text, cfg, att_provider)
    ]
