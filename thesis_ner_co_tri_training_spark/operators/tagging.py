"""Three deterministic tagger views (the reference's model candidates).

Replaces BERT inference (predict.py:79-115) with model-free deterministic
taggers, per SURVEY.md §7 — the engine's contract is the selection algebra,
not weights. Views genuinely disagree (bootstrap-subsampled gazetteers,
seeds 1/2/3 — utils.py:116-134 analog), so the tri-training vote has work
to do.

Execution: one pass, two sources, four sinks. `_sentence_pass` is the only
mapInPandas in this module (SURVEY §2.3 J2 "preferred" form — all three
views come out of one Arrow pass, no join between views). Its source is
either pages (extract + split inside the pass) or sentence rows (already
carrying `sent_id`). Its sinks are one `emit` function per output schema:
sentence text (explode_sentences), struct views (tag_sentences_df), flat
views (tag_pages_df) and voted sentences (tag_and_vote_pages_df). View
resources are built once per worker (module-level cache), mirroring the
reference loading models once per process (tri_train.py:34-36).

Each view's per-token output is {'word','tag','confidence'} exactly as
predict.py:114; tokenization is whitespace over punctuation-stripped text
(predict.py:81).
"""

from __future__ import annotations

from functools import lru_cache
from itertools import repeat
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.simfn import cosine_from_counts, tag_counts_py
from ..functions.textnorm import strip_punct, tokenize
from ..sources import corpus
from ..sources.corpus import CONTEXT_CUES, ORG_SUFFIX, _stable_conf
from .mentions import ROTATIONS, vote_sentence_flat

# Sink schemas, after the pass's own url, sent_id, *passthrough columns.
PRED_FIELDS = "array<struct<word:string,tag:string,confidence:double>>"
_COS_COLS = [f"cos{a}{b}" for a, b, _s, _rule in ROTATIONS]
_SCORE_COLS = {"t1_cfd": "double", "t2_cfd": "double", "t3_cfd": "double",
               **{c: "double" for c in _COS_COLS}}
_STRUCT_COLS = {"tokens": "array<string>",
                **{f"v{v}_preds": PRED_FIELDS for v in (1, 2, 3)},
                **_SCORE_COLS}
# Flat form: parallel tags/confs arrays instead of array<struct> records.
# Same information (word == tokens[i]), but ~40% smaller Arrow payload and
# no per-element dict boxing on either side of the socket.
_FLAT_COLS = {"tokens": "array<string>",
              **{f"t{v}_tags": "array<string>" for v in (1, 2, 3)},
              **{f"t{v}_confs": "array<double>" for v in (1, 2, 3)},
              **_SCORE_COLS}
_VOTED_COLS = {"tokens": "array<string>", "tags": "array<string>",
               "confs": "array<double>", "selection_rule": "string",
               "cos_score": "double"}

_RESOURCES: list[dict] | None = None
_ORG_SUFFIX_SET = set(ORG_SUFFIX)
_FILLER_SET = set(corpus.FILLER) | {"müde", "für", "größe", "straße"}
# prev-token -> pre-built "B-<tag>" (shared string, no per-hit f-string)
_CUE_BTAG = {cue: "B-" + tag for cue, tag in CONTEXT_CUES.items()}

# Shared lowercase cache: webtext vocabulary is Zipfian, so most tokens
# hit; a hit returns ONE shared string object instead of allocating a
# fresh lowercase copy per occurrence (allocation rate is the 8->32
# scaling bottleneck on a single memory system). Bounded for unbounded
# real-corpus vocabularies.
_lower = lru_cache(maxsize=1 << 17)(str.lower)


def _resources() -> list[dict]:
    global _RESOURCES
    if _RESOURCES is None:
        _RESOURCES = corpus.view_gazetteers()
    return _RESOURCES


@lru_cache(maxsize=1 << 17)
def _o_conf(word: str) -> float:
    return _stable_conf(f"o|{word}", 0.05, 0.45)


# Per-gazetteer first-token index, built once per worker process. Maps
# first lowercased token -> candidates sorted by span DESC (greedy
# longest-match order); entries longer than 3 tokens are excluded because
# the reference scan only ever tries spans 3..1. At most one candidate
# per span can equal the token window, so first-match iteration is
# exactly the original 3->2->1 membership probe without materializing a
# joined surface string per (position, span, view) — the profile's top
# cost (~1M str.join + ~2.6M .lower per 800 pages).
# Cache value keeps a strong reference to the gaz dict itself: id() keys
# are only unique while the object lives, so pinning the dict guarantees
# no id reuse can alias a stale index. Bounded: the three view
# gazetteers plus any ad-hoc test dicts.
_INDEX_CACHE: dict[int, tuple[dict, dict[str, list[tuple[int, tuple[str, ...], str, str, float]]]]] = {}


def _index_for(gaz: dict) -> dict[str, list[tuple[int, tuple[str, ...], str, str, float]]]:
    hit = _INDEX_CACHE.get(id(gaz))
    if hit is not None:
        return hit[1]
    idx: dict[str, list[tuple[int, tuple[str, ...], str, str, float]]] = {}
    for surf, (tag, conf) in gaz.items():
        parts = tuple(surf.split(" "))
        if len(parts) > 3:
            continue
        # B-/I- strings PRE-BUILT once per worker: the scan then writes
        # shared string objects instead of allocating an f"B-{tag}" per
        # matched span (the worker's allocation rate is the 8->32 scaling
        # bottleneck on a single memory system).
        idx.setdefault(parts[0], []).append(
            (len(parts), parts, "B-" + tag, "I-" + tag, conf))
    for cands in idx.values():
        cands.sort(key=lambda x: -x[0])
    _INDEX_CACHE[id(gaz)] = (gaz, idx)
    return idx


def _gaz_match(tokens: list[str], gaz: dict, tags: list[str | None],
               confs: list[float], lows: list[str] | None = None) -> None:
    """Greedy longest-match (3..1 tokens) gazetteer scan, BIO emission.

    Semantics identical to the direct windowed-membership form (a span is
    only taken when every window slot is still untagged and the joined
    lowercase window is a gazetteer key); the index just prunes positions
    whose first token starts no gazetteer entry.
    """
    if lows is None:
        lows = [t.lower() for t in tokens]
    index = _index_for(gaz)
    i, n = 0, len(tokens)
    while i < n:
        if tags[i] is not None:
            i += 1
            continue
        hit = None
        cands = index.get(lows[i])
        if cands:
            for span, parts, btag, itag, conf in cands:
                if i + span > n:
                    continue
                ok = True
                for j in range(1, span):
                    if tags[i + j] is not None or lows[i + j] != parts[j]:
                        ok = False
                        break
                if ok:
                    hit = (span, btag, itag, conf)
                    break
        if hit:
            span, btag, itag, conf = hit
            tags[i], confs[i] = btag, conf
            for j in range(i + 1, i + span):
                tags[j], confs[j] = itag, conf
            i += span
        else:
            i += 1


@lru_cache(maxsize=1 << 17)
def _v2_rule(low: str) -> tuple[str, float] | None:
    """View-2 pattern rule for one lowercased token — pure function of
    the token, so cached: a hit replaces isdigit/int parsing plus an
    md5-based _stable_conf per OCCURRENCE with one dict probe, and the
    returned (tag, conf) pair is shared objects (no per-hit f-string or
    float). Semantics identical to the original inline chain."""
    if low.isdigit():
        # isdigit() is true for tokens int() can't parse (superscript /
        # No-category digits like '²⁰²⁵', which survive strip_punct
        # because \w includes them) — those must not kill the job; they
        # take the plain-CARDINAL branch like any non-year digit run.
        if len(low) == 4:
            try:
                year = int(low)
            except ValueError:
                year = None
            if year is not None and 1900 <= year <= 2099:
                return "B-DATE", _stable_conf(f"v2|date|{low}")
        return "B-CARDINAL", _stable_conf(f"v2|card|{low}")
    if low in _ORG_SUFFIX_SET:
        return "B-ORG", _stable_conf(f"v2|org|{low}")
    return None


@lru_cache(maxsize=1 << 17)
def _v3_conf(prev: str, low: str) -> float | None:
    """View-3 context-cue confidence for a (prev, token) bigram whose
    prev IS a cue (caller checks _CUE_BTAG first — cue hits are sparse,
    so the cache stays small). None when the filler/digit guard rejects."""
    if low not in _FILLER_SET and not low.isdigit():
        return _stable_conf(f"v3|ctx|{prev}|{low}")
    return None


def _tag_core(tokens: list[str], view_id: int,
              lows: list[str]) -> tuple[list[str | None], list[float]]:
    """Gazetteer scan + per-view rules; O positions left as None (the
    caller's final pass fills them — and, in the stats variant, fuses
    the count/cfd accumulation into that same walk)."""
    n = len(tokens)
    tags: list[str | None] = [None] * n
    confs: list[float] = [0.0] * n
    gaz = _resources()[view_id - 1]
    _gaz_match(tokens, gaz, tags, confs, lows=lows)

    if view_id == 2:
        for i, low in enumerate(lows):
            if tags[i] is None:
                hit = _v2_rule(low)
                if hit is not None:
                    tags[i], confs[i] = hit
    elif view_id == 3:
        for i in range(1, n):
            if tags[i] is not None:
                continue
            btag = _CUE_BTAG.get(lows[i - 1])
            if btag is not None:
                conf = _v3_conf(lows[i - 1], lows[i])
                if conf is not None:
                    tags[i], confs[i] = btag, conf
    return tags, confs


def tag_tokens_flat(tokens: list[str], view_id: int,
                    lows: list[str] | None = None) -> tuple[list[str], list[float]]:
    """Flat core tagger: pre-tokenized sentence -> (tags, confs) arrays.

    view 1: gazetteer only.
    view 2: gazetteer subset 2 + pattern rules (4-digit year -> DATE,
            digits -> CARDINAL, org suffix -> ORG).
    view 3: gazetteer subset 3 + context cues (previous token).

    `lows` (precomputed lowercase tokens) lets the tri-view caller lower
    each token once instead of once per view per rule pass.
    """
    if lows is None:
        lows = [_lower(t) for t in tokens]
    tags, confs = _tag_core(tokens, view_id, lows)
    for i, low in enumerate(lows):
        if tags[i] is None:
            tags[i], confs[i] = "O", _o_conf(low)
    return tags, confs  # type: ignore[return-value]


def tag_tokens_stats(
    tokens: list[str], view_id: int, lows: list[str],
) -> tuple[list[str], list[float], dict[str, int], float]:
    """tag_tokens_flat + fused per-view stats in ONE final walk:
    returns (tags, confs, counts, cfd) where

      counts == tag_counts_py(tags)            (same position-order
                dict inserts — commutative int adds), and
      cfd == avg_confident_score_flat(tags, confs, ignore_o=True)
                bit-identically: both sum non-O confs left-to-right
                from 0.0 in position order, then one round-4.

    Saves two full re-walks of every sentence per view in the fused
    tagging worker; parity with the staged functions is pinned by
    test_tagging_stats_parity."""
    tags, confs = _tag_core(tokens, view_id, lows)
    counts: dict[str, int] = {}
    get = counts.get
    s = 0.0
    k = 0
    for i, low in enumerate(lows):
        t = tags[i]
        if t is None:
            tags[i] = "O"
            confs[i] = _o_conf(low)
            counts["O"] = get("O", 0) + 1
        else:
            counts[t] = get(t, 0) + 1
            s += confs[i]
            k += 1
    cfd = 0 if k == 0 else round(s / k, 4)
    return tags, confs, counts, cfd  # type: ignore[return-value]


def tag_sentence(text: str, view_id: int) -> list[dict]:
    """Per-sentence tagger, reference record shape (predict.py:114).

    Thin wrapper over the flat core — engine and oracle share ONE
    implementation, so parity holds by construction.
    """
    tokens = tokenize(strip_punct(text))
    tags, confs = tag_tokens_flat(tokens, view_id)
    return [
        {"word": w, "tag": t, "confidence": c}
        for w, t, c in zip(tokens, tags, confs)
    ]


def tag_all_views(text: str) -> tuple[list[str], list[dict], list[dict], list[dict]]:
    tokens = tokenize(strip_punct(text))
    return (tokens, tag_sentence(text, 1), tag_sentence(text, 2), tag_sentence(text, 3))


def tag_all_views_flat(text: str):
    """(tokens, [(tags_i, confs_i)] x3) — flat arrays, one tokenization
    and one lowercase pass shared across the three views."""
    tokens = tokenize(strip_punct(text))
    lows = [_lower(t) for t in tokens]
    return tokens, [tag_tokens_flat(tokens, v, lows=lows) for v in (1, 2, 3)]


def tag_all_views_stats(text: str):
    """(tokens, [(tags, confs, counts, cfd)] x3) — the fused-worker hot
    path: one tokenization + one shared lowercase pass, and each view's
    bag-of-tags counts and avg-confident score accumulated inside the
    tagger's own final walk (tag_tokens_stats) instead of re-walking
    every sentence 2 more times per view."""
    tokens = tokenize(strip_punct(text))
    lows = [_lower(t) for t in tokens]
    return tokens, [tag_tokens_stats(tokens, v, lows) for v in (1, 2, 3)]


def cosines_from_counts(c1: dict, c2: dict, c3: dict) -> tuple[float, float, float]:
    """(cos12, cos23, cos13) from pre-built per-view count dicts — the
    arithmetic is the oracle's cosine_from_counts verbatim."""
    return (cosine_from_counts(c1, c2), cosine_from_counts(c2, c3),
            cosine_from_counts(c1, c3))


def _emit_scores(out: dict[str, list], views: list) -> None:
    """Append the vote's per-view cfd and pairwise cosine columns."""
    for v, view in enumerate(views, start=1):
        out[f"t{v}_cfd"].append(view[3])
    cosines = cosines_from_counts(views[0][2], views[1][2], views[2][2])
    for col, cos in zip(_COS_COLS, cosines):
        out[col].append(cos)


def _sentence_pass(
    df: DataFrame,
    columns: dict[str, str],
    emit: Callable[[dict[str, list], str], bool],
    passthrough: list[str] | None = None,
) -> DataFrame:
    """The one Python pass behind every entry point below.

    A row with a `sent_id` column is already a sentence: its `text` goes
    to `emit` as is. Any other row is a page: `text` (or, when only
    `html` is present, extract_text over it) is run through
    split_sentences and each sentence is numbered from 0; null payloads
    yield no sentence. `emit(out, text)` appends one value to each of
    its `columns` lists in `out` and returns whether it emitted a row;
    the pass then appends that row's url, sent_id and `passthrough`
    values. Output schema: url, sent_id, *passthrough, *columns.

    One mapInPandas stage: chained Python stages pipeline each task
    through every one of them concurrently (each its own worker process
    + two Arrow socket hops), multiplying processes and kernel socket
    work for no algorithmic gain; at cluster scale a chain also adds a
    serialize/deserialize round-trip of the sentence corpus per stage.
    """
    from ..functions.textnorm import extract_text, split_sentences

    passthrough = passthrough or []
    is_sentence = "sent_id" in df.columns
    src = "text" if "text" in df.columns else "html"
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = {"url": "string", "sent_id": "bigint",
              **{c: types[c] for c in passthrough}, **columns}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _resources()  # build once per worker
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in schema}
            urls, sent_ids = out["url"], out["sent_id"]
            kept = [out[c] for c in passthrough]
            row_ids = pdf["sent_id"] if is_sentence else repeat(None)
            for url, row_id, payload, *extras in zip(
                    pdf["url"], row_ids, pdf[src], *(pdf[c] for c in passthrough)):
                if is_sentence:
                    sents = ((row_id, payload),)
                else:
                    text = payload if src == "text" else extract_text(payload)
                    sents = enumerate(split_sentences(text))
                for sent_id, sent in sents:
                    if emit(out, sent):
                        urls.append(url)
                        sent_ids.append(sent_id)
                        for col, val in zip(kept, extras):
                            col.append(val)
            if urls:
                # a zero-row chunk (e.g. every input row had null
                # text/html) must yield NOTHING: pd.DataFrame of empty
                # python lists infers float64 columns, and Arrow cannot
                # convert an empty float64 to array<string>
                yield pd.DataFrame(out)

    in_cols = ["url", *(["sent_id"] if is_sentence else []), src, *passthrough]
    return df.select(*in_cols).mapInPandas(
        run, ", ".join(f"{c} {t}" for c, t in schema.items()))


def tag_sentences_df(sentences: DataFrame) -> DataFrame:
    """(url, sent_id, text) -> (url, sent_id, tokens, v1/v2/v3_preds,
    t1..t3_cfd, cos12/cos23/cos13).

    Reference record form: each view's per-token
    {'word','tag','confidence'} (predict.py:114), so size(tokens) ==
    size(preds) per view (the predict.py:113 invariant). Values equal
    tag_pages_df's flat arrays sentence for sentence.
    """
    def emit(out: dict[str, list], text: str) -> bool:
        toks, views = tag_all_views_stats(text)
        out["tokens"].append(toks)
        for v, (tags, confs, _, _) in enumerate(views, start=1):
            out[f"v{v}_preds"].append([
                {"word": w, "tag": t, "confidence": c}
                for w, t, c in zip(toks, tags, confs)
            ])
        _emit_scores(out, views)
        return True

    return _sentence_pass(sentences, _STRUCT_COLS, emit)


def tag_pages_df(pages: DataFrame, passthrough: list[str] | None = None) -> DataFrame:
    """pages (url, html|text, ...) or sentences -> flat sent_views.

    Parallel tags/confs arrays per view (word == tokens[i]) plus the
    vote's cfd/cos columns; `passthrough` columns ride along unchanged.
    A re-vote sweep materializes this once and runs vote_mentions over
    it with other thresholds.
    """
    def emit(out: dict[str, list], text: str) -> bool:
        toks, views = tag_all_views_stats(text)
        out["tokens"].append(toks)
        for v, (tags, confs, _, _) in enumerate(views, start=1):
            out[f"t{v}_tags"].append(tags)
            out[f"t{v}_confs"].append(confs)
        _emit_scores(out, views)
        return True

    return _sentence_pass(pages, _FLAT_COLS, emit, passthrough)


def tag_and_vote_pages_df(
    pages: DataFrame,
    cos_threshold: float = 0.7,
    tcfd_threshold: float = 0.7,
    scfd_threshold: float = 0.6,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """pages -> VOTED sentences in ONE Arrow pass (tag_pages_df + vote).

    Row-identical to vote_mentions(tag_pages_df(pages)) — pinned by the
    fused-vs-staged parity test — but the agreement vote runs inside the
    same Python worker that computed the views, so only the ~50% of
    sentences that survive the gate cross the Python->JVM Arrow socket,
    carrying ONE tags/confs pair instead of three plus the cfd/cos
    columns (~5-6x fewer bytes over the socket per input page). At high
    core counts the socket/serialization work is kernel-heavy and
    contended, so shrinking it is what buys N->4N scaling efficiency;
    JVM-side it also removes the wide interpreted CASE trees from the
    plan. The staged pipeline builds its `voted` stage with this.
    """
    def emit(out: dict[str, list], text: str) -> bool:
        toks, views = tag_all_views_stats(text)
        picked = vote_sentence_flat(
            [v[0] for v in views], [v[1] for v in views], [v[3] for v in views],
            cosines_from_counts(views[0][2], views[1][2], views[2][2]),
            cos_threshold, tcfd_threshold, scfd_threshold,
        )
        if picked is None:
            return False
        # (tokens, tags, confs, selection_rule, cos_score)
        for col, val in zip(_VOTED_COLS, (toks, *picked)):
            out[col].append(val)
        return True

    return _sentence_pass(pages, _VOTED_COLS, emit, passthrough)


def explode_sentences(pages: DataFrame) -> DataFrame:
    """pages -> (url, sent_id, text) via extract/split (S1/S2 analogs).

    Uses the `text` column when present (already-extracted corpora);
    otherwise runs the byte-identical extractor over `html`.
    """
    def emit(out: dict[str, list], text: str) -> bool:
        out["text"].append(text)
        return True

    return _sentence_pass(pages, {"text": "string"}, emit)
