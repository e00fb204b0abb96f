"""Deterministic synthetic Common-Crawl-style `pages` corpus.

Schema (BASELINE.json input_hint, exact):
    url string, warc_ts timestamp, html binary, text string, lang string

`text` is the golden extracted text: the generator builds it first, wraps
it in entity-escaped HTML, and the engine's extract_text(html) must return
it byte-identically (FIXTURES.md §1). Pages are generated one-per-id by a
pure function seeded from the page id (sha-seeded random.Random — stable
across processes), so generation is embarrassingly parallel: at bench
scale it runs distributed via mapInPandas over spark.range(n).

Gold *plants* (which mentions/triples were planted) are corpus ground
truth for quality reporting; the P/R >= 0.95 correctness gate compares the
engine against the pure-Python oracle of the same selection algebra
(tests/oracle.py), per FIXTURES.md §4.
"""

from __future__ import annotations

import datetime as _dt
import html as _html
import random
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.textnorm import strip_punct, tokenize
from . import corpus

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
])

_GAZ_KEYS = sorted(corpus.full_gazetteer().items())
_PER_KEYS = [k for k, t in _GAZ_KEYS if t == "PER"]
_TARGET_KEYS = [k for k, t in _GAZ_KEYS if t in ("ORG", "GPE")]
_UMLAUT_FILLER = ["müde", "für", "größe", "straße"]
_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)


def _stripped_positions(raw_tokens: list[str]) -> list[int | None]:
    """raw token index -> index in tokenize(strip_punct(' '.join(raw))).

    Within-token punctuation removal never merges tokens; tokens that strip
    to empty (e.g. a bare '&') vanish when split() collapses whitespace.
    """
    out: list[int | None] = []
    nxt = 0
    for tok in raw_tokens:
        if strip_punct(tok).strip():
            out.append(nxt)
            nxt += 1
        else:
            out.append(None)
    return out


def gen_page(page_id: int, seed: int = 42) -> dict:
    """Pure deterministic page builder. Returns page row + gold plants."""
    rng = random.Random(f"page-{seed}-{page_id}")
    # Zipf-skewed domains to exercise salted repartitioning downstream.
    domain_id = min(int(rng.paretovariate(1.1)) - 1, 199)
    url = f"https://site{domain_id}.example.com/p/{page_id}"
    lang = "de" if rng.random() < 0.6 else "en"
    n_sents = 1 + rng.randrange(30)

    lines: list[str] = []
    mentions: list[tuple[int, int, int, str, str]] = []  # sent,beg,end,surface,tag
    triples: list[tuple[str, str, str, int]] = []

    for sent_id in range(n_sents):
        raw: list[str] = []
        plants: list[tuple[int, str, str]] = []  # raw_start, surface, tag

        def fillers(lo: int, hi: int) -> None:
            for _ in range(rng.randint(lo, hi)):
                if rng.random() < 0.04:
                    raw.append(rng.choice(_UMLAUT_FILLER))
                elif rng.random() < 0.03:
                    raw.append("&")  # vanishes under strip_punct
                elif rng.random() < 0.03:
                    raw.append(str(rng.randint(1900, 2099)))  # DATE pattern
                else:
                    raw.append(rng.choice(corpus.FILLER))

        def plant(surface: str, tag: str) -> None:
            plants.append((len(raw), surface, tag))
            raw.extend(surface.split())

        kind = rng.random()
        fillers(2, 7)
        if kind < 0.5:
            fillers(2, 8)
        elif kind < 0.8:
            surf, tag = _GAZ_KEYS[rng.randrange(len(_GAZ_KEYS))]
            plant(surf, tag)
            fillers(1, 5)
            if rng.random() < 0.4:
                surf2, tag2 = _GAZ_KEYS[rng.randrange(len(_GAZ_KEYS))]
                plant(surf2, tag2)
                fillers(0, 3)
        else:
            subj = rng.choice(_PER_KEYS)
            cue = rng.choice(corpus.CUES)
            obj = rng.choice(_TARGET_KEYS)
            plant(subj, "PER")
            raw.append(cue)
            plant(obj, corpus.full_gazetteer()[obj])
            fillers(1, 4)
            triples.append((subj, cue, obj, sent_id))

        pos_map = _stripped_positions(raw)
        for start, surface, tag in plants:
            n_tok = len(surface.split())
            beg = pos_map[start]
            end = pos_map[start + n_tok - 1]
            if beg is not None and end is not None:
                mentions.append((sent_id, beg, end + 1, surface, tag))
        lines.append(" ".join(raw) + ".")

    text = "\n".join(lines)
    body = "".join(f"<p>{_html.escape(line)}</p>" for line in lines)
    html_doc = (
        "<html><head><title></title>"
        "<script>var x = 1 &amp;&amp; 2; // skipped</script>"
        "<style>p { color: red; }</style></head>"
        f"<body><div id=\"main\">{body}</div>"
        "<footer></footer></body></html>"
    )
    ts = _EPOCH + _dt.timedelta(seconds=(page_id * 137) % (366 * 86400))
    return {
        "url": url,
        "warc_ts": ts,
        "html": html_doc.encode("utf-8"),
        "text": text,
        "lang": lang,
        "gold_mentions": mentions,
        "gold_triples": triples,
    }


def _page_rows(ids) -> pd.DataFrame:
    rows = []
    for pid in ids:
        p = gen_page(int(pid))
        rows.append((p["url"], p["warc_ts"], p["html"], p["text"], p["lang"]))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def gen_pages_df(spark: SparkSession, n_pages: int,
                 partitions: int | None = None,
                 start: int = 0) -> DataFrame:
    """Distributed deterministic generation (one row per page id).

    `start` offsets the id range: gen_pages_df(n, start=k) yields pages
    k..k+n-1, byte-identical to the same ids from a single larger run —
    the generator is a pure function of the page id, which is what lets
    the incremental pipeline append "the next crawl batch" and compare
    row-exactly against one full run (tests/test_incremental.py).
    """
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)

    # `start` is added in Python: a range literal is generated code, and
    # a new start per batch would compile a new class per batch
    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _page_rows((pdf["id"] + start).tolist())

    return (
        spark.range(n_pages, numPartitions=partitions)
        .mapInPandas(batch, schema=PAGES_SCHEMA)
    )


def write_pages(spark: SparkSession, n_pages: int, out_dir: str,
                partitions: int | None = None) -> None:
    gen_pages_df(spark, n_pages, partitions).write.mode("overwrite").parquet(out_dir)


def gold_tables(n_pages: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Driver-side plants for the pytest corpus (small n only)."""
    m_rows, t_rows = [], []
    for pid in range(n_pages):
        p = gen_page(pid)
        for sent_id, beg, end, surface, tag in p["gold_mentions"]:
            m_rows.append((p["url"], sent_id, beg, end, surface, tag))
        for subj, pred, obj, sent_id in p["gold_triples"]:
            t_rows.append((subj, pred, obj, p["url"], sent_id))
    gm = pd.DataFrame(m_rows, columns=["url", "sent_id", "beg", "end", "surface", "tag"])
    gt = pd.DataFrame(t_rows, columns=["subj", "pred", "obj", "url", "sent_id"])
    return gm, gt
