"""Fused tag+vote pass vs the staged tag -> vote composition.

tag_and_vote_pages_df exists purely for scaling (one Arrow crossing of
voted rows instead of shipping all three views); it must be ROW-IDENTICAL
to vote_mentions(tag_pages_df(...)) — same floats, same rotation pick,
same dropped sentences — on both the html and the pre-extracted-text
input paths, with and without passthrough columns.
"""

import pytest
from pyspark.sql import functions as F

from thesis_ner_co_tri_training_spark.operators.mentions import (
    vote_mentions,
    vote_sentence_flat,
)
from thesis_ner_co_tri_training_spark.operators.tagging import (
    explode_sentences,
    tag_and_vote_pages_df,
    tag_pages_df,
    tag_sentences_df,
)
from thesis_ner_co_tri_training_spark.sources.pages import gen_pages_df

N_PAGES = 80


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(
            tuple(v) if isinstance(v, list) else v
            for v in (r[c] for c in cols)
        )
        for r in df.collect()
    )


@pytest.mark.parametrize("use_html", [True, False])
def test_fused_equals_staged(spark, use_html):
    pages = gen_pages_df(spark, N_PAGES, partitions=4)
    src = pages.drop("text") if use_html else pages.drop("html")
    staged = vote_mentions(tag_pages_df(src))
    fused = tag_and_vote_pages_df(src)
    assert fused.columns == staged.columns
    assert _rows(fused) == _rows(staged)


def test_fused_passthrough_and_thresholds(spark):
    pages = gen_pages_df(spark, N_PAGES, partitions=4)
    src = pages.drop("text")
    kw = dict(cos_threshold=0.5, tcfd_threshold=0.6, scfd_threshold=0.8)
    staged = vote_mentions(tag_pages_df(src, passthrough=["warc_ts"]), **kw)
    fused = tag_and_vote_pages_df(src, passthrough=["warc_ts"], **kw)
    assert fused.columns == staged.columns
    assert _rows(fused) == _rows(staged)


def test_struct_and_flat_sinks_agree(spark):
    """tag_sentences_df(explode_sentences(pages)) (struct views) and
    tag_pages_df(pages) (flat views) are two sinks of one pass; per
    (url, sent_id) they must carry the same tokens, tags, confidences,
    cfds and cosines."""
    pages = gen_pages_df(spark, 40, partitions=2).drop("text")
    struct = {(r["url"], r["sent_id"]): r
              for r in tag_sentences_df(explode_sentences(pages)).collect()}
    flat = {(r["url"], r["sent_id"]): r for r in tag_pages_df(pages).collect()}
    assert struct.keys() == flat.keys()
    assert len(flat) > 100
    for key, f in flat.items():
        s = struct[key]
        assert s["tokens"] == f["tokens"], key
        for k in (1, 2, 3):
            preds = s[f"v{k}_preds"]
            assert [p["word"] for p in preds] == f["tokens"], key
            assert [p["tag"] for p in preds] == f[f"t{k}_tags"], key
            assert [p["confidence"] for p in preds] == f[f"t{k}_confs"], key
            assert s[f"t{k}_cfd"] == f[f"t{k}_cfd"], key
        for c in ("cos12", "cos23", "cos13"):
            assert s[c] == f[c], key


def test_vote_sentence_flat_edge_cases():
    t = [["B-ORG"], ["B-ORG"], ["O"]]
    c = [[0.9], [0.8], [0.5]]
    # gate passes for rotation (1,2|3): equal tags -> first teacher's cols
    out = vote_sentence_flat(t, c, [0.9, 0.8, 0.0], [1.0, 0.0, 0.0],
                             0.7, 0.7, 0.6)
    assert out == (["B-ORG"], [0.9], "rot_12_3", 1.0)
    # no gate, not unanimous -> dropped
    assert vote_sentence_flat(t, c, [0.9, 0.8, 0.9], [0.0, 0.0, 0.0],
                              0.7, 0.7, 0.6) is None
    # unanimous fallback
    t3 = [["B-PER"], ["B-PER"], ["B-PER"]]
    out = vote_sentence_flat(t3, c, [0.0, 0.0, 0.0], [0.0, 0.0, 0.0],
                             0.7, 0.7, 0.6)
    assert out == (["B-PER"], [0.9], "unanimous", 1.0)
    # arbitration: unequal tags -> higher cfd wins; tie -> first teacher
    t2 = [["B-ORG"], ["B-PER"], ["O"]]
    out = vote_sentence_flat(t2, c, [0.7, 0.9, 0.0], [1.0, 0.0, 0.0],
                             0.6, 0.6, 0.6)
    assert out == (["B-PER"], [0.8], "rot_12_3", 1.0)


def test_tagging_stats_parity(spark):
    """tag_tokens_stats fuses the bag-of-tags counts and the avg-confident
    score into the tagger's own final walk; its four outputs must be
    bit-identical to the staged composition (tag_tokens_flat +
    tag_counts_py + avg_confident_score_flat) over a real page corpus,
    including the empty-sentence / all-O edge cases."""
    from thesis_ner_co_tri_training_spark.functions.simfn import (
        avg_confident_score_flat, tag_counts_py)
    from thesis_ner_co_tri_training_spark.functions.textnorm import (
        extract_text, split_sentences, strip_punct, tokenize)
    from thesis_ner_co_tri_training_spark.operators.tagging import (
        tag_tokens_flat, tag_tokens_stats)

    pages = gen_pages_df(spark, 40, partitions=2).select("html").collect()
    sents = [s for r in pages for s in split_sentences(extract_text(r["html"]))]
    sents += ["", "und oder aber", "2021 siemens gmbh 42"]  # edge shapes
    assert len(sents) > 100
    for sent in sents:
        tokens = tokenize(strip_punct(sent))
        lows = [t.lower() for t in tokens]
        for view in (1, 2, 3):
            tags, confs = tag_tokens_flat(tokens, view, lows=list(lows))
            s_tags, s_confs, counts, cfd = tag_tokens_stats(
                tokens, view, list(lows))
            assert s_tags == tags
            assert s_confs == confs
            assert counts == tag_counts_py(tags)
            assert cfd == avg_confident_score_flat(tags, confs, ignore_o=True)


def test_fused_paths_survive_null_and_unicode_pages(spark):
    """One malformed source row (null text/html — jsonl/warc parse_error
    rows emit exactly this) and one No-category unicode digit token must
    not kill any entry point of the tagging pass; null rows yield no
    sentence."""
    pages = spark.createDataFrame(
        [("u1", "Angela Merkel visited Berlin in 2019. Total: ²⁰²⁵ units."),
         ("u2", None),
         ("u3", "Peter Schmidt works at Siemens.")],
        "url string, text string")
    sv = tag_pages_df(pages)
    assert sv.filter("url = 'u2'").count() == 0  # null text = no sentences
    assert sv.filter("url = 'u1'").count() > 0
    voted = tag_and_vote_pages_df(pages)
    assert voted.filter("url = 'u2'").count() == 0
    sents = explode_sentences(pages)
    assert sents.filter("url = 'u2'").count() == 0
    assert sents.filter("url = 'u1'").count() == 2
    sv_struct = tag_sentences_df(sents)
    assert sv_struct.filter("url = 'u2'").count() == 0
    assert sv_struct.filter("url = 'u1'").count() == 2

    html_pages = spark.createDataFrame(
        [("h1", b"<html><body>Angela Merkel in Berlin.</body></html>"),
         ("h2", None)],
        "url string, html binary")
    sv2 = tag_pages_df(html_pages)
    assert sv2.filter("url = 'h2'").count() == 0
    assert sv2.filter("url = 'h1'").count() > 0
    sents2 = explode_sentences(html_pages)
    assert [(r["url"], r["sent_id"]) for r in sents2.collect()] == [("h1", 0)]
    assert [(r["url"], r["sent_id"])
            for r in tag_sentences_df(sents2).collect()] == [("h1", 0)]
