"""Tri-view agreement voting -> voted mentions table.

The reference's tri-training pseudo-label selection (tri_train.py:141-219)
re-expressed as one declarative DataFrame stage:

  role rotation  [(1,2|3), (2,3|1), (1,3|2)]      tri_train.py:148
  C1 teachable   cos(t1,t2) > cos_thr
                 AND min(t1_cfd,t2_cfd) > tcfd
                 AND s_cfd < scfd                  tri_train.py:44-60
  C2 arbitration t1==t2 -> t1 else higher-cfd      tri_train.py:213-219

A sentence's voted labels come from the FIRST rotation that passes the
gate (the reference processes rotations in list order and a sentence can
only be consumed once per pool); sentences where all three views agree
exactly pass as 'unanimous' (cos == 1.0 for every pair — the degenerate
always-agreeing case). Everything here is built-in expressions — zero
Python in the plan; span extraction is a single JVM-side aggregate() fold
per row (no shuffle, no window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPAN_STRUCT = "array<struct<beg:int,end:int,tag:string,conf:double>>"

# Rotation order is reference semantics (tri_train.py:148): a sentence is
# consumed by the FIRST gate that passes, ties in arbitration go to the
# first teacher. Shared by the relational vote below and the fused
# Python vote (operators/tagging.tag_and_vote_pages_df).
ROTATIONS = [(1, 2, 3, "rot_12_3"), (2, 3, 1, "rot_23_1"), (1, 3, 2, "rot_13_2")]


def vote_sentence_flat(
    tags_by_view: list[list[str]],
    confs_by_view: list[list[float]],
    cfds: list[float],
    cosines: list[float],
    cos_threshold: float,
    tcfd_threshold: float,
    scfd_threshold: float,
) -> tuple[list[str], list[float], str, float] | None:
    """Pure-Python single-sentence form of vote_mentions (C1+C2+rotation).

    cosines = [cos12, cos23, cos13], matching ROTATIONS order. Returns
    (tags, confs, selection_rule, cos_score) or None (sentence dropped).
    Operates on the exact same float values the relational form sees
    (both consume the tagging pass's precomputed cfd/cos columns), so
    comparisons are bit-identical — pinned by the fused-vs-staged parity
    test.
    """
    for (a, b, s, rule), cos in zip(ROTATIONS, cosines):
        if (
            cos > cos_threshold
            and min(cfds[a - 1], cfds[b - 1]) > tcfd_threshold
            and cfds[s - 1] < scfd_threshold
        ):
            if tags_by_view[a - 1] == tags_by_view[b - 1]:
                pick = a - 1
            elif cfds[a - 1] > cfds[b - 1]:
                pick = a - 1
            else:
                pick = b - 1
            return tags_by_view[pick], confs_by_view[pick], rule, cos
    if tags_by_view[0] == tags_by_view[1] == tags_by_view[2]:
        return tags_by_view[0], confs_by_view[0], "unanimous", 1.0
    return None


def _close(acc: str = "acc") -> str:
    return (
        f"CASE WHEN {acc}.n > 0 THEN array_append({acc}.spans, named_struct("
        f"'beg', {acc}.beg, 'end', {acc}.beg + {acc}.n, 'tag', {acc}.tag, "
        f"'conf', bround({acc}.csum / {acc}.n, 4))) ELSE {acc}.spans END"
    )


def spans_expr(tags_col: str, confs_col: str) -> Column:
    """BIO tag array -> array<struct<beg,end,tag,conf>> via aggregate fold.

    Lenient scheme: I-X continues an open X span; I-X after O / other tag
    opens a new span (seqeval 'default' behavior). conf = round-4 mean of
    member token confidences (utils.py round-4 convention).
    """
    # (t, i) transform keeps the fold total on empty arrays —
    # sequence(0, size-1) would generate a DESCENDING [0,-1] when size=0.
    items = (
        f"transform({tags_col}, (t, i) -> named_struct("
        f"'i', i, 'tg', t, 'cf', element_at({confs_col}, i + 1)))"
    )
    zero = (
        f"named_struct('spans', cast(array() as {_SPAN_STRUCT}), "
        "'beg', -1, 'tag', '', 'csum', cast(0.0 as double), 'n', 0)"
    )
    step = f"""(acc, x) -> CASE
        WHEN x.tg = 'O' THEN named_struct(
            'spans', {_close()}, 'beg', -1, 'tag', '',
            'csum', cast(0.0 as double), 'n', 0)
        WHEN x.tg LIKE 'I-%' AND acc.n > 0 AND substring(x.tg, 3) = acc.tag
        THEN named_struct('spans', acc.spans, 'beg', acc.beg, 'tag', acc.tag,
            'csum', acc.csum + x.cf, 'n', acc.n + 1)
        ELSE named_struct('spans', {_close()}, 'beg', x.i,
            'tag', substring(x.tg, 3), 'csum', x.cf, 'n', 1)
    END"""
    return F.expr(
        f"aggregate({items}, {zero}, {step}, acc -> {_close()})"
    )


def vote_mentions(
    sent_views: DataFrame,
    cos_threshold: float = 0.7,
    tcfd_threshold: float = 0.7,
    scfd_threshold: float = 0.6,
) -> DataFrame:
    """sent_views -> voted sentence labels.

    Input: url, sent_id, tokens, the three views (flat t1..t3_tags/confs
    or struct v1..v3_preds) and the tagging pass's t1..t3_cfd and
    cos12/cos23/cos13 columns — every producer in operators/tagging
    emits them.
    Output: url, sent_id, tokens, tags, confs, selection_rule, cos_score.
    Non-teachable, non-unanimous sentences are filtered out (low-confidence
    mention filtering — the engine's whole point).
    """
    extras = [c for c in ("warc_ts",) if c in sent_views.columns]
    df = sent_views
    if "t1_tags" not in df.columns:  # struct form -> flat columns
        for v in (1, 2, 3):
            p = f"v{v}_preds"
            df = (
                df.withColumn(f"t{v}_tags", F.transform(F.col(p), lambda x: x["tag"]))
                .withColumn(f"t{v}_confs", F.transform(F.col(p), lambda x: x["confidence"]))
            )
    # C1 gate per rotation, each its own column so the CASE chains below
    # reference it instead of re-evaluating it.
    df = df.withColumns({
        f"g{a}{b}": (
            (F.col(f"cos{a}{b}") > cos_threshold)
            & (F.least(F.col(f"t{a}_cfd"), F.col(f"t{b}_cfd")) > tcfd_threshold)
            & (F.col(f"t{s}_cfd") < scfd_threshold)
        )
        for a, b, s, _rule in ROTATIONS
    })
    unanimous = (F.col("t1_tags") == F.col("t2_tags")) & (
        F.col("t2_tags") == F.col("t3_tags")
    )

    def first_gate(value, fallback) -> Column:
        """CASE over ROTATIONS in order (the first passing gate wins),
        then the unanimous fallback; value(a, b, rule) per rotation."""
        expr = None
        for a, b, _s, rule in ROTATIONS:
            gate, val = F.col(f"g{a}{b}"), value(a, b, rule)
            expr = F.when(gate, val) if expr is None else expr.when(gate, val)
        return expr.when(unanimous, fallback)

    def arbitrate(col_fmt: str):
        """C2: equal tags -> teacher a, else the higher-cfd teacher."""
        def pick(a, b, _rule):
            ta, tb = F.col(f"t{a}_tags"), F.col(f"t{b}_tags")
            ca, cb = F.col(f"t{a}_cfd"), F.col(f"t{b}_cfd")
            return (
                F.when(ta == tb, F.col(col_fmt.format(a)))
                .when(ca > cb, F.col(col_fmt.format(a)))
                .otherwise(F.col(col_fmt.format(b)))
            )
        return pick

    rule = first_gate(lambda a, b, r: F.lit(r), F.lit("unanimous"))
    tags = first_gate(arbitrate("t{}_tags"), F.col("t1_tags"))
    confs = first_gate(arbitrate("t{}_confs"), F.col("t1_confs"))
    cos_score = first_gate(lambda a, b, r: F.col(f"cos{a}{b}"), F.lit(1.0))
    return (
        df.withColumn("selection_rule", rule)
        .withColumn("tags", tags)
        .withColumn("confs", confs)
        .withColumn("cos_score", cos_score)
        .filter(F.col("selection_rule").isNotNull())
        .select("url", "sent_id", *extras, "tokens", "tags", "confs",
                "selection_rule", "cos_score")
    )


def mentions_table(voted: DataFrame) -> DataFrame:
    """Voted sentence labels -> long-form mentions table.

    url, sent_id, beg, end, surface, tag, confidence — FIXTURES.md §4 shape.
    """
    extras = [c for c in ("warc_ts",) if c in voted.columns]
    spans = voted.withColumn("span", F.explode(spans_expr("tags", "confs")))
    return spans.select(
        "url",
        "sent_id",
        *extras,
        F.col("span.beg").alias("beg"),
        F.col("span.end").alias("end"),
        F.concat_ws(
            " ",
            F.slice(F.col("tokens"), F.col("span.beg") + 1,
                    F.col("span.end") - F.col("span.beg")),
        ).alias("surface"),
        F.col("span.tag").alias("tag"),
        F.col("span.conf").alias("confidence"),
    )
