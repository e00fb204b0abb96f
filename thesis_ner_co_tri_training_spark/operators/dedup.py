"""Document deduplication suite for large-scale training-data pipelines.

Five strategies, all DataFrame-first:

  exact          md5 of normalized text, groupBy          (hash-groupBy)
  minhash-LSH    token-shingle minhash -> banded buckets  (scale path)
  simhash        64-bit sign-aggregated token hashes      (near-dup bits)
  ngram-jaccard  exact verify on candidate pairs
  embedding      cosine >= threshold on embedding pairs   (semantic dups)

MinHash-LSH runs on operators.linking's one signature format (the
`sig` column), band helper (_band_array), bucket enumerator and
jaccard_verify, at document granularity. Signatures come from two
builders of that one format: the in-set batch ops (minhash_lsh_pairs,
near_dup_clusters, minhash_bands) use _doc_signature, a long-form
aggregate of codegen'd mins (the fastest form with a shuffle to hand);
the persisted index, the crawl gate and the stream cannot shuffle and
use linking.minhash_signature per row over _with_shingles' shingle
array. Matching a batch against a persisted index (the old docs'
bands + shingles) is one matcher, _index_matches, shared by
dedup_against_index and the streaming twin.

At 100 TB: exact dedup is one shuffle on a 16-byte key; minhash banding
keys the shuffle by (band, bucket) which is uniform by construction
(hash output), so no skew beyond boilerplate buckets, which the
max_bucket guard drops before any pair is formed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .linking import (_band_array, _shingle_hash, _sig_column,
                      connected_components, jaccard_verify,
                      lsh_candidate_pairs, minhash_signature)

# lower + collapse whitespace runs + TRIM. The trim matters: without it
# leading/trailing whitespace leaves empty-string tokens after split
# (poisoning shingles/simhash votes) and makes 'x' vs 'x\n' hash as
# different exact-dup keys — CCNet-style normalization strips, and every
# other tokenizer in the suite (set_similarity_join, repeated_spans,
# textstats.tokens_col) already trims. DuckDB oracle twin:
# trim(lower(regexp_replace(text, '\s+', ' ', 'g'))).
NORM = lambda c: F.trim(F.lower(F.regexp_replace(c, r"\s+", " ")))


def _widen(df: DataFrame) -> DataFrame:
    """Ensure the doc scan has enough partitions for the explode stages.

    A small parquet file arrives as ONE split, so the shingle explode
    (~50x rows) and the per-bit/per-hash partial aggregations would run
    on one core. On a 100TB corpus the scan already has thousands of
    splits and this is a no-op; locally the cheap pre-explode shuffle of
    compact doc rows buys full-width partial aggregation.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def normalized_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("norm_text", NORM(F.col(text_col)))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents.

    Output: content_hash, n_docs, doc_ids (sorted) — only groups with >1.
    """
    return (
        normalized_text(df, text_col)
        .select(id_col, F.md5("norm_text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _shingle_expr(n: int) -> str:
    """SQL expr building the word-n-gram shingle array from a token
    array named __t — the single shared tokenize-to-shingles recipe
    (token_shingles_long's exploded form and _with_shingles' per-row
    form must hash identical strings)."""
    return (
        f"transform(sequence(0, size(__t) - {n}), "
        f"i -> concat_ws(' ', slice(__t, i + 1, {n})))"
    )


def token_shingles_long(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per doc, LONG form (id, s).

    Shape: no shuffle beyond _widen's conditional round-robin exchange
    (a no-op whenever the input scan already has >= defaultParallelism
    splits — always true on a real corpus, only the tiny local fixtures
    trigger it). split() lives in its own named projection, and
    CollapseProject refuses to inline a non-cheap expression referenced
    more than once (size + the transform lambda), so the tokenizer regex
    runs exactly once per row (verified: one `split(` in the physical
    plan) while shingle assembly stays a narrow slice/concat transform.
    This replaces the previous token-posexplode + window-lead form, whose
    (id, pos) window shuffled every token row.

    distinct=False skips the per-doc shingle dedup shuffle; callers whose
    aggregate is duplicate-insensitive (minhash min()) save a full
    shuffle of the exploded shingle stream.
    """
    toks = _widen(
        df.select(id_col, F.split(NORM(F.col(text_col)), " ").alias("__t"))
    )
    shingle = _shingle_expr(n)
    out = toks.select(
        id_col,
        F.explode(F.when(F.size("__t") >= n, F.expr(shingle))
                  .otherwise(F.array().cast("array<string>"))).alias("s"),
    )
    return out.distinct() if distinct else out


def _with_shingles(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """df plus `shingles`: the doc's distinct word n-gram shingles, per
    row, empty for a doc shorter than n tokens or with NULL text. The
    one shingle-array builder (token_shingles, the persisted index and
    the batch side of every index match)."""
    toks = df.select("*", F.split(NORM(F.col(text_col)), " ").alias("__t"))
    return toks.withColumn(
        "shingles",
        F.when(F.size("__t") >= n, F.array_distinct(F.expr(_shingle_expr(n))))
        .otherwise(F.array().cast("array<string>")),
    ).drop("__t")


def token_shingles(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingles) per doc, no shuffle: word n-gram shingle arrays
    (distinct shingles); docs shorter than n tokens keep an empty array
    (not a dropped row)."""
    return _with_shingles(df.select(id_col, text_col), text_col, n).select(
        id_col, "shingles")


def _doc_signature(df: DataFrame, id_col: str, text_col: str, n: int,
                   num_hashes: int, hasher: str) -> DataFrame:
    """(id, shingles, sig) per doc with >= n tokens, the in-set batch
    builder: num_hashes codegen'd mins over the long-form (doc, shingle)
    rows, partially aggregated map-side, plus the doc's distinct
    shingles for a verify (a caller that drops them prunes that
    aggregate away). The shingle rows are not deduplicated first: min()
    doesn't need it. `sig` is minhash_signature's format, value for
    value (pinned by test)."""
    ex = token_shingles_long(df, id_col, text_col, n, distinct=False)
    return ex.groupBy(id_col).agg(
        F.array_distinct(F.collect_list("s")).alias("shingles"),
        _sig_column([F.min(_shingle_hash(F.col("s"), i, hasher))
                     for i in range(num_hashes)], hasher),
    )


def _doc_hashes(df: DataFrame, text_col: str, n: int, num_hashes: int,
                hasher: str) -> DataFrame:
    """df's docs with >= n tokens plus (shingles, sig), with ZERO
    shuffle (so it runs unchanged on a stream): _with_shingles, then
    the per-row minhash_signature. Its bands are minhash_bands' rows
    (pinned by test). num_hashes array traversals per row instead of a
    shuffle: right for a batch or micro-batch; a query reading its
    index twice in one plan keeps minhash_bands."""
    return minhash_signature(
        _with_shingles(df, text_col, n).filter(F.size("shingles") > 0),
        num_hashes, hasher=hasher)


def minhash_docs(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3,
                 num_hashes: int = 32, bands: int = 8,
                 hasher: str = "xxhash64") -> DataFrame:
    """The persisted index's rows (plans/dedup_index), one per doc with
    >= n tokens: (id, text, shingles, buckets = array<bigint> of the
    band hashes; posexploded, exactly minhash_bands' rows). Explode
    `buckets` only after a parquet round trip: on a column computed in
    the same plan, InferFiltersFromGenerate pushes size(buckets) > 0
    below the projections, inlining the tokenizer and every minhash
    transform into a Filter; _index_matches explodes the expression."""
    d = _doc_hashes(df, text_col, n, num_hashes, hasher)
    return d.select(id_col, text_col, "shingles",
                    _band_array(d, bands).alias("buckets"))


def minhash_bands(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  num_hashes: int = 32, bands: int = 8,
                  hasher: str = "xxhash64") -> DataFrame:
    """Banded minhash rows (id, band, bucket) — the LSH index relation
    dedup_against_index matches a batch against, built in one query
    (q67, the index-parity audit). The persisted index is written per
    batch by plans/dedup_index with the row-identical per-row
    minhash_docs, which needs no checkpoint. hasher/n/
    num_hashes/bands are part of the index schema contract — a batch
    matched against an index built with different parameters silently
    finds nothing.
    """
    # Materialize the signature table (num_hashes longs per doc, never
    # the shingles): filter_index_buckets reads an in-query index twice
    # (bucket sizes + the join back), and without a cut Spark would
    # re-run the whole shingle pipeline per read. The band expression is
    # built first, so a bad band count fails before the checkpoint job.
    sig = _doc_signature(df, id_col, text_col, n, num_hashes,
                         hasher).drop("shingles")
    buckets = _band_array(sig, bands)
    return sig.localCheckpoint(eager=True).select(
        F.col(id_col), F.posexplode(buckets).alias("band", "bucket"))


def _lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3,
                    num_hashes: int = 32, bands: int = 8,
                    max_bucket: int = 64, hasher: str = "xxhash64",
                    carry_shingles: bool = True) -> DataFrame:
    """Distinct (a, b, sh_a, sh_b) doc candidates, a < b: the aggregate
    signature handed to linking.lsh_candidate_pairs. carry_shingles=
    False carries NULL arrays, pruning collect_list out of the signature
    aggregate, which keeps its mins in a codegen'd HashAggregate."""
    sig = _doc_signature(df, id_col, text_col, n, num_hashes, hasher)
    if not carry_shingles:
        sig = sig.withColumn("shingles", F.lit(None).cast("array<string>"))
    return lsh_candidate_pairs(sig, bands=bands, key=id_col,
                               max_bucket=max_bucket)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_hashes: int = 32, bands: int = 8,
                      max_bucket: int = 64,
                      hasher: str = "xxhash64") -> DataFrame:
    """Candidate near-duplicate doc pairs (a, b), a < b, via minhash
    banding: one collect_list per (band, bucket), pairs enumerated in it.

    rows_per_band = num_hashes // bands; collision prob ~ 1-(1-s^r)^b.
    A band count that does not divide num_hashes raises ValueError.

    hasher="xxhash64" (default): the fast JVM hash — value-checked
    locally by the pure-Python XXH64 oracle (tests/xxh64.py).
    hasher="md5": 60-bit ints from the md5 hex prefix — slower, but
    byte-reproducible in ANY engine with md5 (the DuckDB-oracled
    contract variant, q36); conv(hex,16,10) on 15 hex digits stays
    inside a signed 64-bit value.

    Skew guard (`max_bucket`): a bucket with more than max_bucket docs
    forms no pairs — it is non-discriminative (boilerplate/template
    collisions) and would produce |B|^2 pairs that the verify step
    almost all rejects.
    """
    return _lsh_candidates(df, id_col, text_col, n, num_hashes, bands,
                           max_bucket, hasher,
                           carry_shingles=False).select("a", "b")


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame | None = None,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, threshold: float = 0.8) -> DataFrame:
    """Exact word-n-gram Jaccard on candidate pairs (or LSH candidates).

    pairs=None verifies the LSH candidates' carried shingles; given
    pairs are joined to token_shingles(df) on both sides.

    Output: a, b, jaccard (round 4) — pairs >= threshold.
    """
    if pairs is None:
        cand = _lsh_candidates(df, id_col, text_col, n)
    else:
        sh = token_shingles(df, id_col, text_col, n)
        sa = sh.select(F.col(id_col).alias("a"), F.col("shingles").alias("sh_a"))
        sb = sh.select(F.col(id_col).alias("b"), F.col("shingles").alias("sh_b"))
        cand = pairs.join(sa, "a").join(sb, "b")
    return jaccard_verify(cand, threshold).select("a", "b", "jaccard")


def set_similarity_join(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        threshold: float = 0.5) -> DataFrame:
    """Exact token-set Jaccard self-join via prefix filtering (the
    All-Pairs / SSJoin / PPJoin family) — the third blocking strategy
    next to MinHash-LSH (probabilistic) and SimHash (bitwise): EXACT
    results (no recall loss) with candidate generation still bucketed,
    never all-pairs.

    Sets are distinct whitespace tokens (the q15 tokenizer). Every set
    is sorted under one global total order — document frequency
    ascending, token ascending (rare-first; fully deterministic) — and
    only its PREFIX of length n - ceil(t*n) + 1 is exploded as join
    keys. Classic prefix-filtering guarantee: two sets with J >= t must
    share at least one token inside both prefixes under a common order,
    so the token-keyed candidate join is lossless. Size filter
    (t*|larger| <= |smaller|, a J >= t necessity) prunes before the
    verify. Output: a, b, inter, uni, jaccard (unrounded IEEE double
    from the two BIGINT operands — oracle-hashable) for pairs >= t.

    Shuffle shape at 100 TB: df-count agg (token-keyed, partial), one
    regroup to rebuild sorted sets, the candidate join keyed by PREFIX
    tokens — rare-first ordering makes prefix tokens the LOW-frequency
    ones, so bucket fan-out stays small exactly where a naive
    token-join explodes (stopword buckets are never prefix members of
    large sets); verify joins are id-keyed on candidates only. Brute
    force appears nowhere except the DuckDB oracle (q59).
    """
    toks = F.array_distinct(
        F.filter(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                 lambda t: t != ""))
    base = (
        df.select(F.col(id_col).alias("id"), toks.alias("ts"))
        .filter(F.size("ts") > 0)
    )
    dfreq = (
        base.select(F.explode("ts").alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    )
    ordered = (
        base.select("id", F.size("ts").alias("n"),
                    F.explode("ts").alias("tok"))
        .join(dfreq, "tok")
        .groupBy("id")
        .agg(
            F.first("n").alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("ts"),
        )
    )
    # EXACT rational threshold arithmetic. ceil(t*n) computed through a
    # float rounds the wrong way on exact-product boundaries (0.55*100
    # = 55.000000000000007 -> ceil 56 -> prefix one token SHORT of the
    # lossless bound — a silent recall hole in an operator whose whole
    # contract is "no recall loss"). t is taken at its DECIMAL face
    # value (str(threshold)) as p/q; ceil(n*p/q) = (n*p + q - 1) DIV q
    # in BIGINTs, and every t-comparison below is cross-multiplied.
    from decimal import Decimal

    p_, q_ = Decimal(str(threshold)).as_integer_ratio()
    plen = (F.col("n")
            - F.expr(f"CAST((n * {p_} + {q_ - 1}) DIV {q_} AS INT)")
            + 1).cast("int")
    pref = ordered.select(
        "id", "n", F.explode(F.slice("ts", F.lit(1), plen)).alias("tok"))
    a, b = pref.alias("pa"), pref.alias("pb")
    cand = (
        a.join(b, (F.col("pa.tok") == F.col("pb.tok"))
               & (F.col("pa.id") < F.col("pb.id"))
               # size filter n_small >= t * n_large, cross-multiplied
               & (F.col("pa.n") * q_ >= F.col("pb.n") * p_)
               & (F.col("pb.n") * q_ >= F.col("pa.n") * p_))
        .select(F.col("pa.id").alias("a"), F.col("pb.id").alias("b"))
        .distinct()
    )
    fa = ordered.select(F.col("id").alias("a"), F.col("ts").alias("ts_a"))
    fb = ordered.select(F.col("id").alias("b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b")).cast("long")
    uni = (F.size("ts_a") + F.size("ts_b")).cast("long") - inter
    return (
        cand.join(fa, "a").join(fb, "b")
        .select("a", "b", inter.alias("inter"), uni.alias("uni"),
                (inter / uni).alias("jaccard"))
        # J >= t exactly: inter/uni >= p/q  <=>  inter*q >= uni*p
        .filter(F.col("inter") * q_ >= F.col("uni") * p_)
    )


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = 64,
            hasher: str = "xxhash64") -> DataFrame:
    """SimHash per document, JVM-side (64-bit with the default hasher).

    For each bit i: sum over tokens of sign(bit i of hash(token));
    bit set if the sum is positive. Near-dups differ in few bits
    (compare via hamming_distance helper below).

    hasher="md5" uses the 60-bit md5 hex-prefix family (bits <= 60) —
    byte-reproducible in any engine with md5, the DuckDB-oracled
    contract variant (q37); xxhash64 stays the fast path with its local
    pure-Python oracle.
    """
    # Explode tokens -> codegen'd conditional sums per bit (relational
    # aggregation with map-side partials beats interpreted per-row
    # higher-order folds — same reasoning as minhash_lsh_pairs).
    if hasher == "md5":
        from ..functions.hashutil import md5_long

        assert bits <= 60, "md5 hex-prefix family yields 60 usable bits"
        # single arg: concat_ws adds no separator, bytes identical to md5(t)
        th = md5_long(F.col("t"))
    else:
        th = F.xxhash64("t")
    ex = _widen(df).select(
        id_col,
        F.explode(F.split(NORM(F.col(text_col)), " ")).alias("t"),
    ).withColumn("h", th)
    votes = ex.groupBy(id_col).agg(*[
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ])
    sim = None
    for i in range(bits):
        # shiftleft handles bit 63 (a Python-side 1<<63 literal overflows)
        bit = F.when(
            F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim + bit  # disjoint bits: sum == OR
    return votes.select(id_col, sim.alias("simhash"))


def hamming_pairs(sim_df: DataFrame, id_col: str = "doc_id",
                  max_distance: int = 3, prefix_bits: int = 16) -> DataFrame:
    """SimHash near-dup pairs, blocked on 4 rotated 16-bit prefixes.

    With <= 3 differing bits out of 64, at least one of the four 16-bit
    quarters is identical (pigeonhole) -> block on each quarter, verify
    hamming distance via bit_count(xor).
    """
    quarters = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), q * prefix_bits)
        .bitwiseAND(F.lit((1 << prefix_bits) - 1))
        for q in range(64 // prefix_bits)
    ])
    blocked = sim_df.select(
        id_col, "simhash", F.posexplode(quarters).alias("q", "block")
    )
    l, r = blocked.alias("l"), blocked.alias("r")
    return (
        l.join(r, (F.col("l.q") == F.col("r.q"))
               & (F.col("l.block") == F.col("r.block"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95,
                        bucketed: bool = True,
                        dim: int | None = None,
                        bits: int = 6, bands: int = 4,
                        seed: int = 42, probes: int = 0) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a, b, cosine).

    bucketed=True (the default — the only shape that survives 100 TB):
    `bands` independent random-hyperplane signatures of `bits` bits each
    (OR-banding); ids colliding in ANY band become candidates, then the
    EXACT cosine verifies within candidates. Output is therefore always a
    subset of brute force with zero false positives; recall is the
    standard 1-(1-p^bits)^bands with p = 1 - theta/pi (for cos >= 0.95,
    bits=6 x bands=4 gives ~0.95+). The shuffle is keyed by
    (band, bucket) — uniform by construction.

    probes > 0 turns on multi-probe within each band (simsearch's
    mechanism, shared): ONE join side additionally lands in the `probes`
    buckets reached by flipping its lowest-|margin| signature bits, so a
    pair split by a single near-zero-margin plane still collides
    (one-sided probing covers both directions because either member can
    be the probing side). Recall rises toward brute force at
    ~(1+probes)x candidate volume at fixed bands/bits — measured in
    test_dedup.test_embedding_near_dups_multiprobe_recall.

    bucketed=False: O(n^2) all-pairs cross join — the oracle/contract
    path (q17 compares it against a DuckDB cross join at sf0.01); never
    the default.
    """
    v = emb.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.sqrt(F.aggregate(
            F.col(vec_col).cast("array<double>"),
            F.lit(0.0), lambda a, x: a + x * x)).alias("nrm"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("l.v"), F.col("r.v"), lambda x, y: x * y),
        F.lit(0.0), lambda a, x: a + x,
    )
    cos = F.when(
        (F.col("l.nrm") == 0) | (F.col("r.nrm") == 0), F.lit(0.0)
    ).otherwise(dot / (F.col("l.nrm") * F.col("r.nrm")))
    l, r = v.alias("l"), v.alias("r")
    if not bucketed:
        joined = l.join(r, F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    else:
        from .simsearch import hyperplane_signature, probe_buckets

        if dim is None:
            # metadata probe: one row; on an EMPTY input any dim works
            # (every stage below is empty-safe), so don't crash. max()
            # over a non-null filter, not first(): first() can land on
            # a row with a NULL embedding (size -> null -> int(None)
            # TypeError on the driver).
            row = emb.agg(F.max(F.size(vec_col))).first()
            dim = int(row[0]) if row is not None and row[0] is not None else 1
        probe_side = exact_side = None
        for band in range(bands):
            s = hyperplane_signature(
                emb.select(id_col, vec_col), dim, bits, vec_col,
                seed + band, with_margins=probes > 0,
            )
            e_side = s.select(id_col, F.lit(band).alias("band"), "bucket")
            if probes > 0:
                p_side = probe_buckets(s, probes, bits).select(
                    id_col, F.lit(band).alias("band"), "bucket")
            else:
                p_side = e_side
            probe_side = (p_side if probe_side is None
                          else probe_side.unionByName(p_side))
            exact_side = (e_side if exact_side is None
                          else exact_side.unionByName(e_side))
        # probes=0: both sides are identical, so the asymmetric < join
        # produces each colliding pair exactly once. With probing the
        # sides differ and either member may be the prober, so the join
        # must be symmetric (!=) with least/greatest restoring canonical
        # (a < b) orientation — at 2x pre-distinct volume, which is why
        # the non-probing default keeps the cheap form.
        on = (F.col("cl.band") == F.col("cr.band")) & (
            F.col("cl.bucket") == F.col("cr.bucket"))
        if probes > 0:
            on = on & (F.col(f"cl.{id_col}") != F.col(f"cr.{id_col}"))
        else:
            on = on & (F.col(f"cl.{id_col}") < F.col(f"cr.{id_col}"))
        cand = (
            probe_side.alias("cl").join(exact_side.alias("cr"), on)
            .select(
                F.least(F.col(f"cl.{id_col}"),
                        F.col(f"cr.{id_col}")).alias("__a"),
                F.greatest(F.col(f"cl.{id_col}"),
                           F.col(f"cr.{id_col}")).alias("__b"),
            )
            .distinct()
        )
        joined = (
            cand.join(l, F.col("__a") == F.col(f"l.{id_col}"))
            .join(r, F.col("__b") == F.col(f"r.{id_col}"))
        )
    return (
        joined.select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    max_occurrences: int = 1) -> DataFrame:
    """Corpus-wide duplicated-paragraph removal (CCNet-style boilerplate
    filter): drop every paragraph whose normalized form occurs in more
    than `max_occurrences` documents, then reassemble each document with
    its remaining paragraphs in original order.

    Output: id, text (cleaned), n_paragraphs, n_removed.

    Shape at scale: explode -> one hash-keyed count shuffle (map-side
    partial agg; the md5 key space is uniform, no skew) -> hash join back
    -> one doc-keyed regroup. Empty documents survive as empty text.
    """
    paras = df.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("p_pos", "para"),
    ).withColumn("p_hash", F.md5(NORM(F.col("para"))))
    counts = paras.groupBy("p_hash").agg(
        F.count_distinct(F.col(id_col)).alias("n_docs_with")
    )
    marked = paras.join(counts, "p_hash")
    kept = marked.filter(F.col("n_docs_with") <= max_occurrences)
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("p_pos"), F.col("para")))
                ),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("__text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    totals = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_paragraphs"))
    return (
        df.select(id_col).join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_paragraphs"), F.lit(0)).alias("n_paragraphs"),
            (F.coalesce(F.col("n_paragraphs"), F.lit(0))
             - F.coalesce(F.col("__n_kept"), F.lit(0))).alias("n_removed"),
        )
    )


def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 64,
    jaccard_threshold: float = 0.8,
    hasher: str = "xxhash64",
) -> DataFrame:
    """The actionable form of near-dup detection: every doc labeled with
    its duplicate-cluster id and a keep/drop decision.

    minhash-LSH candidates -> exact n-gram Jaccard verify -> alternating
    large/small-star connected components over the verified pairs ->
    cluster_id = the cluster's minimum doc id, keep = (id == cluster_id)
    (deterministic keeper; singletons keep themselves). This is what a
    corpus-scale dedup job writes back next to the corpus — pairs alone
    are not consumable downstream.

    Output: (id_col, cluster_id, keep). Ids are zero-padded through the
    string-keyed CC and cast back, so lexicographic == numeric order.
    """
    verified = jaccard_verify(
        _lsh_candidates(df, id_col, text_col, n, num_hashes, bands,
                        max_bucket, hasher),
        jaccard_threshold)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")
    comps = connected_components(
        verified.select(pad("a").alias("a"), pad("b").alias("b"))
    )
    m = comps.select(
        F.col("node").cast("bigint").alias(id_col),
        F.col("comp").cast("bigint").alias("cluster_id"),
    )
    return (
        df.select(id_col).join(m, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            (F.coalesce("cluster_id", F.col(id_col)) == F.col(id_col)).alias("keep"),
        )
    )


def repeated_spans(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", window: int = 16) -> DataFrame:
    """Verbatim repeated-span detection — the suffix-array substring
    dedup of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better") re-expressed for Spark: every
    `window`-token sliding window (stride 1, whitespace tokens as in
    textstats.chunk_documents) is hashed with md5_long; a window whose
    hash occurs more than once ANYWHERE in the corpus (cross- or
    intra-document) marks its token range [g, g+window-1] as
    duplicated; per document, overlapping-or-adjacent marked ranges
    merge into maximal spans (gaps-and-islands). Downstream, a cleaner
    cuts those token ranges (keeping one canonical occurrence is a
    policy choice layered on top — this op reports WHERE the verbatim
    duplication is).

    Output: (id, span_start 1-based, span_end inclusive, span_tokens,
    n_dup_windows) — all BIGINT, fully DuckDB-oracled (q65).

    Shape at scale: the stride-1 explode is one row per corpus token —
    the honest cost of substring-level dedup (same cardinality as any
    tokenize-explode); each row carries only (id, pos, 8-byte hash).
    Duplicate detection is groupBy(hash).count, which map-side-combines
    (a boilerplate window repeated 10^6 times collapses to one row per
    mapper before the shuffle — this is why it is NOT a window count,
    which would shuffle+sort every raw occurrence of a hot hash into
    one task), then an inner hash-join back on the uniform 60-bit key
    (AQE skew-split applies). The interval merge is one doc-keyed
    window + one aggregate.
    """
    from ..functions.hashutil import md5_long

    if window < 1:
        raise ValueError("repeated_spans: window must be >= 1")
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda t: t != "")
    base = (
        df.select(F.col(id_col), toks.alias("__t"))
        .withColumn("__n", F.size("__t"))
        .filter(F.col("__n") >= window)
    )
    wins = (
        _widen(base)
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(1), F.col("__n") - window + 1)
            ).alias("__g"),
            "__t",
        )
        .select(
            F.col(id_col), "__g",
            md5_long(
                F.array_join(F.slice("__t", F.col("__g"), window), " ")
            ).alias("__h"),
        )
    )
    dup = (
        wins.groupBy("__h").count()
        .filter(F.col("count") > 1)
        .select("__h", F.col("count").alias("__c"))
    )
    marked = wins.join(dup, "__h").select(
        id_col, "__g", (F.col("__g") + window - 1).alias("__e")
    )
    from pyspark.sql import Window as W

    w_doc = W.partitionBy(id_col).orderBy("__g")
    prev_end = F.max("__e").over(
        w_doc.rowsBetween(W.unboundedPreceding, -1))
    gi = (
        marked
        .withColumn(
            "__brk",
            F.when(F.col("__g") > F.coalesce(prev_end, F.lit(-1)) + 1, 1)
            .otherwise(0),
        )
        .withColumn(
            "__island",
            F.sum("__brk").over(w_doc.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return (
        gi.groupBy(id_col, "__island")
        .agg(
            F.min("__g").alias("span_start"),
            F.max("__e").alias("span_end"),
            F.count("*").alias("n_dup_windows"),
        )
        .select(
            id_col,
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long").alias("span_tokens"),
            F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
        )
    )


def cut_repeated_spans(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", window: int = 16,
                       spans: DataFrame | None = None) -> DataFrame:
    """Token-level span cutting — the cleaning half of substring dedup:
    remove every token position covered by a repeated_spans span and
    re-join the survivors with single spaces (token-level cleaning;
    original whitespace is not preserved, matching chunk_documents'
    token convention).

    Policy: cut-ALL — every marked occurrence goes, including the
    first. Keep-one-canonical-copy (Lee et al.'s policy) is a keeper
    rule layered on the spans relation: filter `spans` down to the
    occurrences you want cut and pass it in (the parameter exists for
    exactly that), the cutting mechanics are identical.

    Output: (id, clean_text, n_tokens bef, n_kept, n_cut) — portable,
    DuckDB-oracled end-to-end through q65's span pipeline (q66).

    Shape at scale: spans-per-doc is tiny (merged maximal intervals),
    so the cut is one span groupBy + one doc-keyed join, then pure
    JVM higher-order functions: filter tokens by position with a
    nested exists over the doc's span array — no explode back to
    token rows, no Python, no extra shuffle.
    """
    if spans is None:
        spans = repeated_spans(df, id_col, text_col, window)
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__sp")
    )
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda t: t != "")
    base = df.select(F.col(id_col), toks.alias("__t"))
    j = base.join(sp, id_col, "left")

    def _covered(i):
        return F.coalesce(
            F.exists(
                "__sp",
                lambda s: (i + 1 >= s["span_start"])
                & (i + 1 <= s["span_end"]),
            ),
            F.lit(False),
        )

    kept = F.filter("__t", lambda t, i: ~_covered(i))
    return j.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("__t").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size("__t") - F.size(kept)).cast("long").alias("n_cut"),
    )


def filter_index_buckets(index: DataFrame, max_bucket: int) -> DataFrame:
    """Skew guard over a persisted band index: drop oversized (band,
    bucket) groups (boilerplate buckets — non-discriminative, as in
    minhash_lsh_pairs). Shared by the batch and streaming index-dedup
    paths so the guard's semantics can't drift between them."""
    sizes = index.groupBy("band", "bucket").count()
    return (
        index.join(sizes.filter(F.col("count") <= max_bucket),
                   ["band", "bucket"])
        .drop("count")
    )


def _index_matches(new_docs: DataFrame, idx: DataFrame,
                   old_shingles: DataFrame, id_col: str, text_col: str,
                   n: int, num_hashes: int, bands: int, threshold: float,
                   hasher: str, keep: tuple = ()) -> DataFrame:
    """The one set-vs-index matcher (batch and stream): per-row banding
    of the new docs -> broadcast (band, bucket) join to the guarded
    index -> broadcast join to the old docs' (id, shingles) ->
    jaccard_verify. The new side is broadcast both times, so the
    persisted index is not shuffled. Output: (a, b, jaccard, *keep),
    one row per colliding band."""
    d = _doc_hashes(new_docs, text_col, n, num_hashes, hasher)
    new_b = d.select(F.col(id_col).alias("a"), *keep,
                     F.col("shingles").alias("sh_a"),
                     F.posexplode(_band_array(d, bands)).alias(
                         "band", "bucket"))
    cand = F.broadcast(new_b).join(
        idx.select(F.col(id_col).alias("b"), "band", "bucket"),
        ["band", "bucket"],
    ).drop("band", "bucket")
    old = old_shingles.select(F.col(id_col).alias("b"),
                              F.col("shingles").alias("sh_b"))
    return jaccard_verify(F.broadcast(cand).join(old, "b"), threshold)


def dedup_against_index(new_docs: DataFrame, index: DataFrame,
                        old_shingles: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        num_hashes: int = 32, bands: int = 8,
                        max_bucket: int = 64, threshold: float = 0.8,
                        hasher: str = "xxhash64") -> DataFrame:
    """Incremental near-dup dedup of a crawl batch against the
    accumulated corpus, given as `index` = the old docs' (id, band,
    bucket) rows (minhash_bands) and `old_shingles` = their (id,
    shingles) rows (token_shingles); plans/dedup_index.read projects
    both from the persisted index. Each batch pays O(batch) hashing and
    two broadcast joins: no O(corpus) signature recompute, no
    re-tokenization of the old corpus, no self-join. Same matcher as streaming.ingest.
    dedup_against_index_stream, for history beyond any watermark.

    new_docs and the old corpus must have disjoint ids (crawl batches
    mint new ids); within-batch duplicates are minhash_lsh_pairs(
    new_docs)'s job. The skew guard drops oversized INDEX buckets
    (boilerplate; non-discriminative) — the batch side is small by
    construction. num_hashes/bands/n/hasher must match the index build
    (the index schema contract).

    Output: distinct (a = new id, b = old id, jaccard round-4) with
    exact n-gram Jaccard >= threshold. DuckDB-oracled with hasher="md5"
    (q67).
    """
    return _index_matches(
        new_docs, filter_index_buckets(index, max_bucket), old_shingles,
        id_col, text_col, n, num_hashes, bands, threshold, hasher,
    ).select("a", "b", "jaccard").distinct()


def kmeans_centroids(emb: DataFrame, nlist: int = 8,
                     vec_col: str = "embedding", seed: int = 42,
                     max_iter: int = 10) -> DataFrame:
    """Production coarse quantizer for semantic_dedup: seeded MLlib
    KMeans over the embedding column (the same quantizer simsearch's
    ivf_topk fits), returned as the (cluster int, centroid
    array<double>) relation semantic_dedup consumes. One MLlib pass at
    corpus scale; the contract path substitutes a deterministic fixed
    centroid set instead (q77) because MLlib cluster centers are not
    engine-portable."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = emb.sparkSession
    feats = emb.select(array_to_vector(
        F.col(vec_col).cast("array<double>")).alias("__features"))
    km = KMeans(k=nlist, seed=seed, maxIter=max_iter,
                featuresCol="__features").fit(feats)
    centers = [(i, [float(x) for x in c])
               for i, c in enumerate(km.clusterCenters())]
    return spark.createDataFrame(centers, "cluster int, centroid array<double>")


def semantic_dedup(emb: DataFrame, centroids: DataFrame | None = None,
                   nlist: int = 8, threshold: float = 0.82,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   seed: int = 42) -> DataFrame:
    """SemDeDup-style embedding-cluster semantic dedup (Abbas et al.
    2023, arXiv:2303.09540): cluster the corpus embeddings, then prune
    near-duplicates WITHIN each cluster so the quadratic comparison is
    bounded by cluster size, never all-pairs.

    Rule (deterministic, engine-portable):
      1. assign each vector to the nearest centroid by squared L2
         (d2 = <v,v> - 2<v,c> + <c,c>; ties -> lowest cluster id);
      2. rank cluster members by cosine-to-centroid DESC (ties ->
         lowest id);
      3. prune a member iff some EARLIER-ranked member of its cluster
         has cosine >= threshold with it — SemDeDup's screening rule
         (sort by similarity to centroid, drop an item when its max
         cosine to the items ahead of it crosses the threshold). Each
         cluster's rank-1 member is always kept.

    centroids: (cluster int, centroid array<double>); None fits the
    seeded MLlib quantizer (kmeans_centroids — production). The q77
    contract path passes a FIXED centroid set (rows of the embeddings
    table), which makes the whole operator DuckDB-expressible: every
    dot product is the same sequential left fold on both engines (the
    q17-proven recipe), so d2 / cosine doubles are bit-identical and
    ranking + thresholding agree repr-exactly.

    Rows with NULL/empty vectors are dropped (can't be clustered), and
    so are vectors carrying a non-finite component (NaN/inf distances
    poison every comparison; one bad embedding must not kill a
    corpus-scale job). Output:
    (id_col, cluster int, rank_in_cluster bigint, kept boolean) —
    integers/booleans only, no rounded floats in hashed columns.

    Shape at 100 TB: centroid assignment is a broadcast nested-loop
    join against the centroid relation + a map-side-combinable
    min(struct(d2, cluster)) argmin — one keyed shuffle of N
    pre-reduced rows, no driver collect of the centroids, and no
    nlist x dim literal expression tree that would blow up Catalyst
    analysis at the paper's ~50k-cluster design point.
    Ranking is one cluster-keyed shuffle; the screening self-join is
    keyed by cluster, so cost is sum(|cluster|^2) — the paper's design
    point: nlist grows as N/target_cluster_size (LAION runs use ~50k
    clusters). A pathologically hot cluster is fixed by raising nlist,
    exactly like the LSH bucket guard.
    """
    from pyspark.sql import Window as W

    if centroids is None:
        centroids = kmeans_centroids(emb, nlist=nlist, vec_col=vec_col,
                                     seed=seed)
    centroids = centroids.select("cluster", "centroid")
    # one scalar action (centroid sets are small); a repeated cluster id
    # would rank one cluster's members against different centroids
    ncent, nids = centroids.agg(
        F.count(F.lit(1)), F.count_distinct("cluster")).first()
    if ncent == 0:
        raise ValueError("semantic_dedup: empty centroid set")
    if nids != ncent:
        raise ValueError(
            f"semantic_dedup: {ncent} centroids but {nids} distinct "
            "non-NULL cluster ids")

    # drop unusable vectors: NULL/empty, and any non-finite component
    # (isnan(x - x) is true for both NaN and +/-inf)
    v0 = (
        emb.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .select(F.col(id_col),
                F.col(vec_col).cast("array<double>").alias("__v"))
        .filter(~F.exists("__v", lambda x: F.isnan(x - x)))
        .withColumn("__self", F.aggregate(
            "__v", F.lit(0.0), lambda a, x: a + x * x))
    )

    # Broadcast the centroid relation, score every (vector, centroid)
    # pair map-side, and take the per-id argmin with a min(struct)
    # aggregate: partial aggregation pre-reduces each id's nlist rows
    # before the one keyed shuffle. Struct order (d2, cluster) keeps the
    # tie rule: nearest centroid, ties -> lowest cluster id (NaN d2
    # sorts last, so a finite candidate always wins when one exists).
    cent = centroids.select(
        F.col("cluster"),
        F.col("centroid").cast("array<double>").alias("__c"),
    ).withColumn("__cself", F.aggregate(
        "__c", F.lit(0.0), lambda a, x: a + x * x))
    pair_dot = F.aggregate(
        F.zip_with("__v", "__c", lambda x, y: x * y),
        F.lit(0.0), lambda a, x: a + x,
    )
    assigned = (
        v0.join(F.broadcast(cent))
        .withColumn("__cdot", pair_dot)
        .withColumn("__d2", F.col("__self") - F.lit(2.0)
                    * F.col("__cdot") + F.col("__cself"))
        .groupBy(id_col)
        .agg(
            F.min(F.struct("__d2", "cluster", "__cdot",
                           "__cself")).alias("__b"),
            F.first("__v").alias("__v"),
            F.first("__self").alias("__self"),
        )
        .select(id_col, "__v", "__self",
                F.col("__b.cluster").alias("cluster"),
                F.col("__b.__cdot").alias("__cdot"),
                F.col("__b.__cself").alias("__cself"))
    )

    v = (
        assigned
        .withColumn("__cosc", F.when(
            (F.col("__self") == 0) | (F.col("__cself") == 0), F.lit(0.0)
        ).otherwise(F.col("__cdot")
                    / (F.sqrt("__self") * F.sqrt("__cself"))))
        .select(id_col, "cluster", "__v", "__self", "__cosc")
    )
    wr = W.partitionBy("cluster").orderBy(F.col("__cosc").desc(),
                                          F.col(id_col).asc())
    # consumed three times below (two self-join sides + the final left
    # join); cut so the assignment stage runs once
    ranked = v.withColumn(
        "rank_in_cluster", F.row_number().over(wr).cast("long")
    ).localCheckpoint(eager=True)
    i, j = ranked.alias("i"), ranked.alias("j")
    pair_dot = F.aggregate(
        F.zip_with(F.col("i.__v"), F.col("j.__v"), lambda x, y: x * y),
        F.lit(0.0), lambda a, x: a + x,
    )
    pair_cos = F.when(
        (F.col("i.__self") == 0) | (F.col("j.__self") == 0), F.lit(0.0)
    ).otherwise(
        pair_dot / (F.sqrt(F.col("i.__self")) * F.sqrt(F.col("j.__self"))))
    pruned = (
        i.join(j, (F.col("i.cluster") == F.col("j.cluster"))
               & (F.col("j.rank_in_cluster") < F.col("i.rank_in_cluster")))
        .filter(pair_cos >= F.lit(threshold))
        .select(F.col(f"i.{id_col}").alias("__pruned_id"))
        .distinct()
    )
    return (
        ranked.join(pruned,
                    F.col(id_col) == F.col("__pruned_id"), "left")
        .select(F.col(id_col), F.col("cluster"), F.col("rank_in_cluster"),
                F.col("__pruned_id").isNull().alias("kept"))
    )
