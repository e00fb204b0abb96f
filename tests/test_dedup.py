"""Dedup operator suite vs pure-Python oracles (exact values, not smoke)."""

import math

import pytest
from pyspark.sql import functions as F

from thesis_ner_co_tri_training_spark.operators.dedup import (
    embedding_near_dups,
    exact_duplicates,
    hamming_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)

# no 'ß' anywhere: Python's upper() maps ß -> SS, which would make the
# upper-cased variant a near- rather than exact duplicate
BASE = ("die schnelle braune katze springt über den faulen hund und läuft "
        "dann durch den weiten grünen park bis zum alten rathaus der stadt")
NEAR = BASE.replace("grünen", "kleinen")   # 1 of 24 words changed
DOCS = [
    (1, BASE),
    (2, BASE.upper()),          # exact dup modulo case
    (3, "  " + BASE + "  "),    # exact dup modulo whitespace (norm TRIMS + collapses runs)
    (4, NEAR),                  # near dup of 1
    (5, "völlig anderer inhalt ohne jede überschneidung mit dem rest"),
]


def norm(t):
    import re
    return re.sub(r"\s+", " ", t).lower().strip()


def word_ngrams(t, n=3):
    toks = norm(t).split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jac(a, b):
    sa, sb = word_ngrams(a), word_ngrams(b)
    return round(len(sa & sb) / len(sa | sb), 4) if sa | sb else 0.0


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates_oracle(spark, docs):
    groups = exact_duplicates(docs).collect()
    # oracle: md5 over normalized text
    from collections import defaultdict
    want = defaultdict(list)
    for i, t in DOCS:
        want[norm(t)].append(i)
    want_groups = sorted(sorted(v) for v in want.values() if len(v) > 1)
    got_groups = sorted(sorted(r["doc_ids"]) for r in groups)
    assert got_groups == want_groups
    # doc 3 trims to exactly doc 1's normalized text: whitespace-padded
    # twins ARE exact dups (CCNet-style strip); the oracle IS the contract.
    assert any(3 in g and 1 in g for g in got_groups)


def test_ngram_jaccard_pairs_exact_values(spark, docs):
    all_pairs = spark.createDataFrame(
        [(a, b) for a, _ in DOCS for b, _ in DOCS if a < b], "a long, b long"
    )
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, pairs=all_pairs,
                                        threshold=0.5).collect()}
    texts = dict(DOCS)
    want = {}
    for a in texts:
        for b in texts:
            if a < b:
                j = jac(texts[a], texts[b])
                if j >= 0.5:
                    want[(a, b)] = j
    assert got == want
    assert (1, 4) in got  # near-dup caught with exact score
    assert all(5 not in p for p in got)


def test_minhash_lsh_finds_identical_and_near(spark, docs):
    pairs = {(r["a"], r["b"]) for r in minhash_lsh_pairs(docs).collect()}
    # identical shingle sets -> identical signatures -> guaranteed bucket
    assert (1, 2) in pairs and (1, 3) in pairs
    # no false pair with the unrelated doc survives verification
    verified = {(r["a"], r["b"])
                for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert all(5 not in p for p in verified)
    assert verified <= {(a, b) for a in range(1, 6) for b in range(1, 6)}


@pytest.mark.parametrize("bands", [0, 5, 64])
@pytest.mark.parametrize("op", ["minhash_lsh_pairs", "near_dup_clusters",
                                "minhash_bands", "minhash_docs",
                                "dedup_against_index"])
def test_minhash_ops_reject_nondividing_bands(spark, docs, op, bands):
    """Every MinHash entry point bands through linking's one band
    helper, so a band count that does not divide num_hashes fails at
    the driver (no job) instead of dropping hash rows (bands=5) or
    banding past the signature (bands=64 paired every doc)."""
    from thesis_ner_co_tri_training_spark.operators import dedup

    kw = dict(num_hashes=32, bands=bands)
    calls = {
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs, **kw),
        "near_dup_clusters": lambda: dedup.near_dup_clusters(docs, **kw),
        "minhash_bands": lambda: dedup.minhash_bands(docs, **kw),
        "minhash_docs": lambda: dedup.minhash_docs(docs, **kw),
        "dedup_against_index": lambda: dedup.dedup_against_index(
            docs,
            spark.createDataFrame([], "doc_id long, band int, bucket long"),
            spark.createDataFrame([], "doc_id long, shingles array<string>"),
            **kw),
    }
    with pytest.raises(ValueError, match="does not divide"):
        calls[op]()


def test_simhash_identity_and_hamming(spark, docs):
    sims = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sims[1] == sims[2]  # identical normalized token streams
    assert sims[1] == sims[3]  # padded twin trims to the same stream
    assert sims[1] != sims[5]
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in hamming_pairs(simhash(docs), max_distance=16).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) in pairs  # near-dup within 16 bits
    assert all(5 not in p for p in pairs)


def test_embedding_near_dups_oracle(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0]),   # zero vector -> cosine defined as 0
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {(r["a"], r["b"]): r["cosine"]
           for r in embedding_near_dups(df, threshold=0.9,
                                        bucketed=False).collect()}

    def cos(u, v):
        nu = math.sqrt(sum(x * x for x in u))
        nv = math.sqrt(sum(x * x for x in v))
        if nu == 0 or nv == 0:
            return 0.0
        return round(sum(x * y for x, y in zip(u, v)) / (nu * nv), 4)

    want = {}
    for i, u in vecs:
        for j, v in vecs:
            if i < j and cos(u, v) >= 0.9:
                want[(i, j)] = cos(u, v)
    assert got == want and (1, 2) in got


def test_paragraph_dedup_oracle(spark):
    from collections import Counter

    from thesis_ner_co_tri_training_spark.operators.dedup import paragraph_dedup

    boiler = "Impressum und Datenschutz"
    docs = [
        (1, f"{boiler}\neigener inhalt eins\nmehr text"),
        (2, f"{boiler}\neigener inhalt zwei"),
        (3, f"{boiler.upper()}\nnur hier"),      # dup modulo normalization
        (4, "ganz anderes dokument"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_paragraphs"], r["n_removed"])
           for r in paragraph_dedup(df).collect()}

    counts = Counter()
    for _, t in docs:
        for p in set(norm(x) for x in t.split("\n")):
            counts[p] += 1
    for i, t in docs:
        paras = t.split("\n")
        keep = [p for p in paras if counts[norm(p)] <= 1]
        assert got[i] == ("\n".join(keep), len(paras), len(paras) - len(keep)), i
    assert got[1][2] == 1 and got[4][2] == 0


def test_embedding_near_dups_bucketed_matches_brute(spark):
    """The LSH-bucketed default must equal brute force on this fixture:
    verification is exact (so bucketed is always a subset) and the planted
    near-dups are tight enough that 6-bit x 4-band OR-blocking recalls
    every >= 0.95 pair (superset) — i.e. equality."""
    import random

    rng = random.Random(11)
    vecs = []
    for i in range(150):
        vecs.append((2 * i, [rng.uniform(-1, 1) for _ in range(8)]))
        if i % 3 == 0:  # planted near-dup: tiny perturbation
            base = vecs[-1][1]
            vecs.append((2 * i + 1, [x + rng.uniform(-0.01, 0.01) for x in base]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    brute = {(r["a"], r["b"]): r["cosine"]
             for r in embedding_near_dups(df, threshold=0.95,
                                          bucketed=False).collect()}
    lsh = {(r["a"], r["b"]): r["cosine"]
           for r in embedding_near_dups(df, threshold=0.95).collect()}
    assert set(lsh) <= set(brute)  # exact verify: no false positives ever
    assert lsh == brute            # full recall on this fixture
    assert any(b == a + 1 for a, b in brute)  # planted pairs were found


def test_embedding_near_dups_multiprobe_recall(spark):
    """At fixed bands/bits, recall must rise with probes (toward brute
    force) while staying a strict subset of brute force (exact verify =
    zero false positives). The fixture uses 1 band x 10 bits and planted
    pairs at cosine ~0.9-0.97 so single-band recall is well below 1."""
    import math
    import random

    rng = random.Random(7)
    vecs = []
    for i in range(120):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        vecs.append((2 * i, base))
        # moderate perturbation: near-dup at cosine ~0.9-0.97
        vecs.append((2 * i + 1, [x + rng.uniform(-0.25, 0.25) for x in base]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.9, bits=10, bands=1)
    brute = {(r["a"], r["b"]): r["cosine"]
             for r in embedding_near_dups(df, threshold=0.9,
                                          bucketed=False).collect()}
    recalls = []
    for probes in (0, 2, 5):
        got = {(r["a"], r["b"]): r["cosine"]
               for r in embedding_near_dups(df, probes=probes, **kw).collect()}
        assert set(got) <= set(brute), probes       # never a false positive
        assert all(got[p] == brute[p] for p in got)  # exact cosines
        recalls.append(len(got) / len(brute))
    assert recalls[0] < 1.0          # the fixture leaves room to improve
    assert recalls == sorted(recalls)  # monotone non-decreasing
    assert recalls[-1] > recalls[0]    # probing measurably helps
    assert not math.isclose(recalls[-1], recalls[0])


def test_embedding_near_dups_empty_input(spark):
    """The bucketed default's dim metadata probe must tolerate an empty
    input (first() is None) and return zero pairs, like brute force."""
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_near_dups(df).count() == 0
    assert embedding_near_dups(df, bucketed=False).count() == 0


def test_hash_families_agree_on_verified_pairs(spark):
    """The xxhash64 fast path and the md5 reproducible path are different
    hash families, so their LSH CANDIDATE sets may differ — but after the
    exact n-gram Jaccard verify the surviving near-dup pairs must agree
    (recall at the default 32x8 banding is ~1 for jaccard >= 0.8, and the
    verify step is hash-free). This is the bridge that lets the contract
    entries (q19/q36, md5) vouch for the engine default (xxhash64).
    The carried-shingle verify (pairs=None: shingles ride out of the
    signature aggregate) must score exactly what the rejoin verify
    scores for caller-supplied pairs."""
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = {}
    for fam in ("xxhash64", "md5"):
        cands = minhash_lsh_pairs(df, hasher=fam)
        out[fam] = {(r["a"], r["b"]): r["jaccard"]
                    for r in ngram_jaccard_pairs(df, cands,
                                                 threshold=0.8).collect()}
    carried = {(r["a"], r["b"]): r["jaccard"]
               for r in ngram_jaccard_pairs(df, threshold=0.8).collect()}
    assert carried == out["xxhash64"] == out["md5"]
    assert out["md5"]  # non-vacuous: real near-dups exist at sf0.01


def test_near_dup_clusters_fixture(spark, docs):
    """On the known 5-doc fixture: docs 1/2/3/4 form one near-dup cluster
    (1 is the keeper), doc 5 is a singleton keeper."""
    from thesis_ner_co_tri_training_spark.operators.dedup import near_dup_clusters

    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in near_dup_clusters(docs, jaccard_threshold=0.5).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (1, False), 5: (5, True)}


def test_near_dup_clusters_value_oracle(spark):
    """sf0.01 end-to-end vs the pure-Python chain: XXH64 minhash pairs ->
    python Jaccard verify -> union-find."""
    import duckdb

    from tests.test_hash_oracles import _norm_tokens, _oracle_minhash_pairs
    from tests.test_linking import union_find
    from thesis_ner_co_tri_training_spark.operators.dedup import near_dup_clusters

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM read_parquet('/root/testdata/sf0.01/documents.parquet')"
    ).fetchall()
    con.close()

    def shingles(text):
        toks = _norm_tokens(text)
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    texts = dict(rows)
    cands = _oracle_minhash_pairs(rows)
    verified = []
    for a, b in cands:
        sa, sb = shingles(texts[a]), shingles(texts[b])
        j = round(len(sa & sb) / len(sa | sb), 4) if sa | sb else 0.0
        if j >= 0.8:
            verified.append((a, b))
    nodes = {x for e in verified for x in e}
    uf = union_find(nodes, verified)
    want = {i: (uf.get(i, i), uf.get(i, i) == i) for i in texts}

    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in near_dup_clusters(df).collect()}
    assert got == want
    assert any(not keep for _, keep in got.values())  # real dups exist


def test_decontaminate(spark):
    """decontaminate vs hand-computed overlap: full containment, partial
    n-gram overlap, clean doc, and a doc shorter than n tokens (no
    shingles -> never contaminated, still present with n_hits = 0)."""
    from thesis_ner_co_tri_training_spark.operators.textstats import (
        decontaminate)

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # identical
            (2, "a sly quick brown fox jumps over me today"),    # partial
            (3, "completely unrelated text with no overlap at all here"),
            (4, "quick brown fox"),                              # < n tokens
        ],
        "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in decontaminate(docs, bench, n=5).collect()}
    # doc 1: 9 tokens -> 5 distinct 5-grams, all in benchmark
    # doc 2: shares exactly "quick brown fox jumps over" (1 shingle)
    assert got == {1: (5, True), 2: (1, True), 3: (0, False), 4: (0, False)}


def test_prune_by_quality_modes(spark):
    """Exact mode keeps exactly ceil(frac * group size) per group with a
    fully pinned tie order; the default approx-threshold mode agrees
    with it on the same fixture (distinct quality values, so the
    t-digest cut is exact and the boundary is unambiguous)."""
    import math

    from thesis_ner_co_tri_training_spark.operators.textstats import (
        prune_by_quality)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = prune_by_quality(docs, keep_frac=0.5, exact=True).collect()
    by_lang: dict[str, list] = {}
    for r in exact:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        kept = [r for r in rows if r["kept"]]
        assert len(kept) == math.ceil(0.5 * len(rows)), lang
        # kept = exactly the rank prefix
        assert {r["rank_in_group"] for r in kept} == set(
            range(1, len(kept) + 1))
    approx = {(r["doc_id"], r["kept"])
              for r in prune_by_quality(docs, keep_frac=0.5).collect()}
    n_match = sum((r["doc_id"], r["kept"]) in approx for r in exact)
    # boundary ties between equal quality values may differ; everything
    # else must agree
    assert n_match >= len(exact) - 5


def test_set_similarity_join_lossless_vs_brute_force(spark):
    """Prefix filtering must lose NOTHING: the operator's output equals
    the brute-force all-pairs Jaccard join on a fixture with known
    overlap structure (identical sets, high-overlap sets, disjoint
    sets, subset relations, empty docs)."""
    from itertools import combinations

    from thesis_ner_co_tri_training_spark.operators.dedup import (
        set_similarity_join)

    docs = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),          # dup of 1
        (3, "alpha beta gamma delta zeta"),             # 4/6 of 1
        (4, "omega psi chi phi"),                       # disjoint
        (5, "alpha beta"),                              # subset of 1
        (6, ""),                                        # empty -> excluded
        (7, "omega psi chi phi upsilon tau"),           # superset of 4
    ]
    t = 0.6
    sets = {i: set(s.split()) for i, s in docs if s.split()}
    expect = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if uni and inter / uni >= t:
            expect[(a, b)] = (inter, uni)
    got = {
        (r.a, r.b): (r.inter, r.uni)
        for r in set_similarity_join(
            spark.createDataFrame(docs, "doc_id long, text string"),
            threshold=t).collect()
    }
    assert got == expect
    assert (1, 2) in got and (4, 7) in got  # sanity: fixture non-trivial


def test_set_similarity_prefix_prunes(spark):
    """The candidate set is strictly smaller than all-pairs on real
    data: rare-first prefixes keep stopword-like tokens out of the
    join keys for large sets."""
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        set_similarity_join)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    out = set_similarity_join(docs, threshold=0.9)
    assert out.count() < n * (n - 1) / 2


def test_chunk_documents_edges(spark):
    """Chunking contract: stride==size partitions, stride<size overlaps,
    tail chunk shorter, whitespace-only doc emits nothing, reconstruction
    of the token stream from a stride==size chunking is exact."""
    from thesis_ner_co_tri_training_spark.operators.textstats import (
        chunk_documents)

    rows = [
        (1, "a b c d e f g"),          # 7 tokens
        (2, "  x   y\t z \n"),         # messy whitespace, 3 tokens
        (3, "   \t  \n "),             # whitespace only -> no chunks
        (4, "solo"),                    # 1 token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # stride == size = 3: partition into [a b c][d e f][g]
    part = chunk_documents(df, size=3, stride=3).orderBy(
        "doc_id", "chunk_id").collect()
    by_doc = {}
    for r in part:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert [r.chunk_text for r in by_doc[1]] == ["a b c", "d e f", "g"]
    assert [r.n_chunk_tokens for r in by_doc[1]] == [3, 3, 1]
    assert [r.start_token for r in by_doc[1]] == [1, 4, 7]
    assert [r.chunk_text for r in by_doc[2]] == ["x y z"]
    assert 3 not in by_doc                      # no chunks for blank doc
    assert [r.chunk_text for r in by_doc[4]] == ["solo"]
    # reconstruction: concatenating a partition chunking = token stream
    assert " ".join(r.chunk_text for r in by_doc[1]) == "a b c d e f g"

    # stride 2 < size 4: overlapping windows at starts 1,3,5,7
    ov = chunk_documents(df.filter("doc_id = 1"), size=4, stride=2).collect()
    assert [(r.start_token, r.chunk_text) for r in
            sorted(ov, key=lambda r: r.chunk_id)] == [
        (1, "a b c d"), (3, "c d e f"), (5, "e f g"), (7, "g")]

    import pytest

    with pytest.raises(ValueError, match=">= 1"):
        chunk_documents(df, size=0, stride=2)


def test_repeated_spans_merge_and_scope(spark):
    """repeated_spans vs a pure-Python replay: cross-doc duplicate
    windows mark both docs, intra-doc repeats count, overlapping and
    adjacent marks merge into one maximal span, unique text emits
    nothing."""
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        repeated_spans)

    boiler = "all rights reserved click here to subscribe"   # 8 tokens
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"zeta {boiler} eta theta iota"),
        (3, "totally unique text with no repeats at all whatsoever"),
        # intra-doc repeat: the same 4-gram twice inside one doc
        (4, "one two three four PAD one two three four"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repeated_spans(df, window=4).collect()
    got = {(r.doc_id, r.span_start, r.span_end, r.span_tokens,
            r.n_dup_windows) for r in out}

    # pure-Python replay of the same rule
    docs = {i: t.split() for i, t in rows}
    from collections import Counter

    cnt = Counter()
    for t in docs.values():
        for g in range(len(t) - 3):
            cnt[" ".join(t[g:g + 4])] += 1
    expect = set()
    for i, t in docs.items():
        marks = [(g + 1, g + 4) for g in range(len(t) - 3)
                 if cnt[" ".join(t[g:g + 4])] > 1]
        spans = []
        for g, e in marks:                       # merge overlap/adjacent
            if spans and g <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], e)
                spans[-1][2] += 1
            else:
                spans.append([g, e, 1])
        for g, e, n in spans:
            expect.add((i, g, e, e - g + 1, n))
    assert got == expect
    assert not any(r.doc_id == 3 for r in out)   # unique doc untouched
    # doc 4's intra-doc repeat produced two separate spans (PAD between)
    assert sorted((r.span_start, r.span_end) for r in out
                  if r.doc_id == 4) == [(1, 4), (6, 9)]


def test_cut_repeated_spans(spark):
    """Cutting composes detection: boilerplate goes from every doc that
    carries it (cut-ALL policy), unique docs survive verbatim (token
    re-join), fully-duplicated docs end empty, and a caller-filtered
    spans relation implements keep-first."""
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        cut_repeated_spans, repeated_spans)

    boiler = "all rights reserved click here to subscribe"
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"zeta {boiler} eta theta iota"),
        (3, "totally unique text with no repeats at all whatsoever"),
        (4, "one two three four PAD one two three four"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in cut_repeated_spans(df, window=4).collect()}

    assert out[1].clean_text == "alpha beta gamma delta"
    assert out[2].clean_text == "zeta eta theta iota"
    assert (out[1].n_cut, out[2].n_cut) == (7, 7)
    assert out[3].clean_text == rows[2][1] and out[3].n_cut == 0
    assert out[4].clean_text == "PAD"          # both intra-doc copies cut
    assert out[5].clean_text == "" and out[5].n_tokens == 0
    assert all(r.n_tokens == r.n_kept + r.n_cut for r in out.values())

    # keep-first as a keeper rule layered on the spans relation:
    # drop doc 1's spans from the cut -> doc 1 keeps its boiler copy
    spans = repeated_spans(df, window=4).filter("doc_id <> 1")
    kept = {r.doc_id: r.clean_text
            for r in cut_repeated_spans(df, window=4,
                                        spans=spans).collect()}
    assert kept[1] == " ".join(rows[0][1].split())
    assert kept[2] == "zeta eta theta iota"


def test_dedup_against_index_matches_selfjoin(spark):
    """Incremental dedup vs the whole-corpus self-join ground truth:
    matching a new batch against the old corpus's persisted band index
    finds exactly the cross (new, old) pairs that minhash_lsh_pairs +
    jaccard verify find over old+new combined (bucket sizes below the
    skew guard, so the two guards coincide)."""
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        dedup_against_index, minhash_bands, minhash_lsh_pairs,
        ngram_jaccard_pairs, token_shingles)

    base = ("the quick brown fox jumps over the lazy dog while "
            "a very long sentence keeps adding more and more words")
    rows = [
        (1, base), (2, base + " tail"),                # old near-dups
        (3, "completely different content about spark plans"),
        (10, base + " extra"),                         # new ~ old 1/2
        (11, "nothing like anything else in this corpus at all"),
        (12, base),                    # new copy of old 1: every band
    ]
    old = spark.createDataFrame(rows[:3], "doc_id long, text string")
    new = spark.createDataFrame(rows[3:], "doc_id long, text string")
    kw = dict(num_hashes=16, bands=8, hasher="md5")

    idx = minhash_bands(old, **kw)
    inc = {(r.a, r.b, r.jaccard)
           for r in dedup_against_index(new, idx, token_shingles(old),
                                        threshold=0.5, max_bucket=64,
                                        **kw).collect()}
    assert inc and all(a >= 10 and b < 10 for a, b, _ in inc)
    # a pair colliding in several bands is still ONE output row
    shared = (minhash_bands(new, **kw).filter("doc_id = 12")
              .join(idx.filter("doc_id = 1"), ["band", "bucket"]).count())
    assert shared > 1
    out = [tuple(r) for r in dedup_against_index(
        new, idx, token_shingles(old), threshold=0.5, max_bucket=64,
        **kw).select("a", "b").collect()]
    assert (12, 1) in out and len(out) == len(set(out))

    both = old.unionByName(new)
    pairs = minhash_lsh_pairs(both, max_bucket=64, **kw)
    full = {(b, a, j) for a, b, j in
            ((r.a, r.b, r.jaccard) for r in
             ngram_jaccard_pairs(both, pairs, threshold=0.5).collect())
            if b >= 10 and a < 10}
    assert inc == full

    # an all-novel batch matches nothing
    novel = spark.createDataFrame(
        [(20, "entirely fresh words never seen before anywhere")],
        "doc_id long, text string")
    assert dedup_against_index(novel, idx, token_shingles(old),
                               threshold=0.5, max_bucket=64,
                               **kw).count() == 0


def test_minhash_docs_buckets_identical(spark):
    """minhash_docs' per-row `buckets`, exploded, are EXACTLY the rows
    of the aggregate minhash_bands, for both hash families (the
    property that makes the persisted index and stream-side banding
    interoperate with q67's in-query index). Short docs emit no rows."""
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        minhash_bands, minhash_docs)

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words in this one here"),
        (4, "tiny"),                       # < n tokens -> no rows
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for hasher in ("xxhash64", "md5"):
        a = {tuple(r) for r in minhash_bands(
            df, num_hashes=16, bands=4, hasher=hasher).collect()}
        docs = minhash_docs(df, num_hashes=16, bands=4,
                            hasher=hasher).localCheckpoint()
        b = {tuple(r) for r in docs.select(
            "doc_id", F.posexplode("buckets")).collect()}
        assert a == b and a
        assert {r.doc_id for r in docs.collect()} == {1, 2, 3}


def test_index_matcher_plan_has_no_minhash_filter(spark):
    """_index_matches explodes the band EXPRESSION of the new docs.
    Exploding a `buckets` column projected in the same plan would let
    InferFiltersFromGenerate push size(buckets) > 0 below the
    projections, inlining the tokenizer and every minhash transform
    into a Filter (a ~10x slower gate)."""
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        _index_matches)

    new = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    idx = spark.createDataFrame([(2, 0, 7)],
                                "doc_id long, band int, bucket long")
    old = spark.createDataFrame([(2, ["a b c"])],
                                "doc_id long, shingles array<string>")
    m = _index_matches(new, idx, old, "doc_id", "text", 3, 32, 8, 0.5,
                       "xxhash64")

    def nodes(p):
        yield p
        for k in range(p.children().size()):
            yield from nodes(p.children().apply(k))

    conds = [nd.condition().toString()
             for nd in nodes(m._jdf.queryExecution().optimizedPlan())
             if nd.nodeName() == "Filter"]
    assert conds  # the walk reached the new side's own filter
    assert not any("array_min" in c for c in conds), conds


def test_max_bucket_guard_binds(spark):
    """The LSH skew guard must actually FIRE somewhere in the suite: a
    boilerplate bucket larger than max_bucket produces NO candidate
    pairs (non-discriminative, |B|^2 blow-up), while ordinary near-dups
    in the same corpus still match. Also pins the guard's direction in
    the index path (INDEX-side buckets only — the batch side rides)."""
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        dedup_against_index, filter_index_buckets, minhash_bands,
        minhash_lsh_pairs, token_shingles)

    boiler = [(i, "identisches impressum boilerplate auf jeder seite "
                  "dieser domain immer gleich") for i in range(80)]
    pair = [(1000, BASE), (1001, NEAR)]
    docs = spark.createDataFrame(boiler + pair, "doc_id long, text string")

    pairs = {(r["a"], r["b"])
             for r in minhash_lsh_pairs(docs, max_bucket=64).collect()}
    assert (1000, 1001) in pairs
    assert not any(a < 80 and b < 80 for a, b in pairs)  # guard fired
    # raising the cap re-admits the boilerplate bucket: the guard is
    # the only thing suppressing those pairs
    pairs_hi = {(r["a"], r["b"])
                for r in minhash_lsh_pairs(docs, max_bucket=256).collect()}
    assert any(a < 80 and b < 80 for a, b in pairs_hi)

    # index path: an oversized INDEX bucket is dropped by
    # filter_index_buckets, so a new batch doc matching only the
    # boilerplate finds nothing, while a real near-dup still matches
    idx = minhash_bands(docs, id_col="doc_id")
    assert filter_index_buckets(idx, 64).count() < idx.count()
    new = spark.createDataFrame(
        [(2000, boiler[0][1]), (2001, BASE)], "doc_id long, text string")
    got = {(r["a"], r["b"]) for r in dedup_against_index(
        new, idx, token_shingles(docs), id_col="doc_id", max_bucket=64,
        threshold=0.8).collect()}
    assert all(a != 2000 for a, b in got)      # boilerplate gated
    assert (2001, 1000) in got                 # real dup still found


# ---------------------------------------------------------------- semantic


def _semdedup_replay(vecs, centroids, threshold):
    """Pure-Python replay of dedup.semantic_dedup's exact rule (same
    sequential-fold arithmetic: dot, d2 = <v,v>-2<v,c>+<c,c>, argmin
    with lowest-cluster ties, rank by cosc desc / id asc, prune on
    cos >= threshold to ANY earlier-ranked clustermate)."""
    def dot(u, v):
        s = 0.0
        for x, y in zip(u, v):
            s += x * y
        return s

    vmap = dict(vecs)
    assigned, cosc = {}, {}
    cents = sorted(centroids, key=lambda t: t[0])
    for i, u in vecs:
        su = dot(u, u)
        best = None
        for c, ce in cents:
            cs = dot(ce, ce)
            d2 = su - 2.0 * dot(u, ce) + cs
            if best is None or d2 < best[0]:
                best = (d2, c, dot(u, ce), cs)
        assigned[i] = best[1]
        cosc[i] = (0.0 if su == 0 or best[3] == 0
                   else best[2] / (math.sqrt(su) * math.sqrt(best[3])))
    clusters = {}
    for i, _ in vecs:
        clusters.setdefault(assigned[i], []).append(i)
    out = {}
    for c, members in clusters.items():
        members.sort(key=lambda i: (-cosc[i], i))
        for idx, i in enumerate(members):
            si = dot(vmap[i], vmap[i])
            pruned = False
            for j in members[:idx]:
                sj = dot(vmap[j], vmap[j])
                cij = (0.0 if si == 0 or sj == 0
                       else dot(vmap[i], vmap[j])
                       / (math.sqrt(si) * math.sqrt(sj)))
                if cij >= threshold:
                    pruned = True
                    break
            out[i] = (c, idx + 1, not pruned)
    return out


SEM_VECS = [
    # cluster 0 chain: a1 -- a2 (cos .990) -- a3 (cos .970), a1-a3 .927
    (1, [1.0, 0.0, 0.0]),
    (2, [0.99, 0.14, 0.0]),
    (3, [0.927, 0.375, 0.0]),
    # cluster 1: similar but below threshold -> both kept
    (4, [0.0, 1.0, 0.0]),
    (5, [0.0, 0.9, 0.436]),
    # zero vector: equidistant from both centroids -> lowest cluster,
    # cosine defined as 0 -> always kept
    (6, [0.0, 0.0, 0.0]),
]
SEM_CENTS = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]


def test_semantic_dedup_matches_replay(spark):
    from thesis_ner_co_tri_training_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(SEM_VECS, "vec_id long, embedding array<double>")
    cent = spark.createDataFrame(SEM_CENTS,
                                 "cluster int, centroid array<double>")
    got = {r["vec_id"]: (r["cluster"], r["rank_in_cluster"], r["kept"])
           for r in semantic_dedup(df, centroids=cent,
                                   threshold=0.95).collect()}
    want = _semdedup_replay(SEM_VECS, SEM_CENTS, 0.95)
    assert got == want
    # the scenario the fixture is built for:
    assert got[1] == (0, 1, True)     # rank-1 always kept
    assert got[2][2] is False         # pruned by 1
    # 3 is pruned by 2 even though 2 itself was pruned (SemDeDup screens
    # against earlier-RANKED items, not earlier-kept ones)
    assert got[3][2] is False
    assert got[4][2] and got[5][2]    # below threshold -> kept
    assert got[6] == (0, 4, True)     # zero vector: tie -> cluster 0, kept


def test_semantic_dedup_kmeans_path(spark):
    """Production path (centroids=None) == explicit kmeans_centroids
    centroids == pure-Python replay on the fitted centers."""
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        kmeans_centroids, semantic_dedup)

    df = spark.createDataFrame(SEM_VECS, "vec_id long, embedding array<double>")
    cent = kmeans_centroids(df, nlist=3, seed=7)
    crows = [(int(r["cluster"]), [float(x) for x in r["centroid"]])
             for r in cent.collect()]
    got_explicit = {r["vec_id"]: (r["cluster"], r["rank_in_cluster"], r["kept"])
                    for r in semantic_dedup(df, centroids=cent,
                                            threshold=0.95).collect()}
    got_default = {r["vec_id"]: (r["cluster"], r["rank_in_cluster"], r["kept"])
                   for r in semantic_dedup(df, nlist=3, seed=7,
                                           threshold=0.95).collect()}
    want = _semdedup_replay(SEM_VECS, crows, 0.95)
    assert got_explicit == want
    assert got_default == want


def test_semantic_dedup_empty_centroids_raise(spark):
    from thesis_ner_co_tri_training_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(SEM_VECS, "vec_id long, embedding array<double>")
    empty = spark.createDataFrame([], "cluster int, centroid array<double>")
    with pytest.raises(ValueError):
        semantic_dedup(df, centroids=empty)


def test_semantic_dedup_duplicate_cluster_ids_raise(spark):
    """Two centroids under one cluster id would merge their members into
    one cluster ranked against different centroids; reject the set."""
    from thesis_ner_co_tri_training_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(SEM_VECS, "vec_id long, embedding array<double>")
    (c0, v0), (_, v1) = SEM_CENTS[:2]
    dup = spark.createDataFrame([(c0, v0), (c0, v1)],
                                "cluster int, centroid array<double>")
    with pytest.raises(ValueError, match="distinct"):
        semantic_dedup(df, centroids=dup)


def test_semantic_dedup_drops_nonfinite_vectors(spark):
    """One poisoned embedding (NaN/inf component, or NULL/empty) must
    fall out of the result — not crash the job: pre-fix, an all-NaN
    distance row made the strict-< argmin keep index 0 and
    element_at(..., 0) raised INVALID_INDEX_OF_ZERO under ANSI."""
    from thesis_ner_co_tri_training_spark.operators.dedup import semantic_dedup

    bad = [
        (100, [float("nan"), 1.0, 0.0]),
        (101, [float("inf"), 0.0, 0.0]),
        (102, [0.0, float("-inf"), 0.0]),
        (103, None),
        (104, []),
    ]
    df = spark.createDataFrame(SEM_VECS + bad,
                               "vec_id long, embedding array<double>")
    cent = spark.createDataFrame(SEM_CENTS,
                                 "cluster int, centroid array<double>")
    got = {r["vec_id"]: (r["cluster"], r["rank_in_cluster"], r["kept"])
           for r in semantic_dedup(df, centroids=cent,
                                   threshold=0.95).collect()}
    # clean rows unchanged, poisoned rows absent
    assert got == _semdedup_replay(SEM_VECS, SEM_CENTS, 0.95)
