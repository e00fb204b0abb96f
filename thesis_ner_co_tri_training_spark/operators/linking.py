"""Entity linking + cross-document canonicalization, and the MinHash-LSH
core that operators.dedup shares.

Generalizes the reference's agreement check (J4: equi-join then cosine
verify, co_training.py:263-265) into the scalable two-phase pattern the
north star names explicitly:

  1. MinHash-LSH blocking on character-3-gram shingles of the normalized
     surface. One keyed aggregate gives each distinct surface its
     mention count and shingles; minhash_signature, the engine's one
     per-row builder, gives it a `sig` column (array_min of the
     seeded shingle hashes, one per hash; `num_hashes` and `hasher` in
     the column metadata), and _band_array, the one band helper, reads
     that metadata to band it.
     Each (band, bucket) is grouped ONCE into a list of its members'
     (key, shingles), and candidate pairs are enumerated inside the
     bucket, carrying both shingle arrays — no bucket-size join and no
     self-join. All hashing is JVM-side; candidate generation touches
     only DISTINCT surfaces, not mention rows. operators.dedup runs the
     same signature format, band helper, bucket enumerator and verify
     at document granularity.
  2. Verify: exact n-gram Jaccard similarity on the candidate pairs,
     scored in place from the carried shingles (jaccard_verify, the
     reference's cosine-check role).
  3. Canonicalize: alternating large-star/small-star connected
     components over the verified-pair edge set, checkpointed once per
     round to truncate lineage — SURVEY §4's one hand-rolled iterative
     physical strategy.

Skew: surfaces follow a power law (popular entities appear in many
documents). Blocking dedups to distinct surfaces FIRST, so bucket sizes
are bounded by vocabulary, not corpus size, and buckets above
`max_bucket` members are dropped before any pair is formed; the graph
joins broadcast the (small) exploded alias map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.hashutil import md5_long


def surface_shingles(df: DataFrame, col: str = "surface", n: int = 3) -> DataFrame:
    """Distinct surfaces -> (surface, count, shingles): the number of
    input rows per surface and its char n-gram shingle array
    (lowercased, padded). NULL surfaces have no shingles and are left
    out."""
    grams = F.expr(
        f"array_distinct(transform(sequence(1, greatest(length(concat('^', lower({col}), '$')) - {n - 1}, 1)), "
        f"i -> substring(concat('^', lower({col}), '$'), i, {n})))"
    )
    return (df.filter(F.col(col).isNotNull()).groupBy(col).count()
            .withColumn("shingles", grams))


def _shingle_hash(c, i: int, hasher: str) -> F.Column:
    """Shingle c hashed under seed i. With _band_array's band hash, the
    cross-engine oracle byte recipe (hashutil docstring)."""
    if hasher == "md5":
        return md5_long(c, F.lit(str(i)))
    return F.xxhash64(c, F.lit(i))


def _sig_column(mins: list, hasher: str) -> F.Column:
    """The one signature format: `sig` = array<bigint> of the per-seed
    shingle-hash minima, its metadata recording `num_hashes` and
    `hasher` for _band_array. Built per row by minhash_signature and
    as aggregate minima by dedup's in-set batch builder."""
    if not mins:
        raise ValueError("minhash signature: num_hashes < 1")
    return F.array(*mins).alias(
        "sig", metadata={"num_hashes": len(mins), "hasher": hasher})


def minhash_signature(df: DataFrame, num_hashes: int = 16,
                      shingles_col: str = "shingles",
                      hasher: str = "xxhash64") -> DataFrame:
    """The one per-row minhash builder: sig[i] = the min over the
    shingles of _shingle_hash(s, i). No shuffle, so it runs unchanged
    on a stream. An empty shingle array gives NULL minima: callers
    filter such rows out first."""
    # NB: the transform lambda must be single-argument — a two-arg
    # lambda would make Spark bind the second parameter to the array
    # INDEX, silently replacing the seed.
    def minhash(i: int) -> F.Column:
        return F.array_min(F.transform(
            shingles_col, lambda s: _shingle_hash(s, i, hasher)))

    return df.select("*", _sig_column(
        [minhash(i) for i in range(num_hashes)], hasher))


def _band_array(df: DataFrame, bands: int) -> F.Column:
    """array<bigint> of `bands` hashes over df's `sig`, band b over the
    slice sig[b*r : (b+1)*r], r = num_hashes // bands; posexploded, the
    (band, bucket) rows. The one band hash of every LSH relation
    (linking, dedup pairs, the persisted dedup index's `buckets`).
    num_hashes and the hasher come from the `sig` metadata; a band
    count that does not divide num_hashes fails here, at the driver
    and before any job, instead of leaving hash rows unused or
    indexing past the signature mid-stage."""
    meta = df.schema["sig"].metadata
    if "num_hashes" not in meta or "hasher" not in meta:
        raise ValueError(
            "the sig column carries no num_hashes/hasher metadata; "
            "build it with minhash_signature")
    n, hasher = meta["num_hashes"], meta["hasher"]
    if bands < 1 or n % bands:
        raise ValueError(
            f"bands={bands} does not divide the signature length {n} "
            "(num_hashes at signature build)")
    rows = n // bands
    sig = F.col("sig")

    def bhash(b: int) -> F.Column:
        cs = [sig[i] for i in range(b * rows, (b + 1) * rows)]
        if hasher == "md5":
            return md5_long(F.lit(str(b)), *[c.cast("string") for c in cs])
        return F.xxhash64(F.lit(b), *cs)

    return F.array(*[bhash(b) for b in range(bands)])


def _bucket_pairs(rows: DataFrame, max_bucket: int) -> DataFrame:
    """(band, bucket, m = struct(k, sh)) rows -> distinct (a, b, sh_a,
    sh_b) with a < b: one collect_list per bucket, pairs enumerated
    inside it. Skew guard: a bucket with more than max_bucket members is
    non-discriminative (boilerplate, power-law surfaces) and forms no
    pairs rather than |B|^2 ones the verify would almost all reject."""
    buckets = (
        rows.groupBy("band", "bucket")
        .agg(F.collect_list("m").alias("ms"))
        .filter(F.size("ms") <= max_bucket)
    )
    pairs = F.flatten(F.transform("ms", lambda x: F.transform(
        F.filter("ms", lambda y: x["k"] < y["k"]),
        lambda y: F.struct(x["k"].alias("a"), y["k"].alias("b"),
                           x["sh"].alias("sh_a"), y["sh"].alias("sh_b")),
    )))
    return buckets.select(F.inline(pairs)).distinct()


def lsh_candidate_pairs(df: DataFrame, bands: int = 4,
                        key: str = "surface", max_bucket: int = 256) -> DataFrame:
    """Band the signature and pair the members of each band bucket.

    Input: (key, shingles, sig) rows, `sig` in the one signature format
    (minhash_signature, or dedup's aggregate builder). Output: distinct
    (a, b, sh_a, sh_b) candidate pairs with a < b and both shingle
    arrays, ready for jaccard_verify. Buckets with more than max_bucket
    members are dropped (_bucket_pairs' skew guard).
    """
    return _bucket_pairs(df.select(
        F.posexplode(_band_array(df, bands)).alias("band", "bucket"),
        F.struct(F.col(key).alias("k"), F.col("shingles").alias("sh"))
        .alias("m"),
    ), max_bucket)


def jaccard_verify(pairs: DataFrame, threshold: float = 0.6) -> DataFrame:
    """Exact n-gram Jaccard on candidates (the J4 'verify' step), scored
    from the shingle arrays the pairs carry (sh_a, sh_b).

    Output: (a, b, jaccard, the pairs' other columns) — only sh_a/sh_b
    are dropped. round 4 per the reference's score convention
    (utils.py:70).
    """
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jaccard = F.round(F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 4)
    rest = [c for c in pairs.columns if c not in ("a", "b", "sh_a", "sh_b")]
    return (
        pairs.select("a", "b", jaccard.alias("jaccard"), *rest)
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(a, b) string edges -> (node, comp).

    comp = min surface (lexicographic) of the connected component —
    a deterministic canonical representative. Every endpoint gets a row,
    including a node whose only edge is a self-loop.

    Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): each pair of steps
    at least halves tree heights, so it converges in O(log n) rounds
    regardless of graph diameter — the right shape for cross-document
    canonicalization where alias graphs can chain (a~b~c~...); a
    2^k-long chain needs ~k rounds (the 200-node-path test pins <= 10).

    The state is a node table (node, ps, par): ps are the node's
    distinct smaller neighbours (its parents), par whether it is anyone's
    parent. large-star points every node's larger neighbours at the
    minimum of its closed neighbourhood; small-star contracts every node
    and its smaller neighbours onto the minimum of that set. Each step's
    per-node minimum is a window, and the round ends in the node-keyed
    aggregate, checkpointed. The input dedup ends in the same aggregate.

    Stop rule: a star-forest test. An `observe` on each checkpoint job
    counts the nodes with more than one parent or with a parent while
    being a parent; 0 means every component is a star rooted at its
    minimum — exactly the fixed point of the two steps — so the loop
    stops without a confirming round, and comp is each node's single
    parent or the node itself. Raises when max_iter rounds pass without
    reaching it.
    """
    # Evaluated once: the caller's lineage (LSH + verify) is read by the
    # input checkpoint only. An input that is already a star forest
    # (nothing to contract) returns after it with no round.
    given, bad = _node_table(edges.selectExpr(
        "greatest(a, b) AS c", "least(a, b) AS p").dropna())
    nodes = given
    for _ in range(max_iter):
        if not bad:
            break
        nodes, bad = _node_table(_star_round(nodes))
    if bad:
        raise RuntimeError(
            "connected_components: edge set did not reach a fixed point "
            f"within max_iter={max_iter} rounds")
    if nodes is not given:
        # a round drops the nodes without an edge (self-loops only)
        nodes = nodes.union(given.where("size(ps) = 0 AND NOT par"))
    return nodes.selectExpr("node", "coalesce(array_min(ps), node) AS comp")


# The node table and the rounds are built from SQL text: at linking's
# sizes, driver-side plan building is a large share of a call (q30's
# graph, sf0.01, local[4]: 0.65 s per call from Column objects, 0.27 s
# from SQL text, against ~1 s of Spark jobs).
def _node_table(e: DataFrame) -> tuple[DataFrame, int]:
    """(c, p) rows, c >= p: the edge child -> parent, or with c == p
    just the node c -> the checkpointed node table (node, ps, par) and
    the number of its nodes that break the star-forest test."""
    obs = Observation()
    nodes = (
        e.selectExpr("inline(array(struct(c AS node, p AS q, false AS par),"
                     " struct(p AS node, p AS q, c <> p AS par)))")
        .groupBy("node")
        .agg(F.expr("collect_set(if(q <> node, q, NULL)) AS ps"),
             F.expr("bool_or(par) AS par"))
        .observe(obs, F.expr(
            "count_if(size(ps) > 1 OR (size(ps) = 1 AND par)) AS n"))
        .localCheckpoint(eager=True)
    )
    return nodes, obs.get["n"]


def _star_round(nodes: DataFrame) -> DataFrame:
    """One large-star + small-star round over a node table -> (c, p)
    rows for _node_table."""
    # large-star: a self row (k = node) carries the node's
    # closed-neighbourhood minimum m; a row per parent q asks for q's m
    # (q >= m(q), so the min over k = q's rows is m(q)) for child ch.
    # small-star: each child and its new parents -> their minimum.
    return (
        nodes.selectExpr(
            "inline(concat("
            "array(struct(node AS k, least(node, array_min(ps)) AS m,"
            " node AS ch)),"
            " transform(ps, q -> struct(q AS k, q AS m, node AS ch))))")
        .selectExpr("ch", "k", "min(m) OVER (PARTITION BY k) AS m")
        .where("ch <> k")
        .selectExpr("ch", "m", "min(m) OVER (PARTITION BY ch) AS p")
        .selectExpr("inline(array(struct(ch AS c, p), struct(m AS c, p)))")
    )


def canonicalize_entities(mentions: DataFrame,
                          num_hashes: int = 16,
                          bands: int = 4,
                          jaccard_threshold: float = 0.6) -> DataFrame:
    """mentions -> entities(entity_id, canonical, aliases, n_mentions).

    entity_id is a deterministic hash of the canonical surface (stable
    across runs and cluster sizes).
    """
    # One row per distinct surface feeds both the blocking and the final
    # mapping. Not checkpointed: rerunning the keyed count in both costs
    # as many Spark jobs as a checkpoint would.
    vocab = surface_shingles(mentions)
    sigs = minhash_signature(vocab, num_hashes=num_hashes)
    pairs = lsh_candidate_pairs(sigs, bands=bands)
    verified = jaccard_verify(pairs, threshold=jaccard_threshold)
    comps = connected_components(verified)

    # Singletons (no verified edge) canonicalize to themselves.
    return (
        vocab.join(comps.withColumnRenamed("node", "surface"), "surface", "left")
        .groupBy(F.coalesce(F.col("comp"), F.col("surface")).alias("canonical"))
        .agg(
            F.sort_array(F.collect_set("surface")).alias("aliases"),
            F.sum("count").alias("n_mentions"),
        )
        .withColumn("entity_id", F.xxhash64("canonical"))
        .select("entity_id", "canonical", "aliases", "n_mentions")
    )


def surface_to_entity(mentions: DataFrame, entities: DataFrame) -> DataFrame:
    """Attach the entity's columns (all but `aliases`) to every mention;
    broadcast the alias map. A surface in no entity's aliases gets
    NULLs."""
    alias_map = entities.select(
        F.explode("aliases").alias("surface"),
        *[c for c in entities.columns if c != "aliases"])
    return mentions.join(F.broadcast(alias_map), "surface", "left")
