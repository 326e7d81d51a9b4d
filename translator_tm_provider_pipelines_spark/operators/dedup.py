"""Document deduplication operators (LLM-data-pipeline extension).

The reference's only dedup is identity-key dedup before writes
(PipelineMain.deduplicateDocumentsByStringKey:927-945 → A11). A 100 TB
training-data pipeline needs content dedup as well; these operators provide
exact and near-dup detection, all as native DataFrame programs:

- exact:    hash-groupBy on content digest
- near-dup: word-shingle → MinHash → banded LSH → candidate pairs →
            exact n-gram Jaccard verification
- SimHash:  64-bit sign-sum fingerprint, Hamming-bucketed

Scale design: every stage is shuffle-by-key (doc_id / shingle / band
signature); nothing widens beyond (num_perms ×) the shingle relation.
Candidate generation joins on band signature — a high-cardinality key whose
groups are the (rare) collision buckets, so the pair expansion is bounded;
hot buckets (boilerplate docs) are handled by AQE skew splitting. Exact
Jaccard runs only on LSH survivors, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.staging import stage

TOKEN_RE = r"([a-z0-9]+)"

#: Mersenne prime modulus for the affine permutation family; 31-bit values
#: keep every product inside a signed 64-bit long on both Spark and DuckDB.
MERSENNE_31 = (1 << 31) - 1
#: Per-word mix coefficients for combining k word hashes into a shingle hash.
WORD_COEFFS = (3, 5, 7, 13, 17, 19, 23, 29)
WORD_BIAS = 11


def _perm_coeffs(j: int) -> tuple[int, int]:
    """The j-th affine permutation (a, b): h ↦ (a·h + b) mod 2³¹−1.
    Fixed family — the DuckDB oracles hard-code the same arithmetic."""
    return 2 * j + 3, 5 * j + 7


def words_expr(text_col: str = "text") -> Column:
    """Lower-token array: ``[a-z0-9]+`` matches of the text column."""
    return F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 1)


def shingle_strings(words: Column, k: int = 3) -> Column:
    """Word k-gram strings as a per-row array (space-joined, in order).
    Empty when the document has fewer than k words (``sequence(1, 0)``
    counts *down* in Spark, so the guard is required)."""
    idx = F.when(
        F.size(words) >= k, F.sequence(F.lit(1), F.size(words) - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(k)])
    )


def shingle_hash_frame(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, shv ARRAY<LONG>) — 31-bit shingle hashes as a per-row array,
    computed without materializing shingle strings: one md5 per *word*,
    then an affine mix of the k word hashes per shingle position. A pure
    narrow projection; documents with fewer than k words are absent."""
    if k > len(WORD_COEFFS):
        raise ValueError(f"k={k} exceeds the fixed coefficient table ({len(WORD_COEFFS)})")
    words = words_expr(text_col)
    d = docs.select(F.col(id_col).alias("doc_id"), words.alias("words")).where(
        F.size("words") >= k
    )
    hw = F.transform(
        F.col("words"), lambda w: F.conv(F.substring(F.md5(w), 1, 7), 16, 10).cast("long")
    )
    d = d.select("doc_id", hw.alias("hw"))
    coeffs = WORD_COEFFS[:k]
    shv = F.transform(
        F.sequence(F.lit(1), F.size("hw") - F.lit(k - 1)),
        lambda i: (
            sum(F.element_at(F.col("hw"), i + j) * F.lit(c) for j, c in enumerate(coeffs))
            + F.lit(WORD_BIAS)
        )
        % F.lit(MERSENNE_31),
    )
    return d.select("doc_id", shv.alias("shv"))


def minhash_signatures_doc(
    docs: DataFrame,
    k: int = 3,
    num_perms: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures with ZERO shuffles and zero explodes: a pure
    per-document projection (tokenize → hash each word once → mix k word
    hashes into 31-bit shingle hashes → per permutation j take
    ``array_min((aⱼ·h + bⱼ) mod 2³¹−1)``).

    Versus the shingle-relation formulation (:func:`minhash_signatures`)
    this computes one md5 per *word* instead of ``num_perms`` md5s per
    *shingle occurrence*, and never shuffles — measured 5× faster at
    sf0.1 and embarrassingly parallel at 100 TB (a single narrow
    WholeStageCodegen scan; see tests/test_plan_shapes.py). MinHash min
    is duplicate-invariant, so skipping the shingle DISTINCT is exact.

    Returns (doc_id, sig ARRAY<STRING>[num_perms]); documents with fewer
    than k words are absent (same semantics as the shingle relation).
    Signature values are decimal-rendered longs — opaque inputs to
    :func:`lsh_bands`."""
    d = shingle_hash_frame(docs, k=k, text_col=text_col, id_col=id_col)

    # ONE fold over shv maintaining all num_perms running minima (r12):
    # the per-permutation ``array_min(transform(shv, …))`` form
    # materialized num_perms full-length permuted copies of the
    # shingle-hash array per document; the fold allocates only the
    # num_perms-element accumulator per step. Values are identical —
    # same affine images, same min over the same multiset (shv is
    # non-empty: size(words) >= k). MERSENNE_31 is a safe +inf sentinel
    # because (a·v+b) mod M < M.
    coeffs = [_perm_coeffs(j) for j in range(num_perms)]
    mins = F.aggregate(
        F.col("shv"),
        F.array(*[F.lit(MERSENNE_31).cast("long") for _ in range(num_perms)]),
        lambda acc, v: F.array(
            *[
                F.least(
                    F.get(acc, j), (F.lit(a) * v + F.lit(b)) % F.lit(MERSENNE_31)
                )
                for j, (a, b) in enumerate(coeffs)
            ]
        ),
    )
    return d.select(
        "doc_id",
        F.transform(mins, lambda m: m.cast("string")).alias("sig"),
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: one row per duplicate group with the
    canonical (min-id) representative and the group's members. First-wins
    semantics mirror A11 (deduplicateByKey keeps an arbitrary element; we
    keep min id for determinism)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_docs"),
        )
    )


def word_shingles(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct word k-gram shingles per document, tokenized with
    ``[a-z0-9]+``. Entirely JVM-side (regexp tokenize + array expansion,
    no UDF). This is the *relation* form — needed where pairs of documents
    join on shared shingles (exact Jaccard). For MinHash use the
    zero-shuffle :func:`minhash_signatures_doc` instead.

    The word array is STAGED as a bound attribute through a select
    boundary before the k-gram transform references it: inlined, every
    ``element_at(words, i+j)`` inside the lambda re-evaluates the whole
    regexp tokenization per element — O(words²) regexp runs per document
    (the _dsir_features re-inline trap; measured 9.8 s → 1.2 s for this
    frame over the sf0.1 corpus, r12)."""
    d = docs.select(
        F.col(id_col).alias("doc_id"), words_expr(text_col).alias("__w")
    ).where(F.size("__w") >= k)
    return d.select(
        "doc_id",
        F.explode(shingle_strings(F.col("__w"), k)).alias("shingle"),
    ).distinct()


def minhash_signatures(shingles: DataFrame, num_perms: int = 16, k: int = 3) -> DataFrame:
    """MinHash over a pre-materialized shingle *relation* (e.g. a shingle
    table persisted at 100 TB scale) as ONE aggregation: per shingle row
    the 31-bit hash is computed once, the signature is ``num_perms``
    affine-permuted MIN aggregates with map-side partial combine — same
    value semantics and permutation family as
    :func:`minhash_signatures_doc` (which is faster when starting from
    documents: no shuffle at all). Value parity holds because shingles are
    single-space-joined tokens: splitting recovers the words, and the same
    word-hash mix applies."""
    if k > len(WORD_COEFFS):
        raise ValueError(f"k={k} exceeds the fixed coefficient table ({len(WORD_COEFFS)})")
    hw = F.transform(
        F.split(F.col("shingle"), " "),
        lambda w: F.conv(F.substring(F.md5(w), 1, 7), 16, 10).cast("long"),
    )
    hv = (
        sum(F.element_at(F.col("hw"), j + 1) * F.lit(c) for j, c in enumerate(WORD_COEFFS[:k]))
        + F.lit(WORD_BIAS)
    ) % F.lit(MERSENNE_31)
    mins = []
    for j in range(num_perms):
        a, b = _perm_coeffs(j)
        mins.append(F.min((F.lit(a) * F.col("hv") + F.lit(b)) % F.lit(MERSENNE_31)).alias(f"h{j}"))
    wide = (
        shingles.select("doc_id", hw.alias("hw"))
        .select("doc_id", hv.alias("hv"))
        .groupBy("doc_id")
        .agg(*mins)
    )
    return wide.select(
        "doc_id",
        F.array(*[F.col(f"h{j}").cast("string") for j in range(num_perms)]).alias("sig"),
    )


def lsh_bands(signatures: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """Fold the signature array into bands of ``rows_per_band`` entries;
    band signature = md5 of the ','-joined values. Pure projection — no
    extra shuffle. Docs sharing any (band, band_sig) are candidates.

    The separator is load-bearing: signature values are variable-length
    decimal strings, so a separator-less concatenation would be ambiguous
    ('123'+'45' = '12'+'345') and collide unequal signatures. The DuckDB
    oracles join with the same ','."""
    bands = F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.floor((F.size("sig") - 1) / rows_per_band).cast("int")),
            lambda b: F.md5(
                F.array_join(F.slice("sig", b * rows_per_band + 1, rows_per_band), ",")
            ),
        )
    )
    return signatures.select("doc_id", bands.alias("band", "band_sig"))


def lsh_candidate_pairs(
    bands: DataFrame,
    max_bucket_size: int | None = None,
    oversize_policy: str = "drop",
) -> DataFrame:
    """Candidate pairs via bucket grouping, not a self-join: docs collect
    per (band, band_sig) bucket and unordered pairs expand JVM-side inside
    each bucket row. One shuffle, the upstream chain is evaluated once
    (a self-join would recompute it for both sides), and the expansion is
    bounded by bucket size.

    ``max_bucket_size`` is the 100 TB guard for pathological boilerplate
    buckets (one wide row that AQE cannot split): a k-member bucket emits
    k·(k-1)/2 pairs, so clusters whose size grows with the corpus make the
    pair volume quadratic (measured: 100-member clusters at the sf10 slice
    → 33M pairs, 12-minute verify, GC pressure — SCALING.md). Buckets over
    the cap follow ``oversize_policy``:

    - ``"drop"`` (default, backward-compatible): the bucket is discarded;
      correct when giant buckets are boilerplate that exact dedup removes
      upstream, but measured recall collapses when they are real near-dup
      clusters (300 of 493k cluster members found at sf10/cap 8).
    - ``"star"``: the bucket emits k-1 representative edges (minimum
      member → each other member) instead of k²/2 pairs — LINEAR in
      bucket size. Downstream Jaccard verification still applies to every
      emitted edge, and connected components restore the full cluster
      through the representative, so the keep list is unchanged whenever
      every member clears the Jaccard threshold against the minimum-id
      representative (identical-boilerplate clusters do; CHAIN-shaped
      clusters — member above threshold to its neighbor but below it to
      the representative — can lose members that the full expansion keeps
      transitively). Candidate volume stays corpus-linear (measured at
      sf10: 721 s → 40 s with 99.5% of members still collapsed; the 0.5%
      loss is exactly those chain members — see
      :func:`star_second_hop_pairs` for the repair pass). Pairs far from
      the representative are not individually verified — the policy
      trades pairwise certainty inside over-cap buckets for linear cost,
      which is the right trade when the bucket IS one tight cluster."""
    if oversize_policy not in ("drop", "star"):
        raise ValueError(f"unknown oversize_policy {oversize_policy!r}")
    buckets = (
        bands.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    all_pairs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ds"), i + F.lit(2), F.greatest(F.size("ds") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    if max_bucket_size is None:
        expansion = all_pairs
    else:
        small = F.size("ds") <= max_bucket_size
        if oversize_policy == "star":
            star = F.transform(
                F.slice(F.col("ds"), 2, F.greatest(F.size("ds") - 1, F.lit(0))),
                lambda y: F.struct(
                    F.get(F.col("ds"), 0).alias("doc_a"), y.alias("doc_b")
                ),
            )
            expansion = F.when(small, all_pairs).otherwise(star)
        else:
            buckets = buckets.where(small)
            expansion = all_pairs
    pair = F.explode(expansion)
    return buckets.select(pair.alias("p")).select("p.doc_a", "p.doc_b").distinct()


def star_second_hop_pairs(
    bands: DataFrame,
    verified: DataFrame,
    max_bucket_size: int,
    attempted: DataFrame | None = None,
    reps_per_hop: int = 8,
    overcap_bands: DataFrame | None = None,
) -> DataFrame:
    """Repair candidates for ``oversize_policy="star"``: over-cap bucket
    members left UNATTACHED after verification re-star against the
    minimum unattached member of their bucket.

    The star policy only verifies representative→member edges, so an
    over-cap bucket holding two distinct near-dup clusters, or a
    chain-shaped cluster whose far members drift below threshold vs the
    representative, loses every member outside the representative's own
    reach — the measured 0.5% member-recall gap at sf10 (SCALING.md).
    This pass promotes the ``reps_per_hop`` smallest globally-unattached
    members of each over-cap bucket to additional representatives and
    stars each against ALL other bucket members (attached ones included —
    a stranded chain member reattaches through its genuine ≥-threshold
    neighbor, not the failed first representative): candidate volume is
    bounded by ``reps_per_hop × bucket_size`` per bucket per hop, so the
    cap's linearity guarantee survives (one rep per hop was measured at
    sf10 to peel only ~200 of 2,579 stranded members per hop — too slow;
    8 reps converges in 2-3 hops at the same asymptotic cost).
    "Unattached" is global (no verified edge at all): any verified edge
    implies genuine Jaccard ≥ threshold, so connected components already
    place such members correctly.

    ``attempted`` (candidate pairs already Jaccard-tested, e.g. the
    first-pass candidate set plus earlier hops) is anti-joined away so
    failed edges are never re-verified. Convergence: each hop the chosen
    representative either attaches (unattached set shrinks) or all its
    edges fail and enter ``attempted`` — a genuinely-alone member whose
    every bucket edge has been tried yields zero fresh candidates, and
    the caller's empty-candidate check ends the loop. The residual
    bound: promotion always picks the ``reps_per_hop`` SMALLEST
    unattached members, so once those stall (all their edges attempted,
    none attaching) the loop terminates and members ranked below them
    are never promoted — any unattempted edge of theirs, including a
    genuine >=threshold edge to an ATTACHED member, stays unattempted.
    Promoting until every unattached member has had a turn would
    degenerate to full pairwise expansion of over-cap buckets (the
    quadratic trap the cap exists to fence), so the bound is
    deliberate; it is also why the incremental index's reconcile — which
    promotes from a much smaller unattached set — can attach a handful
    of genuine near-dups this batch pass strands (measured: 4 docs of
    500k on the mixed sf10 corpus, SCALING.md round-9 block). Returns
    (doc_a, doc_b) candidates (doc_a < doc_b) for the caller to
    Jaccard-verify and union into the pair set before connected
    components. Recovered members attach to a genuine ≥-threshold
    neighbor, which may be a DIFFERENT component than full pairwise
    expansion would produce for chain clusters — recall is repaired,
    exact component equality is not promised.

    ``overcap_bands`` (optional): the band rows of over-cap buckets,
    already restricted (and typically materialized) by the caller — a
    hop LOOP otherwise re-derives the full band pipeline every
    iteration even though the band table is static within a run (r11).
    Must be derived from the same ``bands`` at the same cap; the size
    filter is re-applied, so a superset restriction only wastes, never
    corrupts."""
    src = overcap_bands if overcap_bands is not None else bands
    over = (
        src.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .where(F.size("ds") > max_bucket_size)
    )
    members = over.select("band", "band_sig", F.explode("ds").alias("doc_id"))
    vids = verified.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    reps = (
        members.join(vids, "doc_id", "left_anti")
        .groupBy("band", "band_sig")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("doc_id")), 1, reps_per_hop
            ).alias("__reps")
        )
        .select("band", "band_sig", F.explode("__reps").alias("__rep"))
    )
    out = (
        over.join(reps, ["band", "band_sig"])
        .select("__rep", F.explode("ds").alias("__other"))
        .where(F.col("__rep") != F.col("__other"))
        .select(
            F.least("__rep", "__other").alias("doc_a"),
            F.greatest("__rep", "__other").alias("doc_b"),
        )
        .distinct()
    )
    if attempted is not None:
        out = out.join(
            attempted.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
        )
    return out


def _overcap_band_rows(bands: DataFrame, max_bucket_size: int) -> DataFrame:
    """DISTINCT (doc_id, band, band_sig) rows of buckets above the cap —
    the shared derivation under the star hop/rescue machinery (r11: one
    definition so the distinct semantics and the cap comparison cannot
    drift across call sites). Idempotent: re-applying it to an
    already-restricted (or superset) input only re-filters, so callers
    that pre-materialize the restriction stay safe if they ever pass a
    wider frame."""
    ob = bands.select("doc_id", "band", "band_sig").distinct()
    over = (
        ob.groupBy("band", "band_sig")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .where(F.col("__bn") > max_bucket_size)
        .select("band", "band_sig")
    )
    return ob.join(over, ["band", "band_sig"], "left_semi")


def _star_untried_edges(
    bands: DataFrame,
    verified: DataFrame,
    max_bucket_size: int,
    attempted: DataFrame | None = None,
    min_shared_bands: int = 1,
    member_buckets: DataFrame | None = None,
    overcap_bands: DataFrame | None = None,
) -> DataFrame:
    """(band, band_sig, __m, doc_a, doc_b): every UNTRIED qualifying
    rescue edge — an unattached over-cap bucket member (``__m``) paired
    with an ATTACHED co-bucket member — keyed by the unattached member's
    over-cap buckets. The shared enumeration under
    :func:`star_rescue_pairs` and the incremental index's rescue pass;
    callers slice the member set per bucket (bounded verification per
    round) and use the per-bucket member counts for overflow/watermark
    decisions.

    Scope and scale shape (r10, measured): the rescue exists to close
    promotion starvation — an unattached member whose GENUINE neighbor
    is already attached (and therefore never promoted by the hop loop).
    Its edge enumeration is therefore unattached × ATTACHED per bucket,
    never unattached × bucket: on the mixed sf10 corpus the latter is
    Σ n² ≈ 45M rows (max bucket 2,433 members — the quadratic trap the
    cap exists to fence; enumerating it OOM'd a 16g driver), while
    stranger-to-stranger edges are out of rescue scope by construction
    (a fully stranded genuine pair is the base candidates' job — any
    shared under-cap bucket proposes it full-pairwise).

    ``min_shared_bands`` prunes further: a pair qualifies only when it
    co-occurs in at least that many distinct over-cap buckets. Band
    signatures are a pure function of the two immutable documents
    (seedless MinHash), so the filter is DETERMINISTIC and identical on
    the batch and index paths — keep-list equality holds at any shared
    setting. At J ≥ 0.8 a pair shares ≈ 6.6 of 16 bands (P(<3) ≈ 1.3%),
    while half-splice strangers (J ≈ 0.33) share ≥3 with probability
    <1%, so ``min_shared_bands=3`` keeps the genuine starved edges and
    kills the stranger × attached bulk — set it ≥ 2 at scale, leave 1
    (no filter) for small corpora and unit fixtures.

    "Unattached" is global (no verified edge at all), as in
    :func:`star_second_hop_pairs`; "untried" anti-joins ``attempted``
    (the caller's cumulative candidate set — base star + hops + persisted
    failures where available). The enumeration shrinks every round as
    members attach or their edges enter ``attempted``.

    ``member_buckets`` (optional (band, band_sig) frame) restricts WHICH
    buckets' unattached members are eligible — the incremental index's
    round scope — while the pair enumeration and the shared-bucket count
    always run over ALL over-cap buckets: a scoped count would
    under-report pairs whose other shared buckets are watermark-covered
    and mis-filter them below the floor, breaking the fixpoint the
    watermark certifies. The returned bucket keys (for the caller's
    slice) are likewise restricted to the scope.

    ``overcap_bands`` (optional): the over-cap band-row restriction
    (doc_id, band, band_sig) precomputed — and typically
    staged — by the caller. The rescue loop calls this
    function every round, and without it each round re-derives the full
    band pipeline and the bucket-size aggregate from scratch even
    though the band table is static within a run (r11). The
    distinct+cap filter is RE-APPLIED to the provided frame (cheap on
    the restricted table), so a superset input only wastes, never
    corrupts — same contract as :func:`star_second_hop_pairs`."""
    ob = _overcap_band_rows(
        overcap_bands if overcap_bands is not None else bands,
        max_bucket_size,
    )
    vids = verified.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    u = ob.join(vids, "doc_id", "left_anti").withColumnRenamed(
        "doc_id", "__m"
    )
    u_scope = u
    if member_buckets is not None:
        u_scope = u.join(
            member_buckets.select("band", "band_sig"),
            ["band", "band_sig"], "left_semi",
        )
        u_ids = u_scope.select("__m").distinct()
        u = u.join(u_ids, "__m", "left_semi")
    a = ob.join(vids, "doc_id", "left_semi").withColumnRenamed(
        "doc_id", "__o"
    )
    qual = (
        u.join(a, ["band", "band_sig"])
        .groupBy("__m", "__o")
        .agg(F.count(F.lit(1)).alias("__nb"))
    )
    if min_shared_bands > 1:
        qual = qual.where(F.col("__nb") >= min_shared_bands)
    edges = qual.select(
        "__m",
        F.least("__m", "__o").alias("doc_a"),
        F.greatest("__m", "__o").alias("doc_b"),
    )
    if attempted is not None:
        edges = edges.join(
            attempted.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
        )
    # re-attach the unattached member's (scope) bucket keys for the
    # caller's per-bucket slice/overflow logic — the qualifying untried
    # set is small by now, so this join is cheap
    return edges.join(
        u_scope.select("band", "band_sig", "__m"), "__m"
    ).select("band", "band_sig", "__m", "doc_a", "doc_b")


def star_rescue_pairs(
    bands: DataFrame,
    verified: DataFrame,
    max_bucket_size: int,
    attempted: DataFrame | None = None,
    reps_per_bucket: int = 64,
    min_shared_bands: int = 1,
    overcap_bands: DataFrame | None = None,
) -> DataFrame:
    """Post-convergence rescue candidates for the star policy — closes the
    promotion-starvation residual of :func:`star_second_hop_pairs` (its
    docstring: the hop loop ranks by id among ALL unattached members, so
    once the smallest ``reps_per_hop`` stall with every edge attempted,
    members ranked below them are never promoted, and a genuine
    ≥-threshold edge to an ATTACHED member stays unattempted — the 74-row
    index-vs-batch keep-list divergence measured on the mixed sf10
    corpus, SCALING.md round-9/10 blocks).

    Two fixes over the hop loop's ranking: (1) promote only unattached
    members that still HAVE an untried qualifying edge — stalled
    strangers (fully attempted, never attaching) drop out of the ranking
    instead of monopolizing the promotion slots; (2) the proposed edges
    target only ATTACHED co-bucket members, optionally pre-filtered by
    deterministic band agreement (``min_shared_bands``; see
    :func:`_star_untried_edges` for the scope and scale reasoning — the
    starvation signature is precisely a genuine neighbor that is
    attached). Each chosen member proposes all its untried qualifying
    edges at once, so after one turn it is fully attempted against the
    CURRENT attached set and leaves the ranking; members it newly
    attaches can enlarge the target set for the next round, so the
    caller's verify-union-anti-join loop iterates until no qualifying
    untried edge remains — per-round candidate volume stays bounded by
    reps_per_bucket × attached_per_bucket per bucket, never the
    quadratic all-pairs expansion the cap exists to prevent. Returns
    (doc_a, doc_b) candidates for the caller to Jaccard-verify."""
    edges = _star_untried_edges(
        bands, verified, max_bucket_size, attempted=attempted,
        min_shared_bands=min_shared_bands, overcap_bands=overcap_bands,
    )
    return _rescue_slice(edges, reps_per_bucket)[0]


def _rescue_slice(edges: DataFrame, reps_per_bucket: int) -> tuple[DataFrame, DataFrame]:
    """One rescue round over :func:`_star_untried_edges` rows: the
    ``reps_per_bucket`` smallest eligible members of each bucket propose
    all their untried edges. Returns the (doc_a, doc_b) candidates and
    the per-bucket member lists ``(band, band_sig, __ms)``, from which a
    scoped caller reads the buckets that overflowed the bound."""
    ms = edges.groupBy("band", "band_sig").agg(
        F.array_sort(F.collect_set("__m")).alias("__ms")
    )
    chosen = ms.select(
        "band", "band_sig", F.explode(F.slice("__ms", 1, reps_per_bucket)).alias("__m")
    )
    cands = (
        edges.join(chosen, ["band", "band_sig", "__m"], "left_semi")
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cands, ms


def near_duplicates(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_perms: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    oversize_policy: str = "drop",
    star_repair_hops: int = 0,
    star_rescue_reps: int = 0,
    star_rescue_min_bands: int = 1,
    repair_stats: dict | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: shingle → signature → bands →
    candidates → exact-Jaccard filter ≥ threshold.

    ``repair_stats`` (optional dict) is filled with
    ``{"hops_run": k, "converged": bool}`` after the repair loop — the
    observability hook the sf10 scaling runs record the auto-hops count
    through (a converged run reports how many hops it actually needed).
    With ``star_rescue_reps`` it additionally carries
    ``{"rescue_rounds": n, "rescue_converged": bool}``.

    ``star_rescue_reps`` (star policy only) runs the promotion-starvation
    rescue AFTER the hop loop: unattached over-cap bucket members that
    still have an untried qualifying edge to an ATTACHED co-bucket
    member — members the hop loop's smallest-id ranking never promoted
    because stalled strangers monopolized its slots
    (:func:`star_rescue_pairs`) — propose those edges,
    ``star_rescue_reps`` members per bucket per round, iterated until no
    qualifying untried edge remains. ``star_rescue_min_bands`` is the
    deterministic band-agreement prefilter (identical on the incremental
    index's reconcile, so keep-list equality holds at any shared
    setting — see :func:`_star_untried_edges`). The default of 1
    deliberately optimizes EXACTNESS (no qualifying edge is ever
    prefiltered away, keep-list equality 0 rows at sf10); **2 is the
    100 TB setting** — it cuts ~32-34% of maintenance wall for ~0.01%
    of attachments (floor sweep, SCALING.md), and the floor is part of
    the reconcile watermark fingerprint so retuning is always safe. With
    this on (and converged hops) the keep list converges to the same
    attachment set as the index's drained reconcile (the r9 74-row
    divergence → 0; SCALING.md round-10 block). Total extra verification
    is one Jaccard per stranded-member × attached-member qualifying
    edge — starvation-population scale, never the quadratic all-pairs
    the cap fences.

    ``star_repair_hops`` (only meaningful with ``oversize_policy="star"``
    and a ``max_bucket_size``) runs up to that many
    :func:`star_second_hop_pairs` repair passes after the first
    verification: each hop re-stars the still-unattached members of
    over-cap buckets around a new representative and verifies those
    edges, recovering chain-cluster members whose Jaccard to the first
    representative fell below threshold (the measured 0.5% recall gap at
    sf10). Each hop costs one pass over the over-cap buckets plus
    verification of the fresh candidates only. Pass a NEGATIVE value to
    repair until converged (no fresh candidates — full keep-list parity
    with the uncapped run at sf10 took 6 hops, 2.4× cheaper than
    uncapped; SCALING.md "Star-repair hops").

    ``max_bucket_size`` / ``oversize_policy`` reach
    :func:`lsh_candidate_pairs` — the operational guard for pathological
    boilerplate buckets (one wide bucket row AQE cannot split at 100 TB):
    buckets above the cap are dropped, or star-reduced to linear
    representative edges with ``oversize_policy="star"`` (see there for
    the measured trade). ``None`` keeps every bucket.

    Candidate generation runs on the zero-shuffle
    :func:`minhash_signatures_doc` path (never touches the shingle
    relation). The exact-Jaccard stage shingles ONLY candidate documents:
    a semi-join restricts the corpus to LSH survivors before the shingle
    explode, so the widest relation scales with the near-dup population,
    not the corpus. The candidate chain is evaluated twice (once for the
    id filter, once for the pairs) — it is a cheap narrow pass, and
    recompute beats persisting it (measured).

    The hop and rescue rounds run in :func:`star_repair`, the loop the
    incremental index's reconcile shares."""
    if star_rescue_reps < 0:
        # the rescue loop runs on truthiness; a negative bound would
        # reach the rescue slice as an ill-defined F.slice length
        # (same guard as the incremental index's reconcile, r12 ADVICE)
        raise ValueError(
            f"star_rescue_reps must be >= 0 (0 disables the rescue), "
            f"got {star_rescue_reps}"
        )
    sig = minhash_signatures_doc(
        docs, k=k, num_perms=num_perms, text_col=text_col, id_col=id_col
    )
    bands_df = lsh_bands(sig, rows_per_band)
    # LAZY stage: the candidate-pair frame is consumed at least twice
    # (the verify stage's id semi-join + the pair join) and by every
    # hop/rescue round's anti-join — without it each consumer
    # re-evaluates the whole minhash→bands→bucket tower over the corpus
    # (3 full-corpus evaluations in the r11 near_duplicates plan; guide
    # §1.2 "don't compute things twice"). Lazy (eager=False) so plan
    # CONSTRUCTION stays action-free — the frame materializes inside the
    # first action and later consumers (including connected-components
    # rounds downstream) reuse it. The frame is near-dup-population
    # sized, not corpus sized. Measured 2.8 → 2.2 s on the sf0.1 bench
    # query (plans/r12/near_duplicates_{before,after}.txt).
    cands = stage(
        lsh_candidate_pairs(
            bands_df,
            max_bucket_size=max_bucket_size,
            oversize_policy=oversize_policy,
        ),
        eager=False,
    )
    verified = _verify_candidates(
        docs, cands, k=k, threshold=threshold, text_col=text_col, id_col=id_col
    )
    if max_bucket_size is None or oversize_policy != "star":
        return verified
    return star_repair(
        docs, bands_df, verified, cands, max_bucket_size, k=k,
        threshold=threshold, text_col=text_col, id_col=id_col,
        hops=star_repair_hops, rescue_reps=star_rescue_reps,
        rescue_min_bands=star_rescue_min_bands, stats=repair_stats,
    )[0]


def star_repair(
    docs: DataFrame,
    bands: DataFrame,
    verified: DataFrame,
    tried: DataFrame,
    max_bucket_size: int,
    k: int,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    hops: int = 0,
    reps_per_hop: int = 8,
    rescue_reps: int = 0,
    rescue_min_bands: int = 1,
    known: DataFrame | None = None,
    failed: DataFrame | None = None,
    scope: DataFrame | None = None,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The star-policy repair loop shared by :func:`near_duplicates` and
    the incremental index's reconcile: up to ``hops`` rounds of
    :func:`star_second_hop_pairs` (negative = until no fresh candidate),
    then, with ``rescue_reps``, rescue rounds (:func:`star_rescue_pairs`)
    until no qualifying untried edge remains. Every round stages the
    verified set and its candidates, stops on an empty candidate set,
    exact-Jaccard verifies the rest against ``docs`` and unions them into
    the verified and attempted sets, so failed edges are never retried.

    ``verified`` (doc_a, doc_b, jaccard) and ``tried`` (doc_a, doc_b) are
    this run's verified pairs and candidates so far. The incremental
    caller seeds what earlier runs established: ``known`` pairs count as
    attached and as attempted, ``failed`` pairs as attempted only, and
    ``scope`` (band, band_sig) restricts the hop rounds and the rescue's
    eligible members to its active buckets. In scoped mode each rescue
    round's next scope is every over-cap bucket touching a newly verified
    pair plus the buckets whose member slice overflowed ``rescue_reps``
    (see :func:`_star_untried_edges` for why the pair enumeration itself
    stays unscoped). Returns ``(verified, tried)`` with every round's
    pairs and candidates added; ``stats`` receives ``hops_run`` /
    ``converged`` and ``rescue_rounds`` / ``rescue_converged``.

    The loop-static inputs — the over-cap band rows and the attempted
    union — are staged at the first productive round of a loop that can
    run another round, so later rounds reuse them while a single-round
    run (the common 1-hop setting) never pays the checkpoint (measured at
    sf0.1: the eager version cost the 1-hop bench query ~2 s in pure
    job-scheduling overhead; r11: the converged sf10 hop loop otherwise
    re-derived the full-corpus band table 6×)."""
    attempted = tried
    for seed in (known, failed):
        if seed is not None:
            attempted = attempted.unionByName(seed)
    overcap, active = None, scope  # the rescue rounds move `scope`

    def in_scope(df: DataFrame) -> DataFrame:
        if active is None:
            return df
        return df.join(active, ["band", "band_sig"], "left_semi")

    # hops < 0 and the rescue repeat until converged; each round shrinks
    # the finite untried edge set, so the loop bound is never reached
    loops = ((False, hops if hops >= 0 else 1_000_000),
             (True, 1_000_000 if rescue_reps else 0))
    for rescue, limit in loops:
        if not limit:
            continue
        done, converged = 0, False
        for _ in range(limit):
            # stage: the round reads `verified` twice (id set + union) and
            # the loop would otherwise stack the verify pipeline per round
            verified = stage(verified)
            pairs = verified
            if known is not None:
                pairs = stage(verified.select("doc_a", "doc_b").unionByName(known))
            if not rescue:
                cands = star_second_hop_pairs(
                    in_scope(bands), pairs, max_bucket_size,
                    attempted=attempted, reps_per_hop=reps_per_hop,
                    overcap_bands=None if overcap is None else in_scope(overcap),
                )
            else:
                edges = _star_untried_edges(
                    bands, pairs, max_bucket_size, attempted=attempted,
                    min_shared_bands=rescue_min_bands, member_buckets=scope,
                    overcap_bands=overcap,
                )
                if scope is not None:
                    # read again for the next round's overflow scope
                    edges = stage(edges)
                cands, ms = _rescue_slice(edges, rescue_reps)
            cands = stage(cands)
            if not cands.head(1):
                converged = True
                break
            if done == 0 and limit > 1:
                if overcap is None:
                    overcap = stage(_overcap_band_rows(bands, max_bucket_size))
                attempted = stage(attempted)
            done += 1
            v = _verify_candidates(
                docs, cands, k=k, threshold=threshold, text_col=text_col,
                id_col=id_col,
            )
            if rescue and scope is not None:
                # each round's attachments can create qualifying targets
                # anywhere their members sit, watermark-covered buckets
                # included: those buckets plus the overflowed slices are
                # the next round's scope
                v = stage(v)
                touched = overcap.join(
                    v.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")),
                    "doc_id", "left_semi",
                ).select("band", "band_sig")
                overflow = ms.where(F.size("__ms") > rescue_reps)
                scope = stage(
                    touched.unionByName(overflow.select("band", "band_sig")).distinct()
                )
            verified = verified.unionByName(v)
            tried = tried.unionByName(cands)
            attempted = attempted.unionByName(cands)
        if stats is not None:
            keys = ("rescue_rounds", "rescue_converged") if rescue else ("hops_run", "converged")
            stats.update(zip(keys, (done, converged)))
    return verified, tried


def distinct_shingle_arrays(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, sharr ARRAY<STRING>) — each document's DISTINCT word
    k-gram shingles as ONE array row, built by a pure narrow projection
    (tokenize → k-gram strings → array_distinct). Documents with fewer
    than k words are absent — identical presence semantics to the
    exploded :func:`word_shingles` relation (whose empty explode drops
    the row), so inner joins against either form keep the same pairs.

    This is the array-form twin of :func:`word_shingles` for consumers
    that compare WHOLE shingle sets per document pair (exact-Jaccard
    verification): set intersection becomes a per-row ``array_intersect``
    after two doc-keyed equi-joins, instead of a shingle-level join whose
    shuffle carries |pairs| x |shingles-per-doc| exploded rows. Row width
    is bounded by the document's own distinct-shingle count (~ the text
    column itself x small constant), so rows stay within normal limits
    wherever the raw text row did.

    Every non-cheap intermediate (word array, raw shingle array) is
    staged as a bound attribute through its own select boundary: inlined,
    the k-gram lambda's ``element_at(words, ...)`` re-runs the regexp
    tokenization per element (O(words²) — the _dsir_features re-inline
    trap) and the presence filter re-evaluates the whole chain (measured
    22.7 s → 0.6 s for this frame over the sf0.1 corpus, r12). The
    ``size(words) >= k`` pre-filter is exactly the absence rule: k or
    more words ⟺ at least one shingle."""
    d = docs.select(
        F.col(id_col).alias("doc_id"), words_expr(text_col).alias("__w")
    ).where(F.size("__w") >= k)
    d = d.select("doc_id", shingle_strings(F.col("__w"), k).alias("__sh0"))
    return d.select("doc_id", F.array_distinct("__sh0").alias("sharr"))


def jaccard_for_pairs_arrays(arrays: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for (doc_a, doc_b) pairs over the
    array-form shingle frame (:func:`distinct_shingle_arrays`): two
    doc-keyed equi-joins attach each side's array, then one
    ``array_intersect`` per pair computes the overlap — no shingle-level
    shuffle, no per-pair aggregation (guide §2.3/§2.4: the r11 shape
    shuffled |pairs| x |shingles-of-doc_a| exploded rows into the
    (doc_b, shingle) join and paid a (doc_a, doc_b) groupBy on top;
    measured 2.2x on near_duplicates at sf0.1). Pairs whose doc is
    absent from ``arrays`` (fewer than k words) are dropped by the inner
    joins; pairs with no shared shingle get jaccard 0.0.

    The intersection size is staged as a real attribute through a select
    boundary so the jaccard expression references it twice without
    re-evaluating ``array_intersect`` (CollapseProject keeps non-cheap,
    multiply-referenced expressions staged — same trap as
    training._dsir_features)."""
    a = arrays.select(F.col("doc_id").alias("doc_a"), F.col("sharr").alias("__sa"))
    b = arrays.select(F.col("doc_id").alias("doc_b"), F.col("sharr").alias("__sb"))
    staged = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("__ni"),
            F.size("__sa").alias("__na"),
            F.size("__sb").alias("__nb"),
        )
    )
    return staged.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("__ni") / (F.col("__na") + F.col("__nb") - F.col("__ni")), 8
        ).alias("jaccard"),
    )


def _verify_candidates(
    docs: DataFrame,
    cands: DataFrame,
    k: int,
    threshold: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: shingle ONLY the
    candidate documents (semi-join), attach each side's distinct-shingle
    array, and filter at the threshold (array route —
    :func:`jaccard_for_pairs_arrays`)."""
    cand_ids = cands.select(
        F.explode(F.array("doc_a", "doc_b")).alias("__cand_id")
    ).distinct()
    cand_docs = docs.join(
        cand_ids, on=docs[id_col] == cand_ids["__cand_id"], how="left_semi"
    )
    # Repartition BEFORE the shingle-array projection: AQE coalesces the
    # semi-join output by its pre-projection byte size, but building the
    # distinct-shingle array multiplies the work ~word-count×, so the
    # array-consuming stages otherwise run in a handful of tasks (measured
    # at the sf1 slice on the exploded form: 2-8 tasks, 293 s stage wall;
    # with this exchange 27-30 s — event-log numbers in SCALING.md
    # "Oversize buckets"). One narrow exchange of only the candidate
    # texts, bounded by the near-dup survivor population.
    n_part = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cand_docs = cand_docs.repartition(n_part, id_col)
    arrays = distinct_shingle_arrays(
        cand_docs, k=k, text_col=text_col, id_col=id_col
    )
    return jaccard_for_pairs_arrays(arrays, cands).where(
        F.col("jaccard") >= threshold
    )


def simhash(
    docs: DataFrame,
    bits: int = 31,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash fingerprint: per bit position b, sum(±1) over the document's
    distinct shingle hashes by the b-th bit; fingerprint bit b = 1 iff the
    sum > 0. Near-dup docs differ in O(1) bits (compare via
    :func:`hamming_distance`).

    Built on the 31-bit affine shingle hashes (:func:`shingle_hash_frame`)
    — no shingle strings, no md5 per shingle, and the shingle DISTINCT is a
    per-row ``array_distinct`` instead of a relation-wide shuffle. The only
    shuffle is the per-doc bit-sum aggregation, which combines map-side
    (shuffle volume = docs × bits partials, independent of document
    length). The wide-aggregate shape beats a per-element array fold ~2×
    (measured: codegen'd sum aggregates vs 32-wide zip_with per shingle)."""
    if bits > 31:
        raise ValueError("bits > 31 exceeds the 31-bit shingle hash")
    hv = shingle_hash_frame(docs, k=k, text_col=text_col, id_col=id_col).select(
        "doc_id", F.explode(F.array_distinct("shv")).alias("hv")
    )
    bitsums = [
        F.sum(F.expr(f"(shiftright(hv, {b}) & 1) * 2 - 1")).alias(f"b{b}")
        for b in range(bits)
    ]
    wide = hv.groupBy("doc_id").agg(*bitsums)
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return wide.select("doc_id", fingerprint.alias("simhash"))


def hamming_distance(a, b):
    """Hamming distance between two simhash longs (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Near-dup clusters → keep list (the end state of a dedup pass)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) for every node of the near-dup pair graph, where
    ``component`` is the minimum member id.

    Scale-adaptive: surviving near-dup edge sets are usually FAR smaller
    than the corpus (the whole point of dedup), and each distributed
    round costs a fixed multi-job overhead that dwarfs the work at that
    size. Up to ``driver_threshold`` edges the components come from a
    driver-side union-find on the collected edge list — one job. Above
    the threshold, or with ``driver_threshold=0``, the alternating
    large-star/small-star iteration runs (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): star contraction
    halves path lengths every alternation, so it converges in O(log n)
    rounds on ANY topology — a D-node chain does not need D rounds. Per
    round, two shuffles:

    - **large-star**: every node's strictly-larger neighbors re-point to
      the minimum of its closed neighborhood — one groupBy(min) + one
      join over the symmetric edge view;
    - **small-star**: every node and its smaller neighbors re-point to
      the smallest of them — one groupBy(min) + one join over the
      (larger → smaller)-directed edge list that large-star guarantees.

    The fixpoint is a star forest: each non-root points directly at its
    component minimum. Each round's edges are staged (``stage``): every
    round's frame references the previous one, so an unbroken lineage
    doubles the logical plan per iteration. Raises ``RuntimeError`` when
    ``max_iter`` rounds end before the fixpoint — a partial labelling
    would silently split components.

    The threshold probe must not evaluate the (possibly expensive)
    upstream twice: the pair frame is persisted and the probe is ONE
    ``count()`` over it (r13, guide §1.2 — the previous
    ``limit(threshold+1).collect()`` ran Spark's incremental
    scale-up-factor job ladder, several driver job rounds whose gaps
    dominate at bench scale). The count fully materializes the cache,
    which every continuation needs anyway: the small path re-reads it
    with one cached ``collect()``, the distributed path with the
    oriented edge checkpoint."""
    from pyspark.storagelevel import StorageLevel

    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))

    e_probe = None
    if driver_threshold:
        e_probe = e.persist(StorageLevel.MEMORY_AND_DISK)
        if e_probe.count() <= driver_threshold:
            head = e_probe.collect()
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in head:
                ra, rb = find(r.a), find(r.b)
                if ra != rb:
                    # union by min so the representative IS the min id
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            nodes = {x for r in head for x in (r.a, r.b)}
            rows = [(n, find(n)) for n in sorted(nodes)]
            schema = e.schema["a"].dataType
            e_probe.unpersist()
            return pairs.sparkSession.createDataFrame(
                rows, f"node {schema.simpleString()}, component {schema.simpleString()}"
            )
        e = e_probe

    # orient larger → smaller; the invariant v < u holds from here on
    edges = stage(
        e.where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )
    if e_probe is not None:
        e_probe.unpersist()
    n_edges = edges.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        lmins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(lmins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(lmins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        small = stage(small)
        n_small = small.count()
        if n_small == n_edges and small.exceptAll(edges).isEmpty():
            n_edges = 0
        edges, n_edges = small, n_edges and n_small
    if n_edges:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} rounds"
        )
    members = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        edges.select(F.col("v").alias("node"))
        .distinct()
        .join(edges.select(F.col("u").alias("node")), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return members.unionByName(roots)


def keep_labels(
    ids: DataFrame, pairs: DataFrame | None, quality: DataFrame | None = None
) -> DataFrame:
    """The keep-list labeler under every near-dup keep list, batch and
    incremental: ``ids`` (doc_id) lists every document once, ``pairs``
    (doc_a, doc_b) are its verified near-dup pairs (``None`` = none).
    Returns (doc_id, canonical_id, is_kept): clusters are the connected
    components of the pairs, ``canonical_id`` is the cluster's minimum
    member (the stable cluster key), untouched documents keep themselves.

    With ``quality`` (doc_id, __q) the output gains ``kept_id`` and the
    kept member is the cluster's highest-quality member, doc-id ascending
    as the tie-break. Members with no quality row or a null score rank
    below every scored member (quality −∞); a document with several
    quality rows scores as their max. The argmax runs over cluster
    MEMBERS only (r12): an untouched document is its own singleton, its
    kept_id forced, so the aggregate moves member rows, never the
    corpus. kept_id is attached to the member-sized component relation
    first and the corpus is then labelled with ONE join (r13, guide
    §2.4) — cluster ids are min MEMBER ids, so they never collide with a
    doc id outside the components."""
    if pairs is None:
        canonical, kept, out = F.col("doc_id"), F.col("doc_id"), ids
    else:
        comp = connected_components(pairs)
        if quality is not None:
            inf = F.lit(float("inf"))
            nq = F.coalesce(-F.col("__q").cast("double"), inf)
            best = (
                quality.join(comp, F.col("doc_id") == F.col("node"))
                .groupBy("component")
                .agg(F.min(F.struct(nq.alias("nq"), F.col("node").alias("d"))).alias("__b"))
                .select(
                    F.col("component").alias("__bc"),
                    F.when(F.col("__b.nq") < inf, F.col("__b.d")).alias("kept_id"),
                )
            )
            # a cluster with no scored member keeps its min id, like the
            # members that have no quality row at all (not in the join)
            comp = comp.join(best, F.col("component") == F.col("__bc"), "left").select(
                "node", "component", F.coalesce("kept_id", "component").alias("kept_id")
            )
        out = ids.join(comp, F.col("doc_id") == F.col("node"), "left")
        canonical = F.coalesce(F.col("component"), F.col("doc_id"))
        kept = F.coalesce(F.col("kept_id"), F.col("doc_id")) if quality is not None else canonical
    cols = [F.col("doc_id"), canonical.alias("canonical_id"), (F.col("doc_id") == kept).alias("is_kept")]
    if quality is not None:
        cols.append(kept.alias("kept_id"))
    return out.select(*cols)


def near_dup_keep_list(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_perms: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    oversize_policy: str = "drop",
    star_repair_hops: int = 0,
    star_rescue_reps: int = 0,
    star_rescue_min_bands: int = 1,
    repair_stats: dict | None = None,
) -> DataFrame:
    """The dedup pass's end product: (doc_id, canonical_id, is_kept) for
    EVERY document — near-duplicate clusters (MinHash-LSH candidates,
    exact-Jaccard verification, connected components over the surviving
    pairs) collapse to their minimum-id member; untouched documents keep
    themselves. Filter ``is_kept`` to materialize the deduplicated
    corpus; group by ``canonical_id`` to audit cluster sizes.
    ``max_bucket_size`` passes through to :func:`lsh_candidate_pairs`;
    with the default ``oversize_policy="drop"`` members of dropped
    over-cap boilerplate buckets (absent other surviving pairs) keep
    themselves, while ``"star"`` keeps collapsing them through linear
    representative edges (the 100 TB setting when giant buckets are real
    near-dup clusters — measured trade in SCALING.md)."""
    pairs = near_duplicates(
        docs,
        threshold=threshold,
        k=k,
        num_perms=num_perms,
        rows_per_band=rows_per_band,
        text_col=text_col,
        id_col=id_col,
        max_bucket_size=max_bucket_size,
        oversize_policy=oversize_policy,
        star_repair_hops=star_repair_hops,
        star_rescue_reps=star_rescue_reps,
        star_rescue_min_bands=star_rescue_min_bands,
        repair_stats=repair_stats,
    )
    return keep_labels(docs.select(F.col(id_col).alias("doc_id")), pairs)


def near_dup_keep_best(
    docs: DataFrame,
    quality_col: str,
    threshold: float = 0.8,
    k: int = 3,
    num_perms: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    oversize_policy: str = "drop",
    star_repair_hops: int = 0,
    star_rescue_reps: int = 0,
    star_rescue_min_bands: int = 1,
    repair_stats: dict | None = None,
) -> DataFrame:
    """Quality-aware near-dup keep list (the FineWeb/DataComp refinement
    of min-id dedup): clusters still form exactly as in
    :func:`near_dup_keep_list` (``canonical_id`` stays the minimum-id
    member, the stable CLUSTER key), but the kept representative is the
    member with the highest ``quality_col`` value, doc-id ascending as
    the tie-break; members with a null score rank last. Min-id keep
    discards high-quality copies in favor of whichever duplicate
    happened to get the smallest id; at pretraining scale the kept copy
    is the one the model sees, so keep the best. Output: (doc_id,
    canonical_id, is_kept, kept_id) — ``kept_id`` is the chosen
    representative for the doc's cluster (equal to doc_id for untouched
    docs).

    One extra shuffle over the min-id variant: an argmax-by-struct
    aggregate per component (map-side combined, volume = cluster
    members), no window sort (:func:`keep_labels`)."""
    pairs = near_duplicates(
        docs,
        threshold=threshold,
        k=k,
        num_perms=num_perms,
        rows_per_band=rows_per_band,
        text_col=text_col,
        id_col=id_col,
        max_bucket_size=max_bucket_size,
        oversize_policy=oversize_policy,
        star_repair_hops=star_repair_hops,
        star_rescue_reps=star_rescue_reps,
        star_rescue_min_bands=star_rescue_min_bands,
        repair_stats=repair_stats,
    )
    quality = docs.select(F.col(id_col).alias("doc_id"), F.col(quality_col).alias("__q"))
    return keep_labels(docs.select(F.col(id_col).alias("doc_id")), pairs, quality)


# ---------------------------------------------------------------------------
# Cross-document paragraph dedup (C4 / MassiveText-style)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    docs: DataFrame,
    sep: str = "\n\n",
    min_chars: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide exact paragraph dedup (the C4/MassiveText recipe that
    complements document-level dedup): split every document on ``sep``,
    keep each distinct trimmed paragraph only at its FIRST occurrence —
    deterministically min(doc_id, paragraph position) — and reassemble
    documents from their surviving paragraphs in original order.

    Paragraphs shorter than ``min_chars`` after trimming are never
    treated as duplicates (boilerplate-level fragments like list bullets
    stay put); empty paragraphs are dropped from the reassembly like the
    split artifacts they are.

    Output: (doc_id, text, n_paragraphs, n_kept) — documents whose every
    paragraph was a duplicate come back with empty text and n_kept = 0,
    so the caller can filter or audit.

    Scale: one explode (narrow), one groupBy on the paragraph hash with a
    map-side-combining min(struct) — shuffle volume is one small struct
    per DISTINCT paragraph per partition, never the paragraph text — one
    min-struct semi-side join back on the hash, and one per-doc
    reassembly groupBy. No driver-side state."""
    paras = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("pos", "para"),
        )
        .withColumn("para", F.trim("para"))
        .where(F.length("para") > 0)
    )
    dedupable = paras.where(F.length("para") >= min_chars)
    winners = dedupable.select(
        F.md5(F.col("para")).alias("h"),
        F.struct(F.col("doc_id"), F.col("pos")).alias("o"),
    ).groupBy("h").agg(F.min("o").alias("w"))
    tagged = paras.join(
        winners,
        F.md5(F.col("para")) == F.col("h"),
        "left",
    ).where(
        (F.length("para") < min_chars)
        | ((F.col("w.doc_id") == F.col("doc_id")) & (F.col("w.pos") == F.col("pos")))
    )
    return (
        paras.groupBy("doc_id")
        .agg(F.count("*").alias("n_paragraphs"))
        .join(
            tagged.groupBy("doc_id").agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("pos"), F.col("para")))
                        ),
                        lambda s: s["para"],
                    ),
                    sep,
                ).alias("text"),
                F.count("*").alias("n_kept"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_paragraphs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def repeated_kgram_spans(
    docs: DataFrame,
    k: int = 50,
    stride: int | None = None,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication spans (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" family,
    re-expressed for distribution): every ``stride``-aligned ``k``-char
    window whose content occurs ≥ ``min_count`` times anywhere in the
    corpus (other documents OR elsewhere in the same one) marks its
    characters duplicated; overlapping/adjacent marked windows merge
    into maximal (doc_id, span_start, span_end) rows, end exclusive.

    Recall contract (weaker than the suffix-array method): windows are
    taken only at per-document stride-aligned offsets, so two
    occurrences of a repeated substring are detected only when they
    share window alignment — i.e. their offsets are congruent mod
    ``stride`` (always true for exact whole-document duplicates and for
    any repeat whose copies start at offsets o1 ≡ o2 (mod stride)).
    Occurrences at incommensurate offsets generically share no gram and
    are missed. ``stride=1`` restores the full alignment-free guarantee
    (any repeat of length ≥ k is caught) at k× the exploded volume —
    the high-recall setting; the default ``stride = k // 2`` is the
    throughput setting. Lee et al.'s suffix array has the unconditional
    guarantee only because suffixes exist at every offset.

    Scale shape: windows hash to md5 BEFORE the shuffle (constant-width
    keys — and the DuckDB oracle reproduces them bit-for-bit, which no
    engine-native hash would allow); duplicate detection is one count
    window over the gram key (no join-back); span merging shuffles ONLY
    the duplicated positions on doc_id — corpus text never shuffles.
    ~2/k rows per character keeps the exploded frame a bounded multiple
    of the corpus."""
    from pyspark.sql import Window

    stride = stride or max(1, k // 2)
    text = F.col(text_col)
    npos = F.when(
        F.length(text) >= k, ((F.length(text) - k) / stride).cast("int") + 1
    ).otherwise(F.lit(0))
    staged = docs.select(F.col(id_col).alias("doc_id"), text.alias("__t"), npos.alias("__n"))
    exploded = staged.select(
        "doc_id",
        F.explode(
            F.when(
                F.col("__n") > 0,
                F.transform(
                    F.sequence(F.lit(0), F.col("__n") - 1),
                    lambda i: F.struct(
                        (i * stride).alias("pos"),
                        F.md5(F.substring(F.col("__t"), i * stride + 1, k)).alias("g"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.g").alias("g"))
    dup = (
        exploded.withColumn("__c", F.count("*").over(Window.partitionBy("g")))
        .where(F.col("__c") >= min_count)
        .select("doc_id", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    marked = dup.select("doc_id", "pos", F.lag("pos").over(w_doc).alias("__prev"))
    islands = marked.select(
        "doc_id",
        "pos",
        F.sum(
            F.when(
                F.col("__prev").isNull() | (F.col("pos") > F.col("__prev") + k), 1
            ).otherwise(0)
        )
        .over(w_doc)
        .alias("__isl"),
    )
    return (
        islands.groupBy("doc_id", "__isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )
