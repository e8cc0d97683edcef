"""Deduplication operators for the documents table.

LLM-training-data dedup family: exact, n-gram Jaccard, MinHash+LSH,
SimHash. Designed scale-first:

- Exact dedup is a hash groupBy on the fingerprint — one shuffle whose
  key is 32 bytes regardless of document size.
- Jaccard candidates come from an inverted shingle index (explode +
  self-join on shingle), NEVER a document cross join. Hot shingles are
  the skew risk at 100 TB — ``max_shingle_freq`` drops shingles shared by
  too many docs (they contribute candidates, not discrimination), which
  is both a perf guard and the standard LSH-banding trick's cousin.
- MinHash signatures compress each doc to k ints, computed ROW-LOCALLY
  from the doc's own shingle array (no corpus explode, no shuffle);
  banding buckets are the only join key. Pairs are verified with exact
  Jaccard afterwards, so LSH only affects recall, never precision.
- Every hash is mode-selectable (``hash64``): xxhash64 in production
  (5-10x cheaper per call — the dominant CPU term at 100 TB), md5 for
  oracle runs (byte-identical in DuckDB, enabling hash-verification).
- SimHash packs a doc into one 64-bit int; near-dup candidates come from
  multi-block key equality with guaranteed recall at the requested
  hamming radius (pigeonhole over max_hamming + r_exact blocks).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ecom_etl_proj_spark.functions import text as X

# MinHash sketch shape: BANDS bands of ROWS_PER_BAND one-permutation
# bins over md5-derived shingle hashes (see dedup_minhash_lsh).
MINHASH_BANDS = 16
MINHASH_ROWS = 4
# Buckets larger than this expand as star+chain edges against the
# bucket representative instead of all i<j pairs (see dedup_minhash_lsh).
MINHASH_MAX_BUCKET = 256
# Shingles shared by more docs than this carry ~zero Jaccard information
# but quadratic join cost — dropped before the inverted-index self-join
# (standard hot-shingle/document-frequency cap).
NGRAM_MAX_SHINGLE_FREQ = 128
# Component graphs with at most this many deduped edges (and as many
# self-pair singles) are solved on the driver (see connected_components).
CC_LOCAL_MAX_EDGES = 100_000


def md5_60(col) -> F.Column:
    """Cross-engine 60-bit hash: first 15 hex chars of md5, as a long.

    Both Spark and DuckDB md5 the UTF-8 bytes to the same 32-char hex
    string, so ``conv(substring(md5(x), 1, 15), 16, 10)`` here equals
    ``CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)`` there —
    value-identical hashes in both engines, which is what lets the LSH
    family carry full DuckDB oracles instead of rows-only checks.
    15 hex digits = 60 bits, always positive in a signed 64-bit long.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash64(col, hash_mode: str = "xxhash64") -> F.Column:
    """Token/shingle hash for the dedup/LSH family, mode-selectable.

    ``xxhash64`` (default): the PRODUCTION hash. At 100 TB the shingle
    expansion is the dominant row volume of the whole dedup family, and
    xxhash64 is a non-cryptographic few-ns hash evaluated JVM-side,
    roughly 5-10x cheaper per call than md5 (which must produce a full
    cryptographic digest and here also pays a hex decode) — a real CPU
    constant factor on every corpus scan, bought for nothing, since
    dedup needs dispersion, not cryptographic strength.

    ``md5``: the ORACLE hash (``md5_60``) — byte-identical in DuckDB,
    which is what lets the driver rebuild the exact candidate sets and
    hash-verify the family end to end. Registry entries pin this mode;
    production callers should leave the default. Both modes share every
    downstream plan shape — only the hash constant factor differs —
    and are A/B tested for identical verified-pair output in
    tests/test_operators.py.
    """
    if hash_mode == "md5":
        return md5_60(col)
    if hash_mode == "xxhash64":
        return F.xxhash64(col)
    raise ValueError(f"unknown hash_mode {hash_mode!r}; use 'xxhash64' or 'md5'")


def dedup_exact(t: dict[str, DataFrame]) -> DataFrame:
    """Exact dedup: group by canonical fingerprint, keep min doc_id."""
    d = t["documents"].select("doc_id", X.fingerprint().alias("fingerprint"))
    return d.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
    )


def _doc_shingles(
    t: dict[str, DataFrame], n: int = 3, max_shingle_freq: int | None = None
) -> DataFrame:
    """(doc_id, shingle) exploded inverted index, optionally de-skewed."""
    sh = (
        t["documents"]
        .select("doc_id", F.explode(X.word_shingles(n)).alias("shingle"))
    )
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .count()
            .filter(F.col("count") > max_shingle_freq)
            .select("shingle")
        )
        # No broadcast hint: the hot-shingle list is usually tiny but is
        # NOT bounded (a web corpus can have 1e8 shingles over the cap);
        # AQE broadcasts it when it is actually small. The anti-join
        # shuffles sh on shingle — the same key the downstream self-join
        # uses, so the exchange is reused, not added.
        sh = sh.join(hot, "shingle", "left_anti")
    return sh


def dedup_ngram_jaccard(
    t: dict[str, DataFrame],
    n: int = 3,
    threshold: float = 0.1,
    max_shingle_freq: int | None = NGRAM_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """n-gram Jaccard similarity pairs above a threshold, over the
    document-frequency-capped shingle space.

    Inverted-index pair generation: docs only meet if they share at least
    one shingle, so the join fan-out is bounded by shingle co-occurrence
    instead of |docs|^2. That bound is worthless under skew: ONE
    boilerplate shingle shared by m docs contributes m^2 rows through a
    single join key — at web scale a "the end of" trigram with 1e6+ docs
    means 1e12 rows through one partition. ``max_shingle_freq`` drops
    shingles with document frequency above the cap BEFORE the self-join
    (a df>cap shingle carries ~zero Jaccard information), making the
    worst-case fan-out cap^2 per shingle. Jaccard is then computed over
    the CAPPED shingle space (sizes count kept shingles only) — the cap
    is part of the operator's semantics and is mirrored in the DuckDB
    oracle. Precision-critical use at scale should route through
    dedup_minhash_lsh, which has the banded bounded path.
    """
    sh = _doc_shingles(t, n, max_shingle_freq)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_containment(
    t: dict[str, DataFrame],
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = NGRAM_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle CONTAINMENT
    ``|A∩B| / |A|`` — the fraction of the contained document's
    shingles that also appear in the container.

    Jaccard misses subset duplication by construction: a paragraph
    quoted inside a 100x longer article has jaccard ≈ 1%, containment
    ≈ 100%. Training-data curation needs exactly this detector —
    syndicated excerpts, quoted boilerplate, and doc-in-doc mirrors
    are containment-shaped, not symmetric near-dups (the same reason
    substring dedup exists alongside MinHash; ``doc_dup_spans`` finds
    the spans, this ranks the document pairs).

    Scale shape: identical to ``dedup_ngram_jaccard`` — one df-capped
    inverted-index self-join (cap² worst case per shingle) + one
    bounded pair aggregation; the undirected shared counts are
    computed once and BOTH directions are derived row-locally, so the
    asymmetry costs zero extra shuffles. The df cap is part of the
    semantics (sizes count kept shingles), mirrored in the oracle.

    Output: (contained_doc, container_doc, containment, jaccard) —
    one row per DIRECTED pair with containment >= threshold; the
    jaccard column shows how invisible the pair is to the symmetric
    detector.
    """
    sh = _doc_shingles(t, n, max_shingle_freq)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.round(
        F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4
    )
    both = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
    )
    # Derive the two directions ROW-LOCALLY via a 2-element explode —
    # a unionByName of two selects would plan the whole inverted-index
    # pipeline twice (Catalyst does not merge union branches; the
    # formatted plan showed every join and exchange duplicated), while
    # the explode keeps one pipeline and fans each undirected row into
    # its two directed rows for free.
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("contained_doc"),
                    F.col("doc_b").alias("container_doc"),
                    F.round(F.col("shared") / F.col("n_a"), 4).alias(
                        "containment"
                    ),
                    F.col("jaccard"),
                ),
                F.struct(
                    F.col("doc_b").alias("contained_doc"),
                    F.col("doc_a").alias("container_doc"),
                    F.round(F.col("shared") / F.col("n_b"), 4).alias(
                        "containment"
                    ),
                    F.col("jaccard"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    return directed.filter(F.col("containment") >= threshold)


def contrastive_pairs(
    t: dict[str, DataFrame],
    n: int = 3,
    threshold: float = 0.3,
    n_shards: int = 8,
) -> DataFrame:
    """(anchor, positive, negative) triplet mining for contrastive
    embedding training: positives are verified near-dup pairs
    (``dedup_ngram_jaccard`` above ``threshold``), negatives are
    IN-BATCH — each triplet's negative is the next positive pair's
    member within its shard (wrapping), exactly the in-batch-negatives
    scheme contrastive losses train with, made deterministic: shard =
    first md5 byte of the anchor (the train_val_split hashing
    discipline), order = (anchor, positive) within the shard.

    Scale shape: the pair pipeline's cost is dedup_ngram_jaccard's
    (df-capped inverted index); the negative assignment is one
    lead/first window PARTITIONED BY SHARD — per-shard row counts are
    |positives| / n_shards, and n_shards scales with the corpus, so no
    global single-task window exists. Degenerate triplets (a one-pair
    shard wrapping onto itself, or the negative colliding with either
    member) are dropped — the same filter an in-batch loss applies to
    collisions.

    Output: (anchor, positive, negative, pos_jaccard, shard).
    """
    pos = dedup_ngram_jaccard(t, n=n, threshold=threshold).select(
        F.col("doc_a").alias("anchor"),
        F.col("doc_b").alias("positive"),
        F.col("jaccard").alias("pos_jaccard"),
    )
    shard = F.conv(
        F.substring(F.md5(F.col("anchor").cast("string")), 1, 2), 16, 10
    ).cast("int") % n_shards
    w = Window.partitionBy("shard").orderBy("anchor", "positive")
    w_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = (
        pos.withColumn("shard", shard)
        .withColumn(
            "negative",
            F.coalesce(
                F.lead("positive").over(w),
                F.first("positive").over(w_all),
            ),
        )
    )
    return out.filter(
        (F.col("negative") != F.col("anchor"))
        & (F.col("negative") != F.col("positive"))
    ).select("anchor", "positive", "negative", "pos_jaccard", "shard")


def shingle_sets(t: dict[str, DataFrame], n: int = 3) -> DataFrame:
    """(doc_id, sh array<string>): each doc's distinct shingle set —
    ROW-LOCAL, zero shuffle.

    ``word_shingles`` already emits the per-doc DISTINCT shingle array,
    so the set is a plain projection of the scan. (An earlier
    formulation exploded the array and collect_set'd it back — a
    full-corpus shuffle that rebuilt exactly its own input; at 100 TB
    that exchange moved the entire exploded corpus for nothing.)
    """
    return t["documents"].select("doc_id", X.word_shingles(n).alias("sh"))


def minhash_bands(sets: DataFrame, hash_mode: str = "xxhash64") -> DataFrame:
    """(doc_id, band, bh): one-permutation MinHash band keys, ROW-LOCAL.

    The sketch stage shared by ``dedup_minhash_lsh`` (corpus-wide
    self-dedup) and ``incremental_dedup`` (new-batch-vs-corpus): each
    shingle hash lands in one of BANDS x ROWS bins (h mod bins), each
    bin keeps its minimum, and each band's key is the hash of its
    "slot:min" pairs in fixed slot order. Everything up to the emitted
    (doc_id, band, bh) rows is a single row-local expression over the
    per-doc distinct-shingle array — the corpus is never exploded, so
    the FIRST shuffle any caller pays is its own (band, bh) join or
    groupBy, whose input is at most BANDS bounded rows per doc.

    Band key = hash of the "bin:min" pair string — a bounded shuffle
    key (vs the unbounded concat string). md5 mode is byte-identical in
    DuckDB, so oracles group on the very same keys. Bands that saw no
    shingle emit no row (without the filter, every short doc would
    collide in one giant empty-band bucket).
    """
    n_bins = MINHASH_BANDS * MINHASH_ROWS
    band_key = (
        F.md5 if hash_mode == "md5" else (lambda c: F.xxhash64(c).cast("string"))
    )

    def band_structs(minima):
        """Per-band (band, bh, ne) structs from the bound per-bin-minimum
        struct array (ascending bin order, one entry per NON-EMPTY bin);
        ne = band saw at least one shingle.

        ONE nested lambda over sequence(0, BANDS-1): the band logic is
        generated once and iterated, and each band's pair strings come
        from a bounded (<= 64 entry) range filter of the minima array.
        concat_ws-joined "bin:min" pairs in ascending bin order — the
        exact key bytes of every earlier formulation, so the md5 oracle
        and persisted state tables are unaffected.
        """

        def one_band(band):
            lo = band * MINHASH_ROWS
            hi = lo + MINHASH_ROWS
            elems = F.filter(
                minima, lambda p: (p["bin"] >= lo) & (p["bin"] < hi)
            )
            parts = F.transform(
                elems,
                lambda p: F.concat_ws(
                    ":", p["bin"].cast("string"), p["m"].cast("string")
                ),
            )
            return F.struct(
                band.alias("band"),
                band_key(F.array_join(parts, ",")).alias("bh"),
                (F.size(elems) > 0).alias("ne"),
            )

        return F.filter(
            F.transform(
                F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1)), one_band
            ),
            lambda x: x["ne"],
        )

    def pairs_of(hs):
        """Sorted (bin, hash) struct array from the bound per-doc hash
        array: struct comparison orders by bin then hash, so after the
        sort each bin's minimum is that bin's FIRST entry."""
        return F.array_sort(
            F.transform(
                hs,
                lambda h: F.struct(
                    F.pmod(h, F.lit(n_bins)).alias("bin"), h.alias("m")
                ),
            )
        )

    def minima_of(pairs):
        """First entry per bin of the bound sorted pair array = the
        per-bin minima, ascending bin order, empty bins absent.

        ONE O(|hs|) pass (keep entries whose predecessor has a
        different bin) replacing the previous 64-pass formulation
        (array_min over a per-bin filter for every bin, O(64 x |hs|)
        per doc). Byte-identical band keys — A/B checked exceptAll-
        empty in both hash modes at sf0.01/sf0.1 — equal wall time on
        the short-doc testdata and ~1.4x faster warm at a realistic
        800-word doc length, with the gap growing in |hs|. Cold-run
        attribution (r8, fresh JVM per variant at sf0.1): this form
        ~3.0s cold / 0.6-0.8s warm, identical to the 64-pass form —
        and a third, HOF-free variant (explode -> 64-buffer
        conditional-min HashAggregate -> concat_ws band keys -> stack)
        was also byte-identical but ~8x WORSE warm (5s), so the
        cold-minus-warm gap is first-execution JVM JIT of the
        interpreted higher-order-function eval chain, a fixed per-JVM
        warmup no same-semantics plan shape removes (three shapes
        measured). On a long-lived cluster it amortizes to zero; the
        warm series is the 100 TB predictor.
        """
        return F.filter(
            pairs,
            lambda p, i: (i == F.lit(0))
            | (F.get(pairs, i - 1)["bin"] != p["bin"]),
        )

    # The whole sketch is ONE row-local expression. The single-element
    # array transforms are let-bindings: they force `hs` (the hashed
    # shingle array), `pairs` (the sorted bin/hash structs) and
    # `minima` (the per-bin minima) to be evaluated exactly ONCE per
    # doc and bound as lambda variables — as separate column aliases,
    # Catalyst's project collapse would inline them into all downstream
    # references and recompute the shingle hashing per band.
    hs_expr = F.transform(F.col("sh"), lambda s: hash64(s, hash_mode))
    bands_nested = F.transform(
        F.array(hs_expr),
        lambda hs: F.transform(
            F.array(pairs_of(hs)),
            lambda pairs: F.transform(
                F.array(minima_of(pairs)), band_structs
            ),
        ),
    )
    bands_arr = F.element_at(
        F.element_at(F.element_at(bands_nested, 1), 1), 1
    )
    return sets.select("doc_id", F.explode(bands_arr).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def dedup_minhash_lsh(
    t: dict[str, DataFrame],
    n: int = 3,
    threshold: float = 0.1,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash + banded LSH candidate pairs, verified with exact Jaccard.

    The MinHash variant is ONE-PERMUTATION HASHING (Li/Owen/Zhang, NIPS
    2012): instead of k independent permutations, each shingle hash
    lands in one of k bins (h mod k) and each bin keeps its minimum.
    Bins are grouped into bands; band hash = hash of the bin:min pairs
    in fixed bin order. Same-band-hash docs become candidates —
    candidate count scales with true near-dup density, not |docs|^2.

    The whole sketch is ROW-LOCAL: ``word_shingles`` already yields each
    doc's distinct shingle array, so per-bin minimums are higher-order
    array folds over that array and the 16 band keys are derived in the
    same projection — the corpus is never exploded and the FIRST shuffle
    in the plan is the (band, band-hash) bucket groupBy, whose input is
    16 bounded rows per doc. (The previous shape exploded the corpus
    and shuffled it through a (doc_id, band) aggregation first — fine
    with map-side combine, but a whole extra stage of generated code
    and, at 100 TB, a full corpus re-scan; the row-local form deletes
    that stage and the duplicate explode the verify path used to pay.)

    Candidates are then re-scored with exact Jaccard — but ONLY the
    candidate pairs: the per-doc shingle arrays come straight from the
    scan projection (``shingle_sets``, row-local) and are joined onto
    the pair list, so verification cost is O(candidates), never the
    all-pairs inverted-index join the LSH existed to avoid.

    ``hash_mode``: 'xxhash64' (default) is the production hash — see
    ``hash64`` for the 100 TB CPU rationale; 'md5' makes every hash
    cross-engine reproducible so the DuckDB oracle rebuilds the
    IDENTICAL candidate set (registry pins it). Both modes are
    A/B-tested for identical verified output.

    Cold-latency attribution (r7, tools/profile_lsh.py): of the
    ~2.5-2.8s cold-minus-warm gap at sf0.1, Janino compilation is only
    ~0.5-0.6s and Catalyst analysis+optimization ~0.3s; the rest is
    first-execution JVM JIT of the generated classes and interpreted
    higher-order-function paths. Three plan-shrinking variants were
    measured (r6's HOF band collapse — kept, it halved generated
    source; r7's candidate-semi-join and late-distinct — both reverted,
    neutral-to-worse), and r8 closed the question with two more
    byte-identical reformulations (sorted single-pass minima — adopted
    for its warm win; HOF-free HashAggregate — 8x worse warm): neither
    moved the cold number, and pre-warming the text-column scan does
    not either (measured), so the residue is a fixed per-JVM warmup
    cost — see ``minima_of``. On a long-lived 1000-executor cluster it
    amortizes to zero, which is why the warm series is the 100 TB
    throughput predictor.
    """
    sets = shingle_sets(t, n)
    bands = minhash_bands(sets, hash_mode)
    return _lsh_pairs_from(bands, sets, threshold)


def minhash_recall_audit(
    t: dict[str, DataFrame],
    n: int = 3,
    threshold: float = 0.1,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """LSH-quality audit: how much of the exact near-dup pair set does
    the banded MinHash pipeline recover? The dedup analog of
    ``ann_recall_audit`` — the number a 100 TB dedup run needs BEFORE
    trusting the approximate path with the corpus (band/row settings
    are a recall/cost dial; this is the gauge on the dial).

    Reference set = ``dedup_ngram_jaccard`` (inverted-index exact
    Jaccard >= threshold over the DF-capped shingle space); candidate
    set = ``dedup_minhash_lsh`` (banded OPH candidates, exact-verified
    at the same threshold). recall = |lsh ∩ exact| / |exact|, with the
    intersection counted via an inner join on the ordered pair key —
    NOT by assuming lsh ⊆ exact, because the exact side's document-
    frequency cap can drop hot-shingle pairs that the banding still
    surfaces. Both sides share one text scan each; the three counts
    are 1-row aggregates combined by broadcast (the scalar-broadcast
    pattern), so the audit adds nothing to either pipeline's cost
    shape. At scale this runs on a SAMPLE of the corpus (both inputs
    take the same ``t``, so callers pass a sampled documents frame).

    Output: one row (n_exact_pairs, n_lsh_pairs, n_common_pairs,
    recall), recall NULL when the reference set is empty.
    """
    # localCheckpoint both pair lists (bounded, verified-pair rows):
    # each feeds its own scalar count AND the intersection join, and
    # unmaterialized each full pipeline (inverted-index exact Jaccard /
    # the whole LSH sketch+verify) executed twice
    exact = dedup_ngram_jaccard(t, n=n, threshold=threshold).select(
        "doc_a", "doc_b"
    ).localCheckpoint()
    lsh = dedup_minhash_lsh(
        t, n=n, threshold=threshold, hash_mode=hash_mode
    ).select("doc_a", "doc_b").localCheckpoint()
    ne = exact.agg(F.count("*").cast("bigint").alias("n_exact_pairs"))
    nl = lsh.agg(F.count("*").cast("bigint").alias("n_lsh_pairs"))
    nc = exact.join(lsh, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("bigint").alias("n_common_pairs")
    )
    return (
        ne.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_exact_pairs",
            "n_lsh_pairs",
            "n_common_pairs",
            F.when(
                F.col("n_exact_pairs") > 0,
                F.round(
                    F.col("n_common_pairs") / F.col("n_exact_pairs"), 6
                ),
            ).alias("recall"),
        )
    )


def dedup_minhash_lsh_state(
    spark, prefix: str, threshold: float = 0.1, keep_ids: DataFrame | None = None
) -> DataFrame:
    """Corpus self-dedup from the PERSISTED state tables
    (``build_dedup_state``): identical pair generation and verification
    as ``dedup_minhash_lsh``, but the band keys and shingle sets come
    from the bucketed state instead of being re-derived from the text
    scan. At 100 TB that removes all three corpus text scans the
    in-plan form pays (sketch + both verify sides) — the state tables
    are hashes and shingle arrays, a few percent of corpus bytes, and
    the (band, bh) groupBy reads its key pre-bucketed. Equivalence to
    the in-plan form is pytest-asserted.

    ``keep_ids`` (optional, one ``doc_id`` column): restrict the dedup
    to a SUBSET of the state's corpus — the bands are semi-joined to
    the subset BEFORE bucket expansion, which is exactly LSH over the
    subset corpus (band keys are document-local, so a subset's band
    table IS the full table filtered to its rows). Filtering the full-
    corpus PAIR OUTPUT to subset endpoints instead is NOT equivalent
    once any (band, bh) bucket exceeds ``MINHASH_MAX_BUCKET``: the
    over-cap star+chain expansion anchors edges at the FULL bucket's
    min-id/sorted order, so pairs whose anchor fell outside the subset
    would be dropped while the subset's own (possibly under-cap)
    bucket would have expanded all i<j pairs. Cost of exactness: the
    semi-join shuffles the subset's band rows (bounded hash-only longs,
    BANDS rows per doc) off the (band, bh) bucket layout before the
    bucket groupBy re-shuffles them — two key exchanges over a few
    percent of corpus bytes, no text. The verify side needs NO filter:
    candidates already carry subset-only endpoints, and the inner join
    against the bucketed sets table stays exchange-free on the state
    side."""
    bands = spark.table(f"{prefix}_bands")
    if keep_ids is not None:
        bands = bands.join(keep_ids.select("doc_id"), "doc_id", "left_semi")
    return _lsh_pairs_from(bands, spark.table(f"{prefix}_sets"), threshold)


def _lsh_pairs_from(
    bands: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Banded-bucket pair expansion + exact-Jaccard verification shared
    by the in-plan and persisted-state LSH forms."""
    # Pair generation is a groupBy on (band, band-hash) — ONE shuffle —
    # followed by a row-local expansion of each bucket's sorted doc_id
    # array that is SIZE-AWARE:
    #
    #   small buckets (<= MINHASH_MAX_BUCKET members) expand all i<j
    #   pairs — at most B(B-1)/2 pair structs per aggregation row,
    #   the same candidate set the old bands⋈bands self-join produced
    #   (A/B-verified pair-identical at sf0.001/0.01);
    #
    #   giant buckets expand as STAR + CHAIN edges: every member pairs
    #   with the bucket representative (min doc_id = ids[0]) AND with
    #   its successor in sorted-id order — 2(|group|-1) structs, still
    #   linear. Web-scale corpora routinely hold duplicate groups of
    #   1e5-1e6 docs (boilerplate, mirrored pages); an unconditional
    #   all-pairs expansion would materialize |group|^2 structs inside
    #   ONE aggregation row — a single task and an executor OOM.
    #   CaseWhen evaluates only the matching branch, so the quadratic
    #   expression is never computed for an over-cap bucket.
    #
    #   Recall note (post-verification): star/chain edges still pass
    #   through the exact-Jaccard filter below, so a member whose edge
    #   to the representative falls below threshold (band false
    #   positive) is NOT connected by the star alone. The chain edge
    #   gives each member a second, independent linear-cost link (its
    #   sorted-id neighbor), so the group stays connected whenever at
    #   least one of the two edges per member verifies. This is a
    #   recall-vs-cost tradeoff, not lossless connectivity: a member
    #   dissimilar to BOTH its anchors drops out, where all-pairs
    #   expansion could have recovered it via some other member.
    #
    # Residual bound: the aggregation buffer still holds the bucket's
    # id array itself — LINEAR in group size (~8 MB per million ids),
    # which is the floor for any grouping formulation; the quadratic
    # term is what this removes.
    ids = F.array_sort(F.collect_list("doc_id"))
    buckets = (
        bands.groupBy("band", "bh").agg(ids.alias("ids")).filter(F.size("ids") > 1)
    )
    all_pairs_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    rep = F.element_at(F.col("ids"), 1)
    star_arr = F.transform(
        F.slice(F.col("ids"), 2, F.size(F.col("ids")) - 1),
        lambda y: F.struct(rep.alias("doc_a"), y.alias("doc_b")),
    )
    chain_arr = F.transform(
        F.slice(F.col("ids"), 1, F.size(F.col("ids")) - 1),
        lambda x, i: F.struct(
            x.alias("doc_a"),
            F.element_at(F.col("ids"), i + F.lit(2)).alias("doc_b"),
        ),
    )
    pair_arr = F.when(
        F.size(F.col("ids")) <= MINHASH_MAX_BUCKET, all_pairs_arr
    ).otherwise(F.concat(star_arr, chain_arr))
    candidates = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # Verify candidate pairs only: join the tiny pair list against the
    # per-doc sets (AQE broadcasts the pair side at runtime), intersect
    # arrays. Verification cost is O(candidates), never the all-pairs
    # inverted-index join the LSH existed to avoid. ``sets`` is the
    # same row-local projection the sketch hangs off — no extra scan
    # shape, no shuffle on either build side.
    #
    # Known CPU tradeoff, measured and kept deliberately: Catalyst
    # never sinks a Project below a join, so each verify side computes
    # the shingle projection for EVERY document — the in-plan form
    # shingles the corpus 3x per run (sketch + two verify sides). The
    # tested alternative (left-semi-filter each side on the candidate
    # ids so PushDownLeftSemiAntiJoin pushes the filter under the
    # projection) makes the candidate subtree a 3-consumer common
    # subplan; exchange/stage reuse covers it standalone, but inside
    # composed plans (curated_pack) it defeated AQE stage reuse —
    # measured +50% warm latency and persistent per-run codegen churn.
    # The production answer to repeated shingling is not a cleverer
    # one-shot plan but ``dedup_minhash_lsh_state``: the persisted
    # bucketed state serves sketches AND shingle sets with ZERO
    # recomputation, which is why the state/incremental path is the
    # documented 100 TB shape.
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def incremental_dedup(
    t: dict[str, DataFrame],
    n: int = 3,
    threshold: float = 0.1,
    hash_mode: str = "xxhash64",
    batch_mod: int = 10,
    batch_rem: int = 9,
) -> DataFrame:
    """Dedupe an INCOMING batch against an existing corpus — the shape
    continuous 100 TB ingestion actually runs, where re-clustering the
    whole corpus per arrival is a non-starter.

    The batch is the docs with ``doc_id % batch_mod == batch_rem``
    (stand-in for "today's crawl"); everything else is the existing
    corpus. Verdict per batch doc:

    - ``exact_dup``  — canonical fingerprint already present in the
      corpus (matched = smallest such corpus doc, jaccard = 1.0);
    - ``near_dup``   — a MinHash band key collides with a corpus doc
      AND exact shingle Jaccard >= ``threshold`` (matched = the
      corpus doc with the highest jaccard, ties to the smaller id);
    - ``new``        — neither (matched/jaccard null).

    Exact-dup wins over near-dup. Every batch doc emits exactly one
    row: (doc_id, verdict, matched_doc_id, jaccard).

    Scale shape: the corpus side of both probes — the fingerprint set
    and the ``minhash_bands`` table — is STATE a production pipeline
    computes once and appends to per batch (here derived in-plan from
    the same scan, purely for self-containedness; the join topology is
    what matters). Every join is keyed by the batch: band collisions
    shuffle (band, bh) rows — bounded per doc — and only COLLIDING
    pairs are verified with exact Jaccard, so per-batch cost is
    O(batch + collisions) regardless of corpus size; with the state
    table bucketed by (band, bh) on disk, the probe becomes a
    zero-exchange bucket join. No corpus self-join anywhere — this is
    deliberately NOT dedup_minhash_lsh over (corpus + batch), which
    would re-verify every historical pair on every arrival.
    """
    is_batch = F.pmod(F.col("doc_id"), F.lit(batch_mod)) == batch_rem
    docs = t["documents"]
    # One sketch pass over ALL docs, split by the predicate afterwards:
    # both probe sides share a single fingerprint/band expression
    # forest and scan shape instead of compiling two copies.
    fps, bands, sets = _dedup_state_frames(docs, n, hash_mode)
    return incremental_probe_state(
        docs.filter(is_batch),
        fps.filter(~is_batch),
        bands.filter(~is_batch),
        sets.filter(~is_batch),
        n,
        threshold,
        hash_mode,
        batch_fps=fps.filter(is_batch),
        batch_bands=bands.filter(is_batch),
        batch_sets=sets.filter(is_batch),
    )


def incremental_probe(
    batch_docs: DataFrame,
    corpus_docs: DataFrame,
    n: int = 3,
    threshold: float = 0.1,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """The probe core behind ``incremental_dedup``: verdicts for
    ``batch_docs`` (doc_id, text) against ``corpus_docs`` — callable
    with ANY two document frames, which is exactly what a
    ``foreachBatch`` streaming micro-batch hands you (see
    streaming/pipeline.py incremental_dedup_stream). Semantics and
    scale shape documented on ``incremental_dedup``. Derives the
    corpus state in-plan; when the state is already persisted (the
    production layout — see ``build_dedup_state``), call
    ``incremental_probe_state`` with the state frames directly.
    """
    corpus_fps = corpus_docs.select("doc_id", X.fingerprint().alias("fp"))
    corpus_sets = shingle_sets({"documents": corpus_docs}, n)
    corpus_bands = minhash_bands(corpus_sets, hash_mode)
    return incremental_probe_state(
        batch_docs, corpus_fps, corpus_bands, corpus_sets, n, threshold,
        hash_mode,
    )


def incremental_probe_state(
    batch_docs: DataFrame,
    corpus_fps: DataFrame,
    corpus_bands: DataFrame,
    corpus_sets: DataFrame,
    n: int = 3,
    threshold: float = 0.1,
    hash_mode: str = "xxhash64",
    batch_fps: DataFrame | None = None,
    batch_bands: DataFrame | None = None,
    batch_sets: DataFrame | None = None,
) -> DataFrame:
    """``incremental_probe`` against PRE-MATERIALIZED corpus state:
    ``corpus_fps`` (doc_id, fp), ``corpus_bands`` (doc_id, band, bh),
    ``corpus_sets`` (doc_id, sh). This is the shape a production
    pipeline runs — the state is computed once per corpus, appended to
    per ingested batch (``append_dedup_state``), and each batch scan
    touches only its own documents plus the state probes. With the
    band state bucketed by (band, bh) and the fp/sets state bucketed by
    their keys, every probe join is exchange-free on the state side
    (tests/test_plans.py proves the band case).

    ``batch_fps``/``batch_bands``/``batch_sets``: optional pre-derived
    batch-side state (same schemas as the corpus frames). When the
    caller already sketched the batch — e.g. ``incremental_dedup``
    splits ONE sketched corpus by a predicate — passing them avoids a
    second copy of the fingerprint/band expression forest in the plan
    (halves the codegen and scan shapes; output identical either way).
    """
    batch_ids = batch_docs.select("doc_id")
    if batch_fps is None:
        batch_fps = batch_docs.select("doc_id", X.fingerprint().alias("fp"))

    # --- exact probe: batch fingerprints vs the corpus fingerprint set
    exact = (
        batch_fps.select("doc_id", "fp")
        .join(
            corpus_fps.select("fp", F.col("doc_id").alias("corpus_id")),
            "fp",
        )
        .groupBy("doc_id")
        .agg(F.min("corpus_id").alias("exact_id"))
    )

    # --- near probe: band-key collisions, then exact-Jaccard verify of
    # ONLY the colliding (batch, corpus) pairs
    bsets = (
        batch_sets
        if batch_sets is not None
        else shingle_sets({"documents": batch_docs}, n)
    )
    bbands = (
        batch_bands
        if batch_bands is not None
        else minhash_bands(bsets, hash_mode)
    )
    cand = (
        bbands
        .join(
            corpus_bands.select(
                "band", "bh", F.col("doc_id").alias("cand_id")
            ),
            ["band", "bh"],
        )
        .select("doc_id", "cand_id")
        .distinct()
    )
    sa = bsets.select(F.col("doc_id"), F.col("sh").alias("sh_a"))
    sb = corpus_sets.select(
        F.col("doc_id").alias("cand_id"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    near = (
        cand.join(sa, "doc_id")
        .join(sb, "cand_id")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        # best match = highest jaccard, smallest corpus id on ties —
        # one max over a (jaccard, -id) struct, no per-doc row buffer
        .groupBy("doc_id")
        .agg(
            F.max(
                F.struct(F.col("jaccard"), (-F.col("cand_id")).alias("nid"))
            ).alias("best")
        )
        .select(
            "doc_id",
            (-F.col("best.nid")).alias("near_id"),
            F.col("best.jaccard").alias("near_jaccard"),
        )
    )

    return (
        batch_ids.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_id").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce(F.col("exact_id"), F.col("near_id")).alias(
                "matched_doc_id"
            ),
            F.when(F.col("exact_id").isNotNull(), F.lit(1.0))
            .otherwise(F.col("near_jaccard"))
            .alias("jaccard"),
        )
    )


def _dedup_state_frames(docs: DataFrame, n: int, hash_mode: str):
    """(fps, bands, sets) state frames for a document frame."""
    sets = shingle_sets({"documents": docs}, n)
    return (
        docs.select("doc_id", X.fingerprint().alias("fp")),
        minhash_bands(sets, hash_mode),
        sets,
    )


def build_dedup_state(
    docs: DataFrame,
    prefix: str,
    n: int = 3,
    hash_mode: str = "xxhash64",
    n_buckets: int = 32,
    location: str | None = None,
) -> None:
    """Materialize the corpus dedup state as three BUCKETED tables:
    ``{prefix}_fp`` (doc_id, fp; bucketed by fp), ``{prefix}_bands``
    (doc_id, band, bh; bucketed by (band, bh)), ``{prefix}_sets``
    (doc_id, sh; bucketed by doc_id).

    This is the production layout the incremental-dedup docstrings
    promise: the corpus is sketched ONCE; every future batch probes
    these tables with its own (batch-sized) shuffles while the state
    sort-merges in place (bucket layout matches each probe's join key —
    the exchange-free plan is asserted in tests/test_plans.py). At
    100 TB the state tables are a few percent of corpus bytes (hashes
    and shingle arrays, not text).
    """
    from ecom_etl_proj_spark.operators.skew import write_bucketed

    fps, bands, sets = _dedup_state_frames(docs, n, hash_mode)
    write_bucketed(fps, f"{prefix}_fp", "fp", n_buckets, location)
    write_bucketed(
        bands, f"{prefix}_bands", ["band", "bh"], n_buckets, location
    )
    write_bucketed(sets, f"{prefix}_sets", "doc_id", n_buckets, location)


def append_dedup_state(
    new_docs: DataFrame, prefix: str, n: int = 3, hash_mode: str = "xxhash64"
) -> None:
    """Fold an ingested batch into the persisted dedup state —
    ``insertInto`` respects the tables' bucket spec, so appended rows
    land in the right buckets and the exchange-free probe property is
    preserved. Run AFTER probing the batch (a batch must not match
    itself). The batch's fingerprints and shingle sets are derived once
    and cached: the first insert fills the cache, the other two read
    it, so the batch is scanned once for the three tables."""
    state = new_docs.select(
        "doc_id", X.fingerprint().alias("fp"), X.word_shingles(n).alias("sh")
    ).persist()
    try:
        sets = state.select("doc_id", "sh")
        state.select("doc_id", "fp").write.insertInto(f"{prefix}_fp")
        minhash_bands(sets, hash_mode).write.insertInto(f"{prefix}_bands")
        sets.write.insertInto(f"{prefix}_sets")
    finally:
        state.unpersist()


def probe_dedup_state(
    spark,
    batch_docs: DataFrame,
    prefix: str,
    n: int = 3,
    threshold: float = 0.1,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Verdicts for ``batch_docs`` against the PERSISTED state tables
    written by ``build_dedup_state`` / ``append_dedup_state``."""
    return incremental_probe_state(
        batch_docs,
        spark.table(f"{prefix}_fp"),
        spark.table(f"{prefix}_bands"),
        spark.table(f"{prefix}_sets"),
        n,
        threshold,
        hash_mode,
    )


def simhash_64(t: dict[str, DataFrame], hash_mode: str = "xxhash64") -> DataFrame:
    """(doc_id, simhash long): sign-aggregated 64-bit token fingerprint.

    ``hash_mode='xxhash64'`` (default) uses the production token hash
    (all 64 bits populated — see ``hash64`` for the CPU rationale).
    ``hash_mode='md5'`` uses the cross-engine ``md5_60`` (60 effective
    bits — bits 60-63 of the fingerprint are constant-zero since every
    token hash has them unset, so all distance/blocking math is
    unchanged but the DuckDB oracle can reproduce the fingerprint
    bit-for-bit); the registry pins this mode. The two modes yield
    different fingerprints (different hash bits), but the recall
    guarantee and the verified-pair semantics are hash-independent —
    property-tested per mode against brute force.

    ROW-LOCAL like the MinHash sketch: the fingerprint is a pure
    function of the doc's own distinct-token array, so each bit comes
    from a bounded fold over that array and the corpus is NEVER
    exploded or shuffled here (the previous shape exploded every token
    and ran a 64-conditional-sum aggregation — one full-corpus shuffle
    plus a large generated-code stage, both deleted). Per bit:
    sign(sum over tokens of +/-1) > 0  ⇔  2 * count(bit set) > n.
    The let-binding (single-element-array transform) evaluates the
    hashed token array exactly once per doc.
    """
    def packed_of(hs):
        # ONE aggregate over bit positions instead of 64 Python-unrolled
        # majority-count terms (same collapse as the MinHash band
        # forest): the bit logic is generated once and iterated, so the
        # expression tree shrinks ~64x while the packed value is
        # unchanged — XOR-accumulating shiftleft(bit_i, i) over distinct
        # positions equals the old 64-term XOR chain bit for bit.
        # call_function routes to the SQL registry because the Python
        # shiftleft/shiftright helpers only accept literal shift counts,
        # and here the count is the fold's lambda variable.
        def term(acc, i):
            cnt = F.size(
                F.filter(
                    hs,
                    lambda h: F.call_function("shiftright", h, i)
                    .bitwiseAND(F.lit(1))
                    == 1,
                )
            )
            bit = (
                F.when((cnt * 2) > F.size(hs), F.lit(1).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            return acc.bitwiseXOR(F.call_function("shiftleft", bit, i))

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(63)), F.lit(0).cast("long"), term
        )

    hs_expr = F.transform(
        F.array_distinct(X.tokens()), lambda s: hash64(s, hash_mode)
    )
    sim = F.element_at(
        F.transform(F.array(hs_expr), lambda hs: packed_of(hs)), 1
    )
    # docs with no tokens never produced an aggregation row before —
    # keep them out of the fingerprint table the same way
    return (
        t["documents"]
        .select("doc_id", F.size(F.array_distinct(X.tokens())).alias("n"), sim.alias("simhash"))
        .filter(F.col("n") > 0)
        .select("doc_id", "simhash")
    )


def _simhash_combo_exprs(max_hamming: int, r_exact: int) -> list[str]:
    """Candidate-key struct exprs for the (m blocks, r exact) scheme.

    The 64-bit fingerprint is split into ``m = max_hamming + r_exact``
    contiguous blocks. For a pair at hamming <= max_hamming, the
    differing bits touch at most ``max_hamming`` blocks, so at least
    ``r_exact`` blocks agree entirely (pigeonhole) — hence SOME
    r-combination of blocks is bit-identical and the pair collides in
    that combo's table. Each combo key concatenates its blocks'
    values, so the key carries ``r_exact * 64/m`` bits of
    discrimination instead of the ``64/m`` bits a single-block scheme
    would give (Manku et al.'s multi-block trick, re-expressed
    relationally). Scale rule: pick ``r_exact`` so the key width
    >= ~log2(corpus size) + slack; recall stays guaranteed because m
    grows with r.
    """
    m = max_hamming + r_exact
    if m > 64:
        raise ValueError("max_hamming + r_exact must be <= 64")
    widths = [64 // m + (1 if i < 64 % m else 0) for i in range(m)]
    offsets = [sum(widths[:i]) for i in range(m)]
    blocks = [
        f"(shiftright(simhash, {offsets[i]}) & {(1 << widths[i]) - 1})"
        for i in range(m)
    ]
    parts = []
    for ci, combo in enumerate(itertools.combinations(range(m), r_exact)):
        shift = 0
        key = None
        for i in combo:
            term = f"shiftleft({blocks[i]}, {shift})" if shift else blocks[i]
            key = term if key is None else f"({key} | {term})"
            shift += widths[i]
        parts.append(f"named_struct('combo', {ci}, 'key', CAST({key} AS BIGINT))")
    return parts


def dedup_simhash(
    t: dict[str, DataFrame],
    max_hamming: int = 3,
    r_exact: int = 2,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= max_hamming.

    Candidate generation has GUARANTEED recall at the requested radius:
    blocks = ``max_hamming + r_exact``, so every true pair shares at
    least one whole r-block combo key (see ``_simhash_combo_exprs``).
    Candidates are then verified with exact ``bit_count(xor)``, so the
    output equals the exact all-pairs answer over the chosen
    fingerprints — property-tested against a brute-force hamming join
    in tests/test_operators.py. ``hash_mode`` picks the token hash
    (see ``simhash_64``); the registry pins 'md5' for oracle parity.
    """
    sh = simhash_64(t, hash_mode)
    parts = _simhash_combo_exprs(max_hamming, r_exact)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.expr("array(" + ", ".join(parts) + ")")).alias("cc"),
    ).select(
        "doc_id", "simhash", F.col("cc.combo").alias("combo"), F.col("cc.key").alias("key")
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.combo") == F.col("b.combo"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return pairs



_RESET_STATS_WARNED: list[bool] = []


def _reset_stats(df: DataFrame) -> DataFrame:
    """Rebuild a checkpointed frame around its own materialized RDD
    (JVM-side, zero data movement) so Catalyst's size estimate resets.

    Without this every self-joining checkpoint loop is a time bomb: a
    checkpointed DataFrame CARRIES its pre-checkpoint plan's
    sizeInBytes, the stats visitor estimates a join as the PRODUCT of
    its children's sizes, so a loop that joins round state with
    itself SQUARES the carried estimate every round (digit count
    doubles: a label-propagation loop measured 14 -> 2500 digits in 8
    rounds over a 454-node graph), and from round ~8 the driver burns
    minutes per round multiplying million-digit BigIntegers inside
    join planning while every task sits idle. The star contraction's
    joins grow the estimate far more slowly (22-24 digits without the
    reset on the multi-basin, path and random test graphs, 20 with
    it); the reset keeps planning flat whatever the loop shape. AQE re-plans from true runtime sizes,
    so the reset (to the unknown-size default) costs nothing at
    execution."""
    try:
        jdf = df._jdf
        jnew = df.sparkSession._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(jnew, df.sparkSession)
    except Exception as exc:
        # private-API seam moved (a Spark upgrade): fall back to the
        # plain checkpointed frame — correct, but long self-join loops
        # re-expose the quadratic-stats planning cost, so say it ONCE
        # per process instead of degrading silently (r15 ADVICE: an
        # unobservable 10x planning slowdown after an upgrade is
        # undiagnosable)
        if not _RESET_STATS_WARNED:
            _RESET_STATS_WARNED.append(True)
            import logging

            logging.getLogger(__name__).warning(
                "_reset_stats: internalCreateDataFrame seam unavailable"
                " (%s: %s) — iterative self-join loops will pay"
                " Catalyst's quadratic size-estimate growth; re-pin the"
                " seam for this Spark version",
                type(exc).__name__,
                exc,
            )
        return df


def _cc_local(
    base: DataFrame, spark, max_edges: int, max_singles: int
) -> DataFrame | None:
    """Solve a BOUNDED component graph on the driver: one union-find
    pass over the collected edge list, min-id roots, singleton
    self-pair nodes appended — output identical to the distributed
    star contraction (``_cc_star``). This is broadcast-class driver
    state (guide §3.1: the small side of a broadcast join is collected
    the same way), and the collect is bounded by LIMIT regardless of
    input shape (~16 bytes/row — the default 100k caps are ~3 MB) with
    the result frame labels-only. The win is job count: a 2-round star contraction over
    a 224-edge sf0.1 survivor graph costs ~26 AQE jobs / 6.8s of pure
    orchestration; this path is one collect + one tiny parallelize.

    ONE action serves gate and solve (r17, guide §1.2): the deduped
    pair rows — real edges (doc_a != doc_b) and self-pair singles
    (doc_a == doc_b) in the same distinct — come back in a single
    LIMIT-capped collect and are classified client-side, replacing the
    r16 shape's three actions over the same checkpointed base (exact
    edge count, edge collect, capped singles collect — each a full
    driver/scheduler round-trip priced like the per-job latencies in
    OPTIMIZATION_r16 §1.1). The cap is ``max_edges + max_singles + 1``
    rows: a truncated collect proves (pigeonhole) that one class
    exceeds its bound, and an untruncated one yields exact per-class
    counts, so the gate decision is identical to counting each class
    separately. On refusal this returns ``None`` and the caller falls
    through to ``_cc_star``, whose singles branch never touches the
    driver. Keeping the in-bound singles ON the driver (rather than a
    distributed anti-join union) keeps the result a
    pure local table — CC consumers re-execute the labels frame per
    action, and a measured distributed-singles variant paid its
    exchange once per consumer (A/B in OPTIMIZATION_r16.md).

    Rows with a NULL doc id are dropped before the collect, as the
    star path's SQL comparisons drop them: a (x, NULL) pair is
    no edge and a (NULL, NULL) pair no singleton."""
    cap = max_edges + max_singles + 1
    rows = (
        base.filter(F.col("doc_a").isNotNull() & F.col("doc_b").isNotNull())
        .distinct()
        .limit(cap)
        .collect()
    )
    if len(rows) >= cap:
        return None
    edge_rows = [(r[0], r[1]) for r in rows if r[0] != r[1]]
    single_ids = [r[0] for r in rows if r[0] == r[1]]
    if len(edge_rows) > max_edges or len(single_ids) > max_singles:
        return None
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    nodes: set[int] = set()
    for a, b in edge_rows:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id root invariant: every component root is its min
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    labels = [(n, find(n)) for n in sorted(nodes)]
    labels.extend((s, s) for s in sorted(single_ids) if s not in nodes)
    return spark.createDataFrame(labels, "doc_id long, component_id long")


def _cc_star(base: DataFrame, max_iterations: int, _save) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond"):
    O(log^2 n) rounds on ANY graph, whatever its diameter. Each round
    REWRITES the edge set:

    - large-star (per center u over the symmetric edge list): every
      strictly-larger neighbor w re-attaches to m = min(N(u) + {u});
    - small-star (per center u over edges oriented large->small):
      every neighbor and u itself attach to the smallest.

    Edges converge to one-level stars rooted at each component's min
    id; both steps are groupBy-min + join — no per-node neighbor
    lists collected, so hub nodes cost a shuffle skew, not memory.
    The deduped edge list and each round's state are checkpointed +
    stats-reset through ``_save``. Convergence = edge set unchanged
    over a full (large, small) round: checked as count equality + one-
    sided except — a distinct-set equality.

    ``base`` is the checkpointed raw (doc_a, doc_b) projection; both
    the edge list and ``self_nodes`` derive from it, so the upstream
    pair plan never re-executes (for LSH-derived pairs that re-run was
    ~2.3s of a 4.4s warm star-CC at sf0.1).

    Self-loop contract (r16): a node appearing ONLY as a self-pair
    (doc_a == doc_b) is an isolated single-node component and is
    emitted labeled with itself — the contraction drops self-loops up
    front (they carry no connectivity), so those nodes are collected
    separately and unioned back unless a real edge already covers
    them; ``_cc_local`` emits exactly the same rows. NULL doc ids fall
    out of the SQL comparisons.
    """
    edges = _save(
        base.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    n_edges = edges.count()
    self_nodes = (
        base.filter(F.col("doc_a") == F.col("doc_b"))
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    converged = False
    for _ in range(max_iterations + 1):
        # large-star: symmetric explode, per-center min, re-attach
        # larger neighbors
        sym = edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
                    F.struct(F.col("b").alias("u"), F.col("a").alias("w")),
                )
            ).alias("e")
        ).select("e.u", "e.w")
        lmin = sym.groupBy("u").agg(F.min("w").alias("mn"))
        large = _save(
            sym.join(lmin, "u")
            .filter(F.col("w") > F.col("u"))
            .select(
                F.col("w").alias("a"),
                F.least(F.col("u"), F.col("mn")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient large->small, attach center + neighbors
        # to the smallest
        o = large.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("w")
        )
        smin = o.groupBy("u").agg(F.min("w").alias("mn"))
        nxt = _save(
            o.join(smin, "u")
            .filter(F.col("w") != F.col("mn"))
            .select(F.col("w").alias("a"), F.col("mn").alias("b"))
            .union(smin.select(F.col("u").alias("a"), F.col("mn").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        n_nxt = nxt.count()
        stable = n_nxt == n_edges and nxt.exceptAll(edges).isEmpty()
        edges, n_edges = nxt, n_nxt
        if stable:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iterations} rounds — star contraction is O(log^2 n) "
            "rounds on any graph, so hitting this cap indicates a bug "
            "or a truly astronomical component; raise max_iterations"
        )
    # fixpoint edges are one-level stars (leaf -> root); roots appear
    # only on the b side and label themselves; self-pair-only nodes
    # come back as their own singleton components (see docstring)
    leaves = edges.select(
        F.col("a").alias("doc_id"), F.col("b").alias("component_id")
    )
    roots = edges.select(
        F.col("b").alias("doc_id"), F.col("b").alias("component_id")
    ).distinct()
    singles = (
        self_nodes.join(
            leaves.select("doc_id").union(roots.select("doc_id")),
            "doc_id",
            "left_anti",
        )
        .select("doc_id", F.col("doc_id").alias("component_id"))
    )
    return leaves.union(roots).union(singles)


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
    local_max_edges: int = CC_LOCAL_MAX_EDGES,
) -> DataFrame:
    """Connected components over a pair list: (doc_id, component_id),
    each component labeled with its smallest doc id.

    Near-dup PAIRS aren't actionable until they become CLUSTERS (keep
    one representative per component, drop the rest). A pair with
    doc_a == doc_b carries no connectivity, so a node that appears only
    in such self-pairs comes back as its own singleton component; a
    pair with a NULL doc id is dropped.

    One linear flow: the raw (doc_a, doc_b) projection is checkpointed
    once; if ``local_max_edges`` is non-zero the driver-side union-find
    (``_cc_local``) tries to solve the graph from one LIMIT-capped
    collect; otherwise, or when the graph is over that bound, the
    distributed large-star / small-star contraction (``_cc_star``) runs
    over the deduped edge list. Both produce identical output.

    ``local_max_edges`` (default ``CC_LOCAL_MAX_EDGES``): a graph whose
    deduped non-self edge count and self-pair singles count are both at
    or below this bound is solved ON THE DRIVER — one collect instead
    of ~13 AQE jobs per contraction round (measured 6.8s → <1s on the
    224-edge sf0.1 survivor graph; near-dup graphs are sparse, so even
    large corpora often land here). The bound gates DRIVER MEMORY
    exactly like a broadcast-join threshold (~16 bytes/row, no input
    shape pulls more than 2 x local_max_edges + 1 rows); above it the
    graph never touches the driver. Pass 0 to force the distributed
    path (loop-mechanics tests do).

    ``max_iterations`` bounds the contraction rounds that change the
    edge set (star needs O(log^2 n) on any graph; one extra round only
    confirms the fixpoint). Hitting it without convergence RAISES
    rather than silently returning split components (wrong
    representatives would silently diverge from the
    transitive-closure oracle).

    Iteration state management (the part that decides whether this
    survives at scale): the raw projection is checkpointed once, so the
    upstream pair plan (for LSH-derived pairs: a full candidate
    generation and Jaccard verification) runs exactly once and the
    final leaves ∪ roots ∪ singles frame reads stored blocks. The
    deduped edge list and every round's large-star and small-star edge
    sets are checkpointed eagerly and stats-reset (``_reset_stats``):
    each round's join work is materialized exactly once and the logical
    plan is truncated to the stored blocks, so per-round cost and
    planning time stay CONSTANT instead of growing with round number
    (the naive unpersisted loop is O(k) recompute in round k and O(k)
    Catalyst analysis depth). Round state is edge-scale: one row per
    edge of the current contraction.

    This is the standard large-scale formulation (iterative — the
    driver verifies it against a recursive-CTE transitive-closure
    oracle in DuckDB, see the dedup_clusters / embedding_dedup_clusters
    / curated_pack registrations; semantics also unit-tested on known
    graphs).

    ``checkpoint_dir``: by default round state is ``localCheckpoint``-ed
    (executor-local blocks — fastest, but lost with an executor, fine
    in local mode). On a fault-tolerant cluster pass a reliable
    checkpoint directory (HDFS/S3): round state then goes through
    ``checkpoint()`` so a lost executor replays from storage instead of
    recomputing the whole iteration chain. The context's checkpoint dir
    is only set when none is configured yet (setting it is a
    SparkContext-global side effect — an already-configured dir wins,
    so this never redirects other jobs' checkpoints). Checkpoint files
    are per-round snapshots; enable
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` for automatic
    cleanup of superseded ones, or clean the directory between runs.
    """

    def _save(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return _reset_stats(df.checkpoint(eager=True))
        return _reset_stats(df.localCheckpoint())

    if checkpoint_dir is not None:
        sc = pairs.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(checkpoint_dir)
    base = _save(pairs.select("doc_a", "doc_b"))
    if local_max_edges:
        local = _cc_local(
            base, pairs.sparkSession, local_max_edges, local_max_edges
        )
        if local is not None:
            return local
    return _cc_star(base, max_iterations, _save)


def dedup_clusters(
    t: dict[str, DataFrame],
    n: int = 3,
    threshold: float = 0.1,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup clusters from MinHash-LSH pairs: one row per clustered
    doc with its component id and whether it is the kept representative
    (smallest doc_id in the component — matching dedup_exact's
    keep-min rule). ``hash_mode`` feeds through to the LSH stage
    (production xxhash64 / oracle md5, see ``hash64``)."""
    pairs = dedup_minhash_lsh(t, n, threshold, hash_mode)
    comp = connected_components(pairs)
    return comp.select(
        "doc_id",
        "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("is_representative"),
    )


def representative_selection(
    t: dict[str, DataFrame],
    n: int = 3,
    threshold: float = 0.1,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Quality-aware dedup keeper: per near-dup component, keep the
    HIGHEST-QUALITY member instead of the smallest id.

    Min-id representatives (dedup_clusters) are cheap and stable, but a
    training pipeline wants the best copy of each duplicated document —
    the public crawl-dedup recipes keep e.g. the longest or
    least-boilerplate variant. This composes the LSH components with
    the text_quality score: one row per component —
    (component_id, n_members, keep_doc_id, keep_quality) — where the
    keeper maximizes (quality_score, smallest id on exact ties).

    The selection is a single component-grain aggregation over a
    (quality, -id) struct max — O(1) state per component, no per-group
    row buffer, no window over the corpus. Components come from the
    same ``connected_components`` dedup_clusters uses; quality is a
    row-local Catalyst expression. ``hash_mode`` as in the family.
    """
    from ecom_etl_proj_spark.operators.textops import text_quality

    comp = connected_components(dedup_minhash_lsh(t, n, threshold, hash_mode))
    q = text_quality(t).select("doc_id", "quality_score")
    return (
        comp.join(q, "doc_id")
        .groupBy("component_id")
        .agg(
            F.count("*").alias("n_members"),
            F.max(
                F.struct(
                    F.col("quality_score"), (-F.col("doc_id")).alias("nid")
                )
            ).alias("best"),
        )
        .select(
            "component_id",
            "n_members",
            (-F.col("best.nid")).alias("keep_doc_id"),
            F.col("best.quality_score").alias("keep_quality"),
        )
    )


def dedup_savings_report(
    t: dict[str, DataFrame],
    n: int = 3,
    threshold: float = 0.1,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """What a near-dup dedup pass would SAVE, by cluster size: the
    capacity-planning report a data team reads before committing to a
    corpus-wide dedup run ("clusters of 2 are 80% of duplicates but
    only 30% of reclaimable bytes; one 10k-doc boilerplate cluster is
    half the win").

    Composition: ``dedup_clusters`` components (``connected_components``
    over the LSH-verified pair list — only docs in some
    near-dup pair appear), each member decorated with its byte size
    via a doc_id-keyed join against the catalog's ``n_chars`` column
    (no text re-scan), one component-grain aggregation (bounded rows:
    one per cluster), then a bounded cluster-size rollup — output is
    at most one row per distinct cluster size. Dropped bytes = sizes
    of every non-representative member (the keep-min rule).

    Output: (cluster_size, n_clusters, n_dup_docs, chars_dropped)
    ascending by cluster_size.
    """
    clusters = dedup_clusters(t, n, threshold, hash_mode)
    chars = t["documents"].select("doc_id", "n_chars")
    per_comp = (
        clusters.join(chars, "doc_id")
        .groupBy("component_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.sum(
                F.when(~F.col("is_representative"), F.col("n_chars"))
                .otherwise(F.lit(0))
            ).cast("bigint").alias("chars_dropped"),
        )
    )
    return (
        per_comp.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum(F.col("cluster_size") - 1).cast("bigint").alias("n_dup_docs"),
            F.sum("chars_dropped").cast("bigint").alias("chars_dropped"),
        )
        .orderBy("cluster_size")
    )


def cross_source_duplication(
    t: dict[str, DataFrame],
    n: int = 3,
    threshold: float = 0.1,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Which source pairs duplicate each other: verified near-dup pairs
    rolled up by (source_a, source_b) — the syndication/mirror-site
    diagnostic behind crawl-source pruning (a source pair with a high
    pair count is republishing the same content; within-source counts
    on the diagonal flag internal boilerplate).

    Composition: the LSH-verified pair list (bounded, candidate-only)
    decorated with each side's source via two broadcast-friendly
    doc→source joins, then a bounded (|sources|²) aggregation. Source
    pair is emitted ordered (least, greatest) so A↔B and B↔A collapse.

    Output: (source_a, source_b, n_pairs, avg_jaccard).
    """
    pairs = dedup_minhash_lsh(t, n, threshold, hash_mode)
    src = t["documents"].select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            # sum in DECIMAL (exact, associative) then divide as double:
            # a float avg's partial-agg summation order differs between
            # engines and can flip the rounding boundary
            F.round(
                F.sum(F.col("jaccard").cast("decimal(18,4)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_jaccard"),
        )
    )


def dedup_threshold_sweep(
    t: dict[str, DataFrame], n: int = 3, min_threshold: float = 0.05
) -> DataFrame:
    """Threshold-tuning curve for near-dup removal: how many pairs a
    dedup pass would act on at each Jaccard cutoff — the report run
    BEFORE choosing the production threshold, so "0.8 removes 2% of
    pairs, 0.3 removes 40%" is a measurement instead of folklore.

    One exact-Jaccard pass (``dedup_ngram_jaccard`` at a low floor,
    df-capped as always) feeds a 10-bucket histogram; the cumulative
    count per cutoff is a window over <= 10 aggregated rows — the
    unpartitioned window is bounded by the bucket count, not the data.
    Bucketing goes through an exact integer (round(j*10000) div 1000)
    so no floating-point floor boundary can disagree between engines.

    Output: (threshold, n_pairs, pairs_at_or_above) for each non-empty
    0.1-wide bucket, ascending.
    """
    from pyspark.sql import Window

    pairs = dedup_ngram_jaccard(t, n, min_threshold)
    bucket = F.expr("least(cast(round(jaccard * 10000) as bigint) div 1000, 9)")
    per = (
        pairs.select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("n_pairs"))
    )
    w = Window.orderBy(F.col("b").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        F.round(F.col("b") / 10.0, 1).alias("threshold"),
        "n_pairs",
        F.sum("n_pairs").over(w).alias("pairs_at_or_above"),
    ).orderBy("threshold")


def lsh_bucket_profile(
    t: dict[str, DataFrame],
    n: int = 3,
    hash_mode: str = "xxhash64",
    cap: int = MINHASH_MAX_BUCKET,
) -> DataFrame:
    """LSH bucket-size distribution — the candidate-generation cost
    audit run BEFORE a corpus-wide dedup join (the banding counterpart
    of ``ivf_cell_balance``): per power-of-two bucket-size bin, how
    many (band, band_hash) buckets land there and how many candidate
    pairs they would emit, uncapped (k·(k-1)/2, the quadratic mass a
    naive all-pairs expansion pays) vs capped (the star+chain
    expansion's 2k-3 for over-cap buckets). At 100 TB this one report
    answers "is the banding selective enough to run?": a fat tail of
    over-cap buckets means boilerplate-heavy content where the
    guaranteed-linear expansion regime dominates, and the
    uncapped-vs-capped gap is exactly the join work the cap saves.

    Scale shape: the same one-text-scan row-local sketch as
    ``dedup_minhash_lsh`` (ref spark_transform.py dedup is exact-only;
    this audits the approximate path), the SAME single (band, bh)
    exchange the dedup itself pays (a count per bucket, map-side
    combined), then a bounded rollup — output rows = distinct
    bucket-size bins (≤ log2(corpus)). Every derived quantity is exact
    integer arithmetic (size_bin via the binary-string length, pair
    counts via integer div), so the DuckDB oracle matches bit-for-bit.

    Output: (size_bin, n_buckets, n_docs, n_pairs_uncapped,
    n_pairs_capped, n_over_cap) ascending by size_bin, where
    size_bin = floor(log2(bucket size)) computed exactly.
    """
    bands = minhash_bands(shingle_sets(t, n), hash_mode)
    sizes = bands.groupBy("band", "bh").agg(F.count("*").alias("k"))
    uncapped = F.expr("k * (k - 1) div 2")
    per = sizes.select(
        (F.length(F.bin(F.col("k"))) - 1).alias("size_bin"),
        F.col("k"),
        uncapped.alias("u"),
        F.when(F.col("k") <= F.lit(cap), uncapped)
        .otherwise(2 * F.col("k") - 3)
        .alias("c"),
        F.when(F.col("k") > F.lit(cap), 1).otherwise(0).alias("oc"),
    )
    return (
        per.groupBy("size_bin")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("k").cast("bigint").alias("n_docs"),
            F.sum("u").cast("bigint").alias("n_pairs_uncapped"),
            F.sum("c").cast("bigint").alias("n_pairs_capped"),
            F.sum("oc").cast("bigint").alias("n_over_cap"),
        )
        .orderBy("size_bin")
    )


def shingle_df_profile(
    t: dict[str, DataFrame],
    n: int = 3,
    cap: int = NGRAM_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Shingle document-frequency distribution — the skew audit behind
    the exact-Jaccard pipeline's df cap (``NGRAM_MAX_SHINGLE_FREQ``):
    per power-of-two df bin, how many distinct shingles land there,
    their posting mass (sum of df — the exploded row count the
    pair-join actually processes), and how much of both the cap drops.
    The cap exists because a shingle shared by d docs contributes
    d·(d-1)/2 candidate pairs for ~zero Jaccard information; this
    report measures that head so the cap is a sized decision ("the top
    bin is 0.1% of shingles but 40% of postings and 97% of pair mass")
    instead of folklore — at 100 TB the capped-pair column is the
    difference between a linear join and an un-runnable one.

    Scale shape: one text scan → row-local distinct-shingle arrays →
    ONE shingle-keyed count with map-side partial combine (state =
    |distinct shingles|, the same exchange the exact pipeline's df
    filter already pays) → bounded df_bin rollup (≤ log2(corpus)
    rows). All-integer arithmetic end to end, bit-exact vs the oracle.

    Output: (df_bin, n_shingles, n_postings, n_pairs_uncapped,
    n_capped_shingles, n_dropped_postings) ascending by df_bin.
    """
    ex = shingle_sets(t, n).select(F.explode("sh").alias("shingle"))
    dfreq = ex.groupBy("shingle").agg(F.count("*").alias("df"))
    per = dfreq.select(
        (F.length(F.bin(F.col("df"))) - 1).alias("df_bin"),
        F.col("df"),
        F.expr("df * (df - 1) div 2").alias("u"),
        F.when(F.col("df") > F.lit(cap), 1).otherwise(0).alias("capped"),
        F.when(F.col("df") > F.lit(cap), F.col("df"))
        .otherwise(0)
        .alias("dropped"),
    )
    return (
        per.groupBy("df_bin")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("df").cast("bigint").alias("n_postings"),
            F.sum("u").cast("bigint").alias("n_pairs_uncapped"),
            F.sum("capped").cast("bigint").alias("n_capped_shingles"),
            F.sum("dropped").cast("bigint").alias("n_dropped_postings"),
        )
        .orderBy("df_bin")
    )


def lsh_band_planner(
    t: dict[str, DataFrame],
    n: int = 3,
    floor: float = 0.1,
    target: float = 0.5,
) -> DataFrame:
    """Banding-configuration planner: for every (bands, rows-per-band)
    split of the 64-bin sketch budget, evaluate the analytic LSH
    detection probability p(s) = 1-(1-s^r)^b against the corpus's OWN
    observed pair-similarity distribution — the tuning table read
    before committing a banding to a 100 TB dedup run, complementing
    ``lsh_bucket_profile`` (join cost) and ``minhash_recall_audit``
    (realized recall of the production config). Per config: the
    implied threshold (1/b)^(1/r), how many observed dup-grade pairs
    (s ≥ target) the config would catch at ≥0.9 / ≥0.5 probability,
    and how many below-target pairs it would still surface as
    candidates (verification cost).

    Engine parity is bit-exact with no pow(): s^r and (1-s^r)^b are
    LEFT FOLDS of correctly-rounded multiplications (F.aggregate here,
    list_reduce in the oracle — identical op sequence, identical
    bits), and the implied threshold exploits r being a power of two:
    (1/b)^(1/r) = sqrt applied log2(r) times to 1/b, each sqrt
    correctly rounded. The p ≥ 0.9 / 0.5 count cuts then compare
    identical doubles, so the counts are exact integers in both
    engines.

    Scale shape: the bounded verified pair set (df-capped exact
    pipeline) × a 5-row broadcast config grid, ≤ 64+r row-local
    multiplications per row, bounded per-config rollup. At corpus
    scale you run this on a sampled split — the s-distribution, not
    the corpus, is the input.

    Output: (bands, rows_per_band, implied_threshold, n_pairs,
    n_high, high_p90, high_p50, low_p50) by bands descending.
    """
    pairs = dedup_ngram_jaccard(t, n, floor)
    spark = t["documents"].sparkSession
    configs = spark.createDataFrame(
        [(64, 1), (32, 2), (16, 4), (8, 8), (4, 16)],
        "bands int, rows_per_band int",
    )
    dec = (
        pairs.crossJoin(F.broadcast(configs))
        .withColumn(
            "s_r",
            F.aggregate(
                F.sequence(F.lit(1), F.col("rows_per_band")),
                F.lit(1.0),
                lambda acc, i: acc * F.col("jaccard"),
            ),
        )
        .withColumn(
            "p",
            F.lit(1.0)
            - F.aggregate(
                F.sequence(F.lit(1), F.col("bands")),
                F.lit(1.0),
                lambda acc, i: acc * (F.lit(1.0) - F.col("s_r")),
            ),
        )
    )
    # (1/b)^(1/r) via log2(r) correctly-rounded square roots; r=1 needs
    # the explicit branch (sequence(1, 0) would yield DESCENDING [1,0])
    k = F.length(F.bin(F.col("rows_per_band"))) - 1
    inv_b = F.lit(1.0) / F.col("bands").cast("double")
    thr = F.when(F.col("rows_per_band") == 1, inv_b).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), k), inv_b, lambda acc, i: F.sqrt(acc)
        )
    )
    tgt = F.lit(target)
    return (
        dec.withColumn("thr", thr)
        .groupBy("bands", "rows_per_band")
        .agg(
            F.round(F.min("thr"), 6).alias("implied_threshold"),
            F.count("*").alias("n_pairs"),
            F.sum(
                F.when(F.col("jaccard") >= tgt, 1).otherwise(0)
            ).cast("bigint").alias("n_high"),
            F.sum(
                F.when(
                    (F.col("jaccard") >= tgt) & (F.col("p") >= 0.9), 1
                ).otherwise(0)
            ).cast("bigint").alias("high_p90"),
            F.sum(
                F.when(
                    (F.col("jaccard") >= tgt) & (F.col("p") >= 0.5), 1
                ).otherwise(0)
            ).cast("bigint").alias("high_p50"),
            F.sum(
                F.when(
                    (F.col("jaccard") < tgt) & (F.col("p") >= 0.5), 1
                ).otherwise(0)
            ).cast("bigint").alias("low_p50"),
        )
        .orderBy(F.col("bands").desc())
    )


def dedup_keep_best(t: dict[str, DataFrame]) -> DataFrame:
    """Exact dedup with KEEP-BEST selection: within each duplicate
    group survive the LONGEST member (n_chars desc, ties to the lower
    doc_id) instead of ``dedup_exact``'s min-id — the curation policy
    real pipelines run, where truncated or boilerplate-stripped copies
    should lose to the most complete one.

    Scale shape: identical to ``dedup_exact`` — ONE fingerprint-keyed
    aggregate; the argmax rides the same shuffle as the count via a
    struct-max (no per-group window, no second pass).

    Output: (fingerprint, keep_doc_id, n_copies, keep_n_chars).
    """
    d = t["documents"].select(
        "doc_id", "n_chars", X.fingerprint().alias("fingerprint")
    )
    best = F.max(
        F.struct(
            F.col("n_chars").alias("nc"),
            (-F.col("doc_id")).alias("neg_id"),
        )
    )
    return (
        d.groupBy("fingerprint")
        .agg(best.alias("b"), F.count("*").alias("n_copies"))
        .select(
            "fingerprint",
            (-F.col("b.neg_id")).cast("bigint").alias("keep_doc_id"),
            "n_copies",
            F.col("b.nc").alias("keep_n_chars"),
        )
    )
