"""Deduplication operators for large text corpora.

All hot paths are JVM-side higher-order functions (transform / aggregate /
zip_with over arrays) — no Python UDFs, no explode-per-shingle in the
signature computation, so a 100 TB corpus pays exactly one shuffle per
dedup stage (the candidate-pair grouping).

Hash family: xxhash64(col, seed) — Spark's built-in 64-bit hash, the
engine-native stand-in for the reference's MurmurHash/JenkinsHash dispatch
(common/util/hash/Hash.java, MurmurHash.java:33, JenkinsHash.java:46).
Exact dedup uses md5 (common/io/MD5Hash.java:35 analog).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Lowercased word tokens: maximal runs of \\w characters.

    Single regex pass (split on non-word runs) — equivalent to
    strip-punctuation-then-whitespace-split, at half the regex cost."""
    return F.filter(
        F.split(F.lower(text), r"[^\w]+"), lambda t: t != F.lit("")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` (array<string>).

    Built from n-1 zip_with joins of shifted token arrays — O(n·len)
    element ops. (The obvious transform(sequence, i -> slice(toks, i, n))
    is O(len²) in Spark's interpreted higher-order-function evaluator and
    measured ~6x slower on real documents.) Documents shorter than n words
    yield their whole token string as one shingle.
    """
    toks = tokens(text)
    acc = toks
    for j in range(1, n):
        shifted = F.slice(
            toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0))
        )
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    full = F.slice(acc, 1, F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    grams = F.when(
        F.size(toks) < n, F.array(F.concat_ws(" ", toks))
    ).otherwise(full)
    return F.array_distinct(grams)


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """Distinct 64-bit hashes of word n-gram shingles (array<long>).

    Tokens are hashed once, then gram hashes are combined pairwise with
    xxhash64(acc, next) over shifted hash arrays — no gram STRINGS are
    ever materialized, which removes the dominant allocation cost of the
    string-shingle path. Injective up to 64-bit collisions, so every
    set-similarity computed over these equals the string-shingle version.
    """
    toks = tokens(text)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    acc = hashes
    for j in range(1, n):
        shifted = F.slice(
            hashes, j + 1, F.greatest(F.size(hashes) - j, F.lit(0))
        )
        acc = F.zip_with(acc, shifted, lambda a, b: F.xxhash64(a, b))
    full = F.slice(acc, 1, F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    grams = F.when(
        F.size(toks) < n, F.array(F.xxhash64(F.concat_ws(" ", toks)))
    ).otherwise(full)
    return F.array_distinct(grams)


def span_hashes(text: Column, k: int = 8) -> Column:
    """ALL k-token span hashes of ``text``, positional and non-distinct
    (array<long>) — the per-position variant of :func:`shingle_hashes`
    (same string-free xxhash64 chain). Documents shorter than k tokens
    yield an EMPTY array: a duplicated span is only meaningful at full
    window length."""
    toks = tokens(text)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    acc = hashes
    for j in range(1, k):
        shifted = F.slice(
            hashes, j + 1, F.greatest(F.size(hashes) - j, F.lit(0))
        )
        acc = F.zip_with(acc, shifted, lambda a, b: F.xxhash64(a, b))
    return F.slice(acc, 1, F.greatest(F.size(toks) - (k - 1), F.lit(0)))


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_dup_frac: float = 0.5,
) -> DataFrame:
    """Exact duplicate-SPAN statistics per document — the distributed
    k-gram formulation of exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": their
    suffix-array finds duplicated substrings of >= k tokens; hashing
    every k-token window finds exactly the same spans for window length
    k, with no global suffix array to build). A span position counts as
    duplicated iff its k-gram occurs in >= 2 DISTINCT documents
    (within-doc repetition is the repetition_stats family's job).

    Returns (id, n_spans, n_dup_spans, dup_frac, keep) where
    keep = dup_frac <= max_dup_frac.

    Scale shape: one explode (fan-out = tokens/doc), one groupBy on the
    span hash (map-side partial count), one hash equi-join back, one
    doc-level re-group — never a doc-pair join, so boilerplate shared by
    thousands of docs costs its position count, not a quadratic clique.
    """
    spans = df.select(
        F.col(id_col), span_hashes(F.col(text_col), k).alias("__spans")
    )
    pos = spans.select(id_col, F.explode("__spans").alias("__h"))
    shared = (
        pos.groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__h")
    )
    dup_counts = (
        pos.join(shared, "__h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__ndup"))
    )
    return (
        spans.select(id_col, F.size("__spans").cast("long").alias("n_spans"))
        .join(dup_counts, id_col, "left")
        .select(
            id_col,
            "n_spans",
            F.coalesce("__ndup", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.round(
                F.when(
                    F.col("n_spans") > 0,
                    F.coalesce("__ndup", F.lit(0)) / F.col("n_spans"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
        .withColumn("keep", F.col("dup_frac") <= max_dup_frac)
    )


def duplicate_span_rewrite(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact duplicate-span REMOVAL — the rewrite half of Lee et al.
    2022's substring dedup (duplicate_span_stats detects; this one
    produces the cleaned corpus). Keep-one-copy semantics at k-gram
    granularity: for every k-token span shared by >= 2 distinct docs,
    the OWNER (lowest id containing the span) keeps its tokens; every
    other doc drops all tokens covered by that span. Within-doc
    repetition is untouched (repetition_stats' job).

    Returns (id, n_tokens, n_removed, clean_text) — clean_text is the
    kept tokens rejoined with single spaces (tokenized form; the
    rewrite operates on the token stream like the reference algorithm).

    Scale shape: same as duplicate_span_stats — posexplode (fan-out =
    tokens/doc), one span-hash groupBy for the owner table (map-side
    partial min/countDistinct), one equi-join back, one doc-level
    collect of duplicate window starts. The final cover test is a
    higher-order-function filter over the token array (per-doc work
    bounded by tokens × dup-windows, both document-local) — never a
    doc-pair join, and the corpus text is never collected anywhere.
    """
    spans = df.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__toks"),
        span_hashes(F.col(text_col), k).alias("__spans"),
    )
    pos = spans.select(
        id_col, F.posexplode("__spans").alias("__p", "__h")
    )
    owners = (
        pos.groupBy("__h")
        .agg(
            F.countDistinct(id_col).alias("__nd"),
            F.min(id_col).alias("__owner"),
        )
        .filter(F.col("__nd") >= 2)
        .select("__h", "__owner")
    )
    dup_starts = (
        pos.join(owners, "__h")
        .filter(F.col(id_col) != F.col("__owner"))
        .groupBy(id_col)
        .agg(F.collect_set("__p").alias("__starts"))
    )
    starts = F.coalesce("__starts", F.array())
    kept = F.filter(
        "__toks",
        lambda t, i: ~F.exists(
            starts, lambda s: (i >= s) & (i < s + F.lit(k))
        ),
    )
    return (
        spans.join(dup_starts, id_col, "left")
        .select(
            id_col,
            F.size("__toks").cast("long").alias("n_tokens"),
            kept.alias("__kept"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.size("__kept")).cast("long").alias(
                "n_removed"
            ),
            F.array_join("__kept", " ").alias("clean_text"),
        )
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: md5 over the raw text, keep the lowest id per hash.

    Returns (id_col, text_hash, n_copies) for each surviving document.
    One shuffle on the 128-bit hash; at scale the groupBy gets map-side
    partial aggregation for free.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "text_hash", "n_copies")
    )


def _arrow_minhash(
    num_hashes: int,
    shingle_n: int,
    text_col: str,
    id_col: str,
    with_sets: bool = False,
):
    """mapInPandas kernel: vectorized numpy minhash signatures.

    Measured ~10x the throughput of the interpreted Catalyst HOF pipeline
    on one core (pd.util.hash_array + polynomial gram combine +
    minimum.reduceat). Deterministic: fixed hash key and fixed mixer
    constants (seed 42).

    with_sets=True additionally emits `shset`, the distinct (pre-mix)
    gram hashes per document — the exact-Jaccard verify set — so a
    candidates→verify pipeline needs ONE corpus pass, not two. Jaccard
    over these hashes equals string-shingle Jaccard up to 64-bit
    collisions, independent of hash family."""
    import numpy as np

    P = np.uint64(0x9E3779B97F4A7C15)
    C2 = np.uint64(0xC2B2AE3D27D4EB4F)
    rs = np.random.RandomState(42)
    mixers = (rs.randint(1, 2**63, num_hashes).astype(np.uint64)
              | np.uint64(1))

    def mix(x, c):
        x = (x ^ (x >> np.uint64(33))) * c
        x = (x ^ (x >> np.uint64(29))) * C2
        return x ^ (x >> np.uint64(32))

    def batches(it):
        import pandas as pd

        for pdf in it:
            toks = pdf[text_col].str.lower().str.findall(r"\w+")
            counts = toks.map(len).to_numpy()
            if len(counts) == 0:
                continue
            flat = (
                np.concatenate(
                    [np.asarray(x, dtype=object) for x in toks.to_numpy()]
                )
                if counts.sum() > 0
                else np.array([], dtype=object)
            )
            h = pd.util.hash_array(flat) if len(flat) else np.array([], dtype=np.uint64)
            n = shingle_n
            # polynomial combine of n consecutive token hashes
            if len(h) >= n:
                g = h[: len(h) - n + 1].copy()
                for j in range(1, n):
                    g = g * P + h[j : len(h) - n + 1 + j]
            else:
                g = np.array([], dtype=np.uint64)
            gcounts = np.maximum(counts - (n - 1), 0)
            # zero out grams that span document boundaries
            ends = np.cumsum(counts)
            valid = np.ones(len(g), dtype=bool)
            for e in ends[:-1]:
                valid[max(e - (n - 1), 0): min(e, len(g))] = False
            g = g[valid]
            offsets = np.concatenate([[0], np.cumsum(gcounts)[:-1]]).astype(np.int64)
            nonzero = gcounts > 0
            sigs = np.full((len(pdf), num_hashes), np.iinfo(np.uint64).max,
                           dtype=np.uint64)
            # short docs (< n tokens): one gram = combine of all token hashes
            short = ~nonzero
            short_at = {}
            if short.any():
                short_grams = np.zeros(int(short.sum()), dtype=np.uint64)
                si = 0
                for d_idx in np.where(short)[0]:
                    hh = h[ends[d_idx] - counts[d_idx]: ends[d_idx]]
                    acc = np.uint64(0)
                    for v in hh:
                        acc = acc * P + v
                    short_grams[si] = acc
                    short_at[d_idx] = si
                    si += 1
            for i in range(num_hashes):
                if nonzero.any():
                    hi = mix(g, mixers[i])
                    sigs[nonzero, i] = np.minimum.reduceat(hi, offsets[nonzero])
                if short.any():
                    sigs[short, i] = mix(short_grams, mixers[i])
            out = {
                id_col: pdf[id_col].to_numpy(),
                "signature": list(sigs.view(np.int64)),
            }
            if with_sets:
                shsets = []
                for d_idx in range(len(pdf)):
                    if gcounts[d_idx] > 0:
                        seg = g[offsets[d_idx]: offsets[d_idx] + gcounts[d_idx]]
                        shsets.append(np.unique(seg).view(np.int64))
                    else:
                        shsets.append(
                            short_grams[short_at[d_idx]: short_at[d_idx] + 1]
                            .view(np.int64)
                        )
                out["shset"] = shsets
            yield pd.DataFrame(out)

    return batches


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    with_sets: bool = False,
) -> DataFrame:
    """MinHash signature per document, computed by the vectorized numpy
    mapInPandas kernel `_arrow_minhash` (measured ~10x a JVM explode +
    per-component `min` aggregate pipeline).

    Hash family: hash each gram ONCE to 64 bits, then derive component i
    by remixing that hash with its own odd constant. Genuinely
    independent across components. (A Kirsch-Mitzenmacher h1 + i*h2
    family is measurably broken for MinHash: a single shared shingle
    with a globally small h1 wins EVERY component in both documents,
    scoring disjoint docs at est≈1.0 — observed, not hypothetical.)

    with_sets=True adds a `shset` column — the distinct gram hashes per
    doc, for exact-Jaccard verification from the same pass."""
    schema = f"{id_col} long, signature array<long>"
    if with_sets:
        schema += ", shset array<long>"
    src = df.select(F.col(id_col), F.col(text_col))
    # The kernel is CPU-bound, so its parallelism IS the input split
    # count — a small-file scan with fewer splits than the session
    # has slots leaves cores idle for the dominant stage of the
    # near-dup pipeline (measured at 10x data: 10 file splits on 32
    # cores, signatures 72% of the wall). One round-robin exchange
    # of the slim (id, text) projection buys full-width execution;
    # when the scan already has >= slots splits (any real corpus)
    # this is a no-op.
    target = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    return src.mapInPandas(
        _arrow_minhash(num_hashes, shingle_n, text_col, id_col, with_sets),
        schema,
    )


def _banded_keys(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    carry: str | None = None,
) -> DataFrame:
    """Explode a signature table into slim (id[, carry], band_idx,
    band_hash) rows — the join key side of banded LSH. band hash =
    xxhash64 over the band's signature components directly (no string
    building — multi-arg hash of longs stays cheap)."""
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.xxhash64(
                    *[
                        F.element_at("signature", b * rows_per_band + j + 1)
                        for j in range(rows_per_band)
                    ],
                    F.lit(b),
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    keep = [id_col] + ([carry] if carry else [])
    return sigs.select(
        *keep, F.explode(band_structs).alias("band")
    ).select(*keep, "band.band_idx", "band.band_hash")


def _cap_buckets(
    banded: DataFrame, key_cols: list[str], bucket_cap: int
) -> DataFrame:
    """Drop LSH buckets holding more than bucket_cap members before the
    pair join — the skew guard for boilerplate-heavy corpora, where one
    hot bucket (N near-identical docs) would emit N² pairs into one
    task. One extra count-aggregate + anti-join on the SAME key the pair
    join shuffles on. A dropped bucket only loses a pair if NO other
    bucket under the cap contains it; truly near-identical docs collide
    in every band, so cap-dropped groups should be handled by the exact
    stage upstream (identical docs) or a bigger cap."""
    hot = (
        banded.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > bucket_cap)
        .select(*key_cols)
    )
    return banded.join(hot, key_cols, "left_anti")


def _band_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    carry: str | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs from a signature table.

    Explodes each signature into `bands` (band_idx, band_hash) keys and
    self-equi-joins on them — the shuffle carries only the slim band keys
    plus `carry` (optionally the signature, for estimated Jaccard; omit
    it for a candidates-only join at minimum shuffle width). Returns
    (id_a, id_b[, {carry}_a, {carry}_b]) with id_a < id_b, deduped.
    ``bucket_cap`` drops hot buckets (see _cap_buckets)."""
    banded = _banded_keys(sigs, id_col, num_hashes, bands, carry=carry)
    if bucket_cap is not None:
        banded = _cap_buckets(banded, ["band_idx", "band_hash"], bucket_cap)
    keep = [id_col] + ([carry] if carry else [])

    a = banded.alias("a")
    b = banded.alias("b")
    sel = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    ]
    if carry:
        # Full-name aliases ({carry}_a) — a truncated prefix would
        # collide for carried columns sharing the first characters.
        sel += [
            F.col(f"a.{carry}").alias(f"{carry}_a"),
            F.col(f"b.{carry}").alias(f"{carry}_b"),
        ]
    # Dedup across bands WITHOUT a pair-keyed exchange (r15, guide §2.4):
    # repartitioning by id_a alone already co-locates every copy of a
    # pair (id_a determines the partition), so the dropDuplicates
    # aggregate runs on that distribution — HashPartitioning(id_a)
    # satisfies ClusteredDistribution(id_a, id_b) — and downstream
    # verify joins keyed on id_a reuse the SAME exchange instead of
    # paying a second pair-volume shuffle after a (id_a, id_b) one.
    return (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(*sel)
        .repartition(F.col("id_a"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    bands * rows_per_band = num_hashes; a pair collides if any band of the
    signature matches exactly. Estimated Jaccard = fraction of matching
    signature components, filtered at ``threshold``.

    Scale path: explode is per-band (constant factor `bands`, not data-
    dependent), the bucket join is an equi-join on (band_idx, band_hash) —
    shuffle-partitioned, skew handled by AQE. This is the standard
    shingle→minhash→band→bucket-join pipeline.
    Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    # Materialize signatures once — EAGERLY: the self-join references the
    # table on both sides, and a lazy checkpoint re-runs the kernel per
    # reference within its own first job. At 100 TB this is the standard
    # persist-the-signature-table step.
    sigs = sigs.localCheckpoint(eager=True)

    pairs = _band_candidate_pairs(
        sigs, id_col, num_hashes, bands, carry="signature"
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("signature_a", "signature_b", lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        pairs.select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """The production near-dup pipeline: MinHash-LSH band collisions for
    candidate generation, EXACT n-gram-Jaccard verification on the
    candidates only.

    Output (id_a, id_b, jaccard) is exact for every emitted pair, so the
    result is oracle-comparable against all-pairs Jaccard wherever the
    banding recall is 1.0 (it is on the test corpora — pytest gates it);
    at any scale it is the same candidates→verify shape, never quadratic:
    the verify join touches only band-colliding pairs. Candidates are NOT
    pre-filtered on estimated Jaccard — the exact filter decides.

    ONE corpus pass: the Arrow kernel emits signature AND distinct
    shingle-hash set together (checkpointed); the band join carries only
    slim (band_idx, band_hash) keys, and the verify joins fetch the sets
    by id from the same checkpoint — never through the band shuffle.
    """
    # EAGER checkpoint: the band join references this twice and the
    # verify joins twice more — a lazy checkpoint would run the Arrow
    # kernel once PER REFERENCE in the first job (lineage is only deduped
    # after materialization). One blocking kernel pass, three cheap reads.
    sigsets = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, with_sets=True
    ).localCheckpoint(eager=True)
    cands = _band_candidate_pairs(
        sigsets, id_col, num_hashes, bands, bucket_cap=bucket_cap
    )
    sa = sigsets.select(
        F.col(id_col).alias("id_a"), F.col("shset").alias("__sh_a")
    )
    sb = sigsets.select(
        F.col(id_col).alias("id_b"), F.col("shset").alias("__sh_b")
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    union = (
        F.size("__sh_a").cast("double") + F.size("__sh_b").cast("double")
        - inter
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity pairs (the oracle-checkable dedup).

    explode distinct shingles → self-equi-join on shingle → overlap counts.
    At 100 TB, hot shingles skew the join quadratically; `df_cap` drops
    stop-shingles that appear in more than df_cap documents from the
    universe BEFORE sizes and overlaps are computed (boilerplate carries
    no dedup signal; the Jaccard is then exact over the capped universe —
    the standard stop-shingle treatment). Default None = exact over all
    shingles, the oracle configuration.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    src = df.select(F.col(id_col), F.col(text_col))
    # Same small-scan widening as minhash_signatures (r14): the shingle
    # explode is the branch's CPU cost, and a scan with fewer splits
    # than the session has slots runs it nearly single-threaded. A
    # no-op on any real corpus (split count >= slots).
    target = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    sh = src.select(
        F.col(id_col),
        F.explode(shingle_hashes(F.col(text_col), shingle_n)).alias("shingle"),
    ).distinct().localCheckpoint(eager=False)  # referenced 3x below
    if df_cap is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        # hot set is small by construction -> broadcast anti join
        sh = sh.join(
            F.broadcast(hot), "shingle", "left_anti"
        ).localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))

    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            on=[
                F.col("a.shingle") == F.col("b.shingle"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs → (node, cluster)
    with cluster = min doc id reachable. The canonicalization step of a
    dedup pipeline: keep one doc per cluster.

    Iterative min-label propagation with POINTER HALVING: each round
    takes the min over neighbours' labels (one equi-join + min-agg) and
    then compresses label → label-of-label (one more self-join), so a
    chain of length D converges in O(log D) rounds, not O(D) — the
    standard large-graph CC acceleration (cf. the large-star/small-star
    formulation), making pathological long chains safe at 100 TB, not
    just the short chains real dedup data produces.

    The pair set is EAGERLY localCheckpointed first: the edge build
    references it twice, and a LAZY checkpoint does not dedupe lineage
    within its own first job — both union branches would re-execute the
    (expensive) pair-generation pipeline. One blocking pass here makes
    every later reference a checkpoint read. Per-round lineage is cut
    with lazy checkpoints (each is referenced only downstream).

    Per-round cost (r14 optimization, guide §2.4 — remove exchanges):
    SELF-LOOP edges fold the keep-own-label left-join into the
    neighbour min-aggregate, so a round is ONE equi-join + min-agg plus
    the halving self-join (was: join + agg + left-join + self-join),
    and convergence reads a one-row CHECKSUM from the same round's
    materialization: labels only ever decrease (min over a set that
    contains the current label), so an unchanged sum(label) IS a fixed
    point — no __old carry, no extra filter+count pass, checked every
    round instead of every other. The sum aggregates as decimal(38,0):
    ids are arbitrary longs and an ANSI bigint sum could overflow at
    100 TB node counts.
    """
    base = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        base.select(F.col("src").alias("node"))
        .unionByName(base.select(F.col("dst").alias("node")))
        .distinct()
    )
    edges = (
        base.unionByName(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .unionByName(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    checksum = None
    for _it in range(max_iter):
        # min over neighbours' labels; the self-loop keeps the own label
        # in the candidate set, so no keep-alive left join is needed.
        # Round 1 (r15): labels is the identity map, so the join is a
        # no-op rename (nlabel = dst) — fold it away and aggregate the
        # edge list directly, saving one edge×label shuffle join.
        if _it == 0:
            neigh_min = (
                edges.groupBy(F.col("src").alias("node"))
                .agg(F.min("dst").alias("label"))
            )
        else:
            neigh_min = (
                edges.join(
                    labels.select(
                        F.col("node").alias("dst"),
                        F.col("label").alias("nlabel"),
                    ),
                    "dst",
                )
                .groupBy(F.col("src").alias("node"))
                .agg(F.min("nlabel").alias("label"))
            )
        # pointer halving: label := min(label, label(label)) — labels are
        # min-reachable so label(label) is always ≤-or-equal along a path
        parent = neigh_min.select(
            F.col("node").alias("label"), F.col("label").alias("plabel")
        )
        labels = (
            neigh_min.join(parent, "label", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("plabel", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        new_checksum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        if new_checksum == checksum:
            break
        checksum = new_checksum
    return labels.select("node", F.col("label").alias("cluster"))


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """64-bit SimHash per document, computed per-row with array math.

    For each shingle hash h, bit k contributes +1 if set else -1; the
    signature bit k is 1 iff the sum is positive. Zero shuffles.
    """
    import numpy as np

    src = df.select(F.col(id_col), F.col(text_col))
    # Same small-scan widening as minhash_signatures (r14): shingle
    # hashing + the Arrow vote are the whole cost, and a scan with
    # fewer splits than slots leaves cores idle. No-op on real corpora.
    target = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    hashed = src.select(
        F.col(id_col),
        shingle_hashes(F.col(text_col), shingle_n).alias("__hashes"),
    )

    # Arrow kernel (r14, guide §4): the previous interpreted
    # higher-order aggregate evaluated ~64 zip_with lambdas per shingle
    # hash (~25k expression evals per doc) and dominated every simhash
    # consumer. Shingle hashing stays in the JVM (xxhash64); the bit
    # vote is pure int64 arithmetic — associative, exact — so the
    # vectorized fold below is bit-identical: arithmetic >> matches
    # Spark's shiftright on long, and the sign-bit pack accumulates in
    # uint64 then reinterprets, reproducing shiftleft(1L, 63)'s wrap.
    def sign_pack(it):
        import pandas as pd

        shifts = np.arange(64, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            lists = pdf["__hashes"]
            # null hash arrays (null text) fold to a null simhash, like
            # the SQL aggregate over a null array
            null_mask = np.fromiter(
                (l is None for l in lists), dtype=bool, count=len(lists)
            )
            counts = np.fromiter(
                (0 if l is None else len(l) for l in lists),
                dtype=np.int64,
                count=len(lists),
            )
            sums = np.zeros((len(lists), 64), dtype=np.int64)
            nz = counts > 0
            if nz.any():
                flat = np.concatenate(
                    [np.asarray(l, dtype=np.int64) for l in lists[nz]]
                )
                bits = (
                    ((flat[:, None] >> shifts) & 1) * 2 - 1
                ).astype(np.int64)
                offsets = np.concatenate(
                    ([0], np.cumsum(counts[nz])[:-1])
                )
                sums[nz] = np.add.reduceat(bits, offsets, axis=0)
            fp_u = (
                (sums > 0).astype(np.uint64)
                << shifts.astype(np.uint64)
            ).sum(axis=1, dtype=np.uint64)
            fp = pd.array(fp_u.view(np.int64), dtype="Int64")
            if null_mask.any():
                fp[null_mask] = pd.NA
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "simhash": fp,
                }
            )

    return hashed.mapInPandas(sign_pack, f"{id_col} long, simhash long")


def simhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on 16-bit chunks (any chunk equal
    → candidate; with 4 chunks this catches every pair within hamming 3),
    then verify with bit_count(xor). Returns (id_a, id_b, hamming).

    `bucket_cap` bounds hot-bucket blowup at extreme scale: (chunk_idx,
    chunk) buckets holding more than bucket_cap docs (near-identical
    boilerplate floods one bucket quadratically) are dropped before the
    join. A pair survives if ANY of its 4 chunks stays under the cap, so
    recall only degrades inside pathological boilerplate clusters —
    exactly the rows a dedup pipeline wants coarser handling for."""
    sigs = simhash(df, text_col, id_col, shingle_n).localCheckpoint(eager=False)
    chunk_expr = (
        "transform(sequence(0, 3), c -> named_struct("
        "'chunk_idx', c, "
        "'chunk', shiftrightunsigned(simhash, c * 16) & 65535))"
    )
    chunked = sigs.select(
        id_col,
        "simhash",
        F.explode(F.expr(chunk_expr)).alias("c"),
    ).select(id_col, "simhash", "c.chunk_idx", "c.chunk")
    if bucket_cap is not None:
        hot = (
            chunked.groupBy("chunk_idx", "chunk")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > bucket_cap)
            .select("chunk_idx", "chunk")
        )
        chunked = chunked.join(
            F.broadcast(hot), ["chunk_idx", "chunk"], "left_anti"
        )
    a, b = chunked.alias("a"), chunked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            on=[
                F.col("a.chunk_idx") == F.col("b.chunk_idx"),
                F.col("a.chunk") == F.col("b.chunk"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Incremental dedup: dedup a NEW batch against a canonical corpus through a
# slim persisted state table — the continuously-ingesting pipeline shape.
# ---------------------------------------------------------------------------


def dedup_state(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """The persistable dedup state of a corpus: (id, text_hash, signature,
    shset). ONE Arrow kernel pass emits signature + distinct shingle set;
    the exact-dedup md5 joins in from a plain projection. Persist this as
    parquet (partition count ~ corpus size); incremental batches then
    dedup against the STATE — never against the corpus text again. The
    state is ~1% of corpus bytes (64 longs + gram hashes vs full text),
    and parquet column pruning lets each consumer read only the columns
    its join needs."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, with_sets=True
    )
    hashes = df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_hash")
    )
    return sigs.join(hashes, id_col)


def _verified_jaccard(
    cands: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: join the distinct
    shingle sets by id (never through the band shuffle) and keep pairs at
    >= threshold. cands: (id_a, id_b); sets_x: (id_x, __sh_x)."""
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    union = (
        F.size("__sh_a").cast("double") + F.size("__sh_b").cast("double")
        - inter
    )
    return (
        cands.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_dedup_delta(
    batch: DataFrame,
    state: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Core of :func:`incremental_dedup`, returning (kept, state_delta)
    where state_delta is ONLY the kept rows' state — the rows to APPEND
    to the persisted state table. The append-only form is what a
    continuously-ingesting pipeline wants: per-batch state maintenance is
    an append of the survivors' slim rows, never a rewrite of the
    accumulated corpus state (streaming/corpus.py builds on this)."""
    bstate = dedup_state(
        batch, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint(eager=True)  # referenced by every stage below

    # (1) exact: corpus hash wins, then min id per hash within the batch
    fresh = bstate.join(
        state.select("text_hash"), "text_hash", "left_anti"
    )
    exact_keep_ids = (
        fresh.groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    cand = bstate.join(exact_keep_ids, id_col, "left_semi").localCheckpoint(
        eager=True
    )

    # (2) near-dup vs corpus: batch × state band join (NOT a self-join —
    # the state side is the build side; at scale both sides shuffle on
    # the slim band key only)
    nb = _banded_keys(cand, id_col, num_hashes, bands)
    sb = _banded_keys(state, id_col, num_hashes, bands)
    cross = (
        nb.alias("n")
        .join(
            sb.alias("s"),
            on=[
                F.col("n.band_idx") == F.col("s.band_idx"),
                F.col("n.band_hash") == F.col("s.band_hash"),
            ],
        )
        .select(
            F.col(f"n.{id_col}").alias("id_a"),
            F.col(f"s.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dup_vs_corpus = _verified_jaccard(
        cross,
        cand.select(F.col(id_col).alias("id_a"), F.col("shset").alias("__sh_a")),
        state.select(F.col(id_col).alias("id_b"), F.col("shset").alias("__sh_b")),
        threshold,
    ).select(F.col("id_a").alias(id_col)).distinct()
    survivors = cand.join(dup_vs_corpus, id_col, "left_anti").localCheckpoint(
        eager=True
    )

    # (3) near-dup within the batch: band self-join on survivors,
    # verify, cluster, keep each cluster's min id
    pairs = _verified_jaccard(
        _band_candidate_pairs(survivors, id_col, num_hashes, bands),
        survivors.select(
            F.col(id_col).alias("id_a"), F.col("shset").alias("__sh_a")
        ),
        survivors.select(
            F.col(id_col).alias("id_b"), F.col("shset").alias("__sh_b")
        ),
        threshold,
    )
    non_canonical = (
        dedup_clusters(pairs)
        .filter(F.col("node") != F.col("cluster"))
        .select(F.col("node").alias(id_col))
    )
    kept_state = survivors.join(non_canonical, id_col, "left_anti")

    kept = batch.join(kept_state.select(id_col), id_col, "left_semi")
    return kept, kept_state.select(*state.columns)


def incremental_dedup(
    batch: DataFrame,
    state: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a new batch against a canonical corpus WITHOUT rescanning it.

    Returns (kept, new_state):

    - kept: batch rows surviving (1) exact dedup — text_hash already in
      state drops the row, min id per hash wins within the batch; (2)
      near-dup vs the corpus — LSH band collision against state
      signatures, verified at exact Jaccard >= threshold (the corpus
      always wins); (3) near-dup within the batch — verified pairs →
      connected components, min id per cluster wins.
    - new_state: state ∪ the kept rows' state — feed it to the next
      batch. Rows already canonical stay canonical forever (stable ids).

    Scale shape: each increment costs one signature pass over the BATCH
    plus band equi-joins against the state's slim (band_idx, band_hash)
    keys. The corpus text is never re-read; state reads prune to the
    columns each join needs (text_hash / signature / shset). Nothing is
    quadratic: cross and within-batch verification touch only band
    collisions. For a persisted state table, prefer
    :func:`incremental_dedup_delta` + parquet append over rewriting the
    union this function returns."""
    kept, delta = incremental_dedup_delta(
        batch, state, text_col, id_col, num_hashes, bands, shingle_n,
        threshold,
    )
    return kept, state.unionByName(delta)
