"""Similarity search over embedding columns (array<float>).

brute_force_topk — exact cosine top-k: per-task numpy matrix product in
mapInPandas + per-query bounded top-k window.
Correct at any scale but O(N*Q); the baseline and the verifier for the
approximate path.

lsh_topk — random-hyperplane LSH: deterministic pseudo-random planes from
xxhash64, sign-bit bucket code, candidates = bucket collisions (multi-probe
by band), exact cosine re-rank within candidates. The 100 TB path: the
bucket join is an equi-join; plane generation is constant folding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Hard bound on how many query rows ivf_topk will collect to the driver
# for probe selection (~0.5 KB/row at dim 64 → ≤ ~4 MB). Larger query
# sides must use ivf_topk_bipartite, which never collects.
_IVF_QUERY_CAP = 8192

# Hard bound on the quantizer training sample (rows fetched to the driver
# for Lloyd's k-means).
_TRAIN_CAP = 65536


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array columns, computed in float64."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k of `corpus` rows for each query row.

    queries: (query_id_col, vec_col). The query side is small by ANN
    convention (it ships to every scorer); the corpus is scanned once, no
    shuffle until the final per-query top-k (window over query_id —
    bounded state). Ties broken by ascending corpus id for determinism.

    Scores with a numpy matrix product inside mapInPandas (BLAS,
    float64) — the vectorized path for wide fan-out.

    r14 optimization (guide §2.3 — aggregate before the shuffle, and
    before the Python→JVM boundary): the Arrow kernel keeps a running
    per-task top-k per query and emits ONLY nq·k candidate rows per
    task instead of nrow·nq scored pairs. Every global top-k row is by
    definition in its task's top-k under the same total order
    (cosine desc, id asc — ids are unique), so the downstream window
    over the surviving candidates returns the identical result; the
    boundary transfer and the final sort shrink from corpus-sized to
    candidate-sized.
    """
    import numpy as np

    qrows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def batches(it):
        import pandas as pd

        nq = qids.shape[0]
        run_i = np.empty((0, nq), dtype=np.int64)
        run_c = np.empty((0, nq), dtype=np.float64)
        for pdf in it:
            m = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            cos = np.round((m / norms) @ qn.T, 6)  # rows x nq
            ids = pdf[id_col].to_numpy(np.int64)
            # id-ascending pre-sort + STABLE score argsort = exact
            # (cosine desc, id asc) batch order, fully vectorized
            perm = np.argsort(ids, kind="stable")
            ids_s, cos_s = ids[perm], cos[perm]
            top = np.argsort(-cos_s, axis=0, kind="stable")[:k]
            cand_i = np.vstack([run_i, ids_s[top]])
            cand_c = np.vstack(
                [run_c, np.take_along_axis(cos_s, top, axis=0)]
            )
            nkeep = min(k, cand_i.shape[0])
            keep_i = np.empty((nkeep, nq), dtype=np.int64)
            keep_c = np.empty((nkeep, nq), dtype=np.float64)
            for j in range(nq):  # nq columns of ≤2k candidates
                order = np.lexsort((cand_i[:, j], -cand_c[:, j]))[:k]
                keep_i[:, j] = cand_i[order, j]
                keep_c[:, j] = cand_c[order, j]
            run_i, run_c = keep_i, keep_c
        if run_i.size:
            yield pd.DataFrame(
                {
                    query_id_col: np.tile(qids, run_i.shape[0]),
                    id_col: run_i.ravel(),
                    "cosine": run_c.ravel(),
                }
            )

    scored = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        batches, f"{query_id_col} long, {id_col} long, cosine double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def bucket_code_expr(vec_col: str, num_planes: int, dim: int) -> Column:
    """Random-hyperplane sign-bit code (int64) of an embedding.

    Planes are deterministic pseudo-random unit-cube vectors derived from
    xxhash64('plane', p, j) — constant-foldable, no side data to ship.
    SQL-expression form because the shift amount is a lambda variable.

    `dim` MUST equal the embedding length: zip_with null-pads a shorter
    side, nulling the plane dot products (callers should derive it from
    the data, as lsh_topk does).
    """
    return F.expr(
        f"aggregate(sequence(0, {num_planes - 1}), 0L, (acc, p) -> "
        f"acc | IF(aggregate(zip_with({vec_col}, "
        f"transform(sequence(0, {dim - 1}), j -> "
        f"cast(xxhash64('plane', p, j) as double) / 9.223372036854775808E18), "
        f"(x, w) -> cast(x as double) * w), cast(0 as double), (a, v) -> a + v) > 0, "
        f"shiftleft(1L, p), 0L))"
    )


def embedding_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ τ) —
    EXACT all-pairs, the ground truth for embedding dedup.

    Scoring is a blocked BLAS product: each Arrow batch of rows is
    multiplied against the full normalized corpus matrix (shipped in the
    closure). Exact all-pairs is quadratic by definition — test-scale
    ground truth, same role as ngram_jaccard_pairs; the 100 TB path routes
    through lsh_topk/ivf_topk candidates + exact re-rank.
    """
    import numpy as np

    rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    m = np.array([list(r[1]) for r in rows], dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)

    def batches(it):
        import pandas as pd

        for pdf in it:
            bm = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            bn = bm / np.linalg.norm(bm, axis=1, keepdims=True)
            bids = pdf[id_col].to_numpy()
            cos = np.round(bn @ mn.T, 6)
            rs, cs = np.where(cos >= threshold)
            keep = bids[rs] < ids[cs]
            yield pd.DataFrame(
                {
                    "id_a": bids[rs][keep],
                    "id_b": ids[cs][keep],
                    "cosine": cos[rs, cs][keep],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        batches, "id_a long, id_b long, cosine double"
    )


def embedding_dup_pairs_blocked(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ τ),
    exact, with NO driver-side corpus materialization.

    Block-pair decomposition: rows are hashed into ``num_blocks`` blocks;
    each unordered block pair (i ≤ j) becomes one applyInPandas group
    holding only those two blocks (≤ 2·N/B vectors), scored with one BLAS
    product. Every unordered row pair lands in exactly one group, so the
    result equals the all-pairs ground truth (embedding_dup_pairs) while
    executor memory stays bounded by the block size and the driver ships
    nothing but the B² block-pair list. Shuffle cost is B+1 copies of the
    corpus — pick B ≈ sqrt(corpus_bytes / executor_budget) at scale.
    Still O(N²) compute by definition of exact dedup; the sub-quadratic
    path is lsh_topk/ivf_topk candidates + re-rank.
    """
    import pandas as pd

    spark = corpus.sparkSession
    pairs = spark.createDataFrame(
        [(i, j) for i in range(num_blocks) for j in range(i, num_blocks)],
        "bi int, bj int",
    )
    blocked = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(num_blocks))
        .cast("int")
        .alias("__blk"),
    )
    side_a = blocked.join(
        F.broadcast(pairs), on=blocked["__blk"] == pairs["bi"]
    ).select("bi", "bj", "__id", "__vec", F.lit(0).alias("__side"))
    side_b = blocked.join(
        F.broadcast(pairs), on=blocked["__blk"] == pairs["bj"]
    ).select("bi", "bj", "__id", "__vec", F.lit(1).alias("__side"))
    both = side_a.unionByName(side_b)

    def score(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        bi, bj = key
        a = pdf[pdf["__side"] == 0]
        b = pdf[pdf["__side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        am = np.array([list(v) for v in a["__vec"]], dtype=np.float64)
        bm = np.array([list(v) for v in b["__vec"]], dtype=np.float64)
        am /= np.linalg.norm(am, axis=1, keepdims=True)
        bm /= np.linalg.norm(bm, axis=1, keepdims=True)
        aids = a["__id"].to_numpy()
        bids = b["__id"].to_numpy()
        cos = np.round(am @ bm.T, 6)
        rs, cs = np.where(cos >= threshold)
        ia, ib = aids[rs], bids[cs]
        if bi == bj:
            # diagonal: every unordered pair appears twice (+ self-pairs);
            # the a<b filter keeps exactly one orientation
            keep = ia < ib
            ia, ib, sc = ia[keep], ib[keep], cos[rs, cs][keep]
        else:
            # off-diagonal: blocks are disjoint, each unordered pair
            # appears exactly once — orient by id, never drop
            sc = cos[rs, cs]
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": sc})

    return both.groupBy("bi", "bj").applyInPandas(
        score, "id_a long, id_b long, cosine double"
    )


def _lloyd(x, k: int, iters: int = 10, seed: int = 42):
    """Lloyd's k-means with k-means++ seeding on an in-memory sample
    (numpy, vectorized).

    Deterministic (seeded init, stable argmax tie-break); empty cells are
    re-seeded from the point farthest from its centroid so every cell id
    stays live. Driver-side by design: the IVF coarse quantizer trains on
    a bounded sample regardless of corpus size."""
    import numpy as np

    rng = np.random.RandomState(seed)
    # k-means++: spread the seeds D²-proportionally — random init routinely
    # merges nearby clusters, which a coarse quantizer can't afford
    cent = np.empty((k, x.shape[1]), dtype=np.float64)
    cent[0] = x[rng.randint(len(x))]
    d2 = ((x - cent[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        total = d2.sum()
        if total <= 0:
            cent[j] = x[rng.randint(len(x))]
            continue
        cent[j] = x[np.searchsorted(np.cumsum(d2 / total), rng.rand())]
        d2 = np.minimum(d2, ((x - cent[j]) ** 2).sum(axis=1))
    for _ in range(iters):
        scores = x @ cent.T - 0.5 * (cent * cent).sum(axis=1)
        assign = scores.argmax(axis=1)
        dists = (x * x).sum(axis=1) - 2 * scores[np.arange(len(x)), assign]
        for j in range(k):
            mask = assign == j
            if mask.any():
                cent[j] = x[mask].mean(axis=0)
            else:
                cent[j] = x[dists.argmax()]
    return cent


def _train_and_assign_cells(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    num_cells: int,
    train_fraction: float | None = None,
    centroids=None,
):
    """Shared IVF front half: train the coarse quantizer on a seeded,
    driver-bounded sample and assign every corpus vector to its nearest
    cell in one Arrow-batched pass. Returns (centroids ndarray, assigned
    DataFrame with a `cell` column).

    ``centroids`` (ndarray [num_cells, dim]) skips training and pins the
    quantizer — the deterministic-slice mode whose assignment argmax has
    a closed-form SQL formulation (the k-means path does not)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if centroids is not None:
        cent = np.asarray(centroids, dtype=np.float64)
        if cent.shape[0] != num_cells:
            raise ValueError(
                f"pinned centroids: got {cent.shape[0]}, want {num_cells}"
            )
    else:
        # NB: fraction must be passed by KEYWORD — PySpark's sample() arg
        # shuffling drops an explicit seed when fraction arrives
        # positionally in the withReplacement slot, silently making the
        # sample random.
        sample = (
            corpus.sample(fraction=train_fraction, seed=42)
            if train_fraction and train_fraction < 1.0
            else corpus
        )
        # deterministic, driver-bounded training set: ≳256 points per
        # cell is plenty for a coarse quantizer (FAISS trains IVF the
        # same way); the hard cap keeps the driver transfer + Lloyd
        # cost bounded as cells scale ~sqrt(N) — at 64k the floor is
        # still >100 points/cell up to ~600 cells, and past that the
        # per-cell sample thins gracefully (FAISS's own warn-but-train
        # regime; a corpus needing tens of thousands of cells would
        # move to hierarchical / distributed quantizer training).
        train_cap = min(max(num_cells * 256, 4096), _TRAIN_CAP)
        # Arrow toPandas, NOT collect(): the py4j row path serializes
        # each vector element-by-element and was the dominant cost of
        # quantizer training at 10x data (train set grows with cells).
        pdf = (
            sample.select(
                F.col(id_col).alias("__i"), F.col(vec_col).alias("__v")
            )
            .sort("__i")
            .limit(train_cap)
            .toPandas()
        )
        if len(pdf) < num_cells:
            raise ValueError(
                f"IVF needs ≥ num_cells={num_cells} training vectors,"
                f" got {len(pdf)}"
            )
        x = np.asarray(list(pdf["__v"]), dtype=np.float64)
        cent = _lloyd(x, num_cells, iters=10, seed=42)

    bc = corpus.sparkSession.sparkContext.broadcast(cent)

    def _nearest_cell_fn(vecs):
        c = bc.value
        m = np.asarray(list(vecs), dtype=np.float64)
        # argmin ||v-c||² = argmax (v·c - ||c||²/2), batched BLAS
        scores = m @ c.T - 0.5 * (c * c).sum(axis=1)
        return pd.Series(scores.argmax(axis=1).astype("int32"))

    # module uses `from __future__ import annotations`, which stringifies
    # hints; pandas_udf needs the real objects to infer the eval type
    _nearest_cell_fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    # asNondeterministic: a downstream join/filter on `cell` otherwise
    # pushes an isnotnull(cell) probe BELOW the projection and the plan
    # evaluates the UDF twice per corpus row (two ArrowEvalPython nodes —
    # guide §4.4); the assignment is pure, the marker only pins it to one
    # evaluation.
    _nearest_cell = pandas_udf(_nearest_cell_fn, "int").asNondeterministic()

    assigned = corpus.select(
        id_col, vec_col, _nearest_cell(F.col(vec_col)).alias("cell")
    )
    return cent, assigned


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int | None = 16,
    threshold: float = 0.95,
    train_fraction: float | None = None,
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic near-duplicate
    pruning by clustering embeddings and dropping, within each cluster,
    every vector whose cosine to a LOWER-id cluster member reaches the
    threshold — the greedy keep-first rule, so the kept set is pairwise
    sub-threshold inside every cell and the output is deterministic.

    The scale shape is the SemDeDup paper's own: k-means restricts the
    quadratic similarity check to within-cluster pairs (cells ~ N/k; pick
    k ~ sqrt(N) like IVF so per-cell work stays bounded), the quantizer
    trains on a driver-bounded seeded sample, assignment is one Arrow
    pass, and the per-cell check is applyInPandas over cell groups with
    row-blocked BLAS (memory O(block × cell), never cell²  at once).

    Returns (id, cell, nn_sim, keep): nn_sim = max cosine to an earlier
    cell member (-1.0 for the cell's first/loneliest vectors), keep ∈
    {0,1}.

    ``num_cells=None`` auto-scales the cell count to ~sqrt(N) (one cheap
    count() over the corpus) — the SemDeDup/IVF sizing rule that keeps
    per-cell occupancy ~sqrt(N), so the within-cell pairwise check grows
    ~N^1.5 total instead of N²/cells with a pinned cell count (r15,
    guide §2.5: the fixed-cells shape measured 3.0x at 10x data). The
    rule is capped at _TRAIN_CAP // 16 = 4,096 cells (reached at ~1.7e7
    rows), so the cell count never exceeds the quantizer's training
    sample; past the cap, per-cell occupancy grows instead.
    """
    import math

    import numpy as np
    import pandas as pd

    if num_cells is None:
        n_corpus = corpus.count()
        num_cells = max(1, min(math.isqrt(n_corpus), n_corpus, _TRAIN_CAP // 16))

    _, assigned = _train_and_assign_cells(
        corpus, id_col, vec_col, num_cells, train_fraction,
        centroids=centroids,
    )

    def prune(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        n = np.linalg.norm(x, axis=1)
        n[n == 0] = 1.0
        xn = x / n[:, None]
        nn = np.full(len(pdf), -1.0)
        for lo in range(1, len(pdf), 1024):
            hi = min(lo + 1024, len(pdf))
            # rows lo..hi vs ALL earlier rows (0..hi-1, masked triangular)
            g = xn[lo:hi] @ xn[:hi].T
            mask = np.arange(hi)[None, :] >= np.arange(lo, hi)[:, None]
            g[mask] = -1.0
            nn[lo:hi] = g.max(axis=1)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell": pdf["cell"],
                "nn_sim": np.round(nn, 6),
                "keep": (nn < threshold).astype("int32"),
            }
        )

    prune.__annotations__ = {}
    return assigned.groupBy("cell").applyInPandas(
        prune, f"{id_col} long, cell int, nn_sim double, keep int"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_cells: int = 16,
    nprobe: int = 4,
    train_fraction: float | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer trained on a bounded
    sample → cell-partitioned corpus → probe the nprobe nearest cells per
    query → exact cosine re-rank inside them.

    The 100 TB shape (the FAISS IVF recipe): the quantizer is Lloyd's
    k-means run IN DRIVER MEMORY on a seeded bounded sample (a coarse
    quantizer needs ~100s of points per centroid, never the corpus — one
    numpy array, zero Spark jobs per iteration), centroids broadcast,
    assignment is ONE Arrow-batched pass over the corpus, and the search
    join touches ~nprobe/num_cells of the corpus — an equi-join on cell
    id, skew-safe via AQE. Centroid count scales with corpus size (rule
    of thumb sqrt(N)); nprobe trades recall for cost.
    """
    cent, assigned = _train_and_assign_cells(
        corpus, id_col, vec_col, num_cells, train_fraction
    )

    # Probe-cell selection runs ON THE DRIVER (r14 optimization): the
    # query side is small by ANN convention (it is broadcast below either
    # way), and num_cells × nq cosines are driver-trivial — the previous
    # crossJoin + window subplan cost a broadcast-build job with its own
    # exchange per query run. The fold replicates the JVM `cosine()`
    # expression bit-exactly — sequential accumulation in element order,
    # query-norm squares at FLOAT precision (zip_with over two float
    # arrays multiplies before widening), dot products widened per
    # element (float query × double centroid) — so the nprobe ranking,
    # including float ties, matches the old crossJoin+window plan's.
    # __qvec stays array<float> for the same reason: the exact re-rank
    # below must keep multiplying at float precision as before.
    import math

    import numpy as np

    def _probe_cos(q: list[float], c: list[float]) -> float:
        dot = acc_q = acc_c = 0.0
        for x, y in zip(q, c):
            dot += x * y                        # double × double
            acc_q += float(np.float32(x) * np.float32(x))  # fl32 square
            acc_c += y * y                      # centroid is double
        return dot / (math.sqrt(acc_q) * math.sqrt(acc_c))

    # Enforced nq bound (r15): the query side is collected to the driver
    # for probe selection, which is only sane for ANN-convention-small
    # query slices. Probe with limit(cap+1) — bm25's _TERM_LIT_CAP
    # pattern — and fail loudly instead of silently collecting an
    # unbounded side; a large query side belongs in ivf_topk_bipartite,
    # which keeps both sides distributed.
    qrows = (
        queries.select(F.col(query_id_col), F.col(vec_col))
        .limit(_IVF_QUERY_CAP + 1)
        .collect()
    )
    if len(qrows) > _IVF_QUERY_CAP:
        raise ValueError(
            f"ivf_topk collects the query side to the driver (> "
            f"{_IVF_QUERY_CAP} rows found); use ivf_topk_bipartite for "
            f"large query sides"
        )
    cent_lists = [[float(v) for v in c] for c in cent]
    probe_rows = []
    for r in qrows:
        qv = [float(v) for v in r[1]]
        cds = [_probe_cos(qv, c) for c in cent_lists]
        order = sorted(range(len(cds)), key=lambda i: (-cds[i], i))[:nprobe]
        probe_rows.extend((r[0], qv, int(cell)) for cell in order)
    probe_cells = corpus.sparkSession.createDataFrame(
        probe_rows, f"{query_id_col} long, __qvec array<float>, cell int"
    )
    scored = assigned.join(F.broadcast(probe_cells), "cell").select(
        query_id_col,
        id_col,
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH banding for candidates, exact
    cosine re-rank. A candidate collides with the query on ≥1 band of
    sign bits. Recall < 1.0 by construction; verified against
    brute_force_topk in tests.

    dim must equal the embedding length — zip_with would otherwise
    null-pad and silently degrade the bucket codes. Left None (default),
    it is derived from the corpus with one tiny first() job."""
    if dim is None:
        row = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        if row is None:
            raise ValueError("empty corpus: cannot derive embedding dim")
        dim = row["d"]
    bits_per_band = num_planes // bands

    band_expr = (
        f"transform(sequence(0, {bands - 1}), b -> named_struct("
        f"'band_idx', b, "
        f"'band_val', shiftrightunsigned(__code, b * {bits_per_band}) "
        f"& {(1 << bits_per_band) - 1}))"
    )

    def banded(df: DataFrame, idc: str) -> DataFrame:
        code = bucket_code_expr(vec_col, num_planes, dim)
        return df.select(
            F.col(idc), F.col(vec_col), code.alias("__code")
        ).select(
            idc,
            vec_col,
            F.explode(F.expr(band_expr)).alias("b"),
        ).select(idc, vec_col, "b.band_idx", "b.band_val")

    c = banded(corpus, id_col)
    q = F.broadcast(
        banded(
            queries.select(F.col(query_id_col), F.col(vec_col)), query_id_col
        ).withColumnRenamed(vec_col, "__qvec")
    )
    cands = (
        c.join(q, on=["band_idx", "band_val"])
        .select(query_id_col, id_col, vec_col, "__qvec")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cands.select(
        query_id_col,
        id_col,
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization — the storage/IO scale lever for ANN.
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q = round(v * 127 /
    max|v|), carried with its float32 scale — 4x smaller than float32
    storage (the difference between an embedding store fitting executor
    page cache at 100 TB or not). Pure built-ins, zero shuffles;
    dequantized value = q * scale, scale = max|v| / 127. Vectors of all
    zeros get scale 0 and an all-zero code (dequantizes exactly).

    Cosine over quantized vectors is scale-INVARIANT: the per-vector
    scale cancels in q·q' / (|q||q'|), so search needs only the int8
    codes — scales matter only for dot-product/L2 reconstruction."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    qvec = F.when(amax > 0, F.transform(
        v, lambda x: F.round(x.cast("double") * 127.0 / amax).cast("tinyint")
    )).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.select(
        F.col(id_col),
        qvec.alias("qvec"),
        scale.cast("float").alias("scale"),
    )


def dequantize_expr(qvec: Column, scale: Column) -> Column:
    """array<float> reconstruction of a quantized vector."""
    return F.transform(qvec, lambda q: (q.cast("double") * scale).cast("float"))


def brute_force_topk_quantized(
    corpus_q: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k over an int8-quantized corpus (qvec, scale) —
    same contract as brute_force_topk but the corpus scan reads 1/4 the
    bytes. Scoring dequantizes per Arrow batch into one float32 matrix
    and uses the same BLAS product; cosine is computed on the quantized
    values (scale cancels), so results differ from the float path only
    by the ±1/254 rounding of each component."""
    import numpy as np

    qrows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def batches(it):
        import pandas as pd

        for pdf in it:
            m = np.array([list(v) for v in pdf["qvec"]], dtype=np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            cos = np.round((m / norms) @ qn.T, 6)
            nrow, nq = cos.shape
            yield pd.DataFrame(
                {
                    query_id_col: np.tile(qids, nrow),
                    id_col: np.repeat(pdf[id_col].to_numpy(), nq),
                    "cosine": cos.ravel(),
                }
            )

    scored = corpus_q.select(F.col(id_col), F.col("qvec")).mapInPandas(
        batches, f"{query_id_col} long, {id_col} long, cosine double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------------------------- product
# quantization (PQ): the memory-scale path beyond int8 — m sub-vector
# codebooks of ksub centroids each compress dim*4 bytes to m code bytes
# (e.g. 64-dim float32 = 256 B -> 8 B at m=8), with asymmetric-distance
# (ADC) scoring against per-query lookup tables. The standard
# billion-vector layout (Jegou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"; FAISS IndexPQ).

def pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    train_fraction: float | None = None,
    seed: int = 42,
):
    """Train per-subspace codebooks on a seeded, driver-bounded sample
    (same FAISS-style bounded-training contract as the IVF coarse
    quantizer — the driver never holds the corpus). Returns an ndarray
    (m, ksub, dim/m) float64. Deterministic: sorted-limit sample +
    seeded k-means++."""
    import numpy as np

    sample = (
        corpus.sample(fraction=train_fraction, seed=seed)
        if train_fraction and train_fraction < 1.0
        else corpus
    )
    train_cap = max(ksub * 256, 4096)
    rows = (
        sample.select(F.col(id_col).alias("__i"), F.col(vec_col).alias("__v"))
        .sort("__i")
        .limit(train_cap)
        .collect()
    )
    if len(rows) < ksub:
        raise ValueError(f"PQ needs >= ksub={ksub} training vectors")
    x = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        books[j] = _lloyd(x[:, j * dsub : (j + 1) * dsub], ksub, seed=seed + j)
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector as its per-subspace nearest-centroid codes —
    (id, codes array<smallint> of length m). One Arrow-batched BLAS pass
    with the (tiny) codebooks broadcast; zero shuffles."""
    import numpy as np

    bc = corpus.sparkSession.sparkContext.broadcast(codebooks)

    def batches(it):
        import pandas as pd

        cb = bc.value
        m, ksub, dsub = cb.shape
        cn2 = 0.5 * (cb * cb).sum(axis=2)  # (m, ksub)
        for pdf in it:
            x = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            codes = np.empty((len(x), m), dtype=np.int16)
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = (sub @ cb[j].T - cn2[j]).argmax(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        batches, f"{id_col} long, codes array<smallint>"
    )


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
    refine: int = 0,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC cosine top-k over PQ codes: each query builds an (m, ksub)
    inner-product lookup table against the codebooks; a corpus vector's
    score is m table gathers + a sum (never a float reconstruction),
    normalized by the code's reconstruction norm (per-code norms are a
    second tiny table). With refine=r > 0 and the float corpus supplied,
    the ADC top r*k shortlist is re-ranked by exact cosine — the
    standard PQ + refine pipeline; the corpus-wide scan still reads only
    the m-byte codes, and the refine join touches r*k rows per query.
    """
    import numpy as np

    qrows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    m, ksub, dsub = codebooks.shape
    # per-query LUTs: (nq, m, ksub) inner products, plus per-code sq-norms
    luts = np.einsum(
        "qjd,jkd->qjk", qn.reshape(len(qn), m, dsub), codebooks
    )
    cn2 = (codebooks * codebooks).sum(axis=2)  # (m, ksub)

    sc = corpus_codes.sparkSession.sparkContext
    bc_luts, bc_cn2, bc_qids = sc.broadcast(luts), sc.broadcast(cn2), sc.broadcast(qids)

    def batches(it):
        import pandas as pd

        lut, c2, qi = bc_luts.value, bc_cn2.value, bc_qids.value
        for pdf in it:
            codes = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            n = len(codes)
            cols = np.arange(m)
            # recon norm per corpus code (query-independent)
            rn = np.sqrt(c2[cols, codes].sum(axis=1))
            rn[rn == 0] = 1.0
            # ADC gather: (nq, n) = sum_j lut[q, j, codes[:, j]]
            scores = lut[:, cols, codes].sum(axis=2)  # (nq, n)
            cos = np.round(scores / rn, 6)
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(qi, n),
                    id_col: np.tile(pdf[id_col].to_numpy(), len(qi)),
                    "cosine": cos.ravel(),
                }
            )

    scored = corpus_codes.select(id_col, "codes").mapInPandas(
        batches, f"{query_id_col} long, {id_col} long, cosine double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    shortlist = k * refine if refine and corpus is not None else k
    ranked = (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= shortlist)
    )
    if not refine or corpus is None:
        return ranked
    # exact re-rank of the shortlist against the float corpus
    refined = (
        ranked.drop("cosine", "rank")
        .join(corpus.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(
                queries.select(
                    query_id_col, F.col(vec_col).alias("__qv")
                )
            ),
            query_id_col,
        )
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col(vec_col), F.col("__qv")), 6).alias("cosine"),
        )
    )
    return (
        refined.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_cells: int = 8,
    nprobe: int = 3,
    m: int = 16,
    ksub: int = 32,
    refine: int = 10,
    train_fraction: float | None = None,
):
    """IVF-PQ: the billion-vector FAISS layout (IndexIVFPQ) — coarse
    cells bound WHICH vectors a query touches (~nprobe/num_cells of the
    corpus, an equi-join on cell id), residual product quantization
    bounds what each touched vector COSTS (m code bytes + table
    gathers, never a float read). Corpus vectors are L2-normalized
    first so cosine == inner product; PQ codebooks are trained on
    RESIDUALS (v/|v| − centroid[cell]) from the same seeded bounded
    sample contract as every other trainer here, and the score
    decomposes exactly as q·centroid[cell] + Σ_j LUT[q][j, code_j]
    (the residual LUT is cell-independent because codebooks are
    global). ADC shortlist of refine*k re-ranks against the float
    corpus. Returns (query_id, id, cosine, rank).
    """
    import numpy as np
    import pandas as pd

    # L2 normalization runs in numpy INSIDE the Arrow kernels, not as a
    # Catalyst higher-order transform (r14): the previous
    # transform(x -> x / sqrt(aggregate(...))) re-derived the row norm
    # per ELEMENT in interpreted HOF evaluation — O(dim²) per row and
    # ~1.2 s per corpus pass at bench scale, paid three times (trainer
    # fetch, codebook-sample fetch, encode). The numpy fold below
    # accumulates squares LEFT-TO-RIGHT across elements (vectorized
    # over rows), the exact order of the old JVM aggregate, so the
    # normalized values — and every centroid/code/score downstream —
    # are bit-identical.
    def _seq_normalize(v: "np.ndarray") -> "np.ndarray":
        x = v.astype(np.float64, copy=False)
        acc = np.zeros(len(x), dtype=np.float64)
        for j in range(x.shape[1]):
            acc += x[:, j] * x[:, j]
        return x / np.sqrt(acc)[:, None]

    # trainer + codebook samples as raw-column Arrow fetches (ids
    # ascending), normalized on the driver. The k-means trainer draws
    # from the (optionally sampled) corpus exactly like
    # _train_and_assign_cells; the residual codebooks draw from the
    # FULL corpus prefix, as the previous assigned-table fetch did.
    # With no train_fraction the trainer rows are a prefix of the
    # codebook rows, so one fetch serves both.
    train_cap = min(max(num_cells * 256, 4096), _TRAIN_CAP)
    pq_cap = max(ksub * 256, 4096)

    def _raw_fetch(df, cap):
        return (
            df.select(
                F.col(id_col).alias("__i"), F.col(vec_col).alias("__v")
            )
            .sort("__i")
            .limit(cap)
            .toPandas()
        )

    if train_fraction and train_fraction < 1.0:
        pdf_t = _raw_fetch(
            corpus.sample(fraction=train_fraction, seed=42), train_cap
        )
        pdf_s = _raw_fetch(corpus, pq_cap)
    else:
        pdf_s = _raw_fetch(corpus, max(pq_cap, train_cap))
        pdf_t = pdf_s.iloc[:train_cap]
    if len(pdf_t) < num_cells:
        raise ValueError(
            f"IVF needs ≥ num_cells={num_cells} training vectors,"
            f" got {len(pdf_t)}"
        )
    x = _seq_normalize(
        np.asarray(list(pdf_s["__v"].iloc[:pq_cap]), dtype=np.float32)
    )
    xt = _seq_normalize(np.asarray(list(pdf_t["__v"]), dtype=np.float32))
    cent = _lloyd(xt, num_cells, iters=10, seed=42)
    # same argmax formula (and float64 dtype) as the assignment kernel,
    # so driver-side cells match the distributed assignment exactly
    cells = (x @ cent.T - 0.5 * (cent * cent).sum(axis=1)).argmax(axis=1)
    resid = x - cent[cells]
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        books[j] = _lloyd(resid[:, j * dsub : (j + 1) * dsub], ksub, seed=42 + j)

    sc = corpus.sparkSession.sparkContext
    bc_cent, bc_books = sc.broadcast(cent), sc.broadcast(books)

    def encode(it):
        cb, ct = bc_books.value, bc_cent.value
        cn2 = 0.5 * (cb * cb).sum(axis=2)
        ctn2 = 0.5 * (ct * ct).sum(axis=1)
        for pdf in it:
            if not len(pdf):
                continue
            v = _seq_normalize(
                np.array([list(r) for r in pdf["__raw"]], dtype=np.float32)
            )
            cell = (v @ ct.T - ctn2).argmax(axis=1).astype("int32")
            r = v - ct[cell]
            codes = np.empty((len(v), m), dtype=np.int16)
            for j in range(m):
                sub = r[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = (sub @ cb[j].T - cn2[j]).argmax(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cell": cell, "codes": list(codes)}
            )

    coded = corpus.select(
        id_col, F.col(vec_col).alias("__raw")
    ).mapInPandas(encode, f"{id_col} long, cell int, codes array<smallint>")

    # query side: probe cells + per-query residual LUT and base terms
    qrows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm_ = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = qm_ / np.linalg.norm(qm_, axis=1, keepdims=True)
    base = qn @ cent.T  # (nq, ncells): q · centroid
    probed = np.argsort(-base, axis=1)[:, :nprobe]  # cells per query
    luts = np.einsum("qjd,jkd->qjk", qn.reshape(len(qn), m, dsub), books)

    probe_pairs = [
        (int(qids[qi]), int(c)) for qi in range(len(qids)) for c in probed[qi]
    ]
    probe_df = F.broadcast(
        corpus.sparkSession.createDataFrame(
            probe_pairs, f"{query_id_col} long, cell int"
        )
    )
    qidx = {int(q): i for i, q in enumerate(qids)}
    bc_luts, bc_base = sc.broadcast(luts), sc.broadcast(base)

    def adc(it):
        import pandas as pd

        lut, bs = bc_luts.value, bc_base.value
        cols = np.arange(m)
        for pdf in it:
            if not len(pdf):
                continue
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            qi = np.array([qidx[q] for q in pdf[query_id_col]], dtype=np.int64)
            cell = pdf["cell"].to_numpy()
            gathered = lut[qi[:, None], cols[None, :], codes]  # (n, m)
            score = bs[qi, cell] + gathered.sum(axis=1)
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col],
                    id_col: pdf[id_col],
                    "cosine": np.round(score, 6),
                }
            )

    scored = coded.join(probe_df, "cell").mapInPandas(
        adc, f"{query_id_col} long, {id_col} long, cosine double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    shortlist = (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k * max(refine, 1))
    )
    if not refine:
        return shortlist
    refined = (
        shortlist.drop("cosine", "rank")
        .join(corpus.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(
                queries.select(query_id_col, F.col(vec_col).alias("__qv"))
            ),
            query_id_col,
        )
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col(vec_col), F.col("__qv")), 6).alias("cosine"),
        )
    )
    return (
        refined.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def knn_classify(
    train: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    method: str = "exact",
    num_cells: int = 16,
    nprobe: int = 4,
    train_fraction: float | None = None,
    centroids=None,
) -> DataFrame:
    """k-NN majority-vote classification of `queries` against the
    labeled `train` corpus — the standard embedding-space labeler
    (quality/domain/topic tagging of corpus shards from a small labeled
    seed set). Exact cosine top-k via brute_force_topk (corpus scanned
    once, query side shipped to scorers), then one tiny vote aggregate:
    neighbor labels ride along from the train side, winner = most votes
    with smallest-label tiebreak (deterministic, SQL-reproducible —
    never fp-score tiebreaks).

    Returns one row per query: (query_id, pred_label, votes). The vote
    tables are k·|queries| rows — negligible next to the scoring scan.

    method='exact' (default) scores every pair — ground truth, work
    |Q|·|C|, and the query slice ships driver-side; the right shape
    while queries are a small labeled seed. method='ivf' routes
    through `ivf_topk_bipartite` — both sides stay distributed and
    work is ~|Q|·|C|·nprobe/num_cells, the shape for labeling a whole
    corpus slice whose size grows WITH the corpus (prediction
    agreement vs exact is pytest-gated)."""
    if method == "ivf":
        nn = ivf_topk_bipartite(
            train, queries, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, num_cells=num_cells,
            nprobe=nprobe, train_fraction=train_fraction,
            centroids=centroids,
        )
    elif method == "exact":
        nn = brute_force_topk(
            train, queries, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col,
        )
    else:
        raise ValueError(f"unknown knn method: {method!r}")
    votes = (
        nn.join(train.select(id_col, label_col), id_col)
        .groupBy(query_id_col, label_col)
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("votes").desc(), F.col(label_col).asc()
    )
    return (
        votes.select("*", F.row_number().over(w).alias("__r"))
        .filter(F.col("__r") == 1)
        .select(
            query_id_col,
            F.col(label_col).alias("pred_label"),
            "votes",
        )
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    rrf_k: int = 60,
    top_k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of two
    ranked lists — the hybrid-retrieval combiner (sparse BM25 + dense
    ANN) RAG pipelines use. score(d) = Σ_lists 1/(rrf_k + rank_d);
    candidates appear in either list. Ordering uses the EXACT fused
    double (sums of 1/(k+int) are bit-identical across engines) with
    id tiebreak; the emitted score is rounded for hash stability.

    Plan shape: the old full-outer join cost two (query,doc) exchanges
    + sort-merge sorts + a third exchange for the fused window. Now
    the legs UNION, one explicit repartition on query_id feeds the
    (query, doc) conditional aggregate (HashPartitioning(query) also
    satisfies ClusteredDistribution(query, doc)) AND the per-query
    top-k window — the whole fuse+rank phase is ONE exchange and one
    window sort, list-sized either way (both legs arrive
    top-k-bounded)."""
    a = ranked_a.select(
        query_id_col,
        id_col,
        F.lit("a").alias("__leg"),
        F.col(rank_col).cast("long").alias("__rank"),
    )
    b = ranked_b.select(
        query_id_col,
        id_col,
        F.lit("b").alias("__leg"),
        F.col(rank_col).cast("long").alias("__rank"),
    )
    fused = (
        a.unionByName(b)
        .repartition(query_id_col)
        .groupBy(query_id_col, id_col)
        .agg(
            F.sum(1.0 / (F.lit(rrf_k) + F.col("__rank"))).alias("__rrf"),
            F.max(F.when(F.col("__leg") == "a", F.col("__rank"))).alias(
                "__ra"
            ),
            F.max(F.when(F.col("__leg") == "b", F.col("__rank"))).alias(
                "__rb"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__rrf").desc(), F.col(id_col).asc()
    )
    return (
        fused.select("*", F.row_number().over(w).alias("fused_rank"))
        .filter(F.col("fused_rank") <= top_k)
        .select(
            query_id_col,
            id_col,
            F.round("__rrf", 6).alias("rrf_score"),
            "fused_rank",
            F.col("__ra").alias("rank_a"),
            F.col("__rb").alias("rank_b"),
        )
    )


def class_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space class report — the QA pass a labeled corpus gets
    before training on it: per-class centroid, intra-class cohesion
    (mean / worst cosine to own centroid), and the nearest OTHER class
    centroid (confusable-class flag). Low cohesion or a too-close
    neighbor class ⇒ label noise or collapsed embedding space.

    Shape at scale: centroids are one posexplode + (label × dim)-row
    partial-agg groupBy (dims are small constants, labels bounded), the
    cohesion pass re-joins the tiny centroid table by label (broadcast)
    in one corpus scan, and the inter-class pass is a labels² cross of
    the centroid table only. Centroid components are rounded BEFORE the
    cosine passes so every downstream number is reproducible bit-for-bit
    from the same inputs regardless of aggregation order.
    """
    cent = (
        df.select(label_col, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(label_col, "pos")
        .agg(F.round(F.avg("v"), 6).alias("m"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
    )
    coh = (
        df.join(F.broadcast(cent), label_col)
        .select(
            label_col,
            F.round(cosine(F.col(vec_col), F.col("centroid")), 6).alias("c"),
        )
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c"), 4).alias("mean_cos_to_centroid"),
            F.min("c").alias("min_cos_to_centroid"),
        )
    )
    a = cent.select(F.col(label_col).alias("la"), F.col("centroid").alias("ca"))
    b = cent.select(F.col(label_col).alias("lb"), F.col("centroid").alias("cb"))
    w = Window.partitionBy("la").orderBy(F.col("cc").desc(), F.col("lb").asc())
    near = (
        a.join(b, F.col("la") != F.col("lb"))
        .select(
            "la", "lb",
            F.round(cosine(F.col("ca"), F.col("cb")), 6).alias("cc"),
        )
        .select("*", F.row_number().over(w).alias("__r"))
        .filter(F.col("__r") == 1)
        .select(
            F.col("la").alias(label_col),
            F.col("lb").alias("nearest_label"),
            F.col("cc").alias("nearest_centroid_cos"),
        )
    )
    return coh.join(near, label_col)


def pca_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
):
    """Distributed PCA fit: exact covariance from ONE Arrow-batched
    corpus pass, eigendecomposition on the driver.

    Scale shape: each partition emits a single moment row (count, sum
    vector, d×d Gram matrix flattened) from mapInPandas; the rows
    posexplode into (pos, value) and partial-agg down to d²+d+1 sums —
    the shuffle and the driver collect are O(d²), independent of corpus
    size (d=64 → 4 161 doubles). The d×d eigensolve is driver-side by
    design, like the IVF/PQ codebook training.

    Sign convention: each component's largest-|loading| entry is made
    positive, so the basis is deterministic up to eigenvalue ties.
    Returns (mean ndarray[d], components ndarray[k,d] row-major,
    explained_ratio ndarray[k])."""
    import numpy as np
    import pandas as pd

    def moments(batches):
        n = 0
        s = None
        g = None
        for pdf in batches:
            m = np.asarray(list(pdf.iloc[:, 0]), dtype=np.float64)
            if m.size == 0:
                continue
            n += m.shape[0]
            s = m.sum(axis=0) if s is None else s + m.sum(axis=0)
            gg = m.T @ m
            g = gg if g is None else g + gg
        if n:
            yield pd.DataFrame(
                {"m": [np.concatenate(([float(n)], s, g.ravel()))]}
            )

    part = corpus.select(vec_col).mapInPandas(moments, "m array<double>")
    summed = (
        part.select(F.posexplode("m").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    vals = np.zeros(len(summed))
    for r in summed:
        vals[r.pos] = r.v
    n = vals[0]
    d = int(round((-1 + np.sqrt(1 + 4 * (len(vals) - 1))) / 2))
    mean = vals[1 : 1 + d] / n
    gram = vals[1 + d :].reshape(d, d)
    cov = gram / n - np.outer(mean, mean)
    eigval, eigvec = np.linalg.eigh(cov)
    order = np.argsort(eigval)[::-1][:k]
    comps = eigvec[:, order].T.copy()
    for i in range(comps.shape[0]):
        j = np.abs(comps[i]).argmax()
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    ratio = np.maximum(eigval[order], 0.0) / max(
        np.maximum(eigval, 0.0).sum(), 1e-300
    )
    return mean, comps, ratio


def pca_project(
    corpus: DataFrame,
    mean,
    components,
    id_cols: tuple[str, ...] = ("vec_id",),
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Project every vector onto the fitted basis: (x - mean) @ Wᵀ as
    one broadcast + one Arrow batch pass — zero shuffles, the 100 TB
    path is a pure map."""
    import numpy as np
    import pandas as pd

    bc = corpus.sparkSession.sparkContext.broadcast(
        (np.asarray(mean, dtype=np.float64),
         np.asarray(components, dtype=np.float64))
    )
    cols = [*id_cols, vec_col]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in corpus.select(*cols).schema.fields
        if f.name != vec_col
    ) + f", {out_col} array<double>"

    def project(batches):
        mu, w = bc.value
        for pdf in batches:
            m = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            out = pdf.drop(columns=[vec_col])
            out[out_col] = list((m - mu) @ w.T) if len(m) else []
            yield out

    return corpus.select(*cols).mapInPandas(project, schema)


def mine_contrastive_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    k_pos: int = 3,
    k_neg: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Contrastive training-pair mining over a labeled embedding corpus:
    for every query, the top `k_pos` SAME-label neighbors (positives)
    and the top `k_neg` CROSS-label neighbors (hard negatives — the
    wrong-class examples the model currently finds most similar, the
    pairs metric-learning losses want; Schroff CVPR'15 semi-hard
    mining, public semantics).

    Scale shape: the labeled query slice broadcasts (ANN convention —
    queries are small, the corpus is the big side), cosine scoring is
    one codegen pass over the corpus scan, and the two top-k windows
    partition by (query, same-label) — bounded state per key, no
    corpus-sized sort. Cosines round to 6dp BEFORE ranking with the
    corpus id as tiebreak, so the selection is order-independent and
    engine-portable. Self-pairs are excluded."""
    import numpy as np

    qrows = queries.select(query_id_col, vec_col, label_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qlabels = [r[2] for r in qrows]

    def _seq_dot(a2: "np.ndarray", b2: "np.ndarray") -> "np.ndarray":
        # strict left-to-right float64 accumulation in element order —
        # the JVM aggregate's fold (np.sum is pairwise, NOT bit-equal)
        acc = np.zeros((a2.shape[0], b2.shape[0]), dtype=np.float64)
        for j in range(a2.shape[1]):
            acc += a2[:, j, None] * b2[None, :, j]
        return acc

    def _seq_norm(a2: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(a2.shape[0], dtype=np.float64)
        for j in range(a2.shape[1]):
            acc += a2[:, j] * a2[:, j]
        return np.sqrt(acc)

    qnorm = _seq_norm(qm) if len(qrows) else qm

    # Arrow scorer (r14, guide §4): the JVM per-pair higher-order-
    # function cosine fold was the query's dominant cost (~2.4 s for
    # 100k pairs at bench scale); the numpy kernel reproduces the fold
    # bit-exactly (element-order accumulation, float64 widening of the
    # float32 inputs, dot/(|a|·|b|) with the RAW query vector), so the
    # 6dp SQL rounding and the (query, same-label) windows below rank
    # identical values. The boundary ships corpus×nq slim rows — the
    # anchor set is pinned ≤ 50 by the callers, same shape as before.
    def score(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf) or not len(qrows):
                continue
            m = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            ids = pdf[id_col].to_numpy(np.int64)
            labels = pdf[label_col]
            cos = _seq_dot(m, qm) / (_seq_norm(m)[:, None] * qnorm[None, :])
            nq = len(qrows)
            nr = len(ids)
            rep_lab = np.repeat(labels.to_numpy(), nq)
            tile_qlab = np.array(qlabels * nr, dtype=object)
            out = pd.DataFrame(
                {
                    query_id_col: np.tile(qids, nr),
                    "query_label": tile_qlab,
                    id_col: np.repeat(ids, nq),
                    label_col: rep_lab,
                    "cosine": cos.ravel(),
                }
            )
            yield out[out[id_col] != out[query_id_col]]

    lab_t = corpus.schema[label_col].dataType.simpleString()
    scored = (
        corpus.select(id_col, vec_col, label_col)
        .mapInPandas(
            score,
            f"{query_id_col} long, query_label {lab_t}, {id_col} long, "
            f"{label_col} {lab_t}, cosine double",
        )
        .select(
            query_id_col,
            "query_label",
            id_col,
            label_col,
            F.round(F.col("cosine"), 6).alias("cosine"),
            (F.col(label_col) == F.col("query_label")).alias("__same"),
        )
    )
    w = Window.partitionBy(query_id_col, "__same").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    ranked = scored.select(
        "*", F.row_number().over(w).alias("rank")
    ).filter(
        (F.col("__same") & (F.col("rank") <= k_pos))
        | (~F.col("__same") & (F.col("rank") <= k_neg))
    )
    return ranked.select(
        query_id_col,
        "query_label",
        F.when(F.col("__same"), F.lit("positive"))
        .otherwise(F.lit("hard_negative"))
        .alias("pair_type"),
        "rank",
        id_col,
        label_col,
        "cosine",
    )


def margin_bitext_mine(
    src: DataFrame,
    dst: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 4,
) -> DataFrame:
    """Margin-based parallel-corpus (bitext) mining between two
    embedding spaces (Artetxe & Schwenk 2019, "Margin-based Parallel
    Corpus Mining with Multilingual Sentence Embeddings" — the
    LASER/CCMatrix recipe): for every source vector, its best target
    candidate scored by the RATIO margin
    ``cos(x, y) / ((avgTopK(x→dst) + avgTopK(y→src)) / 2)`` — the
    neighborhood normalization that suppresses hub vectors plain
    cosine thresholds mis-mine.

    Scale shape: a BIPARTITE block-pair decomposition (the same
    bounded-memory kernel as embedding_dup_pairs_blocked): src and dst
    each hash into ``num_blocks`` blocks, every (bi, bj) pair scores
    one BLAS product and emits only its LOCAL top-k per source row and
    per target row — top-k is mergeable, so two windows finish the
    global ranking over ~N·B·k rows, never N·M pairs. Exact result —
    the WORK is still the full N·M bipartite product, which makes this
    the ground-truth kernel; the sub-quadratic production path is
    `margin_bitext_mine_ivf` (IVF candidate pruning in front of the
    same margin arithmetic, recall-gated against this kernel). No
    driver-side corpus.

    Output: one row per source vector — src_id, dst_id (best
    candidate), cosine, margin (round 6), mutual (the candidate's own
    best source is this x — the forward-backward agreement filter)."""
    import pandas as pd

    spark = src.sparkSession
    bpairs = spark.createDataFrame(
        [(i, j) for i in range(num_blocks) for j in range(num_blocks)],
        "bi int, bj int",
    )
    tag = lambda df, side: df.select(  # noqa: E731
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col)) + (0 if side == "s" else 1),
               F.lit(num_blocks)).cast("int").alias("__b"),
        F.lit(side).alias("__side"),
    )
    exploded = (
        bpairs.join(tag(src, "s"), F.col("bi") == F.col("__b"))
        .unionByName(bpairs.join(tag(dst, "d"), F.col("bj") == F.col("__b")))
    )

    def score(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        s = pdf[pdf["__side"] == "s"]
        d = pdf[pdf["__side"] == "d"]
        if len(s) == 0 or len(d) == 0:
            return pd.DataFrame(
                {"dir": [], "qid": [], "cid": [], "cosine": []}
            )
        sm = np.array([list(v) for v in s["__vec"]], dtype=np.float64)
        dm = np.array([list(v) for v in d["__vec"]], dtype=np.float64)
        sm /= np.linalg.norm(sm, axis=1, keepdims=True)
        dm /= np.linalg.norm(dm, axis=1, keepdims=True)
        cos = np.round(sm @ dm.T, 6)
        sids, dids = s["__id"].to_numpy(), d["__id"].to_numpy()
        kk = min(k, cos.shape[1])
        # local top-k per source row (x → dst direction); tie-break by
        # ascending candidate id to MATCH the global window order, so a
        # boundary tie never drops the globally-kept candidate
        rows = []
        for i in range(cos.shape[0]):
            top = np.lexsort((dids, -cos[i]))[:kk]
            rows += [("x", sids[i], dids[j], cos[i, j]) for j in top]
        kk2 = min(k, cos.shape[0])
        for i in range(cos.shape[1]):
            top = np.lexsort((sids, -cos[:, i]))[:kk2]
            rows += [("y", dids[i], sids[j], cos[j, i]) for j in top]
        out = pd.DataFrame(rows, columns=["dir", "qid", "cid", "cosine"])
        return out

    local = exploded.groupBy("bi", "bj").applyInPandas(
        score, "dir string, qid long, cid long, cosine double"
    )
    return _margin_tail(local, k)


def _margin_tail(local: DataFrame, k: int) -> DataFrame:
    """Shared back half of bitext mining: merge per-group local top-k
    candidate lists (dir ∈ {'x','y'}, qid, cid, cosine) into global
    per-vector top-k, then the Artetxe–Schwenk ratio margin and the
    forward-backward mutual flag. Input rows per qid are ~groups·k —
    the windows never see the full candidate cross product.

    `local` feeds FOUR consumers (both direction top-ks, the best-pair
    pick, and the backward check); a lazy localCheckpoint pins the
    candidate lists (~N·k rows — the small post-pruning side) so the
    scoring pipeline runs once, not four times."""
    local = local.localCheckpoint(eager=False)
    w = Window.partitionBy("dir", "qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    ranked = local.select(
        "*", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= k)
    tx = ranked.filter(F.col("dir") == "x")
    ty = ranked.filter(F.col("dir") == "y")
    ax = tx.groupBy(F.col("qid").alias("__x")).agg(
        F.avg("cosine").alias("avg_x")
    )
    ay = ty.groupBy(F.col("qid").alias("__y")).agg(
        F.avg("cosine").alias("avg_y")
    )
    best = tx.filter(F.col("rank") == 1).select(
        F.col("qid").alias("src_id"),
        F.col("cid").alias("dst_id"),
        "cosine",
    )
    back = ty.filter(F.col("rank") == 1).select(
        F.col("qid").alias("dst_id"), F.col("cid").alias("__back")
    )
    return (
        best.join(ax, best["src_id"] == F.col("__x"))
        .join(ay, best["dst_id"] == F.col("__y"))
        .join(back, "dst_id", "left")
        .select(
            "src_id",
            "dst_id",
            "cosine",
            F.round(
                F.col("cosine") / ((F.col("avg_x") + F.col("avg_y")) / 2), 6
            ).alias("margin"),
            F.coalesce(F.col("__back") == F.col("src_id"), F.lit(False)).alias(
                "mutual"
            ),
        )
    )


def _probe_cells(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    cent,
    nprobe: int,
):
    """One Arrow pass attaching each vector's `nprobe` nearest coarse
    cells (ordered, L2 — the same argmax v·c − ||c||²/2 score the
    assigner uses, so element 0 IS the vector's home cell). Deterministic
    (stable argsort)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bc = corpus.sparkSession.sparkContext.broadcast(cent)

    def fn(vecs):
        c = bc.value
        m = np.asarray(list(vecs), dtype=np.float64)
        scores = m @ c.T - 0.5 * (c * c).sum(axis=1)
        order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype("int32")))

    fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    probe = pandas_udf(fn, "array<int>")
    return corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        probe(F.col(vec_col)).alias("__cells"),
    )


def margin_bitext_mine_ivf(
    src: DataFrame,
    dst: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 16,
    nprobe: int = 4,
    train_fraction: float | None = None,
    centroids=None,
) -> DataFrame:
    """Sub-quadratic margin-based bitext mining: IVF candidate pruning
    in front of the exact ratio-margin arithmetic of
    `margin_bitext_mine` (Artetxe & Schwenk 2019 §4 use exactly this —
    LASER/CCMatrix mine candidates with a FAISS IVF index, then apply
    the margin; the reference's BloomMapFile candidate-then-verify is
    the same shape, `common/io/BloomMapFile.java:264`).

    One coarse quantizer trains on a driver-bounded sample of BOTH
    sides (multilingual embeddings share one space — a per-side
    quantizer would misalign cells). Each vector lands in its home
    cell; each QUERY side explodes into its `nprobe` nearest cells, so
    direction x (src→dst) is an equi-join of src probes against
    dst members on cell id, scored per cell with row-blocked BLAS and
    local top-k — work is Σ_cell |probes|·|members| ≈ N·M·nprobe/num_cells,
    never the N·M bipartite product; pick num_cells ~ sqrt(N) and the
    whole mine is ~N^1.5·nprobe. Direction y mirrors it. The global
    top-k merge and margin/mutual arithmetic are shared with the exact
    kernel (`_margin_tail`).

    Approximate: a true neighbor outside the probed cells is missed
    (recall gated ≥0.9 vs the exact kernel in pytest); a src vector
    whose probed cells hold no dst member emits no row. Deterministic:
    seeded k-means, stable probe order, id tie-breaks."""
    import numpy as np
    import pandas as pd

    train = src.select(id_col, vec_col).unionByName(
        dst.select(id_col, vec_col)
    )
    cent, _ = _train_and_assign_cells(
        train, id_col, vec_col, num_cells, train_fraction,
        centroids=centroids,
    )

    # each side's probe output feeds BOTH its member branch and its
    # probe-explode branch — checkpoint so the Arrow probe pass and the
    # upstream scan run once per side, not twice
    sp = _probe_cells(src, id_col, vec_col, cent, nprobe).localCheckpoint(
        eager=False
    )
    dp = _probe_cells(dst, id_col, vec_col, cent, nprobe).localCheckpoint(
        eager=False
    )
    s_mem = sp.select("__id", "__vec", F.get("__cells", 0).alias("cell"))
    d_mem = dp.select("__id", "__vec", F.get("__cells", 0).alias("cell"))
    s_probe = sp.select(
        "__id", "__vec", F.explode("__cells").alias("cell")
    )
    d_probe = dp.select(
        "__id", "__vec", F.explode("__cells").alias("cell")
    )

    local = _cell_local_topk(s_probe, d_mem, k, "x").unionByName(
        _cell_local_topk(d_probe, s_mem, k, "y")
    )
    return _margin_tail(local, k)


def _cell_local_topk(probe: DataFrame, mem: DataFrame, k: int,
                     dirname: str) -> DataFrame:
    """Per-cell exact top-k of probing rows against member rows —
    the shared IVF scoring kernel for BIG query sides (the query side
    co-shuffles into cells instead of broadcasting). probe/mem:
    (cell, __id, __vec). Emits (dir, qid, cid, cosine) local top-k
    per probe row per cell; a (dir, qid) window merges the nprobe
    cells' lists into the global top-k. Row-blocked BLAS inside each
    cell group — memory O(block × cell), never cell²."""
    import pandas as pd

    both = probe.select(
        "cell", "__id", "__vec", F.lit(0).alias("__side")
    ).unionByName(
        mem.select("cell", "__id", "__vec", F.lit(1).alias("__side"))
    )

    def score(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        q = pdf[pdf["__side"] == 0]
        m = pdf[pdf["__side"] == 1]
        if q.empty or m.empty:
            return pd.DataFrame(
                {"dir": [], "qid": [], "cid": [], "cosine": []}
            ).astype({"qid": "int64", "cid": "int64",
                      "cosine": "float64", "dir": "object"})
        mm = np.array([list(v) for v in m["__vec"]], dtype=np.float64)
        mm /= np.linalg.norm(mm, axis=1, keepdims=True)
        mids = m["__id"].to_numpy()
        qids_all = q["__id"].to_numpy()
        qm_all = np.array([list(v) for v in q["__vec"]],
                          dtype=np.float64)
        qm_all /= np.linalg.norm(qm_all, axis=1, keepdims=True)
        kk = min(k, len(mids))
        rows = []
        # row-blocked BLAS: memory O(block × cell), never cell²
        for lo in range(0, len(qids_all), 1024):
            qm = qm_all[lo:lo + 1024]
            qids = qids_all[lo:lo + 1024]
            cos = np.round(qm @ mm.T, 6)
            for i in range(cos.shape[0]):
                # ascending-id tie-break matches the global window
                top = np.lexsort((mids, -cos[i]))[:kk]
                rows += [
                    (dirname, qids[i], mids[j], cos[i, j]) for j in top
                ]
        return pd.DataFrame(
            rows, columns=["dir", "qid", "cid", "cosine"]
        )

    return both.groupBy("cell").applyInPandas(
        score, "dir string, qid long, cid long, cosine double"
    )


def ivf_topk_bipartite(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_cells: int = 16,
    nprobe: int = 4,
    train_fraction: float | None = None,
    centroids=None,
) -> DataFrame:
    """IVF ANN for a LARGE query side: unlike `ivf_topk` (which
    broadcasts the query slice — the right shape when queries are
    few), both sides here stay distributed. The quantizer trains on a
    driver-bounded sample of corpus ∪ queries; corpus vectors sit in
    their home cell, each query explodes into its nprobe nearest
    cells, and the equi-join on cell id feeds the shared per-cell
    BLAS kernel — scored work ~|Q|·|C|·nprobe/num_cells. Same output
    shape as ivf_topk: (query_id, vec_id, cosine, rank ≤ k).
    Deterministic (seeded k-means, stable probes, id tie-breaks);
    recall is the IVF trade — a true neighbor outside the probed
    cells is missed."""
    train = corpus.select(F.col(id_col).alias("__tid"),
                          F.col(vec_col).alias("__tv")).unionByName(
        queries.select(F.col(query_id_col).alias("__tid"),
                       F.col(vec_col).alias("__tv"))
    )
    cent, _ = _train_and_assign_cells(
        train, "__tid", "__tv", num_cells, train_fraction,
        centroids=centroids,
    )
    mem = _probe_cells(corpus, id_col, vec_col, cent, nprobe).select(
        "__id", "__vec", F.get("__cells", 0).alias("cell")
    )
    probe = _probe_cells(queries, query_id_col, vec_col, cent, nprobe).select(
        "__id", "__vec", F.explode("__cells").alias("cell")
    )
    local = _cell_local_topk(probe, mem, k, "q")
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        local.select(
            F.col("qid").alias(query_id_col),
            F.col("cid").alias(id_col),
            "cosine",
        )
        .select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def cluster_shift_expr(vec_col: str, cluster_col: str, amp: float = 2.0) -> Column:
    """Deterministic cluster-keyed offset: shifts each vector by a
    pseudo-random direction derived from xxhash64('clu', cluster, j) —
    turns isotropic synthetic embeddings into an ALIGNED clustered
    space (vectors sharing `cluster_col` share a center), the regime
    IVF candidate pruning and bitext mining actually target; isotropic
    noise has no neighborhood structure for ANY index to exploit.
    Constant-foldable expression, no side data."""
    return F.expr(
        f"zip_with({vec_col}, transform(sequence(0, size({vec_col}) - 1), "
        f"j -> {amp} * cast(xxhash64('clu', {cluster_col}, j) as double) "
        f"/ 9.223372036854775808E18), (x, o) -> cast(x as double) + o)"
    )


def embedding_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "benchmark_id",
) -> DataFrame:
    """Embedding-level test-set decontamination: flag every training
    example whose embedding sits within `threshold` cosine of ANY
    benchmark example (the semantic complement of the n-gram
    decontamination row — catches paraphrased/reformatted test
    leakage that exact n-grams miss; cf. the contamination audits in
    Brown et al. 2020 appx. C and successors, which this generalizes
    from lexical to embedding space).

    Returns every corpus row with its nearest benchmark example, the
    (rounded) cosine, and the contaminated flag.

    Scale shape: benchmark suites are FIXED-SIZE (thousands of rows,
    not corpus-sized), so the exact computation IS the production
    path — broadcast the benchmark, one scan over the corpus, a
    per-row bounded argmax via the same (cosine desc, id) window the
    ANN rows use. No index, no approximation, no second pass.

    Fails CLOSED on an empty benchmark: a decontamination stage whose
    benchmark accidentally selected zero rows would otherwise return
    zero rows (cross join with the empty set), which reads as
    "nothing contaminated" — raise instead. The benchmark is
    fixed-size by contract, so the eager emptiness probe is one cheap
    job over a tiny side."""
    if benchmark.isEmpty():
        raise ValueError(
            "embedding_decontaminate: benchmark is empty — refusing to "
            "fail open (an empty benchmark would mark the whole corpus "
            "uncontaminated)"
        )
    b = F.broadcast(
        benchmark.select(
            F.col(id_col).alias(bench_id_col),
            F.col(vec_col).alias("__bv"),
        )
    )
    scored = corpus.crossJoin(b).select(
        id_col,
        bench_id_col,
        F.round(cosine(F.col(vec_col), F.col("__bv")), 6).alias("cosine"),
    )
    pick = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col(bench_id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(pick))
        .where(F.col("__rn") == 1)
        .select(
            id_col,
            bench_id_col,
            "cosine",
            (F.col("cosine") >= threshold).alias("contaminated"),
        )
    )


def mmr_rerank(
    ranked: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein, SIGIR'98) of a per-query shortlist — the re-rank stage
    between retrieval fusion (rrf_fuse) and consumption that stops a
    RAG context window filling with near-duplicates.

    Greedy: the first pick maximizes relevance; each next pick
    maximizes  lam * rel(c) - (1 - lam) * max_{s in S} cos(c, s)
    over the remaining candidates (ties break on ascending id).
    Relevance is used as given (rrf scores, cosine, BM25 — any
    monotone score).

    `ranked`: (query_id, doc_id, score) — the k-bounded shortlist.
    `vectors`: (doc_id, embedding array<float>) — the corpus
    embedding table; only shortlist members are joined out of it.
    Returns (query_id, doc_id, mmr_rank 1-based, mmr_score round 6).

    Scale shape: one equi-join pulls shortlist embeddings (list-sized
    left side against the corpus — a broadcast of the shortlist when
    small, else a hash join pruned to list size), then ONE
    applyInPandas group per query whose state is the <=|shortlist|
    candidate matrix — the greedy loop is inherently sequential in k
    but bounded by the shortlist length, never corpus-sized. The
    selection kernel is the documented-Arrow-kernel class (PLANS.md
    py-ops policy); greedy argmax chains are not SQL-expressible, so
    the driver row is rows-only by design with the kernel pinned
    against a NumPy reference in tests/test_mmr.py."""
    import numpy as np
    import pandas as pd

    joined = ranked.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("doc_id"),
        F.col(score_col).cast("double").alias("rel"),
    ).join(
        vectors.select(
            F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__v")
        ),
        "doc_id",
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        m = np.array([list(v) for v in pdf["__v"]], dtype=np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mn = m / norms
        sims = mn @ mn.T
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        n = len(pdf)
        selected: list[int] = []
        scores: list[float] = []
        remaining = list(range(n))
        for _ in range(min(k, n)):
            if selected:
                red = sims[np.ix_(remaining, selected)].max(axis=1)
                mmr = lam * rel[remaining] - (1.0 - lam) * red
            else:
                mmr = lam * rel[remaining]
            # argmax with ascending-doc_id tiebreak: rows are sorted
            # by doc_id, and np.argmax takes the first maximum.
            j = int(np.argmax(mmr))
            scores.append(float(mmr[j]))
            selected.append(remaining.pop(j))
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[:1].repeat(
                    len(selected)
                ).reset_index(drop=True),
                "doc_id": pdf["doc_id"].iloc[selected].reset_index(
                    drop=True
                ),
                "mmr_rank": np.arange(1, len(selected) + 1,
                                      dtype=np.int32),
                "mmr_score": np.round(np.array(scores), 6),
            }
        )

    out_schema = (
        "query_id long, doc_id long, mmr_rank int, mmr_score double"
    )
    return joined.groupBy("query_id").applyInPandas(pick, out_schema)


def pinned_centroids(
    corpus: DataFrame,
    ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Centroid matrix pinned to specific corpus vectors (ordered by
    id — cell j is the j-th smallest pinned id). The deterministic-
    slice quantizer: data-derived, driver-bounded (len(ids) rows), and
    reproducible in SQL as `WHERE id IN (...) ORDER BY id` — which is
    what lets an IVF query carry a closed-form DuckDB oracle."""
    import numpy as np

    rows = (
        corpus.where(F.col(id_col).isin(*ids))
        .select(F.col(id_col).alias("__i"), F.col(vec_col).alias("__v"))
        .sort("__i")
        .collect()
    )
    if len(rows) != len(ids):
        raise ValueError(
            f"pinned centroid ids missing: want {len(ids)}, got {len(rows)}"
        )
    return np.asarray([r["__v"] for r in rows], dtype=np.float64)
