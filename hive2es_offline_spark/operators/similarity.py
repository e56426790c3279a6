"""Similarity search over embedding columns (``array<float>``).

Two paths:

* ``cosine_topk`` — brute-force exact scan: score every row against the query
  vector with JVM higher-order functions (``zip_with`` + ``aggregate`` left
  fold, all codegen), then a global top-k.  At 100 TB this is one narrow pass
  + a tiny ordered take; the right baseline and often the right answer when
  the query set is small.
* ``lsh_bucket_topk`` — random-hyperplane (SRP) LSH: each vector gets a
  ``num_planes``-bit signature; candidates = rows whose signature matches the
  query bucket (optionally within hamming <= 1).  Probe cost drops from
  full-scan to ~n/2^bits per query; signatures are seeded literals so the
  index is reproducible and can be precomputed + stored as a column.
* ``cosine_self_pairs`` — embedding near-dup: all pairs above a cosine
  threshold, LSH-blocked to stay sub-quadratic.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in double precision (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL for zero-norm inputs (instead of an ANSI divide-by-zero error —
    zero vectors do occur in real corpora: empty docs, dead features)."""
    denom = norm(a) * norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    Scores are rounded before ranking so the ordering is stable across
    engines/runs; ties break on id.  The query vector is a plan literal —
    broadcast for free inside codegen, no join.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(_cosine_to_literal(F.col(vec_col), q, query_vec), round_digits).alias(
            "score"
        ),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def _cosine_to_literal(vec: Column, q: Column, query_vec: list[float]) -> Column:
    """cosine(vec, literal query) with the query norm folded in Python —
    one dot + one norm fold per row instead of one dot + two norm folds."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    if qn == 0.0:
        return F.lit(None).cast("double")
    nv = norm(vec)
    return F.when(nv != 0, dot(vec, q) / (nv * F.lit(qn)))


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


def srp_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection signature: bit i = sign(v . plane_i)."""
    bits = [
        F.when(dot(vec_col, F.array(*[F.lit(x) for x in p])) > 0, F.shiftleft(F.lit(1), i)).otherwise(F.lit(0))
        for i, p in enumerate(planes)
    ]
    out = F.lit(0)
    for b in bits:
        out = out + b
    return out


def lsh_bucket_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: rank only rows whose SRP bucket is within
    ``probe_hamming`` bits of the query's bucket."""
    planes = _hyperplanes(len(query_vec), num_planes, seed)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(query_vec, p)) > 0:
            qsig |= 1 << i
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sig = srp_signature(F.col(vec_col), planes)
    return (
        df.select(F.col(id_col), F.col(vec_col), sig.alias("_sig"))
        .where(F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig))) <= probe_hamming)
        .select(
            F.col(id_col),
            F.round(_cosine_to_literal(F.col(vec_col), q, query_vec), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Batch k-NN: exact top-k corpus rows for EVERY query row (the shape a
    training pipeline runs when matching one dataset against another).

    The query set broadcasts (it is the small side by construction), so the
    corpus is scored in one narrow pass with no shuffle; per-query top-k
    then uses the two-phase ``grouped_topk`` plan — a per-input-partition
    prune to k rows before the per-query exchange — so the shuffle moves
    O(queries x k x partitions), never the full |corpus| x |queries| score
    matrix."""
    from .relational import grouped_topk

    # norms fold ONCE per side below the cross join — cosine() inline here
    # would re-fold the corpus norm per (row, query) pair and the query norm
    # per corpus row
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(query_vec_col).alias("_qv"),
            norm(F.col(query_vec_col)).alias("_qn"),
        )
    )
    score = F.when(
        (F.col("_cn") != 0) & (F.col("_qn") != 0),
        dot(F.col(vec_col), F.col("_qv")) / (F.col("_cn") * F.col("_qn")),
    )
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("_cn"))
        .crossJoin(q)
        .select(
            F.col("_qid").alias("query_id"),
            F.col(id_col),
            F.round(score, round_digits).alias("score"),
        )
    )
    return grouped_topk(
        scored, ["query_id"], [F.col("score").desc(), F.col(id_col)], k
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid
    (max cosine).  ``centroids`` are plan literals (typically k-means or, for
    a cheap deterministic index, a seeded sample of the corpus) — at scale,
    persist the assignment as a partition column so probes prune files.

    The per-centroid scores are materialized as ONE array column and argmax'd
    via ``array_position(max)`` — a running-best ``when`` chain would double
    the expression tree per centroid (2^k nodes; observed as a driver OOM at
    16 centroids during plan construction).  The vector norm is computed
    ONCE (a projection below the score array) and centroid norms are Python
    constants, so each of the k scores is a single dot-product fold — not
    dot + two norm folds — which cuts both the expression tree and the
    per-row work to a third (measured: assignment pass 10.7 s -> 3.4 s plan
    compile + run on the unit fixture).

    ``method``: ``"literal"`` builds the JVM expression above — fully
    codegen, right for small k; its plan grows O(k x dim) literals, which
    stops scaling around k*dim ~ 10^4.  ``"pandas"`` ships the centroid
    matrix in a pandas-UDF closure and assigns each Arrow batch with ONE
    numpy matmul + argmax — the only sane path for IVF-sized k (hundreds to
    thousands of cells).  ``"auto"`` (default) picks by k*dim.  Both are
    map-only and produce identical cells (argmax of cosine = argmax of
    x @ (C / |c|)^T; the row norm is a positive constant per row)."""
    if method == "auto":
        method = "literal" if len(centroids) * len(centroids[0]) <= 8192 else "pandas"
    if method == "pandas":
        cmat = np.asarray(centroids, dtype=np.float64)
        cn = np.linalg.norm(cmat, axis=1)
        cn[cn == 0] = 1.0
        cnorm = (cmat / cn[:, None]).T  # (d, k)

        d = cmat.shape[1]

        @F.pandas_udf("int")
        def assign(v: pd.Series) -> pd.Series:
            # NULL vectors -> cell 0, matching the literal path's coalesce
            x = np.asarray([
                np.asarray(e, dtype=np.float64) if e is not None else np.zeros(d)
                for e in v
            ])
            return pd.Series(np.argmax(x @ cnorm, axis=1).astype("int32"))

        return df.select(
            F.col(id_col), F.col(vec_col),
            *[F.col(c) for c in (extra_cols or [])],
            assign(F.col(vec_col)).alias("_ivf_cell"),
        )
    cnorms = [math.sqrt(sum(float(x) * float(x) for x in c)) for c in centroids]
    with_norm = df.select(
        F.col(id_col), F.col(vec_col),
        *[F.col(c) for c in (extra_cols or [])],
        norm(F.col(vec_col)).alias("_nv"),
    )
    scores = F.array(
        *[
            F.when(
                F.col("_nv") != 0,
                dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in cvec]))
                / (F.col("_nv") * F.lit(cn if cn != 0 else 1.0)),
            )
            for cvec, cn in zip(centroids, cnorms)
        ]
    )
    scored = with_norm.select(
        F.col(id_col), F.col(vec_col),
        *[F.col(c) for c in (extra_cols or [])],
        scores.alias("_scores"),
    )
    cell = (F.array_position(F.col("_scores"), F.array_max(F.col("_scores"))) - 1).cast("int")
    # zero-norm vectors score NULL against every centroid -> NULL position;
    # pin them to cell 0 (matching the pandas path's argmax-of-zeros) so
    # downstream numpy indexing never sees NaN cells
    cell = F.coalesce(cell, F.lit(0))
    return scored.select(
        F.col(id_col), F.col(vec_col),
        *[F.col(c) for c in (extra_cols or [])],
        cell.alias("_ivf_cell"),
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: rank only vectors in the ``n_probe`` cells nearest the
    query.  Scan cost drops to ~n_probe/len(centroids) of the corpus; with a
    cell-partitioned layout the untouched cells are pruned at the file
    level (the assignment stage is a narrow per-row op either way)."""
    sims = [
        (i, sum(a * b for a, b in zip(query_vec, c))
         / (math.sqrt(sum(a * a for a in query_vec)) * math.sqrt(sum(b * b for b in c)) or 1.0))
        for i, c in enumerate(centroids)
    ]
    probe_cells = [i for i, _ in sorted(sims, key=lambda t: -t[1])[:n_probe]]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    return (
        assigned.where(F.col("_ivf_cell").isin(probe_cells))
        .select(
            F.col(id_col),
            F.round(_cosine_to_literal(F.col(vec_col), q, query_vec), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization (max-abs scale): the standard
    4x storage/bandwidth cut for ANN indexes and embedding shipping.

    ``q_i = floor(127 * v_i / max_abs + 0.5)``, ``scale = max_abs / 127`` —
    the explicit floor(+0.5) half-up form is used instead of ``round()``
    because rounding-mode semantics differ across engines while ``floor``
    does not; dequantization is ``q_i * scale``.  A zero vector quantizes
    to all zeros with scale 0.

    Entirely built-in higher-order functions on the array column (codegen,
    no Python, no shuffle — at 100 TB this runs inside the scan stage).
    Output: ``(id_col, q array<int>, scale, max_err)`` where ``max_err`` is
    the worst per-component dequantization error, ``<= scale / 2`` by
    construction."""
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.select(F.col(id_col), vd.alias("_e")).select(
        id_col,
        "_e",
        F.array_max(F.transform(F.col("_e"), F.abs)).alias("_ma"),
    )
    quantized = staged.select(
        id_col,
        "_e",
        "_ma",
        F.when(
            F.col("_ma") == 0.0, F.transform(F.col("_e"), lambda x: F.lit(0))
        )
        .otherwise(
            F.transform(
                F.col("_e"),
                lambda x: F.floor(x * 127.0 / F.col("_ma") + 0.5).cast("int"),
            )
        )
        .alias("q"),
    )
    scale = F.col("_ma") / 127.0
    err = F.when(F.col("_ma") == 0.0, F.lit(0.0)).otherwise(
        F.array_max(
            F.zip_with("_e", "q", lambda x, qi: F.abs(x - qi.cast("double") * scale))
        )
    )
    return quantized.select(
        id_col,
        "q",
        F.round(scale, 9).alias("scale"),
        F.round(err, 6).alias("max_err"),
    )


def _combine_cell_partials(partials: DataFrame) -> DataFrame:
    """JVM pre-combine of per-partition (cell, m[array]) partial rows:
    ``util.explode_sum`` (map-side-combinable element-wise sum) followed by
    pos-ordered array reassembly.  The result has EXACTLY one row per
    distinct cell — what the driver collects is O(k), independent of input
    partition count (the scale fix for the old
    collect-one-row-per-partition shape)."""
    from .util import explode_sum

    return (
        explode_sum(partials, ["cell"])
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_x"))),
                lambda t: t["_x"],
            ).alias("m")
        )
    )


def kmeans_refine(
    df: DataFrame,
    centroids: list[list[float]],
    iters: int = 3,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd's k-means refinement of IVF centroids (cosine assignment).

    Per iteration: one narrow assignment pass (``ivf_assign``, literal or
    pandas path by k·dim), then the component-wise mean: each partition
    accumulates per-cell (count, sum) into a k x dim array and emits one
    partial row per non-empty cell, and the partials PRE-COMBINE JVM-SIDE
    (posexplode -> map-side-combinable SUM per (cell, component) -> array
    reassembly) so the driver collects EXACTLY one row per non-empty cell
    — O(k x dim), independent of input partition count.  At 10^5-10^6
    partitions the old driver-side combine was a collect of
    partitions x cells rows; this shape caps driver transfer at k rows.
    A cell that attracts no vectors keeps its previous position.
    Early-exits when the largest per-component centroid movement drops
    below ``tol``.

    Cosine is scale-invariant, so the un-normalized component mean yields
    the same assignments as the spherical-k-means normalized mean — the
    normalization step is deliberately omitted.

    Cost: ``iters`` passes over the corpus, each a scan + one tiny
    aggregate exchange; no iteration-to-iteration lineage growth (centroids
    re-enter each round as fresh literals)."""
    centroids = [[float(x) for x in c] for c in centroids]
    k = len(centroids)

    def cell_partials(batches):
        counts = None
        sums = None
        d = None
        for pdf in batches:
            pdf = pdf[pdf["_v"].notna()]  # NULL vectors contribute to no mean
            if not len(pdf):
                continue
            cells = pdf["_ivf_cell"].to_numpy()
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            if d is None:
                d = x.shape[1]
                counts = np.zeros(k, dtype=np.int64)
                sums = np.zeros((k, d), dtype=np.float64)
            np.add.at(counts, cells, 1)
            np.add.at(sums, cells, x)
        if d is not None:
            nz = np.nonzero(counts)[0]
            # partial row = (cell, [count, sum_0..sum_d-1]): count rides as
            # element 0 so ONE element-wise sum combines everything
            yield pd.DataFrame(
                {
                    "cell": nz.astype("int32"),
                    "m": [
                        np.concatenate(([float(counts[c])], sums[c])).tolist()
                        for c in nz
                    ],
                }
            )

    for _ in range(iters):
        assigned = ivf_assign(df, centroids, id_col, vec_col)
        partials = assigned.select(
            F.col("_ivf_cell"), F.col(vec_col).alias("_v")
        ).mapInPandas(cell_partials, "cell int, m array<double>")
        combined = _combine_cell_partials(partials).collect()
        new = [list(c) for c in centroids]  # empty cells keep old position
        for r in combined:
            n = r["m"][0]
            new[r["cell"]] = [v / n for v in r["m"][1:]]
        moved = max(
            (abs(a - b) for c_new, c_old in zip(new, centroids) for a, b in zip(c_new, c_old)),
            default=0.0,
        )
        centroids = new
        if moved < tol:
            break
    return centroids


def seeded_centroids(df: DataFrame, num_cells: int, id_col: str = "vec_id", vec_col: str = "embedding") -> list[list[float]]:
    """Deterministic cheap centroids: a hash-ordered sample of ``num_cells``
    vectors — ordering by ``md5(id)`` (id as tie-break) decorrelates the
    seed set from id order, which the k-smallest-ids take was biased by
    whenever ids correlate with content (e.g. time-ordered ingest).  Same
    cost either way: one ``TakeOrderedAndProject``, no full-corpus collect."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(num_cells)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def cosine_self_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    blocked: bool = True,
    num_bands: int = 1,
    max_bucket_size: int | None = None,
    oversized: str = "star",
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs (cosine >= threshold).

    ``blocked=True`` joins on the SRP bucket (sub-quadratic).  A single
    signature misses pairs that straddle a hyperplane; ``num_bands`` > 1
    blocks on several INDEPENDENT signatures (different seeds) and unions
    the candidates — recall rises like 1-(1-p)^bands for per-band collision
    probability p, the same banding amplification as MinHash-LSH.  Size
    ``num_planes`` so the expected bucket is O(100) rows at your corpus
    size (buckets ~ n/2^planes); ``max_bucket_size`` then catches the
    degenerate buckets real embedding sets produce (zero vectors, collapsed
    clusters) by routing them hub-and-spoke when ``oversized="star"``
    (O(k) pairs keyed to the bucket min, same policy as
    ``dedup.minhash_candidate_pairs``) or discarding them with
    ``oversized="drop"``.

    When ``max_bucket_size`` is set, the output gains an ``is_star``
    column and star pairs are EXEMPT from the threshold cut — they exist
    for connectivity (``connected_components`` family collapse), and a
    hot-bucket member whose cosine to the hub specifically falls below
    threshold must not lose its only edge.  Uncapped calls keep the plain
    (id_a, id_b, score) schema.

    ``blocked=False`` is the exact quadratic check for small/offline
    validation only.
    """
    if oversized not in ("star", "drop"):
        raise ValueError(
            f"oversized must be 'star' or 'drop', got {oversized!r}"
        )
    work = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if not blocked:
        a, b = work.alias("a"), work.alias("b")
        score = F.round(cosine(F.col("a._v"), F.col("b._v")), 6)
        return (
            a.join(b, on=[F.col("a._id") < F.col("b._id")])
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"), score.alias("score"))
            .where(F.col("score") >= threshold)
        )

    if dim is None:
        # array<> schemas carry no length, so without the caller-supplied
        # dim this costs one bounded probe job (a single row's vector)
        dim = len(work.select("_v").first()["_v"])
    # one row per (vector, band): band rows carry only (id, band, sig) — the
    # vectors join back AFTER pair dedup (same narrow-shuffle layout as
    # minhash banding)
    sigs = [
        srp_signature(F.col("_v"), _hyperplanes(dim, num_planes, seed + 7919 * band))
        for band in range(num_bands)
    ]
    banded = work.select(
        "_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(band).alias("band"), sig.alias("sig"))
                for band, sig in enumerate(sigs)
            ])
        ).alias("_b"),
    ).select("_id", "_b.band", "_b.sig")
    star_pairs = None
    capped = max_bucket_size is not None
    if capped:
        wb = Window.partitionBy("band", "sig")
        tagged = banded.select(
            "_id",
            "band",
            "sig",
            F.count(F.lit(1)).over(wb).alias("_bsz"),
            F.min("_id").over(wb).alias("_bmin"),
        )
        if oversized == "star":
            star_pairs = tagged.where(
                (F.col("_bsz") > max_bucket_size) & (F.col("_id") != F.col("_bmin"))
            ).select(
                F.col("_bmin").alias("id_a"),
                F.col("_id").alias("id_b"),
                F.lit(True).alias("is_star"),
            )
        banded = tagged.where(F.col("_bsz") <= max_bucket_size).select("_id", "band", "sig")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = a.join(
        b,
        on=[F.col("a.band") == F.col("b.band"), F.col("a.sig") == F.col("b.sig"),
            F.col("a._id") < F.col("b._id")],
    ).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        *([F.lit(False).alias("is_star")] if capped else []),
    )
    if star_pairs is not None:
        pairs = pairs.unionByName(star_pairs)
    if capped:
        # star tag survives a duplicate sighting via a regular bucket
        pairs = pairs.groupBy("id_a", "id_b").agg(F.max("is_star").alias("is_star"))
    else:
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    # norms fold once per document on the rejoin projections, not per pair
    va = work.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), norm(F.col("_v")).alias("_na")
    )
    vb = work.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), norm(F.col("_v")).alias("_nb")
    )
    score = F.round(
        F.when(
            (F.col("_na") != 0) & (F.col("_nb") != 0),
            dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        ),
        6,
    )
    scored = pairs.join(va, "id_a").join(vb, "id_b")
    if capped:
        return scored.select("id_a", "id_b", score.alias("score"), "is_star").where(
            (F.col("score") >= threshold) | F.col("is_star")
        )
    return scored.select("id_a", "id_b", score.alias("score")).where(
        F.col("score") >= threshold
    )


#: auto cell sizing target: O(10^3-10^4) vectors per k-means cell keeps the
#: per-cell BLAS matrix bounded while cells stay dense enough for recall
_CELL_TARGET = 4000
_MIN_CELLS = 16


def auto_num_cells(n_vectors: int) -> int:
    """Cell count for a corpus of ``n_vectors``: ~``_CELL_TARGET`` vectors
    per cell, never fewer than ``_MIN_CELLS`` cells."""
    return max(_MIN_CELLS, -(-n_vectors // _CELL_TARGET))


def semantic_dedup(
    df: DataFrame,
    num_cells: int | None = None,
    threshold: float = 0.95,
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public recipe: Abbas et al.
    2023, arXiv:2303.09540): cluster the embedding space with k-means,
    compare pairs ONLY within a cluster, and keep one representative per
    connected near-dup family.  Returns the deduplicated corpus (``df``
    minus dropped rows, original schema).

    Against SRP blocking (``cosine_self_pairs``), learned cells track the
    corpus's actual density, so semantically-tight regions land in the same
    block with far fewer bands.  Pipeline: seeded centroids -> Lloyd
    refinement (``kmeans_iters`` narrow passes) -> one assignment pass ->
    per-cell pairwise cosine -> min-label components -> anti-join.

    Scale: the pair stage is ``applyInPandas`` per cell — ONE shuffle on
    the cell id, then each cell's similarity matrix is chunked numpy BLAS
    (row blocks of 1024 x cell, so peak memory is block x cell, never
    cell²).  A JVM self-join here would evaluate an interpreted
    higher-order dot per candidate pair — measured ~100x slower than the
    matmul on 200k vectors.  ``num_cells`` must grow with the corpus
    (target cells of O(10^3-10^4) vectors); cells beyond ``max_cell_size``
    degrade to SCORED hub-and-spoke edges — one O(n·d) matvec against the
    hub (min-id) vector, keeping only edges whose rounded cosine clears
    ``threshold`` — so a hot cell stays O(n) edges without the failure mode
    of collapsing every member into one family regardless of similarity.
    (Members similar to each other but not to the hub go un-linked in this
    degraded mode — a recall trade, never silent data loss.)  No unbounded
    all-pairs stage exists at any input.

    ``num_cells=None`` (default) sizes cells from the corpus automatically
    — ``auto_num_cells(df.count())``, ~4k vectors/cell — at the cost of one
    count job, so an under-celled corpus can no longer fire the
    hot-cell degradation silently at scale; pass an explicit value to skip
    the count when the corpus size is known."""
    from .dedup import connected_components

    if num_cells is None:
        num_cells = auto_num_cells(df.count())
    cents = kmeans_refine(
        df,
        seeded_centroids(df, num_cells, id_col, vec_col),
        iters=kmeans_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    assigned = ivf_assign(df, cents, id_col, vec_col)
    id_type = dict(df.dtypes)[id_col]
    block = 1024

    def pairs_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                              "id_b": pd.Series([], dtype="int64")})
        if n < 2:
            return empty
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        dim = next(
            (len(v) for v in pdf[vec_col] if v is not None), 0
        )
        x = np.asarray([
            np.asarray(v, dtype=np.float64) if v is not None else np.zeros(dim)
            for v in pdf[vec_col]
        ])
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0] = np.inf  # zero/NULL vectors match nothing
        xn = x / norms[:, None]
        if n > max_cell_size:
            # hot cell: hub-and-spoke to the min id, SCORED — one O(n·d)
            # matvec against the hub vector, threshold-filtered so only
            # genuine near-dups of the hub link (an unscored star here
            # would drop every member of the cell as a "duplicate")
            s = np.round(xn[1:] @ xn[0], 6)
            keep = s >= threshold
            return pd.DataFrame(
                {"id_a": np.repeat(ids[0], int(keep.sum())), "id_b": ids[1:][keep]}
            )
        out_a, out_b = [], []
        for i0 in range(0, n, block):
            s = xn[i0 : i0 + block] @ xn.T  # (block, n)
            ii, jj = np.nonzero(np.round(s, 6) >= threshold)
            keep = (ii + i0) < jj  # upper triangle: id_a < id_b
            out_a.append(ids[(ii + i0)[keep]])
            out_b.append(ids[jj[keep]])
        if not out_a:
            return empty
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    pairs = assigned.groupBy("_ivf_cell").applyInPandas(
        pairs_in_cell, f"id_a {id_type}, id_b {id_type}"
    )
    comps = connected_components(pairs)
    dropped = comps.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(dropped, id_col, "left_anti")


def incremental_semantic_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_seen_per_cell: int = 4096,
) -> DataFrame:
    """Cross-corpus embedding near-dup filter: drop a NEW vector when some
    SEEN vector in its k-means cell has cosine >= ``threshold``.  Returns
    the surviving new rows (original ``new_df`` schema) — the embedding
    analogue of :func:`~..dedup.incremental_dedup_minhash`, cross-corpus
    only; compose with :func:`semantic_dedup` for within-batch families.

    ``centroids`` is the PERSISTED artifact of the steady-state daily loop
    (computed once on the seen corpus via ``seeded_centroids`` +
    ``kmeans_refine``, stored — e.g. in a snapshot table — and re-read):
    both sides assign against the same frozen cells, so a day's batch
    never re-clusters the accumulated corpus.  Re-train centroids only
    when corpus drift degrades cell balance (monitor with
    ``quality.column_drift``).

    Scale shape: one map-only assignment pass per side (no shuffle), one
    shuffle on the cell id, then per-cell new x seen cosine as chunked
    numpy BLAS — peak memory block x |seen-cell|.  A hot seen cell is
    capped at ``max_seen_per_cell`` smallest ids (bounded recall trade,
    same spirit as minhash's ``max_band_reps``: a match hiding behind
    the cap's dissimilar cell-mates is missed; near-identical hot cells
    make the practical loss negligible).
    """
    import pandas as pd

    tagged = new_df.select(
        F.lit("n").alias("_side"), F.col(id_col), F.col(vec_col)
    ).unionByName(
        seen_df.select(F.lit("s").alias("_side"), F.col(id_col), F.col(vec_col))
    )
    assigned = ivf_assign(
        tagged, centroids, id_col, vec_col, extra_cols=["_side"]
    )
    id_type = dict(new_df.dtypes)[id_col]
    block = 1024

    def dups_in_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({id_col: pd.Series([], dtype="object")})
        new_side = pdf[pdf["_side"] == "n"]
        seen_side = pdf[pdf["_side"] == "s"]
        if new_side.empty or seen_side.empty:
            return empty
        seen_side = seen_side.sort_values(id_col).head(max_seen_per_cell)

        def matrix(part: "pd.DataFrame") -> np.ndarray:
            dim = next((len(v) for v in part[vec_col] if v is not None), 0)
            x = np.asarray([
                np.asarray(v, dtype=np.float64) if v is not None else np.zeros(dim)
                for v in part[vec_col]
            ])
            norms = np.linalg.norm(x, axis=1)
            norms[norms == 0] = np.inf  # zero/NULL vectors match nothing
            return x / norms[:, None]

        xn = matrix(new_side)
        xs = matrix(seen_side)
        ids = new_side[id_col].to_numpy()
        hit = np.zeros(len(ids), dtype=bool)
        for i0 in range(0, len(ids), block):
            s = xn[i0 : i0 + block] @ xs.T
            hit[i0 : i0 + block] = (np.round(s, 6) >= threshold).any(axis=1)
        return pd.DataFrame({id_col: ids[hit]})

    dup_ids = assigned.groupBy("_ivf_cell").applyInPandas(
        dups_in_cell, f"{id_col} {id_type}"
    )
    return new_df.join(dup_ids, id_col, "left_anti")
