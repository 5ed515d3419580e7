"""Similarity search over embedding columns (driver north star).

Every operator here is candidate generation followed by one shared
scoring and ranking kernel. Only the candidate generator differs per
strategy:

- brute force (``cosine_topk``, ``embedding_neardup_pairs``): a non-equi
  join, every probe against every corpus vector — the correctness
  baseline, O(|probes|·|corpus|·dim);
- sign-bit LSH (``lsh_cosine_topk``, ``embedding_neardup_pairs_lsh``,
  ``incremental_embedding_neardup_pairs``): a pair is a candidate iff it
  shares a ``(table, signature)`` bucket in any of ``tables`` tables;
- IVF (``ivf_cosine_topk``, ``ivf_search_index``): a probe meets the
  corpus rows of its ``nprobe`` nearest-centroid lists, in memory or read
  from a persisted, list-partitioned index;
- IVF with quantized candidates (``ivf_sq8_topk``, ``ivf_pq_topk``,
  ``ivf_search_index(rerank=)``): the list join ranks by a quantized
  similarity (int8 codes or PQ asymmetric distances) and keeps ``rerank``
  rows per query for the exact stage;
- clusters (``semantic_dedup``): pairs within one k-means cluster.

The kernel, each piece defined once below: ``_side`` is the only
``(id, vector, norm)`` projection (norms attach per row below the join,
so each vector's self-dot runs once, not once per pair); ``_cos`` is the
only cosine expression; ``_score`` rounds it; ``_topk`` is the only
per-query ranking (score desc, id asc), serving both every final top-k
and the quantized R-cut; ``_quantized_topk`` is the only quantized
candidate → exact re-rank path, to which each quantizer contributes only
its code columns and its ``q_sim`` (``_sq8_probe``, ``_pq_probe``).

Hyperplanes are generated driver-side from a seeded LCG (deterministic,
cluster-reproducible) and shipped as literal arrays — dimension-bounded, so
the plan stays data-independent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .util import parallelize_small

# id column of each side role: probe/corpus for top-k, the two ends of a
# pair, and "" for a side that is retagged into both ends of a self-join
_ID = {"q": "query_id", "c": "neighbor_id", "1": "id_1", "2": "id_2", "": "__id"}


def _dot(a: str, b: str) -> Column:
    """Exact double dot product of two array<float> columns, JVM-side."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _side(
    df: DataFrame, id_col: str, vec_col: str, tag: str, *keep, spread: bool = False
) -> DataFrame:
    """The one ``(id, vector, norm)`` projection: ``(_ID[tag], __v{tag},
    *keep, __n{tag})``. ``spread`` runs ``parallelize_small`` on the
    projection before the norm. The norm is attached per ROW below the
    join boundary (the Join node stops CollapseProject from inlining it
    into the per-pair expression), so it is computed once per vector."""
    side = df.select(
        F.col(id_col).alias(_ID[tag]), F.col(vec_col).alias(f"__v{tag}"), *keep
    )
    if spread:
        side = parallelize_small(side)
    return side.withColumn(f"__n{tag}", F.sqrt(_dot(f"__v{tag}", f"__v{tag}")))


def _retag(side: DataFrame, tag: str, *keep) -> DataFrame:
    """An untagged side (``__id, __v, __n``) renamed to pair end ``tag`` —
    both ends of a self-join read the one side, signed or clustered once."""
    return side.select(
        F.col("__id").alias(_ID[tag]),
        F.col("__v").alias(f"__v{tag}"),
        F.col("__n").alias(f"__n{tag}"),
        *keep,
    )


def _cos(a: str, b: str) -> Column:
    """The one exact cosine: dot product over the product of the per-row
    norms (sqrt per side, multiplied), between sides ``a`` and ``b``."""
    return _dot(f"__v{a}", f"__v{b}") / (F.col(f"__n{a}") * F.col(f"__n{b}"))


def _score(pairs: DataFrame, a: str, b: str, round_digits: int) -> DataFrame:
    """``(id_a, id_b, cos_sim)`` with the cosine rounded — rounding before
    ranking or thresholding makes results deterministic and portable."""
    return pairs.select(
        _ID[a], _ID[b], F.round(_cos(a, b), round_digits).alias("cos_sim")
    )


def _near_pairs(
    pairs: DataFrame, threshold: float, round_digits: int
) -> DataFrame:
    """Verified near-duplicate pairs: rounded cosine ≥ ``threshold``."""
    return _score(pairs, "1", "2", round_digits).filter(
        F.col("cos_sim") >= threshold
    )


def _topk(scored: DataFrame, k: int, score: str = "cos_sim") -> DataFrame:
    """The one per-query ranking: ``row_number`` over (``score`` desc,
    neighbor id asc), first ``k`` rows per query."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", score, "rn")
    )


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors of each probe (self excluded).

    The probe side is broadcast (it is the small side by contract) so the
    corpus never shuffles; ranking windows partition by probe. Similarities
    are rounded before ranking with an id tie-break, making the top-k set
    deterministic and engine-portable.

    Norms are attached per ROW below the join boundary (``_side``), so
    each vector's self-dot product is computed once, not once per pair —
    the pair loop does exactly one dim-length dot product. Same arithmetic
    (sqrt per side, multiplied), so values are bit-identical.
    """
    p = _side(probes, id_col, vec_col, "q")
    c = _side(corpus, id_col, vec_col, "c", spread=True)
    pairs = c.join(F.broadcast(p), F.col("neighbor_id") != F.col("query_id"))
    return _exact_topk(pairs, k, round_digits)


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-Gaussian hyperplanes (sum of 4 uniforms, CLT-ish)."""
    state = seed & 0x7FFFFFFF

    def nxt() -> float:
        nonlocal state
        total = 0.0
        for _ in range(4):
            state = (1103515245 * state + 12345) % (1 << 31)
            total += state / float(1 << 31)
        return total - 2.0

    return [[nxt() for _ in range(dim)] for _ in range(bits)]


def _rademacher_planes(
    dim: int, bits: int, tables: int, seed: int
) -> "np.ndarray":
    """±1 hyperplanes derived from md5 — the PORTABLE family.

    Entry (t, b, d) is +1 iff the first 8 hex chars of
    ``md5("{seed}:{t}:{b}:{d}")`` parse to an even integer — a pure
    function any engine reproduces (DuckDB: the identical md5/substr
    expression), which is what lets ``ann_probe_suite``'s lsh leg carry a FULL SQL
    oracle (round-11 verdict item 7, the dedup_simhash move applied to
    sign-LSH). Rademacher projections are a standard sign-LSH family
    (same collision-probability behavior as Gaussian at these dims).
    """
    import hashlib

    rows = []
    for t in range(tables):
        for b in range(bits):
            rows.append(
                [
                    1.0
                    if int(
                        hashlib.md5(
                            f"{seed}:{t}:{b}:{d}".encode()
                        ).hexdigest()[:8],
                        16,
                    )
                    % 2
                    == 0
                    else -1.0
                    for d in range(dim)
                ]
            )
    return np.array(rows, dtype=np.float64)


def _lsh_signatures_batch(
    dim: int, bits: int, tables: int, seed: int, family: str = "clt"
):
    """Vectorized pandas UDF: all ``tables`` sign-bit signatures in one
    matmul per Arrow batch — (batch, dim) @ (dim, tables*bits), then pack
    each table's sign bits into a long. ~100× the per-bit expression form.

    ``family="clt"`` (default) keeps the historical pseudo-Gaussian
    planes; ``family="md5"`` uses :func:`_rademacher_planes`, whose sign
    decisions a SQL engine can recompute exactly (sum-order float
    divergence is ~1e-13 while the smallest |dot| on the fixture corpora
    is 6.9e-7 — margins verified at all three SFs before the oracle was
    pinned).
    """
    from pyspark.sql.functions import pandas_udf

    if family == "md5":
        planes = _rademacher_planes(dim, bits, tables, seed)
    else:
        planes = np.array(
            [
                plane
                for t in range(tables)
                for plane in _hyperplanes(dim, bits, seed + 7919 * t)
            ],
            dtype=np.float64,
        )  # (tables*bits, dim); row t*bits+i ↔ table t, bit i
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))

    @pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        if mat.shape[1] != dim:
            raise ValueError(
                f"embedding dimension {mat.shape[1]} does not match the "
                f"dim={dim} the LSH planes were built for — pass dim= "
                "explicitly (signatures hashed against wrong-width planes "
                "would bucket garbage)"
            )
        dots = mat @ planes.T  # (n, tables*bits)
        packed = (dots > 0).astype(np.int64).reshape(-1, tables, bits) @ weights
        return pd.Series(list(packed))  # (n, tables)

    return sigs


def _signed(df: DataFrame, vec: str, sig_udf, *cols) -> DataFrame:
    """One row per (vector, table): ``cols`` (default: every column of
    ``df``) plus ``__tbl``/``__sig`` from one ``sig_udf`` call per row."""
    return df.withColumn("__sigs", sig_udf(F.col(vec))).select(
        *(cols or df.columns), F.posexplode("__sigs").alias("__tbl", "__sig")
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 6,
    tables: int = 16,
    seed: int = 42,
    round_digits: int = 6,
    family: str = "clt",
) -> DataFrame:
    """ANN top-k: multi-table random-hyperplane bucketing + exact re-rank.

    One table of b sign bits has candidate probability cos-angle^b — far
    too selective for moderate-similarity neighbors (for sim≈0.35, 8 bits ⇒
    P≈0.02: near-zero recall, observed). Standard fix: ``tables``
    independent signatures; a pair is a candidate if it collides in ANY
    table — P = 1-(1-p^b)^T. With b=6, T=16 @ sim 0.35: ≈0.61; @ sim 0.6:
    ≈0.97. Cost: corpus signed T times (narrow), candidate set is the
    per-table bucket join union, deduped before the exact kernel.

    At cluster scale the bucket join replaces |probes|×|corpus| with
    Σ_table |probes|×bucket_size; tune (bits↑, tables↑) together to hold
    recall while shrinking buckets.
    """
    # one signature per table from a single Arrow-batched matmul, exploded
    # so the equi-join key is (table index, signature) — a single join
    # handles all tables at once
    sig_udf = _lsh_signatures_batch(dim, bits, tables, seed, family)
    c = _signed(_side(corpus, id_col, vec_col, "c", spread=True), "__vc", sig_udf)
    p = _signed(_side(probes, id_col, vec_col, "q"), "__vq", sig_udf)
    # Score BEFORE deduplicating: a pair colliding in several tables would
    # otherwise drag both 64-float vectors (~550 B/row) through the dedup
    # shuffle; scoring first reduces each pair to three scalars (~25 B),
    # and the cosine is deterministic so the dedup keeps an identical
    # value whichever copy survives. (Redundant dot products for multi-
    # table collisions cost far less than shuffling vectors.)
    pairs = c.join(F.broadcast(p), on=["__tbl", "__sig"]).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = _score(pairs, "q", "c", round_digits).dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    return _topk(scored, k)


def _centroid_assign_batch(centroids: "np.ndarray", nprobe: int):
    """Vectorized pandas UDF: indices of the ``nprobe`` nearest centroids
    (by cosine) per vector — one matmul per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    c_unit = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )

    @pandas_udf("array<int>")
    def assign(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ c_unit.T  # (n, k)
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return assign


def _probe_lists(p: DataFrame, centroids: "np.ndarray", nprobe: int) -> DataFrame:
    """A probe side exploded to its ``nprobe`` nearest lists: one row per
    (probe, list). An empty corpus trains no centroids, so no probe gets a
    list and every candidate join is empty, as in :func:`cosine_topk`."""
    if len(centroids) == 0:
        return p.withColumn("__list", F.explode(F.array().cast("array<int>")))
    assign = _centroid_assign_batch(centroids, min(nprobe, len(centroids)))
    return p.withColumn("__list", F.explode(assign(F.col("__vq"))))


def _ivf_sides(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    nprobe: int,
    iterations: int = 2,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """In-memory IVF candidate generation: train the centroids, put every
    corpus vector in its ONE nearest list, and explode every probe to its
    ``nprobe`` nearest. Returns the listed corpus side, the probe side and
    the listed probe side."""
    centroids = _ivf_train_centroids(
        corpus, id_col, vec_col, n_lists, iterations=iterations
    )
    assign_one = _centroid_assign_batch(centroids, 1)
    c = _side(corpus, id_col, vec_col, "c", spread=True).withColumn(
        "__list", assign_one(F.col("__vc"))[0]
    )
    p = _side(probes, id_col, vec_col, "q")
    return c, p, _probe_lists(p, centroids, nprobe)


def _list_pairs(c: DataFrame, p: DataFrame) -> DataFrame:
    """IVF candidates: each listed probe row meets the corpus rows of its
    list (probe side broadcast).

    No dedup needed: every corpus vector lives in exactly ONE list and a
    probe visits each of its nprobe lists once, so (query, neighbor)
    pairs are already unique — a dropDuplicates here would shuffle every
    candidate with both embedded vectors for nothing (measured 176 s →
    19.7 s at 2000 probes × 100 k corpus when removed)."""
    return c.join(F.broadcast(p), "__list").filter(
        F.col("neighbor_id") != F.col("query_id")
    )


def _exact_topk(pairs: DataFrame, k: int, round_digits: int) -> DataFrame:
    """Exact cosine top-k of probe × corpus candidate pairs."""
    return _topk(_score(pairs, "q", "c", round_digits), k)


def ivf_cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 32,
    nprobe: int = 4,
    round_digits: int = 6,
    train_iterations: int = 0,
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization + exact re-rank.

    Centroids come from :func:`_ivf_train_centroids`. The ad-hoc in-memory
    path defaults to 0 Lloyd iterations (seed centroids only): each
    iteration is a full corpus scan, a cost that belongs in the amortized
    ``ivf_build_index`` path (which defaults to 2), not per query batch.
    Every corpus vector lands in exactly ONE list (its nearest
    centroid); each probe scans its ``nprobe`` nearest lists — cost drops
    from |probes|·|corpus| to |probes|·(nprobe/n_lists)·|corpus| with the
    list assignment amortized once over the corpus. ``nprobe == n_lists``
    degenerates to exact brute force (recall 1.0) — asserted in tests.

    At cluster scale: lists are the partitioning key, so each probe-task
    reads only its lists' partitions; centroid assignment is one
    Arrow-batched matmul per side.
    """
    c, _, p_listed = _ivf_sides(
        corpus, probes, id_col, vec_col, n_lists, nprobe, train_iterations
    )
    return _exact_topk(_list_pairs(c, p_listed), k, round_digits)


def auto_lsh_params(
    n_vectors: int,
    threshold: float,
    target_bucket: int = 16,
    miss_prob: float = 1e-6,
    max_bits: int = 16,
    max_tables: int = 64,
) -> tuple[int, int]:
    """Size (bits, tables) for sign-bit LSH from the corpus size and the
    recall budget.

    Fixed ``bits`` makes the bucket join quadratic in corpus size (bucket
    population ∝ n / 2^bits, cost Σ|bucket|² ∝ n²/2^bits): measured 7×
    runtime growth at 10× vectors with bits=8. Instead:

    - ``bits`` targets a constant expected bucket population:
      ceil(log2(n / target_bucket)), clamped to [8, max_bits] — join cost
      returns to ~linear in n;
    - ``tables`` spends the recall budget: a true pair at cos=threshold
      collides in one table w.p. p^bits (p = 1 - arccos(threshold)/π),
      so tables = ceil(ln(miss_prob) / ln(1 - p^bits)) keeps
      P(miss) ≤ miss_prob for ANY bits choice — more buckets never costs
      recall, only tables (a linear explode factor).

    When the derived table count would exceed ``max_tables`` (high
    threshold × large corpus), the budget is re-spent on bucket width
    instead of being silently dropped (round-5 advice): ``bits`` shrinks
    toward 8 — halving the per-table miss rate costs 2× expected bucket
    population, a measured trade, not a recall loss — until the table
    count fits. Only if the budget is infeasible even at bits=8 does the
    clamp bind, and then it WARNS with the effective miss probability so
    callers see the real contract they are getting.
    """
    import math
    import warnings

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    bits = max(8, min(max_bits, math.ceil(math.log2(max(n_vectors, 2) / target_bucket))))

    def needed(b: int) -> int:
        return math.ceil(math.log(miss_prob) / math.log(1.0 - p**b))

    while bits > 8 and needed(bits) > max_tables:
        bits -= 1
    tables = needed(bits)
    if tables > max_tables:
        effective_miss = (1.0 - p**bits) ** max_tables
        warnings.warn(
            f"auto_lsh_params: recall budget infeasible — needs {tables} "
            f"tables at bits={bits} but max_tables={max_tables}; effective "
            f"P(miss a true pair at cos={threshold}) ≈ {effective_miss:.2e} "
            f"instead of the requested {miss_prob:.2e}",
            stacklevel=2,
        )
    return bits, max(1, min(max_tables, tables))


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int | None = None,
    tables: int | None = None,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold) — the scale
    path: LSH-bucketed candidates → exact-cosine verify. No theta/cartesian
    self-join anywhere in the plan.

    Candidate generation: every vector gets ``tables`` sign-bit signatures
    (one Arrow-batched matmul); a pair is a candidate iff it collides in ANY
    table — a plain equi-self-join on (table, signature). Miss probability
    for a true pair at cos=θ is (1-p^b)^T with p = 1-arccos(θ)/π; at the
    0.95 threshold with b=8, T=32 that is ≈2·10⁻⁸ (and vanishing for closer
    pairs), so the candidate set contains every true pair in practice —
    tests assert pair-set equality with the exact all-pairs kernel on the
    fixture data, and the signatures are seed-deterministic, so equality is
    stable run-to-run. Verify = the exact cosine kernel, so precision is 1
    by construction.

    Scale shape: cost is Σ_tables Σ_buckets |bucket|², versus |corpus|² for
    the all-pairs form (``embedding_neardup_pairs``, kept as the sf0.01
    oracle twin). Scoring happens BEFORE the pair dedup so only three
    scalars per candidate cross the dedup shuffle, never the vectors.

    ``bits``/``tables`` default to :func:`auto_lsh_params` sized from a
    column-pruned corpus count — constant expected bucket population (the
    bucket join stays ~linear in n) with the table count re-derived to
    hold P(miss a true pair) ≤ 10⁻⁶ at the given threshold. Pass both
    explicitly to pin a layout (the persisted-index paths do: an index's
    signatures must outlive the corpus size that sized them).
    """
    if bits is None or tables is None:
        n_vectors = df.select(id_col).count()
        auto_bits, auto_tables = auto_lsh_params(n_vectors, threshold)
        bits = auto_bits if bits is None else bits
        tables = auto_tables if tables is None else tables
    sig_udf = _lsh_signatures_batch(dim, bits, tables, seed)
    signed = _signed(_side(df, id_col, vec_col, "", spread=True), "__v", sig_udf)
    a = _retag(signed, "1", "__tbl", "__sig")
    b = _retag(signed, "2", "__tbl", "__sig")
    pairs = a.join(b, on=["__tbl", "__sig"]).filter(F.col("id_1") < F.col("id_2"))
    return _near_pairs(pairs, threshold, round_digits).dropDuplicates(
        ["id_1", "id_2"]
    )


def embedding_lsh_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    tables: int = 32,
    seed: int = 42,
) -> DataFrame:
    """The persistable signature index of an embedding corpus:
    ``(id, table, signature)`` — one row per vector per LSH table.

    Signatures are seed-deterministic (fixed hyperplane family), so an
    index built yesterday and a batch signed today bucket identically —
    the property ``incremental_embedding_neardup_pairs`` rests on. The
    verify stage needs the vectors themselves, which the stored corpus
    already holds; the index adds only ~12 B/vector/table.
    """
    sig_udf = _lsh_signatures_batch(dim, bits, tables, seed)
    base = parallelize_small(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    )
    return _signed(base, "__v", sig_udf, F.col("__id").alias(id_col))


def incremental_embedding_neardup_pairs(
    new_vecs: DataFrame,
    index_sigs: DataFrame,
    corpus_vecs: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    tables: int = 32,
    seed: int = 42,
    round_digits: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup a NEW embedding batch against an already-indexed corpus —
    without re-signing one stored vector.

    The ingestion-time shape for a growing 100 TB embedding store: batch
    cost is one Arrow-batched matmul over the batch plus a bucket join
    against the stored signatures; the corpus vectors are touched only for
    the candidates that collide (exact-cosine verify). Returned pairs are
    exactly the full-corpus pairs INVOLVING a new vector (new×indexed via
    the stored buckets, new×new via the batch's own signatures) — indexed
    ×indexed pairs were emitted when those vectors arrived, so
    ``internal(b1) ∪ incremental(b2 | index(b1))`` ≡ ``full(b1 ∪ b2)``
    (asserted in tests on planted duplicates).

    Returns ``(pairs, new_sigs)``; append ``new_sigs`` to the stored index
    to complete the tick.
    """
    new_sigs = embedding_lsh_index(
        new_vecs, id_col, vec_col, dim, bits, tables, seed
    )
    all_sigs = index_sigs.select(id_col, "__tbl", "__sig").unionByName(new_sigs)
    nb = new_sigs.alias("nb")
    ob = all_sigs.alias("ob")
    candidates = (
        nb.join(
            ob,
            (F.col("nb.__tbl") == F.col("ob.__tbl"))
            & (F.col("nb.__sig") == F.col("ob.__sig"))
            & (F.col(f"nb.{id_col}") != F.col(f"ob.{id_col}")),
        )
        .select(
            F.least(F.col(f"nb.{id_col}"), F.col(f"ob.{id_col}")).alias("id_1"),
            F.greatest(F.col(f"nb.{id_col}"), F.col(f"ob.{id_col}")).alias(
                "id_2"
            ),
        )
        .distinct()
    )
    all_vecs = corpus_vecs.select(F.col(id_col), F.col(vec_col)).unionByName(
        new_vecs.select(F.col(id_col), F.col(vec_col))
    )
    pairs = candidates.join(_side(all_vecs, id_col, vec_col, "1"), "id_1").join(
        _side(all_vecs, id_col, vec_col, "2"), "id_2"
    )
    return _near_pairs(pairs, threshold, round_digits), new_sigs


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold), exact.

    All-pairs form — the ORACLE TWIN of ``embedding_neardup_pairs_lsh``
    (which is the declared/scale path): O(n²), correct at any recall, only
    ever run at oracle scale. Per-row norms attach below the join so each
    vector's self-dot computes once, not O(n) times.
    """
    a = _side(df, id_col, vec_col, "1", spread=True)
    b = _side(df, id_col, vec_col, "2")
    pairs = a.join(b, F.col("id_1") < F.col("id_2"))
    return _near_pairs(pairs, threshold, round_digits)


# Driver-side training caps, independent of n_lists: the seed pool is at
# most _SEED_POOL_CAP collected vectors (~32 MB at dim 64) and the O(seeds ×
# pool × dim) farthest-first loop runs for at most _FARTHEST_FIRST_CAP seeds.
_SEED_POOL_CAP = 65_536
_FARTHEST_FIRST_CAP = 1_024


def _ivf_train_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    iterations: int = 2,
    scale: int = 1_000_000,
) -> "np.ndarray":
    """Deterministic IVF training: farthest-first seeds + distributed Lloyd.

    The old stride-sample-by-id seeding put every seed in one region on
    clustered corpora (ids correlate with clusters), leaving one list with
    most of the corpus and skewed probe cost. Two deterministic fixes:

    - **Seeding**: sample vectors ordered by ``xxhash64(id)`` — a uniform
      pseudo-random draw across the corpus regardless of id layout,
      reproducible across runs — then run farthest-first traversal
      (Gonzalez) driver-side on that bounded sample: each next seed is the
      sample vector least similar (cosine) to its nearest existing seed,
      ties broken by id. Driver work is capped INDEPENDENTLY of
      ``n_lists`` (round-5 advice — semantic_dedup auto-sizes n_lists up
      to 65536, where an uncapped n_lists×16 pool would be ~1M collected
      vectors and ~4e12 seeding flops): the pool collects at most
      ``_SEED_POOL_CAP`` vectors and farthest-first picks at most
      ``_FARTHEST_FIRST_CAP`` seeds (O(cap × pool × dim) ≈ 4e9 flops worst
      case); any remaining seeds are taken directly from the unchosen
      hash-ordered sample — a uniform random init that the Lloyd rounds
      then refine. For n_lists ≤ _FARTHEST_FIRST_CAP the behavior is
      bit-identical to the uncapped algorithm.
    - **Lloyd refinement** (``iterations`` rounds): assignment is the same
      Arrow-batched matmul UDF the index uses (one corpus scan per
      iteration, no vector shuffle); per-dimension means are posexplode →
      groupBy(list, dim) over integer-scaled components (``round(x*1e6)``
      summed as longs) — exact, order-independent sums, so centroids are
      bit-identical under any partitioning or row order. The per-iteration
      collect is ≤ n_lists rows of dim-length arrays; empty lists keep
      their previous centroid.
    """
    pool_size = min(n_lists * 16, _SEED_POOL_CAP)
    sample = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(pool_size)
        .collect()
    )
    if not sample:
        return np.empty((0, 0), dtype=np.float64)
    pool = np.array([row[1] for row in sample], dtype=np.float64)
    pool_unit = pool / np.maximum(
        np.linalg.norm(pool, axis=1, keepdims=True), 1e-12
    )
    n_seeds = min(n_lists, len(pool))
    n_ff = min(n_seeds, _FARTHEST_FIRST_CAP)
    chosen = [0]  # first vector in hash order
    # min cosine-similarity of each pool vector to the chosen seed set
    best_sim = pool_unit @ pool_unit[0]
    for _ in range(1, n_ff):
        nxt = int(np.argmin(best_sim))  # farthest point; ties → lowest index
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, pool_unit @ pool_unit[nxt])
    if n_seeds > n_ff:
        # remaining seeds: unchosen sample vectors in hash order (uniform
        # random init); Lloyd refinement re-centers them
        taken = set(chosen)
        chosen.extend(
            i for i in range(len(pool)) if i not in taken
        )
        chosen = chosen[:n_seeds]
    centroids = pool[chosen]
    if iterations <= 0 or len(centroids) < 2:
        return centroids

    vecs = parallelize_small(corpus.select(F.col(vec_col).alias("__v")))
    for _ in range(iterations):
        assign_one = _centroid_assign_batch(centroids, 1)
        comp = (
            vecs.withColumn("__list", assign_one(F.col("__v"))[0])
            .select("__list", F.posexplode("__v").alias("__dim", "__x"))
        )
        mean_rows = (
            comp.groupBy("__list", "__dim")
            .agg(
                (
                    F.sum(F.round(F.col("__x") * scale).cast("long"))
                    / (F.count(F.lit(1)) * F.lit(float(scale)))
                ).alias("__mean")
            )
            .groupBy("__list")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__dim", "__mean"))),
                    lambda s: s["__mean"],
                ).alias("__means")
            )
            .collect()
        )
        new = centroids.copy()
        for r in mean_rows:
            new[r["__list"], :] = r["__means"]
        centroids = new
    return centroids


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 32,
    train_iterations: int = 2,
    quantize: bool | str = False,
    pq_m: int = 8,
    pq_ksub: int = 16,
) -> None:
    """Persist an IVF index: the corpus written PARTITIONED BY its nearest-
    centroid list, plus the centroid table — the at-rest layout that makes
    ANN search a partition-pruned read. Centroids get ``train_iterations``
    rounds of distributed Lloyd re-centering (balanced lists on clustered
    corpora); the per-iteration corpus scan is amortized over every search
    against the index.

    Build cost is one Arrow-batched assignment matmul over the corpus and
    one partitioned write; search cost then scales with nprobe/n_lists of
    the DATA READ, not just compute — the property the in-memory
    ``ivf_cosine_topk`` cannot give (it must scan the whole corpus every
    query batch). Same layout discipline as storage.write_bucketed_table:
    repartition on the partition column first so each list is one file,
    not one file per task × list.

    ``quantize=True`` (or ``"sq8"``) is the at-rest IVF,SQ8 layout:
    per-vector int8 codes (``__cq``, stored as ``array<tinyint>`` — 1
    byte/dim on disk vs 4 for the float) plus the code norm ride NEXT TO
    the float vectors in the same files. Parquet is columnar, so a
    quantized search's candidate scan projects ONLY the code columns (¼
    the bytes off disk — asserted via ReadSchema in tests) and the float
    column is read just for the ``rerank`` winners.

    ``quantize="pq"`` is the at-rest IVF,PQ layout — the compression tier
    past SQ8: ``pq_m`` subspace codes (``__pqc``, array<smallint> —
    2·m bytes/vector vs 8·dim for the double column) plus the
    reconstruction norm, with the trained codebooks persisted at
    ``path + "/pq_codebooks"`` so searches reuse them without
    retraining. Same columnar property: candidate scans read codes only.
    """
    if quantize not in (False, True, "sq8", "pq"):
        raise ValueError(f"quantize must be False, True, 'sq8' or 'pq': {quantize!r}")
    if quantize == "pq" and not 2 <= pq_ksub <= 32768:
        # codes persist as array<smallint>: a ksub past 2^15 would wrap
        # the cast silently (non-ANSI mode) and corrupt the stored codes
        # while the codebook table still claims the full ksub
        raise ValueError(
            f"pq_ksub must be in [2, 32768] (codes are smallint): {pq_ksub}"
        )
    centroids = _ivf_train_centroids(
        corpus, id_col, vec_col, n_lists, iterations=train_iterations
    )
    assign_one = _centroid_assign_batch(centroids, 1)
    listed = corpus.select(F.col(id_col), F.col(vec_col)).withColumn(
        "__list", assign_one(F.col(vec_col))[0]
    )
    spark = corpus.sparkSession
    if quantize == "pq":
        books = _pq_train_codebooks(corpus, id_col, vec_col, pq_m, pq_ksub)
        encode = _pq_encode_batch(books)
        listed = (
            listed.withColumn("__enc", encode(F.col(vec_col)))
            .withColumn(
                "__pqc",
                F.expr("transform(__enc.codes, x -> cast(x as smallint))"),
            )
            .withColumn("__pqn", F.col("__enc.rnorm"))
            .drop("__enc")
        )
        m, ksub, _ = books.shape
        spark.createDataFrame(
            [
                (j, c, [float(x) for x in books[j, c]])
                for j in range(m)
                for c in range(ksub)
            ],
            "subspace int, code int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(path + "/pq_codebooks")
    elif quantize:
        listed = _sq8_cols(listed, vec_col, "__c").withColumn(
            "__cq", F.expr("transform(__cq, x -> cast(x as tinyint))")
        )
    (
        listed.repartition("__list")
        .write.partitionBy("__list")
        .mode("overwrite")
        .parquet(path + "/lists")
    )
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "list_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/centroids")


def ivf_search_index(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    round_digits: int = 6,
    rerank: int | None = None,
) -> DataFrame:
    """ANN top-k against a persisted IVF index, reading ONLY the probed
    lists (partition pruning on ``__list`` — asserted in tests via the
    scan's PartitionFilters).

    The probe set is queries (bounded), so collecting its probed list ids
    to build the pruning predicate is a driver-side set union over
    |probes|·nprobe ints — not a corpus action. nprobe == n_lists
    degenerates to exact brute force over the whole index (recall 1.0).

    ``rerank`` activates the quantized fast path, dispatched on what the
    index stores: SQ8 (``quantize=True``/``"sq8"`` — int8 codes, ¼ the
    float bytes) or PQ (``quantize="pq"`` — m subspace codes + the
    persisted codebooks at ``path + "/pq_codebooks"``, ``4·dim/m``× less
    candidate-scan traffic). Either way the candidate scan projects ONLY
    the stored codes (parquet column pruning), ranks by quantized
    cosine, and the float vectors are read back for just the ``rerank``
    winners per query (a second, candidate-pruned scan), exact-cosine
    re-ranked to the final top-k. On an unquantized index ``rerank``
    raises — silently scanning floats would defeat the caller's
    bandwidth expectation.
    """
    cent_rows = (
        spark.read.parquet(path + "/centroids").orderBy("list_id").collect()
    )
    if not cent_rows:
        # an index built from an empty corpus has zero centroids (and,
        # when quantized, zero codebook rows); every downstream step
        # would fail obscurely (numpy AxisError in probe assignment,
        # max()-of-empty in the codebook load) — fail with the story
        # instead (round-9 review fix)
        raise ValueError(
            f"index at {path} has no centroids (built from an empty "
            "corpus?) — rebuild with a non-empty corpus"
        )
    centroids = np.array([r.centroid for r in cent_rows], dtype=np.float64)
    p = _side(probes, id_col, vec_col, "q")
    p_listed = _probe_lists(p, centroids, nprobe)
    probed_lists = sorted(
        {r[0] for r in p_listed.select("__list").collect()}
    )
    lists = spark.read.parquet(path + "/lists").filter(
        F.col("__list").isin(probed_lists)
    )
    if rerank is None:
        c_listed = _side(lists, id_col, vec_col, "c", "__list")
        return _exact_topk(_list_pairs(c_listed, p_listed), k, round_digits)

    if "__pqc" in lists.columns:
        # PQ fast path: load the persisted codebooks (bounded m·ksub
        # rows), candidate scan projects ONLY (__pqc, __pqn)
        book_rows = (
            spark.read.parquet(path + "/pq_codebooks")
            .orderBy("subspace", "code")
            .collect()
        )
        if not book_rows:
            # an index built from an empty corpus writes zero
            # codebook rows; fail with the story rather than a bare
            # max()-of-empty ValueError (round-9 review fix)
            raise ValueError(
                f"index at {path} has no PQ codebooks (built from an "
                "empty corpus?) — rebuild with a non-empty corpus or "
                "search without rerank"
            )
        m = 1 + max(r.subspace for r in book_rows)
        ksub = 1 + max(r.code for r in book_rows)
        dsub = len(book_rows[0].centroid)
        books = np.empty((m, ksub, dsub), dtype=np.float64)
        for r in book_rows:
            books[r.subspace, r.code] = r.centroid
        code, norm, cast = "__pqc", "__pqn", "int"
        probe = _pq_probe(p_listed, books)
    elif "__cq" in lists.columns:
        # SQ8 fast path: codes + norm only — the float vec_col never
        # appears in this scan's ReadSchema
        code, norm, cast = "__cq", "__cqn", "bigint"
        probe = _sq8_probe(p_listed)
    else:
        raise ValueError(
            f"index at {path} was not built with quantize= — "
            "rerank has no stored codes to scan"
        )
    c_codes = lists.select(
        F.col(id_col).alias("neighbor_id"),
        "__list",
        F.expr(f"transform({code}, x -> cast(x as {cast}))").alias(code),
        norm,
    )
    return _quantized_topk(
        c_codes, probe, _side(lists, id_col, vec_col, "c"), p,
        k=k, rerank=rerank, round_digits=round_digits,
    )


def _quantized_topk(
    c_codes: DataFrame,
    probe: tuple[DataFrame, Column],
    c_full: DataFrame,
    p_full: DataFrame,
    *,
    k: int,
    rerank: int,
    round_digits: int,
) -> DataFrame:
    """The ONE quantized candidate → exact re-rank path, shared by SQ8 and
    PQ, in memory (``ivf_sq8_topk``, ``ivf_pq_topk``) and persisted
    (``ivf_search_index(rerank=)``), so the R-cut, rounding and
    tie-breaks can never diverge between them.

    ``c_codes (neighbor_id, __list, <codes>)`` is the listed corpus side
    carrying only its codes; ``probe`` is ``(p_codes, q_sim)`` from
    ``_sq8_probe`` or ``_pq_probe``. The thin sides join on ``__list``,
    the per-query ``_topk`` over rounded ``q_sim`` keeps ``rerank`` rows —
    a bounded set BROADCAST back against the full-precision sides
    ``c_full``/``p_full`` for the exact top-k.
    """
    p_codes, q_sim = probe
    cands = _list_pairs(c_codes, p_codes).select(
        "query_id", "neighbor_id", F.round(q_sim, round_digits).alias("q_sim")
    )
    top_r = _topk(cands, rerank, "q_sim").select("query_id", "neighbor_id")
    exact = c_full.join(F.broadcast(top_r), "neighbor_id").join(
        F.broadcast(p_full), "query_id"
    )
    return _exact_topk(exact, k, round_digits)


def _int_dot(a: str, b: str) -> Column:
    """Exact integer dot product of two array<bigint> code columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )


def _sq8_probe(p_listed: DataFrame) -> tuple[DataFrame, Column]:
    """SQ8's part of the quantized path: the listed probes' int8 codes and
    the quantized cosine against corpus codes ``(__cq, __cqn)``."""
    p_codes = _sq8_cols(p_listed, "__vq", "__q").select(
        "query_id", "__list", "__qq", "__qqn"
    )
    q_sim = _int_dot("__qq", "__cq").cast("double") / (
        F.col("__qqn") * F.col("__cqn")
    )
    return p_codes, q_sim


def _sq8_cols(df: DataFrame, vec_col: str, prefix: str) -> DataFrame:
    """Attach per-vector symmetric max-abs int8 quantization columns:
    ``{prefix}q`` (array<bigint> codes in [-127, 127]) and ``{prefix}qn``
    (double L2 norm of the codes).  All JVM codegen; the arithmetic
    (cast→abs→max→round) is engine-portable and reproduced verbatim by the
    DuckDB oracle (list_transform/round), so quantized scores hash-match
    cross-engine."""
    s = F.greatest(
        F.expr(f"array_max(transform({vec_col}, x -> abs(cast(x as double))))"),
        F.lit(1e-30),  # all-zero vector guard
    )
    out = df.withColumn(f"{prefix}s", s).withColumn(
        f"{prefix}q",
        F.expr(
            f"transform({vec_col},"
            f" x -> cast(round(cast(x as double) / {prefix}s * 127) as bigint))"
        ),
    )
    qn = F.sqrt(_int_dot(f"{prefix}q", f"{prefix}q"))
    return out.withColumn(f"{prefix}qn", qn).drop(f"{prefix}s")


def ivf_sq8_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 8,
    nprobe: int = 4,
    rerank: int = 20,
    round_digits: int = 6,
) -> DataFrame:
    """IVF + int8 scalar quantization + full-precision re-rank — the
    Faiss ``IVF,SQ8`` layout re-expressed as DataFrame ops.

    Why this tier exists: at 100 TB of embeddings the candidate scan is
    memory-bandwidth-bound, and per-vector symmetric max-abs int8 codes
    cut the scanned bytes 4× while the final answer keeps full precision —
    the candidate stage ranks by QUANTIZED cosine (integer dot products,
    engine-exact), keeps ``rerank`` candidates per query, and only those
    ``|probes| × rerank`` rows ever touch the float vectors again.

    Plan shape (all equi-joins, no cartesian):

    1. centroids via :func:`_ivf_train_centroids`; corpus assigned to ONE
       list, probes explode to ``nprobe`` lists — the IVF prune;
    2. THIN quantized join on ``__list`` (broadcast probe side): payload
       is the int8 codes + one norm, ¼ the float traffic; each (query,
       neighbor) pair meets exactly once because a corpus vector lives in
       exactly one list;
    3. per-query ``row_number`` over (quantized sim desc, id) keeps
       ``rerank`` rows — a bounded set that is then BROADCAST back against
       the full-precision corpus/probes for the exact cosine top-k.

    Determinism: quantized and exact sims are rounded to ``round_digits``
    with id tie-breaks, and the int8 codes are exact integer arithmetic —
    with ``nprobe == n_lists`` the whole pipeline (including the quantized
    R-cut, hit or miss) is reproducible in portable SQL, which is what the
    driver row ``ann_sq8_rerank`` hash-checks.  With ``rerank >=
    |corpus|`` the result provably equals :func:`cosine_topk` (pinned in
    tests).
    """
    c, p, p_listed = _ivf_sides(corpus, probes, id_col, vec_col, n_lists, nprobe)
    c_codes = _sq8_cols(c, "__vc", "__c").select(
        "neighbor_id", "__list", "__cq", "__cqn"
    )
    return _quantized_topk(
        c_codes, _sq8_probe(p_listed), _side(corpus, id_col, vec_col, "c"), p,
        k=k, rerank=rerank, round_digits=round_digits,
    )


def _pq_train_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    ksub: int,
    iterations: int = 5,
) -> "np.ndarray":
    """Deterministic product-quantization codebooks ``(m, ksub, dsub)`` —
    per-subspace k-means in the Faiss ``PQm`` sense, trained driver-side
    on a BOUNDED hash-ordered sample (Faiss likewise trains PQ on a
    sample; the pool is ≤ min(ksub·64, _SEED_POOL_CAP) vectors collected
    in ``xxhash64(id)`` order, so the draw is uniform and reproducible
    regardless of id layout).

    Per subspace: farthest-first seeds (Euclidean, ties → lowest pool
    index) then ``iterations`` Lloyd rounds over the pool in numpy —
    float64, fixed pool order, argmin ties → lowest code — so the
    codebooks are bit-identical across runs and partitionings. Driver
    cost is O(pool · ksub · dim) per iteration, independent of corpus
    size; the corpus-scale work (encoding) stays distributed.
    """
    pool_size = min(ksub * 64, _SEED_POOL_CAP)
    sample = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(pool_size)
        .collect()
    )
    if not sample:
        return np.empty((0, 0, 0), dtype=np.float64)
    pool = np.array([row[1] for row in sample], dtype=np.float64)
    dim = pool.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = pool[:, j * dsub : (j + 1) * dsub]
        n_codes = min(ksub, len(sub))
        # farthest-first seeding (Gonzalez), Euclidean, deterministic
        chosen = [0]
        d2 = np.sum((sub - sub[0]) ** 2, axis=1)
        for _ in range(1, n_codes):
            nxt = int(np.argmax(d2))  # ties -> lowest index (np.argmax)
            chosen.append(nxt)
            d2 = np.minimum(d2, np.sum((sub - sub[nxt]) ** 2, axis=1))
        cb = sub[chosen].copy()
        for _ in range(max(0, iterations)):
            # assign pool points to nearest code (ties -> lowest code)
            dist = (
                np.sum(sub**2, axis=1, keepdims=True)
                - 2.0 * (sub @ cb.T)
                + np.sum(cb**2, axis=1)[None, :]
            )
            assign = np.argmin(dist, axis=1)
            for c in range(len(cb)):
                members = sub[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        if n_codes < ksub:
            # degenerate tiny corpus: pad by repeating the last code so
            # codes stay in [0, ksub) and lookups never go out of range
            cb = np.vstack([cb, np.repeat(cb[-1:], ksub - n_codes, axis=0)])
        books[j] = cb
    return books


def _pq_encode_batch(codebooks: "np.ndarray"):
    """Vectorized pandas UDF: per-subspace nearest-code ids (L2, ties →
    lowest code) plus the reconstruction norm — subspaces are disjoint
    coordinate blocks, so ``||recon||² = Σ_j ||cb_j[code_j]||²`` exactly.
    One (batch × ksub) matmul per subspace per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    m, ksub, dsub = codebooks.shape
    cb_sqn = np.sum(codebooks**2, axis=2)  # (m, ksub)

    @pandas_udf("struct<codes: array<int>, rnorm: double>")
    def encode(v: pd.Series) -> pd.DataFrame:
        mat = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        n = mat.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        rsq = np.zeros(n, dtype=np.float64)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            dist = -2.0 * (sub @ codebooks[j].T) + cb_sqn[j][None, :]
            cj = np.argmin(dist, axis=1)  # ties -> lowest code
            codes[:, j] = cj
            rsq += cb_sqn[j][cj]
        rnorm = np.sqrt(np.maximum(rsq, 1e-30))
        return pd.DataFrame(
            {"codes": list(codes), "rnorm": rnorm}
        )

    return encode


def _pq_adc_table_batch(codebooks: "np.ndarray"):
    """Vectorized pandas UDF: the query's asymmetric-distance table,
    flattened — entry ``j·ksub + c`` is ``dot(q_j, cb_j[c])``. With it,
    a candidate's quantized inner product is a pure JVM array fold over
    its ``m`` codes (no Python in the scan)."""
    from pyspark.sql.functions import pandas_udf

    m, ksub, dsub = codebooks.shape
    flat = codebooks.reshape(m * ksub, dsub)

    @pandas_udf("array<double>")
    def table(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        out = np.empty((mat.shape[0], m * ksub), dtype=np.float64)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]  # (n, dsub)
            out[:, j * ksub : (j + 1) * ksub] = (
                sub @ flat[j * ksub : (j + 1) * ksub].T
            )
        return pd.Series(list(out))

    return table


def _pq_probe(
    p_listed: DataFrame, books: "np.ndarray"
) -> tuple[DataFrame, Column]:
    """PQ's part of the quantized path: the listed probes' flattened ADC
    tables (``m·ksub`` doubles — a per-QUERY object, never corpus-scale)
    and the ADC cosine against corpus codes ``(__pqc, __pqn)``: indexed
    table lookups folded LEFT-TO-RIGHT (fixed order → deterministic
    doubles), all JVM-side, over (query norm · reconstruction norm)."""
    ksub = books.shape[1]
    p_codes = p_listed.select(
        "query_id",
        "__list",
        _pq_adc_table_batch(books)(F.col("__vq")).alias("__qtab"),
        "__nq",
    )
    adc_ip = F.expr(
        f"aggregate(transform(__pqc,"
        f" (c, j) -> element_at(__qtab, j * {int(ksub)} + c + 1)),"
        f" cast(0 as double), (acc, v) -> acc + v)"
    )
    return p_codes, adc_ip / (F.col("__nq") * F.col("__pqn"))


def ivf_pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 20,
    round_digits: int = 6,
) -> DataFrame:
    """IVF + product quantization + asymmetric distance computation +
    full-precision re-rank — the Faiss ``IVFx,PQm`` layout re-expressed
    as DataFrame ops; the compression tier past SQ8.

    Why this tier exists: SQ8 cuts candidate-scan bytes 4×; PQ cuts them
    ``4·dim/m``× (dim 64, m 8 → 32×: 8 code bytes + one norm per vector).
    At 100 TB of embeddings that is the difference between scanning
    everything and scanning ~3 TB — candidate ranking becomes
    CPU-arithmetic over tiny codes instead of memory-bandwidth over
    floats, which is exactly why Faiss defaults its billion-scale
    indexes to IVF+PQ.

    Plan shape (all equi-joins, no cartesian, shared with SQ8):

    1. coarse centroids via :func:`_ivf_train_centroids`; PQ codebooks
       via :func:`_pq_train_codebooks` (bounded driver sample, like
       Faiss's sampled training). Corpus vectors land in ONE list with
       their ``m`` int codes + reconstruction norm (one Arrow-batched
       encode pass); probes explode to ``nprobe`` lists carrying their
       flattened ADC table (``m·ksub`` doubles — a per-QUERY object,
       never corpus-scale).
    2. candidate stage joins thin codes against tables on ``__list``:
       the quantized inner product is a JVM ``transform`` (indexed table
       lookup per code) + left-fold ``aggregate`` — fixed evaluation
       order, so scores are deterministic on any partitioning; quantized
       cosine divides by (query norm · reconstruction norm).
    3. the shared :func:`_quantized_topk` path keeps ``rerank``
       candidates per query and re-ranks them at full precision.

    Correctness envelope: codebooks are DATA-DEPENDENT (trained), so
    unlike SQ8 no portable SQL can reproduce the codes — the registry
    row is declared rows-only, with the exact twins in pytest: encode /
    ADC-table / score parity against a pure-numpy PQ reference, and
    ``rerank ≥ |corpus|`` (with ``nprobe = n_lists``) provably equal to
    :func:`cosine_topk`.
    """
    c, p, p_listed = _ivf_sides(corpus, probes, id_col, vec_col, n_lists, nprobe)
    books = _pq_train_codebooks(corpus, id_col, vec_col, m, ksub)
    c_codes = c.withColumn("__enc", _pq_encode_batch(books)(F.col("__vc"))).select(
        "neighbor_id",
        "__list",
        F.col("__enc.codes").alias("__pqc"),
        F.col("__enc.rnorm").alias("__pqn"),
    )
    return _quantized_topk(
        c_codes, _pq_probe(p_listed, books), _side(corpus, id_col, vec_col, "c"), p,
        k=k, rerank=rerank, round_digits=round_digits,
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    target_cluster: int = 256,
    train_iterations: int = 2,
    round_digits: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means partition the embedding space, call two
    vectors semantic duplicates iff they land in the SAME cluster with
    cosine ≥ threshold, and keep one representative per duplicate group.

    Returns ``(id, cluster_id, group_id, keep)`` for every input vector:
    ``group_id`` is the duplicate group's canonical (minimum) id,
    ``keep`` marks the survivor — the group member closest to its cluster
    centroid (the paper's "keep the most typical" policy), ties broken by
    id. Non-duplicated vectors are their own group and always kept.

    Scale shape — the paper's point, kept intact in the plan:

    - clustering is :func:`_ivf_train_centroids` (farthest-first seeds +
      exact-sum Lloyd, deterministic under any partitioning);
    - the pairwise stage is a self-join ON THE CLUSTER ID, so its cost is
      Σ|cluster|² not |corpus|²; ``n_clusters`` defaults to
      n / target_cluster, making expected cluster population — and so
      per-cluster work — constant as the corpus grows;
    - duplicate groups come from :func:`..operators.dedup
      .connected_components_auto` over the in-cluster pair graph
      (driver union-find on bounded pair sets, distributed star rounds
      beyond); survivor selection is one window over groups.

    Like the paper, near-dups straddling a cluster boundary are missed —
    that is the accepted approximation that removes the quadratic term
    (the exact twin for tests is a numpy all-pairs reference).
    """
    from .dedup import connected_components_auto

    if n_clusters is None:
        n = df.select(id_col).count()
        n_clusters = max(2, min(65536, n // target_cluster))
    centroids = _ivf_train_centroids(
        df, id_col, vec_col, n_clusters, iterations=train_iterations
    )
    assign_one = _centroid_assign_batch(centroids, 1)
    c_unit = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(c_unit)],
        "__cl int, __cvec array<double>",
    )
    base = _side(df, id_col, vec_col, "", spread=True).withColumn(
        "__cl", assign_one(F.col("__v"))[0]
    )
    # distance-to-centroid for the survivor policy (broadcast: centroid
    # table is n_clusters rows, config-sized)
    base = base.join(F.broadcast(cent_df), "__cl").withColumn(
        "__cent_sim", _dot("__v", "__cvec") / F.col("__n")
    ).drop("__cvec")
    a = _retag(base, "1", "__cl")
    b = _retag(base, "2", "__cl")
    cos = _cos("1", "2")
    if round_digits is not None:
        # cross-engine determinism mode (same convention as
        # embedding_neardup_pairs): round before the threshold compare so
        # an oracle summing the dot product in a different order cannot
        # disagree about boundary membership
        cos = F.round(cos, round_digits)
    pairs = (
        a.join(b, "__cl")
        .filter(F.col("id_1") < F.col("id_2"))
        .filter(cos >= F.lit(threshold))
        .select("id_1", "id_2")
    )
    vertices = base.select(F.col("__id").alias(id_col))
    comp = connected_components_auto(pairs, vertices, id_col).select(
        F.col(id_col).alias("__id"), F.col("canonical_id").alias("group_id")
    )
    w = Window.partitionBy("group_id").orderBy(
        F.desc("__cent_sim"), F.asc("__id")
    )
    return (
        base.join(comp, "__id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select(
            F.col("__id").alias(id_col),
            F.col("__cl").alias("cluster_id"),
            "group_id",
            "keep",
        )
    )
