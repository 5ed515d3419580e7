"""Deterministic, engine-portable sampling and dataset splits.

``df.sample``/``sampleBy`` draw from a partition-seeded RNG, so the chosen
rows change with partitioning/cluster size — unacceptable for train/val/
test splits that must be reproducible forever and consistent across every
job that touches the corpus. Instead: bucket each row by a cryptographic
hash of its STABLE ID (md5 hex prefix mod N). Properties:

- deterministic on any engine, partitioning, or cluster size;
- portable: DuckDB/Postgres/Spark compute the identical bucket, so splits
  made here agree with splits made anywhere else (oracle-checked);
- stable under corpus growth: a doc's split never changes when other docs
  are added/removed — the property that prevents train/test leakage
  across dataset versions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .text import words


def hash_bucket(id_col: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets): md5(id) hex-prefix mod N.

    First 8 hex chars = 32 bits — uniform and far below int64, identical
    arithmetic in every engine.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def deterministic_sample(
    df: DataFrame, id_col: str, fraction: float, n_buckets: int = 100
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by stable id hash (never by RNG)."""
    keep = int(round(fraction * n_buckets))
    return df.filter(hash_bucket(id_col, n_buckets) < keep)


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Attach a ``split`` column ∈ {train, val, test} by stable id hash.

    Percentages are integer bucket counts out of 100; test gets the rest.
    """
    if train_pct < 0 or val_pct < 0 or train_pct + val_pct > 100:
        raise ValueError(
            f"invalid split: train_pct={train_pct}, val_pct={val_pct} — "
            "need 0 <= train, 0 <= val, train + val <= 100 (test gets the "
            "remainder); out-of-range values silently empty a split"
        )
    b = hash_bucket(id_col, 100)
    return df.withColumn(
        "split",
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    id_col: str,
    n_buckets: int = 100,
) -> DataFrame:
    """Deterministic stratified sampling: keep ``fractions[stratum]`` of
    each stratum's rows, chosen by stable id hash — never by RNG.

    The balanced-dataset builder (e.g. downsample low-quality deciles,
    keep all of the top one): unlike ``df.sampleBy`` (partition-seeded
    RNG — different rows on every cluster size), the selection is a pure
    function of (id, stratum fractions), so it is reproducible on any
    engine/partitioning and stable under corpus growth, and the same
    doc is never train-leaked into a differently-sampled rebuild. Strata
    absent from ``fractions`` are DROPPED (explicit allowlist — the
    curation use case; pass 1.0 to keep a stratum whole).

    One codegen hash + one broadcast-sized CASE per row: scan-speed, no
    shuffle, no RNG state.
    """
    b = hash_bucket(id_col, n_buckets)
    keep = None
    for stratum, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {stratum!r} must be in [0,1], got {frac}")
        cond = (F.col(strata_col) == F.lit(stratum)) & (
            b < int(round(frac * n_buckets))
        )
        keep = cond if keep is None else (keep | cond)
    if keep is None:
        raise ValueError("fractions is empty — every row would be dropped")
    return df.filter(keep)


def select_to_token_budget(
    df: DataFrame,
    budget: int,
    token_col: str,
    priority_col: str,
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Greedy token-budget selection: keep the maximal prefix of rows,
    ordered by (priority desc, id asc), whose cumulative ``token_col``
    total stays ≤ ``budget`` — the "best N tokens of the corpus" builder
    that turns a scored corpus into a fixed-size training mix.

    Scale design — the naive form is a global window
    (``sum().over(Window.orderBy(...))``), which Spark executes as ONE
    task holding the whole corpus. Instead, the classic two-phase scan:

    1. ``repartitionByRange`` on the order key — a range shuffle (the same
       exchange a global sort would need anyway);
    2. per-partition token sums → running offsets via a window over the
       PARTITION-COUNT-sized summary (bounded by cluster width, not data —
       the single-task window here is over ~hundreds of rows);
    3. broadcast offsets back, within-partition cumulative window
       (parallel across partitions), keep rows with offset + local-cumsum
       ≤ budget.

    The result is exactly the global-window answer (asserted in tests) on
    any partition-boundary placement: (priority, id) is a strict total
    order, so every boundary split yields the same global prefix.
    """
    order = [F.desc(priority_col), F.asc(id_col)]
    ranged = (
        df.repartitionByRange(num_partitions, *order)
        if num_partitions
        else df.repartitionByRange(*order)
    )
    part = ranged.withColumn("__pid", F.spark_partition_id())
    sums = part.groupBy("__pid").agg(
        F.sum(F.col(token_col)).alias("__part_tokens")
    )
    offsets = sums.withColumn(
        "__offset",
        F.coalesce(
            F.sum("__part_tokens").over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("__pid", "__offset")
    local = Window.partitionBy("__pid").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        part.join(F.broadcast(offsets), "__pid")
        .withColumn(
            "cum_tokens", F.col("__offset") + F.sum(F.col(token_col)).over(local)
        )
        .filter(F.col("cum_tokens") <= budget)
        .drop("__pid", "__offset")
    )


def per_group_cap(
    df: DataFrame,
    group_col: str,
    cap: int,
    priority_col: str,
    id_col: str,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, best-first — the per-domain /
    per-source cap every web-corpus pipeline applies so no single site
    dominates the training mix (C4/RefinedWeb-style host capping).

    Survivors are the top ``cap`` by (priority desc, id asc) — a strict
    total order, so the kept set is deterministic on any engine or
    partitioning. One hash shuffle on the group key + one ranking window;
    no driver state, no RNG. At 100 TB the window sorts within each
    group's partition — AQE's skew handling splits oversized groups'
    partitions, and the rank filter discards beyond ``cap`` without
    materializing the tail.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    w = Window.partitionBy(group_col).orderBy(
        F.desc(priority_col), F.asc(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def corpus_mix(
    df: DataFrame,
    group_col: str,
    targets: dict,
    id_col: str,
) -> DataFrame:
    """Downsample groups to TARGET PROPORTIONS — the mixing step that
    turns a raw corpus into a recipe like "50% en / 15% de / …" (the
    Pile/RedPajama-style source-mix builder), keeping the corpus as large
    as the scarcest group allows.

    Let ``count_g`` be each group's size. The largest feasible total is
    ``T = min_g floor(count_g / target_g)`` (any bigger total would need
    more of some group than exists); each group then keeps
    ``floor(target_g * T)`` rows. Survivors are chosen by the stable
    md5-hash order of their ids — "random-looking" but a pure function of
    the id, so the mix is reproducible on any engine/partitioning and a
    document's membership never flips when OTHER groups grow (only when
    its own group's hash ranking shifts past the quota).

    Groups absent from ``targets`` are dropped (explicit allowlist, like
    ``stratified_sample``). Plan shape: one partial-agg count per group
    (|groups| rows), a 1-row global min broadcast back, and one ranking
    window per group — two shuffles total, no driver collection, no RNG.
    """
    if not targets:
        raise ValueError("targets is empty — every row would be dropped")
    if any(not 0.0 < t <= 1.0 for t in targets.values()):
        raise ValueError(f"targets must be in (0, 1]: {targets}")
    spark = df.sparkSession
    tdf = F.broadcast(
        spark.createDataFrame(
            [(k, float(v)) for k, v in targets.items()],
            f"{group_col} string, __target double",
        )
    )
    counts = (
        df.join(tdf, group_col)
        .groupBy(group_col, "__target")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    total = counts.agg(
        F.min(F.floor(F.col("__cnt") / F.col("__target"))).alias("__total")
    )
    quota = counts.crossJoin(F.broadcast(total)).select(
        group_col,
        F.floor(F.col("__target") * F.col("__total")).alias("__quota"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.join(F.broadcast(quota), group_col)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("__quota"))
        .drop("__rk", "__quota")
    )


def _temperature_quota(w_col: str, mn_col: str, alpha: float, half_product):
    """The α-quota ladder shared by the two in-plan temperature mixers:
    ``quota = floor(W^α · min^(1−α))`` with exact branches at
    ``α ∈ {0, ½, 1}`` (see :func:`corpus_mix_temperature_inplan` for why
    the exact alphas matter). ``half_product`` is the α = 0.5 product
    ``W · min`` as a Column — the caller chooses where the multiply
    happens (exact int64 for row counts; double-side for token sums that
    could overflow int64 at 100 TB). One source of truth so a ladder fix
    can never silently miss the other mixer (round-9 review fix)."""
    if alpha == 1.0:
        return F.col(w_col)
    if alpha == 0.0:
        return F.col(mn_col)
    if alpha == 0.5:
        return F.floor(F.sqrt(half_product))
    return F.floor(
        F.pow(F.col(w_col).cast("double"), F.lit(float(alpha)))
        * F.pow(F.col(mn_col).cast("double"), F.lit(1.0 - float(alpha)))
    )


def corpus_mix_temperature_tokens(
    df: DataFrame,
    group_col: str,
    alpha: float,
    id_col: str,
    tokens_col: str,
) -> DataFrame:
    """TOKEN-weighted temperature mixing — what a training mixture
    actually balances: LM data recipes are specified in tokens per
    source, not documents (a source of long documents would otherwise be
    overweighted by exactly its length ratio). Same regime as
    :func:`corpus_mix_temperature_inplan` with group WEIGHT
    ``W_g = Σ tokens`` instead of row count: the kept-token quota is
    ``floor(W_g^α · min_W^(1-α))`` (α = 0.5 → ``floor(√(W_g · min_W))``
    — products taken in double so 100 TB token sums cannot overflow
    int64; multiply and sqrt are correctly rounded, so the quota is
    still cross-engine deterministic), and the survivors are the maximal
    md5-hash-order PREFIX of each group whose cumulative token count
    fits the quota — reproducible on any engine/partitioning, membership
    stable under other groups' growth.

    Plan: one partial-agg weight sum, a 1-row min broadcast, one
    per-group cumulative-sum window (integer sums — exact) — two
    shuffles, zero driver actions. A document longer than its group's
    entire quota simply never starts the prefix; token conservation is
    ``Σ kept ≤ quota`` per group (asserted in tests), not padding to it.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")

    weights = df.groupBy(group_col).agg(
        F.sum(F.col(tokens_col).cast("long")).alias("__tw")
    )
    mn = weights.agg(F.min("__tw").alias("__mn"))
    # token sums at 100 TB can exceed what an int64 product holds, so
    # the α = 0.5 multiply happens in double (correctly rounded)
    q = _temperature_quota(
        "__tw",
        "__mn",
        alpha,
        F.col("__tw").cast("double") * F.col("__mn").cast("double"),
    )
    quota = weights.crossJoin(F.broadcast(mn)).select(
        group_col, q.alias("__quota")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.join(F.broadcast(quota), group_col)
        .withColumn(
            "__cum", F.sum(F.col(tokens_col).cast("long")).over(w)
        )
        .filter(F.col("__cum") <= F.col("__quota"))
        .drop("__cum", "__quota")
    )


def temperature_targets(counts: dict, alpha: float) -> dict:
    """Temperature-scaled mix proportions: ``p_g ∝ count_g^alpha``.

    The multilingual corpus-sampling formula (Conneau & Lample, NeurIPS
    2019 §3.1; mC4/mT5 use the same form): ``alpha = 1`` reproduces the
    natural distribution, ``alpha → 0`` approaches uniform, intermediate
    values upweight low-resource groups without letting them dominate.
    Pure driver-side arithmetic over per-group counts — feed the result
    to :func:`corpus_mix`.
    """
    if not counts:
        raise ValueError("counts is empty")
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if any(c <= 0 for c in counts.values()):
        raise ValueError(f"counts must be positive: {counts}")
    powered = {g: float(c) ** alpha for g, c in counts.items()}
    z = sum(powered.values())
    return {g: v / z for g, v in powered.items()}


def corpus_mix_temperature(
    df: DataFrame,
    group_col: str,
    alpha: float,
    id_col: str,
) -> DataFrame:
    """:func:`corpus_mix` with targets derived from the corpus itself at
    temperature ``alpha`` — one |groups|-row bounded collect for the
    counts, then the same two-shuffle deterministic mix."""
    counts = {
        r[0]: r[1]
        for r in df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()  # bounded driver action: one row per group
    }
    return corpus_mix(
        df, group_col, temperature_targets(counts, alpha), id_col
    )


def corpus_mix_temperature_inplan(
    df: DataFrame,
    group_col: str,
    alpha: float,
    id_col: str,
) -> DataFrame:
    """Temperature mixing with ZERO driver actions — the whole derivation
    stays one lazy plan, and every arithmetic step is cross-engine
    bit-exact, so composed pipelines can carry it into a hash-checked
    oracle (which the collect-then-normalize form cannot: normalizing
    ``p_g = s_g / Σ s_g`` sums doubles in dict order, and the last-ulp
    wobble can flip a ``floor`` at a quota boundary).

    The normalization is ELIMINATED instead of reproduced: with
    ``s_g = count_g^alpha`` and ``alpha ∈ [0, 1]``, ``count / s`` is
    monotone in ``count``, so the largest feasible scale is exactly
    ``t* = (min_g count_g)^(1 - alpha)`` and each group keeps
    ``floor(count_g^alpha · min_cnt^(1-alpha))`` rows — proportions ∝
    count^alpha, total sized by the scarcest group, identical regime to
    :func:`corpus_mix_temperature` (Conneau & Lample §3.1) but every
    operation is IEEE-deterministic on any engine and any partitioning.
    The exact alphas avoid even the floor-boundary ulp: ``alpha = 1``
    keeps everything, ``alpha = 0`` levels every group to ``min_cnt``
    (pure integers), and ``alpha = 0.5`` computes ONE correctly-rounded
    ``sqrt`` of the exact integer product ``count_g · min_cnt`` — in
    particular the scarcest group keeps ``sqrt(min²) = min`` EXACTLY,
    where the naive ``floor(sqrt(c)·(c/sqrt(c)))`` form loses a row to
    ``floor(6.999…)``. Other alphas go through ``pow`` with the
    documented floor-boundary caveat.

    Survivors are the md5-hash-order prefix of each group, as in
    :func:`corpus_mix`. Plan: one partial-agg group count, a 1-row min
    broadcast, one ranking window — two shuffles, no collect.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__cnt"))
    mn = counts.agg(F.min("__cnt").alias("__mn"))
    # row counts: the α = 0.5 product is taken exactly in int64 first
    # (cnt · mn fits comfortably), then one correctly-rounded sqrt
    q = _temperature_quota(
        "__cnt", "__mn", alpha, (F.col("__cnt") * F.col("__mn")).cast("double")
    )
    quota = counts.crossJoin(F.broadcast(mn)).select(
        group_col, q.alias("__quota")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.join(F.broadcast(quota), group_col)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("__quota"))
        .drop("__rk", "__quota")
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS 2023)
# ---------------------------------------------------------------------------
# Select raw-corpus documents whose hashed-n-gram distribution looks like a
# TARGET corpus: fit bag-of-hashed-ngrams multinomials on target (p) and raw
# (q), weight each document by its log importance ratio
# sum_b count_doc[b] * (ln p[b] - ln q[b]), and take the top-k under
# hash-derived Gumbel noise (= sampling without replacement proportional to
# the importance weights, but a pure function of the document id — the same
# no-RNG discipline as every sampler above).
#
# Cross-engine exactness follows the operators/lm.py recipe: each bucket's
# log-ratio is rounded ONCE to an integer (nano-nats), so the per-document
# sum is an exact BIGINT sum of BIGINTs — order-independent under any
# partitioning, and identical in DuckDB. The only float ops are the per-
# bucket/per-row ln-divide-round chains, evaluated in a fixed mirrored order.
#
# Scale: ONE corpus featurize pass (explode + partial-agg groupBy on
# (id, bucket)), materialized via lazy localCheckpoint because three
# consumers derive from it (models, totals, weights) and Catalyst's
# exchange reuse is not guaranteed across them — without the checkpoint a
# 100 TB corpus would be re-scanned per consumer (the curation_pipeline_v3
# persisted-model precedent, plans/textdata.py). The model is <= n_buckets
# rows (broadcast); totals reduce the MODEL table, never the corpus; the
# weight is one keyed groupBy over the checkpointed features; selection is
# sort+limit = distributed TakeOrdered. No driver action; the result is k
# rows.

# bigram joiner — a control char no whitespace tokenizer emits, so unigram
# and bigram feature strings cannot collide ("a b" stays distinct from the
# unigram "a\x01b" only if documents can't contain \x01 tokens; if one does,
# both engines hash the same collision, so exactness is unaffected)
_DSIR_JOIN = "\x01"


def dsir_ngram_features(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    flag: Column | None = None,
) -> DataFrame:
    """Hashed unigram+bigram counts: one row per (id, bucket) with the
    number of n-gram occurrences of the document that hash into the
    bucket (plus a ``__tgt`` boolean when ``flag`` is given — constant per
    document, carried through the aggregation so a single pass serves both
    the raw and the target model). Tokenization is the corpus-wide
    lowercase whitespace split; the bucket is the portable md5-prefix hash
    (:func:`hash_bucket`), so DuckDB reproduces the identical
    featurization. Empty/whitespace documents produce no rows (no
    features — unscorable, never selected)."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    t = words(F.lower(F.col(text_col)))
    bigrams = F.zip_with(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(_DSIR_JOIN), b),
    )
    narrow = [F.col(id_col), F.col(text_col)]
    cols = [F.col(id_col), F.explode(F.concat(t, bigrams)).alias("__feat")]
    keys = [id_col, hash_bucket(F.col("__feat"), n_buckets).alias("bucket")]
    if flag is not None:
        # null predicate (e.g. a null lang) counts as NOT-target, never a
        # silently dropped row
        narrow.append(F.coalesce(flag, F.lit(False)).alias("__tgt"))
        cols.insert(1, F.col("__tgt"))
        keys.insert(1, F.col("__tgt"))
    # Repartition the DOCUMENTS by id before the explode: hash-partitioning
    # on id satisfies the clustered distribution of every downstream
    # id-keyed aggregation (id ⊆ (id, bucket)), so the (id, bucket) groupBy
    # AND the per-document weight groupBy run exchange-free. The shuffle
    # that remains moves one row per document (the text), not one row per
    # feature — at sf1 that is 50k rows instead of 4.3M, and at 100 TB the
    # difference is the corpus's token multiple (~170×). Measured: the sf1
    # featurize pass dropped ~18 s → ~7 s.
    from .util import spread_for_explode

    # per-site expansion (r15 verdict item 5): the n-gram explode emits
    # ~2 feature rows per token (unigram + bigram), each ≈ (id 8 B +
    # feature string ~10 chars + 8 B offset + ~16 B row overhead) ≈ 42 B,
    # against ~6.4 B of input text per token ⇒ ~13× post-explode bytes
    # per input byte.  The input is narrowed to (id, text[, __tgt]) first
    # so the partition count is sized from the plan statistics of the
    # bytes that feed the explode, not of the full-width input.
    return (
        spread_for_explode(df.select(*narrow), F.col(id_col), expansion=13)
        .select(*cols)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_bucket_logratio(
    models: DataFrame,
    *,
    n_buckets: int = 4096,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Per-bucket integer-scaled importance log-ratio ``(bucket,
    lambda_nano)`` from a model table ``(bucket, __rc, __tc)`` of raw and
    target occurrence counts: ``lambda_nano = round((ln p_tgt[b] -
    ln q_raw[b]) * scale)`` under add-one smoothing ``p[b] = (c[b] + 1) /
    (N + n_buckets)``. The totals are reduced from the model table itself
    (<= n_buckets rows) — never from the corpus — and broadcast in-plan,
    so the whole model stays one lazy plan over its input."""
    tot = models.agg(
        F.sum("__rc").alias("__rn"), F.sum("__tc").alias("__tn")
    )
    b = float(n_buckets)
    lam = F.round(
        (
            F.log(
                (F.col("__tc") + F.lit(1.0))
                / (F.col("__tn").cast("double") + F.lit(b))
            )
            - F.log(
                (F.col("__rc") + F.lit(1.0))
                / (F.col("__rn").cast("double") + F.lit(b))
            )
        )
        * F.lit(float(scale))
    ).cast("long")
    return models.crossJoin(F.broadcast(tot)).select(
        "bucket", lam.alias("lambda_nano")
    )


def dsir_gumbel_nano(
    id_col: Column | str, scale: int = 1_000_000_000
) -> Column:
    """Deterministic Gumbel(0,1) perturbation in integer nano-nats, a pure
    function of the stable id: ``u = (md5-52-bit-prefix + 0.5) / 2^52``
    (strictly inside (0,1)), ``g = -ln(-ln u)``, rounded once to BIGINT.
    Adding it to an integer log-weight and taking top-k is the Gumbel
    top-k trick — sampling without replacement proportional to the
    importance weights — with the draw reproducible on any engine."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    u = (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 13), 16, 10).cast(
            "double"
        )
        + F.lit(0.5)
    ) / F.lit(float(1 << 52))
    return F.round(-F.log(-F.log(u)) * F.lit(float(scale))).cast("long")


def dsir_select(
    raw: DataFrame,
    target: DataFrame | Column,
    k: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    scale: int = 1_000_000_000,
    noise: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Top-``k`` raw documents by DSIR importance weight:
    ``(id, n_feat, w_nano, key_nano)`` where ``w_nano`` is the exact
    integer sum ``sum_b cnt[b] * lambda_nano[b]`` and ``key_nano`` adds
    the per-document Gumbel perturbation when ``noise`` (else equals
    ``w_nano`` — greedy top-k). Ties (and the selection cut) break on
    ``(md5(id), id)``, so the selected set is a pure function of the two
    corpora. Documents with no features are never selected.

    ``target`` is either a boolean Column over ``raw`` (in-corpus target
    slice — ONE featurize pass serves both models) or a separate
    DataFrame (external target corpus, e.g. an eval/domain set —
    featurized independently; its documents need not be in ``raw``).

    The feature table is materialized once because the model and the
    per-document weights both reduce it; re-deriving it per consumer
    would re-scan the corpus (see the module note). By default that cut
    is a lazy ``localCheckpoint`` (fast, executor-local blocks);
    ``checkpoint_dir`` switches it to a RELIABLE checkpoint on a
    fault-tolerant path so an executor loss at cluster scale recovers
    instead of failing the job (util.truncate_lineage). Magnitudes:
    |lambda_nano| <= ~25 * scale (add-one smoothing bounds the ratio by
    the corpus sizes), so a billion-token document still sits
    ~2^63 / 10^10 away from int64 overflow."""
    from .util import truncate_lineage

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if isinstance(target, Column):
        feat = truncate_lineage(
            dsir_ngram_features(
                raw,
                id_col=id_col,
                text_col=text_col,
                n_buckets=n_buckets,
                flag=target,
            ),
            checkpoint_dir=checkpoint_dir,
            eager=False,
        )
        models = feat.groupBy("bucket").agg(
            F.sum("cnt").alias("__rc"),
            F.sum(
                F.when(F.col("__tgt"), F.col("cnt")).otherwise(F.lit(0))
            ).alias("__tc"),
        )
        doc_feats = feat
    else:
        rf = truncate_lineage(
            dsir_ngram_features(
                raw, id_col=id_col, text_col=text_col, n_buckets=n_buckets
            ),
            checkpoint_dir=checkpoint_dir,
            eager=False,
        )
        tf = dsir_ngram_features(
            target, id_col=id_col, text_col=text_col, n_buckets=n_buckets
        )
        r = rf.groupBy("bucket").agg(F.sum("cnt").alias("__rc"))
        tg = tf.groupBy("bucket").agg(F.sum("cnt").alias("__tc"))
        models = r.join(tg, "bucket", "full_outer").select(
            "bucket",
            F.coalesce("__rc", F.lit(0)).alias("__rc"),
            F.coalesce("__tc", F.lit(0)).alias("__tc"),
        )
        doc_feats = rf
    lam = dsir_bucket_logratio(models, n_buckets=n_buckets, scale=scale)
    w = (
        doc_feats.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_feat"),
            F.sum(F.col("cnt") * F.col("lambda_nano")).alias("w_nano"),
        )
    )
    key = (
        F.col("w_nano") + dsir_gumbel_nano(id_col, scale)
        if noise
        else F.col("w_nano")
    )
    return (
        w.withColumn("key_nano", key.cast("long"))
        .orderBy(
            F.col("key_nano").desc(),
            F.md5(F.col(id_col).cast("string")),
            F.col(id_col),
        )
        .limit(k)
    )
