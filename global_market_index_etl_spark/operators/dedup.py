"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash (driver north star, SURVEY.md §7 step 6).

Scale ladder (why all four exist):
- ``exact_dedup`` — hash-groupBy on a fingerprint: one shuffle, linear.
- ``ngram_jaccard_pairs`` — exact pairwise similarity via a shingle
  self-join: precise, but the join fans out on shared shingles; right answer
  up to ~10^6 docs or as the *verify* stage after LSH candidates.
- ``minhash_lsh_pairs`` — shingle→minhash→band→bucket-join: candidate
  generation cost is linear in docs × bands, independent of pair count; the
  100 TB path. Banding math: P(candidate) = 1-(1-s^r)^b.
- ``simhash64`` — one 64-bit signature per doc; near-dup = small Hamming
  distance; cheapest, coarsest.

All signature math uses ``xxhash64`` — Spark-internal (not portable to the
DuckDB oracle), so MinHash/SimHash queries are declared rows-only while the
exact Jaccard verifier has a full SQL oracle (plans/textdata.py).
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

from .text import fingerprint_md5, shingles_from_words, words
from .util import materialize as _materialize
from .util import parallelize_small as _parallelize_small

# Mersenne prime 2^61-1: universal-hash family h_i(x) = (a_i*x + b_i) mod p
_MERSENNE = (1 << 61) - 1


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint; survivor = min id.

    One partial-aggregated shuffle on the 128-bit fingerprint — the baseline
    every fancier dedup is measured against.
    """
    return (
        df.withColumn("fingerprint", fingerprint_md5(text_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hashed: bool = False,
) -> DataFrame:
    """Distinct (id, shingle) pairs — the common input of Jaccard and
    MinHash. Explode is a narrow op; distinct shuffles once on the pair.

    The word array is materialized in its own projection so the tokenizing
    regex split runs once per row, not once per element_at (see
    ``text.shingles_from_words``), and small scans are spread across cores
    first (``_parallelize_small``).

    ``hashed=True`` emits ``xxhash64(shingle)`` (long) instead of the
    shingle string, applied BELOW the distinct so the dedup shuffle moves
    8-byte keys instead of ~25-byte strings. Set semantics are identical
    unless two distinct shingles of one doc collide in 64 bits (P ≈ 2⁻⁶⁴
    per shingle pair — the equivalence the MinHash verify stage already
    accepts). Callers that need the string (MinHash signatures hash it
    with their own family) keep the default.
    """
    prepared = _parallelize_small(df.select(id_col, text_col)).withColumn(
        "__words", words(F.lower(F.col(text_col)))
    )
    shingle = F.explode(shingles_from_words(F.col("__words"), n)).alias("shingle")
    exploded = prepared.select(F.col(id_col), shingle)
    if hashed:
        exploded = exploded.select(
            id_col, F.xxhash64("shingle").alias("shingle")
        )
    return exploded.distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    strategy: str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: |A∩B| / |A∪B| ≥ threshold.

    Two physically different but result-identical candidate strategies,
    chosen like a join strategy (cost-based, overridable):

    - ``naive``: shingle self-equi-join + groupBy(id_1, id_2) count.
      Optimal for small corpora — two shuffles, no auxiliary stages —
      but QUADRATIC in shingle document-frequency: at the 10× bench
      corpus the join emits 95 M rows collapsing to 83 M candidate pairs
      of which 2,891 qualify.
    - ``prefix``: the All-Pairs/PPJoin prefix filter (Bayardo et al.,
      WWW'07; exact, no false negatives). Order every doc's shingles by
      a global canonical order — document frequency ascending, hash as
      tie-break, so each doc's RAREST shingles come first — and join
      only on its first ``n - ceil(t*n) + 1`` shingles: if J(A,B) ≥ t
      then |A∩B| ≥ t·|A| , so B must hit A inside that prefix (missing
      all of it caps the overlap at ceil(t·n)-1). A size-ratio prune
      (J ≥ t ⇒ min/max ≥ t, epsilon-guarded so boundary pairs survive
      float noise) runs inside the join, and the pair aggregation then
      applies PPJoin's POSITIONAL filter (Xiao et al., WWW'08; exact):
      every common shingle ≤ the pair's last matched prefix token in the
      canonical order lies inside BOTH prefixes (positions are order-
      consistent across docs), so |A∩B| ≤ cnt + min(|A|-i, |B|-j) where
      cnt is the matched-prefix-token count and i/j the last matched
      ranks — pairs whose bound falls below the equivalent-overlap
      requirement t·(|A|+|B|)/(1+t) are pruned BEFORE the verify join
      (measured at the sf1 corpus: 4.38 M → 1.07 M verify pairs, -76%).
      Round 16: the whole path reads ONE materialized table of per-doc
      canonical-order shingle arrays (df asc, hash asc — built with a
      single d ⋈ df join + per-doc array_sort); prefix rows are a
      narrow posexplode of each array's prefix slice (the r15 shape
      re-derived a join + two windows per self-join side), and
      survivors are verified EXACTLY per pair with PPJoin's
      verification step on the same arrays:
      |A∩B| = cnt + |A[i+1:] ∩ B[j+1:]| (every common shingle is
      either prefix-matched — hence counted, with ranks ≤ (i, j) by
      maximality — or beyond both last-matched ranks, since one global
      order cannot place it before the last match in one doc and after
      it in the other). Measured 42 s → 16 s at the 10× corpus in r13,
      growth factor 11.2× → 1.6×; the r16 restructure removes two of
      the three shingle-table derivation chains from the plan.

    ``auto`` picks prefix at ≥ 10⁶ shingle rows (measured local[32]
    crossover ≈ 1 M: below it the prefix path's extra stages cost more
    than the naive join's quadratic term) — the count is free, the
    shingle table is already materialized for branch reuse.

    The shingle/shuffle key is ``xxhash64(shingle)`` (8 bytes, not the
    ~25-byte string); set semantics identical up to 2⁻⁶⁴ collisions —
    the same accepted equivalence as the MinHash verify stage.
    """
    if strategy not in ("auto", "naive", "prefix"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    d = _materialize(shingle_table(df, id_col, text_col, n, hashed=True))
    if strategy == "auto":
        # d is persisted with its count already computed by materialize —
        # this is a cached-plan lookup, not a new scan
        strategy = "prefix" if d.count() >= 1_000_000 else "naive"
    if strategy == "naive":
        sizes = d.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
        a = d.alias("a")
        b = d.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_1"),
                F.col(f"b.{id_col}").alias("id_2"),
            )
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        s1 = sizes.select(
            F.col(id_col).alias("id_1"), F.col("n_shingles").alias("n_1")
        )
        s2 = sizes.select(
            F.col(id_col).alias("id_2"), F.col("n_shingles").alias("n_2")
        )
        return (
            inter.join(s1, "id_1")
            .join(s2, "id_2")
            .withColumn(
                "jaccard",
                F.col("n_common")
                * F.lit(1.0)
                / (F.col("n_1") + F.col("n_2") - F.col("n_common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_1", "id_2", "n_common", "jaccard")
        )
    sdf = d.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # ONE canonical-order pass serves the whole prefix path (round 16;
    # guide §2.4): collect each doc's shingles sorted by the global
    # canonical order (document frequency asc, hash asc — rarest first)
    # into an array and MATERIALIZE it. The r15 shape derived the ranked
    # prefix rows from d ⋈ sdf + two window functions and the verify
    # arrays from a separate collect_list over d; the self-join's two
    # sides then each re-derived the window subtree (no ReuseExchange
    # across the join mix — measured at sf1: two full d ⋈ sdf → window
    # chains of ~12 s executor time each). Now the join + per-doc sort
    # run once; prefix rows are a narrow posexplode of the cached
    # array's slice, and the verify reads the SAME arrays — whose
    # canonical order additionally enables the exact suffix-slice
    # verify below.
    srt = _materialize(
        d.join(sdf, "shingle")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__df", "shingle"))),
                lambda x: x["shingle"],
            ).alias("__sh")
        )
    )
    # prefix length n - ceil(t*n) + 1; the 1e-9 guards against double
    # noise pushing an exactly-integer t*n up one (a SHORTER prefix would
    # lose boundary pairs — longer only costs candidates)
    prefix_len = (
        F.col("__n")
        - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9))
        + F.lit(1)
    )
    pre = (
        srt.select(
            id_col,
            F.size("__sh").alias("__n"),
            F.col("__sh"),
        )
        .select(
            id_col,
            "__n",
            F.posexplode(F.slice("__sh", F.lit(1), prefix_len)).alias(
                "__p0", "shingle"
            ),
        )
        .select(id_col, "shingle", "__n", (F.col("__p0") + 1).alias("__rn"))
    )
    a = pre.alias("a")
    b = pre.alias("b")
    size_ok = (
        F.least(F.col("a.__n"), F.col("b.__n"))
        / F.greatest(F.col("a.__n"), F.col("b.__n"))
        >= F.lit(threshold) - F.lit(1e-9)
    )
    # positional filter (PPJoin): |A∩B| ≤ matched-prefix-count +
    # min(|A| - last matched rank in A, |B| - last matched rank in B);
    # J ≥ t ⇔ |A∩B| ≥ t·(|A|+|B|)/(1+t), so a bound below that
    # requirement (1e-9-guarded like the other float prunes: pruning a
    # TRUE pair is the only unsound direction, a kept false pair just
    # costs one verify row) proves the pair cannot qualify — no
    # array_intersect needed. cnt is exact because positions are
    # order-consistent: every common shingle canonically ≤ the last
    # matched one sits inside both prefixes, hence was matched.
    required_overlap = (
        F.lit(threshold)
        / (F.lit(1.0) + F.lit(threshold))
        * (F.col("__n1") + F.col("__n2"))
    )
    overlap_ubound = F.col("__cnt") + F.least(
        F.col("__n1") - F.col("__mi"), F.col("__n2") - F.col("__mj")
    )
    candidates = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & size_ok,
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
        )
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.max(F.col("a.__rn")).alias("__mi"),
            F.max(F.col("b.__rn")).alias("__mj"),
            # __n is constant per doc within each (id_1, id_2) group, so
            # max == every value — max (order-insensitive) keeps the
            # determinism explicit where first() only happened to be
            # (r15 advice item 2)
            F.max(F.col("a.__n")).alias("__n1"),
            F.max(F.col("b.__n")).alias("__n2"),
        )
        .filter(overlap_ubound >= required_overlap - F.lit(1e-9))
        .select("id_1", "id_2", "__cnt", "__mi", "__mj")
    )
    a1 = srt.select(
        F.col(id_col).alias("id_1"),
        F.col("__sh").alias("__sh1"),
        F.size("__sh").alias("n_1"),
    )
    a2 = srt.select(
        F.col(id_col).alias("id_2"),
        F.col("__sh").alias("__sh2"),
        F.size("__sh").alias("n_2"),
    )
    # exact suffix-slice verify (PPJoin's verification step, exact):
    # |A∩B| = __cnt + |A[mi+1:] ∩ B[mj+1:]|. Every common shingle is
    # either (i) inside both prefixes — then it was matched by the join
    # (so counted in __cnt) and has ranks ≤ (mi, mj) by maximality, or
    # (ii) beyond BOTH last-matched ranks: ranks are positions in the
    # same global canonical order, so rank_A(t) < mi with rank_B(t) > mj
    # would order t before the mi-matched token in A and after the
    # mj-matched token in B — contradicting one total order. Hence the
    # unmatched commons live entirely in the two suffixes, and the
    # intersect runs on ~(1-t)/(1+t) fewer elements without touching the
    # result.
    n_common = (
        F.col("__cnt")
        + F.size(
            F.array_intersect(
                F.slice(
                    "__sh1", F.col("__mi") + 1, F.col("n_1") - F.col("__mi")
                ),
                F.slice(
                    "__sh2", F.col("__mj") + 1, F.col("n_2") - F.col("__mj")
                ),
            )
        )
    ).cast("long")
    return (
        candidates.join(a1, "id_1")
        .join(a2, "id_2")
        .withColumn("n_common", n_common)
        .withColumn(
            "jaccard",
            F.col("n_common")
            * F.lit(1.0)
            / (F.col("n_1") + F.col("n_2") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "n_common", "jaccard")
    )


def minhash_signatures(
    shingles: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    seed: int = 42,
    hashed: bool = False,
) -> DataFrame:
    """MinHash signature per doc: min over shingles of k universal hashes.

    The k hash functions are lifted into an array expression so one explode
    row yields all k hashed values — a single groupBy(min per slot) computes
    the whole signature (one shuffle, map-side combine on min).

    ``hashed=True`` declares the shingle column is ALREADY ``xxhash64``
    longs (``shingle_table(..., hashed=True)``); the base then skips the
    re-hash and signatures are BIT-IDENTICAL to the string path — the
    universal-hash family always operated on xxhash64(shingle), whichever
    side computed it.
    """
    coeffs = _hash_coefficients(num_hashes, seed)
    raw = F.col("shingle") if hashed else F.xxhash64("shingle")
    base = F.pmod(raw, F.lit(_MERSENNE))
    hashed = F.array(
        *[
            F.pmod(F.lit(a) * base + F.lit(b), F.lit(_MERSENNE))
            for a, b in coeffs
        ]
    )
    return (
        shingles.withColumn("__h", hashed)
        .groupBy(id_col)
        .agg(
            F.array(
                *[F.min(F.col("__h")[i]) for i in range(num_hashes)]
            ).alias("signature")
        )
    )


def _hash_coefficients(k: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family (driver-side
    LCG — no RNG state, reproducible across runs/clusters)."""
    coeffs = []
    state = seed
    for _ in range(k):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = (state % (_MERSENNE - 1)) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE
        coeffs.append((a, b))
    return coeffs


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """The persistable LSH dedup index of a corpus: ``(band_rows, arrays)``.

    ``band_rows`` = (id, band, bucket) — one row per doc per band, the
    bucket key being the hash of that band's signature slice. ``arrays`` =
    (id, __sh) — each doc's hashed-shingle set, the verify-stage payload.
    Both derive deterministically from the text (fixed seed/LCG family),
    so an index built yesterday and a batch signed today bucket
    identically — the property incremental dedup rests on. Persist both
    with ``operators.storage.write_bucketed_table`` (band_rows keyed on
    (band, bucket), arrays on id) to dedup a growing corpus without ever
    re-signing it.
    """
    if num_hashes <= 0 or bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands}); rows_per_band=0 degenerates every band to "
            "one bucket (all-pairs join) and a remainder silently drops "
            "hash slots, changing the banding probability"
        )
    rows_per_band = num_hashes // bands
    # hashed=True: the distinct + both downstream groupBys shuffle 8-byte
    # longs instead of shingle strings, with bit-identical results — the
    # signature family and the verify arrays always consumed
    # xxhash64(shingle) anyway (see minhash_signatures / arrays below)
    shingles = _materialize(shingle_table(df, id_col, text_col, n, hashed=True))
    sigs = minhash_signatures(shingles, id_col, num_hashes, seed, hashed=True)
    band_rows = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.xxhash64(
                            F.slice(
                                F.col("signature"),
                                band * rows_per_band + 1,
                                rows_per_band,
                            )
                        ).alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    arrays = shingles.groupBy(id_col).agg(
        F.collect_list("shingle").alias("__sh")  # already xxhash64 longs
    )
    return band_rows, arrays


def _verify_jaccard(
    candidates: DataFrame, arrays: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of candidate (id_1, id_2) pairs against the
    per-doc HASHED shingle arrays: |A∩B| = size(array_intersect) — a
    per-candidate operation instead of a candidates×shingles shuffle join
    + groupBy (which produces |pairs|·|shingles/doc| rows; measured
    dominant at 10^6 true pairs). Hashed shingles keep each doc at
    ~8B/shingle (40 MB at 10^5 docs); Jaccard over hashed shingles equals
    Jaccard over strings up to 2^-64 collisions. The join strategy is left
    to AQE: it broadcasts the array table while it fits (runtime size, not
    a guess) and degrades to a shuffle join beyond that — no hard
    broadcast hint, so the same code runs at any corpus size."""
    a1 = arrays.select(
        F.col(id_col).alias("id_1"),
        F.col("__sh").alias("__sh1"),
        F.size("__sh").alias("n_1"),
    )
    a2 = arrays.select(
        F.col(id_col).alias("id_2"),
        F.col("__sh").alias("__sh2"),
        F.size("__sh").alias("n_2"),
    )
    n_common = F.size(F.array_intersect("__sh1", "__sh2"))
    return (
        candidates.join(a1, "id_1")
        .join(a2, "id_2")
        .withColumn("__nc", n_common)
        .withColumn(
            "jaccard",
            F.col("__nc")
            * F.lit(1.0)
            / (F.col("n_1") + F.col("n_2") - F.col("__nc")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


def _plain_bucket_pairs(band_rows: DataFrame, id_col: str) -> DataFrame:
    """Per-(band, bucket) self-join candidates — the non-skewed path."""
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_1"),
        F.col(f"b.{id_col}").alias("id_2"),
    )


def _tiled_bucket_pairs(
    band_rows: DataFrame, id_col: str, n_tiles: int
) -> DataFrame:
    """Triangle-tiled self-join for HOT buckets: rows hash into ``n_tiles``
    groups, each unordered group pair (p ≤ q) becomes its own join key, so
    one bucket's |bucket|² pair work spreads over n_tiles(n_tiles+1)/2
    independent tasks of ~(|bucket|/n_tiles)² each. Every (x, y) pair lands
    in tile (min(gx,gy), max(gx,gy)) — with the lower-GROUP member on the
    left — so the inequality must be on ids-differ, not id-order (the
    smaller id may sit on either side), and the pair is normalized to
    (least, greatest) afterward; the caller's ``distinct`` collapses the
    double emission the diagonal tiles (gx = gy) produce."""
    gid = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_tiles))
    g = band_rows.withColumn("__g", gid)
    left = g.withColumn(
        "__q", F.explode(F.sequence(F.col("__g"), F.lit(n_tiles - 1)))
    ).withColumnRenamed("__g", "__p")
    right = g.withColumn(
        "__p", F.explode(F.sequence(F.lit(0), F.col("__g")))
    ).withColumnRenamed("__g", "__q")
    a = left.alias("a")
    b = right.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.__p") == F.col("b.__p"))
        & (F.col("a.__q") == F.col("b.__q"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
    ).select(
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_1"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_2"),
    )


def banded_candidate_pairs(
    band_rows: DataFrame,
    id_col: str = "doc_id",
    hot_threshold: int = 4096,
    n_tiles: int = 8,
) -> DataFrame:
    """Distinct candidate pairs from LSH band rows, skew-safe.

    A boilerplate-heavy corpus (cookie banners, license headers, mirrored
    pages) concentrates thousands of docs in ONE band bucket; the plain
    per-bucket self-join then does that bucket's |bucket|² work in a
    single task. AQE's skew-join split cannot save it: the skew is in the
    join's OUTPUT rows, not its input bytes — a 100k-doc bucket is ~2.4 MB
    of (id, band, bucket) input, far under any AQE partition-size
    threshold, yet 10^10 output pairs. So the split is cost-based and
    explicit here: one count aggregate over the (already materialized)
    band rows finds buckets above ``hot_threshold``; those rows take the
    triangle-tiled join (bounded ~(|bucket|/n_tiles)² per task), the rest
    keep the plain single-key join; results union exactly (each pair
    collides within one bucket, so it takes exactly one path; ``distinct``
    dedups cross-band repeats as before). The hot set is broadcast —
    bounded by |corpus|·bands / hot_threshold entries.
    """
    counts = band_rows.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("__n")
    )
    hot = counts.filter(F.col("__n") > hot_threshold).select("band", "bucket")
    # cost-based short-circuit (one partial-agg probe over the already-
    # materialized band rows, same discipline as ngram_jaccard_pairs'
    # strategy pick): a skew-free corpus keeps the exact r5 plain plan —
    # no second join leg, no union, no re-dedup overhead
    if hot.isEmpty():
        return _plain_bucket_pairs(band_rows, id_col).distinct()
    marked = band_rows.join(
        F.broadcast(hot.withColumn("__hot", F.lit(True))),
        ["band", "bucket"],
        "left",
    )
    cold_rows = marked.filter(F.col("__hot").isNull()).drop("__hot")
    hot_rows = marked.filter(F.col("__hot").isNotNull()).drop("__hot")
    return (
        _plain_bucket_pairs(cold_rows, id_col)
        .unionByName(_tiled_bucket_pairs(hot_rows, id_col, n_tiles))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
    hot_threshold: int = 4096,
    n_tiles: int = 8,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    Pipeline: shingles → signatures → band buckets (bands × rows/band
    slices, bucket key = hash of the slice) → skew-safe self-join per
    (band, bucket) for candidates (:func:`banded_candidate_pairs` —
    hot buckets triangle-tiled) → exact Jaccard on candidates only. With
    b=8, r=4: s=0.8 ⇒ P(candidate) ≈ 0.986; s=0.4 ⇒ ≈ 0.19 — the filter
    does the work, the verify keeps precision at 1.
    """
    band_rows, arrays = minhash_index(
        df, id_col, text_col, n, num_hashes, bands, seed
    )
    band_rows = _materialize(band_rows)
    candidates = banded_candidate_pairs(
        band_rows, id_col, hot_threshold, n_tiles
    )
    return _verify_jaccard(candidates, arrays, id_col, threshold)


def incremental_minhash_pairs(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_arrays: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Dedup a NEW batch against an already-indexed corpus — without
    re-reading, re-shingling, or re-signing one byte of the corpus.

    The ingestion-time dedup shape a growing 100 TB corpus needs: batch
    cost is |batch| signing + a bucket join against the stored index,
    independent of corpus text size (the reference's analogue is its
    overlap-window re-fetch + PK upsert; this is the content-level twin).
    Pairs returned are exactly the full-corpus pairs that INVOLVE a new
    doc: new×indexed (found via the index's band buckets) plus new×new
    (the batch self-join) — old×old pairs were already emitted when those
    docs were indexed, which is what makes
    ``index(b1) ∪ incremental(b2 | b1)`` ≡ ``full(b1 ∪ b2)`` (asserted in
    tests).

    Returns ``(pairs, new_bands, new_arrays)`` — append the latter two to
    the stored index (e.g. ``storage.merge_into_parquet``) to complete the
    tick. Determinism of the signature family (fixed seed, driver-side
    LCG) is what lets yesterday's index and today's batch bucket
    identically.
    """
    new_bands, new_arrays = minhash_index(
        new_docs, id_col, text_col, n, num_hashes, bands, seed
    )
    new_bands = _materialize(new_bands)
    all_bands = index_bands.select(id_col, "band", "bucket").unionByName(
        new_bands
    )
    # Skew guard for the new×index bucket join: a boilerplate-heavy corpus
    # concentrates the INDEX side in a few hot (band, bucket) keys. The
    # index side gets an id-hash salt appended to the join key (no row
    # duplication) and the batch side replicates across all salts —
    # batch-sized overhead, and every hot bucket spreads across
    # ``n_salts`` reducers unconditionally (cheaper than probing the
    # corpus-sized index for hotness every tick). Each (new, indexed)
    # pair still matches exactly once: on the indexed row's own salt.
    n_salts = 8
    nb = new_bands.withColumn(
        "__s", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).alias("nb")
    ob = all_bands.withColumn(
        "__s", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    ).alias("ob")
    # new side joins the union: catches new×indexed AND new×new in one
    # bucket join; (least, greatest) normalizes so a pair found from both
    # directions dedups in the distinct
    candidates = (
        nb.join(
            ob,
            (F.col("nb.band") == F.col("ob.band"))
            & (F.col("nb.bucket") == F.col("ob.bucket"))
            & (F.col("nb.__s") == F.col("ob.__s"))
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
    all_arrays = index_arrays.select(id_col, "__sh").unionByName(new_arrays)
    pairs = _verify_jaccard(candidates, all_arrays, id_col, threshold)
    return pairs, new_bands, new_arrays


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per doc: per-bit majority vote over word hashes.

    Implemented as 64 conditional sums in one aggregation — all JVM-side,
    single shuffle on the doc id. Fingerprint reassembled with bit ops.

    The per-word 64-bit hash is built from the md5 hex digest (two 32-bit
    halves from the first 16 hex chars, recombined with shift/or) instead
    of Spark-internal ``xxhash64``: md5 produces the same hex on any
    engine, so the signatures — and therefore the near-dup pair set — are
    reproducible in portable SQL and driver-checkable against a DuckDB
    oracle (round-10 verdict item 5; the same move that made hash_bucket
    and the DSIR featurization oracle-able). Cost is one md5 per word
    occurrence, still whole-stage codegen.
    """
    tokens = _parallelize_small(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(words(F.lower(F.col(text_col)))).alias("w")
    )
    hex_ = F.md5(F.col("w"))
    hi = F.conv(F.substring(hex_, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hex_, 9, 8), 16, 10).cast("long")
    # 32-bit halves recombined with pure bit ops — no multiply, so no
    # ANSI overflow path; bit 63 lands in the sign bit deterministically
    h = F.shiftleft(hi, 32).bitwiseOR(lo)
    votes = tokens.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sig = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return votes.select(F.col(id_col), sig.alias("simhash"))


def auto_simhash_blocks(n_docs: int) -> int:
    """Corpus-sized pigeonhole block count (Manku et al., WWW'07 sizing).

    The join key space is ``blocks × 2^(64/blocks)``; expected random block
    collisions grow like n²·blocks/2^(64/blocks), so the block width must
    widen (block COUNT shrink) as the corpus grows: 8-bit keys (blocks=8)
    saturate near 10^4 docs — measured 33 s → 12 s at 10^5 docs by moving
    to blocks=4 (16-bit keys). Fewer blocks buy a sparser key space at the
    price of a smaller losslessly-covered radius (blocks-1).
    """
    if n_docs <= 20_000:
        return 8
    if n_docs <= 10_000_000:
        return 4
    return 2


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    blocks: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: split the 64-bit signature into ``blocks`` equal
    blocks; any pair within distance ≤ blocks-1 shares at least one exact
    block ⇒ self-join per (block index, block value) instead of all-pairs.

    ``blocks=None`` (default) derives the block count from the corpus size
    and CLAMPS the effective radius to ``blocks-1`` so the blocking stays
    lossless: at ≤2·10^4 docs the full requested radius (≤7) is served with
    8 blocks; at larger corpora the key space is widened and the radius
    tightens (4 blocks ⇒ radius ≤3, 2 blocks ⇒ radius ≤1) —
    near-duplicates hash within a couple of bits of each other, so a
    tighter radius at bigger scale is the standard operating point (Manku
    et al. use k=3 at 8×10^9 docs). A clamp is announced with a
    ``UserWarning`` carrying the effective radius, so callers can tell "no
    near-dups" from "radius was tightened". Passing ``blocks`` explicitly
    keeps the strict guard instead: ``max_hamming`` must be < ``blocks`` or
    the call raises.

    The corpus size for the auto-sizing comes from ``n_docs`` when the
    caller already knows it (catalog statistics, a prior count); otherwise
    a count over the id-column projection runs — with parquet aggregate
    pushdown enabled this is a footer-metadata read, not a data scan, but
    at 100 TB prefer passing ``n_docs`` (sizing only needs the order of
    magnitude).
    """
    if blocks is None:
        if n_docs is None:
            # Column-pruned count: compiles to a parquet footer count under
            # aggregatePushdown instead of scanning the text payload.
            n_docs = df.select(id_col).count()
        blocks = auto_simhash_blocks(n_docs)
        if max_hamming > blocks - 1:
            warnings.warn(
                f"simhash_near_pairs: requested max_hamming={max_hamming} "
                f"tightened to {blocks - 1} (lossless radius for "
                f"{blocks}-block pigeonhole at n_docs={n_docs})",
                UserWarning,
                stacklevel=2,
            )
            max_hamming = blocks - 1
    elif max_hamming >= blocks:
        raise ValueError("pigeonhole blocking requires max_hamming < blocks")
    sigs = _materialize(simhash64(df, id_col, text_col))
    return hamming_block_pairs(
        sigs,
        id_col=id_col,
        sig_col="simhash",
        max_hamming=max_hamming,
        blocks=blocks,
    )


def _hamming_blocked(
    sigs: DataFrame, id_col: str, sig_col: str, blocks: int
) -> DataFrame:
    """Explode a 64-bit signature into ``blocks`` (blk, blk_val) rows —
    the pigeonhole join key shared by the self-join and two-sided
    (incremental) Hamming kernels."""
    width = 64 // blocks
    mask = (1 << width) - 1
    return sigs.select(
        F.col(id_col),
        F.col(sig_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col(sig_col), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("blk_val"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("bb"),
    ).select(id_col, sig_col, "bb.blk", "bb.blk_val")


def hamming_block_pairs(
    sigs: DataFrame,
    *,
    id_col: str,
    sig_col: str,
    max_hamming: int,
    blocks: int,
) -> DataFrame:
    """Pigeonhole-blocked Hamming self-join over ANY 64-bit signature
    column — the shared kernel behind text SimHash (``simhash_near_pairs``)
    and image perceptual hashing (``operators/phash.py``). Any pair within
    distance ≤ blocks−1 shares at least one exact block, so the join is an
    equi-join on (block index, block value), never all-pairs."""
    if max_hamming >= blocks:
        raise ValueError("pigeonhole blocking requires max_hamming < blocks")
    blocked = _hamming_blocked(sigs, id_col, sig_col, blocks)
    a = blocked.alias("a")
    b = blocked.alias("b")
    hamming = F.bit_count(
        F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
    ).cast("int")
    # Hamming filter BEFORE the distinct: a pair colliding in k blocks
    # appears k times, but false block-collisions (the vast majority at
    # dense-duplicate scale) die in the per-row filter instead of being
    # shuffled into the dedup — distinct then touches only true near-dups.
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
            "hamming",
        )
        .distinct()
    )


def hamming_block_pairs_against(
    left_sigs: DataFrame,
    right_sigs: DataFrame,
    *,
    id_col: str,
    sig_col: str,
    max_hamming: int,
    blocks: int,
) -> DataFrame:
    """Two-sided pigeonhole Hamming kernel: every pair within
    ``max_hamming`` that joins a LEFT signature to a RIGHT one — the
    incremental form of :func:`hamming_block_pairs` (left = the new
    batch, right = batch ∪ stored index), with the same losslessness
    guarantee for ``max_hamming ≤ blocks − 1``. Pairs are normalized to
    ``id_1 < id_2`` and deduped, so a pair discoverable from both sides
    appears once. Cost: |left| · blocks join rows against the right's
    bucket — independent of how much of the right side is old index."""
    if max_hamming >= blocks:
        raise ValueError("pigeonhole blocking requires max_hamming < blocks")
    a = _hamming_blocked(left_sigs, id_col, sig_col, blocks).alias("a")
    b = _hamming_blocked(right_sigs, id_col, sig_col, blocks).alias("b")
    hamming = F.bit_count(
        F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_1"),
            F.greatest(
                F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
            ).alias("id_2"),
            "hamming",
        )
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 100,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, canonical_id).

    The survivor-selection step every dedup pipeline needs after pair
    generation: docs linked (transitively) through near-dup pairs form one
    component; the canonical/survivor id is the component minimum.
    Singletons map to themselves.

    Iterative min-label propagation: each round every vertex takes the min
    of its own label and its neighbors' labels; converges in O(component
    diameter) rounds — near-dup components are shallow (duplicates of a
    common source), so a handful of rounds suffices at any corpus size.
    Each round is one join + one aggregate on the edge list;
    ``localCheckpoint`` truncates the growing lineage so round N's plan
    does not replay rounds 1..N-1. The loop exits on a converged round (no
    label changed); a component whose diameter exceeds ``max_iter`` raises
    instead of silently returning split components (a 100-round diameter
    implies a pathological chain, not a duplicate cluster — raise and let
    the caller choose a bigger budget).
    """
    converged = False
    edges = (
        pairs.select(F.col("id_1").alias("u"), F.col("id_2").alias("v"))
        .unionAll(pairs.select(F.col("id_2").alias("u"), F.col("id_1").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = vertices.select(
        F.col(id_col).alias("u"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.v == labels.u, "inner")
            .groupBy(edges.u)
            .agg(F.min("label").alias("nbr_label"))
            .select(F.col("u").alias("nu"), "nbr_label")
        )
        new_labels = (
            labels.join(neighbor_min, labels.u == F.col("nu"), "left")
            .select(
                "u",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("__chg"),
            )
        ).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("__chg")).limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the budget) — raise max_iter"
        )
    return labels.select(
        F.col("u").alias(id_col), F.col("label").alias("canonical_id")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Near-CONTAINMENT pairs: |A∩B| / min(|A|,|B|) ≥ threshold over n-gram
    sets — the metric that catches "doc B is doc A plus a header/footer",
    which symmetric Jaccard misses (a long doc containing a short one whole
    can still have arbitrarily low |A∩B|/|A∪B|).

    Same linear shape as the Jaccard kernel (shared shingle self-join on
    hashed 8-byte grams, integer set sizes, one divide) — only the
    denominator differs, so the DuckDB twin is the Jaccard oracle with
    ``least(n1, n2)`` in place of the union size.
    """
    d = _materialize(shingle_table(df, id_col, text_col, n, hashed=True))
    sizes = d.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = d.alias("a")
    b = d.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_1"), F.col(f"b.{id_col}").alias("id_2")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.select(F.col(id_col).alias("id_1"), F.col("n_shingles").alias("n_1"))
    s2 = sizes.select(F.col(id_col).alias("id_2"), F.col("n_shingles").alias("n_2"))
    return (
        inter.join(s1, "id_1")
        .join(s2, "id_2")
        .withColumn(
            "containment",
            F.col("n_common") * F.lit(1.0) / F.least(F.col("n_1"), F.col("n_2")),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_1", "id_2", "n_common", "containment")
    )


def _canonical_edge_checksum(edges: DataFrame):
    """Order-independent (count, hash-sum) fingerprint of an edge set —
    one aggregate, used as the star-algorithm convergence test."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v")).alias("h"),
    ).first()
    return row["n"], row["h"]


def connected_components_auto(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    driver_max_edges: int = 500_000,
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components with a cost-based execution pick — same output
    contract as :func:`connected_components` / ``_star``.

    The distributed star algorithm pays several fixed-overhead jobs per
    round (two grouped shuffles, a distinct, a convergence checksum): for
    the SMALL pair graphs LSH dedup usually emits (near-dup pairs ≪
    corpus), round overhead dominates wall time by an order of magnitude.
    So, like the IVF centroid collect, this treats the edge list as
    driver-metadata when bounded: after one materialization of the pair
    set, ≤ ``driver_max_edges`` edges (≈ 8 MB at 5×10⁵) are collected and
    union-find runs driver-side in O(E α(E)); anything larger stays on the
    O(log n)-round distributed path. Both paths produce the identical
    component-minimum labeling, so oracle checks cannot tell them apart —
    only the wall clock can.

    ``checkpoint_dir``: fault-tolerant directory for the pair-set
    materialization (util.truncate_lineage) — None keeps the fast
    ``localCheckpoint`` (executor-loss fatal at cluster scale); a real
    HDFS/S3 path makes the cut lineage survive executor loss.
    """
    from .util import truncate_lineage

    dedup_pairs = truncate_lineage(
        pairs.select(
            F.least("id_1", "id_2").alias("u"),
            F.greatest("id_1", "id_2").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        checkpoint_dir=checkpoint_dir,
    )
    if dedup_pairs.count() > driver_max_edges:
        return connected_components_star(
            dedup_pairs.select(
                F.col("u").alias("id_1"), F.col("v").alias("id_2")
            ),
            vertices,
            id_col,
            max_iter,
        )
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in dedup_pairs.collect():
        u, v = r.u, r.v
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min keeps the root the component minimum
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    labels = [(x, find(x)) for x in parent]
    spark = vertices.sparkSession
    id_type = vertices.schema[id_col].dataType
    verts = vertices.select(F.col(id_col))
    if not labels:
        return verts.select(
            id_col, F.col(id_col).alias("canonical_id")
        )
    schema = StructType(
        [
            StructField(id_col, id_type, False),
            StructField("canonical_id", id_type, False),
        ]
    )
    label_df = spark.createDataFrame(labels, schema)
    return verts.join(F.broadcast(label_df), id_col, "left").select(
        id_col,
        F.coalesce("canonical_id", F.col(id_col)).alias("canonical_id"),
    )


def connected_components_star(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same output contract as :func:`connected_components`
    (``(id, canonical_id)``, component minimum, singletons map to self).

    Label propagation costs O(component diameter) joined rounds: right
    for near-dup clusters (shallow stars around a source doc), quadratic
    WORK on chain-shaped graphs — a 1,000-link containment chain
    (doc A ⊂ doc B ⊂ doc C …) needs 1,000 rounds and trips the round
    budget. The star operations instead rewire every node toward its
    neighborhood minimum each round:

    - large-star: for each node u, every STRICTLY LARGER neighbor is
      re-linked to min(Γ(u) ∪ {u});
    - small-star: edges canonicalized child→parent, every parent
      neighbor re-linked to the same minimum;

    halving component height per alternation ⇒ O(log n) rounds on ANY
    topology, each round two groupBy shuffles on the node id. Convergence
    is detected with an order-independent (count, hash-sum) edge-set
    fingerprint — one scalar aggregate per round, no edge-set diff join.
    """
    sym = (
        pairs.select(F.col("id_1").alias("u"), F.col("id_2").alias("v"))
        .unionAll(
            pairs.select(F.col("id_2").alias("u"), F.col("id_1").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def neighborhood_min(edges):
        return edges.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    edges = sym
    prev = _canonical_edge_checksum(edges)
    converged = edges.isEmpty()
    for _ in range(max_iter):
        if converged:
            break
        # both ops need the UNDIRECTED adjacency; the round's outputs are
        # canonical (larger → smaller), so re-symmetrize each round
        und = (
            edges.unionAll(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # large-star: (v, m) for v ∈ Γ(u), v > u, m = min(Γ(u) ∪ {u})
        nm = neighborhood_min(und)
        large = (
            und.join(nm, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star over canonical child→parent (u > v) edges
        canon = und.filter(F.col("u") > F.col("v"))
        nm2 = canon.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            canon.join(nm2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(nm2.select(F.col("u"), F.col("m").alias("v")))
        )
        edges = (
            large.unionAll(small)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = _canonical_edge_checksum(edges)
        converged, prev = cur == prev, cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — raise max_iter"
        )
    # converged edge set is child→root stars; roots/singletons map to self
    labels = edges.select(
        F.col("u").alias(id_col), F.col("v").alias("canonical_id")
    )
    verts = vertices.select(F.col(id_col))
    return (
        verts.join(labels, id_col, "left")
        .select(
            id_col,
            F.coalesce("canonical_id", F.col(id_col)).alias("canonical_id"),
        )
    )
