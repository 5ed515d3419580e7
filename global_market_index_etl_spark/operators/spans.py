"""Exact duplicate-span detection — token-window fingerprinting across docs.

MinHash/SimHash (operators/dedup.py) find documents that are near-copies of
each other as wholes.  Web-crawl training data also carries the orthogonal
failure: boilerplate PARAGRAPHS (license headers, navigation chrome, quoted
chain mail) duplicated verbatim across millions of otherwise-distinct
pages.  The published treatment (suffix-array exact substring dedup over
the concatenated corpus) is inherently sequential; the distributed
re-expression is token-window fingerprinting:

1. normalize + whitespace-tokenize each document (codegen, no Python);
2. slide a ``k``-token window over every position → one row per window
   occurrence (``transform(sequence(...))`` + ``posexplode`` — JVM-side);
3. a window string is a DUPLICATE SPAN iff it occurs in more than one
   distinct document.

All four public operators are compositions of one kernel, each step
defined once below: ``_tokens`` → ``_windows`` → (``_doc_windows``) →
``_dup_verdicts`` → ``_rebuild`` / ``_profile``.

At 100 TB the window-fingerprint key space is the same shape as the
shingle shuffle in minhash_signatures (operators/dedup.py) and carries the
same skew hazard in a sharper form: a license header shared by 10^8 pages
is ONE window fingerprint with 10^8 occurrence rows.  Any plan that
funnels all rows of a fingerprint through one task (a window function
``count().over(Window.partitionBy(fingerprint))``, or an unsalted join
against a duplicate-window set) is a straggler/OOM at that scale no matter
how well it measures on test corpora.  The verdicts are therefore a
SALTED TWO-PHASE AGGREGATE (``_dup_verdicts``):

- each row gets a deterministic salt in ``[0, n_salts)`` hashed from its
  identity columns, so one fingerprint's rows spread across ``n_salts``
  reducers;
- ``groupBy(fingerprint, salt)`` computes map-side-combinable PARTIALS
  (count is additive; the keep-first survivor is a min, and min-of-mins
  is the global min — both exact under any split);
- a final ``groupBy(fingerprint)`` over the ≤ ``n_salts`` partial rows
  per fingerprint produces the verdict — bounded input per key by
  construction — and carries ``collect_list(salt)`` (≤ ``n_salts``
  elements, bounded state) so each verdict knows which salt values its
  occurrence rows actually landed on;
- verdicts are replicated to exactly those OCCUPIED salts and joined
  back on ``(fingerprint, salt)``, so the join-back ALSO spreads a hot
  fingerprint's occurrence rows instead of re-concentrating them.

The occupancy-based replication makes the salt ADAPTIVE: a flat
×``n_salts`` replication would tax every duplicated window — the dominant,
cold case of a window shared by 2-5 documents would pay a 16× verdict
fan-out it never uses (measured ~4× on the whole span tier at sf1).
Occupancy replication emits 2 verdict rows for a 2-document window and
all ``n_salts`` only for fingerprints hot enough to have touched every
salt — the replication factor grows exactly with the skew it protects
against, no threshold dial, no second pass (the occupied-salt list rides
the partials the aggregate already shuffles).

The result is value-identical to the window-function formulation (the
DuckDB oracles still use plain windows — occurrence rows exist only at
occupied (fingerprint, salt) pairs, so the occupancy join hits the same
rows a full replication would) but no task ever holds more than
``occurrences / n_salts`` rows of any fingerprint.

Raw window strings would make the shuffles ~k× the text size, so every
window travels as a fixed-width fingerprint hashed in-row from the
k-token array slice (no intermediate window string, non-crypto hash).
Fingerprint semantics equal window-string semantics up to key
collisions, and a collision deletes legitimate text from both windows'
documents, so the bound that matters is the corpus-level birthday bound:
with N distinct windows and a b-bit key the expected number of colliding
pairs is ≈ N² / 2^(b+1).  At the 100 TB design point (N ≈ 10^13) a
64-bit key expects ~3·10^6 collisions; the key is therefore 128 bits —
``xxhash64`` of the slice under two different seeds (``_windows``) —
and expects ~10^-13.  The DuckDB oracles keep their md5-over-string
formulation: the fingerprint never appears in any output, so the
comparison stays exact on the values that do.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .util import materialize, materialize_shared
from .util import spread_for_explode as _spread_for_explode

__all__ = [
    "duplicate_window_profile",
    "remove_duplicate_spans",
    "duplicate_span_suite",
    "exact_substring_dedup",
]

# Default salt fan-out for per-fingerprint statistics.  16 bounds the
# hottest fingerprint's per-task rows to occurrences/16; because verdict
# replication is occupancy-based (module docstring), raising it costs
# extra verdict rows ONLY for fingerprints hot enough to occupy the
# extra salts — cold duplicated windows are priced by their own
# occurrence count regardless of this setting.
N_SALTS = 16

# Per-site explode expansion for the doc_id pre-distribution, derived
# from the kernel's own shape: the stride-1 window generator emits ONE
# occurrence row per token position regardless of k/min_len: (doc_id
# long 8B, __i int 4B, __w two longs 16B + 8B nested-row header, ~16B
# UnsafeRow overhead) ≈ 52 B per position against ~6.4 B of input text
# per token (avg word + separator) ⇒ ~8× post-explode bytes per input
# byte.
_SPAN_EXPANSION = 8

# Seed hashed ahead of the slice for the key's second half: h1 is then
# the slice hashed under a different xxhash64 seed (hashing the literal
# AFTER the slice would make h1 a function of h0 and add no bits).
_H1_SEED = 0x5EED


def _check_params(k: int, n_salts: int, name: str = "k") -> None:
    if k < 2:
        raise ValueError(f"{name} must be >= 2, got {k}")
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")


def _with_salt(df: DataFrame, n_salts: int, *cols: str) -> DataFrame:
    """Deterministic per-row salt in ``[0, n_salts)`` from identity columns.

    The salt is a pure function of the row's own identity (never RNG), so
    repeated runs and the verdict join-back see the same placement.
    """
    return df.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salts)).cast(
            "int"
        ),
    )


def _tokens(docs: DataFrame, doc_id: str, text_col: str) -> DataFrame:
    """``(doc_id, __t)``: the normalized token array of every non-empty
    document.

    The documents are pre-partitioned by id, sized for the window explode
    downstream: hashpartitioning(doc_id) satisfies the clustered
    distribution of every per-document aggregation and of the covered-set
    join, so all of them run exchange-free and the shuffle moves one row
    per document instead of one row per window occurrence (measured
    19.8 s → 7.5 s at sf1).  The token array is deliberately recomputed
    per consumer rather than persisted: a persist measured SLOWER at sf0.1
    and sf1, because the codegen tokenize runs at scan speed — persist
    only if a Python tokenizer ever replaces it.
    """
    return (
        _spread_for_explode(
            docs.select(doc_id, text_col), F.col(doc_id),
            expansion=_SPAN_EXPANSION,
        )
        .select(
            doc_id,
            F.split(
                F.trim(
                    F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
                ),
                " ",
            ).alias("__t"),
        )
        .where(F.length(F.trim(F.col(text_col))) > 0)
    )


def _windows(toks: DataFrame, doc_id: str, k: int) -> DataFrame:
    """``(doc_id, __i, __w)``: one row per stride-1 ``k``-token window,
    ``__i`` its 1-based start position and ``__w`` its 128-bit
    fingerprint ``struct<h0, h1>`` (module docstring) — the one place the
    window-key format is defined.  One column, so every exchange, join
    and aggregate downstream keys on ``__w`` unchanged."""
    return toks.where(F.size("__t") >= k).select(
        doc_id,
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(__t) - {k - 1}),"
                f" i -> named_struct('h0', xxhash64(slice(__t, i, {k})),"
                f" 'h1', xxhash64({_H1_SEED}, slice(__t, i, {k}))))"
            )
        ).alias("__p0", "__w"),
    ).select(doc_id, (F.col("__p0") + 1).alias("__i"), "__w")


def _doc_windows(wins: DataFrame, doc_id: str, n_salts: int) -> DataFrame:
    """``(__w, doc_id, __pos, __salt)``: one row per (window, document)
    with the window's start positions in that document, salted by
    document and repartitioned on ``(__w, __salt)``.

    The (window, doc) groupBy is exchange-free under the doc_id
    pre-partition.  Distributing the REDUCTION on ``(__w, __salt)`` up
    front lets its two consumers — the verdict partial aggregate and the
    join-back probe — both run without re-shuffling it, also when the
    table is persisted (one pre-cache exchange instead of two post-cache
    ones).
    """
    return _with_salt(
        wins.groupBy("__w", doc_id).agg(F.collect_list("__i").alias("__pos")),
        n_salts,
        doc_id,
    ).repartition(F.col("__w"), F.col("__salt"))


def _dup_verdicts(
    rows: DataFrame, doc_id: str, survivor: bool = False
) -> DataFrame:
    """``(__w, __dup[, __surv], __salt)``: the salted two-phase aggregate
    over ``(__w, __salt)``-salted rows, keeping windows counted in more
    than one row, replicated to their occupied salts (module docstring).

    Over ``_doc_windows`` rows the count is the window's distinct-document
    frequency; over ``_windows`` rows it is its global occurrence count.
    ``survivor`` adds ``__surv``, the corpus-wide first occurrence
    ``min(struct(doc_id, __i))`` — a min of per-salt mins, exact under
    any split.
    """
    partial = [F.count(F.lit(1)).alias("__pc")]
    total = [F.sum("__pc").alias("__n")]
    keep = ["__w", F.lit(True).alias("__dup")]
    if survivor:
        partial.append(
            F.min(F.struct(F.col(doc_id), F.col("__i"))).alias("__ps")
        )
        total.append(F.min("__ps").alias("__surv"))
        keep.append("__surv")
    verdicts = (
        rows.groupBy("__w", "__salt")
        .agg(*partial)
        .groupBy("__w")
        .agg(*total, F.collect_list("__salt").alias("__occ"))
        .where(F.col("__n") > 1)
        .select("__occ", *keep)
    )
    # the literal is projected BELOW the explode: in the explode's own
    # select it would cost an extra Project over the Generate
    return verdicts.select(
        *verdicts.columns[1:], F.explode("__occ").alias("__salt")
    )


def _covered_by_starts(k: int) -> str:
    """SQL for the token positions covered by the ``k``-windows starting
    at the positions in ``__pos``."""
    return (
        f"array_distinct(flatten(transform(__pos,"
        f" i -> sequence(i, i + {k - 1}))))"
    )


def _rebuild(
    toks: DataFrame, rows: DataFrame, doc_id: str, covered: str
) -> DataFrame:
    """Rebuild each document with the token positions that ``rows`` cover
    (SQL ``covered``: an array of positions per row) removed.

    The covered positions reduce to ONE set per document (``collect_set``
    — bounded by document length, the same per-doc bound as the token
    array itself), and the rebuild is IN-ROW: surviving positions =
    ``array_except(sequence(1, n), covered)`` (order-preserving), tokens
    looked up by position with a higher-order ``transform`` — no
    per-token explode and no (doc, position) anti-join, which would
    shuffle corpus-token-sized rows; only the covered positions travel.
    Documents without a covered position keep every token.  Returns
    ``(doc_id, cleaned_text, n_tokens, n_removed_tokens)``.
    """
    cov = (
        rows.select(doc_id, F.explode(F.expr(covered)).alias("__j"))
        .groupBy(doc_id)
        .agg(F.collect_set("__j").alias("__cov"))
    )
    pre = toks.join(cov, doc_id, "left").select(
        doc_id,
        "__t",
        F.array_except(
            F.sequence(F.lit(1), F.size("__t")),
            F.coalesce(F.col("__cov"), F.expr("CAST(array() AS array<int>)")),
        ).alias("__keep"),
    )
    return pre.select(
        doc_id,
        F.array_join(
            F.transform("__keep", lambda j: F.element_at(F.col("__t"), j)),
            " ",
        ).alias("cleaned_text"),
        F.size("__t").cast("long").alias("n_tokens"),
        (F.size("__t") - F.size("__keep")).cast("long").alias(
            "n_removed_tokens"
        ),
    )


def _profile(flagged: DataFrame, doc_id: str) -> DataFrame:
    """``(doc_id, n_windows, n_dup_windows)`` from ``_doc_windows`` rows
    left-joined to their verdicts."""
    return flagged.groupBy(doc_id).agg(
        F.sum(F.size("__pos")).alias("n_windows"),
        F.sum(F.when(F.col("__dup"), F.size("__pos")).otherwise(0)).alias(
            "n_dup_windows"
        ),
    )


def duplicate_window_profile(
    docs: DataFrame,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Per-document duplicate-span summary.

    Returns one row per document with at least ``k`` tokens:
    ``(doc_id, n_windows, n_dup_windows)`` where a window counts as dup
    when its exact k-token string occurs in >1 distinct document.

    Plan: tokenize under a doc_id pre-partition (the (doc, window) groupBy
    and the final per-document summary both reuse it), reduce to one row
    per (doc, window) with map-side combine, then the salted two-phase
    document-frequency aggregate + verdict join-back described in the
    module docstring — no per-fingerprint task ever holds more than
    ``doc_frequency / n_salts`` rows.
    """
    _check_params(k, n_salts)
    per_doc = _doc_windows(
        _windows(_tokens(docs, doc_id, text_col), doc_id, k), doc_id, n_salts
    )
    flagged = per_doc.join(
        _dup_verdicts(per_doc, doc_id), ["__w", "__salt"], "left"
    )
    return _profile(flagged, doc_id)


def remove_duplicate_spans(
    docs: DataFrame,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_salts: int = N_SALTS,
    checkpoint_dir: str | None = None,
    share_cache: bool = True,
) -> DataFrame:
    """Rewrite each document with cross-document duplicate spans REMOVED.

    The cleaning step of exact substring dedup: every token covered by at
    least one k-token window that also occurs in another document is
    dropped; the survivors are rejoined in order.  Returns one row per
    (whitespace-normalized non-empty) document:
    ``(doc_id, cleaned_text, n_tokens, n_removed_tokens)``.

    Entirely JVM-side — no Python in the pipeline: windows are reduced to
    (window, doc) rows, the duplicate-window verdicts come from the salted
    two-phase aggregate (module docstring), the inner join-back on
    ``(__w, __salt)`` keeps only duplicated windows, and the documents are
    rebuilt in-row from their covered positions.  All shuffles are keyed
    by (window, salt) or doc — linear in corpus size with bounded
    per-task rows.

    The (window, doc) reduction is materialized for its two consumers
    (verdict aggregate + join-back probe): ReuseExchange does not fire
    across them — column pruning gives the verdict side a narrower
    exchange schema (no ``__pos``) than the probe side — so without the
    persist the whole window explode + fingerprint pass runs TWICE (at
    sf1: 39 s + 45 s executor time, the query's dominant cost).

    ``share_cache=True`` (default) memoizes the persisted reduction per
    (process, plan) via :func:`util.materialize_shared`, which REQUIRES
    the input to be immutable between calls (the fixture parquet tables
    qualify); a caller reading mutated source data must pass
    ``share_cache=False``.  ``checkpoint_dir`` switches to a reliable
    checkpoint for executor-loss-safe cluster runs.
    """
    _check_params(k, n_salts)
    _mat = materialize_shared if share_cache else materialize
    toks = _tokens(docs, doc_id, text_col)
    per_doc = _mat(
        _doc_windows(_windows(toks, doc_id, k), doc_id, n_salts),
        checkpoint_dir=checkpoint_dir,
    )
    dup = per_doc.join(_dup_verdicts(per_doc, doc_id), ["__w", "__salt"])
    return _rebuild(toks, dup, doc_id, _covered_by_starts(k))


def duplicate_span_suite(
    docs: DataFrame,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_salts: int = N_SALTS,
    checkpoint_dir: str | None = None,
    share_cache: bool = True,
) -> DataFrame:
    """Profile AND removal in one fused plan — the tagged-leg union of
    :func:`duplicate_window_profile` ('profile') and
    :func:`remove_duplicate_spans` ('removal'), value-identical to running
    both (asserted in tests), but the expensive shared subtree — window
    explode → one shuffle to (window, doc) rows — is computed ONCE and
    persisted instead of once per leg.  ReuseExchange alone does not
    deduplicate it across the union branches (measured: no win); one
    MEMORY_AND_DISK materialize of the one-row-per-(window, doc) table
    does (measured 2.6 s → 1.4 s at sf0.1, 8.9 s → ~5 s at sf1 under full
    materialization).  The persisted table is the POST-shuffle reduction —
    corpus-window-set sized, far smaller than the raw window occurrences,
    so the cache cost stays bounded at scale.

    The FLAGGED table (reduction + verdict) is persisted too: the union
    legs cannot share plan subtrees (Catalyst re-derives each union
    branch), so without it the verdict aggregate and the (window, salt)
    join-back run once PER LEG.  It is the reduction plus a boolean — the
    same bounded cache footprint.

    ``share_cache=True`` (default) memoizes the persisted tables per
    (process, plan) via :func:`util.materialize_shared`: repeat
    invocations over the same input reuse one persisted table instead of
    stacking a fresh copy per call.  THIS REQUIRES THE INPUT TO BE
    IMMUTABLE between calls — the fixture parquet tables the registry
    reads qualify; a caller whose semantically-identical plan reads
    MUTATED source data (a maintained table path, a streaming delta dir)
    must pass ``share_cache=False`` to get a private, per-call
    materialization.  ``checkpoint_dir`` switches the materialization to
    a reliable checkpoint for executor-loss-safe cluster runs
    (util.truncate_lineage semantics)."""
    _check_params(k, n_salts)
    _mat = materialize_shared if share_cache else materialize
    toks = _tokens(docs, doc_id, text_col)
    per_doc = _mat(
        _doc_windows(_windows(toks, doc_id, k), doc_id, n_salts),
        checkpoint_dir=checkpoint_dir,
    )
    flagged = _mat(
        per_doc.join(
            _dup_verdicts(per_doc, doc_id), ["__w", "__salt"], "left"
        ),
        checkpoint_dir=checkpoint_dir,
    )
    profile = _profile(flagged, doc_id).select(
        F.lit("profile").alias("leg"),
        F.col(doc_id),
        F.lit(None).cast("string").alias("cleaned_text"),
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("long").alias("n_removed_tokens"),
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
    )
    removal = _rebuild(
        toks, flagged.where(F.col("__dup")), doc_id, _covered_by_starts(k)
    ).select(
        F.lit("removal").alias("leg"),
        F.col(doc_id),
        "cleaned_text",
        "n_tokens",
        "n_removed_tokens",
        F.lit(None).cast("long").alias("n_windows"),
        F.lit(None).cast("long").alias("n_dup_windows"),
    )
    return removal.unionByName(profile)


def exact_substring_dedup(
    docs: DataFrame,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    keep_first: bool = True,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """ExactSubstr-fidelity dedup: remove every repeated substring of
    ``min_len``+ tokens, keeping one occurrence (Lee et al., ACL'22,
    "Deduplicating Training Data Makes Language Models Better").

    The published tool builds a suffix array over the concatenated corpus
    — inherently sequential. The distributed re-expression rests on an
    exact reduction: a substring of length ≥ L repeats somewhere in the
    corpus iff every one of its L-token sub-windows repeats, and the union
    of the token positions of all repeated L-windows IS the union of all
    repeated substrings of length ≥ L. Sliding an L-window at stride 1
    (one fingerprint per position, JVM codegen) therefore reproduces
    suffix-array coverage exactly — no stride alignment gap, no
    approximation beyond the window fingerprint the whole span tier
    already rests on (module docstring).

    Two semantic upgrades over :func:`remove_duplicate_spans` (which keeps
    zero copies of cross-document boilerplate and ignores repeats inside
    one document):

    - occurrences are counted GLOBALLY — a 50-token block pasted twice
      into the same document is a repeat (the paper's semantics), not
      just cross-document hits;
    - ``keep_first=True`` exempts, PER REPEATED WINDOW, the corpus-wide
      first occurrence (min (doc, position), deterministic) from removal.
      For a duplicated region whose windows all share one first document
      this keeps the first copy intact; when a region overlaps multiple
      DISTINCT duplicated contexts, different windows can elect survivors
      in different documents, so a first occurrence may be partially
      removed where its windows lost their per-window election (the
      engine and the SQL oracle agree exactly on this rule).
      ``keep_first=False`` gives the remove-all behavior of the
      boilerplate scrubber.

    Plan shape (linear at any corpus size, skew-proof by construction):
    one stride-1 window explode (rows = corpus tokens), then the salted
    two-phase verdict aggregate from the module docstring with the
    survivor riding the partials, and verdicts for windows with
    ``cnt ≥ 2`` joined back on ``(window, salt)`` so even a
    10^8-occurrence boilerplate window spreads over ``n_salts`` tasks.
    Unique windows (the vast majority of the corpus) drop out BEFORE the
    join-back — the inner join moves only duplicated-window occurrences.
    Then the covered-position explode (fan-out min_len) reduces to one
    position-set array per document and the rebuild is in-row
    (:func:`_rebuild`).

    Unlike the k=8 tier, the occurrence rows are NOT repartitioned on
    ``(__w, __salt)``: here that table is the RAW corpus-position
    occurrence rows, not a small reduction, and pre-shuffling them forces
    a sort-merge join-back where the planner's broadcast of the
    (occupancy-slim) verdict table costs no probe shuffle at all
    (measured on the 30× and planted-hot corpora: growth 4.4×→6.1× and
    hot/plain 2.7×→4.6× when forced, nothing gained at sf1).  When the
    verdict table outgrows the broadcast threshold the planner falls back
    to a hash join on (__w, __salt) — salt-spread keys, skew-safe without
    the bake-in.

    Returns one row per non-empty document:
    ``(doc_id, cleaned_text, n_tokens, n_removed_tokens)``.
    """
    _check_params(min_len, n_salts, name="min_len")
    L = int(min_len)
    toks = _tokens(docs, doc_id, text_col)
    occ = _with_salt(_windows(toks, doc_id, L), n_salts, doc_id, "__i")
    marked = occ.join(
        _dup_verdicts(occ, doc_id, survivor=True), ["__w", "__salt"]
    )
    if keep_first:
        marked = marked.where(
            ~(
                (F.col("__surv")[doc_id] == F.col(doc_id))
                & (F.col("__surv")["__i"] == F.col("__i"))
            )
        )
    return _rebuild(toks, marked, doc_id, f"sequence(__i, __i + {L - 1})")
