"""Corpus-level term statistics + token-budget selection: DuckDB twins and
scale-shape (two-phase cumsum ≡ global window) equivalence tests."""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from global_market_index_etl_spark.operators.sampling import (
    select_to_token_budget,
)
from global_market_index_etl_spark.operators.terms import (
    tfidf_top_terms,
    top_terms_global,
)
from global_market_index_etl_spark.sources import load_table

from .conftest import SF_SMALL, duck_connection


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents").cache()


_TFIDF_TWIN = """
WITH w AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents WHERE length(trim(text)) > 0
), tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2
), dfq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, word, tf, df,
         tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS tfidf
  FROM tf JOIN dfq USING (word) CROSS JOIN n
)
SELECT doc_id, word, tf, df, tfidf,
       row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word)
         AS term_rank
FROM scored
QUALIFY term_rank <= 5
ORDER BY doc_id, term_rank
"""


def test_tfidf_top_terms_matches_duckdb_twin(spark, docs):
    got = (
        tfidf_top_terms(docs, k=5)
        .orderBy("doc_id", "term_rank")
        .toPandas()
    )
    want = duck_connection(SF_SMALL).execute(_TFIDF_TWIN).fetchdf()
    assert len(got) == len(want)
    for col in ("doc_id", "term_rank", "word", "tf", "df"):
        assert got[col].tolist() == want[col].tolist(), col
    # scores: ln() may differ by ulps between engines — rank compare above
    # is exact, score compare is tight-approximate
    np.testing.assert_allclose(got["tfidf"], want["tfidf"], rtol=1e-12)


def test_tfidf_min_df_drops_rare_terms(spark, docs):
    out = tfidf_top_terms(docs, k=5, min_df=3)
    assert out.filter(F.col("df") < 3).count() == 0
    assert out.groupBy("doc_id").count().filter(F.col("count") > 5).count() == 0


def test_top_terms_global_matches_duckdb_twin(spark, docs):
    got = top_terms_global(docs, k=20).toPandas()
    want = duck_connection(SF_SMALL).execute(
        """
        SELECT word, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
              FROM documents WHERE length(trim(text)) > 0)
        GROUP BY word ORDER BY n DESC, word LIMIT 20
        """
    ).fetchdf()
    assert got["word"].tolist() == want["word"].tolist()
    assert got["n"].tolist() == want["n"].tolist()


def _naive_budget_ids(df, budget, token_col, priority_col, id_col):
    """Single-task global-window reference implementation."""
    w = Window.orderBy(F.desc(priority_col), F.asc(id_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return {
        r[0]
        for r in df.withColumn("cum", F.sum(token_col).over(w))
        .filter(F.col("cum") <= budget)
        .select(id_col)
        .collect()
    }


def test_token_budget_matches_global_window_and_twin(spark, docs):
    total = docs.agg(F.sum("n_chars")).first()[0]
    budget = int(total * 0.3)
    out = select_to_token_budget(
        docs, budget, token_col="n_chars", priority_col="n_chars", id_col="doc_id"
    )
    got = {r.doc_id for r in out.select("doc_id").collect()}
    assert got == _naive_budget_ids(docs, budget, "n_chars", "n_chars", "doc_id")
    want = duck_connection(SF_SMALL).execute(
        f"""
        SELECT doc_id FROM (
          SELECT doc_id, sum(n_chars) OVER (
            ORDER BY n_chars DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM documents)
        WHERE cum <= {budget}
        """
    ).fetchdf()
    assert got == set(want["doc_id"].tolist())
    # never exceeds the budget; maximal prefix (adding the next-best row
    # would overshoot)
    spent = out.agg(F.sum("n_chars")).first()[0]
    assert spent <= budget
    leftover = docs.filter(~F.col("doc_id").isin(list(got)))
    nxt = (
        leftover.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .select("n_chars")
        .first()
    )
    if nxt is not None:
        assert spent + nxt[0] > budget


def test_token_budget_partitioning_independent(spark, docs):
    budget = int(docs.agg(F.sum("n_chars")).first()[0] * 0.2)
    a = select_to_token_budget(
        docs, budget, "n_chars", "n_chars", "doc_id", num_partitions=2
    )
    b = select_to_token_budget(
        docs.repartition(13), budget, "n_chars", "n_chars", "doc_id",
        num_partitions=7,
    )
    assert {r.doc_id for r in a.collect()} == {r.doc_id for r in b.collect()}


def test_token_budget_plan_uses_range_partitioning(spark, docs):
    """The selection must be the two-phase form: a range exchange on the
    order key, and the per-row cumulative window partitioned by __pid (no
    whole-corpus single-task window)."""
    plan = (
        select_to_token_budget(docs, 10_000, "n_chars", "n_chars", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange rangepartitioning" in plan
    assert "partitionBy=[__pid" in plan.replace(" ", "") or "__pid" in plan


def test_token_budget_tiny_budget_empty(spark, docs):
    out = select_to_token_budget(docs, 0, "n_chars", "n_chars", "doc_id")
    assert out.count() == 0


def test_export_training_shards_deterministic(spark, docs, tmp_path):
    import glob
    import hashlib

    import duckdb

    from global_market_index_etl_spark.operators.storage import (
        export_training_shards,
        read_training_shards,
    )

    n_shards = 4
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    export_training_shards(docs, p1, "doc_id", n_shards)
    export_training_shards(docs, p2, "doc_id", n_shards)

    back = read_training_shards(spark, p1)
    # round-trip: same rows, correct shard placement for every row
    assert back.count() == docs.count()
    misplaced = back.filter(
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_shards)).cast("int")
        != F.col("shard")
    )
    assert misplaced.count() == 0
    assert back.select("shard").distinct().count() <= n_shards

    # within-shard order is (id asc): read one data file raw and check
    files = sorted(glob.glob(p1 + "/part-*.parquet"))
    assert files
    ids = duckdb.sql(
        f"SELECT doc_id FROM '{files[0]}'"
    ).fetchdf()["doc_id"].tolist()
    assert ids == sorted(ids)

    # determinism: the two exports are file-for-file byte-identical
    def digest(root):
        out = {}
        for f in sorted(glob.glob(root + "/part-*.parquet")):
            with open(f, "rb") as fh:
                out[os.path.basename(f).split("-c000")[0].split("-")[1]] = (
                    hashlib.md5(fh.read()).hexdigest()
                )
        return out

    d1, d2 = digest(p1), digest(p2)
    assert d1 and len(d1) == len(d2)
    assert sorted(d1.values()) == sorted(d2.values())


def test_export_training_shards_jsonl(spark, docs, tmp_path):
    from global_market_index_etl_spark.operators.storage import (
        export_training_shards,
        read_training_shards,
    )

    p = str(tmp_path / "jsonl")
    export_training_shards(
        docs.select("doc_id", "text"), p, "doc_id", 2, fmt="json"
    )
    back = read_training_shards(spark, p, fmt="json")
    assert back.count() == docs.count()
    assert set(back.columns) == {"doc_id", "text", "shard"}


def test_cap_per_group_matches_duckdb_twin(spark, docs):
    from global_market_index_etl_spark.operators.quality import cap_per_group

    got = (
        cap_per_group(
            docs, "source", 10, order=[F.col("n_chars").desc()],
            id_col="doc_id",
        )
        .select("doc_id")
        .toPandas()["doc_id"]
        .sort_values()
        .tolist()
    )
    want = duck_connection(SF_SMALL).execute(
        """
        SELECT doc_id FROM (
          SELECT doc_id, row_number() OVER (
            PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
          FROM documents)
        WHERE rk <= 10 ORDER BY doc_id
        """
    ).fetchdf()["doc_id"].tolist()
    assert got == want


def test_cap_per_group_plan_has_group_limit(spark, docs):
    """Spark must push the cap into the sort (WindowGroupLimit) — the
    property that keeps a hot domain from materializing fully at scale."""
    from global_market_index_etl_spark.operators.quality import cap_per_group

    plan = (
        cap_per_group(docs, "source", 5, id_col="doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_validate_expectations(spark):
    from global_market_index_etl_spark.operators.quality import (
        expect_in_range,
        expect_in_set,
        expect_matches,
        expect_not_null,
        expect_unique,
        validate,
    )

    rows = [
        (1, "en", 50, "alpha"),
        (2, "en", -3, "beta"),      # range violation
        (3, None, 10, "gamma"),     # null violation
        (4, "xx", 10, "delta"),     # set violation
        (5, "fr", 10, "99bad"),     # pattern violation
        (5, "fr", 10, "dupid"),     # unique violation (with previous row)
    ]
    df = spark.createDataFrame(rows, "id long, lang string, n long, name string")
    flagged, report = validate(
        df,
        [
            expect_not_null("lang"),
            expect_in_range("n", 0, 100),
            expect_in_set("lang", ["en", "fr", "de"]),
            expect_matches("name", "^[a-z]+$"),
            expect_unique("id"),
        ],
    )
    r = report.first().asDict()
    assert r["n_rows"] == 6
    assert r["viol_lang_not_null"] == 1
    assert r["viol_n_in_range"] == 1
    assert r["viol_lang_in_set"] == 2          # None also fails the set
    assert r["viol_name_matches"] == 1
    assert r["viol_id_unique"] == 2
    by_id = {(x.id, x.name): x for x in flagged.collect()}
    assert by_id[(1, "alpha")]["n_violations"] == 0
    assert by_id[(2, "beta")]["n_violations"] == 1
    clean = flagged.filter(F.col("n_violations") == 0)
    assert clean.count() == 1


def test_containment_pairs_matches_duckdb_twin_and_planted(spark, docs):
    from global_market_index_etl_spark.operators.dedup import containment_pairs

    got = (
        containment_pairs(docs, n=3, threshold=0.9)
        .orderBy("id_1", "id_2")
        .toPandas()
    )
    want = duck_connection(SF_SMALL).execute(
        """
        WITH words AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS arr
          FROM documents WHERE length(trim(text)) > 0
        ), pos AS (
          SELECT doc_id, unnest(arr) AS w, generate_subscripts(arr, 1) AS i
          FROM words
        ), sh AS (
          SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
          FROM pos a
          JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
          JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2
        ), sizes AS (
          SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_1, b.doc_id AS id_2,
                 CAST(count(*) AS BIGINT) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_1, id_2, n_common,
               n_common * 1.0 / least(CAST(s1.n AS BIGINT), CAST(s2.n AS BIGINT))
                 AS containment
        FROM inter
        JOIN sizes s1 ON id_1 = s1.doc_id
        JOIN sizes s2 ON id_2 = s2.doc_id
        WHERE n_common * 1.0 / least(CAST(s1.n AS BIGINT), CAST(s2.n AS BIGINT))
              >= 0.9
        ORDER BY id_1, id_2
        """
    ).fetchdf()
    assert len(got) == len(want)
    for col in ("id_1", "id_2", "n_common"):
        assert got[col].tolist() == want[col].tolist(), col
    np.testing.assert_allclose(got["containment"], want["containment"], rtol=0)

    # planted containment invisible to Jaccard: short doc fully inside long
    short = " ".join(f"w{i}" for i in range(10))
    filler = " ".join(f"f{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, short), (2, short + " " + filler)], "doc_id long, text string"
    )
    from global_market_index_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    cont = containment_pairs(df, n=3, threshold=0.9).collect()
    assert [(r.id_1, r.id_2) for r in cont] == [(1, 2)]
    assert cont[0].containment == 1.0
    assert ngram_jaccard_pairs(df, n=3, threshold=0.8).count() == 0


def test_ngram_jaccard_prefix_strategy_matches_naive(spark, docs):
    """The All-Pairs prefix-filter candidate path must return exactly the
    naive self-join's pair set (it is an exact filter, not approximate) —
    both strategies pinned explicitly so the equivalence is tested even
    at sizes where auto would pick only one."""
    from global_market_index_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    naive = {
        (r.id_1, r.id_2, r.n_common, r.jaccard)
        for r in ngram_jaccard_pairs(docs, strategy="naive").collect()
    }
    prefix = {
        (r.id_1, r.id_2, r.n_common, r.jaccard)
        for r in ngram_jaccard_pairs(docs, strategy="prefix").collect()
    }
    assert prefix == naive and len(naive) > 0


def test_positional_filter_keeps_exact_boundary_pair(spark):
    """Round-15 positional filter (PPJoin): a pair at EXACTLY the
    threshold must survive the overlap-upper-bound prune. A = 11 words
    (9 shingles), B = A minus its first word plus one new word (also 9
    shingles, sharing 8) ⇒ J = 8/(9+9-8) = 0.8 exactly, and the
    positional bound lands exactly on the required overlap (8) — the
    one place an epsilon mistake would silently drop a true pair."""
    from global_market_index_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    words = "a b c d e f g h i j k".split()
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(words[1:] + ["x"]))],
        "doc_id long, text string",
    )
    out = ngram_jaccard_pairs(df, n=3, threshold=0.8, strategy="prefix")
    rows = out.collect()
    assert [(r.id_1, r.id_2, r.n_common) for r in rows] == [(1, 2, 8)]
    assert rows[0].jaccard >= 0.8


def test_positional_filter_prunes_without_changing_pairs(spark):
    """Round-15 positional filter: on a seeded word-soup corpus dense in
    near-miss pairs (docs share rare shingles but few of them), the
    prefix path must still emit exactly the naive pair set — the prune
    is an upper-bound proof, never a heuristic."""
    import random

    from global_market_index_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    rng = random.Random(15)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(60):
        base = [rng.choice(vocab) for _ in range(rng.randint(6, 24))]
        docs.append((i, " ".join(base)))
        # planted near-dups and supersets around the 0.8 boundary
        if i % 7 == 0:
            mut = list(base)
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((1000 + i, " ".join(mut)))
        if i % 11 == 0:
            docs.append((2000 + i, " ".join(base + [rng.choice(vocab)])))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def run(strategy):
        return {
            (r.id_1, r.id_2, r.n_common, round(r.jaccard, 12))
            for r in ngram_jaccard_pairs(
                df, n=3, threshold=0.8, strategy=strategy
            ).collect()
        }

    naive = run("naive")
    assert run("prefix") == naive and len(naive) > 0


def test_star_connected_components_on_deep_chain(spark):
    """A 400-link chain has diameter 400: min-label propagation would need
    400 rounds (far past its budget); large-star/small-star must collapse
    it to one component in O(log n) alternations."""
    from global_market_index_etl_spark.operators.dedup import (
        connected_components_star,
    )

    n = 400
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_1 long, id_2 long"
    )
    vertices = spark.createDataFrame(
        [(i,) for i in range(n + 1)], "doc_id long"
    )
    out = {
        r.doc_id: r.canonical_id
        for r in connected_components_star(pairs, vertices).collect()
    }
    assert out == {i: 0 for i in range(n + 1)}


def test_star_components_match_label_propagation(spark, docs):
    """On the real near-dup pair graph (plus planted singletons) both
    algorithms must emit identical (id, canonical_id) labelings."""
    from global_market_index_etl_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    a = {
        (r.doc_id, r.canonical_id)
        for r in connected_components(pairs, docs, "doc_id").collect()
    }
    b = {
        (r.doc_id, r.canonical_id)
        for r in connected_components_star(pairs, docs, "doc_id").collect()
    }
    assert a == b and len(a) == docs.count()


def test_star_components_empty_pairs(spark, docs):
    from global_market_index_etl_spark.operators.dedup import (
        connected_components_star,
    )

    empty = spark.createDataFrame([], "id_1 long, id_2 long")
    out = connected_components_star(empty, docs, "doc_id")
    assert out.filter(F.col("doc_id") != F.col("canonical_id")).count() == 0


def test_per_group_cap_semantics(spark, docs):
    from global_market_index_etl_spark.operators.sampling import (
        per_group_cap,
    )

    d = docs.select("doc_id", "source", "n_chars")
    capped = per_group_cap(d, "source", 5, "n_chars", "doc_id")
    counts = {
        r.source: r["count"]
        for r in capped.groupBy("source").count().collect()
    }
    orig = {
        r.source: r["count"] for r in d.groupBy("source").count().collect()
    }
    for src, n in orig.items():
        assert counts.get(src, 0) == min(n, 5), src
    # survivors are the TOP-n_chars rows of each group (ties by doc_id)
    rows = d.collect()
    kept = {(r.doc_id) for r in capped.collect()}
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, members in by_src.items():
        want = {
            r.doc_id
            for r in sorted(members, key=lambda r: (-r.n_chars, r.doc_id))[:5]
        }
        assert {r for r in kept if r in {m.doc_id for m in members}} == want

    with pytest.raises(ValueError, match="cap"):
        per_group_cap(d, "source", 0, "n_chars", "doc_id")


def test_corpus_mix_proportions_and_determinism(spark, docs):
    from global_market_index_etl_spark.operators.sampling import corpus_mix

    targets = {"en": 0.5, "de": 0.25, "fr": 0.25}
    d = docs.select("doc_id", "lang")
    mixed = corpus_mix(d, "lang", targets, "doc_id")
    got = {r.lang: r["count"] for r in mixed.groupBy("lang").count().collect()}
    orig = {r.lang: r["count"] for r in d.groupBy("lang").count().collect()}
    # quotas follow the scarcest-group derivation exactly
    total = min(int(orig[g] // t) for g, t in targets.items())
    for g, t in targets.items():
        assert got.get(g, 0) == int(t * total // 1), g
    # groups outside the allowlist are dropped
    assert set(got) <= set(targets)
    # achieved mix is within one row of the target proportions
    n = sum(got.values())
    for g, t in targets.items():
        assert abs(got[g] / n - t / sum(targets.values())) < 2 / n + 0.02

    # pure function of ids: identical survivor set under any partitioning
    ids1 = {r.doc_id for r in mixed.collect()}
    ids2 = {
        r.doc_id
        for r in corpus_mix(d.repartition(7), "lang", targets, "doc_id")
        .collect()
    }
    assert ids1 == ids2

    with pytest.raises(ValueError, match="empty"):
        corpus_mix(d, "lang", {}, "doc_id")
    with pytest.raises(ValueError, match="targets"):
        corpus_mix(d, "lang", {"en": 1.5}, "doc_id")


# --------------------------------------------------------------------- #
# model-based quality classifier (round 7)
# --------------------------------------------------------------------- #


def test_quality_classifier_degenerate_and_monotone(spark):
    from global_market_index_etl_spark.operators.text import (
        model_quality_classifier,
    )

    docs = spark.createDataFrame(
        [
            (1, ""),  # empty: every ratio coalesces to 0 → margin = -0.6
            (2, "the cat and the dog walked to the park in the morning sun"),
            (3, "!!! ??? ;;; ,,, ... !!! ??? ;;;"),  # punctuation soup
            (4, "1234567890 0987654321 1111111111"),  # digit wall
        ],
        "doc_id long, text string",
    )
    r = {
        x.doc_id: x
        for x in model_quality_classifier(docs)
        .select("doc_id", "quality_margin", "quality_prob", "keep")
        .collect()
    }
    assert abs(r[1].quality_margin - (-0.6)) < 1e-12
    assert not r[1].keep
    assert r[2].keep and r[2].quality_margin > 0
    assert r[3].quality_margin < r[2].quality_margin
    assert r[4].quality_margin < r[2].quality_margin
    for x in r.values():
        assert 0.0 < x.quality_prob < 1.0
        assert x.keep == (x.quality_prob >= 0.5)


# --------------------------------------------------------------------- #
# count-min sketch (round 8)
# --------------------------------------------------------------------- #

_CMS_TWIN = """
WITH terms AS (
  SELECT unnest(string_split(trim(lower(text)), ' ')) AS t
  FROM documents WHERE length(trim(text)) > 0
), nz AS (
  SELECT t FROM terms WHERE t <> ''
), cells AS (
  SELECT i.r AS row,
         CAST(CONCAT('0x', substr(md5(CONCAT(i.r, ':', t)), 1, 8)) AS BIGINT)
           % 64 AS cell
  FROM nz, (SELECT unnest(range(4)) AS r) i
)
SELECT row, cell, CAST(count(*) AS BIGINT) AS cnt
FROM cells GROUP BY row, cell
"""


def _norm_text_words(text):
    return [w for w in text.lower().split() if w]


def test_count_min_cells_match_duckdb_twin(spark):
    """The sketch is built EXACTLY (approximation is in the structure, not
    the construction): every (row, cell, cnt) must equal the DuckDB twin
    computing the same md5-derived cells."""
    from global_market_index_etl_spark.operators.terms import (
        count_min_cells,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    got = sorted(
        map(
            tuple,
            count_min_cells(docs, depth=4, width=64)
            .select("row", "cell", "cnt")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            duck_connection(SF_SMALL)
            .execute(_CMS_TWIN)
            .fetchall(),
        )
    )
    assert got == want


def test_count_min_estimates_bound_exact_counts(spark):
    """CMS guarantee: estimate >= exact for every term; heavy hitters on a
    wide sketch estimate exactly (few collisions)."""
    from collections import Counter

    from global_market_index_etl_spark.operators.terms import (
        count_min_cells,
        count_min_estimate,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    exact = Counter()
    for r in docs.select("text").collect():
        exact.update(_norm_text_words(r.text or ""))
    top = [t for t, _ in exact.most_common(20)]

    cells = count_min_cells(docs, depth=4, width=4096)
    queries = spark.createDataFrame([(t,) for t in top], "term string")
    est = {
        r.term: r.cms_estimate
        for r in count_min_estimate(
            cells, queries, depth=4, width=4096
        ).collect()
    }
    assert set(est) == set(top)
    for t in top:
        assert est[t] >= exact[t], t
    # wide sketch, small vocab: the top-20 should estimate exactly
    exact_hits = sum(1 for t in top if est[t] == exact[t])
    assert exact_hits >= 15, (exact_hits, {t: (est[t], exact[t]) for t in top})


def test_count_min_params_satisfy_error_budget(spark):
    """(ε, δ) sizing contract (round-8 verdict item 4): with
    (depth, width) = count_min_params(eps, delta), every estimate on the
    fixture corpus satisfies est ≤ true + ε·N (N = total occurrences).
    The guarantee is probabilistic (1 − δ) per term; on this corpus the
    budget must hold for every queried term outright."""
    import math
    from collections import Counter

    from global_market_index_etl_spark.operators.terms import (
        count_min_cells,
        count_min_estimate,
        count_min_params,
    )

    eps, delta = 0.01, 0.05
    depth, width = count_min_params(eps, delta)
    assert width >= math.e / eps and depth >= math.log(1 / delta)

    docs = load_table(spark, SF_SMALL, "documents")
    exact = Counter()
    for r in docs.select("text").collect():
        exact.update(_norm_text_words(r.text or ""))
    n_total = sum(exact.values())
    probe_terms = sorted(exact)[::7] or list(exact)[:1]

    cells = count_min_cells(docs, depth=depth, width=width)
    est = {
        r.term: r.cms_estimate
        for r in count_min_estimate(
            cells,
            spark.createDataFrame([(t,) for t in probe_terms], "term string"),
        ).collect()
    }
    budget = eps * n_total
    for t in probe_terms:
        assert exact[t] <= est[t] <= exact[t] + budget, (
            t, exact[t], est[t], budget,
        )


def test_count_min_unknown_term_estimates_from_empty_cells(spark):
    from global_market_index_etl_spark.operators.terms import (
        count_min_cells,
        count_min_estimate,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    cells = count_min_cells(docs, depth=4, width=65536)
    q = spark.createDataFrame(
        [("zzz-never-in-corpus-qqq",)], "term string"
    )
    [[_, est]] = (
        count_min_estimate(cells, q, depth=4, width=65536)
        .select("term", "cms_estimate")
        .collect()
    )
    assert est == 0


# --------------------------------------------------------------------- #
# temperature mixing (round 8)
# --------------------------------------------------------------------- #


def test_temperature_targets_limits_and_monotonicity():
    from global_market_index_etl_spark.operators.sampling import (
        temperature_targets,
    )

    counts = {"en": 8000, "de": 1500, "sw": 500}
    nat = temperature_targets(counts, 1.0)
    total = sum(counts.values())
    for g in counts:
        assert abs(nat[g] - counts[g] / total) < 1e-12
    uni = temperature_targets(counts, 0.0)
    assert all(abs(v - 1 / 3) < 1e-12 for v in uni.values())
    # lower temperature raises the scarce group's share monotonically
    shares = [
        temperature_targets(counts, a)["sw"] for a in (1.0, 0.7, 0.3, 0.0)
    ]
    assert shares == sorted(shares)


def test_corpus_mix_temperature_end_to_end(spark):
    from global_market_index_etl_spark.operators.sampling import (
        corpus_mix_temperature,
    )

    rows = (
        [(i, "en") for i in range(800)]
        + [(10_000 + i, "de") for i in range(150)]
        + [(20_000 + i, "sw") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = corpus_mix_temperature(df, "lang", alpha=0.5, id_col="doc_id")
    got = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
    total = sum(got.values())
    # achieved proportions track the alpha=0.5 targets (floor effects only)
    import math

    powered = {g: math.sqrt(n) for g, n in (("en", 800), ("de", 150), ("sw", 50))}
    z = sum(powered.values())
    for g in got:
        assert abs(got[g] / total - powered[g] / z) < 0.02, g
    # deterministic under partitioning
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in corpus_mix_temperature(
            df.repartition(7), "lang", alpha=0.5, id_col="doc_id"
        ).collect()
    )
    assert a == b


def test_corpus_mix_temperature_inplan_semantics(spark):
    """The zero-driver-action mix: quota_g = floor(s_g · min_h(c_h/s_h))
    with s_g = c_g^α — proportions track c^α, α=1 keeps everything, α=0
    levels every group to the scarcest, and the survivor set is the same
    md5 prefix as corpus_mix (deterministic under partitioning)."""
    import math

    from global_market_index_etl_spark.operators.sampling import (
        corpus_mix_temperature_inplan,
    )

    counts = {"en": 800, "de": 150, "sw": 50}
    rows = (
        [(i, "en") for i in range(800)]
        + [(10_000 + i, "de") for i in range(150)]
        + [(20_000 + i, "sw") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    out = corpus_mix_temperature_inplan(df, "lang", 0.5, "doc_id")
    got = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
    tmin = min(c / math.sqrt(c) for c in counts.values())
    for g, c in counts.items():
        assert got[g] == math.floor(math.sqrt(c) * tmin), g

    # α = 1: t* = 1, every row survives
    assert (
        corpus_mix_temperature_inplan(df, "lang", 1.0, "doc_id").count()
        == len(rows)
    )
    # α = 0: every group levels to the scarcest group's size
    uni = corpus_mix_temperature_inplan(df, "lang", 0.0, "doc_id")
    assert {r[0]: r[1] for r in uni.groupBy("lang").count().collect()} == {
        g: 50 for g in counts
    }
    # deterministic under partitioning, and a pure md5-prefix per group
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in corpus_mix_temperature_inplan(
            df.repartition(7), "lang", 0.5, "doc_id"
        ).collect()
    )
    assert a == b


def test_corpus_mix_inplan_empty_and_single_group(spark):
    """Degenerate shapes: an empty input yields an empty result (the
    1-row min aggregate is NULL and the quota comparison drops
    everything, never crashes); a single group keeps floor(s*t) = its
    own count at every alpha."""
    from global_market_index_etl_spark.operators.sampling import (
        corpus_mix_temperature_inplan,
    )

    empty = spark.createDataFrame([], "doc_id long, lang string")
    assert (
        corpus_mix_temperature_inplan(empty, "lang", 0.5, "doc_id").count()
        == 0
    )
    one = spark.createDataFrame(
        [(i, "en") for i in range(7)], "doc_id long, lang string"
    )
    for alpha in (0.0, 0.5, 1.0):
        assert (
            corpus_mix_temperature_inplan(one, "lang", alpha, "doc_id").count()
            == 7
        ), alpha


def test_count_min_params_validation():
    import pytest

    from global_market_index_etl_spark.operators.terms import count_min_params

    for bad in (0.0, 1.0, -0.1, 2.0):
        with pytest.raises(ValueError):
            count_min_params(bad, 0.05)
        with pytest.raises(ValueError):
            count_min_params(0.01, bad)
    d, w = count_min_params(0.9, 0.9)
    assert d >= 1 and w >= 2


def test_corpus_mix_tokens_semantics(spark):
    """Token-weighted mix: per-group kept tokens never exceed the quota
    floor(sqrt(W*minW)); the binding group keeps ALL its tokens at
    alpha=0.5; survivors are the maximal md5-order prefix (adding the
    next doc in hash order would overshoot); deterministic under
    partitioning."""
    import hashlib
    import math

    from global_market_index_etl_spark.operators.sampling import (
        corpus_mix_temperature_tokens,
    )

    rows = (
        [(i, "en", 50 + (i % 7)) for i in range(200)]
        + [(10_000 + i, "de", 80 + (i % 5)) for i in range(40)]
        + [(20_000 + i, "sw", 30 + (i % 3)) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, n long")
    out = corpus_mix_temperature_tokens(df, "lang", 0.5, "doc_id", "n")
    kept = {(r.doc_id, r.lang, r.n) for r in out.collect()}

    weights = {}
    for _, g, n in rows:
        weights[g] = weights.get(g, 0) + n
    mn = min(weights.values())
    quotas = {g: math.floor(math.sqrt(float(w) * float(mn))) for g, w in weights.items()}

    by_group: dict = {}
    for d, g, n in rows:
        by_group.setdefault(g, []).append((d, n))
    for g, members in by_group.items():
        order = sorted(
            members, key=lambda m: (hashlib.md5(str(m[0]).encode()).hexdigest(), m[0])
        )
        cum, expect = 0, set()
        for d, n in order:
            cum += n
            if cum <= quotas[g]:
                expect.add(d)
        got_g = {d for d, gg, _ in kept if gg == g}
        assert got_g == expect, g
        spent = sum(n for d, n in members if d in got_g)
        assert spent <= quotas[g]
    # binding group (smallest weight) keeps everything: quota == weight
    binding = min(weights, key=weights.get)
    assert quotas[binding] == weights[binding]
    assert {d for d, g, _ in kept if g == binding} == {
        d for d, g, _ in rows if g == binding
    }

    again = {
        (r.doc_id, r.lang, r.n)
        for r in corpus_mix_temperature_tokens(
            df.repartition(9), "lang", 0.5, "doc_id", "n"
        ).collect()
    }
    assert again == kept


def test_gopher_rules_match_duckdb_twin(spark, docs):
    """Every Gopher rule boolean must match a DuckDB re-derivation of the
    same counts/ratios over the fixture corpus (thresholds loosened so
    both keep and drop outcomes occur on this synthetic data)."""
    from global_market_index_etl_spark.operators.text import (
        gopher_quality_rules,
    )

    kw = dict(min_words=30, min_mean_word_len=2.0, max_mean_word_len=12.0,
              max_symbol_word_ratio=0.05, min_alpha_word_frac=0.7,
              min_stop_word_hits=1)  # the synthetic vocab carries only 'the'
    got = {
        r.doc_id: (
            r.rule_word_count, r.rule_mean_word_len, r.rule_symbol_ratio,
            r.rule_bullet_lines, r.rule_ellipsis_lines, r.rule_alpha_words,
            r.rule_stop_words, r.gopher_keep,
        )
        for r in gopher_quality_rules(docs, **kw).collect()
    }
    want = {
        int(r[0]): tuple(bool(x) for x in r[1:])
        for r in duck_connection(SF_SMALL).execute(r"""
        WITH f AS (
          SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []
                      ELSE string_split_regex(trim(coalesce(text, '')), '\s+')
                 END AS w,
                 string_split(coalesce(text, ''), chr(10)) AS lines,
                 coalesce(text, '') AS t
          FROM documents
        ), m AS (
          SELECT doc_id,
                 len(w) AS n_words,
                 list_sum(list_transform(w, x -> length(x)))
                   / nullif(CAST(len(w) AS DOUBLE), 0.0) AS mean_len,
                 (len(regexp_extract_all(t, '#'))
                  + len(regexp_extract_all(t, '\.\.\.'))
                  + len(regexp_extract_all(t, '…')))
                   / nullif(CAST(len(w) AS DOUBLE), 0.0) AS sym_ratio,
                 len(list_filter(lines, l -> regexp_matches(ltrim(l),
                   '^([-*•‣▪])')))
                   / nullif(CAST(len(lines) AS DOUBLE), 0.0) AS bullet_frac,
                 len(list_filter(lines, l -> regexp_matches(rtrim(l),
                   '(\.\.\.|…)$')))
                   / nullif(CAST(len(lines) AS DOUBLE), 0.0) AS ell_frac,
                 len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                   / nullif(CAST(len(w) AS DOUBLE), 0.0) AS alpha_frac,
                 (CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'the') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'be') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'to') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'of') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'and') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'that') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'have') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'with') THEN 1 ELSE 0 END)
                   AS stop_hits
          FROM f
        )
        SELECT doc_id,
               coalesce(n_words >= 30 AND n_words <= 100000, FALSE),
               coalesce(mean_len >= 2.0 AND mean_len <= 12.0, FALSE),
               coalesce(sym_ratio <= 0.05, FALSE),
               coalesce(bullet_frac <= 0.9, FALSE),
               coalesce(ell_frac <= 0.3, FALSE),
               coalesce(alpha_frac >= 0.7, FALSE),
               coalesce(stop_hits >= 1, FALSE),
               coalesce(n_words >= 30 AND n_words <= 100000, FALSE)
                 AND coalesce(mean_len >= 2.0 AND mean_len <= 12.0, FALSE)
                 AND coalesce(sym_ratio <= 0.05, FALSE)
                 AND coalesce(bullet_frac <= 0.9, FALSE)
                 AND coalesce(ell_frac <= 0.3, FALSE)
                 AND coalesce(alpha_frac >= 0.7, FALSE)
                 AND coalesce(stop_hits >= 1, FALSE)
        FROM m
        """).fetchall()
    }
    assert got == want
    # both outcomes occur (the twin is not vacuous)
    keeps = {v[-1] for v in got.values()}
    assert keeps == {True, False}, keeps


def test_gopher_rules_planted_violations(spark):
    """Each rule trips on a document constructed to violate exactly it."""
    from global_market_index_etl_spark.operators.text import (
        gopher_quality_rules,
    )

    good = "the quick brown fox likes to jump over logs and naps with " \
           "friends that have seen many fine days " * 3
    rows = [
        (0, good),
        (1, "too short"),                                   # word count
        (2, " ".join(["a"] * 60)),                          # mean word len low
        (3, good + " ### ... … ### ... … ### ... … ### ..."),  # symbols
        (4, "\n".join("- bullet point item here" for _ in range(10))),
        (5, "\n".join("this line trails off..." for _ in range(10))),
        (6, good + " " + " ".join(["12345"] * 60)),         # alpha fraction
        (7, " ".join(["zork"] * 80)),                       # no stop words
        (8, None),                                          # null text
        # hyphen-bound fragments are NOT stop-word tokens (round-10
        # advice): \b-regex over raw text would count 'the'/'to' here
        (9, " ".join(["state-of-the-art to-do lists"] * 20)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_quality_rules(df).collect()}
    assert got[0].gopher_keep
    assert not got[1].rule_word_count
    assert not got[2].rule_mean_word_len
    assert not got[3].rule_symbol_ratio
    assert not got[4].rule_bullet_lines
    assert not got[5].rule_ellipsis_lines
    assert not got[6].rule_alpha_words
    assert not got[7].rule_stop_words
    assert not got[8].gopher_keep and not got[8].rule_word_count
    assert not got[9].rule_stop_words
    for i in range(1, 10):
        assert not got[i].gopher_keep, i


# ---------------------------------------------------------------------------
# DSIR importance resampling (operators/sampling.dsir_select)
# ---------------------------------------------------------------------------


def _dsir_python_twin(rows, target_ids, k, n_buckets=512, noise=True):
    """Pure-python DSIR: same featurization, smoothing, nano-rounding,
    Gumbel perturbation, and tie-break as the Spark operator."""
    import hashlib
    import math
    import re
    from collections import Counter

    def feats(text):
        t = (
            re.split(r"\s+", text.strip().lower())
            if text and text.strip()
            else []
        )
        f = list(t) + [a + "\x01" + b for a, b in zip(t, t[1:])]
        return Counter(
            int(hashlib.md5(x.encode()).hexdigest()[:8], 16) % n_buckets
            for x in f
        )

    raw, tgt, per = Counter(), Counter(), {}
    for doc_id, text in rows:
        c = feats(text)
        per[doc_id] = c
        raw.update(c)
        if doc_id in target_ids:
            tgt.update(c)
    rn, tn, b = sum(raw.values()), sum(tgt.values()), float(n_buckets)
    lam = {
        bk: round(
            (
                math.log((tgt.get(bk, 0) + 1.0) / (tn + b))
                - math.log((raw[bk] + 1.0) / (rn + b))
            )
            * 1e9
        )
        for bk in raw
    }

    def gumbel(i):
        u = (
            int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16) + 0.5
        ) / float(1 << 52)
        return round(-math.log(-math.log(u)) * 1e9)

    out = {}
    for i, c in per.items():
        if not c:
            continue
        w = sum(n * lam[bk] for bk, n in c.items())
        key = w + gumbel(i) if noise else w
        out[i] = (sum(c.values()), w, key)
    top = sorted(
        out,
        key=lambda i: (
            -out[i][2],
            hashlib.md5(str(i).encode()).hexdigest(),
            i,
        ),
    )[:k]
    return {i: out[i] for i in top}


def test_dsir_select_matches_python_twin(spark, docs):
    """End-to-end exactness: the Spark selection (ids AND every integer
    column) equals the pure-python reference on the fixture corpus."""
    from global_market_index_etl_spark.operators.sampling import dsir_select

    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    en = {r.doc_id for r in docs.filter(F.col("lang") == "en").collect()}
    expected = _dsir_python_twin(rows, en, 15, n_buckets=512)

    got = {
        r.doc_id: (r.n_feat, r.w_nano, r.key_nano)
        for r in dsir_select(
            docs, F.col("lang") == "en", 15, n_buckets=512
        ).collect()
    }
    assert got == expected


def test_dsir_target_dataframe_form_matches_predicate_form(spark, docs):
    """The external-target-corpus form (two DataFrames) and the in-corpus
    predicate form compute the identical selection when the target
    DataFrame IS the predicate's slice."""
    from global_market_index_etl_spark.operators.sampling import dsir_select

    via_pred = dsir_select(
        docs, F.col("lang") == "en", 12, n_buckets=512
    ).collect()
    via_df = dsir_select(
        docs, docs.filter(F.col("lang") == "en"), 12, n_buckets=512
    ).collect()
    assert sorted(map(tuple, via_pred)) == sorted(map(tuple, via_df))


def test_dsir_reliable_checkpoint_dir_matches_local_path(spark, docs, tmp_path):
    """checkpoint_dir switches the feature-table materialization from
    localCheckpoint (executor-loss fatal at cluster scale) to a RELIABLE
    checkpoint under the given fault-tolerant directory (round-10 verdict
    item 7): the selection is bit-identical either way, and the reliable
    run actually writes RDD checkpoint data under the directory."""
    import os

    from global_market_index_etl_spark.operators.sampling import dsir_select

    ckpt = str(tmp_path / "dsir_ckpt")
    default = dsir_select(
        docs, F.col("lang") == "en", 12, n_buckets=512
    ).collect()
    reliable = dsir_select(
        docs,
        F.col("lang") == "en",
        12,
        n_buckets=512,
        checkpoint_dir=ckpt,
    ).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, reliable))
    written = [
        os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "reliable checkpoint wrote nothing under checkpoint_dir"


def test_cc_auto_reliable_checkpoint_dir_matches_local_path(
    spark, docs, tmp_path
):
    """Same dial on the clustering pair-set materialization: identical
    components, checkpoint data on the fault-tolerant path."""
    import os

    from global_market_index_etl_spark.operators.dedup import (
        connected_components_auto,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.8)
    ckpt = str(tmp_path / "cc_ckpt")
    default = connected_components_auto(pairs, docs, "doc_id").collect()
    reliable = connected_components_auto(
        pairs, docs, "doc_id", checkpoint_dir=ckpt
    ).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, reliable))
    written = [
        os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "reliable checkpoint wrote nothing under checkpoint_dir"


def test_dsir_selection_skews_toward_target(spark, docs):
    """The operator's point: the selected set over-represents the target
    distribution. On the fixture corpus the English share must strictly
    increase vs the raw corpus share (it roughly doubles)."""
    from global_market_index_etl_spark.operators.sampling import dsir_select

    n = docs.count()
    n_en = docs.filter(F.col("lang") == "en").count()
    sel = dsir_select(docs, F.col("lang") == "en", max(n // 4, 5))
    sel_en = (
        sel.join(docs.select("doc_id", "lang"), "doc_id")
        .filter(F.col("lang") == "en")
        .count()
    )
    assert sel_en / sel.count() > n_en / n


def test_dsir_greedy_mode_orders_by_weight(spark, docs):
    """noise=False: key_nano == w_nano and the selection is the top-k by
    weight — the cut is reproducible without the Gumbel perturbation."""
    from global_market_index_etl_spark.operators.sampling import dsir_select

    sel = dsir_select(
        docs, F.col("lang") == "en", 10, n_buckets=512, noise=False
    ).collect()
    assert all(r.key_nano == r.w_nano for r in sel)
    all_w = dsir_select(
        docs, F.col("lang") == "en", 10**6, n_buckets=512, noise=False
    ).collect()
    top10 = sorted(all_w, key=lambda r: -r.w_nano)[:10]
    assert sorted(r.w_nano for r in sel) == sorted(r.w_nano for r in top10)


def test_dsir_validation_and_unscorable_docs(spark):
    """k/n_buckets bounds raise; empty-text docs never appear in the
    output (no features — explicitly unscorable)."""
    from global_market_index_etl_spark.operators.sampling import (
        dsir_ngram_features,
        dsir_select,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "   "), (3, "")],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="k must be"):
        dsir_select(df, F.lit(True), 0)
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_ngram_features(df, n_buckets=1)
    sel = dsir_select(df, F.lit(True), 10, n_buckets=64).collect()
    assert [r.doc_id for r in sel] == [1]
    # 3 unigrams + 2 bigrams
    assert sel[0].n_feat == 5


def test_hll_estimate_within_error_bound(spark):
    """Portable-HLL accuracy: grouped estimates within 4 standard errors
    of exact distincts (rsd = 1.04/sqrt(1024) ≈ 3.25% at p=10), and the
    small-range linear-counting regime is exercised by the fixture's
    per-type cardinalities."""
    import pyspark.sql.functions as F

    from global_market_index_etl_spark.operators.terms import (
        hll_estimate,
        hll_registers,
    )

    ev = load_table(spark, SF_SMALL, "events")
    regs = hll_registers(ev, "user_id", p=10, group_cols=["event_type"])
    est = {
        r.event_type: r.approx_distinct
        for r in hll_estimate(regs, group_cols=["event_type"]).collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for et, x in exact.items():
        assert abs(est[et] - x) <= max(4 * 0.0325 * x, 3), (et, est[et], x)


def test_hll_merge_equals_full_corpus_registers(spark):
    """Mergeability — the property that makes HLL maintainable over
    shards/ticks: registers(a ∪ b) ≡ elementwise-max merge of the two
    shard register tables, exactly."""
    import pyspark.sql.functions as F

    from global_market_index_etl_spark.operators.terms import (
        hll_merge,
        hll_registers,
    )

    ev = load_table(spark, SF_SMALL, "events")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    merged = hll_merge(
        hll_registers(a, "user_id", p=8, group_cols=["event_type"]),
        hll_registers(b, "user_id", p=8, group_cols=["event_type"]),
    )
    full = hll_registers(ev, "user_id", p=8, group_cols=["event_type"])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_hll_estimate_rejects_dimension_drift(spark):
    """The count-min dimension discipline applies to HLL precision too:
    a mismatched explicit p, or registers mixing two precisions, must
    raise instead of silently mis-scaling the estimate; empty registers
    need an explicit p."""
    import pytest as _pytest

    from global_market_index_etl_spark.operators.terms import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    ev = load_table(spark, SF_SMALL, "events")
    regs = hll_registers(ev, "user_id", p=8)
    with _pytest.raises(ValueError, match="does not match"):
        hll_estimate(regs, p=10)
    mixed = regs.unionByName(hll_registers(ev, "user_id", p=9))
    with _pytest.raises(ValueError, match="mix precisions"):
        hll_estimate(mixed)
    empty = regs.limit(0)
    with _pytest.raises(ValueError, match="carry no p"):
        hll_estimate(empty)
    # explicit p on empty UNGROUPED registers: the global aggregate emits
    # one row and linear counting (V = m) gives exactly 0 distinct
    rows = hll_estimate(empty, p=8).collect()
    assert [r.approx_distinct for r in rows] == [0]
    with _pytest.raises(ValueError, match="4 <= p <= 18"):
        hll_registers(ev, "user_id", p=3)
    with _pytest.raises(ValueError, match="at least one"):
        hll_merge()


def test_hll_ignores_null_keys(spark):
    """NULL keys are not a distinct value (count_distinct semantics):
    registers and estimate must be identical with and without NULL rows,
    and an all-NULL corpus estimates 0."""
    from global_market_index_etl_spark.operators.terms import (
        hll_estimate,
        hll_registers,
    )

    with_nulls = spark.createDataFrame(
        [(1,), (2,), (None,), (2,), (None,)], "k long"
    )
    without = with_nulls.filter("k IS NOT NULL")
    a = sorted(map(tuple, hll_registers(with_nulls, "k", p=6).collect()))
    b = sorted(map(tuple, hll_registers(without, "k", p=6).collect()))
    assert a == b
    only_nulls = with_nulls.filter("k IS NULL")
    est = hll_estimate(hll_registers(only_nulls, "k", p=6), p=6).collect()
    assert [r.approx_distinct for r in est] == [0]


# --------------------------------------------------------------------- #
# Bloom filter (round 15 — the membership member of the sketch family)
# --------------------------------------------------------------------- #


def _bloom_python_bits(keys, m_bits, k_hashes):
    """Pure-python twin of bloom_registers' packed-word table."""
    import hashlib

    words: dict[int, int] = {}
    for key in keys:
        for j in range(k_hashes):
            h = int(
                hashlib.md5(f"{j}:{key}".encode()).hexdigest()[:15], 16
            )
            pos = h % m_bits
            words[pos // 32] = words.get(pos // 32, 0) | (1 << (pos % 32))
    return words


def test_bloom_registers_match_python_reference(spark):
    """The packed-word table is a pure function of the key multiset —
    a pure-python md5 twin must reproduce it exactly (the portability
    contract the DuckDB oracle also checks, here with no SQL engine
    involved)."""
    from global_market_index_etl_spark.operators.terms import (
        bloom_registers,
    )

    keys = [f"key-{i}" for i in range(97)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r.word_idx: r.bits
        for r in bloom_registers(df, "k", m_bits=1024, k_hashes=4).collect()
    }
    assert got == _bloom_python_bits(keys, 1024, 4)


def test_bloom_merge_equals_full_and_no_false_negatives(spark):
    """registers(a ∪ b) ≡ merge(registers(a), registers(b)) — the
    OR-additivity that makes the filter shard/stream-maintainable — and
    every inserted key must probe TRUE (no false negatives, the Bloom
    contract), while a disjoint probe set at 10 bits/key stays mostly
    FALSE (sanity that the filter isn't saturated)."""
    from global_market_index_etl_spark.operators.terms import (
        bloom_contains,
        bloom_merge,
        bloom_registers,
    )

    a = spark.createDataFrame(
        [(f"member-{i}",) for i in range(60)], "k string"
    )
    b = spark.createDataFrame(
        [(f"member-{i}",) for i in range(60, 120)], "k string"
    )
    full = bloom_registers(a.unionByName(b), "k", m_bits=1280, k_hashes=3)
    merged = bloom_merge(
        bloom_registers(a, "k", m_bits=1280, k_hashes=3),
        bloom_registers(b, "k", m_bits=1280, k_hashes=3),
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, merged.collect())
    )
    probes = spark.createDataFrame(
        [(i, f"member-{i}") for i in range(120)]
        + [(1000 + i, f"absent-{i}") for i in range(120)],
        "pid long, k string",
    )
    got = {
        r.pid: r.bloom_hit
        for r in bloom_contains(
            full, probes, "k", id_cols=["pid"], m_bits=1280, k_hashes=3
        ).collect()
    }
    assert all(got[i] for i in range(120)), "false negative — impossible"
    fp = sum(1 for i in range(120) if got[1000 + i])
    assert fp < 30, f"implausible false-positive count {fp} at ~10 bits/key"


def test_bloom_contains_refuses_dimension_mismatch(spark):
    """Probing with the wrong declared (m_bits, k_hashes) would silently
    compute wrong positions — the stamped columns are validated in-plan
    and a mismatch raises (the count-min / langid prefix_chars
    discipline). Constructor bounds are enforced too."""
    import pytest as _pytest

    from global_market_index_etl_spark.operators.terms import (
        bloom_contains,
        bloom_registers,
    )

    df = spark.createDataFrame([("x",), ("y",)], "k string")
    filt = bloom_registers(df, "k", m_bits=1024, k_hashes=4)
    probes = spark.createDataFrame([(1, "x")], "pid long, k string")
    with _pytest.raises(Exception, match="dimensions do not match"):
        bloom_contains(
            filt, probes, "k", id_cols=["pid"], m_bits=2048, k_hashes=4
        ).collect()
    with _pytest.raises(ValueError, match="m_bits"):
        bloom_registers(df, "k", m_bits=100, k_hashes=4)
    with _pytest.raises(ValueError, match="k_hashes"):
        bloom_registers(df, "k", m_bits=1024, k_hashes=0)


def test_bloom_prefilter_scan_speed_and_result_identity(spark):
    """bloom_prefilter must (a) never shuffle the probe side — k
    broadcast word-lookups only, no hash-partitioning exchange, no
    sort-merge join — and (b) drop ONLY definitely-absent rows, so an
    exact membership check composed after it returns the IDENTICAL
    result, even under a deliberately saturated tiny filter (every
    probe passes) and with NULL keys passing through."""
    import pytest as _pytest

    from global_market_index_etl_spark.operators.terms import (
        bloom_prefilter,
        bloom_registers,
    )

    members = spark.createDataFrame(
        [(f"m-{i}",) for i in range(40)], "k string"
    )
    probes = spark.createDataFrame(
        [(i, f"m-{i}") for i in range(40)]
        + [(100 + i, f"x-{i}") for i in range(200)]
        + [(999, None)],
        "pid long, k string",
    )
    filt = bloom_registers(members, "k", m_bits=2048, k_hashes=3)
    pre = bloom_prefilter(filt, probes, "k", m_bits=2048, k_hashes=3)

    plan = pre._jdf.queryExecution().executedPlan().toString()
    # probe side unshuffled: every one of the k word-lookups is a
    # broadcast join (the only hashpartitioning exchanges in the plan
    # belong to the filter BUILD side — bloom_registers' bit_or
    # aggregate, bounded at m_bits/32 rows)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 3

    exact_direct = sorted(
        r.pid
        for r in probes.join(members, "k", "left_semi").collect()
    )
    exact_composed = sorted(
        r.pid for r in pre.join(members, "k", "left_semi").collect()
    )
    assert exact_composed == exact_direct
    kept = {r.pid for r in pre.collect()}
    assert set(range(40)) <= kept  # no false negatives
    assert 999 in kept  # NULL key passes through
    # saturated filter (64 bits for 40 keys x 3 hashes): everything
    # passes, composition still exact
    sat = bloom_registers(members, "k", m_bits=64, k_hashes=3)
    pre_sat = bloom_prefilter(sat, probes, "k", m_bits=64, k_hashes=3)
    assert sorted(
        r.pid for r in pre_sat.join(members, "k", "left_semi").collect()
    ) == exact_direct
    # dimension guard (the bloom_contains discipline)
    with _pytest.raises(Exception, match="dimensions do not match"):
        bloom_prefilter(filt, probes, "k", m_bits=64, k_hashes=3).collect()


def test_contamination_hits_bloom_equals_exact(spark):
    """The Bloom-prefiltered decontamination path must return the
    IDENTICAL (doc_id, n_hits) report as the broadcast-exact path — on
    the fixture corpus and under a saturated 256-bit filter (FP-heavy:
    the exact join behind the prefilter is what guarantees identity)."""
    from global_market_index_etl_spark.operators.decontaminate import (
        contamination_hits,
        contamination_hits_bloom,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    corpus = docs.filter("doc_id % 17 <> 0")
    eval_df = docs.filter("doc_id % 17 = 0")
    want = sorted(
        map(tuple, contamination_hits(corpus, eval_df, min_hits=1).collect())
    )
    got = sorted(
        map(
            tuple,
            contamination_hits_bloom(corpus, eval_df, min_hits=1).collect(),
        )
    )
    assert got == want
    got_sat = sorted(
        map(
            tuple,
            contamination_hits_bloom(
                corpus, eval_df, min_hits=1, m_bits=256, k_hashes=2
            ).collect(),
        )
    )
    assert got_sat == want


def test_bloom_ignores_null_keys_and_bounds_rows(spark):
    """NULL keys are not members (the hll_registers rule), and the
    register table is bounded by m_bits/32 occupied words regardless of
    key count."""
    from global_market_index_etl_spark.operators.terms import (
        bloom_registers,
    )

    with_nulls = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,)], "k string"
    )
    without = with_nulls.filter("k IS NOT NULL")
    a = sorted(
        map(tuple, bloom_registers(with_nulls, "k", m_bits=256).collect())
    )
    b = sorted(
        map(tuple, bloom_registers(without, "k", m_bits=256).collect())
    )
    assert a == b
    many = spark.createDataFrame(
        [(f"k{i}",) for i in range(5000)], "k string"
    )
    n = bloom_registers(many, "k", m_bits=256, k_hashes=3).count()
    assert n <= 256 // 32


# --------------------------------------------------------------------- #
# langid training (round 13 — the 'trained table drops in' contract)
# --------------------------------------------------------------------- #


def _langid_corpus(spark, n_per_lang=12, start=0):
    """Synthetic labeled corpus with genuinely distinct char statistics:
    deterministic, no RNG."""
    langs = {
        "en": "the quick brown fox jumps over the lazy dog and runs with it",
        "fr": "le renard brun saute par dessus le chien très paresseux où",
        "de": "der schnelle braune fuchs springt über den faulen hund größe",
    }
    rows = []
    i = start
    for lang, base in langs.items():
        words = base.split()
        for k in range(n_per_lang):
            # rotate word order so documents differ but keep the char stats
            rot = words[k % len(words):] + words[: k % len(words)]
            rows.append((i, " ".join(rot * 3), lang))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_langid_train_weights_classify_heldout(spark):
    """Weights trained on a labeled corpus drop into langid_hashed_ngram
    (the documented contract) and classify held-out same-language docs
    perfectly on this separable fixture — where the md5-derived default
    weights are language-agnostic noise and cannot."""
    from global_market_index_etl_spark.operators.text import (
        langid_hashed_ngram,
        langid_train,
    )

    train = _langid_corpus(spark, n_per_lang=12, start=0)
    model = langid_train(train)
    assert model.columns == [
        "bucket", "w_de", "w_en", "w_fr", "prefix_chars"
    ]

    heldout = _langid_corpus(spark, n_per_lang=5, start=1000)
    scored = langid_hashed_ngram(heldout, weights=model).collect()
    assert len(scored) == 15
    assert all(r.label_match for r in scored), [
        (r.lang, r.pred_lang) for r in scored if not r.label_match
    ]

    # the untrained md5 default is noise on the same task — training is
    # what carries the signal, not the architecture alone
    default = langid_hashed_ngram(
        heldout, langs=["de", "en", "fr"]
    ).collect()
    assert sum(r.label_match for r in default) < len(default)


def test_langid_train_deterministic_under_partitioning(spark):
    """Counts are exact integers and the log happens once per model cell,
    so the trained table is identical under any input partitioning."""
    from global_market_index_etl_spark.operators.text import langid_train

    corpus = _langid_corpus(spark)
    a = sorted(map(tuple, langid_train(corpus).collect()))
    b = sorted(map(tuple, langid_train(corpus.repartition(17)).collect()))
    assert a == b


def test_langid_train_validation_and_label_scoping(spark):
    """langs scoping drops foreign labels from training; empty label sets
    and bad weights tables fail loudly."""
    import pytest as _pytest

    from global_market_index_etl_spark.operators.text import (
        langid_hashed_ngram,
        langid_train,
    )

    corpus = _langid_corpus(spark)
    model = langid_train(corpus, langs=["en", "fr"])
    assert model.columns == ["bucket", "w_en", "w_fr", "prefix_chars"]

    with _pytest.raises(ValueError, match="no labels"):
        langid_train(corpus.where("lang IS NULL"))

    # the prefix_chars stamp (advice fix): scoring with a different
    # prefix sample than training is refused, not silently degraded
    with _pytest.raises(ValueError, match="prefix_chars"):
        langid_hashed_ngram(corpus, weights=model, prefix_chars=64)

    bad = corpus.sparkSession.createDataFrame([(0, 1)], "bucket int, x long")
    with _pytest.raises(ValueError, match="w_<lang>"):
        langid_hashed_ngram(corpus, weights=bad)


# --------------------------------------------------------------------- #
# portable quantile histogram (round 13)
# --------------------------------------------------------------------- #


def _qh_values(spark):
    """Mixed-sign, long-tailed, duplicate-heavy values incl. zero."""
    vals = (
        [0.0, 0.0, -0.25, 1e-7]
        + [float(i) * 1.37 for i in range(1, 200)]
        + [-float(2**i) * 0.61 for i in range(1, 12)]
        + [123456.789] * 5
    )
    return spark.createDataFrame(
        [(i % 3, v) for i, v in enumerate(vals)], "g int, v double"
    )


def test_quantile_histogram_error_bound_and_signs(spark):
    """The estimate's relative error is a GUARANTEE (≤ 2^-(bits+1) of
    the true quantile, + fixed-point quantization) — checked against the
    exact percentile for every prob, per group, signs included."""
    from global_market_index_etl_spark.operators.terms import (
        quantile_buckets,
        quantile_estimate,
    )

    df = _qh_values(spark)
    bits, scale_bits = 6, 20
    probs = [0.0, 0.01, 0.25, 0.5, 0.9, 0.99, 1.0]
    hist = quantile_buckets(
        df, "v", group_cols=["g"], bits=bits, scale_bits=scale_bits
    )
    est = {
        (r.g, r.p): r.approx_value
        for r in quantile_estimate(hist, probs, group_cols=["g"]).collect()
    }
    import math

    rows = df.collect()
    for g in (0, 1, 2):
        vals = sorted(r.v for r in rows if r.g == g)
        for p in probs:
            exact = vals[max(0, math.ceil(p * len(vals)) - 1)]
            got = est[(g, p)]
            tol = abs(exact) * 2 ** -(bits + 1) + 2 ** -(scale_bits - 1)
            assert abs(got - exact) <= tol, (g, p, exact, got, tol)


def test_quantile_histogram_merge_is_exact_union(spark):
    """merge(shard histograms) ≡ histogram(union) — counts are additive,
    so sharded / streaming construction composes exactly."""
    from global_market_index_etl_spark.operators.terms import (
        quantile_buckets,
        quantile_histogram_merge,
    )

    df = _qh_values(spark)
    full = sorted(
        map(tuple, quantile_buckets(df, "v", group_cols=["g"]).collect())
    )
    a = quantile_buckets(df.where("v < 10"), "v", group_cols=["g"])
    b = quantile_buckets(df.where("v >= 10"), "v", group_cols=["g"])
    merged = sorted(map(tuple, quantile_histogram_merge(a, b).collect()))
    assert merged == full


def test_quantile_histogram_refuses_mixed_grids(spark):
    import pytest as _pytest

    from global_market_index_etl_spark.operators.terms import (
        quantile_buckets,
        quantile_estimate,
        quantile_histogram_merge,
    )

    df = _qh_values(spark)
    a = quantile_buckets(df, "v", bits=6)
    b = quantile_buckets(df, "v", bits=7)
    with _pytest.raises(ValueError, match="mixed grids"):
        quantile_histogram_merge(a, b).collect()
    with _pytest.raises(ValueError, match="mixed grids"):
        quantile_estimate(a.unionByName(b), [0.5])


def test_quantile_histogram_domain_guards(spark):
    """Advice fixes: an empty probs list fails at the API boundary
    instead of returning a silent None, and a value past the BIGINT
    fixed-point lane RAISES instead of saturating into a wrong bucket
    (where Spark's non-ANSI clamp and DuckDB's erroring CAST would
    silently diverge)."""
    import pytest as _pytest

    from global_market_index_etl_spark.operators.terms import (
        quantile_buckets,
        quantile_estimate,
    )

    df = _qh_values(spark)
    hist = quantile_buckets(df, "v")
    with _pytest.raises(ValueError, match="non-empty"):
        quantile_estimate(hist, [])

    scale_bits = 20
    over = float(2 ** (63 - scale_bits))  # q = |v|*2^20 = 2^63 > 2^62
    bad = spark.createDataFrame([(1.0,), (over,)], "v double")
    with _pytest.raises(Exception, match="BIGINT lane"):
        quantile_buckets(bad, "v", scale_bits=scale_bits).collect()
    # NaN raises too (r14 advice item 2): NaN >= 2^62 is FALSE, so
    # without a dedicated isnan arm it would fall through to Spark's
    # non-ANSI double→bigint cast (0 — silently bucketed) while
    # DuckDB's CAST errors — the quiet-on-one-engine divergence the
    # guard exists to eliminate.
    nan_df = spark.createDataFrame([(1.0,), (float("nan"),)], "v double")
    with _pytest.raises(Exception, match="NaN"):
        quantile_buckets(nan_df, "v", scale_bits=scale_bits).collect()
    # in-domain values near the boundary still bucket fine
    ok = spark.createDataFrame(
        [(float(2 ** (61 - scale_bits)),)], "v double"
    )
    assert quantile_buckets(ok, "v", scale_bits=scale_bits).count() == 1


def test_quantile_histogram_portable_duckdb_twin(spark):
    """The histogram is ENGINE-CHECKABLE: DuckDB rebuilds the identical
    (g, bucket, cnt) table from the same rows with the same integer
    arithmetic — the hll_registers portability contract for quantiles."""
    import duckdb

    from global_market_index_etl_spark.operators.terms import (
        quantile_buckets,
    )

    df = _qh_values(spark)
    bits, scale_bits = 6, 20
    got = sorted(
        map(
            tuple,
            quantile_buckets(
                df, "v", group_cols=["g"], bits=bits, scale_bits=scale_bits
            ).select("g", "bucket", "cnt").collect(),
        )
    )
    pdf = df.toPandas()  # noqa: F841 — registered below
    con = duckdb.connect()
    con.register("t", pdf)
    twin = con.execute(
        f"""
        WITH q AS (
          SELECT g, CASE WHEN v < 0 THEN -1 ELSE 1 END AS sign,
                 CAST(round(abs(v) * {1 << scale_bits}) AS BIGINT) AS q
          FROM t WHERE v IS NOT NULL
        ), s AS (
          SELECT g, sign, q,
                 greatest(length(bin(q)) - {bits + 1}, 0) AS shift
          FROM q
        ), b AS (
          SELECT g,
                 CASE WHEN q = 0 THEN 0
                      ELSE sign * ((q >> shift) + shift * {1 << bits})
                 END AS bucket
          FROM s
        )
        SELECT g, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY 1, 2
        """
    ).fetchall()
    assert got == sorted(twin)


def test_quantile_histogram_state_is_sketch_sized(spark):
    """10k distinct values collapse into the bounded bucket space — the
    whole point at 100 TB: quantiles without shuffling the value space."""
    from global_market_index_etl_spark.operators.terms import (
        quantile_buckets,
    )

    df = spark.range(10_000).selectExpr("CAST(id AS DOUBLE) * 1.7 AS v")
    hist = quantile_buckets(df, "v", bits=6)
    n_buckets = hist.count()
    assert n_buckets < 2 ** 7 + 62 * 2 ** 6  # the documented cap
    assert hist.agg(F.sum("cnt")).first()[0] == 10_000


def test_quantile_histogram_empty_inputs_are_empty_not_errors(spark):
    """Code-review fix: an EMPTY histogram (streaming state before the
    first commit) estimates/merges to empty — not a 'mixed grids' error."""
    from global_market_index_etl_spark.operators.terms import (
        quantile_buckets,
        quantile_estimate,
        quantile_histogram_merge,
    )

    empty = spark.createDataFrame(
        [], "g int, bucket bigint, cnt bigint, bits int, scale_bits int"
    )
    est = quantile_estimate(empty, [0.5], group_cols=["g"])
    assert est.count() == 0
    assert est.columns == ["g", "p", "approx_value"]
    assert quantile_histogram_merge(empty, empty).count() == 0
    # an empty shard merged with a real one is the real one
    real = quantile_buckets(_qh_values(spark), "v", group_cols=["g"])
    merged = sorted(
        map(
            tuple,
            quantile_histogram_merge(
                empty.select(*real.columns), real
            ).collect(),
        )
    )
    assert merged == sorted(map(tuple, real.collect()))


def test_quantile_exact_buckets_decode_exactly(spark):
    """Code-review fix: shift-0 buckets hold ONE fixed-point integer and
    must decode to it — the quantization term stays ≤ 2^-(scale_bits+1)
    as documented, not 2^-scale_bits."""
    from global_market_index_etl_spark.operators.terms import (
        quantile_buckets,
        quantile_estimate,
    )

    scale_bits = 10
    # values exactly on the fixed-point grid: decode must be EXACT
    vals = [3.0 / (1 << scale_bits), 17.0 / (1 << scale_bits), 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    hist = quantile_buckets(df, "v", bits=6, scale_bits=scale_bits)
    est = {
        r.p: r.approx_value
        for r in quantile_estimate(hist, [0.0, 0.5, 1.0]).collect()
    }
    assert est[0.0] == 0.0
    assert est[0.5] == 3.0 / (1 << scale_bits)
    assert est[1.0] == 17.0 / (1 << scale_bits)


def test_langid_scorer_rejects_non_dense_weights(spark):
    """Code-review fix: the hash modulus is the trained grid, so a
    filtered/compacted weights table (holes in 0..n-1) must be rejected —
    counting rows would silently re-bucket features."""
    import pytest as _pytest

    from global_market_index_etl_spark.operators.text import (
        langid_hashed_ngram,
        langid_train,
    )

    corpus = _langid_corpus(spark)
    model = langid_train(corpus)
    holey = model.where("bucket <> 7")
    with _pytest.raises(ValueError, match="dense 0..n-1"):
        langid_hashed_ngram(corpus, weights=holey)


def test_unicode_normalize_nfc_matches_duckdb_and_unifies_fingerprints(spark):
    """NFC normalization (round 13): composed and combining-accent forms
    of the same text fingerprint identically AFTER normalization (and
    differently before — the gap the operator closes), and the result
    matches DuckDB's nfc_normalize byte-for-byte."""
    import duckdb
    import pytest as _pytest

    from global_market_index_etl_spark.operators.text import (
        fingerprint_md5,
        unicode_normalize,
    )

    composed = "école déjà vu"                       # U+00E9 etc.
    combining = "école déjà vu"    # e + U+0301 ...
    df = spark.createDataFrame(
        [(1, composed), (2, combining), (3, None), (4, "plain ascii")],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        unicode_normalize("text").alias("norm"),
        fingerprint_md5(unicode_normalize("text")).alias("fp_norm"),
        fingerprint_md5("text").alias("fp_raw"),
    ).collect()
    rows = {r.doc_id: r for r in out}
    assert rows[1].fp_raw != rows[2].fp_raw       # bytes differ pre-NFC
    assert rows[1].fp_norm == rows[2].fp_norm     # same document post-NFC
    assert rows[1].norm == rows[2].norm == composed
    assert rows[3].norm is None and rows[3].fp_norm is None
    assert rows[4].norm == "plain ascii"

    con = duckdb.connect()
    for doc_id, text in ((1, composed), (2, combining)):
        twin = con.execute(
            "SELECT nfc_normalize(?)", [text]
        ).fetchone()[0]
        assert rows[doc_id].norm == twin

    with _pytest.raises(ValueError, match="normalization form"):
        unicode_normalize("text", form="NFX")
