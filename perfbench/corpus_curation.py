"""corpus_curation: back-to-back curation jobs on corpora never seen before.

Each job runs the registry's ``curation_pipeline_v2`` row (quality
classifier, duplicate-span removal, exact dedup, split) into a ``noop`` sink
over a fresh seeded corpus. Fresh corpora keep ``materialize_shared`` from
turning a timed job into a warm read, and a run cycles through more corpora
than its LRU holds, so cache pressure and eviction are part of what is
measured. The other curation operators (``quality_score``, MinHash LSH,
connected components) are timed one by one in the traced run.
"""

from __future__ import annotations

import hashlib
import os
import time
import traceback

import duckdb

import inputs
from global_market_index_etl_spark.operators.dedup import (
    connected_components_auto,
    minhash_lsh_pairs,
)
from global_market_index_etl_spark.operators.sampling import train_val_test_split
from global_market_index_etl_spark.operators.spans import remove_duplicate_spans
from global_market_index_etl_spark.operators.text import (
    model_quality_classifier,
    quality_score,
)
from global_market_index_etl_spark.plans import REGISTRY
from harness import median, persisted_rdds

# ``curation_pipeline`` and ``dedup_minhash_lsh`` were part of the job too,
# but their ~5 s per job (54 Spark jobs between them) barely shrinks as the
# JVM warms up: two or three jobs fit a run, and runs spread by 20-30 %.
ROWS = ["curation_pipeline_v2"]
CHECKED_ROW = "curation_pipeline_v2"
PRESET_CORPORA = 4  # generated during set-up; later ones just before their job
FORCED_CORPUS = 9_999  # the corpus the per-operator calls run on
# Job times fall from ~10 s (cold) to ~1.5 s by the fourth job as the JVM
# compiles, and slowly after that (~1.1 s at the twelfth). A fixed count,
# not a flatness test, so every run times the same stretch of that curve.
WARM_UP_JOBS = 12


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CorpusCuration:
    name = "corpus_curation"

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_docs = 400
        self.next_corpus = 0
        self.persisted: list[int] = []

    def _corpus_dir(self, index: int) -> str:
        return os.path.join(self.ctx.work, "corpora", f"c{index}")

    def _corpus(self, index: int) -> str:
        d = self._corpus_dir(index)
        if not os.path.exists(f"{d}/documents.parquet"):
            inputs.write_corpus(d, self.ctx.seed, index, self.n_docs)
        return d

    def setup(self) -> dict:
        self.digests = {}
        for i in range(PRESET_CORPORA):
            with open(f"{self._corpus(i)}/documents.parquet", "rb") as fh:
                self.digests[i] = hashlib.sha256(fh.read()).hexdigest()
        return self.digests

    # ----------------------------------------------------------------- loop

    def _job(self, tracer, op: str) -> float:
        d = self._corpus(self.next_corpus)
        self.next_corpus += 1
        t0 = time.perf_counter()
        with tracer.span("curation_job", op=op):
            for row in ROWS:
                with tracer.span(f"plans.{row}"):
                    _noop(REGISTRY[row].spark(self.ctx.spark, d))
        took = time.perf_counter() - t0
        self.persisted.append(persisted_rdds(self.ctx.sc))
        return took

    def warm_up(self, tracer) -> list[float]:
        return [self._job(tracer, "warm") for _ in range(WARM_UP_JOBS)]

    def measure(self, seconds: float, tracer) -> dict:
        jobs = []
        failed = 0
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            try:
                jobs.append(self._job(tracer, f"job{len(jobs) + failed}"))
            except Exception:
                traceback.print_exc()
                failed += 1
        return {"op_s": jobs, "units": self.n_docs * len(jobs), "loop_s": sum(jobs),
                "failed": failed}

    # --------------------------------------------------------- per layer

    def forced_layers(self, tracer) -> dict[str, float]:
        """The public operators of the registry's curation rows (the timed
        row's and ``curation_pipeline``'s), each forced on its own into a
        ``noop`` sink, on one fresh corpus."""
        spark = self.ctx.spark
        docs = spark.read.parquet(f"{self._corpus(FORCED_CORPUS)}/documents.parquet")
        pairs = minhash_lsh_pairs(docs, n=3, threshold=0.8).select("id_1", "id_2")
        pairs_local = spark.createDataFrame(pairs.collect(), pairs.schema)
        calls = {
            "text.quality_score": lambda: quality_score(docs),
            "text.model_quality_classifier": lambda: model_quality_classifier(docs),
            "spans.remove_duplicate_spans": lambda: remove_duplicate_spans(
                docs.select("doc_id", "text"), doc_id="doc_id", text_col="text", k=8),
            "dedup.minhash_lsh_pairs": lambda: minhash_lsh_pairs(docs, n=3, threshold=0.8),
            "dedup.connected_components_auto": lambda: connected_components_auto(
                pairs_local, docs.select("doc_id"), "doc_id"),
            "sampling.train_val_test_split": lambda: train_val_test_split(docs, "doc_id"),
        }
        out = {}
        for name, build in calls.items():
            with tracer.span(name, op="forced") as s:
                t0 = time.perf_counter()
                _noop(build())
                took = time.perf_counter() - t0
            out[f"{name}_s"] = took
            out[f"{name}_jobs"] = s["jobs"]
            out[f"{name}_tasks"] = s["tasks"]
        return out

    def layer_metrics(self, tracer) -> dict[str, float]:
        out = {"util.persisted_rdds": self.persisted[-1]}
        for row in ROWS:
            calls = tracer.totals(f"plans.{row}")
            out[f"plans.{row}_s"] = median([c["seconds"] for c in calls])
            out[f"plans.{row}_jobs"] = median([c["jobs"] for c in calls])
        return out

    def counts(self, tracer) -> tuple[dict, list[str]]:
        """The set-up corpora, the rows of the checked corpus, and in the
        traced run the jobs, stages and tasks of the first timed job (every
        run reaches it) and of each forced operator call."""
        def key(s):
            if s["op"] == "forced":
                return s["name"]
            return s["name"] if s["op"] == "job0" else None

        spark_counts, problems = tracer.repeat_counts(key)
        return {"corpora": self.digests, "checked_rows": self.checked_rows,
                "spark": spark_counts}, problems

    # ---------------------------------------------------------------- check

    def check(self) -> list[str]:
        """The first corpus of the run (every run reaches it) through
        ``curation_pipeline_v2`` against the registry's DuckDB oracle."""
        d = self._corpus(0)
        got = sorted(tuple(r) for r in REGISTRY[CHECKED_ROW].spark(self.ctx.spark, d)
                     .select("doc_id", "fingerprint", "n_tokens", "n_removed_tokens", "split")
                     .collect())
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
            want = sorted(tuple(r) for r in con.execute(
                f"SELECT doc_id, fingerprint, n_tokens, n_removed_tokens, split "
                f"FROM ({REGISTRY[CHECKED_ROW].oracle})").fetchall())
        finally:
            con.close()
        self.checked_rows = len(got)
        if not got:
            return [f"{CHECKED_ROW} kept no documents of corpus {d}"]
        if got != want:
            return [f"{CHECKED_ROW} differs from its DuckDB oracle: "
                    f"{len(got)} vs {len(want)} rows"]
        return []
