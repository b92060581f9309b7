"""``curate_llm``: one LLM-data curation pass per op over a seeded corpus.

Each pass runs six registry stages over the generated
``documents.parquet`` / ``embeddings.parquet``: text quality (x10),
n-gram Jaccard pairs (x04), embedding near-dup (x14), k-means (x27),
PQ ANN (x32) and semantic dedup (x31). Dedup clusters (x18) and LSH
ANN (x08) are left out to keep a run inside the time budget: a
pass of all eight took 13.3 s warm and 27 s cold. The documents that pass the quality bar and are not the later
member of a near-dup pair are committed with ``to_delta`` (one small
overwrite commit per pass).

Every stage's output is compared with its registry oracle SQL, run once
on DuckDB during set-up. The stages' session caches are cleared between passes so
each pass measures curation, not a cached index.
"""

from __future__ import annotations

import os
import sys

import duckdb
from pyspark.sql import functions as F

import data
import deltafiles
from check_oracle import compare
from core import LLM_STAGES, Op, Workload, probe_reads
from spans import mean

DOCS = 600
VECS = 400
QUALITY_MIN = 0.75
STAGES = {
    "x10": "x10_text_quality",
    "x04": "x04_ngram_jaccard_pairs",
    "x14": "x14_embedding_near_dup",
    "x27": "x27_kmeans",
    "x32": "x32_pq_ann",
    "x31": "x31_semantic_dedup",
}
assert tuple(STAGES) == LLM_STAGES


def survivors(x10, x04) -> list[int]:
    """Doc ids kept by a pass: quality at or above the bar, and not the
    higher id of any near-dup pair."""
    dropped = set(x04["doc_b"].tolist())
    keep = x10[x10["quality"] >= QUALITY_MIN]["doc_id"].tolist()
    return sorted(int(d) for d in keep if d not in dropped)


class CurateLlm(Workload):
    name = "curate_llm"
    kinds = {"pass": "curate_pass_p50_s"}

    @property
    def table(self) -> str:
        return self.out

    def build(self, root: str) -> None:
        from dask_deltalake_spark.operators import REGISTRY

        self.corpus = os.path.join(root, "corpus")
        os.makedirs(self.corpus)
        self.out = os.path.join(root, "curated")
        docs = data.write(data.documents(self.rng(1), DOCS), os.path.join(self.corpus, "documents.parquet"))
        vecs = data.write(data.embeddings(self.rng(2), VECS), os.path.join(self.corpus, "embeddings.parquet"))
        duck = duckdb.connect()
        duck.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        duck.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{vecs}')")
        self.fns = {s: REGISTRY[n][0] for s, n in STAGES.items()}
        self.want = {s: duck.execute(REGISTRY[n][1]).df() for s, n in STAGES.items()}
        self.want_kept = survivors(self.want["x10"], self.want["x04"])
        self.passes: list[dict] = []  # traced: per-pass stage spans

    def _pass(self) -> Op:
        spark, tr = self.spark, self.tr

        def run():
            outs, spans = {}, {}
            with tr.span("curate.pass") as whole:
                for stage, fn in self.fns.items():
                    with tr.span(f"llmops.{stage}") as s:
                        outs[stage] = fn(spark, self.corpus).toPandas()
                    spans[stage] = s
                kept = survivors(outs["x10"], outs["x04"])
                docs = spark.read.parquet(os.path.join(self.corpus, "documents.parquet"))
                with tr.span("writer.append") as w:
                    self.ddl.to_delta(docs.filter(F.col("doc_id").isin(kept)), self.out, mode="overwrite")
            if whole is not None:
                v = deltafiles.latest_version(self.out)
                w.attrs.update(files=len(deltafiles.adds(self.out, v)), rows=len(kept),
                               bytes=deltafiles.added_bytes(self.out, v, v))
                self.passes.append({"pass": whole, "stages": spans, "write": w})
            return outs

        return Op("pass", run, self._check)

    def _check(self, outs: dict) -> bool:
        ok = True
        for stage, got in outs.items():
            issues, _ = compare(stage, got, self.want[stage])
            if issues:
                print(f"perfbench: {stage} differs from its reference: {issues[:2]}", file=sys.stderr)
                ok = False
        got_kept = self.ddl.read_delta(self.out, spark=self.spark).count()
        return ok and got_kept == len(self.want_kept)

    def _clear_caches(self) -> None:
        from dask_deltalake_spark.functions import llmops

        llmops.clear_jaccard_cache()
        llmops.clear_semdedup_cache()
        llmops.clear_esd_cache()
        self.spark.catalog.clearCache()

    def warmup_ops(self) -> list[Op]:
        self._clear_caches()
        return [self._pass()]

    def rounds(self):
        while True:
            self._clear_caches()
            yield [self._pass()]

    def stored_bytes_per_row(self) -> float:
        from dask_deltalake_spark.delta.log import DeltaLog

        snap = DeltaLog(self.out).snapshot()
        return sum(a.size for a in snap.add_actions) / len(self.want_kept)

    def prune_filter(self) -> list:
        return [("doc_id", "<", DOCS // 8)]

    def probe(self) -> None:
        super().probe()
        v = deltafiles.latest_version(self.out)
        probe_reads(self, self.prune_filter(), version=max(0, v - 1))

    def layer_metrics(self) -> dict:
        ps = self.passes[1:]  # the first traced pass is the warm-up
        m = {"llmops.kept_frac": len(self.want_kept) / DOCS}
        for stage in STAGES:
            m[f"llmops.{stage}_frac"] = mean(p["stages"][stage].dur / p["pass"].dur for p in ps)
            m[f"llmops.{stage}_jobs"] = mean(p["stages"][stage].jobs for p in ps)
            m[f"llmops.{stage}_tasks"] = mean(p["stages"][stage].tasks for p in ps)
        writes = [p["write"] for p in ps]
        m["writer.bytes_per_row"] = sum(w.attrs["bytes"] for w in writes) / max(
            1, sum(w.attrs["rows"] for w in writes)
        )
        return m
