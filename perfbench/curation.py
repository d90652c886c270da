"""``curation``: the training-data curation job, batch.

One operation is one whole job over the seeded corpus:
``operators.text`` scoring and PII scrub -> ``dedup.dedup_exact`` ->
``dedup.minhash_lsh_pairs`` -> ``dedup.dedup_clusters`` (keep canonical)
-> embedding near-dup via ``similarity.signlsh_pairs`` ->
``packing.pack_sequences``.  The job's outputs are its cluster report and
the packed sequence assignment, both collected.  In a traced run each
operator's output is materialized inside its own span, so every
operator gets its own time.
"""

from __future__ import annotations

import os
import time
from statistics import median

from . import gen
from .common import log

N_DOCS = 700
MIN_JOBS = 3  # the median is then a middle job, whatever the job count
WARM_JOBS = 2  # the first job after a cold start is still 20 % slow
BUDGET = 2048


class Curation:
    def __init__(self, session, tracer, tmp: str, seed: int):
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.operators import (
            dedup,
            packing,
            similarity,
            text,
        )

        self.text, self.dedup, self.similarity, self.packing = text, dedup, similarity, packing
        self.session, self.tr, self.tmp, self.seed = session, tracer, tmp, seed
        self.spark = None
        self.layer: dict[str, float] = {}
        self.truth = None
        self.pairs_found = 0

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        """Session, corpus generation and WARM_JOBS untimed jobs over
        another seed's corpus; returns its wall time."""
        t0 = time.perf_counter()
        with self.tr.span("session.start"):
            self.spark = self.session.start()
        self.tr.spark = self.spark
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.truth = gen.corpus(self.seed, N_DOCS, os.path.join(self.tmp, "corpus"))
        t1 = time.perf_counter()
        # same size as the measured corpus, so the measured jobs meet
        # only code paths and plan shapes the JIT has already seen
        warm = gen.corpus(self.seed + 7919, N_DOCS, os.path.join(self.tmp, "warm"))
        for _ in range(WARM_JOBS):
            self.job(warm["paths"], materialize=False)
        self.layer["session.warm_s"] = time.perf_counter() - t1
        return time.perf_counter() - t0

    # --------------------------------------------------------------- job
    @staticmethod
    def _step(df, materialize: bool):
        """Materialize ``df`` when asked (traced runs), so the enclosing
        span holds the operator's own work."""
        return df.localCheckpoint(eager=True) if materialize else df

    def job(self, paths: list[str], materialize: bool) -> dict:
        from pyspark.sql import functions as F

        text, dedup, sim, packing = self.text, self.dedup, self.similarity, self.packing
        docs = self.spark.read.parquet(paths[0])
        emb = self.spark.read.parquet(paths[1])
        m = materialize
        with self.tr.span("text.score"):
            stats = self._step(text.text_stats(docs), m)
            clean = self._step(text.scrub_pii(docs), m)
        with self.tr.span("dedup.exact"):
            exact = self._step(dedup.dedup_exact(clean, ["text_clean"]), m)
        with self.tr.span("dedup.lsh"):
            pairs = dedup.minhash_lsh_pairs(exact, "doc_id", "text_clean", k=3, threshold=0.8)
            pairs = self._step(pairs, m)
        with self.tr.span("dedup.clusters"):
            clusters = self._step(dedup.dedup_clusters(exact, pairs), m)
        kept = clusters.where(F.col("is_canonical")).select("doc_id")
        with self.tr.span("similarity.vec_dedup"):
            vpairs = sim.signlsh_pairs(
                emb.join(kept, "doc_id"), threshold=0.9, id_col="doc_id",
                vec_col="embedding", dim=64, nplanes=16, ntables=4,
            )
            vpairs = self._step(vpairs, m)
        final = (
            kept.join(vpairs.select(F.col("id_b").alias("doc_id")), "doc_id", "left_anti")
            .join(stats.select("doc_id", "n_tokens", "quality"), "doc_id")
            .join(clean.select("doc_id", "n_pii"), "doc_id")
        )
        with self.tr.span("packing.pack"):
            packed = packing.pack_sequences(
                final, "doc_id", "n_tokens", budget=BUDGET, nshards=self.session.cores
            )
            packed = self._step(packed, m)
        out = {
            "packed": [tuple(r) for r in packed.select("doc_id", "n_tokens", "n_pii", "shard", "bin", "offset").collect()],
            "clusters": [tuple(r) for r in clusters.collect()],
        }
        if m:
            out["pairs"] = [tuple(r) for r in pairs.select("id_a", "id_b").collect()]
        return out

    # --------------------------------------------------------------- run
    def run(self, seconds: float, trace: bool) -> dict:
        walls, failed, traced = [], 0, []
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline or len(walls) < MIN_JOBS:
            # traced runs alternate traced and untraced jobs
            on = trace and i % 2 == 0
            self.tr.enabled = on
            self.tr.op = i
            t0 = time.perf_counter()
            try:
                out = self.job(self.truth["paths"], materialize=on)
            except Exception as ex:  # counted, the loop goes on
                log(f"job {i} failed: {ex!r}")
                out = None
            walls.append(time.perf_counter() - t0)
            traced.append(on)
            self.tr.enabled = False
            if out is None or not self.check(out):
                failed += 1
            i += 1
        docs = self.truth["docs"]
        if trace:
            return self.layer_metrics(walls, traced, failed)
        return {
            "attempted": len(walls),
            "failed": failed,
            "metrics": {
                "latency_s": (median(walls), "s"),
                "throughput_per_s": (docs * len(walls) / sum(walls), "1/s"),
            },
        }

    # ------------------------------------------------------------ checks
    def check(self, out: dict) -> bool:
        """Clusters, kept set, PII count and packing against the injected
        truth."""
        t = self.truth
        ok = True
        exact_copies = {b for _, b in t["exact_pairs"]}
        want_comp = {a: a for a in t["n_tokens"] if a not in exact_copies}
        for a, b in t["near_pairs"]:
            want_comp[b] = a
        got_comp = {d: c for d, c, _ in out["clusters"]}
        if got_comp != want_comp:
            log("clusters differ from the injected truth")
            ok = False
        packed = out["packed"]
        if sorted(r[0] for r in packed) != t["kept"]:
            log("kept set differs from the injected truth")
            ok = False
        if any(r[1] != t["n_tokens"][r[0]] for r in packed):
            log("token counts differ")
            ok = False
        kept = set(t["kept"])
        if sum(r[2] for r in packed) != sum(1 for d in t["pii_ids"] if d in kept):
            log("PII match count differs")
            ok = False
        by_shard: dict[int, list] = {}
        for r in packed:
            by_shard.setdefault(r[3], []).append(r)
        for rows in by_shard.values():
            start = 0
            for doc, n, _, _, b, off in sorted(rows):
                if (b, off) != (start // BUDGET, start % BUDGET):
                    log("packing assignment is not next-fit")
                    ok = False
                    break
                start += n
        if "pairs" in out:
            self.pairs_found = len(out["pairs"])
            if sorted(out["pairs"]) != sorted(t["near_pairs"]):
                log("LSH pairs differ from the injected near-duplicates")
                ok = False
        return ok

    # ------------------------------------------------------------ traced
    def layer_metrics(self, walls, traced, failed) -> dict:
        tr = self.tr
        on = [w for w, t in zip(walls, traced) if t]
        off = [w for w, t in zip(walls, traced) if not t] or on
        m = {
            "session.start_s": (self.layer["session.start_s"], "s"),
            "session.warm_s": (self.layer["session.warm_s"], "s"),
            "trace.overhead_p50_s": (median(on) - median(off), "s"),
            "dedup.pairs_injected": (len(self.truth["near_pairs"]), "count"),
            "dedup.pairs_found": (self.pairs_found, "count"),
        }
        for span, name in (
            ("text.score", "text.score_s"),
            ("dedup.exact", "dedup.exact_s"),
            ("dedup.lsh", "dedup.lsh_s"),
            ("dedup.clusters", "dedup.clusters_s"),
            ("similarity.vec_dedup", "similarity.vec_dedup_s"),
            ("packing.pack", "packing.pack_s"),
        ):
            m[name] = (median(list(tr.per_op(span).values())), "s")
        m.update({k: (v, "count") for k, v in tr.spark_per_op().items()})
        return {"attempted": len(walls), "failed": failed, "metrics": m}
