"""The benchmark workloads: one closed-loop operation each, its output
checks, and the outside-in counts of the traced run.

Layer functions are always called through their modules
(``codegen.compute_codes``, ``ingest.process_dedup_batch``), so the traced
run's wrappers see every call.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from collections import Counter

import numpy as np
import pandas as pd

from iscc_specs_spark.operators import lsh
from iscc_specs_spark.plans import curate as curate_plan
from iscc_specs_spark.plans import dedup as dedup_plan
from iscc_specs_spark.streaming import ingest

# output checks: planted-truth pair scores every operation must reach
MIN_RECALL = {"stream_ingest": 0.95, "curate_rewrite": 0.95}
MIN_PRECISION = {"stream_ingest": 0.95, "curate_rewrite": 0.95}
CURATE_REPS = 5  # curate_state passes per stream_ingest operation; curate_s is their median


def digest(rows) -> str:
    """sha256 over sorted (url, cluster_id, is_canonical) rows."""
    h = hashlib.sha256()
    for r in sorted((r[0], r[1], bool(r[2])) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def pair_scores(rows, truth: pd.DataFrame) -> tuple[float, float]:
    """Pair recall and precision from the contingency table of predicted
    clusters against planted clusters, over the urls both cover."""
    pred = pd.DataFrame([(r[0], r[1]) for r in rows], columns=["url", "pred"])
    m = pred.merge(truth[["url", "truth_cluster"]], on="url")

    def pairs(counts) -> int:
        c = np.asarray(counts, dtype=np.int64)
        return int((c * (c - 1) // 2).sum())

    tp = pairs(m.groupby(["pred", "truth_cluster"]).size())
    n_pred = pairs(m.groupby("pred").size())
    n_true = pairs(m.groupby("truth_cluster").size())
    return tp / max(n_true, 1), tp / max(n_pred, 1)


def bucket_counts(bands) -> dict:
    """Candidate pairs the capped banding emits, from the bucket sizes:
    C(n, 2) per bucket up to the cap, n - 1 hub edges above it."""
    from pyspark.sql import functions as F

    cap = dedup_plan.DedupConfig().bucket_cap
    sizes = bands.groupBy("band_id", "band_hash").agg(F.count("*").alias("n"))
    row = sizes.agg(
        F.sum(F.when(F.col("n") <= cap, F.col("n") * (F.col("n") - 1) / 2)
              .otherwise(F.col("n") - 1)).alias("cand"),
    ).collect()[0]
    m = dedup_plan.lsh_metrics(bands, cap)
    return {"candidate_pairs": float(row["cand"] or 0), "capped_buckets": m["capped_buckets"]}


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


class StreamIngest:
    """Chained corpus fed as back-to-back micro-batches through
    ``compute_codes`` → ``process_dedup_batch``, then ``curate_state``."""

    name = "stream_ingest"

    def __init__(self, spark, corpus_dir: str, work: str, truth: pd.DataFrame, props: dict):
        self.spark, self.work, self.truth, self.props = spark, work, truth, props
        self.batches = [
            spark.read.parquet(os.path.join(corpus_dir, "pages", f"batch={b}"))
            for b in range(props["batches"])
        ]

    def _pass(self, state: str, curate_reps: int) -> dict:
        from iscc_specs_spark.operators import codegen

        batch_s = []
        for b, pages in enumerate(self.batches):
            t0 = time.perf_counter()
            # codes are materialized before the batch is handed over, so
            # the codegen work is its own layer rather than the first
            # action inside process_dedup_batch
            codes = codegen.compute_codes(pages).localCheckpoint(eager=True)
            ingest.process_dedup_batch(codes, b, state)
            batch_s.append(time.perf_counter() - t0)
        curate_s, digests, rows = [], [], None
        for _ in range(curate_reps):
            t0 = time.perf_counter()
            rows = ingest.curate_state(self.spark, state).collect()
            curate_s.append(time.perf_counter() - t0)
            digests.append(digest(rows))
        return {"batch_s": batch_s, "curate_s": curate_s, "digests": digests,
                "rows": rows, "docs": len(self.batches) * self.props["batch_docs"]}

    def warmup(self) -> None:
        # the first batch (no history) and the second (history probe) JIT
        # both paths of process_dedup_batch; one curate_state pass warms CC
        self._pass(_fresh(os.path.join(self.work, "warm_state")), 1)

    def op(self, tracer=None) -> dict:
        self.state = _fresh(os.path.join(self.work, "state"))
        if tracer is None:
            out = self._pass(self.state, CURATE_REPS)
        else:
            with tracer.root("stream_ingest"):
                out = self._pass(self.state, CURATE_REPS)
        out["ops"] = len(out["batch_s"]) + len(out["curate_s"])
        out["wall"] = sum(out["batch_s"]) + sum(out["curate_s"])
        out["op_s"] = out["batch_s"]
        out["docs_per_s"] = out["docs"] / sum(out["batch_s"])
        out["curate_wall"] = float(np.median(out["curate_s"]))
        out["coded_docs"] = out["docs"]
        return out

    def check(self, out: dict) -> list[str]:
        bad = []
        if len(set(out["digests"])) != 1:
            bad.append("curate_state digests differ between passes")
        rec, prec = pair_scores(out["rows"], self.truth)
        out["recall"], out["precision"] = rec, prec
        if rec < MIN_RECALL[self.name]:
            bad.append(f"pair recall {rec:.4f} < {MIN_RECALL[self.name]}")
        if prec < MIN_PRECISION[self.name]:
            bad.append(f"pair precision {prec:.4f} < {MIN_PRECISION[self.name]}")
        out["digest"] = out["digests"][0]
        out["fingerprint"] = out["digest"]
        return bad

    def outside_in(self) -> dict:
        """Counts from public functions over the traced operation's state."""
        from iscc_specs_spark.operators import codegen

        spark, state = self.spark, self.state
        bands = spark.read.parquet(os.path.join(state, "bands"))
        flags = ingest.read_dup_flags(spark, state)
        n_flags = flags.count()
        bc = bucket_counts(bands)
        last = len(self.batches) - 1
        slim = lsh.rep_codes(codegen.compute_codes(self.batches[last]))
        nb = lsh.minhash_bands(slim).union(lsh.simhash_bands(slim))
        pfx = [r[0] for r in nb.select(lsh.band_pfx().alias("p")).distinct().collect()]
        probe = ingest.read_band_index(spark, state, last, pfx)
        docs = len(self.batches) * self.props["batch_docs"]
        return {
            "lsh.band_rows": bands.count(),
            "lsh.capped_buckets": bc["capped_buckets"],
            "lsh.candidate_pairs": bc["candidate_pairs"],
            "lsh.pair_yield": n_flags / max(bc["candidate_pairs"], 1),
            "cluster.edges_in": n_flags,
            "ingest.probe_files": len(probe.inputFiles()),
            "ingest.state_mb_per_kdoc": _du_mb(state) / (docs / 1000),
        }

    def pages_pdf(self) -> pd.DataFrame:
        return pd.concat([b.toPandas() for b in self.batches], ignore_index=True)


class CurateRewrite:
    """``run_curation(substring_cut=True, semantic=True)`` over pages with
    planted shared passages and paraphrase groups."""

    name = "curate_rewrite"

    def __init__(self, spark, corpus_dir: str, work: str, truth: pd.DataFrame, props: dict):
        self.spark, self.work, self.truth, self.props = spark, work, truth, props
        self.pages = spark.read.parquet(os.path.join(corpus_dir, "pages"))
        self.n_pages = len(truth)
        self.cfg = curate_plan.CurateConfig(
            substring_cut=True, semantic=True, substring_min_len=props["min_len"]
        )
        # time the dedup sub-plan inside run_curation: curate_s is the
        # curation work around it
        self.dedup_walls: list[float] = []
        run_dedup = curate_plan.run_dedup

        def timed_run_dedup(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return run_dedup(*args, **kwargs)
            finally:
                self.dedup_walls.append(time.perf_counter() - t0)

        curate_plan.run_dedup = timed_run_dedup

    def _run(self, out_dir: str) -> dict:
        t0 = time.perf_counter()
        r = curate_plan.run_curation(self.spark, self.pages, out_dir, self.cfg)
        wall = time.perf_counter() - t0
        return {"wall": wall, "result": r}

    def warmup(self) -> None:
        self._run(_fresh(os.path.join(self.work, "warm_out")))

    def op(self, tracer=None) -> dict:
        self.out_dir = _fresh(os.path.join(self.work, "out"))
        if tracer is None:
            res = self._run(self.out_dir)
        else:
            with tracer.root("run_curation"):
                res = self._run(self.out_dir)
        r = res["result"]
        dedup_wall = self.dedup_walls[-1]
        canon = r["dedup"]["canonical"].select("url", "cluster_id", "is_canonical").collect()
        cut = r["store"].read(self.spark, "corpus_cut").select("url", "n_spans_cut").collect()
        return {
            "ops": 1, "op_s": [res["wall"]], "wall": res["wall"], "docs": self.n_pages,
            "docs_per_s": self.n_pages / res["wall"],
            "curate_wall": res["wall"] - dedup_wall,
            "rows": canon, "funnel": r["metrics"], "cut": cut,
            "coded_docs": r["metrics"]["docs_in"] - r["metrics"]["docs_dropped_quality"],
        }

    def check(self, out: dict) -> list[str]:
        bad = []
        rec, prec = pair_scores(out["rows"], self.truth)
        out["recall"], out["precision"] = rec, prec
        if rec < MIN_RECALL[self.name]:
            bad.append(f"pair recall {rec:.4f} < {MIN_RECALL[self.name]}")
        if prec < MIN_PRECISION[self.name]:
            bad.append(f"pair precision {prec:.4f} < {MIN_PRECISION[self.name]}")
        # keep-first: every surviving holder of a planted passage except
        # the lowest url must have had a span cut
        spans = {r["url"]: r["n_spans_cut"] for r in out["cut"]}
        held = self.truth[(self.truth["passage"] >= 0) & self.truth["url"].isin(spans)]
        missed = []
        for _, g in held.groupby("passage"):
            for url in sorted(g["url"])[1:]:
                if spans[url] < 1:
                    missed.append(url)
        if missed:
            bad.append(f"{len(missed)} planted passage copies not cut")
        if out["funnel"]["docs_rewritten_substring"] < 1:
            bad.append("no document rewritten by the substring cut")
        out["digest"] = digest(out["rows"])
        out["fingerprint"] = out["digest"] + ":" + hashlib.sha256(
            repr(sorted(out["funnel"].items())).encode()).hexdigest()
        return bad

    def outside_in(self) -> dict:
        """Counts from public functions over the traced run's stage
        tables, with the plan's own parameters."""
        from pyspark.sql import functions as F

        from iscc_specs_spark.operators import substring

        spark, cfg = self.spark, self.cfg

        def stage(*path):
            return spark.read.parquet(os.path.join(self.out_dir, *path))

        bands = stage("dedup", "bands")
        bc = bucket_counts(bands)
        n_pairs = stage("dedup", "dup_pairs").count()
        corpus = stage("corpus")
        anchors = substring.anchor_table(
            corpus, id_col="url", anchor=cfg.substring_hash).localCheckpoint(eager=True)
        df = anchors.groupBy("anchor_hash").agg(F.count_distinct("doc_id").alias("df"))
        capped = anchors.join(
            df.where(F.col("df") > substring.DEFAULT_DF_CAP), "anchor_hash").count()
        kept = anchors.join(df.where(F.col("df") <= substring.DEFAULT_DF_CAP), "anchor_hash")
        a = kept.select("anchor_hash", F.col("doc_id").alias("a"))
        b = kept.select("anchor_hash", F.col("doc_id").alias("b"))
        cand = a.join(b, "anchor_hash").where(F.col("a") < F.col("b")).select("a", "b").distinct().count()
        matches = substring.substring_matches(
            corpus, min_len=cfg.substring_min_len, anchor=cfg.substring_hash,
            id_col="url").select("doc_a", "doc_b").distinct().count()
        # semantic: within-list pairs the cosine stage scores, and how many
        # clear the threshold (NumPy over the staged vectors)
        vecs = stage("sem_vecs").toPandas()
        assign = stage("sem_assign").toPandas()
        m = vecs.merge(assign, on="vec_id")
        sizes = Counter(m["list_id"])
        scored = sum(n * (n - 1) // 2 for n in sizes.values())
        hits = 0
        for _, g in m.groupby("list_id"):
            v = np.array(list(g["embedding"]), dtype=np.float64)
            v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
            c = np.round(v @ v.T, 6)
            hits += int((np.triu(c, 1) >= cfg.semantic_threshold).sum())
        return {
            "lsh.band_rows": bands.count(),
            "lsh.capped_buckets": bc["capped_buckets"],
            "lsh.candidate_pairs": bc["candidate_pairs"],
            "lsh.pair_yield": n_pairs / max(bc["candidate_pairs"], 1),
            "cluster.edges_in": n_pairs,
            "substring.anchors": anchors.count(),
            "substring.anchors_df_capped": capped,
            "substring.pair_yield": matches / max(cand, 1),
            "semantic.pairs_scored": scored,
            "semantic.list_max": max(sizes.values()) if sizes else 0,
            "semantic.pair_yield": hits / max(scored, 1),
        }

    def pages_pdf(self) -> pd.DataFrame:
        return self.pages.toPandas()


WORKLOADS = {w.name: w for w in (StreamIngest, CurateRewrite)}
