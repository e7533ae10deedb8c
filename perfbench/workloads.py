"""The benchmark's workloads: the calls a user of the library makes.

Each workload runs one *pass* (the timed unit) and checks the pass's
outputs against the oracle. A pass takes a recorder: the untraced run
passes ``NullRecorder`` and the pass runs as a user would write it; the
traced run passes ``Recorder`` and each layer's output is materialized
(cached and counted) at its boundary, so each span covers that layer alone.
Later calls reuse the cached outputs through Spark's cache manager, which
matches them by plan.

Which end-to-end metric each layer's metrics should move, written down
before measuring; on the other workload the prediction is no change:

==========================================  ==============================  ===============
layer metrics                               should move                     on
==========================================  ==============================  ===============
operators.windows.*, operators.asof.*       rows_per_s, pass_s.p90          pit_features
sources.checkpoint.* (resume_s/_yield)      rows_per_s, pass_s.p90          pit_features
scoring.*, eval.jaccard.*                   rows_per_s, pass_s.p90          pit_features
functions.text.*, operators.dedup.*,        rows_per_s, pass_s.p90,         corpus_curation
operators.connected_components.*,           first_pass_s
plans.curation.*
session.worker_warm_s, first_pass.*         setup_s, first_pass_s           both
==========================================  ==============================  ===============
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from modlyn_spark.eval.jaccard import CompareScores
from modlyn_spark.functions.text import minhash_signature_udf
from modlyn_spark.operators.dedup import connected_components, minhash_near_dup_pairs
from modlyn_spark.plans.curation import curate_corpus
from modlyn_spark.plans.pipeline import (
    image_feature_pipeline,
    image_state_features,
    score_features,
)
from modlyn_spark.scoring.logreg import DistributedLogReg, assign_batches
from modlyn_spark.scoring.stats import label_encode, wilcoxon_scores
from modlyn_spark.session import ensure_parallelism
from modlyn_spark.sources.checkpoint import (
    completed_buckets,
    read_checkpointed,
    verify,
    write_checkpointed,
)

from perfbench import oracles
from perfbench.trace import job_seconds

KEY_COLS = ["image_id", "feature_ts"]
N_BUCKETS = 16  # write_checkpointed default
SLICE_EVERY = 25  # pit check: every 25th entity plus the hottest one


def _materialize(df, traced: bool):
    """At a traced layer boundary: cache the output and run it once."""
    if traced:
        df = df.cache()
        df.count()
    return df


def _close(a, b, rtol=1e-7, atol=1e-9) -> bool:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    return a.shape == b.shape and bool(np.allclose(a, b, rtol=rtol, atol=atol, equal_nan=True))


class PitFeatures:
    """Point-in-time features, checkpointed write and resume, then feature
    selection (F-statistic, logreg, Wilcoxon, top-N Jaccard across them)."""

    name = "pit_features"

    def __init__(self, spark, counters, paths, tables, oracle, seed, workdir):
        self.spark, self.counters = spark, counters
        self.paths, self.oracle = paths, oracle
        self.workdir = workdir
        self.input_rows = len(tables["images"]) + len(tables["requests"])
        versions = tables["images"].groupby("image_id").size()
        ids = sorted(versions.index)
        self.slice_ids = sorted(set(ids[seed % SLICE_EVERY::SLICE_EVERY]) | {versions.idxmax()})
        # which buckets lose their manifest: a seeded quarter
        rng = np.random.default_rng([seed, 4])
        self.lost = sorted(int(b) for b in rng.choice(N_BUCKETS, N_BUCKETS // 4, replace=False))

    def run_pass(self, rec, i: int, traced: bool) -> dict:
        spark = self.spark
        out = os.path.join(self.workdir, f"pass-{i}")
        seg: dict[str, float] = {}
        t0 = time.perf_counter()
        with rec.span("sources.scan"):
            images = spark.read.parquet(self.paths["images"])
            requests = _materialize(spark.read.parquet(self.paths["requests"]), traced)
            _materialize(images.select("image_id", "ts", "version", "phash", "w", "h"), traced)
        with rec.span("operators.windows"):
            _materialize(image_state_features(images), traced)
        with rec.span("operators.asof"):
            feats = _materialize(image_feature_pipeline(images, requests), traced)
        with rec.span("sources.checkpoint.write"):
            write_checkpointed(feats, out, key_cols=KEY_COLS, lineage="perfbench")
        seg["write"] = time.perf_counter() - t0
        full = completed_buckets(out, spark)
        for b in self.lost:
            os.remove(os.path.join(out, "_manifest", f"bucket-{b}.json"))
        sql_resume = self.counters.sql_execution_count() if traced else 0
        t1 = time.perf_counter()
        with rec.span("sources.checkpoint.resume"):
            resumed = write_checkpointed(feats, out, key_cols=KEY_COLS, lineage="perfbench")
        seg["resume"] = time.perf_counter() - t1
        sql_after_resume = self.counters.sql_execution_count() if traced else 0

        t2 = time.perf_counter()
        with rec.span("sources.scan"):
            table = _materialize(read_checkpointed(spark, out), traced)
        with rec.span("scoring.stats"):
            f_stat = score_features(table).toPandas()
        with rec.span("scoring.logreg"):
            classes, enc = label_encode(table, "label")
            batched = assign_batches(enc, ["image_id"], oracles.N_BATCHES)
            sql_fit = self.counters.sql_execution_count() if traced else 0
            with self.counters.job_group(f"fit-{i}"):
                model = DistributedLogReg(len(oracles.FEATURES), classes).fit(
                    batched,
                    label_idx_col="label_idx",
                    n_batches=oracles.N_BATCHES,
                    max_epochs=oracles.MAX_EPOCHS,
                )
        with rec.span("scoring.wilcoxon"):
            wil = wilcoxon_scores(table, "label").toPandas()
        with rec.span("eval.jaccard"):
            weights = model.get_weights(oracles.FEATURES)
            jac = CompareScores(
                [weights, oracles.f_matrix(f_stat, classes), oracles.wilcoxon_matrix(wil)],
                n_top_values=oracles.N_TOP,
            ).compute_jaccard_comparison()
        seg["select"] = time.perf_counter() - t2
        fit_jobs = self.counters.group_jobs(f"fit-{i}")
        if traced:
            # rows the cached-table scans emitted: the upstream each call re-read
            resume_rows = sum(self.counters.node_output_rows(
                "InMemoryTableScan", sql_resume, sql_after_resume))
            fit_rows = sum(self.counters.node_output_rows(
                "InMemoryTableScan", sql_fit, self.counters.sql_execution_count()))
        return {
            "seconds": seg["write"] + seg["resume"] + seg["select"],
            "resume_s": seg["resume"],
            "out": out,
            "full": full,
            "resumed": resumed,
            "f_stat": f_stat,
            "model": model,
            "wilcoxon": wil,
            "jaccard": jac,
            "fit_jobs": fit_jobs,
            # per-step seconds from the job timeline (one job per Adam step)
            "step_s": [job_seconds(j) for j in fit_jobs if j.get("completionTime")],
            "resume_rows": resume_rows if traced else 0,
            "fit_rows": fit_rows if traced else 0,
            "table": table,
        }

    def layer_extras(self, out: dict) -> dict:
        """Ratios measured where the work happens, each with its base."""
        steps = max(len(out["model"].losses), 1)
        jobs = [j for j in out["fit_jobs"] if j.get("completionTime")]
        gaps = [
            (b["submissionTime"] - a["completionTime"]) / 1000.0
            for a, b in zip(jobs, jobs[1:])
        ]
        rows = self.oracle["features"].shape[0]
        lost_rows = sum(out["full"][b]["rows"] for b in self.lost)
        return {
            # Spark jobs per Adam step
            "scoring.logreg.jobs_per_step": len(jobs) / steps,
            # median driver time between consecutive step jobs
            "scoring.logreg.driver_gap_s": float(np.median(gaps)) if gaps else 0.0,
            # batch rows / cached rows scanned, over all steps
            "scoring.logreg.scan_yield": rows / oracles.N_BATCHES * steps / max(out["fit_rows"], 1),
            # rows in the lost buckets / upstream rows the resume re-read
            "sources.checkpoint.resume_yield": lost_rows / max(out["resume_rows"], 1),
        }

    def check(self, out: dict) -> list[str]:
        o = self.oracle
        bad = []
        table = out["table"]
        exp = o["features"]
        age = F.col("features")[5]
        n_rows, n_leaks = table.agg(
            F.count(F.lit(1)), F.count(F.when((age < 0) & (age != -1.0), 1))
        ).first()
        if n_rows != len(exp):
            bad.append("feature row count")
        if n_leaks:
            bad.append("state_ts > feature_ts")
        got = table.where(F.col("image_id").isin(self.slice_ids)).toPandas()
        want = exp[exp["image_id"].isin(self.slice_ids)]
        got = got.assign(ts=got["feature_ts"].astype("datetime64[us]").astype(np.int64))
        want = want.assign(ts=want["feature_ts"].astype("datetime64[us]").astype(np.int64))
        got = got.sort_values(["image_id", "ts"]).reset_index(drop=True)
        want = want.sort_values(["image_id", "ts"]).reset_index(drop=True)
        if (
            len(got) != len(want)
            or not (got["ts"].to_numpy() == want["ts"].to_numpy()).all()
            or not (got["label"].to_numpy() == want["label"].to_numpy()).all()
        ):
            bad.append("slice keys")
        elif not _close(np.stack(got["features"].to_numpy()),
                        want[[f"f{i}" for i in range(6)]].to_numpy()):
            bad.append("slice features")
        if not verify(self.spark, out["out"])["ok"]:
            bad.append("checkpoint verify")
        after = completed_buckets(out["out"], self.spark)
        key = lambda m: {b: (r["rows"], r["content_hash"]) for b, r in m.items()}  # noqa: E731
        if key(after) != key(out["full"]) or out["resumed"]["computed"] != self.lost:
            bad.append("resume content hash")
        f = out["f_stat"].sort_values("pos")
        if not _close(f["f_stat"], o["f_stat"]["f_stat"], rtol=1e-6):
            bad.append("f_statistic")
        w = o["weights"].pivot(index="label", columns="pos", values="weight").sort_index()
        if not _close(out["model"].W, w.to_numpy(), rtol=1e-6, atol=1e-8):
            bad.append("logreg weights")
        wl = out["wilcoxon"].sort_values(["label", "pos"])
        ew = o["wilcoxon"].sort_values(["label", "pos"])
        if not _close(wl["z"], ew["z"], rtol=1e-6, atol=1e-9):
            bad.append("wilcoxon")
        if not out["jaccard"].equals(o["jaccard"]):
            bad.append("jaccard")
        return bad

    def cleanup(self, out: dict) -> None:
        out["table"].unpersist()
        self.spark.catalog.clearCache()
        shutil.rmtree(out["out"], ignore_errors=True)


@contextmanager
def _count_calls(owner, attr: str):
    """Count the calls of ``owner.attr`` made inside the block."""
    orig = getattr(owner, attr)
    calls = [0]

    def counted(*args, **kwargs):
        calls[0] += 1
        return orig(*args, **kwargs)

    setattr(owner, attr, counted)
    try:
        yield calls
    finally:
        setattr(owner, attr, orig)


def components_with_rounds(pairs):
    """``connected_components(pairs)`` and its number of rounds: each round
    ends in one ``count()`` of the changed labels, its convergence test."""
    with _count_calls(type(pairs), "count") as calls:
        comp = connected_components(pairs)
    return comp, calls[0]


def canonical_map(docs, comp):
    """doc -> canonical doc of its near-duplicate component (longest text,
    then smallest id); documents without a near-duplicate are their own."""
    member = docs.select("doc_id", "n_chars").join(
        comp.select(F.col("node").alias("doc_id"), "component"), "doc_id", "left"
    ).withColumn("component", F.coalesce("component", F.col("doc_id")))
    w = Window.partitionBy("component").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    canon = (
        member.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("component", F.col("doc_id").alias("canonical_id"))
    )
    return member.join(canon, "component").select(
        "doc_id",
        "component",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )


class CorpusCuration:
    """curate_corpus with pairs-mode near-dup removal, then the canonical
    map over near-dup pairs and their connected components."""

    name = "corpus_curation"

    def __init__(self, spark, counters, paths, tables, oracle, seed, workdir):
        self.spark, self.counters = spark, counters
        self.paths, self.oracle = paths, oracle
        self.input_rows = len(tables["documents"])

    def run_pass(self, rec, i: int, traced: bool) -> dict:
        spark = self.spark
        t0 = time.perf_counter()
        with rec.span("sources.scan"):
            docs = _materialize(spark.read.parquet(self.paths["documents"]), traced)
        with rec.span("plans.curation"):
            curated = curate_corpus(docs, near_dup_mode="pairs")
            curated_rows = curated.select("doc_id", "split").collect()
        sql0 = self.counters.sql_execution_count() if traced else 0
        with rec.span("operators.dedup"):
            pairs = _materialize(minhash_near_dup_pairs(docs, "doc_id", "text"), traced)
        n_pairs = pairs.count() if traced else None
        join_rows = self.counters.node_output_rows("Join", sql0) if traced else []
        rounds = None
        with rec.span("operators.connected_components"):
            if traced:
                comp, rounds = components_with_rounds(pairs)
                comp = _materialize(comp, traced)
            else:
                comp = connected_components(pairs)
        canon = canonical_map(docs, comp).collect()
        seconds = time.perf_counter() - t0
        if traced:
            # the MinHash UDF alone, outside the timed region: inside
            # curation and dedup it is fused into larger stages
            with rec.span("functions.text"):
                src = ensure_parallelism(docs.select(F.col("doc_id").alias("did"), "text"))
                minhash_signature_udf(src, "text", "sig", k=96).write.format("noop").mode(
                    "overwrite"
                ).save()
        return {
            "seconds": seconds,
            "curated": curated_rows,
            "canonical": canon,
            "n_pairs": n_pairs,
            "join_rows": join_rows,
            "rounds": rounds,
        }

    def layer_extras(self, out: dict) -> dict:
        cand = max(out["join_rows"], default=0)
        return {
            "operators.dedup.verify_yield": (out["n_pairs"] or 0) / max(cand, 1),
            "operators.connected_components.rounds": float(out["rounds"]),
        }

    def check(self, out: dict) -> list[str]:
        o = self.oracle
        bad = []
        curated = [(int(r["doc_id"]), r["split"]) for r in out["curated"]]
        if len(curated) != o["curated_rows"] or oracles.rows_digest(curated) != o["curated_digest"]:
            bad.append("curated corpus")
        canon = [
            (int(r["doc_id"]), int(r["component"]), int(r["canonical_id"]), bool(r["is_canonical"]))
            for r in out["canonical"]
        ]
        if len(canon) != o["canonical_rows"] or oracles.rows_digest(canon) != o["canonical_digest"]:
            bad.append("canonical map")
        return bad

    def cleanup(self, out: dict) -> None:
        self.spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (PitFeatures, CorpusCuration)}
