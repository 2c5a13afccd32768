"""The benchmark's workloads: inputs, one timed iteration, output checks.

Every iteration calls the package only through its public functions,
each call inside a span named after the layer it enters (see tracing.py).
Checks compare outputs with facts the generators computed themselves
(gen.py); from the package a check takes only the check suite's
definitions and Benford's constants, never a computed result.

Which layer each workload runs, and the end-to-end metrics a change to
that layer should move there (the other workload bypasses the layer, so
it should not move):

===========  ============================================  ======================
layer        call timed                                    moves
===========  ============================================  ======================
sources      ``sources.tables.read_table`` + count         transcripts: wall_s
profile      ``operators.profile.profile(mode="approx")``  transcripts: wall_s,
                                                           rows_per_s (when it
                                                           outlasts the manifest
                                                           run beside it)
constraints  ``operators.constraints.run_checks``, as      transcripts: wall_s
             ``run_with_manifest`` calls it
manifest     ``operators.manifest.run_with_manifest``      transcripts: wall_s,
                                                           manifest.resume_s
curation     ``operators.curation.curate_documents``       corpus: wall_s,
                                                           peak_rss_mb
incremental  ``profile_state`` + ``merge_states`` +        corpus: wall_s,
             ``digest_drift``                              peak_rss_mb
===========  ============================================  ======================
"""

from __future__ import annotations

import math
import os
import shutil
import threading
from contextlib import contextmanager
from decimal import ROUND_HALF_UP, Decimal

import gen

N_PARTS = gen.N_PARTS
# HLL++ at rsd 0.015 (approx profile) and lgConfigK 14 (state sketches,
# rsd ~0.008): accept four standard errors
PROFILE_CARD_TOL = 4 * 0.015
STATE_CARD_TOL = 4 * 0.0082
# t-digest rank error at delta 100 is well under 1%; the two merged
# digests of a KS distance can each be off by that much
DRIFT_KS_TOL = 0.03


def _half_up(x: float, nd: int) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


@contextmanager
def spanned(module, attr: str, spans, layer: str, sc):
    """Time each call that ``module`` makes to its ``attr`` as a span of
    ``layer``: how a layer called by another layer gets its own span."""
    inner = getattr(module, attr)

    def call(*args, **kwargs):
        with spans.span(layer, sc=sc):
            return inner(*args, **kwargs)

    setattr(module, attr, call)
    try:
        yield
    finally:
        setattr(module, attr, inner)


class TranscriptsJob:
    """The profile+validate job with a resume, as ``scripts/run_job.py``
    runs it: the approx profile and a manifest run over 12 of the 16
    partitions concurrently, then a resume that completes the other 4."""

    name = "transcripts_profile_validate_resume"
    master = "local[4]"
    convs = 5_000
    warm_convs = 400
    first = [str(p) for p in range(12)]

    def inputs(self, root: str, seed: int) -> tuple[dict, dict]:
        main = gen.cached(root, f"transcripts-s{seed}-c{self.convs}",
                          lambda out: gen.transcripts(out, self.convs, seed))
        # the warm-up table has its own seed, so the timed pass cannot
        # reuse anything computed on it
        warm = gen.cached(root, f"transcripts-s{seed + 7919}-c{self.warm_convs}",
                          lambda out: gen.transcripts(out, self.warm_convs, seed + 7919))
        return {"path": main[0], "facts": main[1]}, {"path": warm[0], "facts": warm[1]}

    @staticmethod
    def checks():
        from datapatterns_spark.sources.transcripts import transcript_check_suite

        return transcript_check_suite()

    def expected_verdicts(self, facts: dict) -> dict:
        """(partition, check) -> (passed, violation_count, metric)."""
        from datapatterns_spark.operators.benford import CRITICAL_1, EXPECTED

        out = {}
        for p in range(N_PARTS):
            part = str(p)
            for name, n in facts["violations"][part].items():
                out[(part, name)] = (n == 0, n, None)
            hist = facts["turn_hist"][part]
            tot = sum(hist)
            for c in self.checks():
                if c.kind != "stat":
                    continue
                prm = c.params
                if prm["op"] == "benford":
                    firsts = [0] * 10
                    for v, k in enumerate(hist):
                        if v:
                            firsts[int(str(v)[0])] += k
                    n = sum(firsts)
                    chi = sum(
                        (_half_up(firsts[b] / n * 100, 1) - EXPECTED[1][b]) ** 2
                        / EXPECTED[1][b]
                        for b in range(1, 10)
                    )
                    metric = _half_up(chi, 3)
                    out[(part, c.name)] = (metric <= CRITICAL_1, 0, metric)
                    continue
                bins, lo, hi = prm["bins"], prm["lo"], prm["hi"]
                width = (hi - lo) / bins
                counts = [0] * bins
                for v, k in enumerate(hist):
                    counts[min(max(math.floor((v - lo) / width), 0), bins - 1)] += k
                f = [c_ / tot for c_ in counts]
                base = [prm["baseline"].get(b, 0.0) for b in range(bins)]
                if prm["op"] == "psi":
                    eps = 1e-6
                    m = sum((max(a, eps) - max(b, eps)) * math.log(max(a, eps) / max(b, eps))
                            for a, b in zip(f, base))
                else:
                    ca = cb = m = 0.0
                    for a, b in zip(f, base):
                        ca += a
                        cb += b
                        m = max(m, abs(ca - cb))
                metric = _half_up(m, 6)
                out[(part, c.name)] = (metric <= prm["threshold"], 0, metric)
        return out

    def check_verdicts(self, rows, facts: dict) -> list[str]:
        exp = self.expected_verdicts(facts)
        got = {(r["partition"], r["check_name"]): r for r in rows}
        bad = []
        if len(rows) != len(got):
            bad.append(f"{len(rows) - len(got)} duplicated verdict rows")
        for key, (passed, count, metric) in sorted(exp.items()):
            r = got.get(key)
            if r is None:
                bad.append(f"missing verdict {key}")
                continue
            tol = 2e-6 if key[1] != "turn_benford" else 2e-3
            if (r["passed"] != passed or r["violation_count"] != count
                    or (metric is not None and abs(r["metric"] - metric) > tol)):
                bad.append(f"verdict {key}: got {r['passed']}/{r['violation_count']}/"
                           f"{r['metric']}, expected {passed}/{count}/{metric}")
        bad.extend(f"unexpected verdict {k}" for k in set(got) - set(exp))
        return bad

    @staticmethod
    def read(spark, spans, path: str):
        from datapatterns_spark.sources.tables import read_table

        with spans.span("sources", sc=spark.sparkContext):
            df = read_table(spark, path)
            df.count()
        return df

    def iteration(self, spark, spans, inp: dict, out_dir: str) -> dict:
        from pyspark.sql import functions as F

        from datapatterns_spark.operators import manifest
        from datapatterns_spark.operators.profile import profile

        sc = spark.sparkContext
        df = self.read(spark, spans, inp["path"])
        res: dict = {}
        parent = spans.current()

        def validate(frame, parent=None):
            with spans.span("manifest", parent=parent, sc=sc) as sp:
                res["verdicts"] = manifest.run_with_manifest(
                    frame, self.checks(), partition_col="part", output_path=out_dir,
                    key_cols=["conv_id", "turn_idx"], batch_size=len(self.first),
                    snapshot_id="perfbench",
                ).collect()
            return sp["end"] - sp["start"]

        errors: list[Exception] = []

        def first_pass():
            try:
                validate(df.filter(F.col("part").isin(self.first)), parent)
            except Exception as e:  # re-raised in the caller's thread
                errors.append(e)

        with spanned(manifest, "run_checks", spans, "constraints", sc):
            t = threading.Thread(target=first_pass)
            t.start()
            try:
                with spans.span("profile", sc=sc):
                    res["profile"] = profile(df.drop("part"), mode="approx").collect()
            finally:
                t.join()
            if errors:
                raise errors[0]
            res["resume_s"] = validate(df)
        return res

    def check(self, res: dict, facts: dict, spark, out_dir: str) -> list[str]:
        bad = self.check_verdicts(res["verdicts"], facts)
        got = {r["attribute"]: r for r in res["profile"]}
        for attr, exp in facts["profile"].items():
            r = got.get(attr)
            if r is None:
                bad.append(f"profile: no row for {attr}")
                continue
            for k in ("rec_count", "fill_count"):
                if r[k] != exp[k]:
                    bad.append(f"profile {attr}.{k}: {r[k]} != {exp[k]}")
            if abs(r["cardinality"] - exp["cardinality"]) > PROFILE_CARD_TOL * exp["cardinality"] + 1:
                bad.append(f"profile {attr}.cardinality: {r['cardinality']} vs {exp['cardinality']}")
        manifest = spark.read.parquet(f"{out_dir}/manifest").collect()
        complete = sorted(r["partition"] for r in manifest if r["status"] == "COMPLETE")
        if complete != sorted(str(p) for p in range(N_PARTS)):
            bad.append(f"manifest: COMPLETE rows {complete}")
        expected = sum(sum(v.values()) for v in facts["violations"].values())
        n_viol = spark.read.parquet(f"{out_dir}/violations").count()
        if n_viol != expected:
            bad.append(f"violations: {n_viol} rows written, {expected} planted")
        return bad


class CorpusCurateState:
    """One curation call (duplicate-line gate, winnowed span cut, exact
    dedup, redaction) and the incremental state build, merge and drift.

    MinHash dedup would triple the cost of a run (measured 8.5 s of a 13 s
    warm curation call, and more on the cold set-up pass), which the
    run-time budget of the benchmark cannot hold."""

    name = "corpus_curate_state"
    master = "local[4]"
    docs = 200
    warm_docs = 40
    base_parts = ["0", "1", "2", "3"]

    def inputs(self, root: str, seed: int) -> tuple[dict, dict]:
        main = gen.cached(root, f"corpus-s{seed}-d{self.docs}",
                          lambda out: gen.corpus(out, self.docs, seed))
        warm = gen.cached(root, f"corpus-s{seed + 7919}-d{self.warm_docs}",
                          lambda out: gen.corpus(out, self.warm_docs, seed + 7919))
        return {"path": main[0], "facts": main[1]}, {"path": warm[0], "facts": warm[1]}

    def iteration(self, spark, spans, inp: dict, out_dir: str) -> dict:
        from pyspark.sql import functions as F

        from datapatterns_spark.operators.curation import curate_documents
        from datapatterns_spark.operators.incremental import (
            digest_drift, merge_states, profile_state,
        )

        sc = spark.sparkContext
        # an explicit schema: no footer-reading job outside the layers
        docs = spark.read.schema(gen.CORPUS_SCHEMA).parquet(inp["path"])
        with spans.span("curation", sc=sc):
            curate_documents(
                docs, max_dup_line_frac=0.3,
                cut_span_n=13, cut_span_min_count=5, cut_span_winnow_w=8,
                dedup="exact", redact=True,
            ).write.parquet(f"{out_dir}/curated")
        with spans.span("incremental", sc=sc):
            profile_state(docs, partition_col="part", quantile_delta=100.0).write.parquet(
                f"{out_dir}/states")
            states = spark.read.parquet(f"{out_dir}/states")
            merged = merge_states(states).collect()
            base = states.filter(F.col("partition").isin(self.base_parts))
            cur = states.filter(~F.col("partition").isin(self.base_parts))
            drift = digest_drift(base, cur).collect()
        return {"merged": merged, "drift": drift}

    def check(self, res: dict, facts: dict, spark, out_dir: str) -> list[str]:
        bad = []
        kept = {r["doc_id"]: r["n_tokens_cut"]
                for r in spark.read.parquet(f"{out_dir}/curated")
                .select("doc_id", "n_tokens_cut").collect()}
        for g in facts["exact_groups"]:
            n = sum(d in kept for d in g)
            if n != 1:
                bad.append(f"exact-duplicate group {g[:3]}...: {n} survivors")
        bad.extend(f"junk doc {d} survived" for d in facts["junk"] if d in kept)
        bad.extend(f"unique doc {d} dropped" for d in facts["unique_clean"] if d not in kept)
        boiler = set(facts["boilerplate"])
        for d, cut in kept.items():
            if (cut > 0) != (d in boiler):
                bad.append(f"doc {d}: {cut} tokens cut, boilerplate={d in boiler}")
        got = {r["attribute"]: r for r in res["merged"]}
        for attr, exp in facts["profile"].items():
            r = got.get(attr)
            if r is None:
                bad.append(f"merged state: no row for {attr}")
                continue
            for k in ("rec_count", "fill_count"):
                if r[k] != exp[k]:
                    bad.append(f"merged {attr}.{k}: {r[k]} != {exp[k]}")
            if abs(r["cardinality"] - exp["cardinality"]) > STATE_CARD_TOL * exp["cardinality"] + 1:
                bad.append(f"merged {attr}.cardinality: {r['cardinality']} vs {exp['cardinality']}")
        ks = {r["attribute"]: r["ks"] for r in res["drift"]}
        if ks.get("n_tokens") is None or abs(ks["n_tokens"] - facts["n_tokens_ks"]) > DRIFT_KS_TOL:
            bad.append(f"drift n_tokens ks {ks.get('n_tokens')} vs {facts['n_tokens_ks']:.4f}")
        return bad


WORKLOADS = {w.name: w for w in (TranscriptsJob(), CorpusCurateState())}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
