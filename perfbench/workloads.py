"""The benchmark's workloads, driven through the package's public
functions only.

Each workload has a set-up (inputs generated from the seed, then a
warm-up on those same inputs), an op that the closed loop in ``run.py``
repeats, an output check run after the timed window, and a traced probe
that times calls into single layers. See README.md for why each
workload exists and which layers it covers.
"""

from __future__ import annotations

import csv
import glob
import math
import os
import statistics
import time

import ehr_gen
import tables_gen

CV_MODELS = ["NaiveBayes"]
# The first warm-up op of ``ehr_train_cv`` runs these models on the
# extract of a fixed seed, whose mean ROC-AUC per model is known: a
# defect that moves the AUC the same way on every op shows there.
CANARY_SEED = 0
CANARY_AUC = {"WordMatching": 0.7525923349874755, "NaiveBayes": 0.9999424626006905}
TRACED_MODELS = ["WordMatching", "NaiveBayes", "SGDClassifier"]

# Headline queries timed by the benchmark, each with the operator layer
# it exercises (the ``operators.<layer>.op_s`` per-layer metrics).
HEADLINE_SUBSET = {
    "rel_q1_pricing": "rel",
    "rel_q5_region_revenue": "rel",
    "rel_pareto_share": "evaluate",
    "events_sessionize": "window",
    "text_top_words": "textstats",
    "dedup_lsh_band_pairs": "dedup",
    "search_bm25_topk": "search",
    "graph_pagerank_top": "graph",
    "assoc_rules_pairs": "assoc",
}
HEADLINE_SF = 0.01

# Per-layer metrics, by name and unit. Every traced run reports all of
# them; a layer that a workload does not call reads 0 there.
LAYER_METRICS = {
    "trace.items_per_s": "1/s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_s_per_op": "s",
    "spark.executor_busy_frac": "ratio",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB",
    "spark.gc_s_per_op": "s",
    "sources.readers.read_s": "s",
    "operators.prep.merge_s": "s",
    "functions.text.clean_s": "s",
    "functions.stemmer.stem_s": "s",
    "sources.writers.write_s": "s",
    "plans.features.tfidf_fit_s": "s",
    "plans.features.tfidf_apply_s": "s",
    "plans.models.fit_s.NaiveBayes": "s",
    "plans.models.fit_s.SGDClassifier": "s",
    "plans.models.score_s": "s",
    "operators.evaluate.curve_s": "s",
    "operators.evaluate.auc_s": "s",
    "operators.evaluate.jobs_per_assess": "count",
    **{f"spark.jobs_per_fold.{m}": "count" for m in TRACED_MODELS},
    "plans.harness.parallel_gain": "ratio",
    "plans.queries.build_s": "s",
    "plans.queries.exec_s": "s",
    "spark.jobs_in_build_per_query": "count",
    "spark.jobs_per_query": "count",
    **{f"operators.{g}.op_s": "s" for g in dict.fromkeys(HEADLINE_SUBSET.values())},
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload: ``setup()``, then the closed loop's ops, then
    ``check()``; ``probe(recorder)`` adds the traced run's per-layer
    timings.

    ``op()`` returns the next op as a ``(name, fn)`` pair; ``fn()`` runs
    it and returns the items it processed.
    """

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.errors: list[str] = []
        # the traced run's OpRecorder; set once the timed window starts
        self.rec = None

    def fail(self, msg: str) -> None:
        self.errors.append(msg)

    def check(self) -> int:
        """Check every output; return how many timed ops failed."""
        raise NotImplementedError


class EP1:
    """The paper's EP1 through the package's public functions: read the
    `;`-CSV extract, merge per patient and recode the label, fix
    artefacts and clean, stem, then a partitioned `|`-CSV write."""

    def __init__(self, spark):
        import pyspark.sql.functions as F

        from diagnosisextraction_ml_spark.functions.stemmer import stem_text_udf
        from diagnosisextraction_ml_spark.functions.text import fix_xml_artefacts, simple_cleaning
        from diagnosisextraction_ml_spark.operators.prep import merge_on_column, recode_label
        from diagnosisextraction_ml_spark.sources.readers import read_ehr_entries
        from diagnosisextraction_ml_spark.sources.writers import write_pipe_csv

        def read(path):
            return read_ehr_entries(spark, path)

        def merge(path):
            return recode_label(merge_on_column(read(path)), src="Outcome", dst="Outcome")

        def clean(path):
            return merge(path).withColumn(
                "Text", simple_cleaning(fix_xml_artefacts(F.col("Text"))))

        def stem(path):
            return clean(path).withColumn("Text", stem_text_udf(F.col("Text"))).select(
                "Text", "PATNR", "Outcome")

        # cumulative prefixes of the pipeline, timed to the noop sink by the probe
        self.prefixes = {"read": read, "merge": merge, "clean": clean, "stem": stem}
        self._write = write_pipe_csv

    def run(self, src: str, out: str) -> None:
        self._write(self.prefixes["stem"](src), out)

    @staticmethod
    def check(out: str, pats: list) -> str | None:
        """Compare an output directory with the reference EP1; None if equal."""
        rows = []
        for part in sorted(glob.glob(os.path.join(out, "part-*"))):
            with open(part, encoding="utf-8", newline="") as fh:
                rows.extend((float(r["PATNR"]), r["Outcome"], r["Text"])
                            for r in csv.DictReader(fh, delimiter="|"))
        if len(rows) != len(pats):
            return f"{out}: {len(rows)} rows for {len(pats)} patients"
        if ehr_gen.digest(rows) != ehr_gen.digest(ehr_gen.ReferenceEP1().rows(pats)):
            return f"{out}: output digest differs from the reference EP1"
        return None

    def probe(self, rec, work: str, seed: int, fail) -> dict:
        """Self time of each step: every cumulative prefix is timed to the
        noop sink and the previous prefix's time subtracted; medians of
        three extracts."""
        steps = {k: [] for k in (*self.prefixes, "full")}
        for n in range(1, 4):
            src = os.path.join(work, "in", f"extract{n}.csv")
            pats = ehr_gen.write_extract(src, seed, n)
            for name, prefix in self.prefixes.items():
                t0 = time.perf_counter()
                rec.run(f"ep1_{name}_{n}", lambda: _noop(prefix(src)), kind="probe")
                steps[name].append(time.perf_counter() - t0)
            out = os.path.join(work, "out", f"probe{n}")
            t0 = time.perf_counter()
            rec.run(f"ep1_full_{n}", lambda: self.run(src, out), kind="probe")
            steps["full"].append(time.perf_counter() - t0)
            err = self.check(out, pats)
            if err:
                fail(err)
        med = {k: statistics.median(v) for k, v in steps.items()}
        return {
            "sources.readers.read_s": med["read"],
            "operators.prep.merge_s": med["merge"] - med["read"],
            "functions.text.clean_s": med["clean"] - med["merge"],
            "functions.stemmer.stem_s": med["stem"] - med["clean"],
            "sources.writers.write_s": med["full"] - med["stem"],
        }


def _trapezoid_auc(curve: list[dict]) -> float:
    """ROC AUC from a fold's tie-collapsed curve rows, from (0, 0) on."""
    pts = [(0.0, 0.0)] + sorted((c["fpr"], c["tpr"]) for c in curve)
    return sum((x1 - x0) * (y0 + y1) / 2.0 for (x0, y0), (x1, y1) in zip(pts, pts[1:]))


class EhrTrainCV(Workload):
    """The paper's pipeline on a generated extract: EP1 builds the
    patient cache in set-up, then each op is EP2, the CV harness over
    that cache. Items are fold fits."""

    def _cache(self, seed: int, name: str):
        """EP1 on extract 0 of ``seed``, checked, read back as the
        persisted, binary-labelled patient cache."""
        from diagnosisextraction_ml_spark.operators.prep import binarize_label
        from diagnosisextraction_ml_spark.sources.readers import read_patient_cache

        src = os.path.join(self.work, "in", f"{name}.csv")
        pats = ehr_gen.write_extract(src, seed, 0)
        path = os.path.join(self.work, "out", name)
        self.ep1.run(src, path)
        err = EP1.check(path, pats)
        if err:
            self.fail(err)
        df = binarize_label(read_patient_cache(self.spark, path), "Outcome", "label").persist()
        n_rows = df.count()
        if n_rows != len(pats):
            self.fail(f"{name}: read back {n_rows} rows for {len(pats)} patients")
        return df

    def setup(self) -> None:
        from diagnosisextraction_ml_spark.plans.harness import CVConfig, TextClassificationHarness

        self.CVConfig, self.Harness = CVConfig, TextClassificationHarness
        self.ep1 = EP1(self.spark)
        self.results: list[dict] = []
        # warm-up 1: the canary extract, checked against fixed AUCs
        self.df = self._cache(CANARY_SEED, "canary")
        self._op(list(CANARY_AUC))
        self.df.unpersist()
        # warm-ups 2 and 3: the run's own extract, the reference for the
        # timed ops; op times still fall over the first two ops on it
        self.df = self._cache(self.seed, "patient_cache")
        for _ in range(2):
            self._op()
        self.warmup, self.results = self.results, []

    def _harness(self, models):
        return self.Harness(self.df, models, self.CVConfig(rounds=1, folds=2))

    def _op(self, models=CV_MODELS) -> int:
        h = self._harness(models)
        results = h.fit_models()
        summary = {m: s["roc_auc_mean"] for m, s in h.summary().items()}
        self.results.append({"summary": summary, "folds": results})
        return sum(len(v) for v in results.values())

    def op(self):
        return "cv", self._op

    def check(self) -> int:
        canary, own = self.warmup[0]["summary"], self.warmup[1]["summary"]
        for m, auc in CANARY_AUC.items():
            if not math.isclose(canary[m], auc, abs_tol=1e-9):
                self.fail(f"canary {m} mean ROC-AUC {canary[m]!r}, expected {auc!r}")
        # the generator's class signal is strong: a learned model
        # separates the classes far above chance on every seed
        if not own["NaiveBayes"] >= 0.9:
            self.fail(f"NaiveBayes mean ROC-AUC {own['NaiveBayes']} below 0.9")
        failed = 0
        for i, res in enumerate([*self.warmup, *self.results]):
            n_errors = len(self.errors)
            if i > 0 and res["summary"] != own:
                self.fail(f"mean ROC-AUC {res['summary']} differs from warm-up {own}")
            for folds in res["folds"].values():
                for f in folds:
                    if not math.isclose(_trapezoid_auc(f.curve), f.roc_auc, abs_tol=1e-9):
                        self.fail(f"{f.model} fold {f.fold}: curve area differs from ROC-AUC")
            failed += len(self.errors) > n_errors and i >= len(self.warmup)
        return failed

    def probe(self, rec) -> dict:
        import pyspark.sql.functions as F
        from pyspark.ml import Pipeline

        from diagnosisextraction_ml_spark.operators.evaluate import (
            auc_rank,
            auc_trapezoid,
            curve_by_threshold,
        )
        from diagnosisextraction_ml_spark.operators.prep import assign_folds
        from diagnosisextraction_ml_spark.plans.models import build_model_pipeline

        out: dict[str, float] = {}
        seq_wall = 0.0
        for m in TRACED_MODELS:
            t0 = time.perf_counter()
            rec.run(f"fold_seq_{m}", lambda: self._harness([m]).fit_models(parallelism=1),
                    kind="probe")
            if m in CV_MODELS:
                seq_wall += time.perf_counter() - t0
            out[f"spark.jobs_per_fold.{m}"] = len(rec.ops[-1]["jobs"]) / 2
        out["plans.harness.parallel_gain"] = seq_wall / statistics.median(
            op["end"] - op["start"] for op in rec.ops if op["kind"] == "op")

        # One fold, the harness's steps one at a time (fold_0 == 0 is the test side).
        base = assign_folds(self.df, "PATNR", n_folds=2, rounds=1).persist()
        train = base.filter(F.col("fold_0") != 0)
        test = base.filter(F.col("fold_0") == 0)
        step: dict[str, list[float]] = {}

        def timed(name, fn):
            t0 = time.perf_counter()
            val = rec.run(f"step_{name}_{len(rec.ops)}", fn, kind="probe")
            step.setdefault(name, []).append(time.perf_counter() - t0)
            return val

        assess_jobs = []
        for m in TRACED_MODELS:
            stages = build_model_pipeline(m).getStages()
            if m == "WordMatching":
                # rule matching: nothing to fit, it scores the raw text
                model, te = Pipeline(stages=stages).fit(train), test
            else:
                # TF-IDF stages, then the classifier and its score extraction
                feats = timed("tfidf_fit", lambda: Pipeline(stages=stages[:-2]).fit(train))
                tr, te = feats.transform(train).persist(), feats.transform(test).persist()
                timed("tfidf_apply", lambda: (_noop(tr), _noop(te)))
                model = timed(f"fit.{m}", lambda: Pipeline(stages=stages[-2:]).fit(tr))
            scored = model.transform(te).select(
                F.col("p1").alias("score"), F.col("label").alias("label")).persist()
            timed("score", lambda: _noop(scored))
            n_jobs = sum(len(op["jobs"]) for op in rec.ops)
            # the harness's assessment: curve rows, ROC-AUC, PR-AUC both ways
            curve = curve_by_threshold(scored, "score", "label")
            timed("curve", curve.collect)
            pr_pts = curve.select(F.col("tpr").alias("x"), F.col("precision").alias("y"))
            anchor = self.spark.range(1).select(F.lit(0.0).alias("x"), F.lit(1.0).alias("y"))
            timed("auc", lambda: (
                auc_rank(scored, "score", "label").collect(),
                auc_trapezoid(pr_pts, "x", "y", anchor_origin=False).collect(),
                auc_trapezoid(pr_pts.unionByName(anchor), "x", "y", anchor_origin=False).collect()))
            assess_jobs.append(sum(len(op["jobs"]) for op in rec.ops) - n_jobs)
            scored.unpersist()
            if m != "WordMatching":
                tr.unpersist()
                te.unpersist()
        base.unpersist()
        out.update(self.ep1.probe(rec, self.work, self.seed, self.fail))
        med = {k: statistics.median(v) for k, v in step.items()}
        out.update({
            "plans.features.tfidf_fit_s": med["tfidf_fit"],
            "plans.features.tfidf_apply_s": med["tfidf_apply"],
            "plans.models.fit_s.NaiveBayes": med["fit.NaiveBayes"],
            "plans.models.fit_s.SGDClassifier": med["fit.SGDClassifier"],
            "plans.models.score_s": med["score"],
            "operators.evaluate.curve_s": med["curve"],
            "operators.evaluate.auc_s": med["auc"],
            "operators.evaluate.jobs_per_assess": statistics.median(assess_jobs),
        })
        return out


class HeadlineQueries(Workload):
    """Registry queries to the noop sink; one op is one pass over them."""

    def setup(self) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from diagnosisextraction_ml_spark.plans.queries import queries

        self.Observation, self.F = Observation, F
        self.sf_dir = os.path.join(self.work, f"sf{HEADLINE_SF}")
        tables_gen.generate(self.sf_dir, self.seed, HEADLINE_SF)
        registry = queries()
        self.fns = {name: registry[name] for name in HEADLINE_SUBSET}
        # row counts by query, one dict per pass; the first warm-up
        # pass's counts are the reference for every later pass
        self.seen: list[dict[str, int]] = []
        # the second warm-up pass runs while the JIT compiles what the
        # cold first pass made hot, so neither falls in the timed window
        for _ in range(2):
            self.op()[1]()
        self.counts, again = self.seen
        self.seen = []
        for name, rows in self.counts.items():
            if rows <= 0:
                self.fail(f"{name}: warm-up returned no rows")
            if again[name] != rows:
                self.fail(f"{name}: warm-up passes returned {rows} and {again[name]} rows")

    def _run(self, name: str) -> int:
        obs = self.Observation()
        rec = self.rec
        before = rec.group_jobs() if rec else set()
        t0 = time.time()
        df = self.fns[name](self.spark, self.sf_dir).observe(
            obs, self.F.count(self.F.lit(1)).alias("rows"))
        if rec:
            rec.mark(f"{name}:build", t0, time.time(), rec.group_jobs() - before)
        _noop(df)
        if rec:
            rec.mark(name, t0, time.time(), rec.group_jobs() - before)
        return obs.get["rows"]

    def op(self):
        def run():
            self.seen.append({name: self._run(name) for name in self.fns})
            return len(self.fns)

        return "pass", run

    def probe(self, rec) -> dict:
        builds = [m for m in rec.marks if m["name"].endswith(":build")]
        queries = [m for m in rec.marks if not m["name"].endswith(":build")]
        walls: dict[str, list[float]] = {}
        for m in queries:
            walls.setdefault(HEADLINE_SUBSET[m["name"]], []).append(m["end"] - m["start"])
        build_s = statistics.mean(m["end"] - m["start"] for m in builds)
        out = {f"operators.{g}.op_s": statistics.mean(ws) for g, ws in walls.items()}
        out.update({
            "plans.queries.build_s": build_s,
            "plans.queries.exec_s": statistics.mean(
                m["end"] - m["start"] for m in queries) - build_s,
            "spark.jobs_in_build_per_query": statistics.mean(len(m["jobs"]) for m in builds),
            "spark.jobs_per_query": statistics.mean(len(m["jobs"]) for m in queries),
        })
        return out

    def check(self) -> int:
        failed = 0
        for counts in self.seen:
            bad = {n: rows for n, rows in counts.items() if rows != self.counts[n]}
            for n, rows in bad.items():
                self.fail(f"{n}: {rows} rows, the warm-up pass returned {self.counts[n]}")
            failed += bool(bad)
        return failed


WORKLOADS = {
    "ehr_train_cv": EhrTrainCV,
    "headline_queries": HeadlineQueries,
}
