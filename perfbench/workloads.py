"""The two workloads.  Each one builds, plans and executes what a user
job would, one pass at a time, and checks every pass against expected
values that were computed off the code under test (see inputs.py).

A workload has four steps: ``prepare`` makes or finds its cached inputs
(not timed as set-up), ``open`` reads them (set-up), ``run_pass`` is one
timed pass, and ``check`` compares a pass's output with the expected
values (not timed).  ``layer_metrics`` turns the spans and the event log
of a traced run into the workload's own per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import functions as F

from . import inputs
from .trace import TRACE_PREFIX, EventLog, Tracer

# Table sizes at scale 1 (README.md has the per-pass times they give).
# Passes are mostly fixed cost (Python-side plan building, planning,
# codegen, commits), so the tables are small: more rows would lengthen
# the run, not change what it measures.
SEQ_ROWS = 100_000
RESUME_ROWS = 10_000
MINHASH_ROWS = 500
# ks_approx builds one aggregate column per grid point, so its cost grows
# with the grid, not the rows: about 11 s a warm pass at the default 256
# points on a 4-core box, 4.4 s at 64, 2.2 s at 32.  32 keeps the run
# inside its time budget, and the per-point cost still dominates the
# drift checks.
KS_GRID = 32
MINHASH_PLANTED = 20
RECORD_ROWS = 10_000
# a held-out seed: gain claims are checked on it as well, and it is never
# used while tuning a change
HELD_OUT_SEED = 7919


def _scaled(n: int, scale: float, floor: int = 200) -> int:
    return max(floor, int(n * scale))


@contextmanager
def _described(spark, tr: Tracer, label: str):
    """Tag the jobs of a traced query so the event log can find them."""
    if not tr.active:
        yield
        return
    spark.sparkContext.setJobDescription(TRACE_PREFIX + label)
    try:
        yield
    finally:
        spark.sparkContext.setJobDescription(None)


def _force_plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


def _diff(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, expected {want!r}"]


class _Collected:
    """Stands in for an already collected DataFrame, so the program's own
    ``collect_report`` merges rows that the traced pass collected one
    query at a time."""

    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class Workload:
    name = ""
    rows = 0                    # input rows one pass reads
    # The first pass in a fresh JVM runs 1.5-3x slower than later ones
    # (codegen, JIT, Python worker start).
    warm_passes = 1

    def __init__(self, seed: int, scale: float, work: str):
        self.seed = seed
        self.scale = scale
        self.work = work

    def layer_metrics(self, tr: Tracer, log: EventLog, n: int,
                      outs: list) -> dict:
        return {}


class SeqVerdicts(Workload):
    """The north-star verdict job: row rules, per-source verdicts, token
    ranges and the uniqueness shuffle over the injected sequence table."""

    name = "seq_verdicts"
    # The short verdict pass keeps getting cheaper while the JIT compiles:
    # in fresh processes, passes 2-8 spent 10-40% more wall time and CPU
    # than later ones, and how fast a process got there varied from run
    # to run.  Measuring from the ninth pass on keeps that out of the
    # medians.
    warm_passes = 8

    def prepare(self, cache):
        self.rows = _scaled(SEQ_ROWS, self.scale)
        self.path = inputs.sequences(cache, self.seed, self.rows, "flat")
        self.expected = inputs.read_expected(self.path)

    def open(self, spark):
        from validr_spark.datagen import make_sources_dim

        self.seq = spark.read.parquet(self.path)
        self.dim = make_sources_dim(spark)

    def run_pass(self, spark, tr):
        from validr_spark.datagen import SOURCES, VOCAB
        from validr_spark.operators.sequences import (build_report_queries,
                                                      collect_report)

        with tr.span("sequences.build"):
            qs = build_report_queries(self.seq, self.dim, vocab=VOCAB,
                                      maxlen=8192, sources=SOURCES,
                                      max_n_tok=8192)
        if not tr.active:
            return collect_report(qs)
        with tr.span("spark.plan"):
            for q in ("agg1", "agg2", "dup"):
                _force_plan(qs[q])
        done = dict(qs)
        for q, span in (("agg1", "sequences.agg1"), ("agg2", "sequences.agg2"),
                        ("dup", "uniqueness.dup")):
            with tr.span(span), _described(spark, tr, q):
                done[q] = _Collected(qs[q].collect())
        return collect_report(done)

    def check(self, spark, rep, first):
        want = self.expected
        errs = _diff("dup_keys", rep["dup_keys"], want["dup_keys"])
        errs += _diff("n_keys", rep["n_keys"], want["n_keys"])
        got = {r["source"]: r for r in rep["per_source"]}
        errs += _diff("sources", sorted(got), sorted(want["per_source"]))
        for src, exp in want["per_source"].items():
            for k in ("n_rows", "n_tokens", "n_row_violations", "n_bad_rows",
                      "n_orphans", "n_inconsistent", "n_token_violations"):
                errs += _diff(f"{src}.{k}", int(got.get(src, {}).get(k) or 0),
                              exp[k])
        return errs

    def layer_metrics(self, tr, log, n, outs):
        plans = log.traced_plans()
        explode = log.metric(plans.get("agg2", []), "number of output rows",
                             "Generate") / n
        bad = sum(sum(r["n_token_violations"] for r in rep["per_source"])
                  for rep in outs) / max(1, len(outs))
        agg_out, scan_out = log.partial_agg_ratio(plans.get("dup", []))
        return {
            "sequences.explode_rows": (explode, "count"),
            "sequences.bad_tokens": (bad, "count"),
            "sequences.explode_useful_ratio":
                (bad / explode if explode else 0.0, "ratio"),
            "uniqueness.partial_agg_ratio":
                (agg_out / scan_out if scan_out else 0.0, "ratio"),
        }


class SeqResumeDrift(Workload):
    """The rest of the sequence-table job, after the verdicts: a resumable
    validation run into fresh sink and manifest directories, a resume that
    finds nothing pending, then the drift checks against a clean table
    (KS on n_tok, χ² on the token histogram) and token-n-gram minhash
    over a small slice with planted copies."""

    PHASES = ("parts_scan", "manifest_read", "validate_write", "metrics",
              "manifest_commit")

    def prepare(self, cache):
        n = _scaled(RESUME_ROWS, self.scale)
        m = _scaled(MINHASH_ROWS, self.scale, floor=100)
        planted = min(MINHASH_PLANTED, m // 10)
        self.path = inputs.sequences(cache, self.seed, n, "by_source")
        self.ref_path = inputs.clean_sequences(cache, self.seed + 1_000_003,
                                               n)
        self.slice_path = inputs.minhash_slice(
            cache, self.seed + 2_000_003, m, planted)
        self.rows = 2 * n + m + planted
        self.expected = {
            **inputs.read_expected(self.path),
            **inputs.drift_expected(cache, self.path, self.ref_path,
                                    KS_GRID),
            "pairs": inputs.read_expected(self.slice_path)["pairs"]}
        self.n = 0

    def open(self, spark):
        self.seq = spark.read.parquet(self.path)
        self.ref = spark.read.parquet(self.ref_path)
        self.slice = spark.read.parquet(self.slice_path)

    def run_pass(self, spark, tr):
        out = self._resume(spark, tr)
        out.update(self._drift(spark, tr))
        return out

    def _resume(self, spark, tr):
        from validr_spark.compiler import SparkCompiler
        from validr_spark.datagen import sequences_schema
        from validr_spark.plans.manifest import ResumableValidation

        self.n += 1
        out = os.path.join(self.work, "resume", f"pass-{self.n}")
        sink, manifest = (os.path.join(out, "violations"),
                          os.path.join(out, "manifest"))
        sc = spark.sparkContext
        group = f"resume-{self.n}"
        if tr.active:
            sc.setJobGroup(group, TRACE_PREFIX + "resume")
        try:
            with tr.span("manifest.run"):
                # the library's default batch size: one batch for the
                # table's six sources
                rv = ResumableValidation(
                    SparkCompiler().compile(sequences_schema()),
                    part_col="source", manifest_path=manifest,
                    violations_path=sink, input_path=self.path)
                first = rv.run(spark, self.seq, id_cols=["doc_id"])
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            with tr.span("manifest.resume_noop"):
                again = rv.run(spark, self.seq, id_cols=["doc_id"])
        finally:
            if tr.active:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setJobDescription(None)
        return {"first": first, "again": again, "out": out, "jobs": jobs,
                "sink": sink, "manifest": manifest}

    def _drift(self, spark, tr):
        from validr_spark.operators.dedup import minhash_candidates_tokens
        from validr_spark.operators.drift import (chi_square_counts,
                                                  ks_approx, token_histogram)

        with tr.span("drift.build"):
            qs = {"ks": ks_approx(self.ref, self.seq, "n_tok",
                                  grid_size=KS_GRID),
                  "chi2": chi_square_counts(token_histogram(self.seq),
                                            token_histogram(self.ref)),
                  "minhash": minhash_candidates_tokens(self.slice)}
        if tr.active:
            with tr.span("spark.plan"):
                for q in qs.values():
                    _force_plan(q)
        out = {}
        for q, span in (("ks", "drift.ks"), ("chi2", "drift.chi2"),
                        ("minhash", "dedup.minhash")):
            with tr.span(span), _described(spark, tr, q):
                out[q] = qs[q].collect()
        return out

    def check(self, spark, res, first):
        try:
            con = inputs.duckdb_conn()
            rows = con.execute(
                "SELECT part, n_rows, n_violations, n_bad_rows, verdict "
                f"FROM {inputs.parquet_scan(res['manifest'])}").fetchall()
            res["sink_files"], res["sink_bytes"] = _tree_size(res["sink"])
        finally:
            shutil.rmtree(res["out"], ignore_errors=True)
        return self._check_resume(res, rows) + self._check_drift(res)

    def _check_resume(self, res, rows):
        want = self.expected["per_source"]
        errs = _diff("parts processed", res["first"]["n_parts_processed"],
                     len(want))
        errs += _diff("parts pending on resume",
                      res["again"]["n_parts_pending"], 0)
        got = {r[0]: r[1:] for r in rows}
        errs += _diff("manifest parts", sorted(got), sorted(want))
        for part, exp in want.items():
            errs += _diff(f"manifest {part}", got.get(part), (
                exp["n_rows"], exp["manifest_violations"],
                exp["manifest_bad_rows"],
                "fail" if exp["manifest_violations"] else "pass"))
        # cross-workload: the resumable run's violation total is the
        # verdict job's (row-level + token) total on the same rows
        verdict_total = sum(e["n_row_violations"] + e["n_token_violations"]
                            for e in want.values())
        errs += _diff("manifest total vs verdict total",
                      sum(r[2] for r in rows), verdict_total)
        return errs

    def _check_drift(self, out):
        want = self.expected
        ks = out["ks"][0]["ks"]
        errs = []
        # the grid statistic can never exceed the exact sup; it may differ
        # from the exact-grid one only where percentile_approx's rank error
        # (1e-4 of the rows) moves a grid point
        if ks > want["ks"] + 1e-9 or abs(ks - want["ks_grid"]) > 0.01:
            errs.append(f"ks: got {ks}, exact {want['ks']}, "
                        f"on the grid {want['ks_grid']}")
        chi = out["chi2"][0]
        if abs(chi["chi2"] - want["chi2"]) > 1e-7 * max(1.0, want["chi2"]):
            errs.append(f"chi2: got {chi['chi2']}, expected {want['chi2']}")
        errs += _diff("dof", chi["dof"], want["dof"])
        got = sorted((r["id_a"], r["id_b"], r["n_bands_matched"])
                     for r in out["minhash"])
        errs += _diff("minhash pairs", got,
                      sorted((a, b, 16) for a, b in want["pairs"]))
        return errs

    def layer_metrics(self, tr, log, n, outs):
        m = {f"manifest.{p}_s": (
            sum(o["first"]["phase_seconds"][p] for o in outs) / len(outs), "s")
            for p in self.PHASES}
        for key, unit in (("jobs", "count"), ("sink_files", "count"),
                          ("sink_bytes", "bytes")):
            name = "manifest.spark_jobs" if key == "jobs" else f"manifest.{key}"
            m[name] = (sum(o[key] for o in outs) / len(outs), unit)
        return m


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


class RecordsValidate(Workload):
    """validr's own surface: string coercion, url, nested dict, list of
    enum, and the Arrow-UDF ``pyvalidate`` backend (email, datetime)."""

    SAMPLE = 256        # rows re-validated one by one with pyvalidate

    def prepare(self, cache):
        self.rows = _scaled(RECORD_ROWS, self.scale)
        self.path = inputs.records(cache, self.seed, self.rows)
        self.expected = inputs.read_expected(self.path)["by_rule"]

    def open(self, spark):
        self.df = spark.read.parquet(self.path)
        self.schema = inputs.record_schema()

    def run_pass(self, spark, tr):
        from validr_spark.compiler import SparkCompiler

        res = SparkCompiler().compile(self.schema).apply(self.df, ["rid"])
        q = res.violations().groupBy("rule_id").count()
        if tr.active:
            with tr.span("spark.plan"):
                _force_plan(q)
        with tr.span("records.collect"), _described(spark, tr, "records"):
            counts = {r["rule_id"]: r["count"] for r in q.collect()}
        return counts, res

    def check(self, spark, out, first):
        counts, res = out
        errs = _diff("violations by rule", dict(sorted(counts.items())),
                     self.expected)
        if first:
            errs += self._check_sample(res)
        return errs

    def _check_sample(self, res) -> list[str]:
        """Per-row parity with the pure-Python validator on a fixed
        sample: same failing fields, same positions and messages."""
        import pyarrow.dataset as pds

        from validr_spark import T
        from validr_spark.errors import Invalid
        from validr_spark.pyvalidate import Compiler

        pc = Compiler()
        per_field = {name: pc.compile(T.dict(**{name: sub}))
                     for name, sub in inputs.record_fields().items()}
        rows = (pds.dataset(self.path, format="parquet")
                .to_table(filter=pds.field("rid") < self.SAMPLE).to_pylist())
        want = set()
        for row in rows:
            for name, fn in per_field.items():
                try:
                    fn({name: row[name]})
                except Invalid as e:
                    want.add((row["rid"], e.position, e.message))
        got = {(r["rid"], r["position"], r["message"]) for r in
               res.violations().filter(F.col("rid") < self.SAMPLE)
               .select("rid", "position", "message").collect()}
        return _diff("pyvalidate sample", sorted(got), sorted(want))


class ResumeDriftRecords(Workload):
    """Everything the benchmark runs besides the verdict job, in one pass:
    the sequence write path with the drift and minhash checks, then the
    record validation.  They share a workload because every run pays a
    JVM start and a cold pass, which the time budget allows twice per
    round, not four times (README.md)."""

    name = "resume_drift_records"
    # one warm-up: a second would cost another 15-20 s a run (README.md)

    def __init__(self, seed: int, scale: float, work: str):
        super().__init__(seed, scale, work)
        self.parts = [SeqResumeDrift(seed, scale, work),
                      RecordsValidate(seed, scale, work)]

    def prepare(self, cache):
        for p in self.parts:
            p.prepare(cache)
        self.rows = sum(p.rows for p in self.parts)

    def open(self, spark):
        for p in self.parts:
            p.open(spark)

    def run_pass(self, spark, tr):
        return [p.run_pass(spark, tr) for p in self.parts]

    def check(self, spark, outs, first):
        return [e for p, out in zip(self.parts, outs)
                for e in p.check(spark, out, first)]

    def layer_metrics(self, tr, log, n, outs):
        m = {}
        for i, p in enumerate(self.parts):
            m.update(p.layer_metrics(tr, log, n, [o[i] for o in outs]))
        return m


WORKLOADS = {w.name: w for w in (SeqVerdicts, ResumeDriftRecords)}
