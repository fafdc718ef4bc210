"""The measuring process: one workload, one fresh Spark session, warm passes.

    python3 perfbench/measure.py --workload metadata_only --data DIR \\
        --seconds 10 --trace 0 --expect ROWS:VIOLATIONS:HASH

Started by run.py on inputs gen.py wrote. A pass is read -> run_validation
-> one action that counts the violation rows and sums their xxhash64 (an
order-insensitive multiset hash). Every pass, warm-up passes included, is
checked against the expected count and hash; a pass that differs counts as
failed.

``--trace 0`` times passes for ``--seconds`` and prints the end-to-end
metrics. ``--trace 1`` prints the per-layer metrics instead: it alternates
untraced and traced passes (the tracing overhead), then calls each layer's
public function on its own, under its own Spark job group, and reads the
job, stage and task counters of that group from the Spark status store.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import common
import procstat

RUN_TS = "2026-01-01 00:00:00"
# Full passes before the timed ones, the first in a cold JVM included. The
# JVM keeps warming for about seven passes; README.md says why the warm-up
# stops after two.
WARMUP_PASSES = 2
# Timed passes per run, at least: the median of one pass is that pass.
MIN_TIMED = 2
UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
         "shuffle_write_mb": "MB", "executor_run_s": "s", "executor_cpu_s": "s"}


@dataclass
class Pass:
    rows: int
    violations: int
    hash: str
    wall_s: float = 0.0
    cpu: procstat.TreeCpu = procstat.TreeCpu(0.0, 0.0, 0.0)
    steal_s: float = 0.0
    gc_s: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def output(self) -> str:
        return f"{self.rows}:{self.violations}:{self.hash}"


class Bench:
    def __init__(self, spark, workload: common.Workload, data: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.data = data
        self.catalog = workload.catalog()

    def inputs(self):
        read = self.spark.read.parquet
        return read(f"{self.data}/clips"), {
            "transcripts": read(f"{self.data}/transcripts"),
            "baseline_stats": read(f"{self.data}/baseline_stats"),
        }

    def validate(self, group: str | None = None) -> Pass:
        """One end-to-end pass; ``group`` also reads its Spark counters."""
        from data_check_spark.engine import run_validation

        if group:
            self.sc.setJobGroup(group, group)
        cpu0, steal0, gc0 = procstat.tree_cpu(), procstat.steal_s(), self.gc_s()
        t0 = time.monotonic()
        clips, dims = self.inputs()
        res = run_validation(self.spark, clips, dims, self.catalog, run_ts=RUN_TS)
        n, h = multiset(res.violations)
        wall = time.monotonic() - t0
        p = Pass(res.rows_scanned, n, h, wall, procstat.tree_cpu() - cpu0,
                 procstat.steal_s() - steal0, self.gc_s() - gc0)
        if group:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            p.counters = self.group_counters(group)
        common.free_blocks(self.spark)
        return p

    def gc_s(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def group_counters(self, group: str) -> dict:
        """Jobs, completed stages, tasks, shuffle write and executor time of
        every job run under ``group``, from the driver's status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
        out = dict.fromkeys(UNITS, 0.0)
        out["jobs"] = len(jobs)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage that never ran has no attempt
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        return out

    def layer(self, name: str, action) -> tuple[float, procstat.TreeCpu, dict, object]:
        """Run ``action`` under its own job group; its wall, CPU, counters."""
        self.sc.setJobGroup(name, name)
        cpu0 = procstat.tree_cpu()
        t0 = time.monotonic()
        result = action()
        wall = time.monotonic() - t0
        cpu = procstat.tree_cpu() - cpu0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return wall, cpu, self.group_counters(name), result


def multiset(violations) -> tuple[int, str]:
    from pyspark.sql import functions as F

    row = violations.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal: a sum of many 64-bit hashes overflows a long under ANSI
        F.sum(F.xxhash64("rule_id", "clip_id", "partition", "observed")
              .cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def noop(df) -> None:
    """Materialize every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(bench: Bench) -> list[Pass]:
    passes = [bench.validate() for _ in range(WARMUP_PASSES)]
    print(f"perfbench: warm-up JVM CPU per pass {[round(p.cpu.jvm, 2) for p in passes]}",
          file=sys.stderr)
    return passes


def timed_passes(bench: Bench, seconds: float) -> list[Pass]:
    passes = []
    t0 = time.monotonic()
    while len(passes) < MIN_TIMED or time.monotonic() - t0 < seconds:
        passes.append(bench.validate())
    return passes


def median(xs) -> float:
    return statistics.median(xs)


def e2e_metrics(passes: list[Pass], setup_s: float, peak_rss_mb: float) -> dict:
    return {
        "clips_per_s": (median(p.rows / p.wall_s for p in passes), "1/s"),
        "cpu_s_per_kclip": (median(1000 * p.cpu.total / p.rows for p in passes), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def layer_metrics(bench: Bench, seconds: float) -> tuple[dict, list[Pass]]:
    """Per-layer metrics: tracing overhead, isolated layers, write side and
    the batched job."""
    m: dict[str, tuple[float, str]] = {}
    # Tracing overhead: untraced and traced full passes in ABBA order, so
    # the JVM, still warming up, favours neither side.
    untraced, traced = [], []
    t0 = time.monotonic()
    while len(traced) < 2 or time.monotonic() - t0 < seconds:
        group = f"pass-{len(traced)}"  # a job group per pass: its own counters
        for g in (group, None) if len(traced) % 2 else (None, group):
            (traced if g else untraced).append(bench.validate(group=g))
    cps_u = median(p.rows / p.wall_s for p in untraced)
    cps_t = median(p.rows / p.wall_s for p in traced)
    m["trace.clips_per_s"] = (cps_t, "1/s")
    m["trace.overhead_pct"] = (100.0 * (cps_u / cps_t - 1.0), "%")
    m["engine.run_validation_s"] = (median(p.wall_s for p in traced), "s")
    m["jvm.cpu_s"] = (median(p.cpu.jvm for p in traced), "s")
    m["python.cpu_s"] = (median(p.cpu.python for p in traced), "s")
    m["jvm.gc_s"] = (median(p.gc_s for p in traced), "s")
    m["host.steal_s"] = (median(p.steal_s for p in traced), "s")
    for k, unit in UNITS.items():
        m[f"spark.{k}"] = (median(p.counters[k] for p in traced), unit)

    layers = isolated_layers(bench, m)
    m["engine.fusion_residual_s"] = (
        m["engine.run_validation_s"][0] - sum(layers.values()), "s")
    checks = [write_side(bench, m), batched_job(bench, m)]
    return m, untraced + traced + checks


def isolated_layers(bench: Bench, m: dict) -> dict[str, float]:
    """The wide pass and each set-rule family over the narrow table, each
    materialized on its own; returns each layer's wall time."""
    from pyspark.sql import functions as F

    from data_check_spark.operators.audio import SNR_COL, prepare_clips
    from data_check_spark.operators.drift import (
        categorical_drift_violations,
        drift_violations_multi,
    )
    from data_check_spark.operators.referential import fused_dim_checks
    from data_check_spark.operators.uniqueness import (
        aggregate_unique_violations,
        unique_violations,
    )
    from data_check_spark.rules.compiler import (
        apply_row_rules,
        compile_rule_many,
        gate_condition,
    )

    spark, catalog = bench.spark, bench.catalog
    clips, dims = bench.inputs()
    if "bytes" in clips.columns:
        def prepare():
            return prepare_clips(clips, cap_ms=common.BYTES_CAP_MS).localCheckpoint(eager=True)
    else:
        # What the engine runs instead of prepare_clips on a table without
        # a payload column: the same narrow checkpoint, no Python pass.
        def prepare():
            return (clips.withColumn("byte_len", F.lit(None).cast("long"))
                    .withColumn(SNR_COL, F.lit(None).cast("double"))
                    .localCheckpoint(eager=True))
    wall, cpu, counters, prepared = bench.layer("audio.prepare_clips", prepare)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if prepared.rdd.getNumPartitions() > 2 * n_parts:  # as the engine does
        prepared = prepared.coalesce(2 * n_parts)
    m["audio.prepare_clips.python_cpu_s"] = (cpu.python, "s")
    m["audio.prepare_clips.jvm_cpu_s"] = (cpu.jvm, "s")
    layers = {"audio.prepare_clips": (wall, counters)}

    by_kind: dict[str, list] = {}
    for r in catalog.set_oriented:
        by_kind.setdefault(r.kind, []).append(r)
    refs = {r.params["mode"]: r for r in by_kind["referential"]}
    fk, match = refs["anti"], by_kind["transcript_match"][0]
    cat = by_kind["cat_drift"][0]
    uniq, agg_uniq = by_kind["unique"][0], by_kind["aggregate_unique"][0]
    compiled = [c for r in catalog.row_local for c in compile_rule_many(r, RUN_TS)]

    calls = {
        "compiler.apply_row_rules": lambda: apply_row_rules(prepared, compiled),
        "drift.drift_violations_multi": lambda: drift_violations_multi(
            prepared, dims["baseline_stats"],
            [(r.rule_id, r.column, r.params["threshold"]) for r in by_kind["drift"]]),
        "drift.categorical_drift_violations": lambda: categorical_drift_violations(
            prepared, cat.rule_id, cat.column, threshold_bp=cat.params["threshold_bp"]),
        "referential.fused_dim_checks": lambda: fused_dim_checks(
            prepared, dims[fk.params["dim"]], fact_key=fk.column,
            dim_key=fk.params["dim_key"],
            anti_rule=fk.rule_id, anti_gate=gate_condition(fk.gate, RUN_TS, fk.rule_id),
            orphan_rule=refs["orphan"].rule_id, match_rule=match.rule_id,
            fact_text=match.column, ref_text=match.params["ref_column"]),
        "uniqueness.unique_violations": lambda: unique_violations(
            prepared, uniq.rule_id, uniq.column),
        "uniqueness.aggregate_unique_violations": lambda: aggregate_unique_violations(
            prepared, agg_uniq.rule_id, agg_uniq.column),
    }
    for name, build in calls.items():
        wall, _, counters, _ = bench.layer(name, lambda: noop(build()))
        layers[name] = (wall, counters)
    common.free_blocks(spark)
    for name, (wall, counters) in layers.items():
        m[f"{name}_s"] = (wall, "s")
        for k in ("jobs", "stages", "shuffle_write_mb", "executor_cpu_s"):
            m[f"{name}.{k}"] = (counters[k], UNITS[k])
    return {name: wall for name, (wall, _) in layers.items()}


def fresh_dir(name: str) -> str:
    path = os.path.join(common.WORK, "out", f"{os.getpid()}-{name}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def write_side(bench: Bench, m: dict) -> Pass:
    """Output appends, checkpoint append and reconciled read of one run, in
    the order jobs/validate_job.py runs them; returns the reconciled view
    as a pass to check."""
    from pyspark.sql import functions as F

    from data_check_spark import checkpoint as cp
    from data_check_spark.engine import reconcile_outputs, run_validation

    spark, catalog = bench.spark, bench.catalog
    out = fresh_dir("single")
    ckpt = os.path.join(out, "_checkpoint")
    clips, dims = bench.inputs()
    res = run_validation(spark, clips, dims, catalog, run_ts=RUN_TS,
                         checkpoint_dir=ckpt, defer_checkpoint=True)

    def write_outputs():
        for name, df in (("violations", res.violations), ("verdicts", res.verdicts)):
            (df.withColumn("run_id", F.lit(res.run_id)).write.mode("append")
               .partitionBy("run_id").parquet(f"{out}/{name}"))

    def reconcile():
        warning_ids = [r.rule_id for r in catalog if r.severity == "warning"]
        fv, fd = reconcile_outputs(spark, out, ckpt, warning_ids=warning_ids,
                                   fallback_lineage=res.run_id)
        noop(fd)
        return multiset(fv)

    m["sinks.output_write_s"] = (bench.layer("sinks.output_write", write_outputs)[0], "s")
    m["checkpoint.write_checkpoint_s"] = (bench.layer(
        "checkpoint.write_checkpoint",
        lambda: cp.write_checkpoint(res.verdicts, ckpt, res.run_id))[0], "s")
    wall, _, _, reconciled = bench.layer("engine.reconcile_outputs", reconcile)
    m["engine.reconcile_outputs_s"] = (wall, "s")
    common.free_blocks(spark)
    shutil.rmtree(out, ignore_errors=True)
    return Pass(res.rows_scanned, *reconciled)


def batched_job(bench: Bench, m: dict) -> Pass:
    """jobs/validate_job.py with four partition batches into a fresh output
    and checkpoint directory; returns its reconciled view as a pass."""
    from jobs import validate_job

    out = fresh_dir("batched")
    os.makedirs(out)
    rules = os.path.join(out, "rules.json")
    bench.catalog.save(rules)
    argv = ["--input", f"{bench.data}/clips", "--transcripts", f"{bench.data}/transcripts",
            "--baseline", f"{bench.data}/baseline_stats", "--rules", rules,
            "--output-dir", os.path.join(out, "output"),
            "--checkpoint-dir", os.path.join(out, "checkpoint"),
            "--partition-batches", "4", "--run-ts", RUN_TS]

    def run():
        with contextlib.redirect_stdout(sys.stderr):  # its summary line
            return validate_job.main(argv)

    wall, _, counters, code = bench.layer("jobs.validate_job_batched", run)
    if code != 0:
        raise RuntimeError(f"validate_job exited with {code}")
    m["jobs.validate_job_batched_s"] = (wall, "s")
    for k in ("jobs", "stages", "shuffle_write_mb"):
        m[f"jobs.validate_job_batched.{k}"] = (counters[k], UNITS[k])
    final = bench.spark.read.parquet
    rows = final(f"{out}/output/verdicts_final").groupBy().sum("rows_scanned").first()[0]
    checked = Pass(int(rows), *multiset(final(f"{out}/output/violations_final")))
    common.free_blocks(bench.spark)
    shutil.rmtree(out, ignore_errors=True)
    return checked


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(common.WORKLOADS), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--expect", required=True,
                    help="ROWS:VIOLATIONS:HASH every pass must reproduce, or 'record'")
    ap.add_argument("--observed-out", help="write the distinct observed outputs here")
    args = ap.parse_args()
    t_start = time.monotonic() - procstat.process_age_s()
    common.ensure_repo_importable()
    host_before = procstat.host_record()

    t0 = time.monotonic()
    spark = common.start_spark("perfbench")
    get_spark_s = time.monotonic() - t0
    try:
        bench = Bench(spark, common.WORKLOADS[args.workload], args.data)
        warm = warm_up(bench)
        setup_s = time.monotonic() - t_start
        if args.trace:
            metrics, passes = layer_metrics(bench, args.seconds)
            metrics["session.get_spark_s"] = (get_spark_s, "s")
            metrics["warmup.passes"] = (len(warm), "count")
        else:
            passes = timed_passes(bench, args.seconds)
            metrics = e2e_metrics(passes, setup_s, procstat.tree_peak_rss_mb())
    finally:
        common.stop_spark(spark)

    checked = warm + passes
    observed = sorted({p.output for p in checked})
    if args.observed_out:
        with open(args.observed_out, "w") as f:
            f.write("\n".join(observed) + "\n")
    failed = 0 if args.expect == "record" else sum(p.output != args.expect for p in checked)
    print(f"perfbench: {failed} of {len(checked)} passes failed the output check",
          file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    record = {
        "workload": args.workload, "data": args.data, "trace": args.trace,
        "host_before": host_before, "host_after": procstat.host_record(),
        "observed": observed,
        "warmup": [{"wall_s": p.wall_s, "jvm_cpu_s": p.cpu.jvm} for p in warm],
        "passes": [{"wall_s": p.wall_s, "jvm_cpu_s": p.cpu.jvm,
                    "python_cpu_s": p.cpu.python, "steal_s": p.steal_s,
                    "gc_s": p.gc_s} for p in passes],
        "result": result,
    }
    with open(os.path.join(common.WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
