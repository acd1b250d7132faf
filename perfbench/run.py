#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the extraction
engine on local[<all cores>].

    python3 perfbench/run.py --workload pdf_backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --trace 1   # every workload in turn

A closed loop: one driver submits one Spark job at a time. Per
workload, one run is: settle, host-health sentinel, set-up (session
start, inputs, the first pass, warm-up passes), timed passes for
--seconds, output checks. ``--workload all`` runs each workload in a
child process of its own.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` additionally
runs traced passes and layer probes and prints the per-layer metrics.
Human-readable lines come first; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. Any failed
output check makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path
from statistics import median
from typing import Dict, List, Optional

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import (CORES, WORK, RssSampler, check_program, cpu_times,  # noqa: E402
                    dir_size, host_health, prepare_env, reset_dir, settle,
                    start_session, stop_jvm)
from layers import PER_LAYER, kernel_probe, pass_layers, worker_boot_s  # noqa: E402
from spans import Tracer  # noqa: E402

# claims measured on other seeds are confirmed on this one before they
# are made
CONFIRM_SEED = 9001
# warm-up passes stop once two in a row agree within WARM_TOL, or once
# they have taken WARM_MAX_S seconds
WARM_TOL, WARM_MAX_S = 0.10, 8.0
# timed local[1] passes behind scaling_eff
SINGLE_CORE_PASSES = 3

WORKLOAD_NAMES = ["pdf_backfill", "crawl_resume", "webtext_ops"]

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "input_mb_per_s": "MB/s",
    "peak_rss_mb": "MB",
}


class Harness:
    """Runs Spark actions; when tracing, each action gets a span, a
    unique job description and its Spark metrics from the event log."""

    def __init__(self, tracer: Tracer, elog):
        self.tracer, self.elog, self.n = tracer, elog, 0

    def plain(self, label, fn):
        return fn(), None

    def traced(self, label, fn):
        from pyspark import SparkContext

        self.n += 1
        desc = f"perfbench:{self.tracer.run_id}:{self.n}:{label}"
        sc = SparkContext._active_spark_context
        self.elog.skip()
        sc.setJobDescription(desc)
        try:
            with self.tracer.span("action", label=label) as sp:
                out = fn()
        finally:
            sc.setJobDescription(None)
        m = self.elog.action(desc)
        for sid, (sub, done, name) in sorted(m.stages.items()):
            st = self.tracer.add("stage", sub, done, sp.span_id,
                                 stage_id=sid, stage=name)
            for t in m.tasks:
                if t.stage == sid:
                    self.tracer.add("task", t.launch_s, t.finish_s,
                                    st.span_id, run_s=t.run_s)
        sp.attrs.update(pass_layers([m]))
        return out, m


class Run:
    """One workload, one seed: the numbers and checks of a single run."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, smoke: bool):
        from workloads import WORKLOADS

        self.name, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.smoke = trace, smoke
        self.work = reset_dir(WORK / f"{workload}-s{seed}-p{os.getpid()}")
        self.wl = WORKLOADS[workload](seed, smoke, self.work, CORES)
        self.tracer = Tracer(trace)
        self.elog = None
        if trace:
            from eventlog import EventLog

            self.elog = EventLog(self.work / "eventlog")
        self.h = Harness(self.tracer, self.elog)
        self.attempted = self.failed = 0
        self.checks: List = []
        self.e2e: Dict[str, tuple] = {}     # name -> (value, unit, n)
        self.extra: Dict[str, tuple] = {}   # workload-only end-to-end
        self.layers: Dict[str, float] = {}
        self.detail: Dict[str, float] = {}
        self.context: Dict[str, object] = {}

    # --- bookkeeping -----------------------------------------------------
    def _unit(self, label: str, fn, attempt: bool = True):
        """One attempted pass (warm-up, timed or single-core); an
        exception counts it failed and is reported, not raised."""
        self.attempted += attempt
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"FAILED {self.name} {label}:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None

    def _record_checks(self, checks) -> None:
        for c in checks:
            self.checks.append(c)
            if not c.ok:
                self.failed += 1

    def _warm_passes(self) -> List[float]:
        """Untraced passes after the first one until two in a row agree
        within WARM_TOL or WARM_MAX_S have gone by: the JVM compiles the
        hot code of a pass over the first few passes, and the timed
        passes should see as little of that as the run's time allows.
        Their seconds are part of set-up."""
        walls: List[float] = []
        while sum(walls) < WARM_MAX_S:
            r = self._unit(f"warm pass {len(walls)}", lambda: self.wl.run_pass(
                self.spark, self.h.plain, -1))
            if r is None:
                break
            self._record_checks(r.checks)
            walls.append(r.wall_s)
            if (len(walls) >= 2
                    and abs(walls[-1] - walls[-2]) <= WARM_TOL * walls[-2]):
                break
        return walls

    def _passes(self, seconds: float) -> tuple:
        """Passes until `seconds` have gone by: a new pass starts while
        time is left, so the last one may run over. A traced run
        alternates untraced and traced passes (at least one of each), so
        both kinds see the same warm-up state; returns (untraced,
        traced)."""
        modes = [("untraced", self.h.plain)]
        if self.trace:
            modes.append(("traced", self.h.traced))
        out = {m: [] for m, _ in modes}
        t_end = time.perf_counter() + seconds
        k = 0
        while time.perf_counter() < t_end or k < len(modes):
            mode, act = modes[k % len(modes)]
            with self.tracer.span("pass", k=k, mode=mode), \
                    RssSampler() as rss:
                r = self._unit(f"{mode} pass {k}",
                               lambda: self.wl.run_pass(self.spark, act, k))
            k += 1
            if r is not None:
                r.peak_rss_mb = rss.peak_mb
                self._record_checks(r.checks)
                out[mode].append(r)
        return out["untraced"], out.get("traced", [])

    # --- the run ---------------------------------------------------------
    def execute(self) -> None:
        self.context = {"workload": self.name, "seed": self.seed,
                        "confirm_seed": CONFIRM_SEED, "cores": CORES,
                        "smoke": self.smoke, "trace": int(self.trace),
                        "seconds": self.seconds}
        prepare_env(self.work)
        self.context.update(settle(CORES))
        self.context.update(host_health())
        wl = self.wl
        with self.tracer.span("workload", workload=self.name, seed=self.seed):
            with self.tracer.span("setup"):
                t0 = time.perf_counter()
                with self.tracer.span("session_start"):
                    self.spark = start_session(
                        CORES, self.work,
                        self.work / "eventlog" if self.trace else None)
                t1 = time.perf_counter()
                with self.tracer.span("inputs"):
                    wl.make_inputs()
                t2 = time.perf_counter()
                warm_metrics = []
                act = self.h.traced if self.trace else self.h.plain

                def warm_act(label, fn):
                    out, m = act(label, fn)
                    warm_metrics.append(m)
                    return out, m

                with self.tracer.span("warmup"):
                    checks = self._unit("warmup",
                                        lambda: wl.warmup(self.spark, warm_act))
                    if checks is None:
                        return
                    self._record_checks(checks)
                    warm = self._warm_passes()
            setup_s = (t1 - t0) + (t2 - t1) + wl.warm_s + sum(warm)
            self.context.update(session_start_s=t1 - t0, inputs_s=t2 - t1,
                                warmup_s=wl.warm_s, warm_passes=len(warm),
                                warm_pass_walls_s=",".join(
                                    f"{w:.3f}" for w in warm))

            c0 = cpu_times()
            plain, traced = self._passes(self.seconds)
            c1 = cpu_times()
            # share of the machine's CPU time the hypervisor gave to
            # other guests while the passes ran: time-based metrics
            # swing with it
            self.context["steal_share"] = (c1[2] - c0[2]) / max(
                c1[0] - c0[0], 1)
            if not plain:
                return
            wall = wl.wall_of(plain)
            n = len(plain)
            self.context["pass_walls_s"] = ",".join(
                f"{p.wall_s:.3f}" for p in plain)
            self.e2e = {
                "setup_s": (setup_s, "s", 1),
                "wall_s": (wall, "s", n),
                "docs_per_s": (wl.n_docs / wall, "docs/s", n),
                "input_mb_per_s": (wl.input_mb / wall, "MB/s", n),
                "peak_rss_mb": (median([p.peak_rss_mb for p in plain]), "MB",
                                n),
            }
            if "resume_s" in plain[0].parts:
                self.extra["resume_s"] = (
                    median([p.parts["resume_s"] for p in plain]), "s", n)

            if self.trace:
                self._traced(plain, traced, warm_metrics)
            self._record_checks(self._unit("output checks", wl.final_checks,
                                           attempt=False) or [])
            if self.name == "pdf_backfill" and self.trace:
                self._scaling([p.wall_s for p in plain])

    def _traced(self, plain, traced, warm_metrics) -> None:
        wl = self.wl
        if not traced:
            return
        per_pass = [pass_layers(p.metrics) for p in traced]
        layers = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0]}
        layers["operators.python.worker_boot_s"] = worker_boot_s(
            [m for m in warm_metrics if m is not None])

        with self.tracer.span("scan_probe"):
            t0 = time.perf_counter()
            _, m = self.h.traced("scan", lambda: self.spark.read.parquet(
                str(wl.input_path)).write.format("noop").mode("overwrite")
                .save())
            layers["sources.scan_s"] = time.perf_counter() - t0
            layers["sources.scan_mb"] = m.total("size of files read") / 1e6
        with self.tracer.span("kernel_probe"):
            layers.update(kernel_probe(*wl.kernel_sample(), self.tracer))
        with self.tracer.span("detail_probe"):
            self.detail = self._unit("detail probe", lambda: wl.detail(
                self.spark, self.h.traced, traced)) or {}
        # the checkpointed output of the last crash-and-resume run
        out_dir = getattr(wl, "last_out", None)
        mb, files = dir_size(out_dir) if out_dir else (0.0, 0)
        layers["sources.write_mb"], layers["sources.write_files"] = mb, files

        wall_plain = wl.wall_of(plain)
        wall_traced = wl.wall_of(traced)
        layers["tracing.overhead_s"] = wall_traced - wall_plain
        layers["tracing.overhead_share"] = wall_traced / wall_plain - 1
        accounted = (layers["operators.python.python_s"]
                     + layers["plans.salt.shuffle_write_s"]
                     + layers["sources.scan_s"])
        layers["reconcile.accounted_core_s"] = accounted
        layers["reconcile.gap_share"] = 1 - accounted / (wall_plain * CORES)
        layers["session.cached_rdds_after"] = len(
            self.spark.sparkContext._jsc.getPersistentRDDs())
        self.layers = layers

    def _scaling(self, walls4: List[float]) -> None:
        """docs/s at local[CORES] over CORES x docs/s at local[1], same
        input. The local[CORES] leg is this run's untraced passes; the
        local[1] leg runs in a session of its own after them, with the
        event log on as it was for those passes, warmed on one input
        file, then SINGLE_CORE_PASSES timed passes. Both legs report
        their pass count and range."""
        from pyspark.sql import SparkSession

        SparkSession.getActiveSession().stop()
        self.spark = start_session(1, self.work, self.work / "eventlog")
        wl = self.wl
        self._unit("single-core warmup",
                   lambda: wl.single_core_pass(self.spark, first_file=True))
        walls1 = [w for w in (self._unit(
            "single-core pass", lambda: wl.single_core_pass(self.spark))
            for _ in range(SINGLE_CORE_PASSES)) if w is not None]
        if not walls1:
            return
        wall1, wall4 = median(walls1), median(walls4)
        self.extra["scaling_eff"] = (wall1 / (CORES * wall4), "ratio",
                                     len(walls1))
        for leg, walls in ((f"local[{CORES}]", walls4), ("local[1]", walls1)):
            self.extra[f"scaling_leg {leg} wall_s"] = (median(walls), "s",
                                                       len(walls))
            self.extra[f"scaling_leg {leg} range_share"] = (
                (max(walls) - min(walls)) / median(walls), "ratio",
                len(walls))

    def finish(self) -> None:
        """Write the spans out and drop the run's inputs and outputs."""
        if self.trace:
            self.tracer.write(WORK / "traces" /
                              f"{self.name}-s{self.seed}-{self.tracer.run_id}"
                              ".jsonl")
        shutil.rmtree(self.work, ignore_errors=True)

    # --- output ----------------------------------------------------------
    def report(self) -> dict:
        p = print
        ctx = " ".join(f"{k}={_fmt(v)}" for k, v in self.context.items())
        p(f"[perfbench] {ctx}")
        for name, (v, unit, n) in {**self.e2e, **self.extra}.items():
            p(f"[perfbench] {self.name} {name} = {_fmt(v)} {unit} (n={n})")
        share = self.failed / self.attempted if self.attempted else 1.0
        p(f"[perfbench] {self.name} failed_share = {share:.4f} ratio "
          f"(n={self.attempted})")
        for c in self.checks:
            p(f"[perfbench] check {c.name}: {'ok' if c.ok else 'FAILED'} "
              f"({c.detail})")
        if self.trace:
            for k, v in {**self.layers, **self.detail}.items():
                p(f"[perfbench] {self.name} layer {k} = {_fmt(v)} "
                  f"{PER_LAYER.get(k, _detail_unit(k))}")
            for name, s in sorted(self.tracer.self_times().items()):
                p(f"[perfbench] {self.name} self_time {name} = {s:.4f} s")
        if self.trace:
            metrics = {k: {"value": float(self.layers[k]), "unit": u}
                       for k, u in PER_LAYER.items() if k in self.layers}
        else:
            metrics = {k: {"value": float(self.e2e[k][0]), "unit": u}
                       for k, u in END_TO_END.items() if k in self.e2e}
        wanted = PER_LAYER if self.trace else END_TO_END
        correct = (self.failed == 0 and self.attempted > 0
                   and len(metrics) == len(wanted))
        return {"correct": correct, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def _detail_unit(name: str) -> str:
    if name.endswith("_share"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "count"


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run_one(args) -> dict:
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.smoke)
    try:
        run.execute()
    finally:
        stop_jvm()
        run.finish()
    return run.report()


def run_all(args) -> dict:
    """Each workload in a child process of its own (so each gets a fresh
    JVM), their results merged with the workload name as prefix."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, __file__, "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke
                                               else [])
        lines = subprocess.run(cmd, stdout=subprocess.PIPE, text=True
                               ).stdout.splitlines()
        for line in lines[:-1]:
            print(line)
        try:
            r = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"[perfbench] {name}: no result", file=sys.stderr)
            r = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        out["correct"] &= r["correct"]
        out["attempted"] += r["attempted"]
        out["failed"] += r["failed"]
        out["metrics"].update({f"{name}.{k}": v
                               for k, v in r["metrics"].items()})
    return out


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's self-tests")
    args = ap.parse_args(argv)
    check_program()
    out = run_all(args) if args.workload == "all" else run_one(args)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
