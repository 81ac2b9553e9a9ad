"""Seeded end-to-end benchmark of the engine.

    python3 perfbench/run.py --workload olap_ingest --seed 1 --seconds 8 --trace 0

Run from the repository root. One run generates the workload's inputs from
the seed, starts one ``local[nproc]`` session, and runs the workload's
operations as a closed loop with one client: a cold first pass, the
workload's untimed warm-up passes, then
``max(1, seconds // <workload's nominal pass length>)`` timed warm passes. Every
output is checked (see workloads.py). The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``, the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. A traced run writes the event log and a per-operation
breakdown (``trace-<workload>-<seed>.json``) under ``.perfbench_work/``.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root; the generated inputs are removed when the run ends.
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


# ------------------------------------------------------------ environment


def process_age_s() -> float:
    """Seconds since this process started (kernel clock ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of every CPU since boot: steal is time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, its JVM and the Python workers write under
    ``work``; run on every core; let workers import the engine."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(work: str, event_log: str | None = None) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # explicit: a session restarted in the same JVM inherits the confs
        # the JVM was launched with, the event log included
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_jvm(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit
    (it exits when its stdin from this process closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def host_stamp() -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kib = int(fh.readline().split()[1])
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except OSError:
        sha = "unknown"
    return {
        "cores": cores(),
        "mem_gib": round(mem_kib / 1024 / 1024, 1),
        "git_sha": sha,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "load_avg_before": [round(x, 2) for x in os.getloadavg()],
        "cpu_ticks_before": cpu_ticks(),
    }


# ------------------------------------------------------------------ passes


class Runner:
    """Runs the operations of one workload pass by pass and checks them."""

    def __init__(self, wl, ctx, spans, tag_jobs: bool):
        self.wl, self.ctx, self.spans, self.tag_jobs = wl, ctx, spans, tag_jobs
        self.oracles: dict[str, object] = {}
        self.kept: dict[str, object] = {}  # first-pass frames awaiting checks
        self.fingerprints: dict[str, object] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{op}: {why}")
        print(f"FAILED {op}: {why}", file=sys.stderr, flush=True)

    def _group(self, p: int | str, op: str, phase: str) -> None:
        """Tag the jobs this thread starts from now on (the tag sticks until
        the next call)."""
        if self.tag_jobs:
            self.ctx.spark.sparkContext.setJobGroup(f"{p}:{op}:{phase}", f"perfbench {op} {phase}")

    def compute_oracles(self) -> None:
        import duckdb

        con = duckdb.connect()
        for f in sorted(os.listdir(self.ctx.data_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(self.ctx.data_dir, f)}'"
                )
        for op in self.wl.ops:
            if op.oracle:
                self.oracles[op.name] = con.sql(self.ctx.registry[op.name].oracle).df()

    def run_pass(self, p: int) -> dict:
        """One pass over every operation; returns the pass record."""
        from pyspark.sql import functions as F
        from pyspark.sql.observation import Observation

        from etl_open_source_spark.operators.caching import release_operator_caches

        rec = {"pass": p, "ops": {}}
        pass_span = self.spans.open("pass", index=p)
        for op in self.wl.ops:
            self.attempted += 1
            r = rec["ops"][op.name] = {"start": time.time(), "build_s": 0.0, "action_s": 0.0}
            op_span = self.spans.open(op.name, pass_index=p)
            t0 = time.perf_counter()
            ok = False
            try:
                if op.build is not None:
                    self._group(p, op.name, "build")
                    df = op.build(self.ctx)
                    if p == 0 and op.oracle:
                        # keep the first pass's rows for the checks, so they
                        # need no second execution
                        df = self.kept[op.name] = df.persist()
                    t1 = time.perf_counter()
                    obs = Observation(f"{op.name}-{p}")
                    cols = [F.col(f"`{c}`") for c in df.columns]
                    observed = df.observe(
                        obs,
                        F.count(F.lit(1)).alias("rows"),
                        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2147483647))).alias("hash"),
                    )
                    self._group(p, op.name, "action")
                    observed.write.format("noop").mode("overwrite").save()
                    r.update(build_s=t1 - t0, action_s=time.perf_counter() - t1)
                    r["released"] = release_operator_caches()
                    r["wall_s"] = time.perf_counter() - t0
                    got = obs.get
                    r["rows"] = got["rows"]
                    fp = (got["rows"], got["hash"])
                    ok = True
                else:
                    self._group(p, op.name, "run")
                    r.update(op.run(self.ctx) or {})
                    r["action_s"] = time.perf_counter() - t0
                    r["released"] = release_operator_caches()
                    r["wall_s"] = time.perf_counter() - t0
                    ok, fp = op.check(self.ctx)
                    if not ok:
                        self.fail(op.name, "output check failed")
            except Exception as ex:  # noqa: BLE001 - a failed operation is counted, the loop goes on
                traceback.print_exc()
                self.fail(op.name, f"raised {type(ex).__name__}: {str(ex)[:300]}")
                r.setdefault("released", release_operator_caches())
                r.setdefault("wall_s", time.perf_counter() - t0)
            finally:
                r["end"] = r["start"] + r.get("wall_s", 0.0)
                self.spans.close(op_span)
            if not ok:
                continue
            if p == 0:
                self.fingerprints[op.name] = fp
            elif fp != self.fingerprints.get(op.name):
                self.fail(op.name, f"fingerprint {fp} differs from the first pass's {self.fingerprints.get(op.name)}")
        self.spans.close(pass_span)
        rec["wall_s"] = sum(r["wall_s"] for r in rec["ops"].values())
        return rec

    def check_first_pass(self) -> None:
        """Oracle checks on the first pass's kept rows (after the pass,
        outside its timing)."""
        self._group("untimed", "check", "collect")
        for op in self.wl.ops:
            df = self.kept.pop(op.name, None)
            if df is None:
                continue
            try:
                why = frames_differ(df.toPandas(), self.oracles[op.name], op.money)
            except Exception as ex:  # noqa: BLE001 - a failed check is counted, the run goes on
                why = f"check collect raised {type(ex).__name__}: {str(ex)[:300]}"
            finally:
                df.unpersist()
            if why:
                self.fail(op.name, f"differs from the DuckDB oracle: {why}")


# ---------------------------------------------------------------- checking


def _canon(v, cents: bool):
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return None
        return round(f, 2) if cents else f
    if isinstance(v, decimal.Decimal):
        return round(float(v), 2) if cents else float(v)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return datetime.datetime(v.year, v.month, v.day)
    return v


def frames_differ(got, want, money: tuple[str, ...]) -> str | None:
    """None when the frames hold the same multiset of rows (floats exact,
    ``money`` columns at cent precision); else a short reason."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"

    def rows(df):
        out = [
            tuple(_canon(v, c in money) for c, v in zip(gc, row))
            for row in df[gc].itertuples(index=False)
        ]
        return sorted(out, key=lambda r: tuple((v is None, str(v)) for v in r))

    for a, b in zip(rows(got), rows(want)):
        if a != b:
            return f"row {a} != {b}"
    return None


# ------------------------------------------------------------------ layers


def per_layer(runner, passes, log, spans, extra) -> tuple[dict, list]:
    """Per-layer metrics: each a per-pass sum over operations (ratios per
    pass), reported as the median over the traced warm passes."""
    wl_ops = {op.name: op for op in runner.wl.ops}
    per_pass, breakdown = [], []
    n_cores = cores()
    for rec in passes:
        p = rec["pass"]
        ops = {}
        for name, r in rec["ops"].items():
            layers = log.op_layers(f"{p}:{name}:", r["start"], r["end"])
            b_jobs = len(log.jobs_for(f"{p}:{name}:build", 0, -1))
            ops[name] = {**{k: r[k] for k in ("build_s", "action_s", "wall_s", "released") if k in r},
                         "build_jobs": b_jobs, **layers}
        breakdown.append({"pass": p, "wall_s": rec["wall_s"], "ops": ops})
        if p == 0:
            continue
        df_ops = [n for n in ops if wl_ops[n].build is not None]
        tot = lambda k, names=None: sum(ops[n].get(k, 0) for n in (names or ops))  # noqa: E731
        m = {
            "queries.build_s": tot("build_s", df_ops),
            "queries.build_jobs": tot("build_jobs", df_ops),
            "queries.action_s": tot("action_s", df_ops),
            "operators.owned_persists": tot("released"),
            "spark.task_skew": max((o["task_skew"] for o in ops.values()), default=1.0),
            "spark.core_idle_frac": 1.0 - tot("task_run_s") / (rec["wall_s"] * n_cores),
        }
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "sched_wait_s",
                  "shuffle_write_mib", "shuffle_read_mib", "shuffle_fetch_wait_s", "spill_mib",
                  "python_rows", "python_mib_in", "python_mib_out"):
            m[f"spark.{k}"] = tot(k)
        for k in ("read_mib", "read_rows", "write_mib", "write_rows", "write_files"):
            m[f"sources.{k}"] = tot(k)
        if "q_dedup_ngram" in ops:
            cand, ver = log.verify_yield(f"{p}:q_dedup_ngram:")
            m["dedup.ngram_candidates"] = cand
            m["dedup.ngram_verify_yield"] = ver / cand if cand else 0.0
        if "q_sim_topk" in ops:
            m["similarity.brute_force_s"] = ops["q_sim_topk"]["action_s"]
            rows_in, kept = log.topk_kept(f"{p}:q_sim_topk:")
            scored = rows_in * extra.get("topk_queries", 0)
            m["similarity.topk_kept_frac"] = kept / scored if scored else 0.0
        if "pipeline_ingest" in ops:
            r = rec["ops"]["pipeline_ingest"]
            runs = [s for s in spans.spans if s["name"] == "PipelineRunner.run"
                    and s["end"] is not None and r["start"] <= s["start"] <= r["end"]]
            if runs:
                m["plans.run_s"] = statistics.median(s["end"] - s["start"] for s in runs)
                m["plans.jobs_per_run"] = statistics.median(
                    len(log.jobs_between(s["start"], s["end"])) for s in runs
                )
            m["plans.history_files"] = r.get("history_files", 0)
            m["incremental.scan_rows_per_new_row"] = (
                ops["pipeline_ingest"]["read_rows"] / extra["ingest_rows"]
            )
        per_pass.append(m)
    keys = sorted({k for m in per_pass for k in m})
    metrics = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}
    return metrics, breakdown


# -------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None

    # ---- set-up: process start until the first operation can run
    try:
        from etl_open_source_spark.registry import get_registry
        from etl_open_source_spark.session import get_spark
    except ImportError as ex:
        print(f"perfbench: cannot import the engine from {ROOT}: {ex}", file=sys.stderr)
        return 2
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(work, event_log))
    session_start_s = time.perf_counter() - t
    registry = get_registry()
    setup_main = process_age_s()

    import numpy as np

    import tracing
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        stop_jvm(spark)
        return 2
    wl = WORKLOADS[args.workload]
    stamp = host_stamp()
    jvm_pid = spark.sparkContext._gateway.proc.pid

    # ---- inputs and oracles: outside every timed region
    data = os.path.join(work, "data")
    os.makedirs(data)
    t = time.perf_counter()
    rows = wl.generate(np.random.default_rng(args.seed), data)
    gen_s = time.perf_counter() - t
    ctx = Ctx(spark=spark, registry=registry, data_dir=data, work_dir=work)
    spans = tracing.Spans()
    runner = Runner(wl, ctx, spans, tag_jobs=bool(args.trace))
    t = time.perf_counter()
    runner.compute_oracles()
    oracle_s = time.perf_counter() - t
    if args.trace:
        from etl_open_source_spark.plans.runner import PipelineRunner

        spans.wrap(PipelineRunner, "run", "PipelineRunner.run")

    # ---- cold pass, untimed warm-up passes, then timed warm passes. A
    # traced run splits its time between traced passes and the same passes
    # untraced, for the tracing overhead. The timed count is fixed by
    # --seconds alone, so a faster or slower program is measured over the
    # same passes.
    n_warm = max(1, int((args.seconds / (2 if args.trace else 1)) // wl.pass_s))
    first = runner.run_pass(0)
    runner.check_first_pass()
    passes = [first]
    next_index = 1

    def warm(n: int) -> list[dict]:
        nonlocal next_index
        out = []
        for _ in range(n):
            spark.catalog.clearCache()
            out.append(runner.run_pass(next_index))
            next_index += 1
        return out

    warm(wl.warmup_passes)
    passes += warm(n_warm)
    layer_metrics, breakdown = {}, []
    if args.trace:
        probed = {}
        if wl.layer_probe:
            runner._group("untimed", "probe", "run")
            runner.attempted += 1
            probed, failures = wl.layer_probe(ctx)
            for why in failures:
                runner.fail("layer probe", why)
        spark.stop()
        spans.unwrap_all()
        (log_file,) = os.listdir(event_log)
        log = tracing.EventLog(os.path.join(event_log, log_file))
        extra = {"ingest_rows": rows.get("events", 0),
                 "topk_queries": min(50, rows.get("embeddings", 0))}
        layer_metrics, breakdown = per_layer(runner, passes, log, spans, extra)
        traced_pass_s = statistics.median(r["wall_s"] for r in passes[1:])
        # the same warm passes with tracing off, in a fresh session of the
        # same JVM; its first pass pays the new session's start and is dropped
        spark = get_spark(app_name="perfbench", extra_conf=session_conf(work))
        ctx.spark = spark
        runner.tag_jobs = False
        warm(1)
        untraced_pass_s = statistics.median(r["wall_s"] for r in warm(n_warm))
        layer_metrics.update(probed)
        layer_metrics.update({
            "session.start_s": session_start_s,
            "inputs.gen_s": gen_s,
            "inputs.oracle_s": oracle_s,
            "trace.pass_s": traced_pass_s,
            "trace.untraced_pass_s": untraced_pass_s,
            "trace.overhead_s": traced_pass_s - untraced_pass_s,
        })
    # VmHWM of this Python process and the Spark JVM: it spreads by more
    # than a tenth between seeds, so it is a layer metric, not end to end
    layer_metrics["memory.peak_rss_mib"] = vm_hwm_mib(os.getpid()) + vm_hwm_mib(jvm_pid)
    stop_jvm(spark)

    warm_walls = [r["wall_s"] for r in passes[1:]]
    e2e = {
        "setup_s": setup_main,
        "first_pass_s": first["wall_s"],
        "pass_s": statistics.median(warm_walls),
    }
    stamp["load_avg_after"] = [round(x, 2) for x in os.getloadavg()]
    # stolen CPU time is the main source of slow runs on a shared host
    steal, total = (a - b for a, b in zip(cpu_ticks(), stamp.pop("cpu_ticks_before")))
    stamp["steal_frac"] = round(steal / total, 4) if total else 0.0
    failed_frac = runner.failed / runner.attempted

    print(f"workload {wl.name} seed {args.seed} trace {args.trace}")
    print("host " + json.dumps(stamp))
    print("inputs " + json.dumps(rows))
    print(f"inputs.gen_s {gen_s:.3f} s   inputs.oracle_s {oracle_s:.3f} s")
    print(f"setup_s {e2e['setup_s']:.3f} s (this process, start to first operation ready)")
    print(f"first_pass_s {e2e['first_pass_s']:.3f} s")
    print(f"pass_s {e2e['pass_s']:.3f} s (median of {len(warm_walls)} warm passes after "
          f"{wl.warmup_passes} untimed: " + ", ".join(f"{s:.3f}" for s in warm_walls) + ")")
    print(f"memory.peak_rss_mib {layer_metrics['memory.peak_rss_mib']:.1f} MiB")
    print(f"failed_frac {failed_frac:.4f} ratio ({runner.failed} of {runner.attempted} operations)")
    for name in (op.name for op in wl.ops):
        ts = [r["ops"][name]["wall_s"] for r in passes[1:] if name in r["ops"]]
        if ts:
            print(f"  op {name:28s} first {passes[0]['ops'].get(name, {}).get('wall_s', 0):7.3f} s"
                  f"   warm median {statistics.median(ts):7.3f} s")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if args.trace:
        trace_file = os.path.join(WORK_ROOT, f"trace-{wl.name}-{args.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({"host": stamp, "inputs": rows, "metrics": layer_metrics,
                       "end_to_end": e2e, "passes": breakdown, "spans": spans.spans,
                       "failures": runner.failures}, fh, indent=1, default=str)
        print(f"trace file {trace_file}")
        for m in declared["per_layer"]:
            print(f"  {m['name']} {layer_metrics.get(m['name'], 0.0):.6g} {m['unit']}")
        units = {m["name"]: {"value": float(layer_metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                 for m in declared["per_layer"]}
    else:
        units = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                 for m in declared["end_to_end"]}
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": units}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
