"""Link-graph benchmark: one workload per invocation, on local[4].

    python3 perfbench/run.py --workload rmat_csr --seed 3 --seconds 5 --trace 0

Run from the root of a checkout. The run

1. sets up ``SETUPS`` times and reports the median as ``setup_s``: the
   first set-up starts the session and builds the inputs (generation,
   renumber, symmetrize, persist); the others rebuild the inputs in the
   same session;
2. collects the inputs and computes the numpy oracles (cached on disk
   per input digest), outside every clock;
3. warms the JVM up with one PageRank call, checked but left out of
   the metrics;
4. ``--trace 0``: times PageRank calls until ``REPEATS`` have run and
   ``--seconds`` have passed. ``pagerank_cpu_s`` is the median CPU
   seconds of a call (JIT compiler threads left out: see
   WORKLOADS.md) and ``pagerank_edges_per_cpu_s`` the edges a call
   processes per such second;
   ``--trace 1``: makes one traced pass over every operator of the
   workload between two untraced PageRank calls. It records spans
   around the layer entry points and reads Spark's status stores after
   each call; the result carries the per-layer metrics plus the tracing
   overhead (traced PageRank call minus the mean of the untraced two);
5. prints one detail line (host fingerprint, per-call times and checks)
   and, last, the result line ``{"correct", "attempted", "failed",
   "metrics"}``.

Each call is timed to a collected result and checked against its
oracle outside the clock.

An operator call that raises or returns a wrong output counts its
operator as failed; nothing is skipped or retried. ``correct`` is false
only when the benchmark could not check an output (the oracle itself
failed); wrong outputs show in ``failed``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

CORES = 4
DRIVER_MEMORY = "2g"
SETUPS = 3
REPEATS = 3  # timed PageRank calls of an untraced run, at least

# name -> unit. BENCHMARK.json lists the same names and units.
E2E_METRICS = {
    "setup_s": "s",
    "pagerank_cpu_s": "s",
    "pagerank_edges_per_cpu_s": "1/s",
}
OPS = ("pagerank", "wcc", "bfs", "lpa", "tc")
_SPARK = (
    "jobs", "stages", "stages_skipped", "tasks", "tasks_failed",
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "driver_gap_s", "busy_share",
)


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("_share"):
        return "ratio"
    return "count"


LAYER_METRICS = {
    "session.start_s": "s",
    "sources.build_s": "s",
    "graph.renumber_s": "s",
    "graph.symmetrize_s": "s",
    "csr_blocks.pack_s": "s",
    "csr_blocks.packs": "count",
    "csr_blocks.packs_dict": "count",
    "csr_blocks.bytes_written": "bytes",
    "checkpoint.save_s": "s",
    "checkpoint.saves": "count",
    "checkpoint.bytes_written": "bytes",
    **{f"spark.{m}": _unit(m) for m in _SPARK},
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    **{
        f"operators.{op}.{m}": unit
        for op in OPS
        for m, unit in (
            ("wall_s", "s"), ("self_s", "s"), ("spark.jobs", "count"),
            ("spark.driver_gap_s", "s"), ("spark.executor_run_s", "s"),
            ("arrow.bytes_to_python", "bytes"),
        )
    },
    "operators.pagerank.supersteps": "count",
    "memory.peak_rss_mb": "MB",
    "host.calibration_s": "s",
    "trace.overhead_s": "s",
    "trace.probe_s": "s",
}


@dataclass
class OpRecord:
    name: str
    seconds: float
    ok: bool
    detail: str
    info: dict = field(default_factory=dict)


def run_op(op, inputs, expected, pass_dir) -> OpRecord:
    """Time one operator call to a collected result, then check it
    against ``expected`` outside the clock. An exception or a mismatch
    gives ``ok=False``; neither is retried."""
    t0 = time.perf_counter()
    try:
        pdf, info = op.run(inputs, pass_dir)
    except Exception as exc:  # an operator failure is a measured outcome
        secs = time.perf_counter() - t0
        traceback.print_exc(file=sys.stderr)
        return OpRecord(op.name, secs, False, f"raised {type(exc).__name__}: {exc}")
    secs = time.perf_counter() - t0
    ok, detail = op.check(pdf, info, expected)
    return OpRecord(op.name, secs, bool(ok), detail, info)


def count_failures(passes: list[list[OpRecord]]) -> tuple[int, int]:
    """(attempted, failed) over the workload's distinct operators: an
    operator fails if any of its calls in the run failed."""
    names, failed = [], set()
    for records in passes:
        for r in records:
            if r.name not in names:
                names.append(r.name)
            if not r.ok:
                failed.add(r.name)
    return len(names), len(failed)


# ----------------------------------------------------------------- set-up


def _prepare_env(work: Path) -> None:
    """Keep every file the run writes inside the checkout and let the
    Python workers import the package from it."""
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")


def start_session(work: Path):
    from cugraph_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
                # JIT threads live as long as the JVM, so probes.cpu_s
                # can tell their CPU from the rest
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )


def stop_everything(spark) -> None:
    """Stop the session, the JVM it launched, and wait for every child
    process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def setup_once(wl, seed, tracer, work, spark):
    """One set-up: session start (only the first set-up of a run starts
    one) and inputs. Returns (spark, inputs)."""
    with tracer.span("setup"):
        with tracer.span("session.start"):
            if spark is None:
                spark = start_session(work)
        inputs = wl.build(spark, seed, tracer)
    return spark, inputs


# ---------------------------------------------------------------- oracles


def oracle_results(wl, ops, inputs, cache_dir: Path) -> dict:
    """Expected output per op of ``ops``, cached on disk under a digest
    of the collected input arrays (so a cached entry can only match the
    very inputs it was computed from)."""
    h = hashlib.sha256(wl.name.encode())
    for key in sorted(inputs.arrays):
        for a in inputs.arrays[key]:
            h.update(a.tobytes())
    h.update(str(inputs.source).encode())
    cache_dir.mkdir(parents=True, exist_ok=True)
    out = {}
    for op in ops:
        path = cache_dir / f"{h.hexdigest()[:24]}-{op.name}.pkl"
        if path.exists():
            with open(path, "rb") as f:
                out[op.name] = pickle.load(f)
            continue
        out[op.name] = op.oracle(inputs)
        with open(path, "wb") as f:
            pickle.dump(out[op.name], f)
    return out


# ------------------------------------------------------------ measurement


def run_pass(ops, inputs, expected, pass_dir, tracer=None, snap=None):
    """One pass over ``ops``. With a tracer, each call is a span and its
    Spark totals are collected after it ends."""
    from perfbench.trace import layer_wrappers

    records, probe_s = [], 0.0
    for op in ops:
        if tracer is None:
            records.append(run_op(op, inputs, expected[op.name], pass_dir))
            continue
        snap.mark(f"perfbench-{op.name}")
        with layer_wrappers(tracer), tracer.span(f"operators.{op.name}") as span:
            e0 = time.time()
            rec = run_op(op, inputs, expected[op.name], pass_dir)
            e1 = time.time()
        t = time.perf_counter()
        span["counts"].update(snap.collect(e0, e1))
        probe_s += time.perf_counter() - t
        rec.info["span"] = span["id"]
        records.append(rec)
    return records, probe_s


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def layer_metrics(tracer, traced, untraced, probe_s, calib, peak_mb) -> dict:
    """Per-layer metrics: set-up layers (median over set-ups) and the
    totals of the traced pass ``traced``."""
    spans = tracer.spans
    setup_ids = {s["id"] for s in spans if s["name"] == "setup"}
    out: dict = {}
    for layer in ("session.start", "sources.build", "graph.renumber", "graph.symmetrize"):
        per_setup = {k: 0.0 for k in setup_ids}
        for s in spans:
            if s["name"] == layer and s["parent"] in setup_ids:
                per_setup[s["parent"]] += tracer.duration(s)
        # only the first set-up starts a session; the rest reuse it
        agg = sum if layer == "session.start" else _median
        out[f"{layer}_s"] = agg(list(per_setup.values()))

    tot: dict = {
        k: 0.0 for k in LAYER_METRICS
        if not k.startswith(("session.", "sources.", "graph.", "memory.", "host.", "trace."))
    }
    unmeasured: set = set()
    for rec in traced:
        span = spans[rec.info["span"]]
        op = rec.name
        tot[f"operators.{op}.wall_s"] += rec.seconds
        tot[f"operators.{op}.self_s"] += rec.seconds - sum(
            tracer.duration(c) for c in spans if c["parent"] == span["id"]
        )
        if op == "pagerank":
            tot["operators.pagerank.supersteps"] += rec.info.get("supersteps", 0)
        for p in tracer.children(span, "csr_blocks.pack"):
            tot["csr_blocks.pack_s"] += tracer.duration(p)
            tot["csr_blocks.packs"] += 1
            tot["csr_blocks.packs_dict"] += p["counts"].get("format") == "dict"
            tot["csr_blocks.bytes_written"] += p["counts"].get("bytes_written", 0)
        for c in tracer.children(span, "checkpoint.save"):
            tot["checkpoint.save_s"] += tracer.duration(c)
            tot["checkpoint.saves"] += 1
            tot["checkpoint.bytes_written"] += c["counts"].get("bytes_written", 0)
        sp = span["counts"].get("spark")
        if sp is None:
            unmeasured.update(f"spark.{m}" for m in _SPARK)
            unmeasured.update(
                f"operators.{op}.spark.{m}" for m in ("jobs", "driver_gap_s", "executor_run_s")
            )
        else:
            for m in _SPARK:
                if m != "busy_share":
                    tot[f"spark.{m}"] += sp[m]
            for m in ("jobs", "driver_gap_s", "executor_run_s"):
                tot[f"operators.{op}.spark.{m}"] += sp[m]
        ar = span["counts"].get("arrow")
        if ar is None:
            unmeasured.update((
                "arrow.bytes_to_python", "arrow.bytes_from_python",
                f"operators.{op}.arrow.bytes_to_python",
            ))
        else:
            tot["arrow.bytes_to_python"] += ar["bytes_to_python"]
            tot["arrow.bytes_from_python"] += ar["bytes_from_python"]
            tot[f"operators.{op}.arrow.bytes_to_python"] += ar["bytes_to_python"]
    wall = sum(r.seconds for r in traced)
    tot["spark.busy_share"] = tot["spark.executor_run_s"] / (max(wall, 1e-9) * CORES)
    for k in unmeasured:
        tot[k] = None
    out.update(tot)
    out["memory.peak_rss_mb"] = peak_mb
    out["host.calibration_s"] = calib
    traced_pr = _median([r.seconds for r in traced if r.name == "pagerank"])
    out["trace.overhead_s"] = traced_pr - _median([r.seconds for r in untraced])
    out["trace.probe_s"] = probe_s
    return out


def e2e_metrics(calls, setup_times, inputs, supersteps) -> dict:
    """End-to-end metrics from the timed PageRank calls: the median CPU
    seconds of a call, JIT compilation left out, and the edges it
    processes (directed edges x ``supersteps``) per such CPU second."""
    cpu = _median([r.info.get("cpu_s") for r in calls])
    return {
        "setup_s": _median(setup_times),
        "pagerank_cpu_s": cpu,
        "pagerank_edges_per_cpu_s": (
            inputs.n_edges * supersteps / cpu if cpu and supersteps else None
        ),
    }


def _metric_block(values: dict, units: dict) -> dict:
    block = {}
    for name, unit in units.items():
        v = values.get(name)
        block[name] = {"value": v, "unit": unit}
        if v is None:
            block[name]["unmeasured"] = True
    return block


# ------------------------------------------------------------------- main


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "cugraph_spark" / "__init__.py").is_file():
        print(f"perfbench: no cugraph_spark package under {ROOT}; run from a "
              "full checkout", file=sys.stderr)
        return 2

    # Child processes (the JVM, Python workers) inherit fd 1; point it
    # at stderr so nothing they print can follow the result line.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    from perfbench import probes
    from perfbench.trace import Tracer

    wl = WORKLOADS[args.workload]
    work = ROOT / ".perfbench_run"
    out_dir = ROOT / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    out_dir.mkdir(exist_ok=True)
    _prepare_env(work)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer = Tracer(run_id)

    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    load_before = probes.loadavg()
    calib = probes.calibration_s()
    phase("calibration")
    spark = None
    try:
        setup_times = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            spark, inputs = setup_once(wl, args.seed, tracer, work, spark)
            setup_times.append(time.perf_counter() - t0)
            if k < SETUPS - 1:
                inputs.unpersist()
        fingerprint = probes.host_fingerprint(spark)
        phase("setup")

        pagerank = next(op for op in wl.ops if op.name == "pagerank")
        ops = wl.ops if args.trace else [pagerank]
        wl.collect(inputs)
        try:
            expected = oracle_results(wl, ops, inputs, ROOT / ".perfbench_cache")
            oracle_ok = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            expected = {op.name: None for op in ops}
            oracle_ok = False
        phase("oracles")

        calls, traced, probe_s, peak_mb = [], [], None, None

        def untraced_call():
            pass_dir = str(work / f"call{len(calls)}")
            (cpu0, jit0), steal0 = probes.cpu_s(), probes.steal_s()
            rec = run_op(pagerank, inputs, expected["pagerank"], pass_dir)
            cpu1, jit1 = probes.cpu_s()
            rec.info["cpu_s"] = (cpu1 - jit1) - (cpu0 - jit0)
            rec.info["jit_cpu_s"] = jit1 - jit0
            if steal0 is not None:
                rec.info["host_steal_s"] = probes.steal_s() - steal0
            calls.append(rec)
            shutil.rmtree(pass_dir, ignore_errors=True)

        untraced_call()  # warm-up, left out of every metric
        phase("warmup")
        deadline = time.perf_counter() + args.seconds
        while not args.trace and (len(calls) <= REPEATS or time.perf_counter() < deadline):
            untraced_call()
        if args.trace:
            # untraced calls on both sides of the traced pass, so the
            # JVM's ongoing warm-up cancels out of the overhead
            untraced_call()
            snap = probes.SparkSnapshot(spark)
            with probes.RssSampler() as rss:
                pass_dir = str(work / "traced")
                traced, probe_s = run_pass(wl.ops, inputs, expected, pass_dir, tracer, snap)
                shutil.rmtree(pass_dir, ignore_errors=True)
                peak_mb = rss.peak_mb()
            untraced_call()
        phase("passes")
    finally:
        stop_everything(spark)
    phase("teardown")

    passes = [calls, traced] if traced else [calls]
    attempted, failed = count_failures(passes)
    if args.trace:
        values = layer_metrics(tracer, traced, calls[1:], probe_s, calib, peak_mb)
        units = LAYER_METRICS
    else:
        # the oracle's count; a failed oracle gives correct=false
        steps = (expected["pagerank"] or {}).get("supersteps") or calls[-1].info.get("supersteps")
        values = e2e_metrics(calls[1:], setup_times, inputs, steps)
        units = E2E_METRICS
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            **fingerprint,
            "load_before": load_before,
            "load_after": probes.loadavg(),
            "calibration_s": calib,
        },
        "inputs": {
            "directed_edges": inputs.n_edges,
            "symmetrized_edges": len(inputs.arrays["sym"][0]),
            "vertices": int(len(np.unique(inputs.arrays["sym"][0]))),
            "bfs_source": inputs.source,
        },
        "setup_s": setup_times,
        "phases_s": phases,
        "passes": [
            [{"op": r.name, "s": r.seconds, "ok": r.ok, "check": r.detail,
              **{k: v for k, v in r.info.items() if k != "span"}} for r in p]
            for p in passes
        ],
    }
    tracer.dump(str(out_dir / f"trace-{run_id}.json"))
    with open(out_dir / f"detail-{run_id}.json", "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"detail": detail}), file=result_out)
    result = {
        "correct": oracle_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": _metric_block(values, units),
    }
    print(json.dumps(result), file=result_out, flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
