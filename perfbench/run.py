"""Repository benchmark: closed-loop KG workloads on a local Spark session.

    python3 perfbench/run.py --workload build_synth --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. ``--trace 0`` measures the
end-to-end metrics; ``--trace 1`` also makes a separate traced pass
(spans, tagged Spark jobs, Spark's event log, single-core body profile)
and reports the per-layer metrics instead. The last line of standard
output is one JSON object; the lines before it print every metric by
name with its unit. Everything the run writes stays under
``.perfbench/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
# The session default (24g) is sized for a dedicated 32-core host; a
# small heap fits a shared host and keeps the JVM's resident size steadier.
DRIVER_MEMORY = "1g"
SETUP_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def code_hash() -> str:
    """Digest of the package and benchmark sources: the key under which
    reference outputs are cached."""
    h = hashlib.sha256()
    for sub in ("naruhodo_spark", "perfbench"):
        for path in sorted((ROOT / sub).rglob("*.py")):
            h.update(str(path.relative_to(ROOT)).encode())
            h.update(path.read_bytes())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------
# memory: driver JVM plus its Python workers, sampled from /proc
# ---------------------------------------------------------------------

def _tree_rss_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        pid = int(entry.name)
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        rss[pid] = int(line.split()[1])
                        break
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.root_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.root_pid))


# ---------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------

class Context:
    """Run-wide state shared by the harness and the workloads."""

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.cache_dir = STATE / "cache"
        self.code_hash = code_hash()
        self.nproc = nproc()
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def start_session(self, extra_conf=None) -> float:
        from naruhodo_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        # the session users get: get_spark as build_kg.py calls it, with
        # the master a submitter would pass and no task.cpus override
        self.spark = get_spark(
            app_name="build_kg", master=f"local[{self.nproc}]", extra_conf=extra_conf
        )
        return time.perf_counter() - t0

    def warm_up(self) -> float:
        """Start the Python workers on every core and run one shuffle."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        df = self.spark.range(0, 64, numPartitions=self.nproc)
        df.mapInPandas(_identity, schema="id long").agg(F.sum("id")).collect()
        return time.perf_counter() - t0

    def check(self, workload, result) -> None:
        """Adds the call's failed operations; the loop counted them as
        attempted."""
        try:
            bad = workload.check(result)
        except Exception:  # a check that cannot run fails the whole call
            traceback.print_exc()
            bad = workload.ops_per_call
        self.failed += min(bad, workload.ops_per_call)


def _identity(batches):
    yield from batches


def closed_loop(ctx, workload, seconds: float, min_calls: int):
    """Calls back to back until ``seconds`` of calls and at least
    ``min_calls`` calls have run. Returns the walls and results of the
    calls that did not raise."""
    walls, results, spent, calls = [], [], 0.0, 0
    while calls < min_calls or spent < seconds:
        calls += 1
        ctx.attempted += workload.ops_per_call
        t0 = time.perf_counter()
        try:
            with ctx.span(f"{workload.name}.call"):
                result = workload.call()
        except Exception:
            traceback.print_exc()
            ctx.failed += workload.ops_per_call
            spent += time.perf_counter() - t0
            if calls - len(walls) > 50:
                break
            continue
        walls.append(time.perf_counter() - t0)
        spent += walls[-1]
        results.append(result)
        with ctx.span(f"{workload.name}.check"):
            ctx.check(workload, result)
    return walls, results


def set_up(ctx, workload) -> dict:
    """SETUP_REPS full set-ups (session start, warm-up, inputs); the
    first one also launches the JVM. Reports medians."""
    starts, warms, totals = [], [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        starts.append(ctx.start_session())
        warms.append(ctx.warm_up())
        workload.materialize()
        totals.append(time.perf_counter() - t0)
        log(f"set-up rep: start {starts[-1]:.2f}s warm-up {warms[-1]:.2f}s "
            f"total {totals[-1]:.2f}s")
    return {
        "session.start_s": statistics.median(starts),
        "session.warmup_s": statistics.median(warms),
        "setup_s": statistics.median(totals),
    }


def end_to_end(workload, setup, walls, results, peak_kb) -> dict:
    if not results:
        raise RuntimeError("every timed call raised")
    wall = statistics.median(walls)
    docs, triples = workload.docs_triples_per_call(results)
    return {
        "wall_s": wall,
        "setup_s": setup["setup_s"],
        "peak_rss_mb": peak_kb / 1024.0,
        "docs_per_s": docs / wall,
        "triples_per_s": triples / wall,
    }


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown(ctx) -> None:
    """Stop the session and the JVM, and wait for both to end."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def traced_pass(ctx, workload, untraced_wall: float, run: str) -> dict:
    """A separate pass on a fresh session with an uncompressed event log:
    one traced call, the workload's layer steps, then the single-core
    body profile. Returns the per-layer metrics."""
    import tracing
    import vprofile
    from naruhodo_spark import pipeline, storage, synth
    from naruhodo_spark.operators import canon as O_canon

    log_dir = ctx.work / "eventlog"
    log_dir.mkdir(parents=True, exist_ok=True)
    ctx.start_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    tracer = tracing.Tracer(ctx.spark.sparkContext, run)
    ctx.tracer = tracer
    # eager module functions the package calls through their module, so
    # their spans nest under the benchmark's own
    tracer.patch(storage, "write_table", "storage.write_table")
    tracer.patch(storage, "delete_partitions", "storage.delete_partitions")
    tracer.patch(pipeline, "finalize", "pipeline.finalize")
    try:
        with tracer.span("traced") as root:
            with tracer.span("warmup"):
                ctx.warm_up()
            _, results = closed_loop(ctx, workload, 0.0, min_calls=1)
            layers = workload.layer_steps(tracer)
            with tracer.span("profile_input"):
                pdf, task_col = workload.profile_input()
    finally:
        tracer.unpatch()
        ctx.tracer = None
    conf = dict(ctx.spark.sparkContext.getConf().getAll())
    canon = O_canon.alias_canonical_map(synth.alias_dictionary(ctx.spark))
    ctx.spark.stop()  # closes the event log
    ctx.spark = None
    log_ = tracing.EventLog(tracing.find_event_log(log_dir))

    calls = [s for s in tracer.spans if s["name"] == f"{workload.name}.call"]
    per_call = [tracer.subtree(c["id"]) for c in calls]
    boundary = [tracing.boundary_metrics(log_.stages_in(ids)) for ids in per_call]
    for key in ("extract_stages", "python_run_s", "python_start_s", "python_init_s",
                "bytes_to_python", "bytes_from_python", "task_max_over_median"):
        layers[f"fused.{key}"] = statistics.median(b[key] for b in boundary)
    layers.update(workload.log_metrics(tracer, log_, per_call))

    # single-core body profile on the workload's own task batches; it
    # calls vchunk's internals, so a refactor there must not cost the
    # other layers
    try:
        layers.update(vprofile.profile(vprofile.split_batches(pdf, task_col), canon))
    except Exception:
        traceback.print_exc()
        log("vchunk profile failed; its metrics read 0")
    traced_wall = statistics.median(c["end"] - c["start"] for c in calls)
    layers["trace.overhead_s"] = traced_wall - untraced_wall
    layers["trace.unattributed_s"] = tracer.self_time(root["id"])

    trace_dir = STATE / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    (trace_dir / f"{workload.name}-seed{ctx.seed}-{run}.json").write_text(json.dumps(
        {
            "run_id": run,
            "workload": workload.name,
            "seed": ctx.seed,
            "loadavg_1m": os.getloadavg()[0],
            "spark_conf": conf,
            "spans": tracer.spans,
            "span_summary": tracer.summary(),
            "unattributed_jobs": log_.unattributed_jobs(),
            "calls": len(results),
            "layers": layers,
        },
        indent=1,
        sort_keys=True,
    ))
    return layers


def metric_units(section: str) -> dict[str, str]:
    """name → unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[section]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "naruhodo_spark" / "__init__.py").is_file():
        print(f"perfbench: no naruhodo_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run = uuid.uuid4().hex[:12]
    work = STATE / f"run-{run}"
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYSPARK_PYTHON"] = sys.executable

    ctx = Context(args.seed, work)
    workload = workloads.WORKLOADS[args.workload](ctx)
    log(f"workload={workload.name} seed={args.seed} nproc={ctx.nproc} "
        f"loadavg_1m={os.getloadavg()[0]:.2f}")
    layers: dict[str, float] = {}
    try:
        setup = set_up(ctx, workload)
        log("spark conf: " + json.dumps(dict(sorted(ctx.spark.sparkContext.getConf().getAll()))))
        workload.load_ref()
        log("reference ready")
        with RssSampler(jvm_pid()) as rss:
            walls, results = closed_loop(ctx, workload, args.seconds, workload.min_calls)
        log(f"timed loop: {len(walls)} calls, walls " + " ".join(f"{w:.3f}" for w in walls))
        metrics = end_to_end(workload, setup, walls, results, rss.peak_kb)
        if args.trace:
            log(f"loadavg_1m={os.getloadavg()[0]:.2f} before the traced pass")
            layers = traced_pass(ctx, workload, metrics["wall_s"], run)
            layers["session.start_s"] = setup["session.start_s"]
            layers["session.warmup_s"] = setup["session.warmup_s"]
            per_core = layers.get("vchunk.docs_per_core_s", 0.0)
            layers["fused.body_efficiency"] = (
                metrics["docs_per_s"] / (ctx.nproc * per_core) if per_core else 0.0
            )
    finally:
        shutdown(ctx)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")

    if args.trace:
        out = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
               for k, u in metric_units("per_layer").items()}
    else:
        out = {k: {"value": float(metrics[k]), "unit": u}
               for k, u in metric_units("end_to_end").items()}
    for k, v in out.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    fail_ratio = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    print(f"fail_ratio {fail_ratio:.6g} ratio ({ctx.failed} of {ctx.attempted})")
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
