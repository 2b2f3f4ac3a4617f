#!/usr/bin/env python3
"""spark-extract benchmark: end-to-end and layer-by-layer.

    python3 perfbench/run.py --workload flagship_replicated --seed 1 \\
        --seconds 20 --trace 0
    python3 perfbench/run.py --smoke     # every workload once, tiny inputs

Run from the repository root. Times the program only from outside:
it calls the public functions of each module and changes no program
code. One driver process submits one job at a time and waits for it
(closed loop, one client) on ``local[N]``, N = the cores this process
may run on; shuffle partitions are 2N; the Spark driver's heap is fixed.

``--trace 0`` measures the end-to-end metrics: set-up once (session
start, input generation and write — repeated, median — and warm-up
passes), then timed passes for ``--seconds`` (at least three), then an
output check outside the timed region. ``--trace 1`` is the separate
per-layer run: passes alternate untraced and traced for half the
seconds (the ratio of their medians is the tracing overhead), then the
layer ladder, the single-threaded rule families and the extraction-job
split.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root. The last stdout line is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it is a compact summary with the host's core count and the path of the
detail JSON (ladder, rule families, per-pass walls, stage metrics and
trace spans).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "2g"
SETUP_REPEATS = 3
# warm-up: the first full pass starts the Python workers and pays the
# JVM's cold code paths; the JIT then needs tens of seconds of running
# before full passes stop getting faster. JVM-only passes (scan to
# reassembly, no Python) get it there at a fraction of a full pass's
# cost, and one more full pass warms the Arrow crossing.
JVM_WARMUP_PASSES = 8
MIN_PASSES = 3
MAX_PASSES = 100  # stops a run whose passes all fail
LADDER_REPEATS = 2
RULE_DOCS = 80
WORKLOAD_NAMES = ("flagship_replicated", "corpus_unique", "extraction_job", "contract_suite")


def configure_env(cores: int) -> None:
    """Size the run to the host and keep every file it writes inside
    the work directory. Must run before pyspark starts the JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            # python workers import the program and the ladder bodies
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONDONTWRITEBYTECODE": "1",
            # no hsperfdata files in the system temp directory
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # a fixed, pre-touched heap keeps peak RSS independent of
            # when the collector last grew or touched it
            "PYSPARK_SUBMIT_ARGS": "--conf spark.driver.defaultJavaOptions="
            f"'-Xms{HEAP} -XX:+AlwaysPreTouch' pyspark-shell",
        }
    )
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)


class Context:
    """Per-run state shared by the workload and the phases: the session,
    the seed, the check tally and the tracer."""

    def __init__(self, args, cores: int):
        from perfbench.probes import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.smoke = args.smoke
        self.cores = cores
        self.work = WORK
        self.spark = None
        self.tracer = Tracer(run_id=f"{args.workload or 'smoke'}-{args.seed}", enabled=False)
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append({"check": name, "ok": bool(ok), "detail": "" if ok else detail})
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    def attempt(self, name: str, fn, *args):
        """Run one operation; an exception counts as a failed operation
        and does not abort the run."""
        try:
            out = fn(*args)
        except Exception:  # boundary: record, keep measuring
            traceback.print_exc()
            self.check(name, False, traceback.format_exc(limit=1).strip()[-300:])
            return None
        self.attempted += 1
        return out


def start_session(cores: int):
    from smartglass_ocr_spark.session import get_spark

    return get_spark("perfbench", cpus=cores, shuffle_partitions=2 * cores)


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway and wait until every process
    this run started has exited."""
    from perfbench.probes import descendants

    started = descendants(os.getpid())[1:]
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = started
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


def measure(ctx: Context, wl, seconds: float, min_passes: int) -> list[float]:
    """Timed passes for ``seconds`` (at least ``min_passes``). Returns
    the successful passes' walls."""
    walls: list[float] = []
    end = time.perf_counter() + seconds
    i = 0
    while (len(walls) < min_passes or time.perf_counter() < end) and i < MAX_PASSES:
        with ctx.tracer.span("pass", i=i):
            r = ctx.attempt(f"pass-{i}", wl.one_pass, i)
        if r is not None:
            walls.append(r[1])
        i += 1
    return walls


def setup(ctx: Context, wl_cls) -> tuple[object, dict]:
    """Session start, input generation + write (repeated, median) and
    the warm-up passes. Returns the workload and the set-up split."""
    t = time.perf_counter()
    if ctx.spark is None:  # the smoke run shares one session
        with ctx.tracer.span("setup.session"):
            ctx.spark = start_session(ctx.cores)
    session_s = time.perf_counter() - t
    wl = wl_cls(ctx)
    gen = []
    for _ in range(1 if ctx.smoke else SETUP_REPEATS):
        t = time.perf_counter()
        with ctx.tracer.span("setup.generate"):
            wl.generate()
        gen.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    t = time.perf_counter()
    if not ctx.smoke:
        with ctx.tracer.span("setup.warmup"):
            ctx.attempt("warmup", wl.one_pass, -2)
            for _ in range(JVM_WARMUP_PASSES if hasattr(wl, "jvm_pass") else 0):
                ctx.attempt("warmup-jvm", wl.jvm_pass)
            ctx.attempt("warmup", wl.one_pass, -1)
    warm_s = time.perf_counter() - t
    split = {
        "session_s": session_s, "generate_s": gen, "warmup_s": warm_s,
        "check_prepare_s": prepare_s,
        "setup_s": session_s + median(gen) + warm_s,
    }
    return wl, split


def stage_metrics_pass(ctx: Context, wl, i: int):
    """One traced pass: spans on, stage metrics read from the status
    store after the job (part of the traced wall)."""
    from perfbench.probes import stage_totals

    t = time.perf_counter()
    before = stage_totals(ctx.spark)["max_stage"]
    with ctx.tracer.span("traced_pass", i=i):
        wl.one_pass(i)
        st = stage_totals(ctx.spark, before)
    return time.perf_counter() - t, st


def layer_phase(ctx: Context, wl, detail: dict) -> dict:
    """The per-layer run. Returns the per-layer metrics by name; the
    measurements behind them go into ``detail``."""
    from perfbench.probes import rule_family_times
    from perfbench.workloads import extraction_job, noop
    from smartglass_ocr_spark.pipeline import fused_doc_stage

    tr = ctx.tracer
    m: dict[str, float] = {}

    # 1. untraced and traced passes, alternating; half the run's
    # seconds, so the ladder and job phases fit the run's time limit
    plain, traced, stages = [], [], []
    end = time.perf_counter() + ctx.seconds / 2
    i, min_each = 0, 1 if ctx.smoke else 2
    while (min(len(plain), len(traced)) < min_each or time.perf_counter() < end) and i < MAX_PASSES:
        tr.enabled = False
        r = ctx.attempt(f"pass-{i}", wl.one_pass, i)
        if r is not None:
            plain.append(r[1])
        tr.enabled = True
        r = ctx.attempt(f"traced-pass-{i}", stage_metrics_pass, ctx, wl, i + 1)
        if r is not None:
            traced.append(r[0])
            stages.append(r[1])
        i += 2
    docs_per_s = wl.n_docs / median(plain)
    m["trace.overhead_share"] = median(traced) / median(plain) - 1
    detail["passes"] = {"untraced_s": plain, "traced_s": traced, "docs_per_s": docs_per_s}
    detail["stages"] = stages
    mb = 1e6
    m["pipeline.shuffle_write_mb"] = median(s["shuffle_write_bytes"] for s in stages) / mb
    m["pipeline.spill_mb"] = median(s["spill_bytes"] for s in stages) / mb
    run_ms = sum(s["run_ms"] for s in stages) or 1
    m["pipeline.gc_share"] = sum(s["gc_ms"] for s in stages) / run_ms
    m["pipeline.executor_cpu_share"] = sum(s["cpu_ns"] for s in stages) / 1e6 / run_ms

    # 2. the cumulative ladder, steps interleaved across repeats
    steps = wl.ladder()
    walls: dict[str, list[float]] = {name: [] for name, _ in steps}
    with tr.span("ladder"):
        for _ in range(1 if ctx.smoke else LADDER_REPEATS):
            for name, frame in steps:
                t = time.perf_counter()
                with tr.span(f"ladder.{name}"):
                    ok = ctx.attempt(f"ladder-{name}", lambda: noop(frame()) or True)
                if ok:
                    walls[name].append(time.perf_counter() - t)
    lad = {name: median(w) for name, w in walls.items()}
    detail["ladder"] = {"walls_s": walls, "median_s": lad}
    m["sources.scan_s"] = lad["scan"]
    m["corpus.derive_s"] = lad["L0"] - lad["scan"]
    m["pipeline.reassemble_s"] = lad["L1"] - lad["L0"]
    m["pipeline.arrow_in_s"] = lad["L2"] - lad["L1"]
    m["golden.rules_s"] = lad["L3"] - lad["L2"]
    m["pipeline.arrow_out_s"] = lad["L4"] - lad["L3"]

    # 3. rule families, single-threaded in this process
    with tr.span("rules"):
        docs = wl.rule_docs(10 if ctx.smoke else RULE_DOCS)
        rules = rule_family_times(docs, repeats=1 if ctx.smoke else 3)
    m.update(rules)
    ideal = ctx.cores * 1000 / rules["golden.process_document_ms"]
    m["pipeline.core_efficiency"] = docs_per_s / ideal
    detail["rules"] = {"n_docs": len(docs), **rules}

    # 4. the extraction job on this workload's doc-shaped input
    with tr.span("checkpoint"):
        t = time.perf_counter()
        with tr.span("checkpoint.stage_only"):
            noop(fused_doc_stage(wl.doc_frame()))
        stage_only = time.perf_counter() - t
        with tr.span("checkpoint.job"):
            job = extraction_job(ctx.spark, wl.doc_frame(), os.path.join(wl.dir, "layer-job"),
                                 4 * ctx.cores)
    ctx.check("layer_job_resume_skips_all", job["resumed"]["processed"] == [],
              f"resume processed {job['resumed']['processed'][:5]}")
    m["checkpoint.stage_only_s"] = stage_only
    m["checkpoint.job_s"] = job["job_s"]
    m["checkpoint.sink_s"] = job["job_s"] - m["checkpoint.stage_only_s"]
    m["checkpoint.sink_mb"] = job["sink_bytes"] / mb
    m["checkpoint.resume_noop_s"] = job["resume_s"]
    m["checkpoint.partitions_written"] = len(job["result"]["processed"])
    detail["checkpoint"] = {"stage_only_s": stage_only,
                            "job": {k: job[k] for k in ("result", "resumed", "job_s", "resume_s",
                                                        "sink_bytes")}}
    return m


UNITS = {
    "docs_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB", "suite_wall_s": "s",
    "sources.scan_s": "s", "corpus.derive_s": "s", "pipeline.reassemble_s": "s",
    "pipeline.arrow_in_s": "s", "golden.rules_s": "s", "pipeline.arrow_out_s": "s",
    "pipeline.shuffle_write_mb": "MB", "pipeline.spill_mb": "MB",
    "pipeline.gc_share": "ratio", "pipeline.executor_cpu_share": "ratio",
    "pipeline.core_efficiency": "ratio", "golden.process_document_ms": "ms",
    "checkpoint.stage_only_s": "s", "checkpoint.job_s": "s", "checkpoint.sink_s": "s",
    "checkpoint.sink_mb": "MB", "checkpoint.resume_noop_s": "s",
    "checkpoint.partitions_written": "count", "trace.overhead_share": "ratio",
}


def unit_of(name: str) -> str:
    head, _, rest = name.partition(".")
    if head in WORKLOAD_NAMES:  # smoke metrics carry the workload prefix
        name = rest
    if name.startswith("rules."):
        return "ms"
    if name.endswith("wall_s"):  # contract_suite, per module
        return "s"
    return UNITS[name]


def run_workload(ctx: Context, name: str, trace: bool, detail: dict) -> tuple[dict, dict | None]:
    """One workload: set-up, measurement, output check. Returns the
    end-to-end metrics and, for a traced run, the per-layer metrics."""
    from perfbench.probes import RssSampler
    from perfbench.workloads import WORKLOADS

    wl_cls = WORKLOADS[name]
    ctx.tracer.enabled = trace
    with RssSampler() as rss:
        wl, split = setup(ctx, wl_cls)
        detail["setup"] = split
        rss.reset()
        min_passes = 1 if ctx.smoke else MIN_PASSES
        suite = name == "contract_suite"
        if trace and not suite:
            layer = layer_phase(ctx, wl, detail)
            detail["layer_metrics"] = layer
            walls = detail["passes"]["untraced_s"]
        else:
            walls = measure(ctx, wl, ctx.seconds, min_passes)
            detail["passes"] = {"walls_s": walls}
        peak = rss.peak
    if not walls:
        raise RuntimeError("no pass succeeded")
    with ctx.tracer.span("check"):
        ctx.attempt("check", wl.check)
    e2e = {"setup_s": split["setup_s"], "peak_rss_mb": peak / 1e6}
    if suite:
        e2e["suite_wall_s"] = median(walls)
        if trace:  # per-module walls, each the median over passes
            per = {m: [sum(w for q, w in p.items() if wl.module[q] == m) for p in wl.walls[-len(walls):]]
                   for m in sorted(set(wl.module.values()))}
            detail["query_walls_s"] = wl.walls
            return e2e, {m: median(v) for m, v in per.items() if v}
        detail["query_walls_s"] = wl.walls
        return e2e, None
    e2e["docs_per_s"] = wl.n_docs / median(walls)
    return e2e, (layer if trace else None)


def emit(ctx: Context, args, cores_host: int, e2e: dict, metrics: dict, detail: dict) -> None:
    os.makedirs(WORK, exist_ok=True)
    tag = "smoke" if args.smoke else f"{args.workload}-s{args.seed}-t{args.trace}"
    path = os.path.join(WORK, f"detail-{tag}.json")
    detail.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus_host": cores_host, "cpus_used": ctx.cores,
        "driver_heap": HEAP, "end_to_end": e2e, "checks": ctx.checks,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "failed_share": ctx.failed / max(1, ctx.attempted),
        "spans": ctx.tracer.spans,
    })
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    summary = {
        "workload": "smoke" if args.smoke else args.workload,
        **{k: [round(v, 4), unit_of(k)] for k, v in e2e.items()},
        "failed_share": round(ctx.failed / max(1, ctx.attempted), 4),
        "cpus_host": cores_host, "cpus_used": ctx.cores, "heap": HEAP,
        "detail": os.path.relpath(path, ROOT),
    }
    print(json.dumps(summary, separators=(",", ":")))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }, separators=(",", ":")))


def smoke(ctx: Context, detail: dict) -> dict:
    """Every workload once, traced, on tiny inputs in one session."""
    from perfbench.workloads import WORKLOADS

    metrics = {}
    for name in WORKLOADS:
        detail[name] = {}
        e2e, _ = run_workload(ctx, name, True, detail[name])
        metrics.update({f"{name}.{k}": v for k, v in e2e.items()})
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload once on tiny inputs (sf0.001, a few dozen docs)")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke")
    if not os.path.isfile(os.path.join(ROOT, "smartglass_ocr_spark", "__init__.py")):
        print("perfbench: smartglass_ocr_spark/ is missing from this checkout", file=sys.stderr)
        return 2
    if args.smoke:
        args.seconds, args.trace = 0.0, 1
    cores_host = os.cpu_count() or 1
    cores = len(os.sched_getaffinity(0))
    configure_env(cores)
    ctx = Context(args, cores)
    detail: dict = {}
    try:
        if args.smoke:
            e2e, metrics = {}, smoke(ctx, detail)  # per-workload values: last line
        else:
            e2e, layer = run_workload(ctx, args.workload, bool(args.trace), detail)
            metrics = layer if layer is not None else e2e
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
    emit(ctx, args, cores_host, e2e, metrics, detail)
    return 0


if __name__ == "__main__":
    sys.exit(main())
