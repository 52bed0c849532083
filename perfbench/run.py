"""The repository benchmark: one command, two workloads, one JSON line.

    python3 perfbench/run.py --workload build_iterate --seed 1 --seconds 8 --trace 0

First runs ``run.py --fill`` as a child process, which makes any missing
input or reference output and exits. Then runs one workload against the
package's public entry points on
``local[nproc]`` from this single driver process, checks every output
(outside the timed regions) and prints, as the last line of stdout,
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are BENCHMARK.json's ``end_to_end`` list; with ``--trace 1`` they
are its ``per_layer`` list, gathered from spans around the calls into the
package, Spark's status tracker and an event log enabled for that run only.
A per-layer metric of a layer the workload does not exercise reads 0.

Host sizing goes through the environment only: ``SPARK_GRAFT_CPUS`` is set
to the usable core count and ``SPARK_GRAFT_DRIVER_MEM`` to 2g unless set.
Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import shlex
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# traced call -> span name; Spark counters are reported per call of these
COUNTER_CALLS = {
    "fused_linked_triples": "operators.fused.fused_linked_triples",
    "canon_map": "operators.canon.canon_map",
    "canonical_from_fused": "operators.fused.canonical_from_fused",
    "g_components_starstar": "iterative_ops.g_components_starstar",
    "d_dedup_clusters": "iterative_ops.d_dedup_clusters",
    "pagerank": "operators.graph.pagerank",
    "run_pipeline": "plans.pipeline.run_pipeline",
    "apply_increment": "plans.pipeline.apply_increment",
    "run_search": "plans.search_api.run_search",
    "related_entities": "plans.kg_api.related_entities",
}
# per-call latency of the read path, from the spans of the traced serve loop
READ_PATH = (
    "operators.retrieval.search_index",
    "operators.search.rerank",
    "plans.search_api.bm25_filename_scores",
    "plans.kg_api.entity_lookup",
    "plans.kg_api.neighborhood",
    "plans.kg_api.answer_bgp",
    "plans.kg_api.related_entities",
)
# traced fused build: summed self time per layer call
FUSED_LAYERS = (
    "operators.stage2_link.build_alias_broadcast",
    "operators.fused.fused_linked_triples",
    "operators.fused.distinct_norms",
    "operators.canon.canon_map",
    "operators.fused.canonical_from_fused",
)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    sys.stderr.write(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}\n")
    sys.stderr.flush()


class Ctx:
    """State of one run, handed to the workload function."""

    def __init__(self, args, run_dir: str, cache: str, tracer, cores: int) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.root = ROOT
        self.run_dir = run_dir
        self.cache = cache
        self.tracer = tracer
        self.cores = cores
        self.spark = None
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_s = 0.0

    def start_spark(self, cores: int):
        from chunksilo_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(f"perfbench_{self.workload}", cores=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        return time.perf_counter() - t

    def restart_spark(self, cores: int):
        self.spark.stop()
        self.start_spark(cores)
        return self.spark

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        log(f"CHECK FAILED: {msg}")

    def layer(self, name: str, value: float) -> None:
        self.layers[name] = float(value)

    def note(self, msg: str) -> None:
        log(msg)

    def trace_phase(self, phase: str, untraced_wall: float, traced_wall: float) -> None:
        """Layer self-times of a traced phase against its untraced wall."""
        self_sum = self.tracer.subtree_self_sum(f"bench.{phase}")
        self.layer(f"trace.{phase}.layer_self_sum_s", self_sum)
        self.layer(f"trace.{phase}.untraced_wall_s", untraced_wall)
        self.layer(f"trace.{phase}.coverage", self_sum / untraced_wall)
        self.layer(f"trace.{phase}.overhead", traced_wall / untraced_wall - 1.0)


def _span_layers(ctx: Ctx) -> None:
    from perfbench.trace import SPARK_COUNTERS

    tr = ctx.tracer
    self_t = tr.totals("self")
    calls: dict[str, int] = {}
    for s in tr.spans:
        calls[s["name"]] = calls.get(s["name"], 0) + 1
    for name in FUSED_LAYERS:
        if name in self_t:
            ctx.layer(f"{name}.s", self_t[name])
    for name in READ_PATH:
        if name in self_t:
            ctx.layer(f"{name}.ms", self_t[name] / calls[name] * 1e3)
    for name, value in tr.counts.items():
        ctx.layer(name, value)
    for short, span_name in COUNTER_CALLS.items():
        n = calls.get(span_name)
        if not n:
            continue
        for counter in SPARK_COUNTERS:
            ctx.layer(f"spark.{counter}.{short}", tr.totals(counter).get(span_name, 0) / n)


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def _reap_children() -> None:
    """Wait for every remaining descendant (Python worker daemons) to exit;
    terminate those that outlive a grace period."""
    from perfbench.trace import _descendants

    me = os.getpid()
    deadline = time.time() + 20
    while True:
        left = [p for p in _descendants(me) if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.time() + 10
        time.sleep(0.2)


def _configure_env(run_dir: str, trace: bool) -> int:
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["CHUNKSILO_SCRATCH_ROOT"] = os.path.join(run_dir, "scratch")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the JVM's temp files and no /tmp/hsperfdata: all writes stay in the run dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    return cores


def _fill(seed: int, work: str, cache: str) -> None:
    """``--fill``: make every cached input in this process, starting a Spark
    session only if a store must be built, and stop everything it started."""
    from perfbench import workloads

    run_dir = os.path.join(work, f"fill_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    sessions = []

    def spark():
        if not sessions:
            from chunksilo_spark.session import get_spark

            sessions.append(get_spark("perfbench_fill", cores=cores))
            sessions[0].sparkContext.setLogLevel("ERROR")
        return sessions[0]

    try:
        cores = _configure_env(run_dir, False)
        workloads.fill(cache, seed, spark)
    finally:
        if sessions:
            sessions[0].stop()
        _stop_jvm()
        _reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fill", action="store_true",
                    help="only make the cached inputs of every workload, then exit")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "chunksilo_spark")):
        log(f"no chunksilo_spark package under {ROOT}: nothing to measure")
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import workloads
    from perfbench.trace import RssSampler, Tracer, parse_event_log

    work = os.path.join(ROOT, ".perfbench_work")
    cache = os.path.join(work, "cache")
    os.makedirs(cache, exist_ok=True)
    if args.fill:
        _fill(args.seed, work, cache)
        return 0
    if args.workload not in workloads.WORKLOADS or args.seconds is None:
        log(f"need --seconds and a --workload from {sorted(workloads.WORKLOADS)}")
        return 2
    # inputs and reference outputs are made in a child process that has
    # ended before this one measures anything: the first run in a checkout
    # fills them all, and no measured run holds fill work
    t = time.perf_counter()
    subprocess.run([sys.executable, os.path.abspath(__file__), "--fill", "--seed",
                    str(args.seed)], check=True, stdout=sys.stderr)
    log(f"inputs ready in {time.perf_counter() - t:.1f} s (a separate process; "
        f"in no metric)")
    run_dir = os.path.join(work, f"run_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace = bool(args.trace)
    tracer = Tracer(args.workload, trace)
    try:
        cores = _configure_env(run_dir, trace)
        ctx = Ctx(args, run_dir, cache, tracer, cores)
        with RssSampler() as rss:
            try:
                session_s = ctx.start_spark(cores)
                log(f"session up on local[{cores}] in {session_s:.1f} s")
                workloads.WORKLOADS[args.workload](ctx)
                if trace:
                    ctx.layers.update(workloads.kernel_metrics(args.seed))
            finally:
                if ctx.spark is not None:
                    ctx.spark.stop()
                _stop_jvm()
        _reap_children()
        if trace:
            tracer.attach_event_log(parse_event_log(os.path.join(run_dir, "events")))
            tracer.dump(os.path.join(work, f"spans_{args.workload}_{args.seed}.jsonl"))
            _span_layers(ctx)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ctx.metrics["setup_s"] = session_s + ctx.setup_s
    ctx.metrics["peak_rss_mb"] = rss.peak / 2**20
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    source = ctx.layers if trace else ctx.metrics
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] not in source:
            missing.append(m["name"])
        metrics[m["name"]] = {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
    if trace and missing:
        log(f"not exercised by {args.workload} (reported as 0): {', '.join(missing)}")
    elif missing:
        raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    for m in spec["end_to_end"] if not trace else ():
        log(f"{m['name']:>22} = {metrics[m['name']]['value']:.6g} {m['unit']}")
    for name in sorted(k for k in ctx.layers if k.startswith("workload.")):
        log(f"{name:>36} = {ctx.layers[name]:.6g}")
    failed = len(ctx.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(ctx.attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
