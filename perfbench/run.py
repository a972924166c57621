"""Run one benchmark workload; the last stdout line is its result as JSON.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. See perfbench/README.md.
"""

import time

T0 = time.perf_counter()  # "process start" for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")
PACKAGE = "web_template_forensics_spark"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def substrate() -> dict:
    nproc = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {
        "master": f"local[{nproc}]",
        "nproc": nproc,
        "ram_mb": ram_mb,
        # the package default (48g) exceeds small hosts; a quarter of RAM,
        # capped at 4 GiB, holds every workload's inputs several times over
        "driver_memory_mb": min(4096, ram_mb // 4),
        "spark_local_dirs": os.path.join(DATA, "spark-local"),
        "tmpdir": os.path.join(DATA, "tmp"),
        "tz": "UTC",
    }


class Session:
    """One SparkSession with the engine's config on the pinned substrate;
    records its set-up phases."""

    def __init__(self, sub: dict, extra_conf: dict | None = None) -> None:
        from web_template_forensics_spark.functions.text_udfs import token_count_udf
        from web_template_forensics_spark.session import get_spark

        n = sub["nproc"]
        conf = {
            "spark.driver.memory": f"{sub['driver_memory_mb']}m",
            # keep the JVM's scratch files (native libs, artifacts) in the
            # checkout; perf data would otherwise go to /tmp/hsperfdata_*
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={sub['tmpdir']} -XX:-UsePerfData",
            **(extra_conf or {}),
        }
        t = time.perf_counter()
        self.spark = get_spark("perfbench", cores=n, shuffle_partitions=n, extra_conf=conf)
        self.start_s = time.perf_counter() - t
        t = time.perf_counter()
        self.spark.range(0, n * 100, 1, n).count()
        self.first_job_s = time.perf_counter() - t
        t = time.perf_counter()
        self.spark.range(0, n * 10, 1, n).selectExpr("cast(id as string) s").select(
            token_count_udf("s")
        ).count()
        self.python_workers_s = time.perf_counter() - t

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


class Passes:
    """Timed passes of one workload in one session. Every pass starts with
    the cache cleared and a fresh sink, so no pass is served by another."""

    def __init__(self, session: Session, wl, tracer, sinks: str) -> None:
        self.s, self.wl, self.tracer, self.sinks = session, wl, tracer, sinks
        self.times: dict[str, float] = {}  # pass id -> seconds (checked passes)
        self.persisted: dict[str, int] = {}
        self.attempted = self.failed = 0

    def one(self, pid: str, run=None) -> None:
        spark = self.s.spark
        spark.catalog.clearCache()
        sink = os.path.join(self.sinks, pid)
        shutil.rmtree(sink, ignore_errors=True)
        self.tracer.pass_id = pid
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span("pass"):
                check = (run or self.wl.run_pass)(spark, sink)
            dt = time.perf_counter() - t
            self.persisted[pid] = self.s.persisted_rdds()
            problems = check() if check else []
        except Exception:  # a failed pass is a failed operation, not a crash
            problems = [traceback.format_exc()]
        shutil.rmtree(sink, ignore_errors=True)
        if problems:
            self.failed += 1
            log(f"{self.wl.name} pass {pid} FAILED: {problems}")
        else:
            self.times[pid] = dt
            log(f"{self.wl.name} pass {pid}: {dt:.3f}s")

    def first_and_window(self, seconds: float) -> list[str]:
        """The first pass, then warm passes for `seconds` (at least two);
        -> the ids of the warm passes that passed their check."""
        self.one("p0")
        warm, start = [], time.perf_counter()
        while len(warm) < 2 or time.perf_counter() - start < seconds:
            warm.append(f"p{len(warm) + 1}")
            self.one(warm[-1])
        return [p for p in warm if p in self.times]


def items_per_s(passes: Passes, warm: list[str]) -> float:
    return passes.wl.items / statistics.median(passes.times[p] for p in warm) if warm else 0.0


def phase(args, sub, in_dir, tracer, conf=None, seconds=None, split=False):
    """One session: set-up, expected outputs, first pass, warm window."""
    from workloads import WORKLOADS

    s = Session(sub, conf)
    wl = WORKLOADS[args.workload](in_dir, tracer)
    wl.open(s.spark)
    setup_s = time.perf_counter() - T0
    wl.expected(s.spark)
    sinks = os.path.join(DATA, "sinks", str(os.getpid()))
    p = Passes(s, wl, tracer, sinks)
    warm = p.first_and_window(args.seconds if seconds is None else seconds)
    if split and wl.split_pass:
        p.one("split", run=wl.split_pass)
    s.spark.stop()
    shutil.rmtree(sinks, ignore_errors=True)
    return s, p, warm, setup_s


def run_untraced(args, sub, in_dir, prep_s) -> tuple[dict, int, int]:
    from tracing import RssSampler, Tracer

    with RssSampler() as rss:
        _, p, warm, setup_s = phase(args, sub, in_dir, Tracer(False))
    metrics = {
        "items_per_s": (items_per_s(p, warm), "items/s"),
        "first_pass_s": (p.times.get("p0", 0.0), "s"),
        "setup_s": (setup_s - prep_s, "s"),
        "peak_rss_mb": (rss.peak_py / 2**20, "MB"),
    }
    return metrics, p.attempted, p.failed


def run_traced(args, sub, in_dir) -> tuple[dict, int, int]:
    """A: a fresh session with the event log on and spans recorded; this
    gives every per-layer number. B, then C: two more sessions in the same
    (now warm) JVM, untraced and traced, whose warm rates give the tracing
    overhead."""
    import web_template_forensics_spark.plans.queries as queries_mod
    from kernels import kernel_rates
    from tracing import EVENT_LOG_CONF, EventLog, RssSampler, Tracer

    out_dir = os.path.join(DATA, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    evdirs = [os.path.join(out_dir, f"eventlog-{x}") for x in "AC"]
    for d in evdirs:
        os.makedirs(d)
    tracer = Tracer(True)
    knn_join = queries_mod.knn_join

    def traced_knn_join(*a, **k):
        with tracer.span("operators.spatial_join.knn_join"):
            return knn_join(*a, **k)

    def traced_phase(evdir, **kw):
        queries_mod.knn_join = traced_knn_join
        try:
            conf = {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + evdir}
            return phase(args, sub, in_dir, tracer, conf, **kw)
        finally:
            queries_mod.knn_join = knn_join

    with RssSampler() as rss:
        s, pa, warm, _ = traced_phase(evdirs[0], split=True)
    half = args.seconds / 2
    # the JVM keeps phase A's launch conf: switch the event log off explicitly
    untraced = {"spark.eventLog.enabled": "false"}
    _, pb, warm_b, _ = phase(args, sub, in_dir, Tracer(False), untraced, half)
    saved = list(tracer.spans)
    _, pc, warm_c, _ = traced_phase(evdirs[1], seconds=half)
    tracer.spans = saved  # phase C only times the traced passes
    tracer.dump(os.path.join(out_dir, "spans.jsonl"))
    (evfile,) = os.listdir(evdirs[0])
    ev = EventLog(os.path.join(evdirs[0], evfile))

    m = layer_metrics(tracer, ev, s, pa, warm)
    m["session.jvm_peak_rss_mb"] = (rss.peak_jvm / 2**20, "MB")
    traced_rate, untraced_rate = items_per_s(pc, warm_c), items_per_s(pb, warm_b)
    m["trace.items_per_s"] = (traced_rate, "items/s")
    m["trace.untraced_items_per_s"] = (untraced_rate, "items/s")
    m["trace.overhead_pct"] = ((untraced_rate / traced_rate - 1.0) * 100 if traced_rate else 0.0, "%")
    for k, v in kernel_rates().items():
        m[k] = (v, k.rsplit(".", 1)[1].replace("_per_", "/"))
    write_layer_table(out_dir, args.workload, tracer, pa, warm, m)
    return m, pa.attempted + pb.attempted + pc.attempted, pa.failed + pb.failed + pc.failed


QUERY_NAMES = ("doc_cells", "tile_rollup_z6", "pip_rectangles", "knn_k5", "minhash_pairs", "embedding_topk")
# per-layer stage metric -> (pass, span name); the span is per workload
LAYER_SPANS = {
    "spatial_queries": {
        "operators.spatial_join.pip_join_s": ("warm", "plans.queries.pip_rectangles"),
        "operators.spatial_join.knn_join_s": ("warm", "operators.spatial_join.knn_join"),
        "operators.tiles.tile_rollup_s": ("warm", "plans.queries.tile_rollup_z6"),
    },
    "pages_pipeline": {
        "plans.pipeline.pages_to_geo_fused_s": ("split", "plans.pipeline.pages_to_geo_fused"),
        "operators.spatial_join.pip_join_s": ("split", "operators.spatial_join.pip_join"),
        "operators.tiles.tile_rollup_s": ("split", "operators.tiles.tile_rollup"),
        "sources.catalog.checkpointed_write_s": ("split", "sources.catalog.checkpointed_write"),
    },
}
STAGE_METRICS = sorted({m for spans in LAYER_SPANS.values() for m in spans})


def layer_metrics(tracer, ev, s: Session, pa: Passes, warm: list[str]) -> dict:
    from tracing import COUNTER_UNITS

    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    m = {
        "session.start_s": (s.start_s, "s"),
        "session.first_job_s": (s.first_job_s, "s"),
        "session.python_workers_s": (s.python_workers_s, "s"),
    }
    per_pass = [ev.counters(*tracer.window(p, "pass")) for p in warm]
    for k, unit in COUNTER_UNITS.items():
        m[f"session.{k}"] = (med([c[k] for c in per_pass]), unit)
    m["session.first_pass.jobs"] = (ev.counters(*tracer.window("p0", "pass"))["jobs"], "count")
    m["session.persisted_rdds_after_pass"] = (float(pa.persisted.get(warm[-1], 0)) if warm else 0.0, "count")
    for q in QUERY_NAMES:
        span = f"plans.queries.{q}"
        m[f"plans.queries.{q}_s"] = (med([tracer.durations(p).get(span, 0.0) for p in warm]), "s")
        m[f"plans.queries.{q}.first_s"] = (tracer.durations("p0").get(span, 0.0), "s")
    spans = LAYER_SPANS.get(pa.wl.name, {})
    for metric in STAGE_METRICS:
        kind, span = spans.get(metric, ("warm", ""))
        ids = ["split"] if kind == "split" else warm
        m[metric] = (med([tracer.durations(p).get(span, 0.0) for p in ids if p in pa.times]), "s")
    knn = [tracer.window(p, "operators.spatial_join.knn_join") for p in warm]
    m["operators.spatial_join.knn_join.jobs"] = (med([ev.counters(*w)["jobs"] for w in knn if w]), "count")
    pass_s = med([pa.times[p] for p in warm])
    split = tracer.durations("split") if "split" in pa.times else {}
    covered = sum(v for k, v in split.items() if k != "pass")
    m["plans.pipeline.split_coverage"] = (covered / pass_s if pass_s else 0.0, "ratio")
    m["trace.pass_self_s"] = (med([tracer.self_times(p).get("pass", 0.0) for p in warm]), "s")
    return m


def write_layer_table(out_dir, workload, tracer, pa: Passes, warm, metrics) -> None:
    """Per-layer self time per warm pass (median), plus every metric."""
    names = sorted({sp.name for sp in tracer.spans if sp.pass_id in warm})
    lines = [f"# {workload}: per-layer self time, median over {len(warm)} warm passes", "",
             "| span | self s | total s | calls/pass |", "|---|---|---|---|"]
    for n in names:
        self_s = statistics.median(tracer.self_times(p).get(n, 0.0) for p in warm) if warm else 0.0
        tot = statistics.median(tracer.durations(p).get(n, 0.0) for p in warm) if warm else 0.0
        calls = sum(1 for sp in tracer.spans if sp.name == n and sp.pass_id == (warm[-1] if warm else ""))
        lines.append(f"| {n} | {self_s:.4f} | {tot:.4f} | {calls} |")
    if "split" in pa.times:
        lines += ["", "split pass (stages called one at a time):", ""]
        for n, v in sorted(tracer.durations("split").items()):
            lines.append(f"- {n}: {v:.4f} s")
    lines += ["", "| metric | value | unit |", "|---|---|---|"]
    lines += [f"| {k} | {v:.6g} | {u} |" for k, (v, u) in sorted(metrics.items())]
    text = "\n".join(lines) + "\n"
    with open(os.path.join(out_dir, "layers.md"), "w") as fh:
        fh.write(text)
    print(text, file=sys.stderr)
    log(f"trace written to {out_dir}")


def stop_jvm() -> None:
    """Stop the gateway JVM and wait until it, and every process it started
    (the Python worker daemon and workers), has exited."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = descendants(os.getpid())
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes still running 30 s after the JVM exited")
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ next to perfbench/: run from a full source checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]
    import inputs

    if args.workload not in inputs.SIZES:
        log(f"unknown workload {args.workload!r}; choose from {sorted(inputs.SIZES)}")
        return 2
    sub = substrate()
    for d in (sub["spark_local_dirs"], sub["tmpdir"]):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = sub["spark_local_dirs"]
    os.environ["TMPDIR"] = tempfile.tempdir = sub["tmpdir"]
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={sub['tmpdir']} -XX:-UsePerfData"
    # Python workers import the engine from the checkout, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = sub["tz"]
    time.tzset()

    t = time.perf_counter()
    in_dir = inputs.prepare(DATA, args.workload, args.seed, sub["nproc"])
    prep_s = time.perf_counter() - t
    log(f"inputs {in_dir} ready in {prep_s:.1f}s")
    if args.trace:
        metrics, attempted, failed = run_traced(args, sub, in_dir)
    else:
        metrics, attempted, failed = run_untraced(args, sub, in_dir, prep_s)
    stop_jvm()
    print(json.dumps({"substrate": sub, "workload": args.workload, "seed": args.seed}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
