"""Run one benchmark workload against kinesis_app_spark's public API.

    python3 perfbench/run.py --workload kinesis_ingest --seed 1 --seconds 6 --trace 0

Run from the repository root. The workload's inputs come from a generator
seeded by ``--seed``; set-up (a cold get_spark plus the program-side
fixture) is timed once; the workload warms up, untimed, then runs
closed-loop for ``--seconds`` and every output is checked against ground
truth. Metrics are
printed one per line with their units; the last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``, holding
the end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. A traced run runs the loop twice, untraced then traced, and
prints self time per layer and the tracing overhead. A run with any failed
check exits 1. Spans and the run record are written under
``.perfbench_runs/``; inputs and tables live under ``.perfbench_work/`` and
are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the driver heap, fixed at its maximum size and touched in full at JVM
#: start (-Xms as well as -Xmx, and -XX:+AlwaysPreTouch, as a long-running
#: JVM service is set up). Otherwise RSS grows with every heap region G1
#: touches for the first time, so peak RSS would measure how long the run
#: allocated rather than what the program holds: the heap then counts as
#: its fixed size, and peak RSS moves with off-heap and Python-worker memory
DRIVER_MEM = "2g"

#: the issue-level name and unit of each generic end-to-end metric, per
#: workload; printed beside the generic names
ALIASES = {
    "kinesis_ingest": {"units_per_s": ("ingest_records_per_s", "rec/s"),
                       "unit_s_p50": ("epoch_s_p50", "s")},
    "corpus_dedup": {"units_per_s": ("curation_docs_per_s", "docs/s"),
                     "unit_s_p50": ("pass_s_p50", "s"),
                     "result_quality": ("near_dup_recall", "ratio")},
    "vector_search": {"units_per_s": ("search_queries_per_s", "q/s"),
                      "unit_s_p50": ("search_batch_s_p50", "s"),
                      "result_quality": ("recall_at_10", "ratio")},
}


class Ctx:
    """What a workload loop needs from the harness."""

    def __init__(self, seconds, durable, tracer, jobs, progress, cpu,
                 corrupt=False, jvm_warm=False):
        self.seconds = seconds
        self.jvm_warm = jvm_warm  # the workload already ran in this JVM
        #: smoke test only: damage one output before it is checked
        self.corrupt = corrupt
        self.durable = durable  # on disk: checkpoints and tables
        self.tracer = tracer
        self.jobs = jobs
        self.progress = progress
        self.cpu = cpu


def load_spec() -> dict:
    """BENCHMARK.json: the workload and metric names, units and bounds.
    Every workload reports every end-to-end metric, and 0 for a per-layer
    metric of a layer it never calls."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(argv, spec):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="smoke test only: drop one output row before checking")
    return ap.parse_args(argv)


def fs_type(path: str) -> str:
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            _dev, mnt, typ = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def git_commit() -> str:
    """HEAD of the checkout, or "unknown" outside a git work tree (git is
    not let search the directories above the checkout)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def load_workload(name):
    import corpus
    import ingest
    import vectors

    return {"kinesis_ingest": ingest, "corpus_dedup": corpus,
            "vector_search": vectors}[name]


def main(argv=None) -> int:
    spec = load_spec()
    args = parse_args(argv, spec)
    sys.path.insert(0, ROOT)
    try:
        import kinesis_app_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import kinesis_app_spark from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(runs_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        return run(args, spec, cores, work, runs_dir)
    finally:
        import spans

        spans.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def get_session(cores: int, work: str):
    from kinesis_app_spark.engine import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            # temp files inside the checkout; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:+AlwaysPreTouch -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # one epoch per landed file: no extra watermark-only epochs
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        },
    )


def run(args, spec: dict, cores: int, work: str, runs_dir: str) -> int:
    import spans

    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    wl = load_workload(args.workload)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "git_commit": git_commit(),
        "nproc": len(os.sched_getaffinity(0)), "master": f"local[{cores}]",
        "loadavg_before": os.getloadavg(),
    }
    durable = os.path.join(work, "durable")
    os.makedirs(durable)
    record["durable_fs"] = fs_type(durable)

    def cpu():
        return spans.tree_cpu_s(os.getpid())

    off = spans.Tracer(False, args.workload)
    tr = spans.Tracer(bool(args.trace), args.workload)
    t = time.perf_counter()
    os.makedirs(os.path.join(work, "inputs"))
    inputs = wl.prepare(args.seed, os.path.join(work, "inputs"), args.size)
    record["generate_s"] = time.perf_counter() - t

    spark = None

    def new_ctx(tracer, jvm_warm=False):
        return Ctx(args.seconds, durable, tracer,
                   spans.JobCounter(spark, tracer.enabled), spans.ProgressLog(),
                   cpu, args.corrupt, jvm_warm)

    def run_loop(fn, ctx, fx):
        spark.streams.addListener(ctx.progress)
        try:
            return fn(spark, ctx, inputs, fx)
        finally:
            spark.streams.removeListener(ctx.progress)

    with spans.RssSampler() as rss:
        # set-up, once and cold: get_spark launches the JVM, then the
        # program-side fixture; the seeds' runs give its spread
        t = time.perf_counter()
        with tr.span("engine.get_spark"):
            spark = get_session(cores, work)
        fx = wl.fixture(spark, new_ctx(tr), inputs, "run")
        setup_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        ok_warm = None
        if hasattr(wl, "warmup"):
            t = time.perf_counter()
            ok_warm = wl.warmup(spark, new_ctx(off), inputs, fx)
            record["warmup_s"] = time.perf_counter() - t
        jiffies = spans.cpu_jiffies()
        res = run_loop(wl.loop, new_ctx(off), fx)
        record["steal_share"] = spans.steal_share(jiffies, spans.cpu_jiffies())
    if ok_warm is not None:  # the warm-up's outputs are checked too
        res["failed"] += not ok_warm
        res["attempted"] += 1
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak / 2**20,
        "result_quality": 1.0,  # a workload with an exact answer
        **{k: v for k, v in res["e2e"].items() if k in e2e_units},
    }
    named = {alias: (e2e[k], unit)
             for k, (alias, unit) in ALIASES[args.workload].items()}
    named.update(res["extra"])
    record.update(untraced=res, e2e=e2e, rss_mb=[round(x / 2**20) for x in rss.samples])

    layers = {}
    if args.trace:
        tctx = new_ctx(tr, jvm_warm=True)
        fx = wl.fixture(spark, tctx, inputs, "traced")
        tres = run_loop(wl.loop, tctx, fx)
        res["failed"] += tres["failed"]
        res["attempted"] += tres["attempted"]
        layers = collect_layers(spec, tr, tctx, tres, res)
        if args.workload == "kinesis_ingest":
            # the same drain on local[1], for half the time: a new
            # SparkContext in the same, already warm JVM
            spark.stop()
            spark = get_session(1, work)
            spark.sparkContext.setLogLevel("ERROR")
            octx = new_ctx(off, jvm_warm=True)
            octx.seconds = max(1.0, args.seconds / 2)
            one = run_loop(wl.loop, octx, wl.fixture(spark, octx, inputs, "one-core"))
            res["failed"] += one["failed"]
            res["attempted"] += one["attempted"]
            layers["streaming.one_core_records_per_s"] = (one["e2e"]["units_per_s"], "rec/s")
        tr.write(os.path.join(runs_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        record["traced"] = tres
        record["self_s_by_layer"] = tr.self_time_by_layer()
    spark.stop()

    named["failed_frac"] = (res["failed"] / res["attempted"], "ratio")
    record["loadavg_after"] = os.getloadavg()
    record["layers"] = layers
    for name, value in e2e.items():
        print(f"{name} = {value:.6g} {e2e_units[name]}")
    for name, (value, unit) in named.items():
        print(f"{args.workload}.{name} = {value:.6g} {unit}")
    if args.trace:
        for layer, s in sorted(record["self_s_by_layer"].items()):
            print(f"self_s[{layer}] = {s:.4f} s")
        for name, (value, unit) in layers.items():
            print(f"{name} = {value:.6g} {unit}")
    print(f"run: seed={args.seed} commit={record['git_commit']} nproc={record['nproc']} "
          f"load={record['loadavg_before'][0]:.2f}->{record['loadavg_after'][0]:.2f} "
          f"durable_fs={record['durable_fs']} generate_s={record['generate_s']:.2f} "
          f"steal={record['steal_share']:.3f} "
          f"units={res['units']}")
    with open(os.path.join(runs_dir, f"run-{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    metrics = (
        {k: {"value": v[0], "unit": v[1]} for k, v in layers.items()}
        if args.trace else
        {k: {"value": v, "unit": e2e_units[k]} for k, v in e2e.items()}
    )
    for m in metrics.values():
        if not math.isfinite(m["value"]):  # no sample: a failed run
            m["value"] = 0.0
            res["failed"] = max(res["failed"], 1)
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


def collect_layers(spec, tr, tctx, tres, res) -> dict:
    layers = {m["name"]: (0.0, m["unit"]) for m in spec["per_layer"]}
    for name in ("engine.get_spark", "versioned.create", "vectorindex.build"):
        d = tr.durations(name)
        if d:  # the set-up's call, the first
            layers[f"{name}_s"] = (d[0], "s")
    layers.update(tres.get("layers", {}))
    counts = tctx.jobs.counts()
    wanted = set(tres.get("unit_tags", []))
    per_unit = [c for tag, c in zip(tctx.jobs.tags, counts) if tag in wanted]
    if per_unit:
        layers["spark.jobs_per_unit"] = (statistics.median(c[0] for c in per_unit), "count")
        layers["spark.tasks_per_unit"] = (statistics.median(c[1] for c in per_unit), "count")
    layers["spark.failed_tasks"] = (sum(c[2] for c in counts), "count")
    layers["host.cpu_s"] = (tres["cpu_s"], "s")
    plain, traced = res["e2e"]["units_per_s"], tres["e2e"]["units_per_s"]
    layers["trace.overhead_frac"] = ((plain - traced) / plain, "ratio")
    return layers


if __name__ == "__main__":
    sys.exit(main())
