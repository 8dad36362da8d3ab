"""hexspark benchmark: one workload, closed loop, one driver process.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 5 --trace 0

Run from the root of the tree under test.  The process starts a
``local[nproc]`` session, sets up the seeded inputs (several times;
``setup_s`` takes the median), computes the reference answers once,
runs one untimed warm-up pass, then timed passes while the next one
still fits in ``--seconds`` (at least one); ``pass_s`` is their
median.  Every operation's result is checked.

The last stdout line is the result JSON: ``--trace 0`` reports the
``end_to_end`` metrics of ``BENCHMARK.json``, ``--trace 1`` the
``per_layer`` ones (Spark event log on; ``trace.pass_s`` against the
untraced ``pass_s`` of the same seed is the tracing overhead).  The
line before it carries the box label, the workload's own throughput
figures and per-operation times.  Exit code 1 when any operation
failed or returned a wrong result.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
SETUP_ROUNDS = ["setup0", "setup1", "setup2"]


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke test uses 0.01)")
    return p.parse_args(argv)


def measure(ctx, wl, seconds: float) -> list[str]:
    """Set up (several times), compute the references, warm up, then
    run timed passes inside a window of ``seconds``; returns the timed
    rounds."""
    import harness
    from workloads import reset_caches

    for r in SETUP_ROUNDS:
        ctx.round = r
        with ctx.span("setup"):
            wl.setup(ctx)
    ctx.round = "refs"
    with ctx.span("refs"):
        wl.refs(ctx)
    ctx.round = "warmup"
    with ctx.span("pass"):
        wl.run_pass(ctx)
    reset_caches(ctx.spark)
    timed: list[str] = []
    t_start = time.perf_counter()
    while True:
        ctx.round = f"p{len(timed)}"
        timed.append(ctx.round)
        with ctx.span("pass"):
            wl.run_pass(ctx)
        reset_caches(ctx.spark)
        # start another pass only if one as long as the median so far
        # still ends inside the window
        left = seconds - (time.perf_counter() - t_start)
        if harness.median(ctx.durations("pass", timed)) > left:
            return timed


def main(argv) -> int:
    args = _args(argv)
    # the engine under test is the tree we run in; perfbench/ab.py runs
    # one copy of this benchmark against two trees that way
    root = os.getcwd()
    with open(SPEC) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")

    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import bench
    import harness
    import workloads

    jiff_start, load_start = bench._cpu_jiffies(), bench._loadavg()
    cores = harness.nproc()
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    try:
        spark = harness.start_spark(work, cores, event_dir)
        try:
            spark.range(1).count()
            ctx = harness.Ctx(spark=spark, seed=args.seed, scale=args.scale, work=work,
                              root=root, traced=bool(args.trace), cores=cores)
            ctx.spans.append(harness.Span("s-session", "session.start", T_PROCESS,
                                          time.perf_counter(), None, "init"))
            wl = workloads.WORKLOADS[args.workload]()
            timed = measure(ctx, wl, args.seconds)
            box = harness.box_label(spark, jiff_start, load_start)
        finally:
            harness.stop_spark(spark)
        if args.trace:
            import rollup

            metrics = rollup.per_layer([m["name"] for m in spec["per_layer"]], ctx,
                                       glob.glob(os.path.join(event_dir, "*"))[0],
                                       timed, SETUP_ROUNDS, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    med = lambda name, rounds=timed: harness.median(ctx.durations(name, rounds))  # noqa: E731
    if not args.trace:
        metrics = {
            "setup_s": (ctx.spans[0].dur + med("setup", SETUP_ROUNDS)
                        + med("refs", ["refs"]) + med("pass", ["warmup"])),
            "pass_s": med("pass"),
            "py_driver_peak_rss_mb": harness.peak_rss_mb(),
        }
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    failed = len(ctx.failed)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "box": box,
        "figures": {**wl.figures(med), "op_fail_ratio": failed / max(1, ctx.attempted)},
        "passes_s": ctx.durations("pass", timed),
        "op_s": {s.name: med(s.name) for s in ctx.spans
                 if s.round == timed[0] and s.parent and s.parent.endswith("-pass")},
        "setup_parts_s": {"session": ctx.spans[0].dur, "setup_reps": ctx.durations("setup", SETUP_ROUNDS),
                          "refs": med("refs", ["refs"]), "warmup": med("pass", ["warmup"])},
        "failures": ctx.failed,
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
