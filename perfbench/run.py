"""Benchmark entry point.

    python3 perfbench/run.py --workload {rag,catalog} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Makes its inputs from ``--seed``,
sets the workload up, measures whole passes over its fixed operation
list for ``--seconds`` seconds, checks every output, and prints one
JSON line last: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``), with ``--trace 1`` the per-layer ones (``per_layer``).
Everything it writes goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pin_environment(work: str) -> dict:
    """Fresh temp, Spark-local and output dirs inside ``work`` (the
    package keys staged caches on the temp dir), a driver heap well
    under physical memory, and one local task slot per usable core."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(4, int(ram_gb // 4)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    # every JVM (launcher and driver): temp files in the run dir, and no
    # hsperfdata file, which HotSpot always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None  # re-read TMPDIR
    return {"cpus": cpus, "driver_mem": f"{heap_gb}g", "ram_gb": round(ram_gb, 1)}


def _spark_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every job and stage of a run for the traced counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _run_pass(ops, tracer, own, samples, pass_no) -> tuple[float, int]:
    """Run one pass: time each operation's run, then check its output
    (untimed, untraced, on the ``own`` stopwatch). Append ``(pass, op
    index, label, seconds, ok)`` per operation to ``samples``; return
    the pass's summed run time and its failures."""
    total = 0.0
    failed = 0
    for i, (label, run, check) in enumerate(ops):
        tracer.op = (pass_no, i)
        t = time.perf_counter()
        try:
            out, ok = run(), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        dt = time.perf_counter() - t
        traced, tracer.enabled = tracer.enabled, False
        with own():
            try:
                ok = ok and bool(check(out))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        tracer.enabled = traced
        samples.append((pass_no, i, label, dt, ok))
        total += dt
        failed += not ok
    tracer.op = None
    return total, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("rag", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    env = _pin_environment(work)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

    spark = None
    try:
        from news_graph_rag_spark.session import get_spark

        import datagen
        import layers
        from spans import Stopwatch, Tracer, gc_seconds
        from workloads import WORKLOADS

        spark = get_spark("perfbench", cpus=env["cpus"], extra_conf=_spark_conf(work))
        spark.range(1).count()
        session_start_s = time.time() - T_START
        tracer = Tracer(spark, enabled=bool(args.trace))
        own = Stopwatch()  # the benchmark's own work, left out of setup_s
        W = WORKLOADS[args.workload]
        with own():
            data_dir = datagen.write_tables(
                datagen.make_tables(args.seed, W.sf, W.tables), os.path.join(work, "data")
            )
        wl = W(spark, tracer, own, data_dir, args.seed, os.path.join(work, "out"))
        setup_spans = len(tracer.spans)
        # warm-up: a fixed number of unmeasured, untraced passes (the
        # catalog's first pass also builds its staged caches); their
        # outputs are checked like the measured ones
        tracer.enabled = False
        warm: list = []
        for _ in range(wl.warmup_passes):
            _run_pass(wl.ops(), tracer, own, warm, -1)
        setup_s = time.time() - T_START - own.total

        # measurement: whole passes until --seconds have elapsed; a
        # traced run traces every other pass, starting with the first,
        # and runs at least one untraced pass to measure its overhead
        min_passes = max(wl.min_passes, 2) if args.trace else wl.min_passes
        samples: list = []
        failed = passes = 0
        pass_walls: dict[bool, list[float]] = {True: [], False: []}
        gc: list[float] = []
        t_end = time.perf_counter() + args.seconds
        while passes < min_passes or time.perf_counter() < t_end:
            tracer.enabled = bool(args.trace) and passes % 2 == 0
            g0 = gc_seconds(spark)
            dt, f = _run_pass(wl.ops(), tracer, own, samples, passes)
            gc.append(gc_seconds(spark) - g0)
            pass_walls[tracer.enabled].append(dt)
            failed += f
            passes += 1
        tracer.enabled = False
        attempted = len(samples) + len(warm) + len(wl.setup_checks)
        failed += sum(not w[4] for w in warm) + wl.setup_checks.count(False)

        per_op: dict[int, list[float]] = {}
        for _, i, _, dt, _ in samples:
            per_op.setdefault(i, []).append(dt)
        # a pass is the sum of each operation's median over the passes
        pass_s = sum(statistics.median(v) for v in per_op.values())
        op_times = sorted(s[3] for s in samples)
        if args.trace:
            metrics = layers.per_layer(
                spark, tracer, wl, args.workload, setup_spans, pass_walls, gc, session_start_s
            )
            os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"metrics": metrics, "env": env},
            )
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "pass_s": {"value": pass_s, "unit": "s"},
                "op_p50_s": {"value": statistics.median(op_times), "unit": "s"},
            }
        _print_summary(args, env, wl, setup_s, session_start_s, own.total, pass_s, op_times,
                       passes, attempted, failed)
        print("# per-op medians: " + " ".join(
            f"{samples[i][2]}={statistics.median(v):.3f}" for i, v in per_op.items()))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _print_summary(args, env, wl, setup_s, session_start_s, own_s, pass_s, op_times,
                   passes, attempted, failed) -> None:
    """Human-readable lines ahead of the JSON result, with the
    workload-level metric names."""
    n = len(op_times)
    lines = [
        f"# workload={args.workload} seed={args.seed} trace={args.trace} env={json.dumps(env)}",
        f"# setup_s={setup_s:.3f} session_start_s={session_start_s:.3f} "
        f"own_s={own_s:.3f} (inputs, expected results, checks: not in setup_s) "
        f"measured passes={passes}",
    ]
    if args.workload == "rag":
        lines.append(
            f"ingest_docs_per_s {wl.builder.n_docs / wl.build_s:.2f} docs/s (set-up build)"
        )
        lines.append(f"rag_p50_s {statistics.median(op_times):.4f} s (n={n})")
        # a p90 only when at least ten samples lie beyond it
        lines.append(
            f"rag_entity_repeat_share {wl.repeat_share():.4f} ratio "
            "(turns naming an entity of an earlier turn of their session)"
        )
        if n * 0.1 >= 10:
            lines.append(f"rag_p90_s {op_times[int(n * 0.9)]:.4f} s (n={n})")
        else:
            lines.append(f"rag_p90_s n/a: {n} samples, fewer than 10 beyond p90")
    if args.workload == "catalog":
        lines.append(f"catalog_pass_s {pass_s:.4f} s")
    lines.append(f"failed_frac {failed / max(attempted, 1):.4f} ratio")
    print("\n".join(lines), flush=True)


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
