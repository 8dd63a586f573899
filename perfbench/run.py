"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload rollup_cascade --seed 1 --seconds 10 --trace 0

Run from the repository root. One closed-loop client (this driver process)
on ``local[nproc]`` sets up, checks one pass's outputs untimed, warms up,
then runs timed ops until ``--seconds`` have passed. With ``--trace 0`` the
result holds the end-to-end metrics; with ``--trace 1`` every span reads
Spark's status stores and the result holds the per-layer metrics instead.
A traced run of rollup_cascade or tokenize_roundtrip then also runs
tier_store_daily or query_mix once, traced and checked
(``workloads.TRACED_EXTRA``), so every per-layer metric comes from some
traced run. Either way the full record
(environment, input sizes, set-up and op times, spans) is written to
``perfbench/out/traces/``.

Exit code 2, without a result line, when the engine package is not found.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from importlib import metadata  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
PACKAGE = "timeseriestokenizer_spark"
DRIVER_MEM = "4g"
END_TO_END = {"turns_per_s": "turns/s", "setup_s": "s"}


def _now() -> float:
    return time.perf_counter()


def _progress(event: str, **fields) -> None:
    """One structured progress line on stderr."""
    print(json.dumps({"t": round(_now() - T_PROCESS, 3), "event": event, **fields}),
          file=sys.stderr, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_kib(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as f:
            return f.read().strip()
    return None


def _version(dist: str) -> str | None:
    try:
        return metadata.version(dist)
    except metadata.PackageNotFoundError:
        return None


def prepare_env() -> str:
    """Make the engine importable here and in Python workers, and keep
    Spark's scratch space, the JVM's and the workers' temp files and every
    store a workload builds inside the checkout. Returns the work dir."""
    sys.path.insert(0, ROOT)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return work


def start_session(cores: int, work: str, min_partition: str = "64k"):
    from timeseriestokenizer_spark.session import get_spark, python_stage_conf

    from perfbench.spans import STATUS_CONF

    conf = {
        **STATUS_CONF,
        **python_stage_conf(min_partition),
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    return get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit. The gateway JVM exits
    when its stdin closes; after ``spark.stop()`` alone it outlived the
    Python process by ≈1.7 s (4-vCPU host), and the benchmark waits for
    every process it starts. The py4j client is shut down first: Java
    objects the run still holds would otherwise be released over a closed
    connection and log errors."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args, work: str) -> dict:
    from perfbench.spans import StatusStore, Tracer
    from perfbench.workloads import TRACED_EXTRA, WORKLOADS, per_layer_units

    cores = _cores()
    wl = WORKLOADS[args.workload](args.seed, work)

    def check() -> list[str]:
        """The workload's output checks, untimed; the names of those that
        failed or raised."""
        try:
            bad = wl.check(spark)
        except Exception:
            traceback.print_exc()
            bad = [f"{wl.name}.check_raised"]
        _progress("check", failures=bad)
        return bad

    # set-up: process start, session, input generation and one checked
    # pass: an op and the checks of its outputs, or the checks alone for a
    # workload whose checks run the op's chain themselves. Untimed warm-up
    # ops follow until WARM_UP_OPS passes have run and WARM_UP_S have passed
    # since the input was ready: the JIT keeps speeding ops up for ≈20 s of
    # them (see README.md).
    spark = start_session(cores, work, wl.MIN_PARTITION)
    t_session = _now()
    wl.prepare(spark)
    t_prepared = _now()
    warm_s, failures, attempted, failed = [], [], 0, 0
    if wl.WARM_UP_OPS:
        attempted += 1
        if not wl.CHECK_RUNS_OP:
            wl.op(spark, Tracer(None, cores), -1)
        failures += check()
    setup_s = _now() - T_PROCESS
    while len(warm_s) + 1 < wl.WARM_UP_OPS or _now() - t_prepared < wl.WARM_UP_S:
        t0 = _now()
        wl.op(spark, Tracer(None, cores), -2 - len(warm_s))
        warm_s.append(_now() - t0)
    _progress("setup", start_s=t_session - T_PROCESS, prepare_s=t_prepared - t_session,
              setup_s=setup_s, warm_up_op_s=warm_s)

    tracer = Tracer(StatusStore(spark) if args.trace else None, cores)
    rates, op_s = [], []
    deadline = _now() + args.seconds
    while True:
        attempted += 1
        t0 = _now()
        try:
            turns = wl.op(spark, tracer, len(op_s))
        except Exception:
            traceback.print_exc()
            failed += 1
            failures.append(f"{wl.name}.op_raised")
            break
        op_s.append(_now() - t0)
        rates.append(turns / op_s[-1])
        _progress("op", i=len(op_s) - 1, op_s=op_s[-1], turns=turns)
        if _now() >= deadline:
            break
    read_s = tracer.read_s  # status-store reads of the timed ops only
    if not wl.WARM_UP_OPS and op_s:
        failures += check()  # no checked pass in set-up: check the last op
    if any(f != f"{wl.name}.op_raised" for f in failures):
        failed += 1  # the checked op's output is wrong
    extra = {}
    if args.trace and op_s:
        try:
            extra = wl.extra_metrics()
        except Exception:
            traceback.print_exc()
            failed += 1
            failures.append(f"{wl.name}.extra_metrics_raised")
    reported = [(wl, list(range(len(op_s))))]
    if args.trace and wl.name in TRACED_EXTRA:
        # the workload without a slot of its own in BENCHMARK.json: one
        # traced op, checked, after the timed ops
        ex = WORKLOADS[TRACED_EXTRA[wl.name]](args.seed, work)
        attempted += 1
        try:
            ex.prepare(spark)
            ex.op(spark, tracer, 0)
            bad = ex.check(spark)
            extra.update(ex.extra_metrics())
        except Exception:
            traceback.print_exc()
            bad = [f"{ex.name}.raised"]
        if bad:
            failed += 1
            failures += bad
        reported.append((ex, [0]))
        _progress(ex.name, failures=bad)

    e2e = {
        "turns_per_s": statistics.median(rates) if rates else 0.0,
        "setup_s": setup_s,
    }
    units = per_layer_units()
    layer = dict.fromkeys(units, 0.0)
    for w, ops in reported:
        layer.update(tracer.layer_metrics(w.layers, ops, w.groups))
    layer.update(extra)
    layer["session.start_s"] = t_session - T_PROCESS
    layer["datagen_spark.wall_s"] = t_prepared - t_session
    layer["process.peak_rss_mb"] = (
        _vm_hwm_kib("self") + _vm_hwm_kib(spark.sparkContext._gateway.proc.pid)
    ) / 1024

    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "env": {
            "nproc": cores,
            "master": spark.sparkContext.master,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "python": platform.python_version(),
            "spark": spark.version,
            "pyarrow": _version("pyarrow"),
            "pandas": _version("pandas"),
            "numpy": _version("numpy"),
            "duckdb": _version("duckdb"),
            "git_sha": _git_sha(),
            "cpu": platform.processor() or platform.machine(),
        },
        "sizes": {w.name: w.sizes for w, _ in reported},
        "setup_s": setup_s,
        "warm_up_op_s": warm_s,
        "op_s": op_s,
        "failures": failures,
        "end_to_end": e2e,
        "per_layer": layer if args.trace else None,
        "spans": tracer.spans,
        "status_store_read_s": read_s,
    }
    stop_session(spark)
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    record["result"] = result
    traces = os.path.join(OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    name = f"{wl.name}-seed{args.seed}-trace{int(bool(args.trace))}-{os.getpid()}.json"
    with open(os.path.join(traces, name), "w") as f:
        json.dump(record, f, indent=1)
    return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = prepare_env()
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
