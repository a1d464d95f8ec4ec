"""CDC benchmark entry point.

    python3 cdcbench/run.py --workload backlog_catchup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The exit code is 0 only when every operation succeeded
and every output was correct.  Scratch files live under
``.cdcbench_work/`` and are removed at exit; results, samples and spans
are kept under ``.cdcbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafka_connect_postgres_to_clickhouse_spark"
OUT_DIR = os.path.join(ROOT, ".cdcbench_out")

# The pinned run environment; SPEC.json records the same values.
CORES = 4
HEAP = "3g"  # initial heap = maximum heap, so the heap never resizes mid-run
# program tuning knobs read from the environment: unset, so the
# program's own defaults are what gets measured
PROGRAM_ENV_KNOBS = [
    "SPARK_SHUFFLE_PARTITIONS", "SPARK_FILES_MIN_PARTITIONS", "SPARK_FILES_OPEN_COST",
    "SPARK_PARQUET_BLOCK_SIZE", "SPARK_AUTOBROADCAST_MB", "SPARK_PREFER_SORTMERGE",
]

WORKLOAD_NAMES = ["backlog_catchup", "query_mix"]
END_TO_END = {"throughput_per_s": "1/s", "latency_p50_s": "s", "setup_s": "s"}
QUERY_MODULES = ["pipeline", "relational", "window", "analytics", "extended"]
PER_LAYER = {
    "session.start_s": "s",
    "jvm.gc_share": "ratio",
    "jvm.peak_rss_mb": "MB",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "sources.rows_per_batch": "count",
    "envelope.parse_mb_per_s": "MB/s",
    "envelope.corrupt_rows": "count",
    "upsert.lww_rows_per_s": "1/s",
    "upsert.rows_out_per_row_in": "ratio",
    "upsert.shuffle_bytes_per_event": "B",
    "pipeline.add_batch_ms_p50": "ms",
    "pipeline.wal_commit_ms_p50": "ms",
    "pipeline.commit_offsets_ms_p50": "ms",
    "pipeline.call_overhead_s_p50": "s",
    "pipeline.jobs_per_batch": "count",
    "pipeline.stages_per_batch": "count",
    "pipeline.tasks_per_batch": "count",
    "pipeline.tables_per_batch": "count",
    "pipeline.cpu_s_per_event": "s",
    "state.bytes_written_per_event": "B",
    "state.read_s_p50": "s",
    "state.prune_s_p50": "s",
    "state.bytes_per_live_row": "B",
    "state.versions_on_disk": "count",
    "dlq.write_s_per_batch": "s",
    "registry.load_s": "s",
    "queries.materialize_s": "s",
    **{f"queries.{m}.p50_s": "s" for m in QUERY_MODULES},
    "queries.stages_per_query": "count",
    "queries.shuffle_bytes_per_query": "B",
    "queries.spill_bytes": "B",
    "scaling.events_per_s_1core": "1/s",
}


def pin_environment(work: str, trace: bool) -> None:
    """Deployment settings, fixed outside the program and before the JVM
    starts: core count, a pinned heap, and every scratch path inside
    the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for knob in PROGRAM_ENV_KNOBS:
        os.environ.pop(knob, None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_DRIVER_MEMORY": HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    tempfile.tempdir = None
    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def shutdown_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:  # noqa: SLF001
        SparkContext._active_spark_context.stop()  # noqa: SLF001
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def code_fingerprint() -> str:
    """Hash of the package's and the benchmark's Python sources, so a
    traced run is only ever compared with an untraced run of this code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("__pycache__", "tests"))
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def tracing_overhead(tag0: str, seconds: int, code: str, traced_tp: float) -> tuple[float | None, str]:
    """Untraced over traced throughput, minus one, against the untraced
    run of the same workload, seed, --seconds and code; None and the
    reason when there is no such run."""
    ref = _read_json(os.path.join(OUT_DIR, f"{tag0}.json"))
    if ref is None:
        return None, f"no untraced run {tag0} in .cdcbench_out"
    if ref.get("seconds") != seconds or ref.get("code") != code:
        return None, f"untraced run {tag0} used other --seconds or other code"
    return ref["end_to_end"]["throughput_per_s"] / traced_tp - 1, f"against {tag0}"


def _read_json(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _write_json(path: str, data: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(data, f, indent=1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"cdcbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".cdcbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        pin_environment(work, bool(args.trace))
        sys.path[:0] = [HERE, ROOT]
        from workloads import WORKLOADS, Context

        ctx = Context(work, args.seed, args.seconds, bool(args.trace))
        try:
            res = WORKLOADS[args.workload](ctx)
        finally:
            if "pyspark" in sys.modules:
                shutdown_spark()
        tag0 = f"{args.workload}-seed{args.seed}-trace0"
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        code = code_fingerprint()
        extra, note = {}, ""
        if args.trace:
            metrics = {k: {"value": float(res.per_layer.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
            overhead, why = tracing_overhead(tag0, args.seconds, code, res.throughput_per_s)
            extra = {"tracing_overhead": overhead, "tracing_overhead_basis": why}
            note = (f"; tracing overhead {overhead:+.2%} ({why})" if overhead is not None
                    else f"; tracing overhead not reported: {why}")
            ctx.tracer.write(os.path.join(OUT_DIR, f"spans-{tag}.json"),
                             {"workload": args.workload, "seed": args.seed, **extra})
        else:
            metrics = {k: {"value": float(getattr(res, k)), "unit": u} for k, u in END_TO_END.items()}
        out = {"correct": res.correct, "attempted": res.attempted, "failed": res.failed,
               "metrics": metrics}
        _write_json(os.path.join(OUT_DIR, f"{tag}.json"),
                    {**out, "seconds": args.seconds, "code": code,
                     "end_to_end": {k: getattr(res, k) for k in END_TO_END},
                     **extra, "summary": res.summary()})
        s = res.summary()
        tail = f", p{round(s['supported_tail'] * 100)} {s['latency_tail_s']:.4f} s" if s["supported_tail"] and s["supported_tail"] > 0.5 else ""
        print(
            f"{args.workload} seed {args.seed}: throughput_per_s {res.throughput_per_s:.4f} 1/s, "
            f"latency_p50_s {res.latency_p50_s:.4f} s over {s['samples']} samples{tail}, "
            f"setup_s {res.setup_s:.4f} s; attempted {res.attempted}, failed {res.failed}, "
            f"correct {res.correct}{note}"
            + (f"; problems: {res.problems}" if res.problems else "")
        )
        print(json.dumps(out), flush=True)
        return 0 if res.correct and res.failed == 0 else 1
    except Exception:  # noqa: BLE001 - report, print no result, fail
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
