"""Closed-loop benchmark of the engine: one client issues operations one
after another into one warm Spark session at ``local[k]``.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 13 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). ``--tiny`` runs the same workload, with every check, on tiny
inputs. See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    PACKAGE,
    ROOT,
    STATE,
    CheckFailed,
    RunDirs,
    cpu_seconds,
    emit,
    median,
    now,
    point_env_at,
    start_session,
    stop_session,
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
WORKLOADS = tuple(w["name"] for w in _SPEC["workloads"])
#: metric name -> unit, as BENCHMARK.json fixes them
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

#: per-layer metric -> (source, layer or count name, field)
SOURCES = {
    "tiling.s": ("self", "tiling", None),
    "tiling.rows": ("count", "tiling.rows", None),
    "spatial_join.s": ("self", "spatial_join", None),
    "spatial_join.python_s": ("spark", "spatial_join", "python_s"),
    "spatial_join.arrow_mb": ("spark", "spatial_join", "arrow_mb"),
    "spatial_join.pairs": ("count", "spatial_join.pairs", None),
    "dedup.s": ("self", "dedup", None),
    "dedup.candidates": ("count", "dedup.candidates", None),
    "dedup.pairs": ("count", "dedup.pairs", None),
    "dedup.useful_ratio": ("ratio", "dedup.pairs", "dedup.candidates"),
    "dedup.shuffle_mb": ("spark", "dedup", "shuffle_mb"),
    "dedup.tasks": ("spark", "dedup", "tasks"),
    "planner.s": ("self", "planner", None),
    "planner.tiles": ("count", "planner.tiles", None),
    "raster.s": ("self", "raster", None),
    "raster.python_s": ("spark", "raster", "python_s"),
    "raster.arrow_mb": ("spark", "raster", "arrow_mb"),
    "masking.s": ("self", "masking", None),
    "masking.python_s": ("spark", "masking", "python_s"),
    "vectorize.s": ("self", "vectorize", None),
    "vectorize.polygons": ("count", "vectorize.polygons", None),
    "regularize.s": ("self", "regularize", None),
    "mosaic.s": ("self", "mosaic", None),
    "mosaic.python_s": ("spark", "mosaic", "python_s"),
    "pipeline.commit_s": ("self", "pipeline", None),
    "pipeline.snapshot_mb": ("count", "pipeline.snapshot_mb", None),
    "pipeline.stages": ("count", "pipeline.stages", None),
    "ingest.s": ("self", "ingest", None),
    "ingest.python_s": ("spark", "ingest", "python_s"),
    "ingest.files": ("count", "ingest.files", None),
    "ingest.quarantined": ("count", "ingest.quarantined", None),
    "hamming_index.probe_s": ("self", "probe", None),
    "hamming_index.candidates": ("count", "hamming_index.candidates", None),
    "hamming_index.pairs": ("count", "hamming_index.pairs", None),
    "hamming_index.files": ("spark", "probe", "files_read"),
    "hamming_index.append_s": ("self", "append", None),
    "hamming_index.append_rows": ("count", "hamming_index.append_rows", None),
    "hamming_index.compact_s": ("self", "compact", None),
    "residual.s": ("table", "residual_s", None),
    "gc_s": ("sum", "gc_s", None),
    "spill_mb": ("sum", "spill_mb", None),
    "tracing_overhead_s": ("overhead", None, None),
}


def workload_class(name: str):
    if name == "curate":
        from wl_curate import Curate

        return Curate
    if name == "tile_request":
        from wl_tile_request import TileRequest

        return TileRequest
    from wl_ingest_cycle import IngestCycle

    return IngestCycle


def per_layer_metrics(table: dict, overhead_s: float) -> dict:
    out = {}
    layers, counts = table["layers"], table["counts"]
    for metric, unit in PER_LAYER_UNITS.items():
        src, key, field = SOURCES[metric]
        if src == "self":
            v = layers.get(key, {}).get("self_s", 0.0)
        elif src == "spark":
            v = layers.get(key, {}).get(field, 0.0)
        elif src == "count":
            v = counts.get(key, 0.0)
        elif src == "ratio":
            denom = counts.get(field, 0.0)
            v = counts.get(key, 0.0) / denom if denom else 0.0
        elif src == "table":
            v = table[key]
        elif src == "sum":
            v = sum(row.get(key, 0.0) for row in layers.values())
        else:
            v = overhead_s
        out[metric] = {"value": float(v), "unit": unit}
    return out


def run(args, dirs: RunDirs) -> int:
    import inputs

    size = "tiny" if args.tiny else "full"
    t = now()
    inp = inputs.ensure(args.workload, args.seed, size)
    WL = workload_class(args.workload)

    @contextlib.contextmanager
    def session():
        spark = start_session(dirs, False, "perfbench-prepare")
        try:
            yield spark
        finally:
            stop_session(spark)

    WL.prepare_once(inp, session)
    excluded = now() - t  # one-time input generation is not set-up
    spark = start_session(dirs, bool(args.trace), f"perfbench-{args.workload}")
    try:
        return measure(args, dirs, spark, WL, inp, excluded)
    finally:
        stop_session(spark)


def measure(args, dirs: RunDirs, spark, WL, inp: str, excluded: float) -> int:
    from spans import Tracer, layer_table, read_event_log

    tracer = Tracer(args.workload, spark, enabled=False)
    wl = WL(spark, inp, tracer, dirs)
    untimed = []  # (arg, output) of the warm-up and settle ops
    # op times keep falling for a few ops after the first (JIT, Python
    # workers forked on demand): ``settle_rounds`` more untimed rounds
    for arg in [wl.warmup_arg()] + [a for r in range(wl.settle_rounds) for a in wl.round_args(r)]:
        _, out = wl.op(arg)
        if wl.defer_checks:
            untimed.append((arg, out))
        else:
            checking = now()
            wl.check(arg, out)
            excluded += now() - checking
    setup_s = now() - T_PROCESS - excluded

    ops = []  # (seconds, units, traced)
    attempted = failed = 0
    correct = True
    measured = check_s = 0.0
    pending = []  # (op number, arg, output) of the deferred checks
    cpu0 = cpu_seconds()
    r = wl.settle_rounds
    while True:
        round_args = wl.round_args(r)
        if round_args is None:
            break
        tracer.enabled = bool(args.trace) and (r - wl.settle_rounds) % 2 == 1
        for arg in round_args:
            attempted += 1
            t0 = now()
            try:
                with tracer.op_span(attempted):
                    units, out = wl.op(arg)
            except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
                traceback.print_exc()
                failed += 1
                measured += now() - t0
                tracer.release()
                tracer.drop_op(attempted)
                continue
            ops.append((now() - t0, units, tracer.enabled))
            measured += ops[-1][0]
            if tracer.enabled:
                wl.traced_counts(arg, out)
            if wl.defer_checks:
                pending.append((attempted, arg, out))
                continue
            checking = now()
            try:
                wl.check(arg, out)
            except CheckFailed as e:
                print(f"check failed on op {attempted} ({arg!r}): {e}", file=sys.stderr)
                failed += 1
                correct = False
            check_s += now() - checking
        r += 1
        if measured >= args.seconds and r - wl.settle_rounds >= max(wl.min_rounds, 2 if args.trace else 1):
            break
    cpu1 = cpu_seconds()
    if wl.defer_checks:
        checking = now()
        errors = wl.check_all(untimed + [(arg, out) for _, arg, out in pending])
        check_s += now() - checking
        for (arg, _), err in zip(untimed, errors):
            if err is not None:
                raise CheckFailed(f"set-up op ({arg!r}): {err}")
        for (n, arg, _), err in zip(pending, errors[len(untimed):]):
            if err is not None:
                print(f"check failed on op {n} ({arg!r}): {err}", file=sys.stderr)
                failed += 1
                correct = False
    print("perfbench: op seconds " + " ".join(f"{o[0]:.2f}{'t' if o[2] else ''}" for o in ops), file=sys.stderr)
    print(f"perfbench: {len(ops)} ops in {measured:.2f} s, checks {check_s:.2f} s; this run used {cpu1[1] - cpu0[1]:.1f} CPU-s, "
          f"other processes {max(0.0, (cpu1[0] - cpu0[0]) - (cpu1[1] - cpu0[1])):.1f} CPU-s", file=sys.stderr)
    plain = [o for o in ops if not o[2]]
    if not plain:
        raise RuntimeError("no operation completed")
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "op_s.p50": median([o[0] for o in plain]),
            "rows_per_s": sum(o[1] for o in plain) / sum(o[0] for o in plain),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    else:
        traced = [o for o in ops if o[2]]
        overhead = median([o[0] for o in traced]) - median([o[0] for o in plain])
        spans, counts = tracer.spans, dict(tracer.counts)
        event_dir = dirs.path("eventlog")
        spark.stop()  # flushes the event log
        table = layer_table(spans, counts, read_event_log(event_dir, args.workload, {s["op"] for s in spans}))
        table["tracing_overhead_s"] = overhead
        table["untraced_op_s.p50"] = median([o[0] for o in plain])
        metrics = per_layer_metrics(table, overhead)
        out_dir = os.path.join(STATE, "trace")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-s{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "table": table, "spans": spans}, fh, indent=1)
        print(json.dumps(table, indent=1), file=sys.stderr)
    emit(correct, attempted, failed, metrics)
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=_SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the benchmark's own test")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside {HERE}; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    dirs = RunDirs(f"{args.workload}-s{args.seed}")
    point_env_at(dirs)
    try:
        return run(args, dirs)
    except CheckFailed as e:
        print(f"check failed during set-up: {e}", file=sys.stderr)
        return 1
    finally:
        dirs.remove()


if __name__ == "__main__":
    sys.exit(main())
