"""Layered extraction benchmark: one command, one Python process,
local[<cpus>] Spark.

    python3 perfbench/run.py --workload sink_synthetic --seed 1 \
        --seconds 20 --trace 0
    python3 perfbench/run.py --smoke      # every workload, tiny corpora

Run from the repository root. One run builds (or loads from cache) the
seeded corpus of its workload, sets Spark up SETUPS times (setup_s is
the median), then runs the workload's batch job back to back for
`--seconds` seconds, checking every run's output against the oracle
digest outside the timed region. `--trace 1` adds a second, traced
loop in a fresh session with the Spark event log on, plus the
per-layer probes. METRICS.md lists the metrics and the layer each
one belongs to.

Output: human-readable lines, one JSON `reading` line (host, input
descriptors, every metric), and as the last line the result object
{"correct", "attempted", "failed", "metrics"} whose metrics are the
end-to-end metrics of BENCHMARK.json (`--trace 0`) or its per-layer
metrics (`--trace 1`).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpora  # noqa: E402
import probes  # noqa: E402

TINY_TURNS = 60  # warm-up corpus
JVM_HEAP = "2g"


def _environment() -> str:
    """Point every temporary directory (Python, the Spark JVM, Spark's
    local dirs) into this run's own directory under the checkout, and
    fix the JVM heap at JVM_HEAP: with the 8g default the JVM
    grows its heap by a different amount on every run, and the host's
    memory is shared."""
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    tmp = os.path.join(corpora.WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # -XX:-UsePerfData: HotSpot writes its perf-data file to the
    # system temporary directory whatever java.io.tmpdir says
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    return tmp


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def run_one(workload: str, seed: int, seconds: float, trace: bool,
            smoke: bool) -> tuple[dict, int, int]:
    """One benchmark run. Prints the reading as one JSON line and
    returns it with the attempted and failed run counts."""
    from workloads import SETUPS, Bench

    cpus = len(os.sched_getaffinity(0))
    calib = probes.host_calib(cpus)
    b = Bench(workload, seed, cpus)
    try:
        tiny = corpora.build("sink_synthetic", 0, TINY_TURNS)
        setups = []
        for _ in range(1 if smoke else SETUPS):
            b.stop()
            setups.append(b.setup(tiny))
        size = (corpora.SMOKE_SIZES if smoke else corpora.SIZES)[workload]
        corpus = corpora.build(workload, seed, size, spark=b.spark)
        runs = b.loop(corpus, seconds, "e2e")
        paired, warmups, layers, events = [], [], {}, {}
        if trace:
            # a fresh session with the event log on; traced and
            # untraced runs alternate in it, so both see the same JIT
            # state, and the layer probes follow in the same session
            b.stop()
            ev_dir = os.path.join(b.dir, "eventlog")
            b.setup(tiny, ev_dir)
            tracer = probes.Tracer(b.run_id, b.spark.sparkContext)
            # one untimed run first: the first run in a new session
            # also starts its Python workers, which would otherwise
            # land on the first traced run
            warmups.append(b.iteration(corpus, "paired-warmup"))
            paired = b.loop(corpus, seconds, "paired", (tracer, None))
            layers = b.layer_probes(corpus, tracer)
            b.stop()  # completes the event log
            events = probes.event_log_by_layer(ev_dir, tracer)
            tracer.write(os.path.join(corpora.WORK, "traces",
                                      f"{b.run_id}.jsonl"))
    finally:
        b.close()

    def med(rs, key):
        return probes.median([r[key] for r in rs if key in r])

    walls = [r["wall"] for r in runs if "wall" in r]
    wall = probes.median(walls)
    e2e = {
        "wall_s": wall,
        "turns_per_s": corpus.descriptors["turns"] / wall if wall else 0.0,
        "cpu_core_s": med(runs, "cpu"),
        "peak_rss_mb": max((r["rss"] for r in runs if "rss" in r),
                           default=0.0),
        "first_commit_s": med(runs, "first_commit"),
        "setup_s": probes.median([s + w for s, w in setups]),
    }
    every = runs + warmups + paired
    failed = sum(1 for r in every if not r.get("ok"))
    reading = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "cpus": cpus, "host_calib": calib, "input": corpus.descriptors,
        "oracle_rows": {"spans": corpus.oracle["n_spans"],
                        "txns": corpus.oracle["n_txns"]},
        "samples": len(walls), "wall_s_all": walls,
        "wall_s_tail": probes.tail(walls),
        "setup_s_all": [s + w for s, w in setups],
        "failed_frac": failed / max(1, len(every)),
        "end_to_end": e2e,
    }
    if trace:
        layers.update(_derived_layers(workload, paired, layers, events,
                                      setups, corpus))
        reading["per_layer"] = layers
        reading["event_log"] = events
    print(json.dumps({"reading": reading}, default=str))
    return reading, len(every), failed


def _derived_layers(workload, paired, layers, events, setups,
                    corpus) -> dict:
    """Per-layer metrics derived from the traced session: its untraced
    runs are the reference wall time, measured in the same JIT state
    as the layer probes."""
    runs = [r for r in paired if not r["traced"] and "wall" in r]
    wall = probes.median([r["wall"] for r in runs])
    ext = [v for k, v in events.items() if k.startswith("extract.")]
    m = {
        "session.start_s": probes.median([s for s, _ in setups]),
        "session.warmup_s": probes.median([w for _, w in setups]),
        "extract.tasks": sum(v["tasks"] for v in ext),
        "extract.shuffle_write_bytes": sum(v["shuffle_write_bytes"]
                                           for v in ext),
        "extract.spill_bytes": sum(v["spill_bytes"] for v in ext),
        "tracing.overhead_s": probes.median(
            [r["wall"] for r in paired if r["traced"] and "wall" in r]) - wall,
    }
    sink = workload == "sink_synthetic"

    def med(key):
        return probes.median([r[key] for r in runs if key in r]) if sink else 0

    m["checkpoint.overhead_s"] = (wall - layers["extract.records_wall_s"]
                                  if sink else 0.0)
    m["checkpoint.group_gap_s"] = med("group_gap")
    m["checkpoint.bytes_written"] = med("bytes_written")
    m["checkpoint.bytes_ratio"] = (m["checkpoint.bytes_written"]
                                   / corpus.descriptors["bytes"])
    m["checkpoint.files_written"] = med("files_written")
    m["checkpoint.buckets_committed"] = med("buckets_committed")
    # the sink tokenizes once (staging); the read-only workloads once
    # per output (spans and transactions profiles)
    passes = 1 if sink else 2
    m["residual_s"] = wall - (passes * layers["extract.records_wall_s"]
                              + layers["extract.spans_wall_s"]
                              + layers["extract.transactions_wall_s"])
    return m


def _print_metrics(title: str, values: dict, units: dict) -> None:
    print(f"# {title}")
    for name, unit in units.items():
        print(f"{name:32s} {values[name]:16.6g} {unit}")


def _report(reading: dict, e2e_units: dict, layer_units: dict) -> None:
    w = reading["workload"]
    _print_metrics(f"{w} end to end", reading["end_to_end"], e2e_units)
    print(f"{'failed_frac':32s} {reading['failed_frac']:16.6g} ratio")
    tail = reading["wall_s_tail"]
    print(f"# wall_s is the median of {reading['samples']} runs; "
          + (f"{tail[0]} = {tail[1]:.6g} s" if tail else
             "too few runs for a tail percentile"))
    if "per_layer" in reading:
        _print_metrics(f"{w} per layer", reading["per_layer"], layer_units)


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on a tiny corpus, "
                         "traced, and print every metric")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke")

    try:
        import bank_statement_pdf_parser_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(pkg.__file__)) != ROOT:
        print(f"perfbench: the package was imported from {pkg.__file__}, "
              f"not from the checkout at {ROOT}", file=sys.stderr)
        return 2
    e2e_units, layer_units = _metric_specs()
    tmp = _environment()
    try:
        if args.smoke:
            attempted = failed = 0
            for w in WORKLOADS:
                reading, a, f = run_one(w, args.seed, 1, True, True)
                attempted, failed = attempted + a, failed + f
                _report(reading, e2e_units, layer_units)
            metrics = {}
        else:
            reading, attempted, failed = run_one(
                args.workload, args.seed, args.seconds, bool(args.trace),
                False)
            _report(reading, e2e_units, layer_units)
            key, units = (("per_layer", layer_units) if args.trace
                          else ("end_to_end", e2e_units))
            metrics = {k: {"value": reading[key][k], "unit": u}
                       for k, u in units.items()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
