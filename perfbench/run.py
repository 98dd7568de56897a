#!/usr/bin/env python3
"""CDC ingest benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The seed's input is derived from a
cached template (``gen.py``), the workload runs its closed loop for at
least ``--seconds``, the final lake state is checked against the DuckDB
oracle, and the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (and writes
the run's spans to ``.perfbench/spans-<workload>-<seed>.json``).
Progress, the oracle verdict and the raw samples go to standard error.
See README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env  # noqa: E402

env.ship_package()

from perfbench import gen, tracing, workloads  # noqa: E402

# CPU steal share over the timed window above which a run is flagged.
STEAL_WARN = 0.02

UNITS = {
    "setup_s": "s", "events_per_s": "events/s",
    "ingest_lag_p50_s": "s", "ingest_lag_p75_s": "s",
    "read_p50_s": "s", "read_p75_s": "s",
    "lake_bytes_per_row": "B/row", "peak_rss_mb": "MB",
}


# ------------------------------------------------------------------ memory


def tree_pss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and its descendants, each shared page
    split among the processes that map it (PSS), so forked Python
    workers do not count their shared pages once each."""
    total = 0
    for p in [pid] + env.descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    return total


class PeakRSS:
    """Samples the resident memory (PSS) of this process and all its
    descendants (the JVM and the Python workers) from ``start`` to
    ``stop`` and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, args=(interval,), daemon=True)

    def _loop(self, interval: float) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            self._stop.wait(interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Take a last sample and stop; a second call does nothing."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


# ------------------------------------------------------------------ metrics


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[
        round(q * 100) - 1]


def end_to_end(run: workloads.Run, session_s: float) -> dict:
    s = run.samples
    return {
        "setup_s": session_s + sum(run.setup_s.values()),
        "events_per_s": statistics.median(s["events_per_s"]),
        "ingest_lag_p50_s": quantile(s["lag_s"], 0.50),
        "ingest_lag_p75_s": quantile(s["lag_s"], 0.75),
        "read_p50_s": quantile(s["read_s"], 0.50),
        "read_p75_s": quantile(s["read_s"], 0.75),
        "lake_bytes_per_row":
            run.facts["lake_bytes"] / max(1, run.facts["live_rows"]),
        "peak_rss_mb": run.rss.peak / 2**20,
    }


def per_layer(run: workloads.Run, probes: dict, log: dict) -> dict:
    """Per-layer metrics from the traced run's spans in its timed window
    plus the layer probes."""
    t = run.tracer
    since = run.window.start
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    merges = [m for m in t.named("table.merge_into", since)
              if not m.attrs["skipped"]]
    batches = t.named("replay.batch", since)
    streams = t.named("replay.stream", since)
    reads = t.named("table.read", since)
    maints = t.named("table.maintain", since)
    replay_jobs = sum(s.attrs["spark.jobs"] for s in batches + streams)
    w = run.window.attrs
    return {
        **probes,
        "replay.batch_s": med([s.seconds for s in batches]),
        "replay.stream_s": med([s.seconds for s in streams]),
        "replay.batch_self_s":
            med([t.self_seconds(s, "table.merge_into") for s in batches]),
        "replay.stream_self_s":
            med([t.self_seconds(s, "table.merge_into") for s in streams]),
        "replay.jobs_per_epoch": replay_jobs / max(1, len(merges)),
        "table.merge_s": med([m.seconds for m in merges]),
        "table.touched_buckets_per_epoch":
            mean([m.attrs["touched_buckets"] for m in merges]),
        "table.rows_written_per_winner":
            sum(m.attrs["rows_written"] for m in merges)
            / max(1, sum(m.attrs["winners"] for m in merges)),
        "table.bytes_written_per_epoch":
            mean([m.attrs["bytes_written"] for m in merges]),
        "table.read_s": med([r.seconds for r in reads]),
        "table.read_files": mean([r.attrs["files"] for r in reads]),
        "table.delta_files_outstanding":
            mean([r.attrs["delta_files"] for r in reads]),
        "table.maintain_s": med([m.seconds for m in maints]),
        "table.compacted_buckets":
            sum(m.attrs["compacted_buckets"] for m in maints),
        "table.bytes_reclaimed": sum(m.attrs["bytes_reclaimed"] for m in maints),
        **{f"spark.{k}": w[f"spark.{k}"] for k in
           ("jobs", "tasks", "failed_tasks", "shuffle_read_bytes",
            "input_bytes", "gc_ms")},
        "trace.events_per_s": statistics.median(run.samples["events_per_s"]),
        "trace.spans": len(t.spans),
        "input.template_gen_s": log["template_gen_s"],
        "input.derive_s": log["derive_s"],
        "error_rate": run.failed / max(1, run.attempted),
    }


UNITS_LAYER = {
    "wavefront.decode_ms_per_chunk": "ms", "wavefront.rows_per_s": "rows/s",
    "binlog.decode_s": "s", "binlog.rows_out": "rows",
    "binlog.vectorized_share": "ratio",
    "apply.winners_self_s": "s", "apply.keys_per_row": "ratio",
    "apply.shuffle_write_bytes": "B",
    "replay.batch_s": "s", "replay.stream_s": "s",
    "replay.batch_self_s": "s", "replay.stream_self_s": "s",
    "replay.jobs_per_epoch": "count",
    "table.merge_s": "s", "table.touched_buckets_per_epoch": "count",
    "table.rows_written_per_winner": "ratio",
    "table.bytes_written_per_epoch": "B",
    "table.read_s": "s", "table.read_files": "count",
    "table.delta_files_outstanding": "count",
    "table.maintain_s": "s", "table.compacted_buckets": "count",
    "table.bytes_reclaimed": "B",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.shuffle_read_bytes": "B",
    "spark.input_bytes": "B", "spark.gc_ms": "ms",
    "trace.events_per_s": "events/s", "trace.spans": "count",
    "input.template_gen_s": "s", "input.derive_s": "s",
    "error_rate": "ratio",
}


# --------------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_main = time.perf_counter()

    layout = workloads.LOG
    work = os.path.join(env.WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = gen.derive_log(args.seed, layout, os.path.join(work, "log"))
    print(f"# input: template {log['template_gen_s']:.1f}s"
          f"{' (cached)' if log['template_cached'] else ''}, "
          f"seed {args.seed} derived in {log['derive_s']:.2f}s",
          file=sys.stderr)

    rss = PeakRSS()
    rss.start()
    ticks = env.cpu_ticks()
    t0 = time.perf_counter()
    spark = env.start_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        run = workloads.Run(
            spark=spark, seed=args.seed, seconds=args.seconds,
            log_dir=log["dir"], work=work, rss=rss)
        if args.trace:
            run.tracer = tracing.Tracer(
                spark, f"{args.workload}-{args.seed}-{time.time():.0f}")
            restore = tracing.instrument_table(run.tracer)
        getattr(workloads, args.workload)(run)
        if args.trace:
            restore()
            probes = workloads.layer_probes(
                run, workloads.chunk_paths(log["dir"], run.applied))
    finally:
        rss.stop()
        t0 = time.perf_counter()
        env.stop_spark(spark)
        stop_s = time.perf_counter() - t0
    run.phases["stop"] = stop_s
    run.facts["cpu_steal_run"] = env.steal_share(ticks, env.cpu_ticks())
    steal = run.facts.get("cpu_steal_timed", 0.0)
    print(f"# host: CPU steal {100 * steal:.1f}% over the timed window"
          + (" -- contended host, times not comparable; rerun"
             if steal > STEAL_WARN else ""), file=sys.stderr)
    if args.trace:
        run.tracer.write(os.path.join(
            env.WORK, f"spans-{args.workload}-{args.seed}.json"))
        metrics = per_layer(run, probes, log)
        units = UNITS_LAYER
    else:
        metrics = end_to_end(run, session_s)
        units = UNITS
    shutil.rmtree(work, ignore_errors=True)
    run.phases["main"] = time.perf_counter() - t_main
    print("# " + json.dumps({"facts": run.facts, "setup": run.setup_s,
                             "session_s": session_s, "phases": run.phases,
                             "samples": run.samples}), file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
