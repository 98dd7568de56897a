"""The benchmark's workloads: closed loops, one client each.

All three read the same seeded log (``LOG``): 8 key-disjoint replicas,
128 chunks of 2 500 events, interleaved time-major (see ``gen.py``).

* ``bulk_replay`` — the recorded log replayed with ``replay_batch`` into
  an empty table, 64 chunks per epoch: one initial-load epoch, then a
  copy-on-write (CoW) merge into the loaded table, prefetch on.  Epochs
  are this large because part of an epoch's cost does not shrink with
  its size (its Spark jobs, the manifest commit, and in a CoW epoch the
  rewrite of every touched bucket); with small epochs that part
  dominates (see README.md).
* ``tail_cow`` / ``tail_mor`` — a base table of the first 32 chunks is
  loaded in set-up; then the next chunks land one at a time in a landing
  directory, each followed by ``replay_stream`` (availableNow trigger,
  persistent checkpoint) in that merge mode and by a full snapshot read
  with a content hash, as a downstream reader would do.  The benchmark
  calls ``LakeTable.maintain`` itself every ``MAINTAIN_EVERY`` increments
  (``replay_stream``'s ``maintain_every`` counts epochs per call, so a
  one-epoch call never reaches it) and counts that time in the lag of the
  increment it blocks.  A tail run ends on a whole maintenance cycle, so
  every run sees the same shape of delta build-up and the same on-disk
  state.  Both modes' final states are checked against the same oracle,
  so for the same seed and increments they are equal.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import check, env, gen

LOG = gen.Layout(replicas=8, chunks_per_replica=16, events_per_chunk=2500)
N_BUCKETS = 16
BULK_FILES_PER_EPOCH = 64
# The warm-up replays this many chunks in two epochs (initial load + CoW).
BULK_WARMUP_CHUNKS = 8
# Replays per run at least.  The first replays of a session are the
# slowest, even after a full-size warm-up replay (see README.md); the
# median of three leaves the first one out.
BULK_MIN_REPLAYS = 3
# Snapshot reads after each bulk replay (several per replay keep their
# quantiles steady).
BULK_READS = 3
TAIL_BASE_CHUNKS = 32
# Base of the tail's warm-up table.
TAIL_WARMUP_CHUNKS = 8
MAINTAIN_EVERY = 8
# Base-table loads per tail run; set-up reports their median.
SETUP_REPEATS = 3
INCLUDE = [gen.INCLUDE]

WORKLOADS = ("bulk_replay", "tail_cow", "tail_mor")


@dataclass
class Run:
    """State and results of one benchmark run."""

    spark: object
    seed: int
    seconds: float
    log_dir: str
    work: str
    rss: object  # run.PeakRSS, sampling since before the session started
    oracle: check.Oracle = None  # built when the timed window ends
    tracer: object = None  # tracing.Tracer in a traced run
    attempted: int = 0
    failed: int = 0
    setup_s: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)  # wall seconds per phase
    window: object = None  # the traced timed-window span
    applied: range = range(0)  # global chunks the timed loop applied

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    @contextlib.contextmanager
    def timed(self):
        """The timed window, traced as ``run.timed``; yields its start.
        The peak-memory sampler stops when the window ends, and the
        oracle is built only then, so neither the oracle nor the checks
        after the window count in ``peak_rss_mb``.  The host's CPU steal
        over the window is recorded as a run fact, so that a run on a
        contended host can be spotted and rerun."""
        ticks = env.cpu_ticks()
        with self.span("run.timed") as self.window:
            start = time.perf_counter()
            yield start
        end = time.perf_counter()
        self.rss.stop()
        self.facts["cpu_steal_timed"] = env.steal_share(ticks, env.cpu_ticks())
        self.oracle = check.Oracle(self.seed, LOG)
        self.phases["timed"] = end - start
        self.phases["oracle"] = time.perf_counter() - end

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def attempt(self, ok: bool, what: str) -> bool:
        """Count one operation; a failed one is reported on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# FAILED: {what}", file=sys.stderr)
        return ok

    def guarded(self, what: str, fn):
        """Run one operation; an exception counts as its failure."""
        try:
            return fn()
        except Exception:  # a failed operation is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            self.attempt(False, what)
            return None


def chunk_paths(log_dir: str, indices) -> list[str]:
    return [os.path.join(log_dir, gen.chunk_name(i)) for i in indices]


def fresh_table(path: str):
    from mysql_binlog_spark.table import LakeTable

    shutil.rmtree(path, ignore_errors=True)
    return LakeTable.create(path, gen.TABLE_COLS, gen.KEY_COLS,
                            n_buckets=N_BUCKETS)


def read_hash(spark, table) -> tuple[int, str]:
    """A downstream reader: full snapshot read, row count and an
    order-insensitive content hash."""
    from pyspark.sql import functions as F

    df = table.snapshot_df(spark)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], str(row["h"])


def replay_into(run: Run, chunk_dir: str, table, files_per_epoch: int):
    from mysql_binlog_spark.streaming.replay import replay_batch

    with run.span("replay.batch"):
        return replay_batch(run.spark, chunk_dir, table, include=INCLUDE,
                            image_cols=gen.IMAGE_COLS,
                            files_per_epoch=files_per_epoch)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def commit_times(table) -> list[float]:
    """Wall-clock commit time of each epoch, in commit order."""
    out = []
    for c in table.commits():
        with open(c) as f:
            out.append(json.load(f)["wall_time"])
    return out


def check_final(run: Run, table, n_chunks: int) -> None:
    """Oracle check of the final lake state, and the perturbation
    self-test of the check itself.  Outside every timed window."""
    t0 = time.perf_counter()
    state = check.lake_state(run.spark, table)
    expected = run.oracle.expected(n_chunks)
    verdict = run.oracle.compare(state, expected)
    run.facts["oracle"] = verdict
    run.facts["live_rows"] = verdict["rows_actual"]
    run.attempt(verdict["match"], f"oracle mismatch: {verdict}")
    caught = not run.oracle.compare(check.perturbed(state), expected)["match"]
    run.facts["perturbation_detected"] = caught
    run.attempt(caught, "the oracle check accepted a perturbed table")
    run.facts["lake_bytes"] = dir_bytes(table.path)
    run.phases["check"] = time.perf_counter() - t0


# --------------------------------------------------------------- bulk_replay


def bulk_replay(run: Run) -> None:
    bulk_dir = run.log_dir
    warm_dir = os.path.join(run.work, "bulk_warm")
    gen.link_chunks(run.log_dir, warm_dir, range(BULK_WARMUP_CHUNKS))

    # untimed warm-up: the initial-load and the CoW epoch paths once each
    t0 = time.perf_counter()
    warm = fresh_table(os.path.join(run.work, "lake_warm"))
    replay_into(run, warm_dir, warm, BULK_WARMUP_CHUNKS // 2)
    read_hash(run.spark, warm)
    run.setup_s["warmup"] = time.perf_counter() - t0
    shutil.rmtree(warm.path)

    epochs = -(-LOG.chunks // BULK_FILES_PER_EPOCH)
    hashes = []
    table = None
    with run.timed() as start:
        i = 0
        while i < BULK_MIN_REPLAYS or time.perf_counter() - start < run.seconds:
            if table is not None:
                shutil.rmtree(table.path)
            table = fresh_table(os.path.join(run.work, f"lake_bulk{i}"))
            t0 = time.perf_counter()
            wall0 = time.time()
            stats = run.guarded(
                "replay_batch",
                lambda: replay_into(run, bulk_dir, table, BULK_FILES_PER_EPOCH))
            dt = time.perf_counter() - t0
            if stats is None:
                break
            run.attempt(stats.applied == epochs,
                        f"replay applied {stats.applied} of {epochs} epochs")
            run.sample("ingest_s", dt)
            # every chunk landed when the replay started; a chunk's lag
            # ends when its epoch commits
            for k, t in enumerate(commit_times(table)):
                n = min(BULK_FILES_PER_EPOCH,
                        LOG.chunks - k * BULK_FILES_PER_EPOCH)
                run.samples.setdefault("lag_s", []).extend([t - wall0] * n)
            for _ in range(BULK_READS):
                t0 = time.perf_counter()
                with run.span("table.read"):
                    h = run.guarded("read", lambda: read_hash(run.spark, table))
                if h is None:
                    break
                run.sample("read_s", time.perf_counter() - t0)
            hashes.append(h)
            i += 1
            if h is None:
                break
    events = run.oracle.admitted_events(0, LOG.chunks)
    run.samples["events_per_s"] = [
        events / dt for dt in run.samples.get("ingest_s", [])]
    run.applied = range(LOG.chunks)
    run.facts.update(replays=i, events_per_replay=events,
                     epochs_per_replay=epochs)
    run.attempt(len(set(hashes)) <= 1, f"replays disagree: {hashes}")
    if table is not None:
        check_final(run, table, LOG.chunks)


# ------------------------------------------------------------------ tails


def land(src: str, landing: str) -> float:
    """Publish one chunk in the landing directory (copy to a hidden name,
    then rename, so the stream never sees a partial file).  Returns the
    landing time."""
    dst = os.path.join(landing, os.path.basename(src))
    tmp = os.path.join(landing, "." + os.path.basename(src) + ".tmp")
    shutil.copyfile(src, tmp)
    os.rename(tmp, dst)
    return time.perf_counter()


def stream_once(run: Run, landing: str, table, ckpt: str, mode: str):
    from mysql_binlog_spark.streaming.replay import replay_stream

    with run.span("replay.stream"):
        return replay_stream(run.spark, landing, table, ckpt, include=INCLUDE,
                             image_cols=gen.IMAGE_COLS, merge_mode=mode)


def tail(run: Run, mode: str) -> None:
    base_dir = os.path.join(run.work, "tail_base")
    gen.link_chunks(run.log_dir, base_dir, range(TAIL_BASE_CHUNKS))

    # untimed warm-up on a throw-away table: a small base load, one
    # increment and its read
    warm_dir = os.path.join(run.work, "tail_warm")
    gen.link_chunks(run.log_dir, warm_dir, range(TAIL_WARMUP_CHUNKS))
    t0 = time.perf_counter()
    warm = fresh_table(os.path.join(run.work, "lake_warm"))
    replay_into(run, warm_dir, warm, TAIL_WARMUP_CHUNKS)
    run.phases["warmup_load"] = time.perf_counter() - t0
    landing = os.path.join(run.work, "landing_warm")
    os.makedirs(landing)
    land(os.path.join(run.log_dir, gen.chunk_name(TAIL_WARMUP_CHUNKS)),
         landing)
    stream_once(run, landing, warm, os.path.join(run.work, "ckpt_warm"), mode)
    read_hash(run.spark, warm)
    run.setup_s["warmup"] = time.perf_counter() - t0
    shutil.rmtree(warm.path)

    loads = []
    for r in range(SETUP_REPEATS):
        table = fresh_table(os.path.join(run.work, f"lake_{mode}{r}"))
        t0 = time.perf_counter()
        replay_into(run, base_dir, table, TAIL_BASE_CHUNKS)
        loads.append(time.perf_counter() - t0)
        if r + 1 < SETUP_REPEATS:
            shutil.rmtree(table.path)
    run.setup_s["base_load"] = statistics.median(loads)

    landing = os.path.join(run.work, "landing")
    ckpt = os.path.join(run.work, "ckpt")
    os.makedirs(landing)
    pool = LOG.chunks - TAIL_BASE_CHUNKS
    with run.timed() as start:
        k = 0
        while k < pool and (
            k == 0 or k % MAINTAIN_EVERY
            or time.perf_counter() - start < run.seconds
        ):
            landed = land(
                os.path.join(run.log_dir, gen.chunk_name(TAIL_BASE_CHUNKS + k)),
                landing)
            stats = run.guarded(
                "replay_stream",
                lambda: stream_once(run, landing, table, ckpt, mode))
            if stats is None:
                break
            run.attempt(stats.applied == 1,
                        f"increment {k} applied {stats.applied} epochs")
            k += 1
            if k % MAINTAIN_EVERY == 0:
                if run.guarded("maintain",
                               lambda: table.maintain(run.spark)) is None:
                    break
            run.sample("lag_s", time.perf_counter() - landed)
            t0 = time.perf_counter()
            with run.span("table.read"):
                h = run.guarded("read", lambda: read_hash(run.spark, table))
            if h is None:
                break
            run.sample("read_s", time.perf_counter() - t0)
    events = run.oracle.admitted_events(TAIL_BASE_CHUNKS, TAIL_BASE_CHUNKS + k)
    run.sample("events_per_s", events / sum(run.samples.get("lag_s", [1.0])))
    run.applied = range(TAIL_BASE_CHUNKS, TAIL_BASE_CHUNKS + k)
    run.facts.update(increments=k, events_applied=events,
                     base_chunks=TAIL_BASE_CHUNKS)
    check_final(run, table, TAIL_BASE_CHUNKS + k)


def tail_cow(run: Run) -> None:
    tail(run, "cow")


def tail_mor(run: Run) -> None:
    tail(run, "mor")


# ---------------------------------------------------------- traced run only


def layer_probes(run: Run, paths: list[str]) -> dict:
    """Per-layer measurements outside the timed window: the single-core
    decode kernel, the decode stage and the winners stage of the
    workload's own chunks, each as a separate Spark job."""
    from mysql_binlog_spark.operators.apply import last_writer
    from mysql_binlog_spark.sources.binlog import image_view, read_binlog
    from mysql_binlog_spark.sources.wavefront import decode_chunk_vectorized
    from mysql_binlog_spark.streaming.replay import _PRUNED_META

    cols = [n for n, _ in gen.IMAGE_COLS]
    include = set(INCLUDE)

    def kernel(data):
        return decode_chunk_vectorized(data, image_cols=cols, include=include,
                                       before_mode="delete_only")

    datas = []
    for p in paths:
        with open(p, "rb") as f:
            datas.append(f.read())
    kernel(datas[0])  # compile the kernel for this schema
    times, rows, accepted = [], 0, 0
    for data in datas:
        t0 = time.perf_counter()
        batch, _ = kernel(data)
        dt = time.perf_counter() - t0
        if batch is not None:
            accepted += 1
            times.append(dt)
            rows += len(batch)
    out = {
        "wavefront.decode_ms_per_chunk":
            1000 * statistics.median(times) if times else 0.0,
        "wavefront.rows_per_s": rows / sum(times) if times else 0.0,
        "binlog.vectorized_share": accepted / len(datas),
    }

    spark = run.spark
    decoded = read_binlog(spark, paths, image_cols=gen.IMAGE_COLS,
                          include=include, before_mode="delete_only",
                          null_cols=_PRUNED_META)
    with run.span("binlog.decode") as dec:
        decoded.write.format("noop").mode("overwrite").save()
    winners = last_writer(
        image_view(decoded, cols), key_cols=gen.KEY_COLS,
        payload_cols=[c for c in cols if c not in gen.KEY_COLS])
    with run.span("apply.winners") as win:
        winners.write.format("noop").mode("overwrite").save()
    rows_out = decoded.count()
    out.update({
        "binlog.decode_s": dec.seconds,
        "binlog.rows_out": rows_out,
        "apply.winners_self_s": win.seconds - dec.seconds,
        "apply.keys_per_row": winners.count() / max(1, rows_out),
        "apply.shuffle_write_bytes": win.attrs["spark.shuffle_write_bytes"],
    })
    return out
