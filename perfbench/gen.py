"""Seeded load generator for the CDC ingest benchmark.

The input is a recorded binlog: ``replicas`` key-disjoint copies of the
change log ``spec.changelog_sql`` derives from a synthetic ``events``
table.  The log is laid out time-major, as one server interleaving many
writers: global chunk ``i`` (file ``binlog.{i + 1:06d}``) holds chunk
``i // replicas`` of the replica at slot ``i % replicas``.  So every
prefix of the log is a valid log, and a tail chunk updates and deletes
keys the chunks before it created.

What the seed changes: the 8-character salt appended to every
``conv_id`` of each replica (so bucket placement changes) and which
replica takes which slot (the order in which replicas land).  What it
does not change: the ``events`` table, so the hot-key share (30 %), the
delete rate (1/37), the duplicate re-delivery rate (1/101), the filter
noise and the events-per-key ratio are the same for every seed.

Two steps, because encoding is slow and a run may not spend it:

1. ``fixtures.generator`` encodes the log once per layout, with a
   placeholder salt per slot (``template_salt``), into a cached template
   directory closed by a completion marker.  This runs in a child
   process with its own Spark session, so it neither warms nor loads the
   session a run measures.
2. Each run derives its seed's chunks from the template: the placeholder
   salts are replaced by the seed's salts (same length, so no frame
   moves) and every frame's CRC32 is recomputed.  This takes well under
   a second.

The oracle (``check.py``) does not read chunks: DuckDB derives the
seeded log from the same ``events`` frame and the same SQL, with the
seed's salts, so a wrong derivation shows as an oracle mismatch.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import struct
import subprocess
import sys
import time
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

if __package__ in (None, ""):  # run as a script: the template generator
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_binlog_spark import spec  # noqa: E402
from mysql_binlog_spark.wire import CRC_LEN, HEADER_LEN, MAGIC  # noqa: E402
from perfbench import env  # noqa: E402

# Change-log rows the benchmark's table admits (the rest is filter noise).
INCLUDE = ("app", "transcripts")
IMAGE_COLS = [
    ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
    ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
    ("tool_version", "string"),
]
# The table starts at schema v1; tool_version arrives by ADD COLUMN when
# the log's schema evolves mid-way.
TABLE_COLS = IMAGE_COLS[:6]
KEY_COLS = ["conv_id", "turn_idx"]

# Users per event: 1/17 gives ~1.8 change events per live key.
EVENTS_PER_USER = 17
SALT_LEN = 8
# Bump when the layout or the encoding of the cached template changes.
CACHE_VERSION = "v2"


def template_salt(slot: int) -> str:
    """Placeholder salt of a slot: bytes no other field of the log holds."""
    return f"QQQQQQ{slot:02d}"


@dataclass(frozen=True)
class Layout:
    """Shape of one recorded log."""

    replicas: int
    chunks_per_replica: int
    events_per_chunk: int

    @property
    def chunks(self) -> int:
        return self.replicas * self.chunks_per_replica

    @property
    def events_per_replica(self) -> int:
        return self.chunks_per_replica * self.events_per_chunk

    def tag(self) -> str:
        return (f"r{self.replicas}-c{self.chunks_per_replica}"
                f"-e{self.events_per_chunk}-{CACHE_VERSION}")


def chunk_name(i: int) -> str:
    """File name of global chunk ``i`` (0-based)."""
    return f"binlog.{i + 1:06d}"


def events_frame(n_events: int) -> pd.DataFrame:
    """The seed-independent ``events`` table one replica is derived from
    (same columns as the repository's test-data ``events`` table)."""
    rng = np.random.default_rng(20240101)
    n_users = max(1, n_events // EVENTS_PER_USER)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    step_us = rng.integers(200_000, 2_000_000, n_events).cumsum()
    types = np.array(["click", "signup", "error", "view", "purchase"])
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts0 + step_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": types[rng.integers(0, len(types), n_events)],
    })


def replicas_frame(seed: int, n: int) -> pd.DataFrame:
    """Replica -> (slot in the interleaved log, conv_id salt)."""
    if n > 100:
        raise ValueError("template salts number at most 100 slots")
    order = np.random.default_rng(seed).permutation(n)
    return pd.DataFrame({
        "rep": np.arange(n, dtype=np.int64),
        "slot": order.astype(np.int64),
        "tag": [
            hashlib.sha256(f"{seed}:{r}".encode()).hexdigest()[:SALT_LEN]
            for r in range(n)
        ],
    })


def template_frame(n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "rep": np.arange(n, dtype=np.int64),
        "slot": np.arange(n, dtype=np.int64),
        "tag": [template_salt(s) for s in range(n)],
    })


def replicated_log_sql(layout: Layout, changelog: str = "changelog",
                       reps: str = "reps") -> str:
    """Fan the one-replica change log out to the interleaved global log.
    Valid in both Spark SQL and DuckDB."""
    return f"""
    SELECT
      printf('binlog.%06d',
             (CAST(substr(c.log_file, 8) AS INT) - 1) * {layout.replicas}
             + CAST(r.slot AS INT) + 1) AS log_file,
      c.log_pos, c.server_id, c.xid, c.ts, c.schema_name, c.table_name,
      c.action, c.conv_id || '_' || r.tag AS conv_id, c.turn_idx, c.role,
      c.text, c.tool, c.tool_version
    FROM {changelog} c CROSS JOIN {reps} r
    """


def one_replica_changelog_sql(dialect: str, layout: Layout) -> str:
    return spec.changelog_sql(
        dialect, "events", events_per_file=layout.events_per_chunk,
        with_duplicates=True,
    )


# ----------------------------------------------------------------- template


def template_dir(layout: Layout) -> str:
    return os.path.join(env.CACHE, f"template-{layout.tag()}")


def ensure_template(layout: Layout) -> dict:
    """The cached template for ``layout``, generated in a child process
    when missing.  Returns the completion marker's content plus
    ``dir`` and ``cached``."""
    out = template_dir(layout)
    marker = os.path.join(out, "_COMPLETE")
    cached = os.path.exists(marker)
    if not cached:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--layout", json.dumps(layout.__dict__)],
            check=True, timeout=600, stdout=sys.stderr,
        )
    with open(marker) as f:
        return {**json.load(f), "dir": out, "cached": cached}


def generate_template(spark, layout: Layout) -> None:
    """Encode the placeholder-salted log with ``fixtures.generator`` and
    write the completion marker last."""
    from pyspark.sql import functions as F

    from mysql_binlog_spark.fixtures.generator import generate_binlog_chunks

    out = template_dir(layout)
    marker = os.path.join(out, "_COMPLETE")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    spark.createDataFrame(events_frame(layout.events_per_replica)) \
        .createOrReplaceTempView("events")
    spark.createDataFrame(template_frame(layout.replicas)) \
        .createOrReplaceTempView("reps")
    spark.sql(one_replica_changelog_sql("spark", layout)) \
        .createOrReplaceTempView("changelog")
    log = spark.sql(replicated_log_sql(layout)).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    stats = generate_binlog_chunks(log, out, write_index=False)
    gen_s = time.perf_counter() - t0
    if len(stats) != layout.chunks:
        raise RuntimeError(
            f"generated {len(stats)} chunks, layout wants {layout.chunks}")
    doc = {"gen_s": gen_s, "chunks": len(stats),
           "rows": int(stats["n_rows"].sum()),
           "bytes": int(stats["n_bytes"].sum())}
    with open(marker + ".tmp", "w") as f:
        json.dump(doc, f)
    os.rename(marker + ".tmp", marker)


# ---------------------------------------------------------------- seeded log


def resalt(data: bytes, old: str, new: str) -> bytes:
    """Replace a replica's salt in one chunk and recompute every frame's
    CRC32 trailer.  Salts have equal length, so no frame size or
    position changes."""
    if len(old) != len(new):
        raise ValueError("salts must have equal length")
    buf = bytearray(data.replace(b"_" + old.encode(), b"_" + new.encode()))
    if buf[:len(MAGIC)] != MAGIC:
        raise ValueError("not a binlog chunk")
    off = len(MAGIC)
    while off + HEADER_LEN <= len(buf):
        size = struct.unpack_from("<I", buf, off + 9)[0]
        if size < HEADER_LEN + CRC_LEN or off + size > len(buf):
            raise ValueError(f"malformed frame at offset {off}")
        end = off + size - CRC_LEN
        struct.pack_into("<I", buf, end, zlib.crc32(buf[off:end]) & 0xFFFFFFFF)
        off += size
    if off != len(buf):
        raise ValueError("trailing bytes after the last frame")
    return bytes(buf)


def derive_log(seed: int, layout: Layout, out: str) -> dict:
    """Write the seed's chunks into ``out``, derived from the template.
    Returns timings of both steps."""
    tpl = ensure_template(layout)
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    salt_of_slot = dict(zip(*(
        replicas_frame(seed, layout.replicas)[c] for c in ("slot", "tag"))))
    for i in range(layout.chunks):
        slot = i % layout.replicas
        with open(os.path.join(tpl["dir"], chunk_name(i)), "rb") as f:
            data = resalt(f.read(), template_salt(slot), salt_of_slot[slot])
        if b"QQQQQQ" in data:
            raise RuntimeError(f"chunk {i} holds another slot's placeholder")
        with open(os.path.join(out, chunk_name(i)), "wb") as f:
            f.write(data)
    return {"dir": out, "template_gen_s": tpl["gen_s"],
            "template_cached": tpl["cached"],
            "derive_s": time.perf_counter() - t0}


def link_chunks(src_dir: str, dst_dir: str, indices) -> None:
    """Hard-link the given global chunks into a directory of their own.
    Replay epoch ids derive from the chunk names a directory holds, so
    each workload phase reads its own directory."""
    os.makedirs(dst_dir, exist_ok=True)
    for i in indices:
        os.link(os.path.join(src_dir, chunk_name(i)),
                os.path.join(dst_dir, chunk_name(i)))


def main() -> None:
    ap = argparse.ArgumentParser(description="Generate the cached template.")
    ap.add_argument("--layout", required=True, help="Layout fields as JSON")
    args = ap.parse_args()
    spark = env.start_spark("perfbench-template")
    try:
        generate_template(spark, Layout(**json.loads(args.layout)))
    finally:
        env.stop_spark(spark)


if __name__ == "__main__":
    main()
