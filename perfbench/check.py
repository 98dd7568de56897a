"""Independent oracle for the lake state a run leaves behind.

DuckDB derives the seeded change log from the same ``events`` frame and
the same SQL the generator rendered for Spark, restricts it to the chunks
that landed, and computes the last-writer state (latest LSN per key,
deletes removed).  The lake side is read through the public snapshot
read (``LakeTable.snapshot_df``).  Both sides are compared as multisets
of (key + payload) rows, so order never matters, and each side's
order-insensitive content hash is reported.

``perturbed`` builds a damaged copy of a lake state (one row dropped, one
``text`` changed); every run checks that the comparison rejects it, so
the check can never pass vacuously.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from perfbench import gen

# Compared columns: key + payload, the timestamp as epoch microseconds.
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "tool_version",
           "ts_us"]
_TYPED = (
    "CAST(conv_id AS VARCHAR) AS conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, "
    "CAST(role AS VARCHAR) AS role, CAST(text AS VARCHAR) AS text, "
    "CAST(tool AS VARCHAR) AS tool, "
    "CAST(tool_version AS VARCHAR) AS tool_version, "
    "CAST(ts_us AS BIGINT) AS ts_us"
)


class Oracle:
    """The seeded log in DuckDB, for one (seed, layout)."""

    def __init__(self, seed: int, layout: gen.Layout):
        self.con = duckdb.connect()
        self.con.register("events_df", gen.events_frame(layout.events_per_replica))
        self.con.execute("CREATE TABLE events AS SELECT * FROM events_df")
        self.con.register("reps", gen.replicas_frame(seed, layout.replicas))
        self.con.execute(
            "CREATE VIEW changelog AS "
            + gen.one_replica_changelog_sql("duckdb", layout))
        self.con.execute(
            f"""CREATE TABLE log AS
            SELECT *, CAST(substr(log_file, 8) AS INTEGER) - 1 AS chunk
            FROM ({gen.replicated_log_sql(layout)})
            WHERE schema_name = '{gen.INCLUDE[0]}'
              AND table_name = '{gen.INCLUDE[1]}'""")

    def admitted_events(self, lo: int, hi: int) -> int:
        """Change events the table admits in global chunks [lo, hi),
        re-deliveries included (the decoder emits them)."""
        return self.con.execute(
            "SELECT count(*) FROM log WHERE chunk >= ? AND chunk < ?",
            [lo, hi]).fetchone()[0]

    def expected(self, n_chunks: int) -> pa.Table:
        """Last-writer state after replaying global chunks [0, n_chunks)."""
        return self.con.execute(
            f"""SELECT {_TYPED} FROM (
                  SELECT *, epoch_us(ts) AS ts_us, row_number() OVER (
                    PARTITION BY conv_id, turn_idx
                    ORDER BY log_file DESC, log_pos DESC, server_id DESC) AS rn
                  FROM log WHERE chunk < ?)
                WHERE rn = 1 AND action <> 'delete'""",
            [n_chunks]).arrow()

    def compare(self, actual: pa.Table, expected: pa.Table) -> dict:
        """Multiset comparison of two states; ``match`` is the verdict."""
        con = self.con
        con.register("actual_in", actual)
        con.register("expected_in", expected)
        try:
            q = lambda a, b: con.execute(  # noqa: E731
                f"SELECT count(*) FROM (SELECT {_TYPED} FROM {a} "
                f"EXCEPT ALL SELECT {_TYPED} FROM {b})").fetchone()[0]
            h = lambda t: con.execute(  # noqa: E731
                f"SELECT count(*), coalesce(sum(hash({', '.join(COLUMNS)})"
                f"::HUGEINT), 0)::VARCHAR FROM (SELECT {_TYPED} FROM {t})"
            ).fetchone()
            missing, unexpected = q("expected_in", "actual_in"), q(
                "actual_in", "expected_in")
            (n_act, h_act), (n_exp, h_exp) = h("actual_in"), h("expected_in")
        finally:
            con.unregister("actual_in")
            con.unregister("expected_in")
        return {
            "match": missing == 0 and unexpected == 0 and n_act == n_exp,
            "rows_actual": n_act, "rows_expected": n_exp,
            "missing": missing, "unexpected": unexpected,
            "hash_actual": h_act, "hash_expected": h_exp,
        }


def lake_state(spark, table) -> pa.Table:
    """The table's current snapshot in the compared shape."""
    from pyspark.sql import functions as F

    df = table.snapshot_df(spark)
    return df.select(
        *[c for c in COLUMNS if c != "ts_us"],
        F.unix_micros("ts").alias("ts_us"),
    ).toArrow()


def perturbed(state: pa.Table) -> pa.Table:
    """``state`` with its first row dropped and the second row's ``text``
    changed."""
    if state.num_rows < 3:
        raise ValueError("perturbation needs at least 3 rows")
    state = state.slice(1)
    text = state.column("text")
    changed = pa.concat_arrays([
        pa.array([text[0].as_py() + " (perturbed)"], text.type),
        text.slice(1).combine_chunks(),
    ])
    return state.set_column(state.schema.get_field_index("text"), "text",
                            changed)
