"""Output checks against independent references.

Every read the benchmark times is forced by one aggregate that returns,
in a single pass, the row count, an order-independent digest of the
columns the reference knows (the sum of per-row CRC32s of a canonical
row string, with ``sha256(content)`` standing in for the content cell)
and a hash over every output column, so the timed read materializes each
cell. The same canonical digest is computed on the reference side in
plain Python, so a check costs one comparison of two small tuples
instead of a collect of the table.

References:

* tables and snapshots: ``fixtures.oracle.replay_expected`` over the
  generated events up to the same gtid bound;
* changelog days: the generated row events of that UTC day.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fixtures.oracle import replay_expected

SEP = "\x1f"
NULL = "\\N"

#: changelog columns the generated log determines exactly
CHANGELOG_COLUMNS = ["repo", "path", "op", "gtid_seq", "log_file", "log_pos", "schema_version"]


@dataclass(frozen=True)
class Digest:
    rows: int
    crc_sum: int


def table_columns(business_columns: list[str]) -> list[str]:
    """Canonical digest columns of a target-table read; ``content`` enters
    as its sha256."""
    return (
        ["repo", "path"]
        + [c for c in business_columns if c != "content"]
        + ["row_status", "gtid_seq", "schema_version", "content_sha256"]
    )


def _canon(col: str):
    c = F.sha2(F.col("content"), 256) if col == "content_sha256" else F.col(col).cast("string")
    return F.coalesce(c, F.lit(NULL))


def force(df: DataFrame, digest_columns: list[str]) -> Digest:
    """Run the forcing aggregate and return the digest of
    ``digest_columns``; the xor of xxhash64 over all output columns in
    the same aggregate makes the read produce every cell."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws(SEP, *[_canon(c) for c in digest_columns]))).alias("crc"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("all"),
    ).head()
    return Digest(int(row["n"]), int(row["crc"] or 0))


def python_digest(rows: pd.DataFrame, digest_columns: list[str]) -> Digest:
    total = 0
    cols = [rows[c].tolist() if c in rows else [None] * len(rows) for c in digest_columns]
    for vals in zip(*cols):
        s = SEP.join(NULL if v is None or v != v else str(v) for v in vals)
        total += zlib.crc32(s.encode("utf-8"))
    return Digest(len(rows), total)


class Oracle:
    """Expected digests of a generated log, replayed by the independent
    pandas oracle; cached per gtid bound and per changelog day."""

    def __init__(self, events: pa.Table, ddl_gtids: dict[str, int], v1_columns: list[str]):
        rows = events.filter(pc.is_in(events["op"], pa.array(["I", "U", "D"])))
        self._rows = rows.select(
            ["op", "repo", "path", "after", "gtid_seq", "log_file", "log_pos", "seq_in_txn",
             "schema_version", "ts"]
        ).to_pandas()
        self._rows["day"] = self._rows["ts"].dt.strftime("%Y%m%d")
        self._ddl_gtids = ddl_gtids
        self._v1 = v1_columns
        self._tables: dict[int, Digest] = {}
        self._days: dict[str, Digest] = {}

    def columns_at(self, gtid: int) -> list[str]:
        return self._v1 + [c for c, g in self._ddl_gtids.items() if g <= gtid]

    def table(self, gtid: int) -> Digest:
        if gtid not in self._tables:
            ev = self._rows[self._rows["gtid_seq"] <= gtid]
            cols = self.columns_at(gtid)
            expected = replay_expected(ev, cols)
            self._tables[gtid] = python_digest(expected, table_columns(cols))
        return self._tables[gtid]

    def changelog(self, day: str) -> Digest:
        if day not in self._days:
            self._days[day] = python_digest(
                self._rows[self._rows["day"] == day], CHANGELOG_COLUMNS
            )
        return self._days[day]

    @property
    def days(self) -> list[str]:
        return sorted(self._rows["day"].unique())

