"""Seeded load generator: the parquet inputs each workload feeds the program.

Everything is derived from ``corpus.generator.generate_clips(sf, seed=...)``,
so the same seed gives byte-identical inputs. Generation is the load
generator's work and is not counted in any metric.

Row groups are bounded by bytes, like ``write_clips_parquet`` does, but at
``ROW_GROUP_BYTES`` instead of 96 MB: the benchmark corpora are a few tens
of MB, and one 96 MB-bounded group would leave a single payload scan task
on a multi-core host.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from data_quality_checker_spark.corpus.generator import (
    CLIPS_PER_SF,
    _payload_row_group_rows,
    generate_clips,
)

ROW_GROUP_BYTES = 4 * 2**20

CLIPS_SCHEMA = pa.schema(
    [
        pa.field("clip_id", pa.string(), nullable=False),
        pa.field("bytes", pa.binary()),
        pa.field("sr_hz", pa.int32()),
        pa.field("dur_ms", pa.int32()),
        pa.field("codec", pa.string()),
        pa.field("transcript", pa.string()),
    ]
)


def clips(n: int, seed: int) -> pd.DataFrame:
    """``n`` clips with the generator's default defect mix (about 3.5%
    byte duplicates plus one hot key), without the debug column."""
    df = generate_clips(n / CLIPS_PER_SF, seed=seed)
    return df.drop(columns=["defect"])


def write_parquet(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False).cast(CLIPS_SCHEMA)
    pq.write_table(table, path, row_group_size=_payload_row_group_rows(table, ROW_GROUP_BYTES))


def dup_stream(
    distinct: int, tick_rows: int, seed: int, copies: tuple[int, int] = (4, 8)
) -> list[pd.DataFrame]:
    """A duplicate-heavy stream: every distinct clip appears ``copies``
    times (uniform, inclusive) under fresh clip_ids, the copies shuffled
    across the stream and cut into ticks of ``tick_rows`` rows.

    Fresh ids are ordered by arrival, so within a tick the earliest copy
    has the smallest clip_id, and across ticks the first-seen tick owns
    the keeper."""
    base = clips(distinct, seed)
    rng = np.random.default_rng(seed)
    reps = rng.integers(copies[0], copies[1] + 1, size=len(base))
    rows = base.loc[np.repeat(base.index.to_numpy(), reps)].reset_index(drop=True)
    rows = rows.iloc[rng.permutation(len(rows))].reset_index(drop=True)
    rows["clip_id"] = [f"s{seed}_{k:08d}" for k in range(len(rows))]
    return [
        rows.iloc[k : k + tick_rows].reset_index(drop=True)
        for k in range(0, len(rows), tick_rows)
    ]


def write_ticks(ticks: list[pd.DataFrame], directory: str) -> list[str]:
    """One parquet file per tick (the one-file trigger of the file source)."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for k, tick in enumerate(ticks):
        path = os.path.join(directory, f"tick_{k:04d}.parquet")
        write_parquet(tick, path)
        paths.append(path)
    return paths
