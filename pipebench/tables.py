"""Input tables on disk: each one a directory of part files, the way a
crawl segment or an upstream Spark job lays out its output."""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

#: fixed, so the file layout does not depend on the host's core count
PARTS = 16


def write_parts(table: pa.Table, out: Path, parts: int = PARTS) -> None:
    out.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       out / f"part-{i:05d}.parquet")


def num_rows(path: Path) -> int:
    return sum(pq.read_metadata(p).num_rows
               for p in sorted(Path(path).glob("*.parquet")))


def num_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).glob("*.parquet"))
