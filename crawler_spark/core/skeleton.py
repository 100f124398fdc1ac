"""Driver-pass plumbing shared by the engine's resolve sweep and the
connected-components labelling (operators/cluster.py).

Both keep the expensive work distributed and hand a compact integer
skeleton to one driver pass: Spark writes it as parquet, its size is
read from the file footers (no Spark job), the driver checks that the
pass fits its available memory, and a thread pool reads the files
with pyarrow.
"""

from __future__ import annotations

import os


class SkeletonMemoryError(MemoryError):
    """A driver pass would need more memory than the host has free."""


def _mem_available() -> int | None:
    """MemAvailable from /proc/meminfo in bytes; None when unreadable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return None


def check_fits(need: int, what: str) -> None:
    """Raise SkeletonMemoryError when `need` driver bytes exceed the
    host's available memory — called before the skeleton is read, so
    an oversized one fails by name instead of by OOM. Skeletons are
    read with pyarrow, not collected through Spark, so
    spark.driver.maxResultSize does not bound them. Skipped when
    /proc/meminfo is unreadable."""
    avail = _mem_available()
    if avail is not None and need > avail:
        raise SkeletonMemoryError(
            f"{what} needs about {need} bytes of driver memory, but only "
            f"{avail} bytes are available (MemAvailable)")


def _footer_rows(path: str) -> dict[str, int]:
    """Per-file row counts from parquet footers (driver-side, no
    Spark job): the written files ARE the partitions, so this is the
    per-partition lineage for free. Recursive (frontier rounds are
    partitioned by `sel`); a missing dir has no files."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(root, f), path)
                out[rel] = pq.ParquetFile(
                    os.path.join(root, f)).metadata.num_rows
    return out


def _read_parquet_dir(path: str, empty_schema):
    """Thread-pooled pyarrow read of a parquet dir (ctypes/pyarrow
    release the GIL, so the read scales with cores — a single-stream
    driver toPandas() collect of the resolve skeleton was 61 s of a
    32-core bench). Explicit in-order concat: resolve's skeleton parts
    are parent-hash-partitioned (each parent contiguous and
    link-sorted — all the CSR pass needs); node rows and pairs carry
    their ids explicitly, so their order is irrelevant."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor

    files = sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet"))
    if not files:
        return pa.table(empty_schema)
    with ThreadPoolExecutor(min(16, len(files))) as ex:
        parts = list(ex.map(pq.read_table, files))
    return pa.concat_tables(parts)
