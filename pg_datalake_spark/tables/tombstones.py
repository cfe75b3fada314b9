"""Where a row-level delete's tombstones are built.

Both table formats delete rows by ``(data file, row position)``: the
LakeTable writes them to position-delete files, a Delta table to each
file's deletion vector. One rule places that work. When the files a
delete may touch hold at most :data:`DRIVER_ROWS` rows in all (a count
the table's metadata gives before any job runs), the matched positions
come back to the driver in one Spark job, at 12 bytes a row (a file
ordinal and a position), and the driver writes the tombstones. Past the
bound, or when the metadata has no count, the executors build them and
no position reaches the driver. A read applies the same bound: deletion
vectors within it are decoded on the driver and broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ~48 MB of held (ordinal, position) pairs, ~100 MB once the read side
# spells each file's path out for its broadcast; tests pin it to 0 to
# force the executor route
DRIVER_ROWS = 4_000_000


def _held_positions(
    matched: DataFrame, path: Column, pos: Column, paths: list[str]
) -> list:
    """The ascending row positions of ``matched`` in each of ``paths``
    (``path`` must equal one of them on every row), from one collect.
    Each row carries the index of its file in ``paths`` rather than the
    path itself."""
    import numpy as np

    ordinal = F.array_position(F.array(*[F.lit(p) for p in paths]), path)
    held = matched.select(
        ordinal.cast("int").alias("f"), pos.cast("long").alias("p")
    ).toArrow()
    files = held.column("f").to_numpy()
    positions = held.column("p").to_numpy()
    if (files == 0).any():
        raise RuntimeError("a matched row lies in a file the delete did not plan")
    order = np.lexsort((positions, files))
    cuts = np.searchsorted(files[order], np.arange(1, len(paths) + 2))
    positions = positions[order]
    return [positions[a:b] for a, b in zip(cuts[:-1], cuts[1:])]
