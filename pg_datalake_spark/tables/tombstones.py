"""Where row-level tombstones are built, and how a read applies them.

Both table formats delete rows by ``(data file, row position)``: the
LakeTable writes them to position-delete files, a Delta table to each
file's deletion vector. One bound, :data:`DRIVER_ROWS`, places the work
on both sides:

- A delete whose candidate files hold at most ``DRIVER_ROWS`` rows in
  all (a count the table's metadata gives before any job runs) collects
  its matched positions to the driver in one Spark job, at 12 bytes a
  row (a file ordinal and a position), and the driver writes the
  tombstones. Past the bound, or when the metadata has no count, the
  executors build them and no position reaches the driver.
- A read whose tombstones number at most ``DRIVER_ROWS`` (the deletion
  vectors' cardinalities, the position-delete files' row counts) holds
  them on the driver: deletion vectors are decoded there, delete files
  read with pyarrow. Spark gets them as one Arrow table
  (:func:`frame`), broadcast. Past the bound the executors decode or
  read them.

On every route a tombstone names its data file the way Spark reports
``_metadata.file_path`` (:func:`spark_uri`), so a scan anti-joins on
the raw column (:func:`anti_join`) and decodes no path on any row.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from pg_datalake_spark.session import local_frame, sql_literal

# ~48 MB of held (ordinal, position) pairs, ~100 MB once a read spells
# each file's path out for its broadcast; tests pin it to 0 to force
# the executor route
DRIVER_ROWS = 4_000_000

# what a read anti-joins: one row per deleted (file URI, row position)
SCHEMA = "__del_path string, __del_pos long"


@functools.lru_cache(maxsize=1 << 16)
def spark_uri(path: str) -> str:
    """The local file ``path`` (absolute, or ``file:``-prefixed) as
    Spark reports it in ``_metadata.file_path``: ``file:`` and the
    Hadoop path's URI, %-escaped, with ``.`` and ``..`` resolved. Each
    new path costs JVM round trips, so the spellings are kept."""
    from pyspark import SparkContext

    if path.startswith("file:"):
        path = "/" + path[len("file:"):].lstrip("/")
    return "file:" + SparkContext._jvm.org.apache.hadoop.fs.Path(path).toUri().toString()


def arrow_table(uris: list[str], positions: list):
    """``(file_path, pos)`` rows: ``positions[i]`` in the file ``uris[i]``."""
    import numpy as np
    import pyarrow as pa

    owner = np.repeat(np.arange(len(uris)), [len(p) for p in positions])
    return pa.table(
        {
            "file_path": pa.array(uris, pa.string()).take(owner),
            "pos": pa.array(np.concatenate([np.empty(0, np.int64), *positions]), pa.int64()),
        }
    )


def frame(spark: SparkSession, uris: list[str], positions: list) -> DataFrame:
    """The tombstones ``positions[i]`` of the files ``uris[i]`` as a
    :data:`SCHEMA` frame, handed to Spark as one Arrow table."""
    table = arrow_table(uris, positions).rename_columns(["__del_path", "__del_pos"])
    return local_frame(spark, table, SCHEMA)


def anti_join(df: DataFrame, deletes: DataFrame) -> DataFrame:
    """The rows of ``df`` that ``deletes`` (a :data:`SCHEMA` frame) does
    not name. ``df`` carries each row's raw ``_metadata.file_path`` as
    ``__file`` and its ``_metadata.row_index`` as ``__pos``."""
    from pyspark.sql import functions as F

    on = F.expr("__file = __del_path AND __pos = __del_pos")
    return df.join(deletes, on, "left_anti")


def by_file(files, positions, n: int) -> list:
    """The ascending positions of each of ``n`` files, where
    ``files[i]`` is the index of the file that holds ``positions[i]``."""
    import numpy as np

    order = np.lexsort((positions, files))
    cuts = np.searchsorted(files[order], np.arange(n + 1))
    positions = positions[order]
    return [positions[a:b] for a, b in zip(cuts[:-1], cuts[1:])]


def _held_positions(matched: DataFrame, uris: list[str]) -> list:
    """The ascending row positions of ``matched`` in each of the files
    ``uris``, from one collect. ``matched`` carries ``__file`` and
    ``__pos`` as :func:`anti_join` reads them, and ``__file`` must be
    one of ``uris`` on every row. Each row comes back as the index of
    its file in ``uris`` rather than the path itself."""
    listed = ", ".join(sql_literal(u) for u in uris)
    held = matched.selectExpr(
        f"CAST(array_position(array({listed}), __file) AS INT) AS f",
        "CAST(__pos AS BIGINT) AS p",
    ).toArrow()
    files = held.column("f").to_numpy()
    if (files == 0).any():
        raise RuntimeError("a matched row lies in a file the delete did not plan")
    return by_file(files - 1, held.column("p").to_numpy(), len(uris))


def subtract(positions, dead):
    """``positions`` less those in ``dead`` (None: no tombstones)."""
    import numpy as np

    return positions if dead is None else positions[~np.isin(positions, dead)]
