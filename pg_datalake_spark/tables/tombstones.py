"""Where row-level tombstones are built, and how a read applies them.

All three table formats delete rows by ``(data file, row position)``:
the LakeTable and an external Iceberg table write them to
position-delete files, a Delta table to each file's deletion vector.
One bound, :data:`DRIVER_ROWS`, places the work for all three:

- A delete whose candidate files hold at most ``DRIVER_ROWS`` rows in
  all (a count the table's metadata gives before any job runs) collects
  its matched positions to the driver in one Spark job, at 12 bytes a
  row (a file ordinal and a position), and the driver writes the
  tombstones. Past the bound, or when the metadata has no count, the
  executors build them and no position reaches the driver.
- A read whose tombstones number at most ``DRIVER_ROWS`` (the deletion
  vectors' cardinalities, the position-delete files' row counts) holds
  them on the driver: deletion vectors are decoded there, delete files
  read with pyarrow (:func:`hold`). Spark gets them as one Arrow table
  (:func:`frame`), broadcast. Past the bound the executors decode or
  read them.

A data file has one identity at join time in every format: the way
Spark reports ``_metadata.file_path`` (:func:`spark_uri`). A scan
anti-joins on that raw column (:func:`anti_join`) and decodes no path
on any row. A position-delete file names each data file by a *key*,
its ``file_path`` value: the Spark URI in a LakeTable, the manifest's
``file_path`` in Iceberg. :func:`drop_positions` maps each key to its
URI once per file, never once per row.
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


def hold(keys: list[str], deletes: list[str], rows: int) -> dict | None:
    """``{key: ascending positions}`` for each data file in ``keys``
    that the position-delete files ``deletes`` (``rows`` rows in all)
    name, read here with pyarrow; None when ``rows`` passes
    :data:`DRIVER_ROWS`. Rows naming any other file are ignored."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if rows > DRIVER_ROWS:
        return None
    if not deletes:
        return {}
    value_set = pa.array(keys, pa.string())
    owners, positions = [], []
    for path in deletes:
        t = pq.read_table(path, columns=["file_path", "pos"])
        owner = pc.fill_null(pc.index_in(t["file_path"], value_set=value_set), -1)
        owners.append(owner.to_numpy())
        positions.append(t["pos"].to_numpy())
    owner, pos = np.concatenate(owners), np.concatenate(positions)
    keep = owner >= 0
    split = by_file(owner[keep], pos[keep], len(keys))
    return {k: p for k, p in zip(keys, split) if len(p)}


def drop_positions(
    df: DataFrame, keys: list[str], uris: list[str], deletes: list[str], held: dict | None
) -> DataFrame:
    """:func:`anti_join` of ``df`` and the rows that the position-delete
    files ``deletes`` name in the data files ``keys[i]`` (Spark URI
    ``uris[i]``): ``held`` (from :func:`hold`) as one Arrow table, or
    when None the delete files read by Spark, each key mapped to its
    URI by a broadcast join of one row per file (none when every key is
    its URI)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if held is None:
        rows = spark.read.schema("file_path string, pos long").parquet(*deletes)
        if keys != uris:
            names = local_frame(spark, list(zip(keys, uris)), "file_path string, uri string")
            rows = rows.join(F.broadcast(names), "file_path").selectExpr("uri AS file_path", "pos")
        tombs = rows.selectExpr("file_path AS __del_path", "pos AS __del_pos")
    elif held:
        live = [(u, held[k]) for k, u in zip(keys, uris) if k in held]
        tombs = frame(spark, [u for u, _ in live], [p for _, p in live])
    else:
        return df
    return anti_join(df, F.broadcast(tombs))


def subtract(positions, dead):
    """``positions`` less those in ``dead`` (None: no tombstones)."""
    import numpy as np

    return positions if dead is None else positions[~np.isin(positions, dead)]
