"""Pure-Python geospatial file formats (public specs, offline).

The reference imports geospatial files through GDAL
(pg_lake_engine/src/pgduck/gdal.c; docs/file-formats-reference.md:
96-138 lists shapefile/GeoPackage/KML/XLSX). GDAL is not in this
runtime — so, exactly like the Delta (tables/delta_log.py) and
Iceberg (tables/avro_codec.py) layers, the two most common FORMATS
are implemented directly from their public specifications:

- **ESRI Shapefile** (.shp geometry + .dbf attributes; ESRI
  "Shapefile Technical Description", 1998): big-endian record
  headers, little-endian geometry, dBase III attribute records.
  Shape types Point (1), PolyLine (3) and Polygon (5) are parsed;
  the file-level shape type picks the output schema (x/y doubles
  for points, ``points array<struct<x,y>>`` + part offsets
  otherwise). A minimal writer exists for offline fixtures.
- **OGC GeoPackage** (sqlite3 database + GPKG geometry BLOB header
  + WKB; OGC 12-128r19): feature tables discovered through
  ``gpkg_contents`` / ``gpkg_geometry_columns``, geometry parsed
  from the GP-header + WKB point encoding. Python's stdlib
  ``sqlite3`` is the driver — no native GDAL needed.
- **OGC KML 2.2** (ElementTree, executor-side) and — r10 —
  **GeoJSON** (RFC 7946), which needs no custom parser at all:
  :func:`read_geojson` is built entirely from ``spark.read.json`` +
  ``from_json``, JVM-side.

Scale shape: parsing runs EXECUTOR-side via ``mapInPandas`` —
shapefiles parallelize across FILES (one file per task), a GeoPackage
parallelizes across ROWID RANGES within the single sqlite file (the
classic JDBC-partitioning shape), so neither format funnels data
through the driver; the driver reads only headers/metadata (KB).
"""

from __future__ import annotations

import glob as _glob
import os
import sqlite3
import struct

from pyspark.sql import DataFrame, SparkSession

from pg_datalake_spark.session import local_frame

_SHP_POINT = 1
_SHP_POLYLINE = 3
_SHP_POLYGON = 5


def _sqlite_ident(name: str) -> str:
    """Safely quote a table/column name discovered INSIDE a GeoPackage
    before interpolating it into SQL. A .gpkg is an untrusted import
    format: names read from gpkg_contents / gpkg_geometry_columns /
    PRAGMA could otherwise smuggle arbitrary statements into the
    executor's sqlite connection. sqlite identifier quoting = double
    quotes, embedded quotes doubled; NUL is never legal."""
    if "\x00" in name:
        raise ValueError(f"invalid identifier in GeoPackage metadata: {name!r}")
    return '"' + name.replace('"', '""') + '"'

# ---------------------------------------------------------------------------
# Shapefile: fixture writer (points) + parser
# ---------------------------------------------------------------------------


def write_point_shapefile(
    path_base: str, rows: list[tuple], fields: list[tuple[str, str, int, int]]
) -> None:
    """Write ``<path_base>.shp/.shx/.dbf`` for POINT records.

    ``rows``: (x, y, attr1, attr2, ...) per record; ``fields``:
    (name, type, length, decimals) dBase descriptors, type 'C' or 'N'.
    Fixture-grade writer — enough spec conformance that an independent
    reader (GDAL/ogrinfo) would accept the files."""
    n = len(rows)
    xs = [r[0] for r in rows] or [0.0]
    ys = [r[1] for r in rows] or [0.0]
    bbox = (min(xs), min(ys), max(xs), max(ys))

    def shp_header(file_words: int, shape_type: int) -> bytes:
        return (
            struct.pack(">i", 9994)
            + b"\x00" * 20
            + struct.pack(">i", file_words)
            + struct.pack("<ii", 1000, shape_type)
            + struct.pack("<4d", *bbox)
            + struct.pack("<4d", 0, 0, 0, 0)
        )

    rec_words = (4 + 16) // 2  # shape type + x + y
    shp_words = (100 + n * (8 + 4 + 16)) // 2
    with open(path_base + ".shp", "wb") as fh:
        fh.write(shp_header(shp_words, _SHP_POINT))
        for i, r in enumerate(rows):
            fh.write(struct.pack(">ii", i + 1, rec_words))
            fh.write(struct.pack("<idd", _SHP_POINT, float(r[0]), float(r[1])))
    with open(path_base + ".shx", "wb") as fh:
        fh.write(shp_header((100 + n * 8) // 2, _SHP_POINT))
        off = 50
        for _ in range(n):
            fh.write(struct.pack(">ii", off, rec_words))
            off += 4 + rec_words
    _write_dbf(path_base + ".dbf", [r[2:] for r in rows], fields)


def _write_dbf(path: str, rows: list[tuple], fields: list[tuple[str, str, int, int]]) -> None:
    rec_size = 1 + sum(f[2] for f in fields)
    head_size = 32 + 32 * len(fields) + 1
    with open(path, "wb") as fh:
        fh.write(struct.pack("<BBBBIHH", 0x03, 26, 8, 15, len(rows), head_size, rec_size))
        fh.write(b"\x00" * 20)
        for name, ftype, length, dec in fields:
            fh.write(name.encode()[:11].ljust(11, b"\x00"))
            fh.write(ftype.encode())
            fh.write(b"\x00" * 4)
            fh.write(struct.pack("<BB", length, dec))
            fh.write(b"\x00" * 14)
        fh.write(b"\x0d")
        for row in rows:
            fh.write(b" ")
            for (name, ftype, length, dec), v in zip(fields, row):
                if ftype == "N":
                    txt = (f"{v:.{dec}f}" if dec else str(int(v))).rjust(length)
                else:
                    txt = str(v)[:length].ljust(length)
                fh.write(txt.encode()[:length])
        fh.write(b"\x1a")


def _read_dbf(path: str) -> tuple[list[tuple[str, str, int, int]], list[tuple]]:
    with open(path, "rb") as fh:
        buf = fh.read()
    nrec, head_size, rec_size = struct.unpack_from("<IHH", buf, 4)
    fields = []
    pos = 32
    while buf[pos] != 0x0D:
        name = buf[pos : pos + 11].split(b"\x00")[0].decode()
        ftype = chr(buf[pos + 11])
        length, dec = buf[pos + 16], buf[pos + 17]
        fields.append((name, ftype, length, dec))
        pos += 32
    rows = []
    for i in range(nrec):
        rp = head_size + i * rec_size
        if buf[rp : rp + 1] == b"*":  # deleted record
            continue
        vals, fp = [], rp + 1
        for name, ftype, length, dec in fields:
            raw = buf[fp : fp + length].decode("ascii", "replace").strip()
            fp += length
            if ftype in ("N", "F"):
                if raw == "":
                    vals.append(None)
                elif dec or ("." in raw):
                    vals.append(float(raw))
                else:
                    vals.append(int(raw))
            elif ftype == "L":
                vals.append(raw.upper() in ("T", "Y"))
            else:
                vals.append(raw)
        rows.append(tuple(vals))
    return fields, rows


def _parse_shp(path: str) -> tuple[int, list]:
    """Parse a .shp file → (shape_type, geometries). Points give
    (x, y); polylines/polygons give (parts: list[int], points:
    list[(x, y)]). NULL shapes (type 0) give None."""
    with open(path, "rb") as fh:
        buf = fh.read()
    (file_code,) = struct.unpack_from(">i", buf, 0)
    if file_code != 9994:
        raise ValueError(f"not a shapefile (bad file code {file_code}): {path}")
    (shape_type,) = struct.unpack_from("<i", buf, 32)
    geoms = []
    pos = 100
    while pos < len(buf):
        _recno, content_words = struct.unpack_from(">ii", buf, pos)
        pos += 8
        (stype,) = struct.unpack_from("<i", buf, pos)
        if stype == 0:
            geoms.append(None)
        elif stype == _SHP_POINT:
            x, y = struct.unpack_from("<dd", buf, pos + 4)
            geoms.append((x, y))
        elif stype in (_SHP_POLYLINE, _SHP_POLYGON):
            nparts, npoints = struct.unpack_from("<ii", buf, pos + 36)
            parts = list(struct.unpack_from(f"<{nparts}i", buf, pos + 44))
            pts_off = pos + 44 + 4 * nparts
            flat = struct.unpack_from(f"<{2 * npoints}d", buf, pts_off)
            geoms.append((parts, list(zip(flat[0::2], flat[1::2]))))
        else:
            raise NotImplementedError(
                f"shapefile shape type {stype} not supported (point/"
                f"polyline/polygon are): {path}"
            )
        pos += content_words * 2
    return shape_type, geoms


_DBF_SPARK_T = {"C": "string", "L": "boolean", "D": "string"}


def _dbf_spark_type(ftype: str, dec: int) -> str:
    if ftype in ("N", "F"):
        return "double" if (dec or ftype == "F") else "long"
    return _DBF_SPARK_T.get(ftype, "string")


def read_shapefile(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Read one or many point/polyline/polygon shapefiles into a
    DataFrame: geometry columns (``x``/``y`` for point files,
    ``parts array<int>`` + ``points array<struct<x,y>>`` otherwise)
    followed by the .dbf attribute columns. The driver reads only the
    FIRST file's headers for the schema; record parsing runs
    executor-side, one file per task."""
    paths = sorted(
        p for p in _glob.glob(path_or_glob) if p.endswith(".shp")
    ) or ([path_or_glob] if path_or_glob.endswith(".shp") else [])
    if not paths:
        raise FileNotFoundError(f"no .shp files match {path_or_glob}")
    shape_type, _ = _parse_shp_header_only(paths[0])
    fields, _ = _read_dbf(paths[0][:-4] + ".dbf")
    geo_cols = (
        "x double, y double"
        if shape_type == _SHP_POINT
        else "parts array<int>, points array<struct<x:double,y:double>>"
    )
    attr_cols = ", ".join(
        f"{name} {_dbf_spark_type(ftype, dec)}" for name, ftype, _l, dec in fields
    )
    schema = f"{geo_cols}, {attr_cols}" if attr_cols else geo_cols

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for path in pdf["path"]:
                stype, geoms = _parse_shp(path)
                _f, attrs = _read_dbf(path[:-4] + ".dbf")
                out = {}
                if stype == _SHP_POINT:
                    out["x"] = [g[0] if g else None for g in geoms]
                    out["y"] = [g[1] if g else None for g in geoms]
                else:
                    out["parts"] = [list(g[0]) if g else None for g in geoms]
                    out["points"] = [
                        [{"x": px, "y": py} for px, py in g[1]] if g else None
                        for g in geoms
                    ]
                for i, (name, *_rest) in enumerate(_f):
                    out[name] = [a[i] for a in attrs]
                yield pd.DataFrame(out)

    files = local_frame(spark, [(p,) for p in paths], "path string")
    return files.repartition(len(paths)).mapInPandas(parse, schema)


def _parse_shp_header_only(path: str) -> tuple[int, tuple]:
    with open(path, "rb") as fh:
        head = fh.read(100)
    (file_code,) = struct.unpack_from(">i", head, 0)
    if file_code != 9994:
        raise ValueError(f"not a shapefile (bad file code {file_code}): {path}")
    (shape_type,) = struct.unpack_from("<i", head, 32)
    return shape_type, struct.unpack_from("<4d", head, 36)


# ---------------------------------------------------------------------------
# GeoPackage (OGC 12-128r19): sqlite3 + GP blob header + WKB
# ---------------------------------------------------------------------------


def write_gpkg_points(
    path: str, table: str, rows: list[tuple], attrs: list[tuple[str, str]]
) -> None:
    """Create a minimal spec-shaped GeoPackage with one point feature
    table. ``rows``: (x, y, attr...) tuples; ``attrs``: (name,
    sqlite_type). Fixture-grade writer."""
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("PRAGMA application_id = 1196444487")  # 'GPKG'
    cur.execute("PRAGMA user_version = 10300")
    cur.execute(
        "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, srs_id INTEGER"
        " PRIMARY KEY, organization TEXT NOT NULL, organization_coordsys_id INTEGER"
        " NOT NULL, definition TEXT NOT NULL, description TEXT)"
    )
    cur.execute(
        "INSERT INTO gpkg_spatial_ref_sys VALUES"
        " ('WGS 84', 4326, 'EPSG', 4326, 'GEOGCS[...]', NULL)"
    )
    cur.execute(
        "CREATE TABLE gpkg_contents (table_name TEXT PRIMARY KEY, data_type TEXT"
        " NOT NULL, identifier TEXT, description TEXT, last_change DATETIME,"
        " min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)"
    )
    cur.execute(
        "INSERT INTO gpkg_contents VALUES (?, 'features', ?, '', NULL,"
        " NULL, NULL, NULL, NULL, 4326)",
        (table, table),
    )
    cur.execute(
        "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL,"
        " column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL,"
        " srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL)"
    )
    cur.execute(
        "INSERT INTO gpkg_geometry_columns VALUES (?, 'geom', 'POINT', 4326, 0, 0)",
        (table,),
    )
    attr_ddl = "".join(f", {_sqlite_ident(name)} {sqlt}" for name, sqlt in attrs)
    cur.execute(
        f"CREATE TABLE {_sqlite_ident(table)} (fid INTEGER PRIMARY KEY"
        f" AUTOINCREMENT, geom BLOB{attr_ddl})"
    )
    for r in rows:
        blob = _gpkg_point_blob(float(r[0]), float(r[1]))
        cur.execute(
            f"INSERT INTO {_sqlite_ident(table)} "
            f"(geom{''.join(',' + _sqlite_ident(a) for a, _ in attrs)})"
            f" VALUES (?{', ?' * len(attrs)})",
            (blob, *r[2:]),
        )
    con.commit()
    con.close()


def _gpkg_point_blob(x: float, y: float) -> bytes:
    # GP header: magic, version 0, flags 0x01 (little-endian, no
    # envelope), srs_id; then standard WKB point
    header = b"GP\x00\x01" + struct.pack("<i", 4326)
    wkb = b"\x01" + struct.pack("<I", 1) + struct.pack("<dd", x, y)
    return header + wkb


def _parse_gpkg_blob(blob: bytes) -> list[tuple[float, float]] | None:
    """GPKG geometry blob → vertex list: [pt] for POINT, the full
    vertex sequence for LINESTRING, the outer ring for POLYGON
    (2D variants; Z/M and multi-geometries fail loud)."""
    if blob is None:
        return None
    if blob[:2] != b"GP":
        raise ValueError("not a GeoPackage geometry blob (bad magic)")
    flags = blob[3]
    env_type = (flags >> 1) & 0x07
    env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}[env_type]
    pos = 8 + env_len
    bo = "<" if blob[pos] == 1 else ">"
    (wkb_type,) = struct.unpack_from(f"{bo}I", blob, pos + 1)
    base = wkb_type % 1000
    if wkb_type != base:  # 1001/2001/3001… Z/M variants carry extra dims
        raise NotImplementedError(
            f"GPKG WKB type {wkb_type} not supported (2D point/linestring/"
            "polygon are)"
        )
    pos += 5
    if base == 1:  # point
        return [struct.unpack_from(f"{bo}dd", blob, pos)]
    if base == 2:  # linestring
        (n,) = struct.unpack_from(f"{bo}I", blob, pos)
        flat = struct.unpack_from(f"{bo}{2 * n}d", blob, pos + 4)
        return list(zip(flat[0::2], flat[1::2]))
    if base == 3:  # polygon: outer ring (holes not surfaced)
        (nrings,) = struct.unpack_from(f"{bo}I", blob, pos)
        if nrings < 1:
            return []
        (n,) = struct.unpack_from(f"{bo}I", blob, pos + 4)
        flat = struct.unpack_from(f"{bo}{2 * n}d", blob, pos + 8)
        return list(zip(flat[0::2], flat[1::2]))
    raise NotImplementedError(
        f"GPKG WKB type {wkb_type} not supported (2D point/linestring/"
        "polygon are)"
    )


# ---------------------------------------------------------------------------
# KML (OGC KML 2.2): Placemark points / linestrings + ExtendedData
# ---------------------------------------------------------------------------

_KML_NS = "{http://www.opengis.net/kml/2.2}"


def write_kml_points(path: str, rows: list[tuple], attrs: list[str]) -> None:
    """Write a KML document of point Placemarks. ``rows``:
    (name, lon, lat, attr...) tuples; ``attrs`` names the ExtendedData
    fields. Fixture-grade writer."""

    def esc(s) -> str:
        return (
            str(s).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    marks = []
    for r in rows:
        data = "".join(
            f'<Data name="{esc(a)}"><value>{esc(v)}</value></Data>'
            for a, v in zip(attrs, r[3:])
        )
        marks.append(
            f"<Placemark><name>{esc(r[0])}</name>"
            f"<ExtendedData>{data}</ExtendedData>"
            f"<Point><coordinates>{r[1]!r},{r[2]!r}</coordinates></Point>"
            "</Placemark>"
        )
    with open(path, "w") as fh:
        fh.write(
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
            + "".join(marks)
            + "</Document></kml>"
        )


def read_kml(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Read KML Placemarks (Point or LineString) from one or many
    files: ``name``, ``x``/``y`` (first coordinate), ``points`` (full
    coordinate list) and every ExtendedData field seen in the FIRST
    file (as strings — KML carries no types). Parsing runs
    executor-side, one file per task."""
    import xml.etree.ElementTree as ET

    paths = sorted(_glob.glob(path_or_glob)) or [path_or_glob]

    def placemarks(path: str):
        root = ET.parse(path).getroot()
        for pm in root.iter(f"{_KML_NS}Placemark"):
            name_el = pm.find(f"{_KML_NS}name")
            coords_el = pm.find(f".//{_KML_NS}coordinates")
            pts = []
            if coords_el is not None and coords_el.text:
                for tok in coords_el.text.split():
                    parts = tok.split(",")
                    pts.append((float(parts[0]), float(parts[1])))
            data = {
                d.attrib.get("name", ""): (d.findtext(f"{_KML_NS}value") or "")
                for d in pm.iter(f"{_KML_NS}Data")
            }
            yield (name_el.text if name_el is not None else None), pts, data

    first_attrs: list[str] = []
    for _n, _p, data in placemarks(paths[0]):
        first_attrs = sorted(data)
        break
    schema = (
        "name string, x double, y double, "
        "points array<struct<x:double,y:double>>"
        + "".join(f", {a} string" for a in first_attrs)
    )

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for p in pdf["path"]:
                out = {"name": [], "x": [], "y": [], "points": []}
                for a in first_attrs:
                    out[a] = []
                for name, pts, data in placemarks(p):
                    out["name"].append(name)
                    out["x"].append(pts[0][0] if pts else None)
                    out["y"].append(pts[0][1] if pts else None)
                    out["points"].append(
                        [{"x": px, "y": py} for px, py in pts] if pts else None
                    )
                    for a in first_attrs:
                        out[a].append(data.get(a))
                yield pd.DataFrame(out)

    files = local_frame(spark, [(p,) for p in paths], "path string")
    return files.repartition(len(paths)).mapInPandas(parse, schema)


def read_gpkg(
    spark: SparkSession,
    path: str,
    table: str | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """Read a GeoPackage point feature table: geometry decoded to
    ``x``/``y`` doubles plus every attribute column. The driver
    touches only metadata (contents/schema/rowid bounds); rows are
    read executor-side, partitioned by ROWID RANGE so one sqlite file
    still parallelizes across tasks."""
    con = sqlite3.connect(path)
    cur = con.cursor()
    if table is None:
        hits = cur.execute(
            "SELECT table_name FROM gpkg_contents WHERE data_type = 'features'"
        ).fetchall()
        if len(hits) != 1:
            raise ValueError(
                f"pass table= explicitly; {path} has feature tables {hits}"
            )
        table = hits[0][0]
    (geom_col,) = cur.execute(
        "SELECT column_name FROM gpkg_geometry_columns WHERE table_name = ?",
        (table,),
    ).fetchone()
    cols = cur.execute(f"PRAGMA table_info({_sqlite_ident(table)})").fetchall()
    attr_cols = [
        (c[1], c[2].upper()) for c in cols if c[1] not in (geom_col,)
    ]
    lo, hi = cur.execute(
        f"SELECT min(rowid), max(rowid) FROM {_sqlite_ident(table)}"
    ).fetchone()
    con.close()
    if lo is None:
        lo, hi = 0, -1

    def spark_t(sqlt: str) -> str:
        if "INT" in sqlt:
            return "long"
        if sqlt in ("REAL", "DOUBLE", "FLOAT"):
            return "double"
        return "string"

    schema = (
        "x double, y double, points array<struct<x:double,y:double>>, "
        + ", ".join(f"{n} {spark_t(t)}" for n, t in attr_cols)
    )
    n_parts = max(1, min(num_partitions, (hi - lo + 1) or 1))
    span = (hi - lo + 1 + n_parts - 1) // max(n_parts, 1) if hi >= lo else 1
    ranges = [
        (path, table, geom_col, lo + i * span, min(hi, lo + (i + 1) * span - 1))
        for i in range(n_parts)
        if lo + i * span <= hi
    ] or [(path, table, geom_col, 0, -1)]
    names = [n for n, _ in attr_cols]

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for p, tbl, gcol, rlo, rhi in pdf.itertuples(index=False):
                c = sqlite3.connect(p)
                sel = ", ".join(_sqlite_ident(n) for n in [gcol] + names)
                rows = c.execute(
                    f"SELECT {sel} FROM {_sqlite_ident(tbl)} "
                    "WHERE rowid BETWEEN ? AND ?",
                    (int(rlo), int(rhi)),
                ).fetchall()
                c.close()
                out = {"x": [], "y": [], "points": []}
                for n in names:
                    out[n] = []
                for r in rows:
                    pts = _parse_gpkg_blob(r[0])
                    out["x"].append(pts[0][0] if pts else None)
                    out["y"].append(pts[0][1] if pts else None)
                    out["points"].append(
                        [{"x": px, "y": py} for px, py in pts] if pts else None
                    )
                    for i, n in enumerate(names):
                        out[n].append(r[1 + i])
                yield pd.DataFrame(out)

    parts = local_frame(
        spark,
        ranges, "path string, table string, geom string, rlo long, rhi long"
    )
    return parts.repartition(len(ranges)).mapInPandas(parse, schema)


# ---------------------------------------------------------------------------
# GeoJSON (RFC 7946): fixture writer + fully Spark-native reader
# ---------------------------------------------------------------------------


def write_geojson(path: str, rows: list[tuple], attrs: list[str]) -> None:
    """Write a GeoJSON FeatureCollection of point features. ``rows``:
    (lon, lat, attr...) tuples; ``attrs`` names the properties.
    Fixture-grade writer (valid RFC 7946)."""
    import json as _json

    feats = [
        {
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": [r[0], r[1]]},
            "properties": dict(zip(attrs, r[2:])),
        }
        for r in rows
    ]
    with open(path, "w") as fh:
        _json.dump({"type": "FeatureCollection", "features": feats}, fh)


def read_geojson(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Read GeoJSON FeatureCollections (RFC 7946) — the one GDAL import
    format that needs NO custom parser: the file IS JSON, so the whole
    read is Spark-native (docs/file-formats-reference.md:96-138,
    pg_lake_engine/src/pgduck/gdal.c GeoJSON driver).

    Plan shape: ``spark.read.json(multiLine)`` infers the properties
    schema (typed — unlike KML/shapefile attributes, GeoJSON carries
    JSON types), the schema is then REWRITTEN to read
    ``geometry.coordinates`` as a raw JSON string (mixed Point /
    LineString / Polygon collections otherwise collapse the inferred
    element type), and per-row ``from_json`` decodes it by
    ``geometry.type`` — Point → (x, y), LineString → vertex list,
    Polygon → outer ring. Everything stays JVM-side (from_json /
    explode); zero Python UDFs. Output matches the other geo readers:
    ``x``/``y`` doubles, ``points array<struct<x,y>>``, properties.*.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    inferred = spark.read.option("multiLine", "true").json(path_or_glob).schema

    def _coords_as_string(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            fields = []
            for f in dt.fields:
                if f.name == "coordinates":
                    fields.append(T.StructField("coordinates", T.StringType()))
                else:
                    fields.append(
                        T.StructField(f.name, _coords_as_string(f.dataType), f.nullable)
                    )
            return T.StructType(fields)
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(_coords_as_string(dt.elementType), dt.containsNull)
        return dt

    schema = _coords_as_string(inferred)
    raw = spark.read.option("multiLine", "true").schema(schema).json(path_or_glob)
    if "features" not in raw.columns:
        raise ValueError(
            f"{path_or_glob}: not a GeoJSON FeatureCollection (no 'features')"
        )
    f = raw.select(F.explode("features").alias("f")).select(
        F.col("f.geometry.type").alias("__gtype"),
        F.col("f.geometry.coordinates").alias("__coords"),
        F.col("f.properties").alias("__props"),
    )
    return _decode_geojson_features(f)


def _decode_geojson_features(f: DataFrame) -> DataFrame:
    """Shared GeoJSON geometry decode: input has ``__gtype`` (string),
    ``__coords`` (raw JSON string) and ``__props`` (struct or string);
    output is the geo-reader convention (x, y, points, properties.*).
    All from_json / transform — JVM-side, zero Python UDFs."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    pt = F.from_json("__coords", "array<double>")
    line = F.from_json("__coords", "array<array<double>>")
    poly = F.from_json("__coords", "array<array<array<double>>>")

    def _pts(arr):  # array<array<double>> -> array<struct<x,y>>
        return F.transform(
            arr,
            lambda c: F.struct(
                F.element_at(c, 1).alias("x"), F.element_at(c, 2).alias("y")
            ),
        )

    points = (
        F.when(F.col("__gtype") == "Point",
               F.array(F.struct(F.element_at(pt, 1).alias("x"),
                                F.element_at(pt, 2).alias("y"))))
        .when(F.col("__gtype").isin("LineString", "MultiPoint"), _pts(line))
        .when(F.col("__gtype") == "Polygon", _pts(F.element_at(poly, 1)))
        # MultiLineString / MultiPolygon / GeometryCollection: null
        # points (documented; split multi-parts upstream or use Sedona)
        .otherwise(F.lit(None))
    )
    prop_cols = (
        [F.col(f"__props.{c}").alias(c)
         for c in f.select("__props.*").columns]
        if not isinstance(f.schema["__props"].dataType, T.StringType)
        else []
    )
    return f.select(
        F.element_at(points, 1)["x"].alias("x"),
        F.element_at(points, 1)["y"].alias("y"),
        points.alias("points"),
        *prop_cols,
    )


def write_geojson_seq(path: str, rows: list[tuple], attrs: list[str]) -> None:
    """Write GeoJSONSeq (.geojsonl / .geojsons): one Feature object per
    line (RFC 8142 without the RS separator — the GDAL GeoJSONSeq
    driver's plain-ndjson form). Same row convention as write_geojson."""
    import json as _json

    with open(path, "w") as fh:
        for r in rows:
            fh.write(
                _json.dumps(
                    {
                        "type": "Feature",
                        "geometry": {"type": "Point", "coordinates": [r[0], r[1]]},
                        "properties": dict(zip(attrs, r[2:])),
                    }
                )
                + "\n"
            )


def read_geojson_seq(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Read GeoJSONSeq — newline-delimited Feature objects (.geojsonl /
    .geojsons; reference docs/file-formats-reference.md names GeoJSONSeq
    as a non-inferred GDAL format). Line-delimited JSON is Spark's
    NATIVE json source (no multiLine), so unlike the FeatureCollection
    form this scales to splittable multi-GB files: one file no longer
    means one task. Geometry decode is shared with read_geojson."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    inferred = spark.read.json(path_or_glob).schema

    def _coords_as_string(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField("coordinates", T.StringType())
                    if f.name == "coordinates"
                    else T.StructField(
                        f.name, _coords_as_string(f.dataType), f.nullable
                    )
                    for f in dt.fields
                ]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(_coords_as_string(dt.elementType), dt.containsNull)
        return dt

    raw = spark.read.schema(_coords_as_string(inferred)).json(path_or_glob)
    if "geometry" not in raw.columns:
        raise ValueError(f"{path_or_glob}: not GeoJSONSeq (no 'geometry' member)")
    f = raw.select(
        F.col("geometry.type").alias("__gtype"),
        F.col("geometry.coordinates").alias("__coords"),
        F.col("properties").alias("__props"),
    )
    return _decode_geojson_features(f)


# ---------------------------------------------------------------------------
# OGC GML (2 / 3.x): fixture writer + executor-side reader
# ---------------------------------------------------------------------------

_GML_NSES = (
    "{http://www.opengis.net/gml/3.2}",  # GML 3.2
    "{http://www.opengis.net/gml}",      # GML 2 / 3.1
)


def write_gml_points(path: str, rows: list[tuple], attrs: list[str]) -> None:
    """Write a GML 3.2 FeatureCollection of point features. ``rows``:
    (x, y, attr...) tuples. Fixture-grade writer."""

    def esc(s) -> str:
        return (
            str(s).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    feats = []
    for i, r in enumerate(rows):
        props = "".join(
            f"<app:{a}>{esc(v)}</app:{a}>" for a, v in zip(attrs, r[2:])
        )
        feats.append(
            "<gml:featureMember>"
            f'<app:feature gml:id="f{i}">'
            + props
            + f"<app:geom><gml:Point><gml:pos>{r[0]} {r[1]}</gml:pos>"
            "</gml:Point></app:geom></app:feature></gml:featureMember>"
        )
    with open(path, "w") as fh:
        fh.write(
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml/3.2"'
            ' xmlns:app="http://example.com/app">'
            + "".join(feats)
            + "</gml:FeatureCollection>"
        )


def _gml_feature_points(feat) -> list[tuple[float, float]]:
    """Vertex list from a GML feature element: gml:posList (GML 3 flat
    x y x y …), gml:pos (single point), or gml:coordinates (GML 2
    ``x,y x,y`` tuples) — first form found wins. Coordinates are taken
    in DOCUMENT order (axis order in GML is srsName-dependent; the
    reader is deterministic and leaves CRS interpretation to the
    caller, like ogr2ogr's raw mode)."""
    for ns in _GML_NSES:
        pl = feat.find(f".//{ns}posList")
        if pl is not None and pl.text:
            toks = pl.text.split()
            return [
                (float(toks[i]), float(toks[i + 1]))
                for i in range(0, len(toks) - 1, 2)
            ]
        pos = feat.find(f".//{ns}pos")
        if pos is not None and pos.text:
            toks = pos.text.split()
            return [(float(toks[0]), float(toks[1]))]
        coords = feat.find(f".//{ns}coordinates")
        if coords is not None and coords.text:
            return [
                (float(t.split(",")[0]), float(t.split(",")[1]))
                for t in coords.text.split()
            ]
    return []


def read_gml(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Read OGC GML feature collections (2 / 3.1 / 3.2 namespaces)
    from one or many files: ``x``/``y`` (first coordinate), ``points``
    (full vertex list) and every simple-text property of the FIRST
    file's first feature (as strings — like the KML reader; GML
    schemas carry types in the XSD, which this reader does not fetch).
    Parsing runs executor-side, one file per task — the same scale
    shape as read_kml. Reference: pg_lake_engine/src/pgduck/gdal.c
    (GML driver), docs/file-formats-reference.md:96-138."""
    import xml.etree.ElementTree as ET

    paths = sorted(_glob.glob(path_or_glob)) or [path_or_glob]

    def features(path: str):
        root = ET.parse(path).getroot()
        members = []
        for ns in _GML_NSES:
            members.extend(root.iter(f"{ns}featureMember"))
        for m in members:
            feat = next(iter(m), None)
            if feat is None:
                continue
            pts = _gml_feature_points(feat)
            data = {}
            for child in feat:
                tag = child.tag.split("}")[-1]
                has_geom = any(
                    child.find(f".//{ns}{g}") is not None or child.tag == f"{ns}{g}"
                    for ns in _GML_NSES
                    for g in ("Point", "LineString", "Polygon", "pos", "posList")
                )
                if has_geom:
                    continue
                if child.text and child.text.strip():
                    data[tag] = child.text.strip()
            yield pts, data

    first_attrs: list[str] = []
    for _pts, data in features(paths[0]):
        first_attrs = sorted(data)
        break
    schema = (
        "x double, y double, points array<struct<x:double,y:double>>"
        + "".join(f", {a} string" for a in first_attrs)
    )

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for p in pdf["path"]:
                out = {"x": [], "y": [], "points": []}
                for a in first_attrs:
                    out[a] = []
                for pts, data in features(p):
                    out["x"].append(pts[0][0] if pts else None)
                    out["y"].append(pts[0][1] if pts else None)
                    out["points"].append(
                        [{"x": px, "y": py} for px, py in pts] if pts else None
                    )
                    for a in first_attrs:
                        out[a].append(data.get(a))
                yield pd.DataFrame(out)

    files = local_frame(spark, [(p,) for p in paths], "path string")
    return files.repartition(len(paths)).mapInPandas(parse, schema)


# ---------------------------------------------------------------------------
# MapInfo MIF/MID (r12) — the plain-text half of the MapInfo pair
# (reference routes it through GDAL's MITAB driver,
# pg_lake_engine/src/pgduck/gdal.c; docs/file-formats-reference.md:96-138;
# format spec is public MITAB documentation). Binary .tab stays scoped
# out.
# ---------------------------------------------------------------------------


def _mif_sql_type(t: str) -> str:
    """MIF column type -> Spark SQL type (public MITAB spec)."""
    tl = t.lower()
    if tl.startswith("char") or tl.startswith("date"):
        return "string"
    if tl.startswith("decimal") or tl == "float":
        return "double"
    if tl in ("integer", "smallint"):
        return "int"  # MITAB integer is 32-bit, smallint 16-bit
    if tl == "logical":
        return "boolean"
    raise NotImplementedError(f"MIF column type {t!r} not supported")


def _parse_mif_header(path: str) -> tuple[str, list[tuple[str, str]], int]:
    """(delimiter, [(name, sql_type)], index of the line after DATA)."""
    with open(path, encoding="utf-8", errors="replace") as fh:
        lines = fh.read().splitlines()
    delim = "\t"  # MITAB default when no DELIMITER clause
    cols: list[tuple[str, str]] = []
    i = 0
    while i < len(lines):
        toks = lines[i].split()
        if not toks:
            i += 1
            continue
        kw = toks[0].upper()
        if kw == "DELIMITER":
            delim = lines[i].split(None, 1)[1].strip().strip('"')
        elif kw == "COLUMNS":
            n = int(toks[1])
            for j in range(1, n + 1):
                name, typ = lines[i + j].split(None, 1)
                cols.append((name, _mif_sql_type(typ.strip())))
            i += n
        elif kw == "DATA":
            return delim, cols, i + 1
        i += 1
    raise ValueError(f"{path}: no DATA section (not a MIF file)")


def _parse_mif_geometries(lines: list[str], start: int):
    """Yield one geometry (list of (x, y) or None) per feature record.
    Supported: NONE, POINT, LINE, PLINE [MULTIPLE], REGION (outer ring
    kept, matching the other readers' single-ring convention); styling
    clauses (SYMBOL/PEN/BRUSH/SMOOTH/CENTER) are skipped. RECT / ARC /
    TEXT / ELLIPSE fail loud by name."""
    _STYLE = {"SYMBOL", "PEN", "BRUSH", "SMOOTH", "CENTER"}
    i = start
    n = len(lines)

    def _coords(k: int, at: int):
        pts = []
        for j in range(k):
            xs, ys = lines[at + j].split()[:2]
            pts.append((float(xs), float(ys)))
        return pts, at + k

    while i < n:
        toks = lines[i].split()
        if not toks:
            i += 1
            continue
        kw = toks[0].upper()
        if kw in _STYLE:
            i += 1
            continue
        if kw == "NONE":
            i += 1
            yield None
        elif kw == "POINT":
            yield [(float(toks[1]), float(toks[2]))]
            i += 1
        elif kw == "LINE":
            yield [
                (float(toks[1]), float(toks[2])),
                (float(toks[3]), float(toks[4])),
            ]
            i += 1
        elif kw == "PLINE":
            up = [t.upper() for t in toks]
            if "MULTIPLE" in up:
                nsec = int(toks[up.index("MULTIPLE") + 1])
                i += 1
                pts = []
                for _s in range(nsec):  # sections concatenate
                    k = int(lines[i].split()[0])
                    sec, i = _coords(k, i + 1)
                    pts.extend(sec)
                yield pts
            else:
                if len(toks) > 1:  # count on the PLINE line itself
                    k, i = int(toks[1]), i + 1
                else:
                    k, i = int(lines[i + 1].split()[0]), i + 2
                pts, i = _coords(k, i)
                yield pts
        elif kw == "REGION":
            nrings = int(toks[1])
            i += 1
            outer = None
            for _r in range(nrings):
                k = int(lines[i].split()[0])
                ring, i = _coords(k, i + 1)
                if outer is None:
                    outer = ring  # first ring = outer (MITAB convention)
            yield outer
        else:
            raise NotImplementedError(
                f"MIF geometry record {kw!r} not supported "
                "(POINT/LINE/PLINE/REGION/NONE; RECT/ARC/TEXT/ELLIPSE are "
                "out of the minimal slice — use GDAL/Sedona)"
            )


def read_mapinfo(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Read MapInfo MIF/MID pairs: ``x``/``y`` (first vertex),
    ``points`` (full vertex list) and the MID attribute columns TYPED
    per the MIF COLUMNS declaration. The driver parses only the FIRST
    file's header for the schema; each MIF/MID pair parses
    executor-side, one file pair per task (the KML/shapefile model).
    Attribute row i pairs with geometry record i (the format's
    contract)."""
    import csv as _csv

    paths = sorted(_glob.glob(path_or_glob)) or [path_or_glob]
    delim, cols, _ = _parse_mif_header(paths[0])
    schema = (
        "x double, y double, points array<struct<x:double,y:double>>"
        + "".join(f", {n} {t}" for n, t in cols)
    )

    def _pair_rows(path: str):
        d, cs, data_at = _parse_mif_header(path)
        if cs != cols:
            raise ValueError(
                f"{path}: MID columns {cs} differ from the "
                f"first file's {cols} (names AND declared types must "
                "match across a glob)"
            )
        with open(path, encoding="utf-8", errors="replace") as fh:
            lines = fh.read().splitlines()
        geoms = list(_parse_mif_geometries(lines, data_at))
        mid = os.path.splitext(path)[0] + ".mid"
        if cs and not os.path.exists(mid):
            mid = os.path.splitext(path)[0] + ".MID"
            if not os.path.exists(mid):
                raise FileNotFoundError(
                    f"{path}: COLUMNS declared but no .mid sidecar found"
                )
        attrs: list[list] = []
        if cs and os.path.exists(mid):
            with open(mid, encoding="utf-8", errors="replace") as fh:
                attrs = list(_csv.reader(fh, delimiter=d, quotechar='"'))
        if attrs and len(attrs) != len(geoms):
            raise ValueError(
                f"{path}: {len(geoms)} geometries but {len(attrs)} MID rows"
            )
        for k, pts in enumerate(geoms):
            row = attrs[k] if attrs else []
            yield pts, row

    def _typed(val: str, t: str):
        if val is None or val == "":
            return None
        if t == "bigint" or t == "int":
            return int(val)
        if t == "double":
            return float(val)
        if t == "boolean":
            return val.strip().upper() in ("T", "TRUE", "1")
        return val

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for p in pdf["path"]:
                out = {"x": [], "y": [], "points": []}
                for name, _t in cols:
                    out[name] = []
                for pts, row in _pair_rows(p):
                    out["x"].append(pts[0][0] if pts else None)
                    out["y"].append(pts[0][1] if pts else None)
                    out["points"].append(
                        [{"x": px, "y": py} for px, py in pts] if pts else None
                    )
                    for j, (name, t) in enumerate(cols):
                        out[name].append(
                            _typed(row[j], t) if j < len(row) else None
                        )
                yield pd.DataFrame(out)

    files = local_frame(spark, [(p,) for p in paths], "path string")
    return files.repartition(len(paths)).mapInPandas(parse, schema)


# ---------------------------------------------------------------------------
# AutoCAD DXF (r12) — the ASCII half of the CAD pair (reference routes
# CAD through GDAL's DXF driver, pg_lake_engine/src/pgduck/gdal.c;
# docs/file-formats-reference.md:96-138; the DXF group-code format is
# publicly documented). Binary DWG stays scoped out.
# ---------------------------------------------------------------------------


def _dxf_pairs(lines: list[str]):
    """DXF is a flat sequence of (group-code, value) line pairs."""
    for i in range(0, len(lines) - 1, 2):
        yield int(lines[i].strip()), lines[i + 1].strip()


def _parse_dxf_entities(path: str):
    """Yield (entity_type, layer, points) from the ENTITIES section.
    Supported: POINT, LINE, LWPOLYLINE (closed flag honored), legacy
    POLYLINE/VERTEX/SEQEND, CIRCLE (emitted as its 16-chord sampling).
    Other entity types fail loud by name (the minimal-slice
    convention; TEXT/HATCH/3D solids need GDAL/Sedona)."""
    import math as _math

    with open(path, encoding="utf-8", errors="replace") as fh:
        lines = fh.read().splitlines()
    pairs = list(_dxf_pairs(lines))
    # locate the ENTITIES section
    i = 0
    n = len(pairs)
    while i < n and not (pairs[i] == (0, "SECTION")
                         and i + 1 < n and pairs[i + 1] == (2, "ENTITIES")):
        i += 1
    if i >= n:
        raise ValueError(f"{path}: no ENTITIES section (not a DXF?)")
    i += 2
    cur: dict | None = None

    def finish(c):
        if c is None:
            return None
        if c["type"] == "CIRCLE":
            cx, cy, r = c["x"][0], c["y"][0], c["r"]
            pts = [
                (cx + r * _math.cos(2 * _math.pi * k / 16),
                 cy + r * _math.sin(2 * _math.pi * k / 16))
                for k in range(16)
            ]
            return ("CIRCLE", c["layer"], pts)
        pts = list(zip(c["x"], c["y"]))
        if c.get("closed") and pts:
            pts.append(pts[0])
        return (c["type"], c["layer"], pts)

    while i < n:
        code, val = pairs[i]
        i += 1
        if code == 0:
            if val == "ENDSEC":
                out = finish(cur)
                if out:
                    yield out
                return
            if val == "SEQEND":
                out = finish(cur)
                if out:
                    yield out
                cur = None
                continue
            if val == "VERTEX":
                if cur is None or cur["type"] != "POLYLINE":
                    raise ValueError(f"{path}: VERTEX outside POLYLINE")
                cur["in_vertex"] = True
                continue
            # new top-level entity: flush the previous one
            out = finish(cur) if (cur and cur["type"] != "POLYLINE") else None
            if cur and cur["type"] == "POLYLINE" and not cur.get("in_vertex"):
                out = finish(cur)
                cur = None
            if out:
                yield out
            if val in ("POINT", "LINE", "LWPOLYLINE", "POLYLINE", "CIRCLE"):
                cur = {"type": val, "layer": "", "x": [], "y": [], "r": 0.0}
            else:
                raise NotImplementedError(
                    f"DXF entity {val!r} not supported (POINT/LINE/"
                    f"LWPOLYLINE/POLYLINE/CIRCLE; use GDAL/Sedona for the "
                    f"full entity set)"
                )
            continue
        if cur is None:
            continue
        if code == 8 and not cur.get("in_vertex"):
            cur["layer"] = val
        elif code == 10:
            cur["x"].append(float(val))
        elif code == 20:
            cur["y"].append(float(val))
        elif code == 11:
            cur["x"].append(float(val))
        elif code == 21:
            cur["y"].append(float(val))
        elif code == 40 and cur["type"] == "CIRCLE":
            cur["r"] = float(val)
        elif code == 70 and cur["type"] in ("LWPOLYLINE", "POLYLINE"):
            cur["closed"] = bool(int(val) & 1)
    raise ValueError(f"{path}: ENTITIES section not terminated")


def read_dxf(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Read DXF entities: ``entity`` (type), ``layer``, ``x``/``y``
    (first vertex) and ``points`` — the geo-reader convention. One
    file per executor task (the KML model); the driver touches no
    entity bytes."""
    paths = sorted(_glob.glob(path_or_glob)) or [path_or_glob]
    schema = ("entity string, layer string, x double, y double, "
              "points array<struct<x:double,y:double>>")

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for p in pdf["path"]:
                out = {"entity": [], "layer": [], "x": [], "y": [],
                       "points": []}
                for etype, layer, pts in _parse_dxf_entities(p):
                    out["entity"].append(etype)
                    out["layer"].append(layer)
                    out["x"].append(pts[0][0] if pts else None)
                    out["y"].append(pts[0][1] if pts else None)
                    out["points"].append(
                        [{"x": px, "y": py} for px, py in pts] or None
                    )
                yield pd.DataFrame(out)

    files = local_frame(spark, [(p,) for p in paths], "path string")
    return files.repartition(len(paths)).mapInPandas(parse, schema)


# ---------------------------------------------------------------------------
# ASAM OpenDRIVE (.xodr, r12) — XML road networks (reference routes it
# through GDAL's XODR driver; the OpenDRIVE schema is public). The
# minimal slice emits each road's plan-view REFERENCE LINE: <line> and
# <arc> geometry primitives composed in order (closed-form endpoints;
# arcs additionally sampled every ~5 heading-degrees so curvature is
# visible downstream). <spiral>/<poly3>/<paramPoly3> fail loud by name.
# ---------------------------------------------------------------------------


def _xodr_geometry_points(g) -> list[tuple[float, float]]:
    import math as _math

    x0 = float(g.attrib["x"])
    y0 = float(g.attrib["y"])
    hdg = float(g.attrib["hdg"])
    ln = float(g.attrib["length"])
    kids = [k for k in g if isinstance(k.tag, str)]
    if not kids:
        raise ValueError("xodr: geometry without a primitive child")
    kind = kids[0].tag.split("}")[-1]
    if kind == "line":
        return [(x0, y0),
                (x0 + ln * _math.cos(hdg), y0 + ln * _math.sin(hdg))]
    if kind == "arc":
        c = float(kids[0].attrib["curvature"])
        if c == 0.0:
            return [(x0, y0),
                    (x0 + ln * _math.cos(hdg), y0 + ln * _math.sin(hdg))]
        # sample every <= ~5 degrees of heading change, endpoints exact
        n = max(1, int(abs(c) * ln / _math.radians(5.0)) + 1)
        pts = []
        for k in range(n + 1):
            s = ln * k / n
            th = hdg + c * s
            pts.append(
                (x0 + (_math.sin(th) - _math.sin(hdg)) / c,
                 y0 - (_math.cos(th) - _math.cos(hdg)) / c)
            )
        return pts
    raise NotImplementedError(
        f"xodr: geometry primitive <{kind}> not supported (line/arc; "
        f"spiral/poly3/paramPoly3 need GDAL/Sedona)"
    )


def read_xodr(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Read OpenDRIVE road networks: one row per road — ``road_id``,
    ``name``, ``length`` and ``points`` (the composed plan-view
    reference line; ``x``/``y`` = its first vertex). One file per
    executor task."""
    paths = sorted(_glob.glob(path_or_glob)) or [path_or_glob]
    schema = ("road_id string, name string, length double, x double, "
              "y double, points array<struct<x:double,y:double>>")

    def roads(path: str):
        import xml.etree.ElementTree as ET

        root = ET.parse(path).getroot()
        if root.tag.split("}")[-1] != "OpenDRIVE":
            raise ValueError(f"{path}: root element is not <OpenDRIVE>")
        for road in root.iter():
            if road.tag.split("}")[-1] != "road":
                continue
            pv = next(
                (el for el in road if el.tag.split("}")[-1] == "planView"),
                None,
            )
            pts: list[tuple[float, float]] = []
            if pv is not None:
                geoms = [el for el in pv
                         if el.tag.split("}")[-1] == "geometry"]
                geoms.sort(key=lambda g: float(g.attrib.get("s", 0.0)))
                for g in geoms:
                    seg = _xodr_geometry_points(g)
                    if pts and seg and seg[0] == pts[-1]:
                        seg = seg[1:]  # consecutive geometries share a joint
                    pts.extend(seg)
            yield (road.attrib.get("id"), road.attrib.get("name"),
                   float(road.attrib.get("length", 0.0)), pts)

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for p in pdf["path"]:
                out = {"road_id": [], "name": [], "length": [], "x": [],
                       "y": [], "points": []}
                for rid, name, ln, pts in roads(p):
                    out["road_id"].append(rid)
                    out["name"].append(name)
                    out["length"].append(ln)
                    out["x"].append(pts[0][0] if pts else None)
                    out["y"].append(pts[0][1] if pts else None)
                    out["points"].append(
                        [{"x": px, "y": py} for px, py in pts] or None
                    )
                yield pd.DataFrame(out)

    files = local_frame(spark, [(p,) for p in paths], "path string")
    return files.repartition(len(paths)).mapInPandas(parse, schema)
