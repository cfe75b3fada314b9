"""Minimal GeoTIFF raster reader + fixture writer — pure Python.

The reference reads raster GeoTIFF through GDAL (`.tif | GeoTIFF |
docs/file-formats-reference.md:96-138`) — the one documented format
family this repo had scoped out. This closes the MINIMUM slice and
the Cloud-Optimized-GeoTIFF shape on top of it: classic little-endian
TIFF, STRIPPED or TILED layout, compression none(1) / LZW(5, the
TIFF-variant MSB-first codes with early change) / DEFLATE(8/32946) /
PackBits(32773),
integer and float sample formats, chained IFDs (COG overview levels,
selectable with ``level=``), and the two GeoTIFF georeferencing tags
needed to place pixels — ModelPixelScaleTag (33550) and
ModelTiepointTag (33922), both byte orders (II and MM), classic AND
BigTIFF (magic 43: 16-byte header, u64 counts/offsets, 20-byte IFD
entries — r12), PlanarConfiguration 1 AND 2 (band-separate chunks,
band-major — r12), palette-color images (Photometric=3 + 3*2^bits
ColorMap expanded to R/G/B bands — r12), and sub-byte samples (1-bit
bilevel, 4-bit raw/palette; rows byte-aligned per the spec — r12),
and new-style JPEG compression (Compression=7, baseline 8-bit via the
pure-numpy T.81 codec in sources/jpeg_codec.py, incl. the abbreviated
JPEGTables layout — r12). Old-style JPEG(6) and exotic codecs fail
loud by name.

Scale shape: the driver parses ONLY the IFD chain — a few hundred
bytes per file, O(strips+tiles) metadata — and builds a chunk
descriptor DataFrame; chunk decode runs executor-side in mapInPandas,
one task per strip/tile (a COG with 512×512 tiles fans a 100 GB
raster into ~100k independent byte-range tasks, the same access
pattern COG was designed for). Pixels are emitted long-form
``(path, band, x, y, value, geo_x, geo_y)`` so the result
joins/aggregates like any other table.
"""

from __future__ import annotations

import glob as _glob
import json
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from pg_datalake_spark.session import local_frame

# TIFF type sizes: 1 BYTE, 2 ASCII, 3 SHORT, 4 LONG, 5 RATIONAL,
# 8 SSHORT, 9 SLONG, 11 FLOAT, 12 DOUBLE
_TYPE_FMT = {
    1: "B", 3: "H", 4: "I", 7: "B", 8: "h", 9: "i", 11: "f", 12: "d",
    # BigTIFF 8-byte types (r12): LONG8 / SLONG8 / IFD8
    16: "Q", 17: "q", 18: "Q",
}
_TYPE_SIZE = {
    1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 8: 2, 9: 4, 11: 4, 12: 8,
    16: 8, 17: 8, 18: 8,
}

_TAG = {
    "ImageWidth": 256,
    "ImageLength": 257,
    "BitsPerSample": 258,
    "Compression": 259,
    "Photometric": 262,
    "StripOffsets": 273,
    "SamplesPerPixel": 277,
    "RowsPerStrip": 278,
    "StripByteCounts": 279,
    "PlanarConfig": 284,
    "SampleFormat": 339,
    "TileWidth": 322,
    "TileLength": 323,
    "TileOffsets": 324,
    "TileByteCounts": 325,
    "NewSubfileType": 254,
    "Predictor": 317,
    "ColorMap": 320,
    "JPEGTables": 347,
    "ModelPixelScale": 33550,
    "ModelTiepoint": 33922,
}
_TAG_NAME = {v: k for k, v in _TAG.items()}

# (SampleFormat, BitsPerSample) -> numpy dtype string (little-endian
# form; the big-endian (MM) reader flips the prefix)
_DTYPES = {
    (1, 8): "u1", (1, 16): "<u2", (1, 32): "<u4",
    (2, 8): "i1", (2, 16): "<i2", (2, 32): "<i4",
    (3, 32): "<f4", (3, 64): "<f8",
}

_COMP_NONE, _COMP_LZW, _COMP_DEFLATE, _COMP_ADOBE_DEFLATE = 1, 5, 8, 32946
_COMP_PACKBITS = 32773
_COMP_JPEG = 7  # "new-style" JPEG (TIFF/EP; r12 via sources/jpeg_codec)
_SUPPORTED_COMP = {
    _COMP_NONE, _COMP_LZW, _COMP_DEFLATE, _COMP_ADOBE_DEFLATE,
    _COMP_PACKBITS, _COMP_JPEG,
}


# --- TIFF-variant LZW (MSB-first bit order, 9..12-bit codes, early
# change): the codec GDAL writes by default for compressed GeoTIFFs ---


def lzw_decode(data: bytes) -> bytes:
    """Decode TIFF LZW: ClearCode=256, EOI=257, code width grows at
    table sizes 511/1023/2047 (early-change convention)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    buf = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                reset()
                prev = None
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"lzw: invalid code {code}")
            out += entry
            prev = entry
            # early change: the decoder's table is ONE entry behind the
            # encoder's at read time, so it widens at 2^w − 2 (510/1022/
            # 2046) where the encoder widens at 2^w − 1
            if len(table) == (1 << width) - 2 and width < 12:
                width += 1
    return bytes(out)


def lzw_encode(data: bytes) -> bytes:
    """Encode TIFF LZW (fixture writer; mirror of :func:`lzw_decode`,
    early-change code widths, table reset at 4094 entries)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    buf = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal buf, nbits
        buf = (buf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(CLEAR, width)
    w = b""
    for byte in data:
        c = bytes([byte])
        if w + c in table:
            w = w + c
            continue
        emit(table[w], width)
        table[w + c] = next_code
        next_code += 1
        # early change: widen one code EARLY (at 511/1023/2047)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        elif next_code == 4094:
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = c
    if w:
        emit(table[w], width)
        # the decoder appends its lagging table entry after this final
        # data code WITHOUT a matching encoder next_code bump; if that
        # lands on the decoder's early-change boundary (510/1022/2046)
        # it widens before reading EOI, so the encoder must too
        if next_code == (1 << width) - 2 and width < 12:
            width += 1
    emit(EOI, width)
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def packbits_decode(data: bytes) -> bytes:
    """TIFF PackBits RLE: n >= 0 → copy n+1 literals; n < 0 (except
    -128, a noop) → repeat the next byte 1−n times."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i] - 256 if data[i] > 127 else data[i]
        i += 1
        if n >= 0:
            out += data[i : i + n + 1]
            i += n + 1
        elif n != -128:
            out += data[i : i + 1] * (1 - n)
            i += 1
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """TIFF PackBits encoder (fixture writer): runs of >= 3 identical
    bytes become (1−run, byte); everything else literal chunks of up
    to 128."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([256 - (run - 1), data[i]])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += 1
        chunk = data[lit_start : min(i, lit_start + 128)]
        i = lit_start + len(chunk)
        out += bytes([len(chunk) - 1]) + chunk
    return bytes(out)


def _decompress(buf: bytes, comp: int) -> bytes:
    if comp in (_COMP_DEFLATE, _COMP_ADOBE_DEFLATE):
        return zlib.decompress(buf)
    if comp == _COMP_LZW:
        return lzw_decode(buf)
    if comp == _COMP_PACKBITS:
        return packbits_decode(buf)
    return buf


def _parse_one_ifd(
    fh, ifd_off: int, path: str, bo: str = "<", big: bool = False
) -> tuple[dict, int]:
    # BigTIFF (r12): 8-byte entry counts / value slots / offsets;
    # entries are 20 bytes (tag u16, type u16, count u64, value 8s)
    ent_size, inline, cnt_fmt, off_fmt = (
        (20, 8, "Q", "Q") if big else (12, 4, "I", "I")
    )
    fh.seek(ifd_off)
    (n_entries,) = struct.unpack(
        f"{bo}{'Q' if big else 'H'}", fh.read(8 if big else 2)
    )
    raw = fh.read(n_entries * ent_size)
    (next_off,) = struct.unpack(f"{bo}{off_fmt}", fh.read(inline))
    tags: dict[str, tuple] = {}
    pending: list[tuple[str, int, int, int]] = []
    for i in range(n_entries):
        tag, typ, count, val_raw = struct.unpack(
            f"{bo}HH{cnt_fmt}{inline}s", raw[i * ent_size : (i + 1) * ent_size]
        )
        name = _TAG_NAME.get(tag)
        if name is None:
            continue
        size = _TYPE_SIZE.get(typ, 1) * count
        if size <= inline:
            fmt = _TYPE_FMT.get(typ)
            if fmt:
                tags[name] = struct.unpack(f"{bo}{count}{fmt}", val_raw[:size])
        else:
            (off,) = struct.unpack(f"{bo}{off_fmt}", val_raw)
            pending.append((name, typ, count, off))
    for name, typ, count, off in pending:
        fh.seek(off)
        fmt = _TYPE_FMT.get(typ)
        if fmt:
            tags[name] = struct.unpack(
                f"{bo}{count}{fmt}", fh.read(_TYPE_SIZE[typ] * count)
            )
    comp = tags.get("Compression", (1,))[0]
    if comp not in _SUPPORTED_COMP:
        raise NotImplementedError(
            f"geotiff: compression {comp} not supported (none/LZW/DEFLATE):"
            f" {path}"
        )
    planar = tags.get("PlanarConfig", (1,))[0]
    if planar not in (1, 2):
        raise NotImplementedError(
            f"geotiff: PlanarConfiguration={planar} not supported: {path}"
        )
    pred = tags.get("Predictor", (1,))[0]
    if pred not in (1, 2):
        raise NotImplementedError(
            f"geotiff: Predictor={pred} not supported (1=none, "
            f"2=horizontal differencing): {path}"
        )
    spp = tags.get("SamplesPerPixel", (1,))[0]
    bits = tags.get("BitsPerSample", (1,) * spp)
    sfmt = tags.get("SampleFormat", (1,) * spp)
    if len(set(bits)) != 1 or len(set(sfmt)) != 1:
        raise NotImplementedError(
            f"geotiff: mixed per-band sample types not supported: {path}"
        )
    key = (sfmt[0], bits[0])
    # sub-byte samples (r12): 1-bit bilevel and 4-bit indices unpack
    # to u1 at decode (rows are byte-aligned per the spec); only
    # single-band unsigned, predictor 1
    sub8 = 0
    if key in ((1, 1), (1, 4)):
        if spp != 1 or pred != 1:
            raise NotImplementedError(
                f"geotiff: {bits[0]}-bit samples need SamplesPerPixel=1 "
                f"and Predictor=1: {path}"
            )
        sub8 = bits[0]
        dtype = "u1"
    elif key not in _DTYPES:
        raise NotImplementedError(
            f"geotiff: SampleFormat={sfmt[0]} BitsPerSample={bits[0]} not "
            f"supported: {path}"
        )
    else:
        dtype = _DTYPES[key]
    if pred == 2 and sfmt[0] == 3:
        # TIFF reserves Predictor=2 for integer samples; floats use
        # Predictor=3 (which fails loud above). Undoing horizontal
        # differencing with an int cumsum would silently truncate.
        raise NotImplementedError(
            f"geotiff: Predictor=2 with float SampleFormat not supported "
            f"(spec reserves 2 for integer data; 3=floating point): {path}"
        )
    if bo == ">":
        dtype = dtype.replace("<", ">")
    # palette-color (Photometric=3, r12): indices expand through the
    # ColorMap to R/G/B bands at read time, matching GDAL's expansion
    palette = None
    if tags.get("Photometric", (1,))[0] == 3:
        cmap = tags.get("ColorMap")
        want = 3 * (1 << bits[0]) if bits[0] in (4, 8) else -1
        if cmap is None or spp != 1 or want < 0 or len(cmap) != want:
            raise NotImplementedError(
                f"geotiff: palette image needs 4- or 8-bit single-sample "
                f"indices with a 3*2^bits ColorMap (got spp={spp}, "
                f"bits={bits[0]}, "
                f"map={'missing' if cmap is None else len(cmap)}): {path}"
            )
        palette = list(cmap)
    jpeg_tables_b = b""
    if comp == _COMP_JPEG:
        # new-style JPEG (r12, sources/jpeg_codec): baseline 8-bit
        # only; each strip/tile is its own (possibly abbreviated)
        # stream, shared tables from the JPEGTables tag
        if bits[0] != 8 or sfmt[0] != 1 or pred != 1 or planar != 1:
            raise NotImplementedError(
                f"geotiff: JPEG compression needs 8-bit unsigned "
                f"interleaved samples with Predictor=1: {path}"
            )
        jt = tags.get("JPEGTables")
        if jt:
            jpeg_tables_b = bytes(jt)
    scale = tags.get("ModelPixelScale", (1.0, 1.0, 0.0))
    tie = tags.get("ModelTiepoint", (0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    tiled = "TileWidth" in tags
    ifd = {
        "width": tags["ImageWidth"][0],
        "height": tags["ImageLength"][0],
        "bands": spp,
        "dtype": dtype,
        "compression": comp,
        "predictor": pred,
        "planar": planar,
        "palette": palette,
        "sub8": sub8,
        "jpeg_tables": jpeg_tables_b,
        "tiled": tiled,
        # pixel (px, py) -> geo: gx = tx + (px - tpx) * sx ;
        #                        gy = ty - (py - tpy) * sy
        "sx": float(scale[0]),
        "sy": float(scale[1]),
        "tpx": float(tie[0]),
        "tpy": float(tie[1]),
        "tx": float(tie[3]),
        "ty": float(tie[4]),
    }
    if tiled:
        ifd["tile_w"] = tags["TileWidth"][0]
        ifd["tile_h"] = tags["TileLength"][0]
        ifd["offsets"] = list(tags["TileOffsets"])
        ifd["byte_counts"] = list(tags["TileByteCounts"])
    else:
        ifd["rows_per_strip"] = tags.get(
            "RowsPerStrip", (tags["ImageLength"][0],)
        )[0]
        ifd["offsets"] = list(tags["StripOffsets"])
        ifd["byte_counts"] = list(tags["StripByteCounts"])
    return ifd, next_off


def _read_ifds(path: str) -> list[dict]:
    """Parse the TIFF header + the FULL IFD chain (a COG's overview
    levels are chained IFDs). Driver-side, O(IFD bytes)."""
    with open(path, "rb") as fh:
        head = fh.read(8)
        if head[:2] == b"II":
            bo = "<"
        elif head[:2] == b"MM":
            bo = ">"  # big-endian classic TIFF (r11)
        else:
            raise ValueError(f"geotiff: not a TIFF (bad byte order): {path}")
        magic = struct.unpack(f"{bo}H", head[2:4])[0]
        big = magic == 43
        if big:
            # BigTIFF header (r12): u16 offset-size (must be 8),
            # u16 pad (must be 0) in bytes 4-7, then u64 first-IFD offset
            osize, pad = struct.unpack(f"{bo}HH", head[4:8])
            if osize != 8 or pad != 0:
                raise ValueError(
                    f"geotiff: malformed BigTIFF header "
                    f"(offset size {osize}, pad {pad}): {path}"
                )
            (ifd_off,) = struct.unpack(f"{bo}Q", fh.read(8))
        elif magic == 42:
            (ifd_off,) = struct.unpack(f"{bo}I", head[4:8])
        else:
            raise ValueError(f"geotiff: bad TIFF magic {magic}: {path}")
        out = []
        while ifd_off:
            ifd, ifd_off = _parse_one_ifd(fh, ifd_off, path, bo, big)
            out.append(ifd)
    return out


def _read_ifd(path: str) -> dict:
    """First (full-resolution) IFD — kept for the strip tests."""
    ifd = _read_ifds(path)[0]
    if not ifd["tiled"]:
        ifd["strip_offsets"] = ifd["offsets"]
        ifd["strip_byte_counts"] = ifd["byte_counts"]
    return ifd


def read_geotiff(
    spark: SparkSession, path_or_glob: str, level: int = 0
) -> DataFrame:
    """Read GeoTIFF file(s) long-form: one row per (pixel, band) —
    ``path, band, x, y, value, geo_x, geo_y``. ``level`` selects the
    IFD in the chain (0 = full resolution; a COG's overviews are
    1, 2, …). The driver reads only each file's IFD chain; strips or
    tiles decode executor-side, one task per chunk."""
    paths = sorted(_glob.glob(path_or_glob)) or [path_or_glob]
    tasks = []  # one per strip/tile
    for p in paths:
        chain = _read_ifds(p)
        if level >= len(chain):
            raise ValueError(
                f"geotiff: level {level} requested but {p} has "
                f"{len(chain)} IFD(s)"
            )
        ifd = chain[level]
        # spatial chunk grid (row0, chunk_h, col0, chunk_w)
        grid = []
        if ifd["tiled"]:
            tw, th = ifd["tile_w"], ifd["tile_h"]
            across = -(-ifd["width"] // tw)
            down = -(-ifd["height"] // th)
            for ti in range(across * down):
                grid.append(((ti // across) * th, th, (ti % across) * tw, tw))
        else:
            rps = ifd["rows_per_strip"]
            for si in range(-(-ifd["height"] // rps)):
                row0 = si * rps
                grid.append((row0, min(rps, ifd["height"] - row0), 0,
                             ifd["width"]))
        # PlanarConfig=2 (r12): one chunk per (band, spatial cell),
        # band-major offset order per the TIFF spec; each chunk decodes
        # a SINGLE band (band0 >= 0), interleaved chunks carry band0=-1
        planes = (
            [(b, 1) for b in range(ifd["bands"])]
            if ifd.get("planar", 1) == 2
            else [(-1, ifd["bands"])]
        )
        pal = json.dumps(ifd["palette"]) if ifd.get("palette") else ""
        want = len(planes) * len(grid)
        if len(ifd["offsets"]) != want or len(ifd["byte_counts"]) != want:
            raise ValueError(
                f"geotiff: {p} declares {len(ifd['offsets'])} chunk "
                f"offsets / {len(ifd['byte_counts'])} byte counts but the "
                f"image geometry implies {want} "
                f"({len(planes)} plane(s) x {len(grid)} cell(s)) — "
                "truncated or corrupt TIFF"
            )
        for pi, (band0, nb) in enumerate(planes):
            for gi, (row0, ch, col0, cw) in enumerate(grid):
                k = pi * len(grid) + gi
                tasks.append(
                    (
                        p, ifd["offsets"][k], ifd["byte_counts"][k],
                        row0, ch, col0, cw,
                        ifd["width"], ifd["height"], nb, band0, pal,
                        ifd.get("sub8", 0),
                        ifd.get("jpeg_tables", b"").hex(),
                        ifd["dtype"], ifd["compression"],
                        ifd["predictor"], ifd["sx"],
                        ifd["sy"], ifd["tpx"], ifd["tpy"], ifd["tx"],
                        ifd["ty"],
                    )
                )

    def decode(batches):
        import json as _json

        import numpy as np
        import pandas as pd

        for pdf in batches:
            for t in pdf.itertuples(index=False):
                with open(t.path, "rb") as fh:
                    fh.seek(int(t.off))
                    buf = fh.read(int(t.cnt))
                buf = _decompress(buf, int(t.comp))
                # chunk is chunk_h x chunk_w (tiles are FULL-sized and
                # edge-padded per the TIFF spec; clip the padding)
                if int(t.comp) == _COMP_JPEG:
                    from pg_datalake_spark.sources.jpeg_codec import (
                        decode_jpeg,
                    )

                    arr = decode_jpeg(
                        buf, tables=bytes.fromhex(t.jt) or None
                    )
                elif int(t.sub8):
                    # 1-/4-bit samples: rows are byte-aligned (spec);
                    # unpack bit- or nibble-wise, MSB/high-nibble first
                    sb = int(t.sub8)
                    row_bytes = (int(t.chunk_w) * sb + 7) // 8
                    raw = np.frombuffer(buf, dtype=np.uint8).reshape(
                        int(t.chunk_h), row_bytes
                    )
                    if sb == 1:
                        arr = np.unpackbits(raw, axis=1)[:, : int(t.chunk_w)]
                    else:
                        arr = np.empty(
                            (raw.shape[0], row_bytes * 2), dtype=np.uint8
                        )
                        arr[:, 0::2] = raw >> 4
                        arr[:, 1::2] = raw & 0x0F
                        arr = arr[:, : int(t.chunk_w)]
                    arr = arr[:, :, None]
                else:
                    arr = np.frombuffer(buf, dtype=t.dtype).reshape(
                        int(t.chunk_h), int(t.chunk_w), int(t.bands)
                    )
                if int(t.pred) == 2:
                    # horizontal differencing: undo with a per-row
                    # cumulative sum per sample, in the sample's own
                    # integer width (mod 2^bits wraparound)
                    arr = arr.cumsum(axis=1, dtype=np.int64).astype(
                        t.dtype
                    )
                vis_h = min(int(t.chunk_h), int(t.img_h) - int(t.row0))
                vis_w = min(int(t.chunk_w), int(t.img_w) - int(t.col0))
                arr = arr[:vis_h, :vis_w, :]
                if t.pal:
                    # palette expansion: 4-/8-bit indices -> 3 R/G/B
                    # bands through the 3*2^bits ColorMap (u16 values)
                    cmap = np.asarray(_json.loads(t.pal), dtype=np.uint16)
                    ncol = len(cmap) // 3
                    idx = arr[:, :, 0].astype(np.int64)
                    arr = np.stack(
                        [cmap[c * ncol + idx] for c in range(3)], axis=2
                    )
                ys, xs, bs = np.indices(arr.shape).reshape(3, -1)
                px = (xs + int(t.col0)).astype("int64")
                py = (ys + int(t.row0)).astype("int64")
                band = (
                    bs + int(t.band0) if int(t.band0) >= 0 else bs
                ).astype("int32")
                yield pd.DataFrame(
                    {
                        "path": t.path,
                        "band": band,
                        "x": px,
                        "y": py,
                        "value": arr.reshape(-1).astype("float64"),
                        "geo_x": t.tx + (px - t.tpx) * t.sx,
                        "geo_y": t.ty - (py - t.tpy) * t.sy,
                    }
                )

    cols = (
        "path string, off long, cnt long, row0 long, chunk_h long, "
        "col0 long, chunk_w long, img_w long, img_h long, bands long, "
        "band0 long, pal string, sub8 long, jt string, "
        "dtype string, comp long, pred long, sx double, sy double, "
        "tpx double, tpy double, tx double, ty double"
    )
    files = local_frame(spark, tasks, cols)
    out_schema = (
        "path string, band int, x long, y long, value double, "
        "geo_x double, geo_y double"
    )
    return files.repartition(max(len(tasks), 1)).mapInPandas(
        decode, out_schema
    )


def _compress(raw: bytes, comp_code: int) -> bytes:
    if comp_code == _COMP_DEFLATE:
        return zlib.compress(raw)
    if comp_code == _COMP_LZW:
        return lzw_encode(raw)
    if comp_code == _COMP_PACKBITS:
        return packbits_encode(raw)
    return raw


def _ifd_payload(
    arr, *, rows_per_strip, tile, comp_code, pixel_scale, tiepoint,
    data_pos, is_overview, bo="<", predictor=1, planar=1, palette=None,
    sub_bits=0, jpeg_abbreviated=False,
):
    """Chunk bytes + tag entries for ONE image (main or overview).
    Returns (chunks, entries, data_len)."""
    import numpy as np

    h, w, bands = arr.shape
    dt = arr.dtype
    sfmt = {"u": 1, "i": 2, "f": 3}[dt.kind]
    bits = sub_bits or dt.itemsize * 8

    def prep(block):
        if predictor == 2:
            import numpy as _np

            d = block.astype(_np.int64)
            d[:, 1:, :] -= d[:, :-1, :].copy()
            return d.astype(block.dtype)
        return block

    def to_bytes(block):
        """Serialize a (h, w, b) block — rows byte-aligned when
        packing 1-/4-bit samples (spec); JPEG blocks become their own
        baseline stream (sources/jpeg_codec)."""
        if comp_code == _COMP_JPEG:
            from pg_datalake_spark.sources.jpeg_codec import encode_jpeg

            return encode_jpeg(block, quality=90,
                               abbreviated=jpeg_abbreviated)
        if sub_bits == 1:
            return np.packbits(block[:, :, 0], axis=1).tobytes()
        if sub_bits == 4:
            b = block[:, :, 0]
            if b.shape[1] % 2:
                b = np.pad(b, ((0, 0), (0, 1)))
            return ((b[:, 0::2] << 4) | b[:, 1::2]).astype(np.uint8).tobytes()
        return block.tobytes()

    # PlanarConfig=2: chunk each band's plane separately, band-major
    planes = (
        [arr[:, :, b : b + 1] for b in range(bands)] if planar == 2 else [arr]
    )
    chunks: list[bytes] = []
    for plane in planes:
        nb = plane.shape[2]
        if tile:
            tw, th = tile
            for r0 in range(0, h, th):
                for c0 in range(0, w, tw):
                    # tiles are full-sized: edge tiles zero-padded (spec)
                    block = np.zeros((th, tw, nb), dtype=dt)
                    part = plane[r0 : r0 + th, c0 : c0 + tw]
                    block[: part.shape[0], : part.shape[1]] = part
                    chunks.append(_compress(to_bytes(prep(block)), comp_code))
        else:
            for r0 in range(0, h, rows_per_strip):
                chunks.append(
                    _compress(
                        to_bytes(prep(plane[r0 : r0 + rows_per_strip])),
                        comp_code,
                    )
                )

    offs = []
    pos = data_pos
    for c in chunks:
        offs.append(pos)
        pos += len(c)

    def short_arr(vals):
        return 3, len(vals), struct.pack(f"{bo}{len(vals)}H", *vals)

    def long_arr(vals):
        return 4, len(vals), struct.pack(f"{bo}{len(vals)}I", *vals)

    def dbl_arr(vals):
        return 12, len(vals), struct.pack(f"{bo}{len(vals)}d", *vals)

    sx, sy = pixel_scale
    tx, ty = tiepoint
    entries = [
        (256, *long_arr([w])),
        (257, *long_arr([h])),
        (258, *short_arr([bits] * bands)),
        (259, *short_arr([comp_code])),
        (262, *short_arr(
            [3 if palette is not None
             else 6 if comp_code == _COMP_JPEG and bands == 3
             else 1]
        )),
        (277, *short_arr([bands])),
        (284, *short_arr([planar])),
        (339, *short_arr([sfmt] * bands)),
        (33550, *dbl_arr([sx, sy, 0.0])),
        (33922, *dbl_arr([0.0, 0.0, 0.0, tx, ty, 0.0])),
    ]
    if is_overview:
        entries.append((254, *long_arr([1])))  # NewSubfileType: reduced
    if predictor != 1:
        entries.append((317, *short_arr([predictor])))
    if palette is not None:
        entries.append((320, *short_arr(list(palette))))
    if comp_code == _COMP_JPEG and jpeg_abbreviated:
        # shared quant/Huffman tables, the libtiff/GDAL layout
        from pg_datalake_spark.sources.jpeg_codec import jpeg_tables

        jt = jpeg_tables(90)
        entries.append((347, 7, len(jt), jt))
    if tile:
        tw, th = tile
        entries += [
            (322, *long_arr([tw])),
            (323, *long_arr([th])),
            (324, *long_arr(offs)),
            (325, *long_arr([len(c) for c in chunks])),
        ]
    else:
        entries += [
            (273, *long_arr(offs)),
            (278, *long_arr([rows_per_strip])),
            (279, *long_arr([len(c) for c in chunks])),
        ]
    entries.sort(key=lambda e: e[0])  # spec: ascending tag order
    return chunks, entries, pos - data_pos


def write_geotiff(
    path: str,
    array,
    *,
    rows_per_strip: int = 16,
    tile: tuple[int, int] | None = None,
    compression: str = "none",
    pixel_scale: tuple[float, float] = (1.0, 1.0),
    tiepoint: tuple[float, float] = (0.0, 0.0),
    overviews: list[int] | None = None,
    byte_order: str = "<",
    predictor: int = 1,
    bigtiff: bool = False,
    planar: int = 1,
    palette: list[int] | None = None,
    sub_bits: int = 0,
    jpeg_abbreviated: bool = False,
) -> None:
    """Write a (height, width, bands) numpy array as a classic
    little-endian GeoTIFF (fixture writer for tests/queries):
    stripped, or TILED with ``tile=(tw, th)``; compression 'none',
    'deflate' or 'lzw'; ``overviews=[2, 4]`` appends decimated
    (every-Nth-pixel) reduced-resolution IFDs chained COG-style.
    ``bigtiff=True`` (r12) emits the magic-43 variant: 16-byte header,
    u64 entry counts/offsets, 20-byte IFD entries with 8-byte inline
    value slots. ``planar=2`` (r12) writes band-separate chunks
    (band-major, per the spec). ``palette`` (r12) writes a
    palette-color image: a 768-entry u16 ColorMap with 8-bit
    single-band indices (Photometric=3)."""
    import numpy as np

    arr = np.ascontiguousarray(array)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    dt = arr.dtype
    if dt.kind not in ("u", "i", "f"):
        raise ValueError(f"geotiff writer: unsupported dtype {dt}")
    if ({"u": 1, "i": 2, "f": 3}[dt.kind], dt.itemsize * 8) not in _DTYPES:
        raise ValueError(f"geotiff writer: unsupported dtype {dt}")
    if byte_order not in ("<", ">"):
        raise ValueError("byte_order must be '<' (II) or '>' (MM)")
    if planar not in (1, 2):
        raise ValueError("planar must be 1 (interleaved) or 2 (band-separate)")
    if palette is not None and (
        arr.shape[2] != 1
        or dt != np.uint8
        or len(palette) != 3 * (1 << (sub_bits or 8))
    ):
        raise ValueError(
            "palette images take single-band u8 indices and a "
            "3*2^bits ColorMap (bits = sub_bits or 8)"
        )
    if sub_bits:
        if sub_bits not in (1, 4):
            raise ValueError("sub_bits must be 0 (full bytes), 1 or 4")
        if (
            arr.shape[2] != 1
            or dt != np.uint8
            or planar != 1
            or predictor != 1
            or int(arr.max(initial=0)) >= (1 << sub_bits)
        ):
            raise ValueError(
                f"{sub_bits}-bit images take single-band u8 values "
                f"< {1 << sub_bits}, planar=1, predictor=1"
            )
    if predictor == 2 and dt.kind == "f":
        # Spec reserves Predictor=2 for integer samples (floats use 3);
        # int differencing would silently truncate float data.
        raise NotImplementedError(
            "geotiff writer: Predictor=2 with float dtype not supported "
            "(spec reserves 2 for integer data; 3=floating point)"
        )
    arr = arr.astype(dt.newbyteorder(byte_order))
    comp_code = {
        "none": _COMP_NONE, "deflate": _COMP_DEFLATE, "lzw": _COMP_LZW,
        "packbits": _COMP_PACKBITS, "jpeg": _COMP_JPEG,
    }[compression]
    if comp_code == _COMP_JPEG and (
        dt != np.uint8
        or arr.shape[2] not in (1, 3)
        or planar != 1
        or predictor != 1
        or sub_bits
        or palette is not None
    ):
        raise ValueError(
            "jpeg compression takes interleaved u8 data with 1 or 3 "
            "bands (planar=1, predictor=1, no palette/sub_bits)"
        )

    sx, sy = pixel_scale
    images = [(arr, (sx, sy), False)]
    for f in overviews or []:
        images.append((arr[::f, ::f], (sx * f, sy * f), True))

    # layout per image: [chunk data][tag arrays][IFD]; header first
    ent_size, inline, head_len = (20, 8, 16) if bigtiff else (12, 4, 8)
    pos = head_len
    rendered = []
    for img, scale, is_ov in images:
        chunks, entries, data_len = _ifd_payload(
            img,
            rows_per_strip=rows_per_strip,
            tile=tile,
            comp_code=comp_code,
            pixel_scale=scale,
            tiepoint=tiepoint,
            data_pos=pos,
            is_overview=is_ov,
            bo=byte_order,
            predictor=predictor,
            planar=planar,
            palette=palette,
            sub_bits=sub_bits,
            jpeg_abbreviated=jpeg_abbreviated,
        )
        pos += data_len
        blob_off = {}
        for tag, typ, count, payload in entries:
            if len(payload) > inline:
                blob_off[tag] = pos
                pos += len(payload)
        ifd_off = pos
        pos += (8 + len(entries) * ent_size + 8) if bigtiff else (
            2 + len(entries) * ent_size + 4
        )
        rendered.append((chunks, entries, blob_off, ifd_off))

    cnt_fmt = "Q" if bigtiff else "I"
    with open(path, "wb") as fh:
        order_mark = b"II" if byte_order == "<" else b"MM"
        if bigtiff:
            fh.write(
                order_mark
                + struct.pack(f"{byte_order}HHHQ", 43, 8, 0, rendered[0][3])
            )
        else:
            fh.write(
                order_mark + struct.pack(f"{byte_order}HI", 42, rendered[0][3])
            )
        for i, (chunks, entries, blob_off, ifd_off) in enumerate(rendered):
            for c in chunks:
                fh.write(c)
            for tag, typ, count, payload in entries:
                if len(payload) > inline:
                    fh.write(payload)
            fh.write(
                struct.pack(f"{byte_order}{'Q' if bigtiff else 'H'}", len(entries))
            )
            for tag, typ, count, payload in entries:
                if len(payload) <= inline:
                    val = payload + b"\x00" * (inline - len(payload))
                else:
                    val = struct.pack(f"{byte_order}{cnt_fmt}", blob_off[tag])
                fh.write(
                    struct.pack(f"{byte_order}HH{cnt_fmt}", tag, typ, count)
                    + val
                )
            nxt = rendered[i + 1][3] if i + 1 < len(rendered) else 0
            fh.write(struct.pack(f"{byte_order}{cnt_fmt}", nxt))
