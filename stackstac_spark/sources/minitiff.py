"""Minimal pure-Python tiled/stripped GeoTIFF reader + writer.

rasterio is not installable in this container (FIXTURES.md §8), which left
the real-IO branch of the raster scan (the re-expression of the reference's
``AutoParallelRioReader.read``, rio_reader.py:382-429) with no byte-true
test. This module closes that gap from the published TIFF 6.0 and GeoTIFF
1.1 specifications:

- **reader**: classic TIFF (both byte orders), first IFD, single-sample
  tiled or stripped layout, compression none/DEFLATE (8 and legacy 32946),
  predictor 1 (none) / 2 (horizontal differencing) / 3 (floating-point),
  uint8/16/32, int8/16/32, float32/64 samples, GDAL_NODATA, and the GeoTIFF
  georeferencing tags (ModelPixelScale+ModelTiepoint or ModelTransformation,
  EPSG code from the GeoKeyDirectory). Windowed reads decode only the
  tiles/strips that intersect the window — the access pattern the engine
  needs at scale, not a whole-file decode.
- **writer**: little-endian classic TIFF with the same feature set, used by
  the test-suite to produce real fixtures (the formats the old
  rasterio-gated fixture writer in tests/test_rasterio_path.py emitted:
  uncompressed and DEFLATE) without any native dependency.

When rasterio IS importable the engine still prefers it (sources/raster.py
routes on ``_HAVE_RASTERIO``); this reader is the fallback so a bare
``pip install stackstac-spark`` can read its own GeoTIFFs — from local
paths or over http(s) via :class:`HttpRangeFile`, which reproduces GDAL's
``/vsicurl/`` ranged-GET + block-cache access pattern without curl.
"""

from __future__ import annotations

import os
import re
import struct
import zlib
from collections import OrderedDict

import numpy as np

# TIFF tag ids
_T_WIDTH = 256
_T_HEIGHT = 257
_T_BITS = 258
_T_COMPRESSION = 259
_T_PHOTOMETRIC = 262
_T_STRIP_OFFSETS = 273
_T_SAMPLES = 277
_T_ROWS_PER_STRIP = 278
_T_STRIP_COUNTS = 279
_T_PLANAR = 284
_T_PREDICTOR = 317
_T_TILE_W = 322
_T_TILE_H = 323
_T_TILE_OFFSETS = 324
_T_TILE_COUNTS = 325
_T_SAMPLE_FORMAT = 339
_T_PIXEL_SCALE = 33550
_T_TIEPOINT = 33922
_T_TRANSFORM = 34264
_T_GEO_KEYS = 34735
_T_GDAL_NODATA = 42113

# TIFF field types: id -> (struct fmt char, byte size)
_TYPES = {
    1: ("B", 1),  # BYTE
    2: ("s", 1),  # ASCII
    3: ("H", 2),  # SHORT
    4: ("I", 4),  # LONG
    5: ("II", 8),  # RATIONAL (num, den)
    6: ("b", 1),  # SBYTE
    8: ("h", 2),  # SSHORT
    9: ("i", 4),  # SLONG
    10: ("ii", 8),  # SRATIONAL
    11: ("f", 4),  # FLOAT
    12: ("d", 8),  # DOUBLE
    16: ("Q", 8),  # LONG8 (BigTIFF)
    17: ("q", 8),  # SLONG8 (BigTIFF)
    18: ("Q", 8),  # IFD8 (BigTIFF)
}

_SAMPLE_DTYPES = {
    (1, 8): "u1",
    (1, 16): "u2",
    (1, 32): "u4",
    (2, 8): "i1",
    (2, 16): "i2",
    (2, 32): "i4",
    (3, 32): "f4",
    (3, 64): "f8",
}

# GeoKey ids (GeoTIFF 1.1 §6.2)
_GK_MODEL_TYPE = 1024
_GK_RASTER_TYPE = 1025
_GK_GEOGRAPHIC_CS = 2048
_GK_PROJECTED_CS = 3072


class TiffError(ValueError):
    """Malformed or unsupported TIFF structure."""


# Compressed bytes handed to the codec across all reads in this process —
# the observable that proves decimated reads actually touch fewer bytes
# (tests/test_minitiff.py asserts overview reads decode >=4x less). Not
# thread-synchronized: Spark python workers are single-threaded processes.
DECODE_BYTES = 0

# Ranged-HTTP IO accumulators (same single-threaded-worker caveat): request
# count and payload bytes actually transferred. The observable that proves a
# windowed COG read over HTTP moves a small fraction of the file.
HTTP_REQUESTS = 0
HTTP_BYTES = 0


class HttpRangeFile:
    """Read-only file-like over HTTP(S) built on ranged GETs — the access
    pattern GDAL's ``/vsicurl/`` uses for cloud-optimized GeoTIFFs (the
    reference's production reads go through it via rasterio,
    rio_reader.py:287-466). Plumbing only — no native deps:

    - small reads are served from an LRU cache of aligned blocks (default
      64 KiB, the /vsicurl/ default chunk size), so the header/IFD parse
      costs one or two requests, not dozens;
    - large reads (≥ 2 blocks) bypass the cache with ONE exact-range GET —
      a tile/strip gather never re-downloads per block;
    - file size is learned from the first response's ``Content-Range`` (no
      separate HEAD round-trip);
    - a server that ignores ``Range`` (plain 200) degrades gracefully: the
      full body is kept as one cached block and served from memory.

    Thread-unsafe by design, matching the engine's single-threaded-task
    read model (sources/raster.py module docstring).
    """

    def __init__(
        self,
        url: str,
        block_size: int = 64 * 1024,
        max_blocks: int = 64,
        retries: int = 3,
        retry_backoff: float = 0.25,
        timeout: float = 30.0,
    ):
        self.url = url
        self.block_size = int(block_size)
        self._blocks: "OrderedDict[int, bytes]" = OrderedDict()
        self._max_blocks = int(max_blocks)
        self._pos = 0
        self.size: int | None = None
        self._full: bytes | None = None  # set when the server ignores Range
        self.retries = int(retries)
        self.retry_backoff = float(retry_backoff)
        # GDAL's /vsicurl/ has connect/read timeouts; without one here a
        # stalled connection hangs the executor task forever and the retry
        # policy below never triggers (no exception is ever raised).
        self.timeout = float(timeout)

    # -- transport ---------------------------------------------------------

    def _fetch(self, start: int, stop: int) -> bytes:
        """GET bytes [start, stop) — returns possibly-short payload at EOF."""
        global HTTP_REQUESTS, HTTP_BYTES
        import urllib.error
        import urllib.request

        if self._full is not None:
            return self._full[start:stop]
        if self.size is not None:
            stop = min(stop, self.size)
            if start >= stop:
                return b""
        req = urllib.request.Request(
            self.url, headers={"Range": f"bytes={start}-{stop - 1}"}
        )
        # transient-failure retry with exponential backoff — object stores
        # throw 429/5xx and connection resets routinely at fleet scale; GDAL
        # covers this with GDAL_HTTP_MAX_RETRY/RETRY_DELAY, so the fallback
        # must too. 4xx (except 416/429) fail fast: retrying a 403 is noise.
        import time

        resp = None
        for attempt in range(self.retries + 1):
            try:
                resp = urllib.request.urlopen(req, timeout=self.timeout)
                break
            except urllib.error.HTTPError as ex:
                if ex.code == 416:  # requested range past EOF
                    self.size = self.size if self.size is not None else start
                    return b""
                if ex.code not in (429, 500, 502, 503, 504) or attempt == self.retries:
                    raise
            except (urllib.error.URLError, ConnectionError, TimeoutError):
                if attempt == self.retries:
                    raise
            time.sleep(self.retry_backoff * (2**attempt))
        with resp:
            body = resp.read()
            HTTP_REQUESTS += 1
            HTTP_BYTES += len(body)
            if resp.status == 206:
                cr = resp.headers.get("Content-Range", "")
                if "/" in cr:
                    try:
                        self.size = int(cr.rsplit("/", 1)[1])
                    except ValueError:
                        pass
                return body
            # 200: server ignored Range — keep the whole object, serve slices
            self._full = body
            self.size = len(body)
            return body[start:stop]

    def _block(self, idx: int) -> bytes:
        blk = self._blocks.get(idx)
        if blk is None:
            start = idx * self.block_size
            blk = self._fetch(start, start + self.block_size)
            self._blocks[idx] = blk
            if len(self._blocks) > self._max_blocks:
                self._blocks.popitem(last=False)
        else:
            self._blocks.move_to_end(idx)
        return blk

    # -- file-like ---------------------------------------------------------

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            # to-EOF read: learn the size (one tiny ranged GET) then read
            if self.size is None:
                self._block(self._pos // self.block_size)
            if self.size is None:  # still unknown: empty object
                return b""
            n = max(self.size - self._pos, 0)
        if n == 0:
            return b""
        start, stop = self._pos, self._pos + n
        first, last = start // self.block_size, (stop - 1) // self.block_size
        if last - first + 1 >= 2 and n >= self.block_size:
            out = self._fetch(start, stop)  # big gather: one exact-range GET
        else:
            parts = []
            for idx in range(first, last + 1):
                blk = self._block(idx)
                b0 = max(start - idx * self.block_size, 0)
                b1 = min(stop - idx * self.block_size, len(blk))
                if b1 > b0:
                    parts.append(blk[b0:b1])
                if len(blk) < self.block_size:
                    break  # EOF block
            out = b"".join(parts)
        self._pos += len(out)
        return out

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        elif whence == 2:
            if self.size is None:
                self._block(0)
            self._pos = (self.size or 0) + offset
        else:
            raise ValueError(f"bad whence {whence}")
        return self._pos

    def tell(self) -> int:
        return self._pos

    def close(self) -> None:
        self._blocks.clear()
        self._full = None


_HTTP_RE = re.compile(r"(?i)^https?://")


# -- LZW codec (TIFF 6.0 §13: MSB-first bit order, 9→12-bit codes, the
#    "early change" quirk where the code width grows one code early) -------

_LZW_CLEAR, _LZW_EOI = 256, 257


def _lzw_decode(buf: bytes) -> bytes:
    out = bytearray()
    nbits = 9
    bitpos = 0
    total_bits = len(buf) * 8

    def get() -> int | None:
        nonlocal bitpos
        if bitpos + nbits > total_bits:
            return None
        byte0 = bitpos >> 3
        chunk = int.from_bytes(buf[byte0 : byte0 + 3].ljust(3, b"\x00"), "big")
        code = (chunk >> (24 - (bitpos & 7) - nbits)) & ((1 << nbits) - 1)
        bitpos += nbits
        return code

    table: list[bytes] = []
    prev = b""
    while True:
        code = get()
        if code is None or code == _LZW_EOI:
            break
        if code == _LZW_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            nbits = 9
            # consecutive Clear codes are legal (libtiff/GDAL emit them when
            # flushing); keep resetting until a literal arrives
            while (code := get()) == _LZW_CLEAR:
                pass
            if code is None or code == _LZW_EOI:
                break
            if code > 255:
                raise TiffError(f"LZW: code {code} directly after Clear")
            out += table[code]
            prev = table[code]
            continue
        if not table:
            raise TiffError("LZW: stream does not start with a Clear code")
        if code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise TiffError(f"LZW: code {code} beyond table size {len(table)}")
        out += entry
        table.append(prev + entry[:1])
        prev = entry
        if len(table) == (1 << nbits) - 1 and nbits < 12:  # early change
            nbits += 1
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-flavor LZW encoder (used by the writer's ``compress="lzw"``).
    Resets the table well before the 12-bit ceiling so the decoder's width
    schedule can never be exceeded."""
    out = bytearray()
    acc = 0
    accbits = 0
    nbits = 9

    def put(code: int) -> None:
        nonlocal acc, accbits
        acc = (acc << nbits) | code
        accbits += nbits
        while accbits >= 8:
            accbits -= 8
            out.append((acc >> accbits) & 0xFF)

    def reset() -> tuple[dict, int]:
        return {bytes([i]): i for i in range(256)}, 258

    put(_LZW_CLEAR)
    table, next_code = reset()
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(table[w])
        table[wc] = next_code
        next_code += 1
        # width grows one code later than the decoder's len(table) check —
        # the decoder appends nothing for the first code after Clear, so its
        # table trails next_code by one; (1 << nbits) here pairs exactly
        # with the decoder's (1 << nbits) - 1 early-change rule
        if next_code == (1 << nbits) and nbits < 12:
            nbits += 1
        elif next_code >= 4093:  # table nearly full → start over
            put(_LZW_CLEAR)
            nbits = 9
            table, next_code = reset()
        w = bytes([b])
    if w:
        put(table[w])
    put(_LZW_EOI)
    if accbits:
        out.append((acc << (8 - accbits)) & 0xFF)
    return bytes(out)


class MiniTiffDataset:
    """One open GeoTIFF. Parses the header + first IFD eagerly (a few small
    reads — the same access GDAL's open does); pixel data is read lazily,
    chunk by chunk, in :meth:`read_window`.

    Exposed metadata mirrors what the scan path needs from a rasterio
    dataset: ``width height count dtype nodata epsg transform`` where
    ``transform`` is the GDAL/STAC affine 6-tuple ``(a, b, c, d, e, f)``
    (x = c + col*a + row*b; y = f + col*d + row*e).
    """

    def __init__(self, path: str, ifd_index: int = 0):
        """``ifd_index`` selects an IFD in the chain: 0 = full resolution,
        1.. = overview levels (COG layout). ``n_ifds`` and
        :meth:`overview` navigate the chain."""
        self.path = path
        self.ifd_index = ifd_index
        # a local read(n) allocates n bytes up front, so the file size bounds
        # every length read from a local file: a corrupt count must fail as
        # TiffError, not as a MemoryError (a ranged HTTP read returns short)
        if _HTTP_RE.match(path):
            self._fh, self._end = HttpRangeFile(path), float("inf")
        else:
            self._fh = open(path, "rb")
            self._end = os.fstat(self._fh.fileno()).st_size
        try:
            self._parse()
        except Exception:
            self._fh.close()
            raise

    # -- structure ---------------------------------------------------------

    def _parse(self) -> None:
        head = self._fh.read(8)
        if len(head) < 8:
            raise TiffError(f"{self.path}: truncated TIFF header")
        if head[:2] == b"II":
            self._e = "<"
        elif head[:2] == b"MM":
            self._e = ">"
        else:
            raise TiffError(f"{self.path}: not a TIFF (byte order {head[:2]!r})")
        magic = struct.unpack(self._e + "H", head[2:4])[0]
        self._big = magic == 43
        def read_exact(n: int, what: str) -> bytes:
            b = self._fh.read(n)
            if len(b) < n:
                raise TiffError(f"{self.path}: truncated {what}")
            return b

        if self._big:
            # BigTIFF: H offset-size (must be 8), H reserved, Q first IFD
            osize, _zero = struct.unpack(self._e + "HH", head[4:8])
            if osize != 8:
                raise TiffError(f"{self.path}: BigTIFF offset size {osize} != 8")
            (ifd_off,) = struct.unpack(self._e + "Q", read_exact(8, "BigTIFF header"))
        elif magic == 42:
            (ifd_off,) = struct.unpack(self._e + "I", head[4:8])
        else:
            raise TiffError(f"{self.path}: bad TIFF magic {magic}")

        # walk the IFD chain: pick self.ifd_index, count the rest
        if self._big:
            esize, head_fmt, nfmt, nsize = 20, "HHQ", "Q", 8
        else:
            esize, head_fmt, nfmt, nsize = 12, "HHI", "H", 2
        vwidth = esize - struct.calcsize(self._e + head_fmt)
        offs: list[int] = []
        off = ifd_off
        for _ in range(64):  # chain-length guard against pointer loops
            if off == 0:
                break
            try:
                self._fh.seek(off)
                (n,) = struct.unpack(self._e + nfmt, read_exact(nsize, "IFD count"))
                self._fh.seek(off + nsize + esize * n)
                (nxt,) = struct.unpack(
                    self._e + ("Q" if self._big else "I"),
                    read_exact(8 if self._big else 4, "next-IFD pointer"),
                )
            except TiffError:
                # a corrupt TRAILING chain must not make the IFDs before it
                # unreadable: tolerate by truncating n_ifds, re-raise only if
                # the requested IFD itself is inside the broken region
                if len(offs) > self.ifd_index:
                    break
                raise
            offs.append(off)
            off = nxt
        self.n_ifds = len(offs)
        if self.ifd_index >= self.n_ifds:
            raise TiffError(
                f"{self.path}: IFD {self.ifd_index} requested but file has "
                f"{self.n_ifds}"
            )
        self._fh.seek(offs[self.ifd_index])
        (n_entries,) = struct.unpack(self._e + nfmt, read_exact(nsize, "IFD count"))
        raw = read_exact(esize * n_entries, "IFD entries")
        tags: dict[int, tuple] = {}
        for i in range(n_entries):
            at = i * esize
            tag, typ, cnt = struct.unpack(
                self._e + head_fmt, raw[at : at + esize - vwidth]
            )
            tags[tag] = (typ, cnt, raw[at + esize - vwidth : at + esize])
        self._tags = tags

        self.width = int(self._scalar(_T_WIDTH))
        self.height = int(self._scalar(_T_HEIGHT))
        self.count = int(self._scalar(_T_SAMPLES, default=1))
        if self._scalar(_T_PLANAR, default=1) != 1:
            raise TiffError(f"{self.path}: planar configuration 2 unsupported")
        bits = self._values(_T_BITS, default=[8])
        if len(set(bits)) != 1:
            raise TiffError(f"{self.path}: mixed BitsPerSample {bits}")
        fmt = self._values(_T_SAMPLE_FORMAT, default=[1])[0]
        key = (int(fmt), int(bits[0]))
        if key not in _SAMPLE_DTYPES:
            raise TiffError(f"{self.path}: unsupported sample (format={fmt}, bits={bits[0]})")
        self.dtype = np.dtype(self._e + _SAMPLE_DTYPES[key])
        self._compression = int(self._scalar(_T_COMPRESSION, default=1))
        if self._compression not in (1, 5, 8, 32946):
            raise TiffError(
                f"{self.path}: compression {self._compression} unsupported "
                "(built-in reader handles none, LZW and DEFLATE; install "
                "rasterio for JPEG/ZSTD/packbits sources)"
            )
        self._predictor = int(self._scalar(_T_PREDICTOR, default=1))
        if self._predictor not in (1, 2, 3):
            raise TiffError(f"{self.path}: predictor {self._predictor} unsupported")

        self.tiled = _T_TILE_OFFSETS in tags
        if self.tiled:
            self._chunk_w = int(self._scalar(_T_TILE_W))
            self._chunk_h = int(self._scalar(_T_TILE_H))
            if self._chunk_w <= 0 or self._chunk_h <= 0:
                raise TiffError(f"{self.path}: empty tile size")
            self._offsets = [int(v) for v in self._values(_T_TILE_OFFSETS)]
            self._counts = [int(v) for v in self._values(_T_TILE_COUNTS)]
            self._across = -(-self.width // self._chunk_w)
            down = -(-self.height // self._chunk_h)
        else:
            if _T_STRIP_OFFSETS not in tags:
                raise TiffError(f"{self.path}: neither tile nor strip offsets present")
            self._chunk_w = self.width
            self._chunk_h = int(self._scalar(_T_ROWS_PER_STRIP, default=self.height))
            if self._chunk_h <= 0:
                raise TiffError(f"{self.path}: empty strip size")
            self._offsets = [int(v) for v in self._values(_T_STRIP_OFFSETS)]
            self._counts = [int(v) for v in self._values(_T_STRIP_COUNTS)]
            self._across = 1
            down = -(-self.height // self._chunk_h)
        expect = self._across * down
        if len(self._offsets) < expect or len(self._counts) < expect:
            raise TiffError(
                f"{self.path}: {len(self._offsets)} chunk offsets for "
                f"{expect} expected chunks"
            )

        self.nodata = self._parse_nodata()
        self.epsg = self._parse_epsg()
        self.transform = self._parse_transform()

    def _entry(self, tag: int):
        return self._tags.get(tag)

    def _values(self, tag: int, default=None):
        ent = self._entry(tag)
        if ent is None:
            if default is not None:
                return default
            raise TiffError(f"{self.path}: required tag {tag} missing")
        typ, cnt, field = ent
        if typ not in _TYPES:
            raise TiffError(f"{self.path}: tag {tag} has unknown type {typ}")
        if cnt == 0 and typ != 2:  # callers index the first value
            raise TiffError(f"{self.path}: tag {tag} has no values")
        ch, size = _TYPES[typ]
        total = size * cnt  # _TYPES size already covers a rational's pair
        if total <= len(field):  # inline: 4 bytes classic, 8 BigTIFF
            buf = field[:total]
        else:
            (off,) = struct.unpack(self._e + ("Q" if self._big else "I"), field)
            self._fh.seek(off)
            buf = self._fh.read(total) if off + total <= self._end else b""
            if len(buf) < total:
                raise TiffError(f"{self.path}: tag {tag} data truncated")
        if typ == 2:
            return buf
        n = cnt * (2 if typ in (5, 10) else 1)
        vals = struct.unpack(self._e + ch[0] * n, buf)
        if typ in (5, 10):  # rationals -> floats
            return [vals[i] / vals[i + 1] if vals[i + 1] else float("nan") for i in range(0, n, 2)]
        return list(vals)

    def _scalar(self, tag: int, default=None):
        ent = self._entry(tag)
        if ent is None:
            if default is not None:
                return default
            raise TiffError(f"{self.path}: required tag {tag} missing")
        return self._values(tag)[0]

    def _parse_nodata(self):
        ent = self._entry(_T_GDAL_NODATA)
        if ent is None:
            return None
        text = self._values(_T_GDAL_NODATA).split(b"\x00")[0].strip()
        if not text:
            return None
        try:
            return float(text)
        except ValueError:
            return None

    def _parse_epsg(self):
        ent = self._entry(_T_GEO_KEYS)
        if ent is None:
            return None
        keys = self._values(_T_GEO_KEYS)
        # header: KeyDirectoryVersion, KeyRevision, MinorRevision, NumberOfKeys
        if len(keys) < 4:
            return None
        n = keys[3]
        epsg = None
        for i in range(n):
            base = 4 + 4 * i
            if base + 4 > len(keys):
                break
            kid, loc, cnt, val = keys[base : base + 4]
            if kid in (_GK_PROJECTED_CS, _GK_GEOGRAPHIC_CS) and loc == 0:
                if val in (32767, 0):  # user-defined / undefined: not an EPSG code
                    continue
                # projected key wins when both are present (the geographic
                # key then only names the datum underneath)
                if kid == _GK_PROJECTED_CS or epsg is None:
                    epsg = int(val)
        return epsg

    def _parse_transform(self):
        ent = self._entry(_T_TRANSFORM)
        if ent is not None:
            m = self._values(_T_TRANSFORM)
            if len(m) < 8:
                raise TiffError(f"{self.path}: ModelTransformation needs 16 doubles")
            # row-major 4x4: x = m0*col + m1*row + m3 ; y = m4*col + m5*row + m7
            return (m[0], m[1], m[3], m[4], m[5], m[7])
        scale = self._entry(_T_PIXEL_SCALE)
        tie = self._entry(_T_TIEPOINT)
        if scale is None or tie is None:
            return None
        sx, sy = self._values(_T_PIXEL_SCALE)[:2]
        tp = self._values(_T_TIEPOINT)
        if len(tp) < 6:
            raise TiffError(f"{self.path}: ModelTiepoint needs 6 doubles")
        i, j, _, x, y, _ = tp[:6]
        # raster point (i, j) maps to model (x, y); PixelIsArea origin
        return (sx, 0.0, x - i * sx, 0.0, -sy, y + j * sy)

    # -- pixels ------------------------------------------------------------

    def _decode_chunk(self, idx: int, rows_in_chunk: int) -> np.ndarray:
        """Decode chunk ``idx`` to a 2-D native-dtype array.

        Tiles are always padded to (tile_h, tile_w); the final strip holds
        only its remaining rows (TIFF 6.0 §3, unpadded strips)."""
        off, cnt = self._offsets[idx], self._counts[idx]
        global DECODE_BYTES
        DECODE_BYTES += cnt
        buf = b""
        if 0 <= off <= self._end - cnt:
            self._fh.seek(off)
            buf = self._fh.read(cnt)
        if len(buf) < cnt:
            raise TiffError(f"{self.path}: chunk {idx} truncated on disk")
        if self._compression in (8, 32946):
            buf = zlib.decompress(buf)
        elif self._compression == 5:
            buf = _lzw_decode(buf)
        h = self._chunk_h if self.tiled else rows_in_chunk
        w = self._chunk_w
        nb = self.dtype.itemsize
        need = h * w * nb
        if len(buf) < need:
            raise TiffError(
                f"{self.path}: chunk {idx} decodes to {len(buf)} bytes, "
                f"{need} expected"
            )
        if self._predictor == 3:
            u8 = np.frombuffer(buf[:need], dtype=np.uint8).reshape(h, w * nb)
            acc = (np.cumsum(u8, axis=1, dtype=np.uint64) & 0xFF).astype(np.uint8)
            planes = acc.reshape(h, nb, w).transpose(0, 2, 1)
            be = np.dtype(">" + _SAMPLE_DTYPES[(3, nb * 8)])
            arr = np.ascontiguousarray(planes).reshape(h, w * nb).view(be)
            return arr.astype(self.dtype)
        arr = np.frombuffer(buf[:need], dtype=self.dtype).reshape(h, w)
        if self._predictor == 2:
            u = arr.view(np.dtype(self._e + f"u{nb}"))
            mask = np.uint64((1 << (8 * nb)) - 1)
            acc = np.cumsum(u.astype(np.uint64), axis=1) & mask
            arr = acc.astype(u.dtype).view(self.dtype)
        return arr

    def read_window(self, r0: int, r1: int, c0: int, c1: int) -> np.ndarray:
        """Boundless masked window read → float64 with NaN for nodata and
        for the margin outside the raster (the same contract as the
        rasterio path's ``masked=True, boundless=True`` read followed by
        ``np.ma.filled(..., nan)``, sources/raster.py:278-290). Only the
        chunks intersecting the window are decoded."""
        if r1 <= r0 or c1 <= c0:
            return np.full((max(r1 - r0, 0), max(c1 - c0, 0)), np.nan)
        out = np.full((r1 - r0, c1 - c0), np.nan, dtype="float64")
        rr0, rr1 = max(r0, 0), min(r1, self.height)
        cc0, cc1 = max(c0, 0), min(c1, self.width)
        if rr1 <= rr0 or cc1 <= cc0:
            return out
        ch, cw = self._chunk_h, self._chunk_w
        for ty in range(rr0 // ch, (rr1 - 1) // ch + 1):
            rows_in = min(self.height - ty * ch, ch)
            for tx in range(cc0 // cw, (cc1 - 1) // cw + 1):
                idx = ty * self._across + tx
                chunk = self._decode_chunk(idx, rows_in)
                gr0 = max(rr0, ty * ch)
                gr1 = min(rr1, ty * ch + rows_in)
                gc0 = max(cc0, tx * cw)
                gc1 = min(cc1, tx * cw + min(self.width - tx * cw, cw))
                if gr1 <= gr0 or gc1 <= gc0:
                    continue
                block = chunk[
                    gr0 - ty * ch : gr1 - ty * ch, gc0 - tx * cw : gc1 - tx * cw
                ].astype("float64")
                out[gr0 - r0 : gr1 - r0, gc0 - c0 : gc1 - c0] = block
        if self.nodata is not None and not np.isnan(self.nodata):
            out[out == float(self.nodata)] = np.nan
        return out

    def read_full(self) -> np.ndarray:
        return self.read_window(0, self.height, 0, self.width)

    def overview(self, index: int) -> "MiniTiffDataset":
        """Open overview level ``index`` (0 = first overview = IFD 1) as its
        own dataset. The caller closes it. Overview IFDs carry no geo tags
        (COG convention) — derive georeferencing from IFD 0's transform
        scaled by the decimation factor ``round(width / ov.width)``."""
        return MiniTiffDataset(self.path, ifd_index=index + 1)

    def overviews_cached(self) -> list[tuple[int, "MiniTiffDataset"]]:
        """(factor, dataset) per reduced-resolution IFD, ascending by factor,
        opened once and owned by (closed with) this dataset. Only IFDs that
        look like genuine COG overviews count: NewSubfileType=1 and dims
        equal to ``ceil(full / factor)`` for an integer factor >= 2 — a
        multi-page TIFF's unrelated pages are not overviews."""
        cached = getattr(self, "_ov_cache", None)
        if cached is not None:
            return cached
        ovs: list[tuple[int, MiniTiffDataset]] = []
        for i in range(1, self.n_ifds):
            try:
                ov = MiniTiffDataset(self.path, ifd_index=i)
            except TiffError:
                break
            if ov._scalar(254, default=0) != 1 or ov.width <= 0:
                ov.close()
                continue
            factor = round(self.width / ov.width)
            if (
                factor >= 2
                and -(-self.width // factor) == ov.width
                and -(-self.height // factor) == ov.height
            ):
                ovs.append((factor, ov))
            else:
                ov.close()
        ovs.sort(key=lambda t: t[0])
        self._ov_cache = ovs
        return ovs

    def close(self) -> None:
        for _f, ov in getattr(self, "_ov_cache", None) or []:
            try:
                ov.close()
            except Exception:
                pass
        self._ov_cache = None
        self._fh.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


# -- handle cache (same close-on-evict LRU policy as the rasterio path's
#    _open_dataset, sources/raster.py:167-207) ------------------------------

# path -> (dataset, (mtime_ns, size)); the stat signature invalidates stale
# parsed offsets when a file is rewritten in place (ADVICE r6)
_CACHE: "OrderedDict[str, tuple[MiniTiffDataset, tuple[int, int]]]" = OrderedDict()
_CACHE_MAX = 32


def open_cached(path: str) -> MiniTiffDataset:
    import os

    if _HTTP_RE.match(path):
        # remote objects: no cheap mtime probe — cache for the process
        # lifetime, exactly GDAL's /vsicurl/ default. cache_clear() resets.
        sig = ("http",)
    else:
        st = os.stat(path)
        sig = (st.st_mtime_ns, st.st_size)
    hit = _CACHE.get(path)
    if hit is not None:
        ds, cached_sig = hit
        if cached_sig == sig:
            _CACHE.move_to_end(path)
            return ds
        # the file changed under us (rewritten fixture, re-synced object):
        # cached IFD/chunk offsets would read garbage — drop and reopen
        del _CACHE[path]
        try:
            ds.close()
        except Exception:
            pass
    ds = MiniTiffDataset(path)
    _CACHE[path] = (ds, sig)
    if len(_CACHE) > _CACHE_MAX:
        _, (old, _sig) = _CACHE.popitem(last=False)
        old.close()
    return ds


def cache_clear() -> None:
    while _CACHE:
        _, (old, _sig) = _CACHE.popitem()
        try:
            old.close()
        except Exception:
            pass


# -- writer ----------------------------------------------------------------


def from_origin(west: float, north: float, xres: float, yres: float) -> tuple:
    """rasterio.transform.from_origin-compatible helper → affine 6-tuple."""
    return (xres, 0.0, west, 0.0, -yres, north)


_W_DTYPES = {
    np.dtype(k): v
    for k, v in {
        "u1": (1, 8),
        "u2": (1, 16),
        "u4": (1, 32),
        "i1": (2, 8),
        "i2": (2, 16),
        "i4": (2, 32),
        "f4": (3, 32),
        "f8": (3, 64),
    }.items()
}


def _predict2(chunk: np.ndarray) -> bytes:
    nb = chunk.dtype.itemsize
    u = np.ascontiguousarray(chunk).view(f"<u{nb}")
    out = u.copy()
    out[:, 1:] = u[:, 1:] - u[:, :-1]  # modular wrap is the TIFF contract
    return out.tobytes()


def _predict3(chunk: np.ndarray) -> bytes:
    nb = chunk.dtype.itemsize
    h, w = chunk.shape
    be = chunk.astype(f">f{nb}").view(np.uint8).reshape(h, w, nb)
    planes = np.ascontiguousarray(be.transpose(0, 2, 1)).reshape(h, w * nb)
    out = planes.copy()
    out[:, 1:] = planes[:, 1:] - planes[:, :-1]
    return out.tobytes()


# Geographic (2D lat/lon) CRSs the engine's built-in transform layer knows
# about, plus the rest of the commonly tagged geographic codes. The 4000-5000
# block is NOT uniformly geographic (EPSG:4087/4088 are projected world
# equidistant grids), so a range test would misfile them into
# GeographicTypeGeoKey for external readers; key off an explicit set and
# treat everything else as projected. Self round-trip is unaffected either
# way (_parse_epsg reads both keys); this only affects what GDAL sees.
_GEOGRAPHIC_EPSG = frozenset(
    {4326, 4267, 4269, 4258, 4283, 4490, 4617, 4619, 4674, 4759, 4765, 4612}
)


def _is_geographic_epsg(epsg: int) -> bool:
    return epsg in _GEOGRAPHIC_EPSG


def write_geotiff(
    path,
    arr: np.ndarray,
    epsg: int | None,
    transform: tuple,
    nodata: float | None = None,
    tile: tuple[int, int] | None = (64, 64),
    rows_per_strip: int | None = None,
    compress: str = "deflate",
    predictor: int = 1,
    bigtiff: bool = False,
    overviews: list[int] | None = None,
) -> str:
    """Write a single-band little-endian GeoTIFF (classic, or BigTIFF with
    ``bigtiff=True`` — 8-byte offsets, LONG8 chunk tables).

    ``transform`` is the affine 6-tuple ``(a, b, c, d, e, f)`` (use
    :func:`from_origin`); only rectilinear (b == d == 0) grids are written.
    ``tile=None`` writes strips (``rows_per_strip`` rows each, default 16).
    ``compress`` is ``"deflate"``, ``"lzw"`` or ``"none"``; ``predictor``
    1, 2 (ints) or 3 (floats).

    ``overviews`` (e.g. ``[2, 4, 8]``) appends COG-style reduced-resolution
    IFDs, nearest-decimated, tagged NewSubfileType=1, chained after the
    full-resolution IFD. Geo tags live on IFD 0 only (COG convention);
    read them back with ``MiniTiffDataset(path, ifd_index=i)`` or
    :meth:`MiniTiffDataset.overview`.
    """
    arr = np.ascontiguousarray(arr)
    if arr.ndim != 2:
        raise ValueError(f"write_geotiff writes single-band 2-D arrays, got {arr.shape}")
    dt = np.dtype(arr.dtype.str.lstrip("<>=|"))
    if dt not in _W_DTYPES:
        raise ValueError(f"unsupported dtype {arr.dtype}")
    if transform[1] != 0.0 or transform[3] != 0.0:
        raise ValueError("write_geotiff writes rectilinear grids only (b == d == 0)")
    if compress not in ("deflate", "lzw", "none"):
        raise ValueError(
            f"compress must be 'deflate', 'lzw' or 'none', got {compress!r}"
        )
    if predictor not in (1, 2, 3):
        raise ValueError(f"predictor must be 1, 2 or 3, got {predictor}")
    if predictor == 2 and dt.kind == "f":
        raise ValueError("predictor 2 is for integer samples; use 3 for floats")
    if predictor == 3 and dt.kind != "f":
        raise ValueError("predictor 3 is for float samples; use 2 for integers")
    arr = arr.astype("<" + dt.str[1:])
    h, w = arr.shape
    fmt, bits = _W_DTYPES[dt]

    if overviews:
        factors = sorted({int(v) for v in overviews})
        if any(v < 2 for v in factors):
            raise ValueError(f"overview factors must be >= 2, got {overviews}")
        if tile is None:
            raise ValueError("overviews require tiled layout (the COG convention)")
    else:
        factors = []
    # nearest-decimated pyramid (GDAL NEAREST overview convention: sample
    # the top-left source pixel of each fxf block)
    levels = [arr] + [np.ascontiguousarray(arr[::v, ::v]) for v in factors]

    def _pack(typ: str, vals) -> bytes:
        return struct.pack("<" + typ * len(vals), *vals)

    def _chunk_level(lv: np.ndarray) -> list[np.ndarray]:
        lh, lw = lv.shape
        chunks: list[np.ndarray] = []
        if tile is not None:
            th, tw = tile
            if th % 16 or tw % 16:
                raise ValueError(f"tile dims must be multiples of 16, got {tile}")
            pad_val = nodata if (nodata is not None and not np.isnan(nodata)) else 0
            for ty in range(-(-lh // th)):
                for tx in range(-(-lw // tw)):
                    block = np.full((th, tw), pad_val, dtype=lv.dtype)
                    src = lv[ty * th : ty * th + th, tx * tw : tx * tw + tw]
                    block[: src.shape[0], : src.shape[1]] = src
                    chunks.append(block)
        else:
            rps = rows_per_strip or min(16, lh)
            for sy in range(-(-lh // rps)):
                chunks.append(lv[sy * rps : sy * rps + rps, :])
        return chunks

    def _encode(chunks: list[np.ndarray]) -> list[bytes]:
        blobs = []
        for chunk in chunks:
            if predictor == 2:
                raw = _predict2(chunk)
            elif predictor == 3:
                raw = _predict3(chunk)
            else:
                raw = chunk.tobytes()
            if compress == "deflate":
                raw = zlib.compress(raw, 6)
            elif compress == "lzw":
                raw = _lzw_encode(raw)
            blobs.append(raw)
        return blobs

    def _base_entries(lv: np.ndarray, first: bool) -> list[tuple[int, int, int, bytes]]:
        lh, lw = lv.shape
        entries: list[tuple[int, int, int, bytes]] = [
            (_T_WIDTH, 4, 1, _pack("I", [lw])),
            (_T_HEIGHT, 4, 1, _pack("I", [lh])),
            (_T_BITS, 3, 1, _pack("H", [bits])),
            (_T_COMPRESSION, 3, 1, _pack("H", [{"deflate": 8, "lzw": 5, "none": 1}[compress]])),
            (_T_PHOTOMETRIC, 3, 1, _pack("H", [1])),
            (_T_SAMPLES, 3, 1, _pack("H", [1])),
            (_T_PLANAR, 3, 1, _pack("H", [1])),
            (_T_SAMPLE_FORMAT, 3, 1, _pack("H", [fmt])),
        ]
        if not first:
            # NewSubfileType: reduced-resolution subfile (TIFF 6.0 tag 254)
            entries.append((254, 4, 1, _pack("I", [1])))
        if predictor != 1:
            entries.append((_T_PREDICTOR, 3, 1, _pack("H", [predictor])))
        if first:
            a, b_, c, d_, e, f = (float(v) for v in transform)
            entries.append((_T_PIXEL_SCALE, 12, 3, _pack("d", [a, -e, 0.0])))
            entries.append((_T_TIEPOINT, 12, 6, _pack("d", [0.0, 0.0, 0.0, c, f, 0.0])))
            if epsg is not None:
                model = 2 if _is_geographic_epsg(epsg) else 1
                cs_key = _GK_GEOGRAPHIC_CS if model == 2 else _GK_PROJECTED_CS
                geokeys = [1, 1, 0, 3, _GK_MODEL_TYPE, 0, 1, model,
                           _GK_RASTER_TYPE, 0, 1, 1, cs_key, 0, 1, epsg]
                entries.append((_T_GEO_KEYS, 3, len(geokeys), _pack("H", geokeys)))
        if nodata is not None:
            txt = (b"nan" if np.isnan(nodata) else repr(float(nodata)).encode()) + b"\x00"
            entries.append((_T_GDAL_NODATA, 2, len(txt), txt))
        if tile is not None:
            entries.append((_T_TILE_W, 4, 1, _pack("I", [tile[1]])))
            entries.append((_T_TILE_H, 4, 1, _pack("I", [tile[0]])))
        else:
            entries.append((_T_ROWS_PER_STRIP, 4, 1, _pack("I", [rows_per_strip or min(16, lh)])))
        return entries

    # global layout: header | [level data | level overflow | level IFD]...
    # Each next-IFD pointer jumps forward over the following level's data.
    inline = 8 if bigtiff else 4
    off_fmt = "Q" if bigtiff else "I"
    arr_typ = 16 if bigtiff else 4  # LONG8 chunk tables in BigTIFF
    nsize = 8 if bigtiff else 2
    esize = 20 if bigtiff else 12
    ptr = 8 if bigtiff else 4
    off_tag = _T_TILE_OFFSETS if tile is not None else _T_STRIP_OFFSETS
    cnt_tag = _T_TILE_COUNTS if tile is not None else _T_STRIP_COUNTS

    pos = 16 if bigtiff else 8
    plan = []  # (blobs, fields, overflow, ifd_off) per level
    for li, lv in enumerate(levels):
        blobs = _encode(_chunk_level(lv))
        chunk_offsets = []
        for blob in blobs:
            chunk_offsets.append(pos)
            pos += len(blob) + (-len(blob)) % 4
        entries = _base_entries(lv, li == 0)
        entries.append((off_tag, arr_typ, len(blobs), _pack(off_fmt, chunk_offsets)))
        entries.append((cnt_tag, arr_typ, len(blobs), _pack(off_fmt, [len(b) for b in blobs])))
        entries.sort(key=lambda t: t[0])
        overflow: list[bytes] = []
        fields = []
        for tag, typ, cnt, data in entries:
            if len(data) <= inline:
                fields.append((tag, typ, cnt, data.ljust(inline, b"\x00")))
            else:
                pad = (-len(data)) % 4
                overflow.append(data + b"\x00" * pad)
                fields.append((tag, typ, cnt, struct.pack("<" + off_fmt, pos)))
                pos += len(data) + pad
        ifd_off = pos
        pos += nsize + esize * len(fields) + ptr
        plan.append((blobs, fields, overflow, ifd_off))

    with open(path, "wb") as fh:
        if bigtiff:
            fh.write(struct.pack("<2sHHHQ", b"II", 43, 8, 0, plan[0][3]))
        else:
            fh.write(struct.pack("<2sHI", b"II", 42, plan[0][3]))
        for li, (blobs, fields, overflow, ifd_off) in enumerate(plan):
            for blob in blobs:
                fh.write(blob)
                fh.write(b"\x00" * ((-len(blob)) % 4))
            for data in overflow:
                fh.write(data)
            assert fh.tell() == ifd_off
            next_off = plan[li + 1][3] if li + 1 < len(plan) else 0
            if bigtiff:
                fh.write(struct.pack("<Q", len(fields)))
                for tag, typ, cnt, val in fields:
                    fh.write(struct.pack("<HHQ", tag, typ, cnt) + val)
                fh.write(struct.pack("<Q", next_off))
            else:
                fh.write(struct.pack("<H", len(fields)))
                for tag, typ, cnt, val in fields:
                    fh.write(struct.pack("<HHI", tag, typ, cnt) + val)
                fh.write(struct.pack("<I", next_off))
    return str(path)


_REMOTE_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def local_path(url: str) -> str | None:
    """file:// or bare path → filesystem path; remote schemes → None."""
    if url.startswith("file://"):
        return url[7:]
    if _REMOTE_RE.match(url):
        return None
    return url
