"""Stdlib-only legacy binary ``.xls`` (BIFF8) reader.

Reference parity: ``python-sdk/src/astro/files/types/excel.py:13-46`` reads
``.xls`` via ``pd.read_excel`` (xlrd under the hood). Pandas lost ``.xls``
writing when xlwt was retired, so ``.xls`` is read-only here: export to
``.xlsx`` instead. Neither xlrd nor any Excel library is available in this
environment, so this module implements the subset of the public formats
needed to load a worksheet:

- the OLE2 / Compound File Binary container ([MS-CFB]): header, DIFAT,
  FAT chains, directory entries, and the mini-stream/miniFAT for streams
  under the 4096-byte cutoff;
- the BIFF8 record stream ([MS-XLS]): SST shared strings (including
  CONTINUE-record splits with per-fragment compression flags), BOUNDSHEET
  offsets, and the cell records LABELSST, LABEL, NUMBER, RK, MULRK,
  BOOLERR, FORMULA (cached result + trailing STRING), BLANK/MULBLANK.

Scope matches the xlsx module: driver-side small-file path (xls caps at
65536 rows by format), first worksheet, first row = header. Date cells are
returned as their raw serial numbers — distinguishing dates from plain
numbers requires the XF/FORMAT record chain, which ``pd.read_excel``
resolves via xlrd; callers needing datetimes should convert explicitly.
"""

from __future__ import annotations

import struct

_OLE_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FREE = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE

# BIFF8 record ids
_BOF = 0x0809
_EOF = 0x000A
_SST = 0x00FC
_CONTINUE = 0x003C
_BOUNDSHEET = 0x0085
_LABELSST = 0x00FD
_LABEL = 0x0204
_NUMBER = 0x0203
_RK = 0x027E
_MULRK = 0x00BD
_BOOLERR = 0x0205
_FORMULA = 0x0006
_STRING = 0x0207
_BLANK = 0x0201
_MULBLANK = 0x00BE


# ---------------------------------------------------------------- OLE2/CFB


def _sector_chain(data: bytes, fat: list[int], start: int, sector_size: int,
                  offset: int) -> bytes:
    """Concatenate a FAT (or miniFAT) chain starting at ``start``.

    ``offset`` is the byte position of sector 0 (512 for the main FAT,
    0 for chains over an already-extracted mini stream)."""
    out = bytearray()
    sect = start
    seen = 0
    while sect != _ENDOFCHAIN and sect != _FREE:
        pos = offset + sect * sector_size
        out += data[pos:pos + sector_size]
        if sect >= len(fat):
            raise ValueError(f"xls: corrupt sector chain (sector {sect})")
        sect = fat[sect]
        seen += 1
        if seen > len(fat) + 1:
            raise ValueError("xls: cyclic sector chain")
    return bytes(out)


def _u32s(b: bytes) -> list[int]:
    return list(struct.unpack(f"<{len(b) // 4}I", b[: len(b) // 4 * 4]))


def _ole_open_workbook(data: bytes) -> bytes:
    """Parse the CFB container and return the Workbook/Book stream bytes."""
    if data[:8] != _OLE_MAGIC:
        raise ValueError("not an OLE2 compound file (bad magic) — not .xls")
    sector_shift = struct.unpack("<H", data[30:32])[0]
    mini_shift = struct.unpack("<H", data[32:34])[0]
    sector_size = 1 << sector_shift
    mini_size = 1 << mini_shift
    n_fat = struct.unpack("<I", data[44:48])[0]
    dir_start = struct.unpack("<I", data[48:52])[0]
    mini_cutoff = struct.unpack("<I", data[56:60])[0]
    minifat_start = struct.unpack("<I", data[60:64])[0]
    difat_start = struct.unpack("<I", data[68:72])[0]
    n_difat = struct.unpack("<I", data[72:76])[0]

    # DIFAT: 109 entries in the header, then chained DIFAT sectors whose
    # last u32 points at the next DIFAT sector.
    difat = _u32s(data[76:512])
    sect = difat_start
    for _ in range(n_difat):
        if sect in (_ENDOFCHAIN, _FREE):
            break
        pos = 512 + sect * sector_size
        entries = _u32s(data[pos:pos + sector_size])
        difat += entries[:-1]
        sect = entries[-1]
    fat_sectors = [s for s in difat if s not in (_FREE, _ENDOFCHAIN)][:n_fat]

    fat: list[int] = []
    for s in fat_sectors:
        pos = 512 + s * sector_size
        fat += _u32s(data[pos:pos + sector_size])

    directory = _sector_chain(data, fat, dir_start, sector_size, 512)
    root_start = root_size = None
    wb_start = wb_size = None
    for off in range(0, len(directory) - 127, 128):
        entry = directory[off:off + 128]
        name_len = struct.unpack("<H", entry[64:66])[0]
        if name_len < 2:
            continue
        name = entry[: name_len - 2].decode("utf-16-le", errors="replace")
        obj_type = entry[66]
        start = struct.unpack("<I", entry[116:120])[0]
        size = struct.unpack("<Q", entry[120:128])[0]
        if obj_type == 5:  # root storage → mini stream location
            root_start, root_size = start, size
        elif obj_type == 2 and name in ("Workbook", "Book"):
            wb_start, wb_size = start, size
    if wb_start is None:
        raise ValueError("xls: no Workbook/Book stream in OLE2 container")

    if wb_size >= mini_cutoff:
        return _sector_chain(data, fat, wb_start, sector_size, 512)[:wb_size]

    # Small stream: lives in the mini stream, chained through the miniFAT.
    if root_start is None:
        raise ValueError("xls: mini stream missing root entry")
    mini_stream = _sector_chain(data, fat, root_start, sector_size, 512)[:root_size]
    minifat = _u32s(_sector_chain(data, fat, minifat_start, sector_size, 512))
    return _sector_chain(mini_stream, minifat, wb_start, mini_size, 0)[:wb_size]


# ------------------------------------------------------------------ BIFF8


def _records(stream: bytes):
    """Yield (record_id, payload_offset, payload_len) without copying."""
    pos = 0
    n = len(stream)
    while pos + 4 <= n:
        rid, ln = struct.unpack_from("<HH", stream, pos)
        if rid == 0:
            break
        yield rid, pos + 4, ln
        pos += 4 + ln


def _parse_sst(stream: bytes, offset: int, length: int) -> list[str]:
    """Parse the SST record plus its CONTINUE records.

    Strings are XLUnicodeRichExtendedString: cch(2) grbit(1)
    [cRun(2) if rich] [cbExt(4) if ext] chars(cch or 2*cch bytes)
    [4*cRun rich bytes] [cbExt bytes]. A string may split across a
    CONTINUE boundary; when the split lands inside the character data,
    the continuation opens with a fresh compression-flag byte."""
    # Gather the SST payload fragments: the SST record itself, then every
    # directly following CONTINUE record.
    frags: list[bytes] = [stream[offset:offset + length]]
    pos = offset + length
    while pos + 4 <= len(stream):
        rid, ln = struct.unpack_from("<HH", stream, pos)
        if rid != _CONTINUE:
            break
        frags.append(stream[pos + 4:pos + 4 + ln])
        pos += 4 + ln

    n_unique = struct.unpack_from("<I", frags[0], 4)[0]
    strings: list[str] = []
    fi = 0                      # fragment index
    fp = 8                      # position within fragment (skip cst+cstUnique)

    def _avail() -> int:
        return len(frags[fi]) - fp

    def _advance_fragment() -> None:
        nonlocal fi, fp
        fi += 1
        fp = 0
        if fi >= len(frags):
            raise ValueError("xls: SST truncated")

    def _read(nbytes: int) -> bytes:
        """Read raw bytes that may NOT span fragments mid-field headers —
        used for fixed headers, which Excel never splits."""
        nonlocal fp
        if _avail() == 0:
            _advance_fragment()
        if _avail() < nbytes:
            raise ValueError("xls: SST field split unexpectedly")
        out = frags[fi][fp:fp + nbytes]
        fp += nbytes
        return out

    def _read_chars(cch: int, high: bool) -> str:
        """Read cch UTF-16 code units (or compressed bytes), following
        fragment splits; each new fragment restarts with its own
        compression-flag byte. UTF-16 spans run through an incremental
        decoder so a surrogate pair split across a CONTINUE boundary
        (legal — cch counts code units) reassembles correctly."""
        import codecs as _codecs

        nonlocal fp
        dec = _codecs.getincrementaldecoder("utf-16-le")()
        out: list[str] = []
        remaining = cch
        width = 2 if high else 1
        while remaining:
            if _avail() == 0:
                _advance_fragment()
                flag = frags[fi][fp]
                fp += 1
                high = bool(flag & 0x01)
                width = 2 if high else 1
            take = min(remaining, _avail() // width)
            if take == 0:
                raise ValueError("xls: SST char data truncated")
            raw = frags[fi][fp:fp + take * width]
            fp += take * width
            out.append(dec.decode(raw) if high else raw.decode("latin-1"))
            remaining -= take
        out.append(dec.decode(b"", True))
        return "".join(out)

    def _skip(nbytes: int) -> None:
        """Skip trailing rich/ext payloads, which may span fragments."""
        nonlocal fp
        remaining = nbytes
        while remaining:
            if _avail() == 0:
                _advance_fragment()
            take = min(remaining, _avail())
            fp += take
            remaining -= take

    for _ in range(n_unique):
        cch = struct.unpack("<H", _read(2))[0]
        grbit = _read(1)[0]
        high = bool(grbit & 0x01)
        rich = bool(grbit & 0x08)
        ext = bool(grbit & 0x04)
        c_run = struct.unpack("<H", _read(2))[0] if rich else 0
        cb_ext = struct.unpack("<I", _read(4))[0] if ext else 0
        strings.append(_read_chars(cch, high))
        _skip(4 * c_run + cb_ext)
    return strings


def _decode_rk(rk: int) -> float | int:
    """RK-packed number: 30-bit int or truncated IEEE double, /100 flag."""
    f_div100 = rk & 0x01
    f_int = rk & 0x02
    if f_int:
        val: float | int = rk >> 2
        if rk & 0x80000000:  # sign-extend the 30-bit int
            val = (rk >> 2) - (1 << 30)
    else:
        val = struct.unpack("<d", b"\x00\x00\x00\x00" + struct.pack("<I", rk & 0xFFFFFFFC))[0]
    if f_div100:
        val = val / 100
    return val


def _unicode_string(payload: bytes, pos: int) -> str:
    """XLUnicodeString: cch(2) grbit(1) chars — used by LABEL/STRING."""
    cch, grbit = struct.unpack_from("<HB", payload, pos)
    pos += 3
    if grbit & 0x01:
        return payload[pos:pos + 2 * cch].decode("utf-16-le")
    return payload[pos:pos + cch].decode("latin-1")


def _maybe_int(v: float | int):
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
        return int(v)
    return v


def read_xls(path: str) -> tuple[list[str], list[list]]:
    """Read the first worksheet of a BIFF8 .xls → (header, rows).

    Mirrors ``xlsx.read_xlsx``: first row is the header; numeric cells
    come back as int when integral, floats otherwise; missing cells are
    None; rows are padded to the header width.
    """
    with open(path, "rb") as f:
        data = f.read()
    stream = _ole_open_workbook(data)

    sst: list[str] = []
    sheet_offsets: list[int] = []
    for rid, off, ln in _records(stream):
        if rid == _SST:
            sst = _parse_sst(stream, off, ln)
        elif rid == _BOUNDSHEET:
            sheet_offsets.append(struct.unpack_from("<I", stream, off)[0])
        elif rid == _EOF:
            break  # end of workbook-globals substream
    if not sheet_offsets:
        raise ValueError("xls: no worksheets (missing BOUNDSHEET)")

    cells: dict[tuple[int, int], object] = {}
    max_row = -1
    max_col = -1

    def put(r: int, c: int, v: object) -> None:
        nonlocal max_row, max_col
        cells[(r, c)] = v
        max_row = max(max_row, r)
        max_col = max(max_col, c)

    sheet = stream[sheet_offsets[0]:]
    pending_formula: tuple[int, int] | None = None
    depth = 0
    for rid, off, ln in _records(sheet):
        if rid == _BOF:
            depth += 1
            continue
        if rid == _EOF:
            depth -= 1
            if depth <= 0:
                break
            continue
        if rid == _LABELSST:
            r, c, _, isst = struct.unpack_from("<HHHI", sheet, off)
            put(r, c, sst[isst] if isst < len(sst) else None)
        elif rid == _NUMBER:
            r, c, _ = struct.unpack_from("<HHH", sheet, off)
            put(r, c, _maybe_int(struct.unpack_from("<d", sheet, off + 6)[0]))
        elif rid == _RK:
            r, c, _, rk = struct.unpack_from("<HHHI", sheet, off)
            put(r, c, _maybe_int(_decode_rk(rk)))
        elif rid == _MULRK:
            r, c0 = struct.unpack_from("<HH", sheet, off)
            n = (ln - 6) // 6
            for i in range(n):
                rk = struct.unpack_from("<I", sheet, off + 4 + i * 6 + 2)[0]
                put(r, c0 + i, _maybe_int(_decode_rk(rk)))
        elif rid == _BOOLERR:
            r, c, _, val, f_err = struct.unpack_from("<HHHBB", sheet, off)
            put(r, c, None if f_err else bool(val))
        elif rid == _LABEL:
            r, c, _ = struct.unpack_from("<HHH", sheet, off)
            put(r, c, _unicode_string(sheet, off + 6))
        elif rid == _FORMULA:
            r, c, _ = struct.unpack_from("<HHH", sheet, off)
            result = sheet[off + 6:off + 14]
            if result[6:8] == b"\xff\xff":
                kind = result[0]
                if kind == 0:       # string → value in the next STRING record
                    pending_formula = (r, c)
                elif kind == 1:
                    put(r, c, bool(result[2]))
                elif kind == 3:
                    put(r, c, None)
                # kind == 2 (error) → leave missing
            else:
                put(r, c, _maybe_int(struct.unpack("<d", result)[0]))
        elif rid == _STRING and pending_formula is not None:
            put(*pending_formula, _unicode_string(sheet, off))
            pending_formula = None
        elif rid in (_BLANK, _MULBLANK):
            pass

    if max_row < 0:
        return [], []
    width = max_col + 1
    header = [
        str(cells.get((0, c), f"col{c}")) for c in range(width)
    ]
    rows = [
        [cells.get((r, c)) for c in range(width)]
        for r in range(1, max_row + 1)
    ]
    return header, rows
