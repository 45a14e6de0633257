"""Binary .xls (BIFF8/OLE2) reader tests.

No Excel library exists in this environment, so these tests build real
BIFF8 files with a minimal test-only writer: an OLE2 container (including
the mini-stream/miniFAT path small Workbook streams use) wrapping a BIFF8
record stream. The writer intentionally emits the record types the reader
must handle: SST (compressed + UTF-16 + CONTINUE splits), LABELSST,
NUMBER, RK, MULRK, BOOLERR.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from astro_sdk_spark.xls import _decode_rk, read_xls

FREE = 0xFFFFFFFF
END = 0xFFFFFFFE
FATSECT = 0xFFFFFFFD


def _rec(rid: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rid, len(payload)) + payload


def _sst_payload(strings: list[str]) -> bytes:
    out = struct.pack("<II", len(strings), len(strings))
    for s in strings:
        try:
            raw = s.encode("latin-1")
            grbit = 0
        except UnicodeEncodeError:
            raw = s.encode("utf-16-le")
            grbit = 1
        # the character count is in UTF-16 code units: a character outside
        # the BMP counts twice (surrogate pair)
        n_chars = len(raw) // 2 if grbit else len(raw)
        out += struct.pack("<HB", n_chars, grbit) + raw
    return out


def _cell_rk(r: int, c: int, rk: int) -> bytes:
    return _rec(0x027E, struct.pack("<HHHI", r, c, 0, rk))


def _cell_num(r: int, c: int, v: float) -> bytes:
    return _rec(0x0203, struct.pack("<HHH", r, c, 0) + struct.pack("<d", v))


def _cell_sst(r: int, c: int, isst: int) -> bytes:
    return _rec(0x00FD, struct.pack("<HHHI", r, c, 0, isst))


def _cell_bool(r: int, c: int, v: bool) -> bytes:
    return _rec(0x0205, struct.pack("<HHHBB", r, c, 0, int(v), 0))


def _mulrk(r: int, c0: int, rks: list[int]) -> bytes:
    body = struct.pack("<HH", r, c0)
    for rk in rks:
        body += struct.pack("<HI", 0, rk)
    body += struct.pack("<H", c0 + len(rks) - 1)
    return _rec(0x00BD, body)


def _rk_int(v: int) -> int:
    return ((v & 0x3FFFFFFF) << 2) | 0x02


def _workbook_stream(sst_records: bytes, sheet_cells: bytes) -> bytes:
    bof_g = _rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    bof_s = _rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
    eof = _rec(0x000A, b"")
    sheet = bof_s + sheet_cells + eof
    # BOUNDSHEET needs the sheet BOF offset — assemble globals with a
    # placeholder first to learn its size.
    name = b"\x06\x00Sheet1"
    bs = _rec(0x0085, struct.pack("<IH", 0, 0) + name)
    globals_ = bof_g + sst_records + bs + eof
    bs = _rec(0x0085, struct.pack("<IH", len(globals_), 0) + name)
    globals_ = bof_g + sst_records + bs + eof
    return globals_ + sheet


def _ole_wrap(wb: bytes) -> bytes:
    """Wrap a Workbook stream in a CFB container.

    Streams under 4096 bytes go through the mini stream + miniFAT (the
    layout Excel uses for small files), exercising the reader's miniFAT
    path. Larger streams use the regular FAT."""
    sector = 512
    if len(wb) < 4096:
        n_mini = max(1, -(-len(wb) // 64))
        mini_data = wb + b"\x00" * (n_mini * 64 - len(wb))
        n_mini_sect = -(-len(mini_data) // sector)
        mini_data += b"\x00" * (n_mini_sect * sector - len(mini_data))
        minifat = [i + 1 for i in range(n_mini - 1)] + [END]
        minifat += [FREE] * (sector // 4 - len(minifat))
        # sectors: 0=FAT, 1=dir, 2=miniFAT, 3..=mini stream data
        fat = [FATSECT, END, END]
        for i in range(n_mini_sect):
            fat.append(3 + i + 1 if i < n_mini_sect - 1 else END)
        fat += [FREE] * (sector // 4 - len(fat))
        dir_entries = _dir(root_start=3, root_size=len(mini_data),
                           wb_start=0, wb_size=len(wb))
        body = (struct.pack(f"<{sector // 4}I", *fat) + dir_entries +
                struct.pack(f"<{sector // 4}I", *minifat) + mini_data)
        header = _cfb_header(n_fat=1, dir_start=1, minifat_start=2,
                             n_minifat=1, difat0=0)
        return header + body
    n_wb = -(-len(wb) // sector)
    wb_data = wb + b"\x00" * (n_wb * sector - len(wb))
    # sectors: 0=FAT, 1=dir, 2..=workbook
    fat = [FATSECT, END]
    for i in range(n_wb):
        fat.append(2 + i + 1 if i < n_wb - 1 else END)
    fat += [FREE] * (sector // 4 - len(fat))
    dir_entries = _dir(root_start=END, root_size=0, wb_start=2, wb_size=len(wb))
    header = _cfb_header(n_fat=1, dir_start=1, minifat_start=END,
                         n_minifat=0, difat0=0)
    return header + struct.pack(f"<{sector // 4}I", *fat) + dir_entries + wb_data


def _dir_entry(name: str, obj_type: int, start: int, size: int) -> bytes:
    raw = name.encode("utf-16-le") + b"\x00\x00"
    e = raw + b"\x00" * (64 - len(raw))
    e += struct.pack("<H", len(raw))
    e += bytes([obj_type, 0])
    e += struct.pack("<iii", -1, -1, -1)  # siblings/child: mine ignores
    e += b"\x00" * 16 + b"\x00" * 4 + b"\x00" * 16  # clsid, state, times
    e += struct.pack("<IQ", start, size)
    assert len(e) == 128
    return e


def _dir(root_start: int, root_size: int, wb_start: int, wb_size: int) -> bytes:
    entries = (
        _dir_entry("Root Entry", 5, root_start, root_size)
        + _dir_entry("Workbook", 2, wb_start, wb_size)
        + b"\x00" * 256
    )
    return entries


def _cfb_header(n_fat: int, dir_start: int, minifat_start: int,
                n_minifat: int, difat0: int) -> bytes:
    h = bytearray(512)
    h[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", h, 26, 0x003E)   # minor version
    struct.pack_into("<H", h, 28, 0x0003)   # major version 3
    struct.pack_into("<H", h, 30, 9)        # sector shift (512)
    struct.pack_into("<H", h, 32, 6)        # mini shift (64)
    struct.pack_into("<I", h, 44, n_fat)
    struct.pack_into("<I", h, 48, dir_start)
    struct.pack_into("<I", h, 56, 4096)     # mini cutoff
    struct.pack_into("<I", h, 60, minifat_start)
    struct.pack_into("<I", h, 64, n_minifat)
    struct.pack_into("<I", h, 68, END)      # no DIFAT chain
    struct.pack_into("<I", h, 72, 0)
    struct.pack_into("<I", h, 76, difat0)
    for i in range(1, 109):
        struct.pack_into("<I", h, 76 + 4 * i, FREE)
    return bytes(h)


def _write_xls(path, columns, rows) -> None:
    strings: list[str] = []

    def isst(s: str) -> int:
        if s not in strings:
            strings.append(s)
        return strings.index(s)

    cells = b""
    for c, name in enumerate(columns):
        cells += _cell_sst(0, c, isst(name))
    for r, row in enumerate(rows, start=1):
        for c, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, bool):
                cells += _cell_bool(r, c, v)
            elif isinstance(v, int) and abs(v) < 2**29:
                cells += _cell_rk(r, c, _rk_int(v))
            elif isinstance(v, (int, float)):
                cells += _cell_num(r, c, float(v))
            else:
                cells += _cell_sst(r, c, isst(str(v)))
    sst = _rec(0x00FC, _sst_payload(strings))
    wb = _workbook_stream(sst, cells)
    with open(path, "wb") as f:
        f.write(_ole_wrap(wb))


# ------------------------------------------------------------------- tests


def test_rk_decoding():
    assert _decode_rk(_rk_int(42)) == 42
    assert _decode_rk(_rk_int(-7)) == -7
    assert _decode_rk(_rk_int(150) | 0x01) == 1.5      # div-100 flag
    packed = struct.unpack("<I", struct.pack("<d", 2.5)[4:])[0] & 0xFFFFFFFC
    assert _decode_rk(packed) == 2.5                   # truncated double


def test_read_xls_roundtrip(tmp_path):
    p = str(tmp_path / "t.xls")
    cols = ["id", "name", "score", "active"]
    rows = [
        [1, "alice", 91.5, True],
        [2, "bõb", -3, False],       # non-latin1 forces a UTF-16 SST entry
        [3, None, 1000000, True],
    ]
    _write_xls(p, cols, rows)
    header, out = read_xls(p)
    assert header == cols
    assert out == rows


def test_read_xls_large_stream_regular_fat(tmp_path):
    # >4096-byte workbook stream → regular FAT path
    p = str(tmp_path / "big.xls")
    cols = ["k", "v"]
    rows = [[i, f"value-{i}"] for i in range(400)]
    _write_xls(p, cols, rows)
    header, out = read_xls(p)
    assert header == cols
    assert out == rows


def test_read_xls_mulrk(tmp_path):
    p = str(tmp_path / "m.xls")
    sst = _rec(0x00FC, _sst_payload(["a", "b", "c"]))
    cells = (
        _cell_sst(0, 0, 0) + _cell_sst(0, 1, 1) + _cell_sst(0, 2, 2)
        + _mulrk(1, 0, [_rk_int(10), _rk_int(20), _rk_int(30)])
    )
    with open(p, "wb") as f:
        f.write(_ole_wrap(_workbook_stream(sst, cells)))
    header, out = read_xls(p)
    assert header == ["a", "b", "c"]
    assert out == [[10, 20, 30]]


def test_sst_continue_split(tmp_path):
    # String "abcdef" split mid-characters across SST → CONTINUE, with the
    # continuation switching to UTF-16 (fresh flag byte per fragment).
    p = str(tmp_path / "cont.xls")
    sst_part = (
        struct.pack("<II", 2, 2)
        + struct.pack("<HB", 6, 0) + b"abc"            # 3 of 6 chars here
    )
    cont = b"\x01" + "def".encode("utf-16-le") + struct.pack("<HB", 2, 0) + b"hi"
    sst = _rec(0x00FC, sst_part) + _rec(0x003C, cont)
    cells = _cell_sst(0, 0, 0) + _cell_sst(0, 1, 1) + _cell_rk(1, 0, _rk_int(5))
    with open(p, "wb") as f:
        f.write(_ole_wrap(_workbook_stream(sst, cells)))
    header, out = read_xls(p)
    assert header == ["abcdef", "hi"]
    assert out == [[5, None]]


def test_engine_reads_xls(spark, tmp_path):
    from astro_sdk_spark.engine import SparkEngine
    from astro_sdk_spark.files import File, FileType

    p = str(tmp_path / "e.xls")
    _write_xls(p, ["id", "name"], [[1, "x"], [2, "y"]])
    df = SparkEngine(spark).read_file(File(path=p, filetype=FileType.XLS))
    assert {(r.id, r.name) for r in df.collect()} == {(1, "x"), (2, "y")}


def test_export_to_file_xls_is_unsupported(spark, tmp_path):
    """.xls is read-only: export refuses it like any other unknown type."""
    from astro_sdk_spark.files import File
    from astro_sdk_spark.operators.export import export_to_file

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    with pytest.raises(ValueError, match="Unsupported export type"):
        export_to_file(df, File(str(tmp_path / "frame.xls")))


def test_not_ole_raises(tmp_path):
    p = tmp_path / "fake.xls"
    p.write_bytes(b"this is not an excel file at all, not even close")
    with pytest.raises(ValueError, match="OLE2"):
        read_xls(str(p))


_cell = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2 ** 52), max_value=2 ** 52),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=40),
)


@given(
    st.integers(min_value=1, max_value=5).flatmap(
        lambda ncols: st.tuples(
            st.lists(
                st.text(
                    alphabet=st.characters(
                        blacklist_categories=("Cs",), min_codepoint=32
                    ),
                    min_size=1,
                    max_size=12,
                ),
                min_size=ncols,
                max_size=ncols,
            ),
            st.lists(
                st.lists(_cell, min_size=ncols, max_size=ncols),
                max_size=8,
            ),
        )
    )
)
@settings(max_examples=40, deadline=None)
def test_xls_read_round_trip_property(header_rows):
    import os
    import tempfile

    header, rows = header_rows
    fd, path = tempfile.mkstemp(suffix=".xls")
    os.close(fd)
    try:
        _write_xls(path, header, rows)
        h2, r2 = read_xls(path)
        # reader infers width from the rightmost populated cell; trailing
        # all-None columns (and all-None tail rows) legitimately collapse
        assert h2 == header[: len(h2)]
        assert len(r2) <= len(rows)
        for got, exp in zip(r2, rows):
            for g, e in zip(got, exp[: len(got)]):
                if isinstance(e, float) and g is not None:
                    assert float(g) == e
                elif isinstance(e, str):
                    # headers/cells survive as written
                    assert g == e or (g is None and e == "")
                else:
                    assert g == e
    finally:
        os.unlink(path)
