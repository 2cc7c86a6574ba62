"""sources/xls.py — stdlib BIFF8 .xls reader against hand-built
spec-conformant fixtures.

The fixtures are constructed record-by-record from [MS-CFB]/[MS-XLS]
field layouts (this container ships no xlrd/xlwt to generate or
cross-check real files), covering both CFB placements — the
mini-stream (any Workbook under 4096 bytes, i.e. every small real
.xls) and the regular FAT chain (padded SST) — plus the SST CONTINUE
spill rule and the RK/MULRK/NUMBER/LABELSST/BOOLERR cell records.
"""

from __future__ import annotations

import struct

import pytest

from python_sql_datawarehouse_project_spark.sources.xls import (
    XlsFormatError,
    read_first_sheet_xls,
)

_ENDOFCHAIN = 0xFFFFFFFE
_FREESECT = 0xFFFFFFFF
_FATSECT = 0xFFFFFFFD


# -- BIFF8 record builders -------------------------------------------
def _rec(rid: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rid, len(payload)) + payload


def _bof(dt: int) -> bytes:
    return _rec(
        0x0809, struct.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0)
    )


def _sst_string(s: str, wide: bool = False) -> bytes:
    if wide:
        return struct.pack("<HB", len(s), 0x01) + s.encode("utf-16-le")
    return struct.pack("<HB", len(s), 0x00) + s.encode("latin-1")


def _sst(strings: list[tuple[str, bool]]) -> bytes:
    body = b"".join(_sst_string(s, w) for s, w in strings)
    return _rec(
        0x00FC, struct.pack("<II", len(strings), len(strings)) + body
    )


def _boundsheet(pos: int, name: str = "Sheet1") -> bytes:
    return _rec(
        0x0085,
        struct.pack("<IBB", pos, 0, 0)
        + struct.pack("<BB", len(name), 0)
        + name.encode("latin-1"),
    )


def _labelsst(r: int, c: int, isst: int) -> bytes:
    return _rec(0x00FD, struct.pack("<HHHI", r, c, 0, isst))


def _number(r: int, c: int, v: float) -> bytes:
    return _rec(0x0203, struct.pack("<HHHd", r, c, 0, v))


def _rk_int(v: int, x100: bool = False) -> int:
    rk = ((v & 0x3FFFFFFF) << 2) | 0x02
    return rk | 0x01 if x100 else rk


def _rk(r: int, c: int, rk: int) -> bytes:
    return _rec(0x027E, struct.pack("<HHHI", r, c, 0, rk))


def _mulrk(r: int, c0: int, rks: list[int]) -> bytes:
    body = struct.pack("<HH", r, c0)
    for rk in rks:
        body += struct.pack("<HI", 0, rk)
    body += struct.pack("<H", c0 + len(rks) - 1)
    return _rec(0x00BD, body)


def _boolerr(r: int, c: int, val: bool) -> bytes:
    return _rec(0x0205, struct.pack("<HHHBB", r, c, 0, int(val), 0))


def _workbook_stream(sst_records: bytes) -> bytes:
    """Globals (BOF, SST..., BOUNDSHEET, EOF) + one worksheet whose
    columns stay type-uniform (so the pandas -> Spark routing in
    read_excel infers a clean schema, as with a real landing file).
    Cell-record coverage: RK (int, x100-int, IEEE-double), NUMBER,
    LABELSST (compressed + wide), MULRK (incl. a negative), BOOLERR."""
    sheet = (
        _bof(0x0010)
        + _labelsst(0, 0, 0)  # id
        + _labelsst(0, 1, 1)  # name
        + _labelsst(0, 2, 2)  # score
        + _labelsst(0, 3, 3)  # m1
        + _labelsst(0, 4, 4)  # m2
        + _labelsst(0, 5, 5)  # ok
        + _rk(1, 0, _rk_int(1))
        + _labelsst(1, 1, 6)  # alpha
        + _number(1, 2, 3.5)
        + _mulrk(1, 3, [_rk_int(7), _rk_int(-8)])
        + _boolerr(1, 5, True)
        + _rk(2, 0, _rk_int(250, x100=True))  # 2.5 via x100 int RK
        + _labelsst(2, 1, 7)  # wide string
        + _rk(2, 2, 0x40040000)  # IEEE-double RK of 2.5
        + _mulrk(2, 3, [_rk_int(1), _rk_int(2)])
        + _boolerr(2, 5, False)
        + _rec(0x000A, b"")
    )
    globals_wo_bsheet = _bof(0x0005) + sst_records
    # BOUNDSHEET length is fixed once the name is: compute offset.
    bsheet_len = 4 + 6 + 2 + len("Sheet1")
    sheet_off = len(globals_wo_bsheet) + bsheet_len + 4  # + EOF record
    wb = globals_wo_bsheet + _boundsheet(sheet_off) + _rec(0x000A, b"")
    assert len(wb) == sheet_off
    return wb + sheet


_STRINGS: list[tuple[str, bool]] = [
    ("id", False),
    ("name", False),
    ("score", False),
    ("m1", False),
    ("m2", False),
    ("ok", False),
    ("alpha", False),
    ("日本", True),  # wide (16-bit) SST string
]


# -- [MS-CFB] container builders -------------------------------------
def _dir_entry(
    name: str, otype: int, start: int, size: int, child: int = _FREESECT
) -> bytes:
    raw_name = name.encode("utf-16-le") + b"\x00\x00"
    e = bytearray(128)
    e[: len(raw_name)] = raw_name
    struct.pack_into("<H", e, 64, len(raw_name))
    e[66] = otype
    e[67] = 1  # black
    struct.pack_into("<III", e, 68, _FREESECT, _FREESECT, child)
    struct.pack_into("<I", e, 116, start)
    struct.pack_into("<I", e, 120, size)
    return bytes(e)


def _cfb_header(
    n_fat: int,
    dir_start: int,
    minifat_start: int,
    n_minifat: int,
    fat_sids: list[int],
) -> bytes:
    h = bytearray(512)
    h[:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", h, 24, 0x003E)  # minor
    struct.pack_into("<H", h, 26, 0x0003)  # major (v3)
    struct.pack_into("<H", h, 28, 0xFFFE)  # little-endian
    struct.pack_into("<H", h, 30, 9)  # 512-byte sectors
    struct.pack_into("<H", h, 32, 6)  # 64-byte mini sectors
    struct.pack_into("<I", h, 44, n_fat)
    struct.pack_into("<I", h, 48, dir_start)
    struct.pack_into("<I", h, 56, 4096)  # mini stream cutoff
    struct.pack_into("<I", h, 60, minifat_start)
    struct.pack_into("<I", h, 64, n_minifat)
    struct.pack_into("<I", h, 68, _ENDOFCHAIN)  # no DIFAT chain
    struct.pack_into("<I", h, 72, 0)
    for i in range(109):
        struct.pack_into(
            "<I", h, 76 + 4 * i, fat_sids[i] if i < len(fat_sids) else _FREESECT
        )
    return bytes(h)


def _pad(b: bytes, size: int) -> bytes:
    return b + b"\x00" * (size - len(b) % size if len(b) % size else 0)


def _fat_sector(entries: list[int]) -> bytes:
    full = entries + [_FREESECT] * (128 - len(entries))
    return struct.pack("<128I", *full)


def write_xls_ministream(path: str) -> None:
    """Workbook < 4096 bytes -> stored in the root mini stream."""
    wb = _workbook_stream(_sst(_STRINGS))
    assert len(wb) < 4096
    mini = _pad(wb, 64)
    n_mini = len(mini) // 64
    container = _pad(mini, 512)
    n_container = len(container) // 512
    # sectors: 0=FAT, 1=directory, 2=miniFAT, 3..=mini container
    fat = [_FATSECT, _ENDOFCHAIN, _ENDOFCHAIN]
    for i in range(n_container):
        fat.append(3 + i + 1 if i + 1 < n_container else _ENDOFCHAIN)
    directory = _pad(
        _dir_entry("Root Entry", 5, 3, len(container), child=1)
        + _dir_entry("Workbook", 2, 0, len(wb)),
        512,
    )
    minifat_entries = [
        i + 1 if i + 1 < n_mini else _ENDOFCHAIN for i in range(n_mini)
    ]
    minifat = _pad(struct.pack(f"<{n_mini}I", *minifat_entries), 512)
    blob = (
        _cfb_header(1, 1, 2, 1, [0])
        + _fat_sector(fat)
        + directory
        + minifat
        + container
    )
    with open(path, "wb") as f:
        f.write(blob)


def write_xls_fatstream(path: str) -> None:
    """SST padded so the Workbook exceeds 4096 bytes -> regular FAT
    chain placement (no mini stream)."""
    filler = [(f"pad{i:04d}" + "x" * 40, False) for i in range(100)]
    strings = _STRINGS + filler
    wb = _workbook_stream(_sst(strings))
    assert len(wb) >= 4096
    stream = _pad(wb, 512)
    n_s = len(stream) // 512
    # sectors: 0=FAT, 1=directory, 2..=workbook
    fat = [_FATSECT, _ENDOFCHAIN]
    for i in range(n_s):
        fat.append(2 + i + 1 if i + 1 < n_s else _ENDOFCHAIN)
    directory = _pad(
        _dir_entry("Root Entry", 5, _ENDOFCHAIN, 0, child=1)
        + _dir_entry("Workbook", 2, 2, len(wb)),
        512,
    )
    blob = _cfb_header(1, 1, _ENDOFCHAIN, 0, [0]) + _fat_sector(fat) + directory + stream
    with open(path, "wb") as f:
        f.write(blob)


def write_xls_sst_continue(path: str) -> None:
    """SST whose last string's characters spill into a CONTINUE
    record (fresh flags byte on the spill — [MS-XLS] 2.5.293)."""
    long_s = "y" * 30
    n_u = len(_STRINGS) + 1
    head = struct.pack("<II", n_u, n_u) + b"".join(
        _sst_string(s, w) for s, w in _STRINGS
    )
    head += struct.pack("<HB", len(long_s), 0x00) + long_s[:10].encode()
    cont = b"\x00" + long_s[10:].encode()
    sst_records = _rec(0x00FC, head) + _rec(0x003C, cont)
    wb = _workbook_stream(sst_records)
    mini = _pad(wb, 64)
    n_mini = len(mini) // 64
    container = _pad(mini, 512)
    n_container = len(container) // 512
    fat = [_FATSECT, _ENDOFCHAIN, _ENDOFCHAIN]
    for i in range(n_container):
        fat.append(3 + i + 1 if i + 1 < n_container else _ENDOFCHAIN)
    directory = _pad(
        _dir_entry("Root Entry", 5, 3, len(container), child=1)
        + _dir_entry("Workbook", 2, 0, len(wb)),
        512,
    )
    minifat_entries = [
        i + 1 if i + 1 < n_mini else _ENDOFCHAIN for i in range(n_mini)
    ]
    minifat = _pad(struct.pack(f"<{n_mini}I", *minifat_entries), 512)
    blob = (
        _cfb_header(1, 1, 2, 1, [0])
        + _fat_sector(fat)
        + directory
        + minifat
        + container
    )
    with open(path, "wb") as f:
        f.write(blob)


_EXPECT_HEADER = ["id", "name", "score", "m1", "m2", "ok"]
_EXPECT_ROWS = [
    [1, "alpha", 3.5, 7, -8, True],
    [2.5, "日本", 2.5, 1, 2, False],
]


@pytest.mark.parametrize(
    "writer", [write_xls_ministream, write_xls_fatstream, write_xls_sst_continue]
)
def test_reads_first_sheet(tmp_path, writer):
    p = str(tmp_path / "t.xls")
    writer(p)
    header, rows = read_first_sheet_xls(p)
    assert header == _EXPECT_HEADER
    assert rows == _EXPECT_ROWS


def test_not_cfb_raises_typed(tmp_path):
    p = str(tmp_path / "bad.xls")
    with open(p, "wb") as f:
        f.write(b"definitely not an xls file")
    with pytest.raises(XlsFormatError):
        read_first_sheet_xls(p)


def test_read_excel_routes_legacy_xls(spark, tmp_path):
    """readers.read_excel falls back to the BIFF8 parser when pandas
    has no engine — the reference's pd.read_excel(path, sheet_name=0)
    capability (convert_to_parquet.py:186) on the legacy format."""
    from python_sql_datawarehouse_project_spark.sources.readers import read_excel

    p = str(tmp_path / "landing.xls")
    write_xls_ministream(p)
    df = read_excel(spark, p)
    assert df.columns == _EXPECT_HEADER
    assert df.count() == 2


def _label_rich(r: int, c: int, s: str, n_runs: int = 2) -> bytes:
    """LABEL cell whose XLUnicodeRichExtendedString carries fRichSt
    formatting runs — readers must skip cRun and the run array."""
    payload = (
        struct.pack("<HHH", r, c, 0)
        + struct.pack("<HB", len(s), 0x08)
        + struct.pack("<H", n_runs)
        + s.encode("latin-1")
        + b"\x00\x00\x00\x00" * n_runs  # FormatRun array after chars
    )
    return _rec(0x0204, payload)


def write_xls_chart_first_and_rich_label(path: str) -> None:
    """First BOUNDSHEET is a chart sheet (dt=2): the reader must skip
    to the first real worksheet; the sheet holds a rich-text LABEL."""
    sheet = (
        _bof(0x0010)
        + _labelsst(0, 0, 0)  # header: id (reuse _STRINGS[0])
        + _label_rich(1, 0, "richtext")
        + _rec(0x000A, b"")
    )
    globals_wo = _bof(0x0005) + _sst(_STRINGS)
    bs_len = 4 + 6 + 2 + len("Chart1")
    bs2_len = 4 + 6 + 2 + len("Sheet1")
    sheet_off = len(globals_wo) + bs_len + bs2_len + 4
    chart_bs = _rec(
        0x0085,
        struct.pack("<IBB", sheet_off, 0, 2)  # dt=2: chart sheet
        + struct.pack("<BB", len("Chart1"), 0)
        + b"Chart1",
    )
    sheet_bs = _rec(
        0x0085,
        struct.pack("<IBB", sheet_off, 0, 0)
        + struct.pack("<BB", len("Sheet1"), 0)
        + b"Sheet1",
    )
    wb = globals_wo + chart_bs + sheet_bs + _rec(0x000A, b"") + sheet
    mini = _pad(wb, 64)
    n_mini = len(mini) // 64
    container = _pad(mini, 512)
    n_container = len(container) // 512
    fat = [_FATSECT, _ENDOFCHAIN, _ENDOFCHAIN]
    for i in range(n_container):
        fat.append(3 + i + 1 if i + 1 < n_container else _ENDOFCHAIN)
    directory = _pad(
        _dir_entry("Root Entry", 5, 3, len(container), child=1)
        + _dir_entry("Workbook", 2, 0, len(wb)),
        512,
    )
    minifat_entries = [
        i + 1 if i + 1 < n_mini else _ENDOFCHAIN for i in range(n_mini)
    ]
    minifat = _pad(struct.pack(f"<{n_mini}I", *minifat_entries), 512)
    with open(path, "wb") as f:
        f.write(
            _cfb_header(1, 1, 2, 1, [0])
            + _fat_sector(fat)
            + directory
            + minifat
            + container
        )


def test_skips_chart_sheet_and_reads_rich_label(tmp_path):
    p = str(tmp_path / "chart.xls")
    write_xls_chart_first_and_rich_label(p)
    header, rows = read_first_sheet_xls(p)
    assert header == ["id"]
    assert rows == [["richtext"]]


def test_truncated_biff_raises_typed(tmp_path):
    p = str(tmp_path / "trunc.xls")
    write_xls_ministream(p)
    blob = open(p, "rb").read()
    # keep the CFB container valid but truncate the Workbook stream's
    # directory size so the BIFF records are cut mid-payload
    import re as _re
    # shrink Workbook dir-entry size field (entry 1 at offset
    # 512 + 512(header/FAT layout: dir sector is sector 1) + 128 + 120)
    dir_off = 512 + 512 + 128 + 120
    cut = bytearray(blob)
    struct.pack_into("<I", cut, dir_off, 37)  # mid-record cut
    with open(p, "wb") as f:
        f.write(bytes(cut))
    with pytest.raises(XlsFormatError):
        read_first_sheet_xls(p)


def test_xlsx_column_index_roundtrip():
    from python_sql_datawarehouse_project_spark.sources.xlsx import _col_index

    def letters(n: int) -> str:
        out = ""
        n += 1
        while n:
            n, r = divmod(n - 1, 26)
            out = chr(ord("A") + r) + out
        return out

    for i in [0, 1, 25, 26, 27, 51, 52, 701, 702, 703, 16383]:
        assert _col_index(f"{letters(i)}1") == i
