"""Property-based tests (hypothesis) for the pure-Python parity layers:
SQL literal rendering, xlsx round-trips, column-letter arithmetic,
identifier validation (the .xls reader's property test lives in
test_xls.py, beside its BIFF8 file builder). These run without a SparkSession."""

from __future__ import annotations

import datetime
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from astro_sdk_spark.templating import (
    is_valid_identifier,
    quote_identifier,
    render_literal,
)
from astro_sdk_spark.xlsx import _col_index, _col_letter, read_xlsx, write_xlsx

# ---------------------------------------------------------------- templating


@given(st.text(max_size=200))
@settings(max_examples=200)
def test_string_literals_always_quoted_and_escaped(s):
    lit = render_literal(s)
    assert lit.startswith("'") and lit.endswith("'")
    # the rendered body never terminates the quote early: every single
    # quote inside is preceded by a backslash escape
    body = lit[1:-1]
    i = 0
    while i < len(body):
        if body[i] == "\\":
            i += 2
            continue
        assert body[i] != "'", f"unescaped quote in {lit!r}"
        i += 1


@given(st.floats(allow_nan=True, allow_infinity=True))
@settings(max_examples=200)
def test_float_literals_are_valid_tokens(x):
    lit = render_literal(x)
    if math.isnan(x):
        assert lit == "CAST('NaN' AS DOUBLE)"
    elif math.isinf(x):
        assert "Infinity" in lit
    else:
        assert float(lit) == x  # repr round-trips


@given(st.dates())
def test_date_literals(d):
    assert render_literal(d) == f"DATE '{d.isoformat()}'"


@given(st.text(min_size=1, max_size=64))
def test_quote_identifier_always_safe(name):
    q = quote_identifier(name)
    if is_valid_identifier(name):
        assert q == name
    else:
        # backtick-quoted with internal backticks doubled
        for part, qpart in zip(name.split("."), q.split("`.`")):
            pass
        assert q.startswith("`") or all(
            is_valid_identifier(p) for p in name.split(".")
        )


# --------------------------------------------------------------------- xlsx


@given(st.integers(min_value=0, max_value=20000))
def test_col_letter_roundtrip(i):
    assert _col_index(_col_letter(i)) == i


_cell = st.one_of(
    st.none(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.booleans(),
    st.text(max_size=40).filter(lambda s: "\x00" not in s and s == s.strip() or s == ""),
)


@given(
    st.integers(min_value=1, max_value=5).flatmap(
        lambda width: st.tuples(
            st.just([f"c{i}" for i in range(width)]),
            st.lists(
                st.lists(_cell, min_size=width, max_size=width), max_size=8
            ),
        )
    )
)
@settings(max_examples=60, deadline=None)
def test_xlsx_roundtrip_property(tmp_path_factory, cols_rows):
    cols, rows = cols_rows
    d = tmp_path_factory.mktemp("xlsxprop")
    path = str(d / "t.xlsx")
    # xml strips control chars; keep printable text only
    clean_rows = [
        [
            "".join(ch for ch in v if ch.isprintable()) if isinstance(v, str) else v
            for v in row
        ]
        for row in rows
    ]
    write_xlsx(path, cols, [tuple(r) for r in clean_rows])
    rcols, rrows = read_xlsx(path)
    assert rcols == cols
    assert len(rrows) == len(clean_rows)
    for got, exp in zip(rrows, clean_rows):
        for g, e in zip(got, exp):
            if isinstance(e, float) and isinstance(g, (int, float)):
                assert math.isclose(float(g), e, rel_tol=0, abs_tol=0) or float(g) == e
            else:
                assert g == e, (g, e)
