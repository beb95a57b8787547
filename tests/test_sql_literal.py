"""``sql_literal`` quotes caller- and corpus-supplied strings for
generated SQL: every string, backslashes and quotes included, reads back
as itself in Spark SQL and (with ``dialect="duckdb"``) in DuckDB."""

from __future__ import annotations

import pytest

try:
    from hypothesis import example, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from datafusion_server_spark.operators.scale import sql_literal

_TRICKY = ("\\", "\\'", "'", "''", "\\\\'", "\\u0041", "\\n", "a\\tb", "%\\_", "--", "/*", "\x00", "\n\r\t")


@settings(max_examples=80, deadline=None)
@given(st.text())
@example("")
@example("".join(_TRICKY))
def test_spark_literal_round_trips(spark, s):
    assert spark.sql("SELECT " + sql_literal(s)).first()[0] == s


# DuckDB's parser reads the query text as a C string, so a NUL ends the
# statement wherever it sits; DuckDB SQL spells it CHR(0) instead. The
# utf-8 codec keeps lone surrogates out, as plain st.text() does.
@settings(max_examples=200, deadline=None)
@given(st.text(st.characters(codec="utf-8", exclude_characters="\x00")))
@example("".join(_TRICKY).replace("\x00", ""))
def test_duckdb_literal_round_trips(s):
    duckdb = pytest.importorskip("duckdb")
    assert duckdb.sql("SELECT " + sql_literal(s, dialect="duckdb")).fetchone()[0] == s


def test_unknown_dialect_is_refused():
    with pytest.raises(ValueError):
        sql_literal("x", dialect="postgres")
