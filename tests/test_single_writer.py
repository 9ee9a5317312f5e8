"""One writer of table files: outside ``meta.py`` (Table.write_datafiles
and the manifest writer), ``session.py`` (the warm-up) and the
query-entry modules, which write scratch inputs for their oracles, no
module of ``fupi_spark/`` builds a Spark DataFrame writer or promotes
files itself. Parsed with stdlib ``ast``, so it runs without Spark."""

from __future__ import annotations

import ast
import glob
import os

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fupi_spark")
ALLOWED = {"meta.py", "session.py", "queries.py", "maintenance_queries.py", "pipeline_queries.py"}
#: calls on ``<frame>.write`` that make it a DataFrame writer; a file
#: object's own ``f.write(data)`` is a call of ``write`` itself
WRITER_CALLS = {"mode", "partitionBy", "parquet"}


def file_writes(source: str) -> list[str]:
    """``<x>.write.<mode|partitionBy|parquet>(...)`` and
    ``promote_many(...)`` calls in ``source``, as ``name (line n)``."""
    out = []
    calls = [n for n in ast.walk(ast.parse(source)) if isinstance(n, ast.Call)]
    for node in sorted(calls, key=lambda n: (n.lineno, n.col_offset)):
        f = node.func
        if (
            isinstance(f, ast.Attribute)
            and f.attr in WRITER_CALLS
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "write"
        ):
            out.append(f"write.{f.attr} (line {node.lineno})")
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name == "promote_many":
            out.append(f"promote_many (line {node.lineno})")
    return out


def test_checker_flags_writers_not_file_objects():
    src = (
        "with open(p, 'wb') as f:\n    f.write(b'x')\n"
        "df.write.mode('overwrite').parquet(p)\n"
        "df.write.partitionBy('_bin').parquet(p)\n"
        "table.storage.promote_many(pairs)\n"
    )
    assert file_writes(src) == [
        "write.mode (line 3)",
        "write.partitionBy (line 4)",
        "promote_many (line 5)",
    ]


@pytest.mark.parametrize(
    "path",
    sorted(p for p in glob.glob(os.path.join(PKG, "*.py")) if os.path.basename(p) not in ALLOWED),
    ids=os.path.basename,
)
def test_only_write_datafiles_writes_table_files(path):
    with open(path) as f:
        assert file_writes(f.read()) == []
