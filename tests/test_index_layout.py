"""The standing-index layout lives in ``sinks/`` only: no operator module
lists directories or picks a partition-overwrite mode itself, so a change
of layout or commit mechanism stays a change to ``sinks/index_table.py``."""

from __future__ import annotations

import ast
from pathlib import Path

OPERATORS = Path(__file__).resolve().parent.parent / (
    "nqs_console_flink_window_spark/operators"
)
_LISTING_CALLS = {"glob", "rglob", "iterdir", "listdir"}


def test_operators_neither_list_directories_nor_set_overwrite_mode() -> None:
    hits = []
    for src in sorted(OPERATORS.glob("*.py")):
        for node in ast.walk(ast.parse(src.read_text(), str(src))):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if name in _LISTING_CALLS:
                    hits.append(f"{src.name}:{node.lineno} {name}()")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "partitionOverwriteMode" in node.value
            ):
                hits.append(f"{src.name}:{node.lineno} partitionOverwriteMode")
    assert OPERATORS.is_dir() and not hits, hits
