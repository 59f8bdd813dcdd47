"""tools/code_lines.py, the code-line counter: comments, blank lines
and docstrings do not count.  No Spark needed."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent


def test_counts_code_lines_only(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "code_lines", _REPO / "tools" / "code_lines.py"
    )
    cl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cl)
    src = tmp_path / "m.py"
    src.write_text(
        '"""Module docstring\n'
        'over two lines."""\n'
        "# a comment\n"
        "\n"
        "x = 1\n"
        "y = x  # trailing comment\n"
    )
    assert cl.count_path(src) == 2
    assert cl.count_path(tmp_path) == 2
