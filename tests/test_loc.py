"""The code-line counter (`tools/loc.py`), without Spark."""

from __future__ import annotations

from tools import loc

SOURCE = '''"""Module docstring,
spanning two lines."""

# a comment line

import os  # code with a trailing comment


def f(x):
    """Function docstring."""
    # comment inside a function

    query = """
        SELECT 1
    """
    return os.path.join(x, query)


class C:
    """Class docstring
    on two lines."""

    y = 1
'''


def test_counts_code_lines_only(tmp_path, capsys):
    """Docstrings, comments and blank lines are not code; every line
    of a multi-line string expression that is not a docstring is."""
    # import, def, the three lines of the query string, return,
    # class, y = 1
    assert loc.code_lines(SOURCE) == 8
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "a.py").write_text(SOURCE)
    (tmp_path / "pkg" / "b.py").write_text("x = 1\n")
    assert loc.main([str(tmp_path / "pkg")]) == 0
    assert capsys.readouterr().out.split()[-2:] == ["9", "total"]
