"""tools/code_lines.py: the code-line count leaves out blank lines,
comments and docstrings, and counts every line of a wrapped statement."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from code_lines import code_lines  # noqa: E402

FIXTURE = '''"""Module docstring,
over two lines."""

import os  # a trailing comment does not hide the code


# a comment line
class A:
    """Class docstring."""

    x = ("wrapped",
         "over three",
         "lines")

    def f(self):
        """Function
        docstring."""
        """A bare string used as a block comment."""
        s = """a string that is
        assigned is code"""
        return s
'''


def test_counts_fixture(tmp_path):
    # import, class, three lines of x, def, two lines of s, return
    assert code_lines(FIXTURE) == 9
    path = tmp_path / "fixture.py"
    path.write_text(FIXTURE)
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "code_lines.py"),
         str(tmp_path)], capture_output=True, text=True, check=True)
    assert out.stdout.splitlines() == [f"9 {path}", "9 total"]
