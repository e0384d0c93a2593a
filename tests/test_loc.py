"""tools/loc.py counts code lines: docstrings, comments and blank lines
are excluded; a multi-line expression counts every line it spans."""

from tools.loc import code_lines

SNIPPET = '''"""Module docstring,
over two lines."""

import os  # trailing comment still counts


# a comment line
def f(x):
    """One-line docstring."""

    y = (x +
         1)
    return "not a docstring"


class C:
    """Class docstring."""
    z = 1
'''


def test_code_lines_excludes_docstrings_comments_blanks():
    # import, def, the two lines of y, return, class, z
    assert code_lines(SNIPPET) == 7
