"""Pins the line counter of tools/loc.py.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from loc import code_lines  # noqa: E402


def src(*lines):
    return "\n".join(lines) + "\n"


class CodeLinesTest(unittest.TestCase):
    def test_blank_lines_do_not_count(self):
        self.assertEqual(code_lines(src("", "val a = 1", "   ", "")), 1)

    def test_nested_block_comments(self):
        # Scala block comments nest: the first */ closes only the inner one
        text = src(
            "/* outer /* inner */ still comment */",
            "val a = 1",
            "/* outer",
            "  /* inner */ still comment",
            "*/",
        )
        self.assertEqual(code_lines(text), 1)

    def test_line_comment_marker_inside_a_string(self):
        text = src(
            'val url = "http://host/path"',
            'val open = "/*"',
            "val after = 2",
        )
        # the /* in the string opens no comment, so line 3 still counts
        self.assertEqual(code_lines(text), 3)

    def test_triple_quoted_string_body_is_code(self):
        text = src(
            'val sql = """',
            "  // looks like a comment",
            "  /* and so does this */",
            '"""',
            "// a real comment",
        )
        self.assertEqual(code_lines(text), 4)

    def test_char_literal_quote(self):
        # read as a string opener, '"' would hide the /* that follows
        text = src(
            "if (ch == '\"') n += 1 /* a comment",
            "still the comment */",
        )
        self.assertEqual(code_lines(text), 1)

    def test_char_literal_escaped_single_quote(self):
        text = src(
            "val q = '\\'' /* a comment",
            "still the comment */",
            "val r = '\\\\' // backslash",
        )
        self.assertEqual(code_lines(text), 2)

    def test_code_after_a_closing_block_comment(self):
        text = src(
            "/* note */ val x = 1",
            "/* a comment",
            "   over two lines */ val y = 2",
            "/* only a comment */",
        )
        self.assertEqual(code_lines(text), 2)

    def test_comment_only_scaladoc_block(self):
        text = src(
            "/** Summary with `code`, \"quotes\" and 'c' in it.",
            "  * // slashes and /* an opener */ inside the doc",
            "  *",
            "  */",
            "def f(): Int = 1",
        )
        self.assertEqual(code_lines(text), 1)


if __name__ == "__main__":
    unittest.main()
