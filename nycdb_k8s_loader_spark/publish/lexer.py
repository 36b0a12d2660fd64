"""The Postgres lexical rule for the script pipeline.

What counts as a string constant (``'…'`` with ``''`` escapes, or a
``$$…$$`` body) or a comment (``--`` to end of line, ``/* … */``) is
decided here and nowhere else. :class:`Masked` replaces each one with
an opaque placeholder; statement splitting, DDL classification, the
scheduler's read sets, the transpiler and the search-path resolver all
scan that masked text, so a keyword, paren, ``;`` or ``::`` inside a
literal or comment can never match, and :meth:`Masked.unmask` restores
every placeholder byte for byte. An unterminated constant or comment
runs to the end of the text, as it does in Postgres.
"""

from __future__ import annotations

import re

_TOKEN = re.compile(
    r"(--[^\n]*|/\*.*?(?:\*/|\Z))|'(?:[^']|'')*(?:'|\Z)|\$\$.*?(?:\$\$|\Z)",
    re.DOTALL,
)

#: a string-constant placeholder in masked text (comments use \x01)
LITERAL = r"\x00\d+\x00"

_HOLE = re.compile(r"[\x00\x01](\d+)[\x00\x01]")
_COMMENT = re.compile(r"\x01\d+\x01")


class Masked:
    """``sql`` with every string constant and comment held out of
    ``text`` behind a placeholder made of NUL (constant) or SOH
    (comment) delimiters around its index: no identifier, quote,
    paren, comma or ``;`` character, so scanners need no quote rule."""

    def __init__(self, sql: str) -> None:
        self.pieces: list[str] = []
        self.text = _TOKEN.sub(
            lambda m: self._hold(m.group(0), "\x01" if m.group(1) else "\x00"),
            sql,
        )

    def _hold(self, piece: str, tag: str) -> str:
        self.pieces.append(piece)
        return f"{tag}{len(self.pieces) - 1}{tag}"

    def hold(self, value: str) -> str:
        """Placeholder for a new string constant whose content is
        ``value`` — how a rewrite emits a literal into masked text."""
        return self._hold("'" + value.replace("'", "''") + "'", "\x00")

    def value(self, placeholder: str) -> str:
        """The content of the string constant behind ``placeholder``
        (a match of :data:`LITERAL`)."""
        piece = self.pieces[int(placeholder.strip("\x00"))]
        if piece.startswith("$$"):
            return piece[2:-2]
        return piece[1:-1].replace("''", "'")

    @property
    def code(self) -> str:
        """The masked text with each comment read as a space — what
        classifiers that never restore the text match DDL shapes on."""
        return _COMMENT.sub(" ", self.text)

    def unmask(self, text: str) -> str:
        """``text`` (masked text, possibly rewritten) with every
        placeholder replaced by the piece it holds."""
        return _HOLE.sub(lambda m: self.pieces[int(m.group(1))], text)


def split_statements(sql: str) -> list[str]:
    """Split a script into statements on ``;`` outside string
    constants and comments (the unit the reference executes one
    ``cur.execute`` at a time — wowutil.py:59-65 runs whole files, but
    Spark's parser wants one statement per call). The script is masked
    once and split on its masked text."""
    masked = Masked(sql)
    return [
        stmt for part in masked.text.split(";")
        if (stmt := masked.unmask(part).strip())
    ]
