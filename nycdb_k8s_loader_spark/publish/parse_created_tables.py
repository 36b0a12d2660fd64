"""Discover which tables a SQL transformation script produces.

Capability twin of the reference's lib/parse_created_tables.py:22-38,
which walks a sqlparse token stream applying exactly two rules:

1. ``CREATE TABLE <name> ...`` adds <name>.
2. ``ALTER TABLE <a> RENAME TO <b>`` replaces <a> with <b>.

The publish step needs this list to know what to move from staging to
the public namespace (reference usage: load_dataset.py:98-103). We
implement the same two rules over the lexer's masked text (no sqlparse
dependency in this container), so DDL inside string constants,
comments and ``$$`` function bodies is never read; the grammar needed
is tiny and fully covered by the reference's own test fixtures
(tests/test_parse_created_tables.py:11-69).
"""

from __future__ import annotations

import re

from nycdb_k8s_loader_spark.publish.lexer import (  # noqa: F401 - re-export
    Masked,
    split_statements,
)

_IDENT = r'(?:"[^"]+"|[A-Za-z_][\w$]*)(?:\s*\.\s*(?:"[^"]+"|[A-Za-z_][\w$]*))?'

_CREATE_RE = re.compile(
    rf"\bCREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
    rf"(?:IF\s+NOT\s+EXISTS\s+)?({_IDENT})",
    re.IGNORECASE,
)
_RENAME_RE = re.compile(
    rf"\bALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?({_IDENT})\s+RENAME\s+TO\s+({_IDENT})",
    re.IGNORECASE,
)


def _norm(ident: str) -> str:
    parts = [p.strip().strip('"') for p in ident.split(".")]
    return ".".join(parts)


def parse_created_tables(sql: str) -> list[str]:
    """Tables created by ``sql``, with renames applied in order."""
    sql = Masked(sql).code
    events: list[tuple[int, str, tuple[str, ...]]] = []
    for m in _CREATE_RE.finditer(sql):
        events.append((m.start(), "create", (_norm(m.group(1)),)))
    for m in _RENAME_RE.finditer(sql):
        events.append((m.start(), "rename", (_norm(m.group(1)), _norm(m.group(2)))))
    events.sort(key=lambda e: e[0])

    tables: list[str] = []
    for _, kind, args in events:
        if kind == "create":
            if args[0] not in tables:
                tables.append(args[0])
        else:
            old, new = args
            # Apply the rename whether or not we saw the CREATE — a
            # script may rename a table created by an earlier script
            # (reference rule 2, parse_created_tables.py:30-35).
            if old in tables:
                tables[tables.index(old)] = new
            elif new not in tables:
                tables.append(new)
    return tables


def parse_created_tables_in_dir(paths: list[str]) -> list[str]:
    """Union of created tables across an ordered script list
    (reference: parse_created_tables.py:50-54)."""
    tables: list[str] = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for t in parse_created_tables(f.read()):
                if t not in tables:
                    tables.append(t)
    return tables


_FUNCTION_RE = re.compile(
    r"\bCREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?FUNCTION\b",
    re.IGNORECASE,
)


def is_function_sql(sql: str) -> bool:
    """``CREATE [OR REPLACE] [TEMPORARY] FUNCTION`` anywhere outside
    string constants and comments (reference: load_dataset.py:155-160
    collapses whitespace and substring-matches)."""
    return bool(_FUNCTION_RE.search(Masked(sql).code))
