"""Namespace resolution — the ``search_path`` emulation.

The reference resolves unqualified table names across an ordered
namespace list with Postgres ``SET search_path temp,public,oca,wow``
(/root/reference/load_dataset.py:222, wowutil.py:132). Spark's
``setCurrentDatabase`` resolves against exactly one database, so the
engine rewrites unqualified table references in SQL text before
``spark.sql`` (SURVEY.md §4.3 item 1).

Resolution rule: for each table identifier position (after FROM / JOIN
/ INTO / UPDATE / TABLE / INSERT INTO), if the name is unqualified,
qualify it with the first namespace in the search path where the table
exists. Names already qualified, CTE names, and temp views are left
alone.

Invariant: every rule here scans the lexer's masked text
(publish/lexer.py), so a name inside a string constant, a comment or a
``$$`` body is never qualified, and those pieces come back byte for
byte.

DDL targets: with ``ddl_db`` set, unqualified CREATE/ALTER/DROP TABLE
targets (and RENAME TO destinations) are qualified into that database
— Postgres's create-in-head-of-search-path rule made explicit. This
removes the session-global ``setCurrentDatabase`` pinning the engine
otherwise needs, and with it the lock that serialized concurrent
loads' script execution (round-3 verdict: holding that lock across
Spark jobs defeated per-level load_all concurrency).
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from nycdb_k8s_loader_spark.publish.lexer import Masked

_TABLE_POS = re.compile(
    r"\b(?:(CREATE(?:\s+OR\s+REPLACE)?(?:\s+TEMP(?:ORARY)?)?|ALTER|DROP)\s+)?"
    r"(TABLE|FROM|JOIN|INTO|UPDATE)\s+"
    r"(?:(IF\s+(?:NOT\s+)?EXISTS)\s+)?"
    r"((?!SELECT\b|LATERAL\b|VALUES\b|IF\b)[A-Za-z_][\w$]*)",
    re.IGNORECASE,
)

_RENAME_TO = re.compile(
    r"\b(RENAME\s+TO)\s+([A-Za-z_][\w$]*)", re.IGNORECASE
)

_CTE_NAMES = re.compile(r"\b(?:WITH|,)\s*([A-Za-z_][\w$]*)\s+AS\s*\(", re.IGNORECASE)


class SearchPathResolver:
    def __init__(
        self,
        spark: SparkSession,
        search_path: list[str],
        ddl_db: str | None = None,
    ) -> None:
        self.spark = spark
        self.search_path = search_path
        self.ddl_db = ddl_db

    def _resolve_one(self, name: str, local_names: set[str]) -> str:
        if name.lower() in local_names:
            return name  # CTE name — never qualify
        for db in self.search_path:
            if self.spark.catalog.tableExists(f"`{db}`.`{name}`"):
                return f"`{db}`.`{name}`"
        return name  # temp view / builtin — let Spark resolve it

    def rewrite(self, sql: str) -> str:
        """Qualify unqualified table refs per the search path, scanning
        the lexer's masked text: quoted data or a comment that happens
        to contain ``from <table>`` is never rewritten."""
        masked = Masked(sql)
        local_names = {
            m.group(1).lower() for m in _CTE_NAMES.finditer(masked.text)
        }

        def sub(m: re.Match) -> str:
            ddl, kw, ifex, name = m.group(1), m.group(2), m.group(3), m.group(4)
            # already-qualified (`db.table`): never touch either part
            if m.string[m.end():m.end() + 1] == ".":
                return m.group(0)
            if ddl:
                # CREATE/ALTER/DROP targets: qualify into ddl_db when
                # configured (Postgres's create-in-head-of-search-path
                # rule, explicit) — never resolve them to an existing
                # downstream table.
                if self.ddl_db and kw.upper() == "TABLE":
                    head = f"{ddl} {kw} " + (f"{ifex} " if ifex else "")
                    return head + f"`{self.ddl_db}`.`{name}`"
                return m.group(0)
            return f"{kw} {self._resolve_one(name, local_names)}"

        out = _TABLE_POS.sub(sub, masked.text)
        if self.ddl_db:
            out = _RENAME_TO.sub(
                lambda m: m.group(0)
                if m.string[m.end():m.end() + 1] == "."
                else f"{m.group(1)} `{self.ddl_db}`.`{m.group(2)}`",
                out,
            )
        return masked.unmask(out)

    def sql(self, query: str):
        return self.spark.sql(self.rewrite(query))
