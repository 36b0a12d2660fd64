"""Dependency scheduler for a load's independent Spark jobs.

The reference runs every step of a load one after another on one
Postgres connection (reference load_dataset.py:360-370,
wowutil.py:59-65). Spark interleaves independent jobs submitted from
driver threads, so the engine describes each step as a :class:`Node`
that names the tables it creates and the tables it reads, and
:func:`run_graph` starts every node as soon as the nodes it depends on
have finished. One scheduler serves every level of a load:

- ``Engine.load_all``: one node per dataset, reading its
  ``depends_on`` datasets;
- a load's staging writes, validations, script statements and populate
  hooks (:func:`script_nodes` turns scripts into statement nodes);
- ``Publisher.publish_tables``: one node per table flip.

Ordering rule. Nodes are given in their serial order, and node ``j``
waits for an earlier node ``i`` when ``i`` creates a name ``j`` reads
or creates (read/write after write), when ``j`` creates a name ``i``
reads (write after read), or when either is a barrier. A barrier
therefore runs alone, in its serial position.

Failure rule. After the first failure nothing new starts, the nodes
already running finish, and the first error is re-raised — so a
caller's cleanup (dropping the staging database) never races a
running job, and a load either completes every node or publishes
nothing.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass
from functools import partial

from nycdb_k8s_loader_spark.publish.lexer import Masked, split_statements
from nycdb_k8s_loader_spark.publish.parse_created_tables import (
    is_function_sql,
    parse_created_tables,
)
from nycdb_k8s_loader_spark.publish.transpile import (
    rewrite_table_fn_calls,
    transpile_pg,
)


@dataclass(frozen=True)
class Node:
    run: Callable[[], object]
    creates: tuple[str, ...] = ()
    reads: tuple[str, ...] = ()
    barrier: bool = False


def _key(name: str) -> str:
    """Unqualified, unquoted, lower-case table name: ``db.`T``` and
    ``t`` are the same table to the scheduler (over-approximation is
    always safe — it only adds an edge)."""
    return re.sub(r'[`"]', "", name).rsplit(".", 1)[-1].strip().lower()


def dependencies(nodes: Sequence[Node]) -> list[set[int]]:
    """For each node, the indexes of the earlier nodes it waits for
    (the ordering rule in the module docstring)."""
    creates = [{_key(t) for t in n.creates} for n in nodes]
    reads = [{_key(t) for t in n.reads} for n in nodes]
    out: list[set[int]] = []
    for j, n in enumerate(nodes):
        touched = reads[j] | creates[j]
        out.append({
            i for i in range(j)
            if n.barrier or nodes[i].barrier
            or creates[i] & touched or reads[i] & creates[j]
        })
    return out


def run_graph(nodes: Sequence[Node], width: int, spark=None) -> list:
    """Run ``nodes`` on up to ``width`` driver threads, each as soon as
    its dependencies finished; return their results in node order.

    With ``spark``, every node runs with the calling thread's Spark
    local properties (job group, description, scheduler pool): pool
    threads start with empty ones under PySpark's pinned-thread mode,
    which would detach a load's jobs from the load that ran them."""
    deps = dependencies(nodes)
    results: list = [None] * len(nodes)
    waiting = list(range(len(nodes)))
    done: set[int] = set()
    running: dict = {}
    errors: list[tuple[int, BaseException]] = []
    width = max(1, width)
    with ThreadPoolExecutor(max_workers=width) as pool:
        while True:
            if not errors:
                for i in [i for i in waiting if deps[i] <= done]:
                    if len(running) >= width:
                        break
                    waiting.remove(i)
                    running[pool.submit(_inherit(spark, nodes[i].run))] = i
            if not running:
                break
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                i = running.pop(fut)
                try:
                    results[i] = fut.result()
                    done.add(i)
                except BaseException as exc:  # noqa: BLE001 - re-raised
                    errors.append((i, exc))
    if errors:
        raise min(errors, key=lambda e: e[0])[1]
    return results


def _inherit(spark, fn: Callable) -> Callable:
    if spark is None:
        return fn
    from pyspark import inheritable_thread_target

    return inheritable_thread_target(spark)(fn)


# -- script statements as nodes ------------------------------------------------

_WORD = re.compile(r"[A-Za-z_][\w$]*")
_PLAIN_CTAS = re.compile(
    r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"[\w`\".]+\s+AS\b",
    re.IGNORECASE,
)


def statement_node(
    stmt: str, run: Callable[[], object], table_fns=frozenset()
) -> Node:
    """Node for one script statement. Reads are every identifier token
    outside comments and literals — a superset of the tables named
    (comma joins, subqueries and CTE bodies included), so a statement
    never starts before a table it might read is created. Anything
    that is not a plain ``CREATE TABLE … AS``, or that calls one of
    ``table_fns`` (a registered table function materializes a
    session-wide temp view), is a barrier."""
    masked = Masked(stmt).code
    creates = tuple(parse_created_tables(stmt))
    # checked before transpiling, exactly as run_statement materializes
    calls_table_fn = rewrite_table_fn_calls(
        stmt, lambda name, args: "_" if name in table_fns else None
    ) != stmt
    plain = bool(_PLAIN_CTAS.match(masked)) and len(creates) == 1
    return Node(
        run=run,
        creates=creates,
        reads=tuple(dict.fromkeys(_WORD.findall(masked))),
        barrier=calls_table_fn or not plain,
    )


def run_statement(spark, resolver, stmt: str, functions=None):
    """Execute one Postgres-dialect statement: materialize registered
    table-function calls, transpile, then qualify names through the
    search path. The rewrite happens HERE, when every node creating a
    table the statement names has finished — never earlier, or an
    unqualified name could resolve to an older published copy."""
    if functions is not None:
        stmt = functions.materialize_table_fn_calls(spark, stmt)
    return resolver.sql(transpile_pg(stmt))


def script_nodes(
    spark, resolver, scripts, function_stmts: list[str], functions=None
) -> list[Node]:
    """One node per statement of each script, in script order.
    Function DDL is classified BEFORE any rewrite and collected
    (transpiled) into ``function_stmts`` for post-publish replay
    (reference wowutil.py:170-181, load_dataset.py:372-376) instead
    of running: a function body that calls a registered table
    function must be replayed verbatim."""
    table_fns = frozenset(functions.table_fn_names()) if functions else frozenset()
    nodes: list[Node] = []
    for script in scripts:
        with open(script, encoding="utf-8") as fh:
            text = fh.read()
        for stmt in split_statements(text):
            if is_function_sql(stmt):
                function_stmts.append(transpile_pg(stmt))
                continue
            run = partial(run_statement, spark, resolver, stmt, functions)
            nodes.append(statement_node(stmt, run, table_fns))
    return nodes

