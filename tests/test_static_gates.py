"""Static gates as tests — the in-container analog of the reference's
pyflakes/mypy test modules (/root/reference/tests/test_pyflakes.py,
test_mypy.py; SURVEY §5 item 5). Neither tool ships in this container
(pip forbidden), so the gate is stdlib: every module must compile, and
an AST pass rejects unused imports (pyflakes' highest-signal check),
with side-effect registration imports exempted the way `# noqa: F401`
exempts them for pyflakes."""

from __future__ import annotations

import ast
import os
import py_compile

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                   "nycdb_k8s_loader_spark")


def _modules() -> list[str]:
    out = []
    for root, _, files in os.walk(PKG):
        out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


@pytest.mark.parametrize("path", _modules(), ids=lambda p: os.path.relpath(p, PKG))
def test_module_compiles_and_imports_are_used(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "c.pyc"), doraise=True)

    src = open(path).read()
    tree = ast.parse(src)
    imported: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                imported[(a.asname or a.name).split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom):
            if node.module == "__future__":
                continue
            for a in node.names:
                imported[a.asname or a.name] = node.lineno
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            n = node
            while isinstance(n, ast.Attribute):
                n = n.value
            if isinstance(n, ast.Name):
                used.add(n.id)
    lines = src.splitlines()
    unused = [
        f"{os.path.relpath(path, PKG)}:{ln}: unused import {name}"
        for name, ln in imported.items()
        if name not in used
        # string-referenced (re-exports, __all__) or noqa'd
        and f'"{name}"' not in src and f"'{name}'" not in src
        and "noqa" not in lines[ln - 1]
    ]
    assert unused == []


def test_geo_operators_do_not_recurse():
    """The per-distinct-geometry rewrite lives in one helper,
    ``geo.by_geometry_class``: no function in the geo module calls
    itself (the operators used to re-enter themselves on deduped
    frames, one hand-written copy per operator)."""
    tree = ast.parse(open(os.path.join(PKG, "operators", "geo.py")).read())
    recursive = sorted(
        f"{fn.name}:{call.lineno}"
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for call in ast.walk(fn)
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Name)
        and call.func.id == fn.name
    )
    assert recursive == []


def test_publish_protocol_has_no_copy_path():
    """Publish moves staged files and never rewrites them: the only
    DataFrame writes in publish/protocol.py stage a table
    (``write_staging_table``); nothing writes into a target or version
    database."""
    tree = ast.parse(open(os.path.join(PKG, "publish", "protocol.py")).read())
    writes = sorted(
        f"{fn.name}:{node.lineno}"
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name != "write_staging_table"
        for node in ast.walk(fn)
        if isinstance(node, ast.Attribute)
        and node.attr in ("write", "saveAsTable", "insertInto")
    )
    assert writes == []


def test_one_load_path():
    """Every load publishes through a Publisher the Engine built with
    its external root and version pointer: inside the package only
    engine.py (and the operator CLI's staging cleanup in cli.py)
    construct one, a dataset cannot bring its own load function, and
    batch and streaming loads run one staging → validation → publish
    skeleton."""
    import dataclasses
    import re

    from nycdb_k8s_loader_spark.registry import DatasetDef

    constructs = sorted(
        os.path.relpath(path, PKG)
        for path in _modules()
        if re.search(r"\bPublisher\(", open(path).read())
    )
    assert constructs == ["cli.py", "engine.py"]
    assert "builder" not in {f.name for f in dataclasses.fields(DatasetDef)}

    # batch and stream loads share one skeleton: staging is entered,
    # validation runs, grants wrap the publish and function DDL
    # replays at exactly one call site each, in engine.py
    skeleton = ("staging", "validate_or_raise", "save_and_reapply",
                "publish_tables", "replay_functions")
    calls: dict[str, list[str]] = {name: [] for name in skeleton}
    for path in _modules():
        src = open(path).read()
        for gone in ("load_and_publish",
                     "run_available_now_staged_binary_distributed"):
            assert not re.search(rf"\b{gone}\b", src), (path, gone)
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else (
                    fn.id if isinstance(fn, ast.Name) else None)
                if name in calls:
                    calls[name].append(os.path.relpath(path, PKG))
    assert calls == {name: ["engine.py"] for name in skeleton}


def test_loop_fences_set_in_one_place():
    """Loops and stateful streams plan on one cached session clone per
    caller whose conf is written once, at creation: inside the package
    only session.py clones a session, and AQE and the shuffle width
    are set only by the loop-session helper (no per-call set/restore
    fences)."""
    import re

    fences = {"spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"}
    clones, setters = [], set()
    for path in _modules():
        rel = os.path.relpath(path, PKG)
        src = open(path).read()
        if re.search(r"\bnewSession\(", src):
            clones.append(rel)
        tree = ast.parse(src)
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for call in ast.walk(fn):
                if (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "set"
                    and isinstance(call.func.value, ast.Attribute)
                    and call.func.value.attr == "conf"
                    and call.args
                    and isinstance(call.args[0], ast.Constant)
                    and call.args[0].value in fences
                ):
                    setters.add(f"{rel}::{fn.name}")
    assert clones == ["session.py"]
    assert setters == {"session.py::_on_loop_session"}


def test_one_stage_primitive():
    """Every eager checkpoint goes through ``session.materialize`` and
    every driver thread pool is the load scheduler's: inside the
    package ``.localCheckpoint(`` appears only in session.py and
    ``ThreadPoolExecutor`` only in publish/scheduler.py."""
    def users(token):
        return sorted(
            os.path.relpath(path, PKG)
            for path in _modules()
            if token in open(path).read()
        )

    assert users(".localCheckpoint(") == ["session.py"]
    assert users("ThreadPoolExecutor") == [
        os.path.join("publish", "scheduler.py")
    ]


def test_one_sql_lexer():
    """What counts as a string literal, a comment or a ``$$`` body in
    script SQL is decided in publish/lexer.py alone: no other module
    holds the literal pattern (``[^']``), a comment or ``$$`` pattern,
    or compares or prefix-tests text against a quote or comment
    opener."""
    patterns = ("[^']", "--[^", "/\\*", "\\$\\$")
    openers = {"'", "''", "--", "/*", "$$"}

    def scans(node) -> bool:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return any(p in node.value for p in patterns)
        if isinstance(node, ast.Compare):
            operands = [node.left, *node.comparators]
        elif (
            isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("startswith", "endswith")
        ):
            operands = node.args
        else:
            return False
        return any(
            isinstance(o, ast.Constant) and o.value in openers for o in operands
        )

    users = sorted(
        os.path.relpath(path, PKG)
        for path in _modules()
        if any(scans(n) for n in ast.walk(ast.parse(open(path).read())))
    )
    assert users == [os.path.join("publish", "lexer.py")]


def test_graph_collects_in_one_place():
    """Connected components leave Spark in one place: graph.py has one
    driver collect (``collect``/``toArrow``/``toPandas``/
    ``toLocalIterator``), inside the small-graph union-find helper,
    and no module imports networkx."""
    tree = ast.parse(open(os.path.join(PKG, "operators", "graph.py")).read())
    sinks = {"collect", "toArrow", "toPandas", "toLocalIterator"}
    collects = [
        f"{fn.name}.{call.func.attr}"
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        for call in ast.walk(fn)
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Attribute)
        and call.func.attr in sinks
    ]
    assert collects == ["_driver_components.toArrow"]
    importers = []
    for path in _modules():
        for node in ast.walk(ast.parse(open(path).read())):
            names = (
                [a.name for a in node.names]
                if isinstance(node, ast.Import)
                else [node.module or ""]
                if isinstance(node, ast.ImportFrom)
                else []
            )
            if any(n.split(".")[0] == "networkx" for n in names):
                importers.append(os.path.relpath(path, PKG))
    assert importers == []



def test_geo_collects_in_one_place():
    """Geometry leaves Spark in one place: geo.py has exactly one
    driver action (a collect, a count or a write), the one job of the
    binned joins' cell derivation."""
    tree = ast.parse(open(os.path.join(PKG, "operators", "geo.py")).read())
    sinks = {"collect", "toArrow", "toPandas", "toLocalIterator", "count",
             "first", "head", "take", "save", "saveAsTable", "foreach"}
    actions = [
        f"{fn.name}.{call.func.attr}"
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        for call in ast.walk(fn)
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Attribute)
        and call.func.attr in sinks
        and not (isinstance(call.func.value, ast.Name)
                 and call.func.value.id == "F")
    ]
    assert actions == ["_derive_cell_deg.save"]


def test_context_state_lives_in_session():
    """Per-SparkContext state lives in session.py alone: no other
    module reads ``SparkContext._active_spark_context`` or keeps a
    store that outlives a call (a ``WeakKeyDictionary`` or a
    ``functools`` cache) — name-keyed expression trees go through
    ``session.memoized``."""
    tokens = ("_active_spark_context", "WeakKeyDictionary", "lru_cache",
              "functools.cache", "@cache")
    users = sorted(
        os.path.relpath(path, PKG)
        for path in _modules()
        if any(t in open(path).read() for t in tokens)
    )
    assert users == ["session.py"]


#: Public defs kept for tests to compare against; each a reference,
#: not a production path.
_TEST_REFERENCES = {
    # exact all-pairs oracle of the bucketed/blocked near-dup twins
    "embedding_neardup_pairs",
    # audit of semantic_dedup_sampled's agreement with the exact form
    "semdedup_agreement",
    # Python twin the registered SQL trigram function is checked against
    "trigram_similarity",
}


def test_public_defs_have_a_non_test_caller():
    """Every top-level public def in the package is reached from code
    outside the tests: its name appears as code (a name, an attribute
    or an import, not a docstring) outside its own body in the
    package, bench.py, bench_scale.py, tools/, perfbench/ (tests
    excluded) or __spark_entry__.py. Catalog queries (``@register``)
    are roots; ``_TEST_REFERENCES`` are the test oracles."""
    import glob

    root = os.path.dirname(PKG)
    callers = _modules() + [
        os.path.join(root, f)
        for f in ("bench.py", "bench_scale.py", "__spark_entry__.py")
    ]
    callers += sorted(glob.glob(os.path.join(root, "tools", "**", "*.py"),
                                recursive=True))
    callers += sorted(
        p for p in glob.glob(os.path.join(root, "perfbench", "*.py"))
        if not os.path.basename(p).startswith("test_")
    )
    trees = {p: ast.parse(open(p).read()) for p in callers}
    uses: dict[str, list[tuple[str, int]]] = {}
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = (node.asname or node.name).split(".")[-1]
            else:
                continue
            uses.setdefault(name, []).append((path, node.lineno))

    def registered(d) -> bool:
        for dec in d.decorator_list:
            f = dec.func if isinstance(dec, ast.Call) else dec
            if getattr(f, "id", getattr(f, "attr", None)) == "register":
                return True
        return False

    unreached = sorted(
        f"{os.path.relpath(path, PKG)}::{d.name}"
        for path in _modules()
        for d in trees[path].body
        if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not d.name.startswith("_")
        and d.name not in _TEST_REFERENCES
        and not registered(d)
        and not any(
            not (p == path and d.lineno <= ln <= d.end_lineno)
            for p, ln in uses.get(d.name, [])
        )
    )
    assert unreached == []


class TestScaleGate:
    """bench_scale's structural linearity gate (round-7 verdict #2):
    shuffle-byte growth is the primary signal, wall growth gates only
    on clean-steal runs, and the r7 d11 counter-example — ×8.03 wall
    on ×3 data, clean steal — must never print linear again."""

    def _gate(self):
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "bench_scale",
            os.path.join(os.path.dirname(PKG), "bench_scale.py"),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.gate_verdict

    def test_r7_d11_counterexample_fails(self):
        gate = self._gate()
        # the committed pre-fix BENCH_sf3_policy_r07 d11 row: wall
        # x8.03 on x3 data, shuffle tracking data, no steal channel
        v = gate(8.03, 2.9, 3.0, big_steal_jiffies=0)
        assert v["shuffle_ok"] and not v["wall_ok"] and v["steal_clean"]
        assert v["linear"] is False

    def test_clean_linear_run_passes(self):
        gate = self._gate()
        v = gate(3.1, 2.9, 3.0, big_steal_jiffies=40)
        assert v["linear"] is True

    def test_steal_spike_waives_wall_only(self):
        gate = self._gate()
        # weather-contaminated wall with a linear plan: flagged
        # not-clean but still linear (shuffle channel gates)
        v = gate(8.0, 2.9, 3.0, big_steal_jiffies=2000)
        assert v["steal_clean"] is False and v["linear"] is True
        # superlinear SHUFFLE can never hide behind steal
        v = gate(8.0, 9.0, 3.0, big_steal_jiffies=2000)
        assert v["linear"] is False

    def test_no_shuffle_query_gates_on_wall(self):
        gate = self._gate()
        assert gate(2.0, None, 3.0, 0)["linear"] is True
        assert gate(9.0, None, 3.0, 0)["linear"] is False

    def test_rate_normalized_steal_gate(self):
        """r12 verdict #1: a multi-minute sf10 bracket is judged by
        steal RATE, not the absolute bar a long window can never pass.
        1800 jiffies over a 300 s bracket is 6 j/s — cleaner pressure
        than a 'clean' 450-jiffy 10 s bracket (45 j/s) — so it must
        gate the wall; the same 1800 jiffies over a 10 s bracket is
        180 j/s and stays contaminated."""
        gate = self._gate()
        v = gate(8.0, 2.9, 3.0, big_steal_jiffies=1800,
                 big_bracket_sec=300.0, small_bracket_sec=10.0)
        assert v["steal_clean"] is True
        assert v["allowed_steal_big"] == 15000
        assert v["linear"] is False  # clean wall x8 on x3 now gates
        v = gate(8.0, 2.9, 3.0, big_steal_jiffies=1800,
                 big_bracket_sec=10.0, small_bracket_sec=10.0)
        assert v["steal_clean"] is False and v["linear"] is True
        # the absolute bar still guards short brackets: 400 jiffies
        # in 2 s is 200 j/s but under the 500 absolute allowance
        v = gate(3.0, 2.9, 3.0, big_steal_jiffies=400,
                 big_bracket_sec=2.0, small_bracket_sec=2.0)
        assert v["steal_clean"] is True

    def test_load_contamination_waives_wall_only(self):
        """Round-10 verdict #3: a loadavg-contaminated attempt's wall
        gates nothing (the BENCH_sf3_heavy_r10 c07 ×6.29 headline
        that four clean runs refuted), but superlinear SHUFFLE can
        never hide behind load contamination either."""
        gate = self._gate()
        v = gate(8.0, 2.9, 3.0, big_steal_jiffies=0, load_clean=False)
        assert v["steal_clean"] is True
        assert v["measurement_clean"] is False
        assert v["linear"] is True
        v = gate(8.0, 9.0, 3.0, big_steal_jiffies=0, load_clean=False)
        assert v["linear"] is False
