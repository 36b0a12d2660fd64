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
    construct one, and a dataset cannot bring its own load function."""
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


def test_loop_fences_set_in_one_place():
    """Loops plan on one cached session clone per caller whose conf is
    written once, at creation: inside the package only
    operators/graph.py clones a session, and AQE and the shuffle width
    are set only by the loop-session helper and streaming's
    ``state_sized_shuffle`` (no per-call set/restore fences)."""
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
    assert clones == [os.path.join("operators", "graph.py")]
    assert setters == {
        os.path.join("operators", "graph.py") + "::_on_loop_session",
        os.path.join("streaming", "pipeline.py") + "::state_sized_shuffle",
    }


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
