"""Repo-level guards for the scripts around the package: every tool, example
and bench.py builds its session through ``session.get_spark`` and compiles."""

from __future__ import annotations

import ast
import io
import py_compile
import re
import tokenize
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

#: the only places allowed to build a session by hand: the package's builder,
#: the test fixture (its local[4]/8-partition sizing keeps tier-1 fast) and
#: the benchmark harness
BUILDER_ALLOWED = (
    REPO / "zarr_climate_etl_ipfs_spark" / "session.py",
    REPO / "tests" / "conftest.py",
    REPO / "perfbench",
)

SCRIPTS = sorted((REPO / "tools").glob("*.py")) + sorted((REPO / "examples").glob("*.py"))


def _repo_sources() -> list[Path]:
    return [
        p
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
        and not any(p == a or a in p.parents for a in BUILDER_ALLOWED)
    ]


def _builder_sites(path: Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and isinstance(node.value, ast.Name)
        and node.value.id == "SparkSession"
    ]


def test_sessions_come_from_get_spark():
    sources = _repo_sources()
    assert REPO / "bench.py" in sources and SCRIPTS
    # the scan is not vacuous: it sees the one builder that is allowed
    assert _builder_sites(REPO / "zarr_climate_etl_ipfs_spark" / "session.py")
    sites = {
        str(p.relative_to(REPO)): lines for p in sources if (lines := _builder_sites(p))
    }
    assert not sites, f"build the session with session.get_spark(), not SparkSession.builder: {sites}"


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: f"{p.parent.name}/{p.name}")
def test_script_compiles(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "out.pyc"), doraise=True)


STORE = REPO / "zarr_climate_etl_ipfs_spark" / "sources" / "store.py"

#: write-path steps only the stage-and-commit bracket may call
BRACKET = "GridStore._publish"
BRACKET_STEPS = ("_flag_update", "_stage_files", "_commit")
READER = "GridStore._read"


def _store_sites(path: Path) -> tuple[dict[str, list[str]], list[tuple[str, bool]]]:
    """Qualified enclosing function of every call to a bracket step, and of
    every ``….read….parquet(...)`` data-file read in ``path`` paired with
    whether that read declares its schema (a ``.schema(...)`` call in the
    chain)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    steps: dict[str, list[str]] = {s: [] for s in BRACKET_STEPS}
    reads: list[tuple[str, bool]] = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = f"{fn}.{node.name}" if fn else node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr in steps:
                steps[node.func.attr].append(fn)
            if node.func.attr == "parquet":
                recv, declared = node.func.value, False
                while isinstance(recv, (ast.Call, ast.Attribute)):
                    if isinstance(recv, ast.Attribute) and recv.attr == "read":
                        reads.append((fn, declared))
                        break
                    if isinstance(recv, ast.Call) and isinstance(recv.func, ast.Attribute):
                        declared = declared or recv.func.attr == "schema"
                    recv = recv.func if isinstance(recv, ast.Call) else recv.value
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, "")
    return steps, reads


def test_store_writes_go_through_one_bracket_and_reads_through_one_reader():
    """Every GridStore write is the one stage-and-commit bracket: each of
    its steps has exactly one call site, inside the bracket; every data
    parquet read is the one reader, and it declares the store's schema
    (an inferred schema costs a footer-reading Spark job per open)."""
    steps, reads = _store_sites(STORE)
    assert {s: set(fns) for s, fns in steps.items()} == {
        s: {BRACKET} for s in BRACKET_STEPS
    }, steps
    assert len(steps["_stage_files"]) == len(steps["_commit"]) == 1, steps
    assert reads == [(READER, True)], reads


PACKAGE = REPO / "zarr_climate_etl_ipfs_spark"
SIMILARITY = PACKAGE / "operators" / "similarity.py"

#: the commit protocol's shared steps, defined once in store.py
PROTOCOL = ("read_manifest", "commit_manifest", "stage_partitioned")


def _sites(path: Path, match) -> list[str]:
    """Qualified enclosing function ('' at module level) of every node in
    ``path`` for which ``match(node)`` holds."""
    out: list[str] = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = f"{fn}.{node.name}" if fn else node.name
        if match(node):
            out.append(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(path.read_text(), filename=str(path)), "")
    return out


def _calls(name: str):
    def match(node: ast.AST) -> bool:
        if not isinstance(node, ast.Call):
            return False
        f = node.func
        return (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) == name

    return match


def _self_call(node: ast.AST, name: str) -> bool:
    """``node`` is a ``self.<name>(...)`` call."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "self"
    )


def test_update_and_insert_read_one_snapshot_and_write_once():
    """GridStore.update and GridStore.insert each read the manifest once (and
    open no second snapshot through dataset()) and commit every leg against
    it through the carry-over rewrite, which reads no manifest of its own;
    update never takes append()'s retrying path."""
    calls = {
        name: _sites(STORE, lambda n, name=name: _self_call(n, name))
        for name in ("manifest", "dataset", "append", "_rewrite_touched")
    }
    for fn in ("GridStore.update", "GridStore.insert"):
        assert calls["manifest"].count(fn) == 1, calls
        assert fn not in calls["dataset"], calls
        assert calls["_rewrite_touched"].count(fn) == 1, calls
    assert "GridStore._rewrite_touched" not in calls["manifest"], calls
    assert "GridStore.update" not in calls["append"], calls


def test_one_commit_protocol_shared_by_store_and_ivf_index():
    """The put-if-absent ``os.link`` exists once in the package, inside the
    shared commit; the manifest read, the commit and the staged write are
    defined once and called by both GridStore and the persisted IVF index."""
    links = {
        str(p.relative_to(PACKAGE)): fns
        for p in sorted(PACKAGE.rglob("*.py"))
        if (fns := _sites(p, _calls("link")))
    }
    assert links == {"sources/store.py": ["commit_manifest"]}, links
    for name in PROTOCOL:
        defs = [
            str(p.relative_to(PACKAGE))
            for p in sorted(PACKAGE.rglob("*.py"))
            for _ in _sites(
                p, lambda n: isinstance(n, ast.FunctionDef) and n.name == name
            )
        ]
        assert defs == ["sources/store.py"], (name, defs)
        store_callers = _sites(STORE, _calls(name))
        assert any(fn.startswith("GridStore.") for fn in store_callers), (name, store_callers)
        assert any(fn.startswith("_ivf_") for fn in _sites(SIMILARITY, _calls(name))), name


def test_no_session_wide_partition_overwrite_mode():
    """Dynamic partition overwrite is a per-write option: no package code
    sets ``partitionOverwriteMode`` on the session conf."""

    def sets_mode(node: ast.AST) -> bool:
        return (
            _calls("set")(node)
            and bool(node.args)
            and isinstance(node.args[0], ast.Constant)
            and "partitionOverwriteMode" in str(node.args[0].value)
        )

    sites = {
        str(p.relative_to(PACKAGE)): fns
        for p in sorted(PACKAGE.rglob("*.py"))
        if (fns := _sites(p, sets_mode))
    }
    assert not sites, sites


def test_no_ctypes_under_operators():
    def imports_ctypes(node: ast.AST) -> bool:
        if isinstance(node, ast.Import):
            return any(a.name.split(".")[0] == "ctypes" for a in node.names)
        return isinstance(node, ast.ImportFrom) and (node.module or "").startswith("ctypes")

    sites = {
        str(p.relative_to(PACKAGE)): fns
        for p in sorted((PACKAGE / "operators").rglob("*.py"))
        if (fns := _sites(p, imports_ctypes))
    }
    assert not sites, sites


#: the one helper that holds a caller's frame for one library call, and the
#: calls that use it: each runs several Spark actions over one update batch
EVALUATE_ONCE = "_evaluated_once"
EVALUATE_ONCE_CALLERS = {
    "operators/qc.py": ["post_parse_quality_check"],
    "sources/store.py": ["GridStore.insert", "GridStore.update"],
}


def test_update_batches_are_held_by_one_helper_in_three_calls():
    """Under ``sources/`` and ``operators/qc.py`` a frame is persisted and
    released only inside the helper (no ``cache``/``localCheckpoint``
    either), the helper is defined once, and only GridStore.update,
    GridStore.insert and post_parse_quality_check call it — never a
    whole-store input such as the NaN or value scans or ``compact``."""
    scoped = sorted((PACKAGE / "sources").rglob("*.py")) + [PACKAGE / "operators" / "qc.py"]
    for name, where in (
        ("persist", {"sources/ingest.py": [EVALUATE_ONCE]}),
        ("unpersist", {"sources/ingest.py": [EVALUATE_ONCE]}),
        ("cache", {}),
        ("localCheckpoint", {}),
    ):
        sites = {
            str(p.relative_to(PACKAGE)): fns for p in scoped if (fns := _sites(p, _calls(name)))
        }
        assert sites == where, (name, sites)
    defs = [
        str(p.relative_to(PACKAGE))
        for p in sorted(PACKAGE.rglob("*.py"))
        for _ in _sites(p, lambda n: isinstance(n, ast.FunctionDef) and n.name == EVALUATE_ONCE)
    ]
    assert defs == ["sources/ingest.py"], defs
    callers = {
        str(p.relative_to(PACKAGE)): sorted(fns)
        for p in sorted(PACKAGE.rglob("*.py"))
        if (fns := _sites(p, _calls(EVALUATE_ONCE)))
    }
    assert callers == EVALUATE_ONCE_CALLERS, callers


#: round-history tags in package prose: round numbers ("r16:", "r12b",
#: "round-8", "Round 13"), provenance labels and frozen records. Case only
#: matters for the short ``r<N>`` form.
HISTORY = re.compile(
    r"\br\d+[a-z]?\b"
    r"|(?i:\bround[- ]\d+|review catch|advi(?:ce|sor|sory) (?:fix|catch)"
    r"|adversarial(?:-corpus)? catch|\bjudge\b|\bverdict\b|FLOOR RECORD)"
)


def _prose(src: str) -> list[tuple[int, str]]:
    """``(line, text)`` of every comment (tokenize) and docstring (ast) in
    ``src``; code and other string literals are not scanned."""
    out = [
        (tok.start[0], tok.string)
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type == tokenize.COMMENT
    ]
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            doc = ast.get_docstring(node, clean=False)
            if doc is not None:
                first = node.body[0].lineno
                out += [(first + i, line) for i, line in enumerate(doc.splitlines())]
    return out


def test_package_prose_carries_no_round_history():
    """Comments and docstrings under the package state the current
    contract; the history of how it came about lives in BASELINE.md and the
    OPTIMIZATION docs."""
    # the scan sees the docstring and the comment, not the code between
    probe = '"""Helper (r16 review catch)."""\nr0 = "r12 round-3"\n# round 8 verdict\n'
    assert sorted(ln for ln, text in _prose(probe) if HISTORY.search(text)) == [1, 3]
    hits = [
        f"{p.relative_to(REPO)}:{ln}: {text.strip()}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for ln, text in _prose(p.read_text())
        if HISTORY.search(text)
    ]
    assert not hits, "round history in package prose:\n" + "\n".join(hits)
