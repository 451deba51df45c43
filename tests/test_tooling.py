"""Repo-level guards for the scripts around the package: every tool, example
and bench.py builds its session through ``session.get_spark`` and compiles."""

from __future__ import annotations

import ast
import py_compile
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


def _store_sites(path: Path) -> tuple[dict[str, list[str]], list[str]]:
    """Qualified enclosing function of every call to a bracket step, and of
    every ``….read….parquet(...)`` data-file read, in ``path``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    steps: dict[str, list[str]] = {s: [] for s in BRACKET_STEPS}
    reads: list[str] = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = f"{fn}.{node.name}" if fn else node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr in steps:
                steps[node.func.attr].append(fn)
            if node.func.attr == "parquet":
                recv = node.func.value
                while isinstance(recv, (ast.Call, ast.Attribute)):
                    if isinstance(recv, ast.Attribute) and recv.attr == "read":
                        reads.append(fn)
                        break
                    recv = recv.func if isinstance(recv, ast.Call) else recv.value
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, "")
    return steps, reads


def test_store_writes_go_through_one_bracket_and_reads_through_one_reader():
    """Every GridStore write is the one stage-and-commit bracket: each of
    its steps has exactly one call site, inside the bracket; every data
    parquet read is the one reader."""
    steps, reads = _store_sites(STORE)
    assert {s: set(fns) for s, fns in steps.items()} == {
        s: {BRACKET} for s in BRACKET_STEPS
    }, steps
    assert len(steps["_stage_files"]) == len(steps["_commit"]) == 1, steps
    assert reads == [READER], reads
