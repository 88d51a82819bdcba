"""Every query-internal checkpoint goes through ``scratch.materialize``.

How an intermediate is stored (local vs reliable checkpoint) is decided
in one function; a direct ``localCheckpoint``/``checkpoint`` call
anywhere else in the package would bypass that decision. Static AST
walk, no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "clickhousebackup_spark"
CHECKPOINT_METHODS = {"localCheckpoint", "checkpoint"}


def direct_checkpoint_calls(package: Path = PACKAGE) -> list[str]:
    """``path:line`` of every ``<expr>.localCheckpoint(...)`` or
    ``<expr>.checkpoint(...)`` call outside ``scratch.py``."""
    hits = []
    for path in sorted(package.rglob("*.py")):
        if path.relative_to(package).as_posix() == "scratch.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in CHECKPOINT_METHODS
            ):
                hits.append(f"{path.relative_to(package)}:{node.lineno}")
    return hits


def test_no_direct_checkpoint_outside_scratch():
    hits = direct_checkpoint_calls()
    assert not hits, (
        f"{len(hits)} direct checkpoint call(s); route them through "
        f"scratch.materialize: {hits}"
    )


def test_guard_sees_a_direct_call(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "scratch.py").write_text("def m(df):\n    return df.localCheckpoint()\n")
    (pkg / "op.py").write_text(
        "def f(df):\n    return df.select('a').checkpoint(eager=True)\n"
    )
    assert direct_checkpoint_calls(pkg) == ["op.py:2"]
