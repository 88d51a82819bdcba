"""Every driver thread the package starts inherits the caller's job group.

A Spark job takes its job group, description and ``interruptOnCancel``
from the local properties of the thread that launches it. A plain
thread starts with none of the caller's, so its jobs escape perfbench's
span attribution and a ``cancelJobGroup`` on timeout. The package's
parallel sites therefore hand their targets through
``pyspark.util.inheritable_thread_target``. This guard fails on any
``threading.Thread(target=...)`` or executor ``submit``/``map`` in the
package whose target is not such a wrap: written inline
(``inheritable_thread_target(spark)(fn)``), or a name assigned from
one. Static AST walk, no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "clickhousebackup_spark"
WRAP = "inheritable_thread_target"
EXECUTOR_METHODS = {"submit", "map"}
EXECUTORS = {"ThreadPoolExecutor", "ProcessPoolExecutor", "Executor"}


def _name(node: ast.AST) -> str | None:
    """``Thread`` for ``threading.Thread`` and for ``Thread``."""
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def _is_wrap(node: ast.AST) -> bool:
    """``inheritable_thread_target(fn)`` or ``inheritable_thread_target(spark)(fn)``."""
    while isinstance(node, ast.Call):
        if _name(node.func) == WRAP:
            return True
        node = node.func
    return False


def _executor_names(tree: ast.AST) -> set[str]:
    """Names bound to an executor: ``with ThreadPoolExecutor(...) as pool``
    and ``pool = ThreadPoolExecutor(...)``."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.withitem):
            if (
                isinstance(node.context_expr, ast.Call)
                and _name(node.context_expr.func) in EXECUTORS
                and isinstance(node.optional_vars, ast.Name)
            ):
                names.add(node.optional_vars.id)
        elif isinstance(node, ast.Assign):
            if isinstance(node.value, ast.Call) and _name(node.value.func) in EXECUTORS:
                names.update(t.id for t in node.targets if isinstance(t, ast.Name))
    return names


def _wrapped_names(tree: ast.AST) -> set[str]:
    """Names assigned from a wrap: ``task = inheritable_thread_target(...)(fn)``."""
    return {
        t.id
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign) and _is_wrap(node.value)
        for t in node.targets
        if isinstance(t, ast.Name)
    }


def unwrapped_thread_targets(package: Path = PACKAGE) -> list[str]:
    """``path:line`` of every thread start or executor submit/map in
    ``package`` whose target is not an ``inheritable_thread_target``
    wrap."""
    hits = []
    for path in sorted(package.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        executors, wrapped = _executor_names(tree), _wrapped_names(tree)

        def ok(target: ast.AST | None) -> bool:
            if target is None:
                return False
            return _is_wrap(target) or (isinstance(target, ast.Name) and target.id in wrapped)

        calls = sorted(
            (n for n in ast.walk(tree) if isinstance(n, ast.Call)),
            key=lambda n: (n.lineno, n.col_offset),
        )
        for node in calls:
            func = node.func
            if _name(func) == "Thread":
                # Thread(group, target, ...)
                target = next(
                    (k.value for k in node.keywords if k.arg == "target"),
                    node.args[1] if len(node.args) > 1 else None,
                )
            elif (
                isinstance(func, ast.Attribute)
                and func.attr in EXECUTOR_METHODS
                and (
                    (isinstance(func.value, ast.Name) and func.value.id in executors)
                    or (isinstance(func.value, ast.Call) and _name(func.value.func) in EXECUTORS)
                )
            ):
                target = node.args[0] if node.args else None
            else:
                continue
            if not ok(target):
                hits.append(f"{path.relative_to(package)}:{node.lineno}")
    return hits


def test_every_thread_target_inherits_the_job_group():
    hits = unwrapped_thread_targets()
    assert not hits, (
        f"{len(hits)} thread target(s) without inheritable_thread_target; "
        f"their Spark jobs would lose the caller's job group: {hits}"
    )


def test_guard_sees_unwrapped_targets(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "ok.py").write_text(
        "import threading\n"
        "from concurrent.futures import ThreadPoolExecutor\n"
        "from pyspark.util import inheritable_thread_target\n"
        "def f(spark, work, items):\n"
        "    with ThreadPoolExecutor(2) as pool:\n"
        "        for i in items:\n"
        "            task = inheritable_thread_target(spark)(work)\n"
        "            pool.submit(task, i)\n"
        "        pool.submit(inheritable_thread_target(spark)(work), 0)\n"
        "    threading.Thread(target=inheritable_thread_target(work)).start()\n"
    )
    (pkg / "bad.py").write_text(
        "import threading\n"
        "import concurrent.futures as cf\n"
        "def f(work, items):\n"
        "    pool = cf.ThreadPoolExecutor(2)\n"
        "    pool.submit(work, 1)\n"
        "    list(pool.map(work, items))\n"
        "    threading.Thread(target=work).start()\n"
        "    with cf.ThreadPoolExecutor() as ex:\n"
        "        ex.submit(lambda: work(0))\n"
    )
    assert unwrapped_thread_targets(pkg) == ["bad.py:5", "bad.py:6", "bad.py:7", "bad.py:9"]
