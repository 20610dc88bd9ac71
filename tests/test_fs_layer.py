"""The library has one filesystem layer: ``storage.py``'s Hadoop-FS
helpers. Any other module that lists, reads, writes or deletes a path
with ``open``/``os``/``shutil`` breaks on the ``file://``, ``hdfs://``
and ``s3a://`` paths the rest of the library accepts (``os.makedirs``
on a ``file://`` URI creates ``./file:/...`` under the working
directory), so this walks every library module with ``ast`` and fails
on such a call outside ``storage.py`` and the allowlisted sites."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "ai_etl_framework_spark"

FS_CALLS = {
    "open",
    "os.listdir", "os.walk", "os.stat", "os.makedirs", "os.remove",
    "os.rename", "os.replace",
    "os.path.exists", "os.path.isdir", "os.path.isfile", "os.path.getsize",
    "shutil.rmtree", "shutil.move",
}

#: (module, enclosing function or None for the whole module) -> reason
ALLOWED = {
    ("sinks/versioned.py", None): (
        "the single-winner commit is a posix os.link claim (atomic "
        "create-if-absent), which no Hadoop filesystem call provides; "
        "a URI root is refused at construction"
    ),
    ("session.py", "_table_cache_key"): (
        "a path os.stat cannot read only means no plan cache, and a "
        "Hadoop listing per load_table call would cost what the cache "
        "exists to save"
    ),
}


def _dotted(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return f"{base}.{node.attr}" if base else None
    return None


def _fs_calls(tree: ast.AST):
    """(call name, line, enclosing top-level function) per filesystem
    call in ``tree``."""
    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            inner = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = func or child.name
            if isinstance(child, ast.Call) and _dotted(child.func) in FS_CALLS:
                yield _dotted(child.func), child.lineno, inner
            yield from walk(child, inner)

    yield from walk(tree, None)


def test_only_storage_touches_the_filesystem():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "storage.py" or (rel, None) in ALLOWED:
            continue
        for name, line, func in _fs_calls(ast.parse(path.read_text())):
            if (rel, func) not in ALLOWED:
                offenders.append(f"{rel}:{line} {name}() in {func or '<module>'}")
    assert not offenders, (
        "filesystem calls outside storage.py — use its _fs/_exists/"
        "_list_dir/_read_bytes/_write_bytes helpers:\n" + "\n".join(offenders)
    )


def test_allowlisted_sites_still_exist():
    """An allowlist entry whose site is gone would silently widen the
    exemption to whatever lands there next."""
    for (rel, func), reason in ALLOWED.items():
        assert reason
        calls = list(_fs_calls(ast.parse((PKG / rel).read_text())))
        assert any(func is None or f == func for _, _, f in calls), (rel, func)
