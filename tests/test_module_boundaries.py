"""Module boundaries of the package: no module imports another module's
underscore name, except the Arrow list decoder and the kernel-choice
check that ``functions/vectors.py`` shares, no ``operators/`` module
imports a sibling inside a function body, where an import cycle would
hide instead of failing at load, and the dedup flagship caches nothing."""

from __future__ import annotations

import ast

from test_reachability import PKG_ROOT, _body, _names

PKG = PKG_ROOT.name
FLAGSHIP = [
    "operators/dedup.py",
    "operators/bands.py",
    "operators/pairs.py",
    "operators/verify.py",
    "operators/components.py",
    "streaming/incremental.py",
]
SHARED = {"functions.vectors": {"_list_parts", "_vectors", "_spans", "_require_kernel"}}


def _imports(path):
    """``(module, names, in a function)`` per import of a package module
    in ``path``: ``module`` dotted and package-relative, ``names`` what
    the statement binds (empty for ``import pkg.module``)."""
    parts = path.relative_to(PKG_ROOT).with_suffix("").parts
    out = []

    def visit(node, in_fn: bool):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ImportFrom):
                if child.level:
                    base = parts[: len(parts) - child.level]
                    mod = ".".join(base + ((child.module,) if child.module else ()))
                elif child.module.startswith(PKG + "."):
                    mod = child.module[len(PKG) + 1:]
                else:
                    continue
                out.append((mod, _names([child]), in_fn))
            elif isinstance(child, ast.Import):
                out.extend(
                    (a.name[len(PKG) + 1:], set(), in_fn)
                    for a in child.names
                    if a.name.startswith(PKG + ".")
                )
            fn = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
            visit(child, in_fn or fn)

    visit(ast.Module(_body(path), []), False)
    return out


def _modules(mod: str, names: set[str]) -> set[str]:
    """Of ``names`` imported from package module ``mod``, those that are
    modules themselves (``from pkg.operators import topk``)."""
    where = PKG_ROOT.joinpath(*mod.split(".")) if mod else PKG_ROOT
    return {n for n in names if (where / f"{n}.py").exists() or (where / n).is_dir()}


def test_no_module_imports_another_modules_underscore_names():
    bad = []
    for path in sorted(PKG_ROOT.rglob("*.py")):
        rel = path.relative_to(PKG_ROOT).as_posix()
        body = _body(path)
        aliases = set()
        for mod, names, _ in _imports(path):
            private = {n for n in names if n.startswith("_")} - SHARED.get(mod, set())
            bad += [(rel, f"{mod}.{n}") for n in sorted(private)]
            aliases |= _modules(mod, names)
        # ``module._name`` through a module imported by name
        for node in ast.walk(ast.Module(body, [])):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases
                and node.attr.startswith("_")
                and not node.attr.startswith("__")
            ):
                bad.append((rel, f"{node.value.id}.{node.attr}"))
    assert not bad, bad


def test_no_operator_imports_a_sibling_inside_a_function():
    bad = [
        (path.name, mod, sorted(names))
        for path in sorted((PKG_ROOT / "operators").glob("*.py"))
        for mod, names, in_fn in _imports(path)
        if in_fn and mod.split(".")[0] == "operators"
    ]
    assert not bad, bad


def test_flagship_materialises_only_through_checkpoints():
    """The flagship's modules materialise a frame only with
    ``session.checkpoint`` and free it with ``session.release``: no call
    of ``persist``, ``cache`` or ``unpersist`` (defining a method of that
    name is fine)."""
    bad = [
        (rel, node.lineno, node.func.attr)
        for rel in FLAGSHIP
        for node in ast.walk(ast.Module(_body(PKG_ROOT / rel), []))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in {"persist", "cache", "unpersist"}
    ]
    assert not bad, bad
