"""The runtime kernels hold only what runtime code calls: every
top-level function or class in ``onnxtr_spark/kernels/*.py`` is
reachable, transitively, from the package outside ``kernels/``.
Scalar twins and one-page wrappers that only tests call live in
``tests/`` as oracles.

Reachability follows bindings, not bare names: a definition is keyed
by (module, name), and a reference reaches it only through
``from onnxtr_spark.kernels.X import f``, ``X.f`` with ``X`` bound to
a kernels module, or an unqualified name inside module ``X`` itself.
So a dead kernel that shares its name with some other function or
attribute in the package is still listed."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "onnxtr_spark"
KERNELS = PACKAGE / "kernels"
PREFIX = "onnxtr_spark.kernels"
# one-page calls of the group and chunk kernels: perfbench/tracer.py
# wraps them by name
TRACER_WRAPPED = {
    ("builder", "word_order"),
    ("builder", "word_order_blocks"),
    ("rotated", "word_order_rotated"),
    ("detect_post", "postprocess_pixel_map"),
    ("detect_post", "postprocess_prob_map"),
    ("rotated_post", "postprocess_pixel_map_rotated"),
    ("rotated_post", "postprocess_prob_map_rotated"),
}


def _bindings(tree: ast.AST) -> tuple[dict[str, tuple[str, str]], dict[str, str]]:
    """What a file's imports bind: local name -> (kernels module, name)
    for ``from onnxtr_spark.kernels.X import f [as g]``, and local name
    -> kernels module for ``from onnxtr_spark.kernels import X [as Y]``
    or ``import onnxtr_spark.kernels.X as Y``."""
    names: dict[str, tuple[str, str]] = {}
    modules: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                if node.module == PREFIX:
                    modules[a.asname or a.name] = a.name
                elif node.module.startswith(PREFIX + "."):
                    names[a.asname or a.name] = (node.module[len(PREFIX) + 1 :], a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PREFIX + ".") and a.asname:
                    modules[a.asname] = a.name[len(PREFIX) + 1 :]
    return names, modules


def _refs(tree: ast.AST, module: str | None, names, modules) -> set[tuple[str, str]]:
    """(kernels module, name) pairs a tree may reference: imported
    names, attributes of bound kernels modules and, inside kernels
    module ``module``, its own unqualified names."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            if node.id in names:
                out.add(names[node.id])
            elif module is not None:
                out.add((module, node.id))
        elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            if node.value.id in modules:
                out.add((modules[node.value.id], node.attr))
    return out


def unreached_kernels(package: pathlib.Path) -> list[str]:
    """``module.name`` of every kernel definition no runtime code reaches."""
    kernels = package / "kernels"
    defs: dict[tuple[str, str], ast.AST] = {}
    imports: dict[str, tuple[dict, dict]] = {}
    roots: set[tuple[str, str]] = set()
    for path in sorted(kernels.glob("*.py")):
        tree = ast.parse(path.read_text())
        imports[path.stem] = _bindings(tree)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defs[path.stem, node.name] = node
            else:  # module-level code runs on import
                roots |= _refs(node, path.stem, *imports[path.stem])
    for path in sorted(package.rglob("*.py")):
        if kernels not in path.parents:
            tree = ast.parse(path.read_text())
            roots |= _refs(tree, None, *_bindings(tree))

    def resolve(key: tuple[str, str] | None) -> tuple[str, str] | None:
        """The definition a binding names, through re-imports."""
        while key is not None and key not in defs:
            key = imports.get(key[0], ({}, {}))[0].get(key[1])
        return key

    reached: set[tuple[str, str]] = set()
    todo = list(roots)
    while todo:
        key = resolve(todo.pop())
        if key is not None and key not in reached:
            reached.add(key)
            todo += _refs(defs[key], key[0], *imports[key[0]])
    return sorted(f"{m}.{n}" for m, n in set(defs) - reached - TRACER_WRAPPED)


def test_every_kernel_is_reachable_from_runtime_code():
    assert unreached_kernels(PACKAGE) == []
