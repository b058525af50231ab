"""The runtime kernels hold only what runtime code calls: every
top-level function or class in ``onnxtr_spark/kernels/*.py`` is
reachable by name, transitively, from the package outside ``kernels/``.
Scalar twins and one-page wrappers that only tests call live in
``tests/`` as oracles."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "onnxtr_spark"
KERNELS = PACKAGE / "kernels"
# one-page calls of the group kernels: perfbench/tracer.py wraps them by name
TRACER_WRAPPED = {
    "postprocess_pixel_map",
    "postprocess_prob_map",
    "postprocess_pixel_map_rotated",
    "postprocess_prob_map_rotated",
}


def _names(tree: ast.AST) -> set[str]:
    """Names a tree references: loads and attributes; imports do not
    count."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
    return out


def test_every_kernel_is_reachable_from_runtime_code():
    defs: dict[str, list[ast.AST]] = {}
    roots: set[str] = set()
    for path in sorted(KERNELS.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
            else:  # module-level code runs on import
                roots |= _names(node)
    for path in sorted(PACKAGE.rglob("*.py")):
        if KERNELS not in path.parents:
            roots |= _names(ast.parse(path.read_text()))
    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += [n for node in defs[name] for n in _names(node) if n in defs]
    assert sorted(set(defs) - reached - TRACER_WRAPPED) == []
