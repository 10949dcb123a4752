"""Every top-level def and class in the package is reached from a real root.

The roots are the job CLIs (jobs/*.py), the driver contract
(__spark_entry__.py, which holds every contract query and oracle) and the
benchmark (perfbench/*.py). The walk is transitive over names: a def is
reached when its name appears in reached code as a name, an attribute, an
imported name or an identifier inside a string constant (perfbench wraps
functions by attribute name). Docstrings are prose, not references, so they
reach nothing. Code that only tests reach is deleted, not kept; the
allowlist names what stays on purpose.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "navigator_document_parser_spark"
ROOTS = [
    *sorted((REPO / "jobs").glob("*.py")),
    REPO / "__spark_entry__.py",
    *sorted((REPO / "perfbench").glob("*.py")),
]

# module path relative to the package (or a directory prefix) -> reason
ALLOWED_MODULES = {
    "extraction/": "golden-pinned extraction core; kept whole so the goldens "
                   "stay byte-identical",
    "sources/readers.py": "format readers of the paper's ingest stage S1 "
                          "(COVERAGE)",
}
# (module path, name) -> reason
ALLOWED_DEFS = {
    ("plans/job.py", "raw_parse_artifacts"):
        "the raw per-parser artifacts of the paper's stage S8 (COVERAGE)",
    ("plans/job.py", "flip_pdf_block_coords"):
        "the PDF coordinate flip of the paper's stage M12 (COVERAGE)",
    ("streaming/index_stream.py", "read_current_index"):
        "the read side of the streaming index table it maintains",
    ("sources/warc.py", "write_warc"):
        "fixture writer for the reached read_warc",
    ("sources/warc.py", "write_wet"):
        "fixture writer for the reached read_wet",
}

_IDENT = re.compile(r"[A-Za-z_]\w*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstrings(top: ast.AST) -> set[int]:
    return {id(n.body[0].value) for n in ast.walk(top)
            if isinstance(n, (ast.Module, *_DEFS)) and ast.get_docstring(n)}


def _names(nodes) -> set[str]:
    """Every identifier the given AST nodes refer to."""
    out: set[str] = set()
    for top in nodes:
        prose = _docstrings(top)
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.update(n.name.split("."))
            elif isinstance(n, ast.ImportFrom) and n.module:
                out.update(n.module.split("."))
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and id(n) not in prose):
                out.update(_IDENT.findall(n.value))
    return out


def unreached() -> list[tuple[str, str]]:
    """(module path, name) of every top-level def or class no root reaches."""
    defs: list[tuple[str, str, ast.AST]] = []
    bodies: dict[str, list[ast.AST]] = {}  # module name -> top-level code
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        mod = path.parent.name if path.name == "__init__.py" else path.stem
        tree = ast.parse(path.read_text(), filename=str(path))
        code = tree.body[1:] if ast.get_docstring(tree) else tree.body
        for node in code:
            if isinstance(node, _DEFS):
                defs.append((rel, node.name, node))
            else:
                bodies.setdefault(mod, []).append(node)

    reached = _names(ast.parse(p.read_text(), filename=str(p)) for p in ROOTS)
    done_defs: set[int] = set()
    done_mods: set[str] = set()
    grew = True
    while grew:
        grew = False
        for i, (_, name, node) in enumerate(defs):
            if i not in done_defs and name in reached:
                done_defs.add(i)
                reached |= _names([node])
                grew = True
        for mod, body in bodies.items():
            if mod not in done_mods and mod in reached:
                done_mods.add(mod)
                reached |= _names(body)
                grew = True
    return [(rel, name) for i, (rel, name, _) in enumerate(defs)
            if i not in done_defs]


def _allowed(rel: str, name: str) -> bool:
    return (rel, name) in ALLOWED_DEFS or any(
        rel == m or (m.endswith("/") and rel.startswith(m))
        for m in ALLOWED_MODULES)


def test_every_package_def_is_reached_from_a_root():
    dead = [f"{rel}:{name}" for rel, name in unreached()
            if not _allowed(rel, name)]
    assert not dead, ("defined in the package but reached by no job, "
                      "contract query or benchmark: " + ", ".join(dead))


def test_allowlist_entries_exist_and_are_needed():
    # a stale entry would hide a future deletion candidate under its name
    left = set(unreached())
    for rel, name in ALLOWED_DEFS:
        assert (rel, name) in left, f"{rel}:{name} is reached; drop it"
    for m in ALLOWED_MODULES:
        assert (PACKAGE / m).exists(), f"{m} no longer exists; drop it"
