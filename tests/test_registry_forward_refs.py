"""Self-containment law for the registry part files: every global
name a part reads is bound in that part (a def, an assignment or an
import in its own header) or is a builtin. A part that read a name
bound only by a later part would import cleanly and then raise
NameError inside whichever query first touched it; with this law
there is no late binding to maintain, and registry/__init__.py only
loads the parts and re-exports their names.

The check is the compiler's own scope analysis (stdlib `symtable`),
so function-local imports and parameters count as bound where they
are bound, and nothing outside the file is consulted.

Run directly to check another copy of the registry:
`python tests/test_registry_forward_refs.py <registry dir>`."""

from __future__ import annotations

import ast
import builtins
import symtable
import sys
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "aurora_cdc_demo_spark" / "registry"

_MODULE_NAMES = {"__file__", "__name__", "__doc__", "__spec__",
                 "__package__", "__loader__", "__builtins__", "__path__"}
_BUILTINS = set(dir(builtins)) | _MODULE_NAMES


def unbound_globals(path: Path) -> set[str]:
    """Global names read somewhere in the file and bound nowhere in
    it (module-level defs, assignments and imports, plus names a
    nested scope assigns under a `global` declaration)."""
    top = symtable.symtable(path.read_text(), str(path), "exec")
    bound: set[str] = set()
    read: set[str] = set()
    for sym in top.get_symbols():
        if sym.is_assigned() or sym.is_imported():
            bound.add(sym.get_name())
        elif sym.is_referenced():
            read.add(sym.get_name())
    stack = list(top.get_children())
    while stack:
        table = stack.pop()
        stack.extend(table.get_children())
        for sym in table.get_symbols():
            if not sym.is_global():
                continue
            if sym.is_declared_global() and sym.is_assigned():
                bound.add(sym.get_name())
            if sym.is_referenced():
                read.add(sym.get_name())
    return read - bound - _BUILTINS


def _parts(pkg: Path) -> list[Path]:
    return sorted(pkg.glob("p??_*.py"))


def test_every_part_binds_what_it_reads():
    parts = _parts(PKG)
    assert len(parts) == 8, [p.name for p in parts]
    unbound = {p.name: sorted(unbound_globals(p)) for p in parts}
    unbound = {k: v for k, v in unbound.items() if v}
    assert not unbound, (
        f"registry parts read globals they never bind: {unbound} — "
        "import each name in the part's header from the part that "
        "defines it (or move the definition earlier)"
    )


def test_init_only_reexports():
    """No `_pNN.<name> = ...` late-binding assignment in __init__."""
    tree = ast.parse((PKG / "__init__.py").read_text())
    patches = [
        ast.unparse(t)
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        for t in node.targets
        if isinstance(t, ast.Attribute)
    ]
    assert not patches, patches


if __name__ == "__main__":
    pkg = Path(sys.argv[1]) if len(sys.argv) > 1 else PKG
    for p in _parts(pkg):
        for name in sorted(unbound_globals(p)):
            print(f"{p.name}: {name}")
