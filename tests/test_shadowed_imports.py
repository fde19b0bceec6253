"""No function in the package binds a name its module imports at top level.

Such a binding, a local re-import included, makes the name local to the
whole function, so a use on a path that never reaches the binding raises
``UnboundLocalError`` (``cli.py labelprop`` failed this way), and on the
other paths it only repeats the module's import. Checked with the stdlib's
``symtable``, without starting Spark."""

from __future__ import annotations

import pathlib
import symtable

import halvesting_geometric_spark

PACKAGE = pathlib.Path(halvesting_geometric_spark.__file__).parent


def _functions(table):
    for child in table.get_children():
        if child.get_type() == "function":
            yield child
        yield from _functions(child)


def shadowed_imports(source: str, filename: str) -> list[tuple[str, int, str]]:
    """(function, line, name) for each local binding of a name that the
    module imports at top level."""
    module = symtable.symtable(source, filename, "exec")
    imported = {s.get_name() for s in module.get_symbols() if s.is_imported()}
    return [
        (fn.get_name(), fn.get_lineno(), s.get_name())
        for fn in _functions(module)
        for s in fn.get_symbols()
        if s.is_local() and s.get_name() in imported
    ]


def test_checker_flags_a_local_rebinding_of_a_module_import():
    source = (
        "from os import path, sep\n"
        "def f(flag):\n"
        "    if flag:\n"
        "        from os import path\n"
        "    return path, sep\n"
        "def g():\n"
        "    def h():\n"
        "        sep = '/'\n"
        "        return sep\n"
        "    return h\n"
    )
    assert shadowed_imports(source, "m.py") == [("f", 2, "path"), ("h", 7, "sep")]


def test_no_function_shadows_a_module_import():
    found = [
        (str(path.relative_to(PACKAGE.parent)), *site)
        for path in sorted(PACKAGE.rglob("*.py"))
        for site in shadowed_imports(path.read_text(), str(path))
    ]
    assert found == []
