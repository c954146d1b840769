"""Which code under khronus_spark/ the product reaches.

Usage: python scripts/census.py [REPO_ROOT]

Two scans, printed as text (the parse is ast-only: nothing is imported
or run):

1. Modules (`unreached_modules`): the import closure of the product
   roots (the package `__init__`, `__main__`, `service`,
   `entry_queries`, plus `bench.py`, `__spark_entry__.py` and
   `perfbench/*.py`), following every `import` statement, including
   those inside functions. Modules outside the closure are listed with
   their line counts.
2. Defs (`non_product_defs`): every public top-level def, class or
   module-level assignment (a constant) under `khronus_spark/`, classed
   by the code that uses it (Name loads, attribute or import
   references; strings, comments and the assignment itself do not
   count): `product` when any package, bench, entry or perfbench file
   uses it or it is a `@register`ed entry, else `tests`, `scripts`,
   `tests+scripts` or `nothing`. Only the non-product defs are listed.
3. Imports (`unused_imports`): every name a khronus_spark/ module
   imports but never uses.
"""

from __future__ import annotations

import ast
import os
import sys

PRODUCT_ROOTS = ("khronus_spark", "khronus_spark.__main__", "khronus_spark.service",
                 "khronus_spark.entry_queries")


def pyfiles(root, d):
    """The .py files under root/d, as paths relative to root."""
    for dp, _, fn in sorted(os.walk(os.path.join(root, d))):
        for f in sorted(fn):
            if f.endswith(".py"):
                yield os.path.relpath(os.path.join(dp, f), root)


def _parse(root, path):
    with open(os.path.join(root, path)) as fh:
        return ast.parse(fh.read())


def module_name(path):
    m = path[:-3].replace("/", ".")
    return m[: -len(".__init__")] if m.endswith(".__init__") else m


def imports_of(root, path, mods):
    pkg = module_name(path)
    if not path.endswith("__init__.py"):
        pkg = pkg.rpartition(".")[0]
    out = set()
    for n in ast.walk(_parse(root, path)):
        if isinstance(n, ast.Import):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                parts = pkg.split(".")[: len(pkg.split(".")) - n.level + 1]
                base = ".".join(parts + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in n.names)
    return {o for o in out if o in mods}


def _product_files(root):
    return ["bench.py", "__spark_entry__.py", *pyfiles(root, "perfbench")]


def unreached_modules(root="."):
    """[(path, line count)] of the khronus_spark modules outside the
    product import closure, sorted by module name."""
    mods = {module_name(p): p for p in pyfiles(root, "khronus_spark")}
    stack = list(PRODUCT_ROOTS)
    for f in _product_files(root):
        stack += imports_of(root, f, mods)
    seen = set()
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        parts = m.split(".")
        stack += [".".join(parts[:i]) for i in range(1, len(parts))]
        stack += imports_of(root, mods[m], mods)
    out = []
    for m in sorted(set(mods) - seen):
        with open(os.path.join(root, mods[m])) as fh:
            out.append((mods[m], sum(1 for _ in fh)))
    return out


def _top_level_names(node):
    """The names a module-level statement binds: a def or class name, or
    the plain-name targets of an assignment."""
    if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
        return [node.name]
    targets = (node.targets if isinstance(node, ast.Assign)
               else [node.target] if isinstance(node, ast.AnnAssign) else [])
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        names += [e.id for e in elts if isinstance(e, ast.Name)]
    return names


def non_product_defs(root="."):
    """([(class, "path::name", line count)] of the public defs and
    module-level constants no product code uses, sorted; the number
    scanned)."""
    groups = {"pkg": list(pyfiles(root, "khronus_spark")), "prod": _product_files(root),
              "tests": list(pyfiles(root, "tests")), "scripts": list(pyfiles(root, "scripts"))}
    uses, defs = {}, []
    for g, files in groups.items():
        for f in files:
            tree = _parse(root, f)
            if g == "pkg":
                for n in tree.body:
                    reg = any("register" in ast.unparse(d)
                              for d in getattr(n, "decorator_list", []))
                    for name in _top_level_names(n):
                        if not name.startswith("_"):
                            defs.append((f, name, n.end_lineno - n.lineno + 1, reg))
            for n in ast.walk(tree):
                name = (n.id if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
                        else n.attr if isinstance(n, ast.Attribute)
                        else n.name.rpartition(".")[2] if isinstance(n, ast.alias) else None)
                if name:
                    uses.setdefault(name, set()).add(g)
    rows = []
    for f, name, n, reg in defs:
        gs = uses.get(name, set())
        if not (reg or "pkg" in gs or "prod" in gs):
            rows.append(("+".join(sorted(gs)) or "nothing", f"{f}::{name}", n))
    return sorted(rows), len(defs)


def unused_imports(root="."):
    """["path::name"] of the names a module under khronus_spark/ imports
    and never loads, sorted. Package `__init__` files (whose imports
    are the package's re-exports) and `from __future__` imports are
    skipped; a dotted `import a.b` binds, and is used through, `a`."""
    out = []
    for f in pyfiles(root, "khronus_spark"):
        if f.endswith("__init__.py"):
            continue
        tree = _parse(root, f)
        bound = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and n.module == "__future__":
                continue
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                for a in n.names:
                    bound[a.asname or a.name.partition(".")[0]] = n.lineno
        used = {n.id for n in ast.walk(tree)
                if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)}
        out += [f"{f}::{name}" for name in sorted(set(bound) - used)]
    return out


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    unreached = unreached_modules(root)
    print(f"modules outside the product import closure: {len(unreached)}, "
          f"{sum(n for _, n in unreached)} lines")
    for path, n in unreached:
        print(f"  {path} {n}")
    rows, n_defs = non_product_defs(root)
    print(f"public defs and constants no product code uses: {len(rows)}, "
          f"{sum(r[2] for r in rows)} lines (of {n_defs} scanned)")
    for cls, where, n in rows:
        print(f"  {cls:14} {where} {n}")
    unused = unused_imports(root)
    print(f"unused imports under khronus_spark/: {len(unused)}")
    for where in unused:
        print(f"  {where}")


if __name__ == "__main__":
    main()
