"""Which code under khronus_spark/ the product reaches.

Usage: python sweeps/r21/census.py [REPO_ROOT]

Two scans, printed as text:

1. Modules: the import closure of the product roots (the package
   `__init__`, `__main__`, `service`, `entry_queries`, plus `bench.py`,
   `__spark_entry__.py` and `perfbench/*.py`), following every `import`
   statement, including those inside functions. Modules outside the
   closure are listed with their line counts.
2. Defs: every public top-level def or class under `khronus_spark/`,
   classed by the code that uses it (Name, attribute or import
   references; strings and comments do not count): `product` when any
   package, bench, entry or perfbench file uses it or it is a
   `@register`ed entry, else `tests`, `scripts`, `tests+scripts` or
   `nothing`. Only the non-product defs are listed.
"""

from __future__ import annotations

import ast
import os
import sys


def pyfiles(d):
    for dp, _, fn in sorted(os.walk(d)):
        for f in sorted(fn):
            if f.endswith(".py"):
                yield os.path.join(dp, f)


def module_name(path):
    m = path[:-3].replace("/", ".")
    return m[: -len(".__init__")] if m.endswith(".__init__") else m


def imports_of(path, mods):
    pkg = module_name(path)
    if not path.endswith("__init__.py"):
        pkg = pkg.rpartition(".")[0]
    out = set()
    for n in ast.walk(ast.parse(open(path).read())):
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


def main():
    os.chdir(sys.argv[1] if len(sys.argv) > 1 else ".")
    mods = {module_name(p): p for p in pyfiles("khronus_spark")}
    prod_files = ["bench.py", "__spark_entry__.py", *pyfiles("perfbench")]
    stack = ["khronus_spark", "khronus_spark.__main__", "khronus_spark.service",
             "khronus_spark.entry_queries"]
    for f in prod_files:
        stack += imports_of(f, mods)
    seen = set()
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        parts = m.split(".")
        stack += [".".join(parts[:i]) for i in range(1, len(parts))]
        stack += imports_of(mods[m], mods)
    unreached = sorted(set(mods) - seen)
    sizes = {m: sum(1 for _ in open(mods[m])) for m in unreached}
    print(f"modules outside the product import closure: {len(unreached)}, "
          f"{sum(sizes.values())} lines")
    for m in unreached:
        print(f"  {mods[m]} {sizes[m]}")

    groups = {"pkg": list(pyfiles("khronus_spark")), "prod": prod_files,
              "tests": list(pyfiles("tests")), "scripts": list(pyfiles("scripts"))}
    uses, defs = {}, []
    for g, files in groups.items():
        for f in files:
            tree = ast.parse(open(f).read())
            if g == "pkg":
                for n in tree.body:
                    if isinstance(n, (ast.FunctionDef, ast.ClassDef)) and not n.name.startswith("_"):
                        reg = any("register" in ast.unparse(d) for d in n.decorator_list)
                        defs.append((f, n.name, n.end_lineno - n.lineno + 1, reg))
            for n in ast.walk(tree):
                name = (n.id if isinstance(n, ast.Name) else n.attr if isinstance(n, ast.Attribute)
                        else n.name.rpartition(".")[2] if isinstance(n, ast.alias) else None)
                if name:
                    uses.setdefault(name, set()).add(g)
    rows = []
    for f, name, n, reg in defs:
        gs = uses.get(name, set())
        if not (reg or "pkg" in gs or "prod" in gs):
            rows.append(("+".join(sorted(gs)) or "nothing", f"{f}::{name}", n))
    print(f"public defs no product code uses: {len(rows)}, "
          f"{sum(r[2] for r in rows)} lines (of {len(defs)} defs)")
    for cls, where, n in sorted(rows):
        print(f"  {cls:14} {where} {n}")


if __name__ == "__main__":
    main()
