"""Option audit: which defaulted parameters of the package does any caller set?

Parses every Python file of the repository (package, tests, perfbench,
scripts, bin, bench.py, __spark_entry__.py), maps each call's positional
and keyword arguments onto the signature of the package function it
resolves to, and prints one line per defaulted parameter that no call
sets to a second value:

    UNSET   no call passes a value other than the default
    ONE     every call passes the same non-default value

The last line counts every defaulted parameter, including those with
at least two values in use (SET).

A bare name that is a parameter of the enclosing package function
forwards that parameter's values, so a column name threaded from
`curate_corpus` down to `minhash_signatures_arrow` counts as set only
if some caller of `curate_corpus` sets it. Calls through `**kwargs` or
`*args` mark the parameters they may reach as set. Calls are resolved
through the file's imports of the package; a method call on any other
object matches every package method of that name. Run from the
repository root:

    python scripts/option_audit.py
"""

from __future__ import annotations

import ast
import sys
from collections import defaultdict
from pathlib import Path

PACKAGE = "ocr_tool_spark"
_CONST_NODES = (
    ast.Constant, ast.BinOp, ast.UnaryOp, ast.Tuple, ast.List,
    ast.operator, ast.unaryop, ast.Load,
)


def _value(node: ast.AST):
    """A comparable form of an argument: its value when it is a constant
    expression, else its source dump."""
    if all(isinstance(n, _CONST_NODES) for n in ast.walk(node)):
        try:
            return repr(eval(compile(ast.Expression(node), "<arg>", "eval"), {"__builtins__": {}}))
        except Exception:  # noqa: BLE001 — e.g. a division by zero: fall back to the dump
            pass
    return ast.dump(node)


class Def:
    """One package function's signature and the values its calls pass."""

    def __init__(self, module: str, qual: str, node: ast.FunctionDef, is_method: bool):
        self.module, self.qual, self.node = module, qual, node
        args = node.args
        pos = args.posonlyargs + args.args
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in node.decorator_list)
        bound = is_method and not static and bool(pos)
        self.positional = [a.arg for a in pos][1 if bound else 0:]
        self.params = {a.arg for a in pos + args.kwonlyargs}
        self.defaults = {
            a.arg: _value(d) for a, d in zip(pos[len(pos) - len(args.defaults):], args.defaults)
        }
        self.defaults.update(
            {a.arg: _value(d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None}
        )
        self.values: dict[str, set] = defaultdict(set)
        self.omitted: dict[str, int] = defaultdict(int)
        self.calls = 0

    def record(self, call: ast.Call, outer: "Def | None") -> None:
        """Record one call. A bare name that is a parameter of the
        package function the call sits in forwards that parameter's
        values (resolved in `resolve_forwards`)."""

        def val(a):
            if outer is not None and isinstance(a, ast.Name) and a.id in outer.params:
                return (outer, a.id)
            return _value(a)

        self.calls += 1
        seen = set()
        for i, a in enumerate(call.args):
            if isinstance(a, ast.Starred):  # *args: every later positional may be set
                for name in self.positional[i:]:
                    self.values[name].add("<*args>")
                    seen.add(name)
                break
            if i < len(self.positional):
                self.values[self.positional[i]].add(val(a))
                seen.add(self.positional[i])
        for kw in call.keywords:
            if kw.arg is None:  # **kwargs: any parameter may be set
                for name in self.defaults:
                    self.values[name].add("<**kwargs>")
                    seen.add(name)
            else:
                self.values[kw.arg].add(val(kw.value))
                seen.add(kw.arg)
        for name in self.defaults:
            if name not in seen:
                self.omitted[name] += 1

    def possible(self, name: str, stack=()) -> set:
        """Every value `name` can take: what calls pass (forwards
        followed), plus the default when some call omits it."""
        if (id(self), name) in stack:
            return set()
        out = set()
        for v in self.values.get(name, set()):
            if isinstance(v, tuple):
                outer, p = v
                out |= outer.possible(p, (*stack, (id(self), name))) if p in outer.defaults \
                    else {f"<required {outer.qual}({p})>"}
            else:
                out.add(v)
        if name in self.defaults and (self.omitted[name] or not self.calls):
            out.add(self.defaults[name])
        return out

    def report(self):
        for name, default in self.defaults.items():
            used = self.possible(name)
            non_default = used - {default}
            if not non_default:
                status = "UNSET"
            elif len(used) == 1:
                status = "ONE"
            else:
                status = "SET"
            yield status, name, default, sorted(used)


def _module_name(path: Path, root: Path) -> str:
    return ".".join(path.relative_to(root).with_suffix("").parts).removesuffix(".__init__")


def collect_defs(root: Path) -> dict[str, dict[str, Def]]:
    """module -> {qualified name -> Def} for module-level functions and
    methods of module-level classes."""
    defs: dict[str, dict[str, Def]] = {}
    for path in sorted((root / PACKAGE).rglob("*.py")):
        mod = _module_name(path, root)
        tree = ast.parse(path.read_text(), str(path))
        table: dict[str, Def] = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                table[node.name] = Def(mod, node.name, node, False)
            elif isinstance(node, ast.ClassDef):
                for item in node.body:
                    if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        q = f"{node.name}.{item.name}"
                        table[q] = Def(mod, q, item, True)
                        if item.name == "__init__":
                            table[node.name] = table[q]
        defs[mod] = table
    return defs


def scan_calls(root: Path, defs: dict[str, dict[str, Def]]) -> None:
    methods: dict[str, list[Def]] = defaultdict(list)
    for table in defs.values():
        for q, d in table.items():
            if "." in q:
                methods[q.split(".", 1)[1]].append(d)
    files = [p for p in root.rglob("*.py") if ".work" not in p.parts and "scratch" not in p.parts]
    for path in sorted(files):
        mod = _module_name(path, root)
        tree = ast.parse(path.read_text(), str(path))
        # names bound to package modules or functions, file-wide (imports
        # inside functions included: the package imports lazily)
        names: dict[str, tuple[str, str | None]] = {}
        if mod in defs:
            names.update({q: (mod, q) for q in defs[mod] if "." not in q})
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(PACKAGE):
                for a in node.names:
                    sub = f"{node.module}.{a.name}"
                    names[a.asname or a.name] = (sub, None) if sub in defs else (node.module, a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith(PACKAGE) and a.asname:
                        names[a.asname] = (a.name, None)

        def resolve(func: ast.AST) -> list[Def]:
            if isinstance(func, ast.Name) and func.id in names:
                m, q = names[func.id]
                d = defs[m].get(q) if q else None
                return [d] if d else []
            if isinstance(func, ast.Attribute):
                base = func.value
                if isinstance(base, ast.Name) and base.id in names:
                    m, q = names[base.id]
                    d = defs[m].get(func.attr if q is None else f"{q}.{func.attr}")
                    return [d] if d else []
                return methods.get(func.attr, [])
            return []

        def visit(node: ast.AST, outer: Def | None) -> None:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and outer is None:
                outer = own.get((node.lineno, node.name))
            if isinstance(node, ast.Call):
                for d in resolve(node.func):
                    d.record(node, outer)
            for child in ast.iter_child_nodes(node):
                visit(child, outer)

        own = {(d.node.lineno, d.node.name): d for d in defs.get(mod, {}).values()}
        visit(tree, None)


def main() -> int:
    root = Path(__file__).resolve().parent.parent
    defs = collect_defs(root)
    scan_calls(root, defs)
    counts: dict[str, int] = defaultdict(int)
    seen = set()
    for mod, table in sorted(defs.items()):
        for q, d in table.items():
            if id(d) in seen:
                continue
            seen.add(id(d))
            for status, name, default, used in d.report():
                counts[status] += 1
                if status == "SET":
                    continue
                print(f"{status:5} {mod}.{q}({name}={default}) calls={d.calls} values={used}")
    print(f"# defaulted parameters: {sum(counts.values())} "
          + " ".join(f"{k}={v}" for k, v in sorted(counts.items())))
    return 0


if __name__ == "__main__":
    sys.exit(main())
