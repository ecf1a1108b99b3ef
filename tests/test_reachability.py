"""Every engine function, class and method is reachable from the contract.

The contract is the registry (``__spark_entry__.py`` and
``entry_queries.py``) plus the pipeline surface: the CLI (``__main__``),
the YAML composer, the streaming runner and ``api.py``. The benches
(``bench*.py``, ``perfbench/``) are roots too. A definition that no root
reaches is weight: delete it, with the tests that exercise only it.

The scan is pure AST and deliberately conservative. Starting from the
roots, a reached body marks every top-level definition whose name it
mentions, as a bare name, an attribute, an import or an identifier string
(``"mod:func"``, ``getattr(x, "name")``), and the scan then follows that
definition's body. Methods are called through attributes, so a reached
class contributes its bases, decorators and class-level statements at
once, and each method (dunders aside) only once its name is mentioned by
a reached body. Name clashes can only over-approximate, so a failure
names code that nothing on the contract can call. Module-level statements
that are not imports or assignments (registrations, guards) always run on
import and count as roots.

Run ``python tests/test_reachability.py`` to print the unreachable set.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ENGINE = REPO / "source_flink_cdc_3_5_0_spark"

# Whole modules whose every statement is on the contract.
ROOT_MODULES = (
    "__main__.py",
    "api.py",
    "entry_queries.py",
    "pipeline/composer.py",
    "streaming/runner.py",
)
ROOT_FILES = ("__spark_entry__.py", "bench.py", "bench_retime.py",
              "bench_scale.py")
ROOT_DIRS = ("perfbench",)

# Test support that lives in engine modules: toy servers that speak the
# real protocol, wire writers for the CDC fixtures, the real-PostgreSQL
# harness, media encoders and the tests' decode entry points. A class
# named here counts as reached with every method. Nothing else may be
# unreachable.
TEST_SUPPORT = {
    "sinks/elasticsearch.py": {"ToyElasticsearchServer"},
    "sinks/streamload.py": {"ToyStreamLoadFrontend"},
    "sources/binlog_socket.py": {"BinlogTcpServer"},
    "sources/oracle.py": {"LogMinerWriter"},
    "sources/sqlserver.py": {"SqlServerCdcWriter"},
    "sources/db2.py": {"Db2CdcWriter"},
    "extensions/jpeg.py": {"encode_jpeg_progressive"},
    "extensions/avi.py": {"mux_avi_mjpeg"},
    "sources/mysql_binlog.py": {"binlog_changes", "BinlogWriter"},
    "sources/pgoutput.py": {"pgoutput_changes", "PgOutputWriter"},
    "sources/pg_real_server.py": {"RealPostgresServer"},
    "sinks/kafka_protocol.py": {"decode_record_batch",
                                "encode_control_batch"},
}

# Methods no contract path calls that still carry a feature's tests, each
# named by a FOUND line in CHANGES.md until it is wired in or deleted:
# ``initial_load`` is the snapshot-then-stream start ('initial' startup
# mode) that the composer does not reach.
UNWIRED = {
    "streaming/runner.py": {"StreamingPipeline.initial_load"},
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DOTTED = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(?:[.:][A-Za-z_][A-Za-z0-9_]*)*")


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` mentions, docstrings and ``__all__`` excepted."""
    docstrings = set()
    for n in ast.walk(node):
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                          ast.AsyncFunctionDef)) and n.body:
            first = n.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                docstrings.add(id(first.value))
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and id(n) not in docstrings and _DOTTED.fullmatch(n.value)):
            out.update(_IDENT.findall(n.value))
    return out


def _is_all(stmt: ast.stmt) -> bool:
    return (isinstance(stmt, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__"
                    for t in stmt.targets))


def _assigned(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name)]


def _is_def(stmt: ast.stmt) -> bool:
    return isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef))


def _implicit(name: str) -> bool:
    """Dunder methods: the language calls them by protocol, never by a
    name the engine spells."""
    return name.startswith("__") and name.endswith("__")


def scan() -> list[tuple[str, int, int, str]]:
    """``(module, line, end_line, name)`` of every unreachable top-level
    engine function or class, and of every unreachable method of a reached
    class (``Class.method``), outside ``TEST_SUPPORT``."""
    defs: dict[str, list[tuple[str, ast.stmt]]] = defaultdict(list)
    assigns: dict[str, list[ast.stmt]] = defaultdict(list)
    roots: list[ast.AST] = []
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        if rel in ROOT_MODULES:
            roots.append(tree)
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs[stmt.name].append((rel, stmt))
            elif _is_all(stmt) or isinstance(stmt, (ast.Import,
                                                    ast.ImportFrom)):
                continue
            elif _assigned(stmt):
                for name in _assigned(stmt):
                    assigns[name].append(stmt)
            else:
                roots.append(stmt)
    for name, sites in defs.items():
        roots.extend(stmt for rel, stmt in sites
                     if name in TEST_SUPPORT.get(rel, ()))
    for rel in ROOT_FILES:
        roots.append(ast.parse((REPO / rel).read_text()))
    for d in ROOT_DIRS:
        for path in sorted((REPO / d).rglob("*.py")):
            if "tests" not in path.relative_to(REPO / d).parts:
                roots.append(ast.parse(path.read_text()))

    # A reached class contributes its shell (bases, decorators, class-level
    # statements) at once, and each method only once its name is seen:
    # a method is called through an attribute, so its name is the edge.
    methods: dict[str, list[ast.stmt]] = defaultdict(list)
    classes: list[tuple[str, ast.ClassDef]] = []
    seen: set[str] = set()
    todo: list[ast.AST] = list(roots)

    def reach(rel: str, stmt: ast.stmt) -> None:
        if not isinstance(stmt, ast.ClassDef) or stmt.name in TEST_SUPPORT.get(
                rel, ()):
            todo.append(stmt)
            return
        classes.append((rel, stmt))
        todo.extend(stmt.bases + stmt.keywords + stmt.decorator_list)
        for member in stmt.body:
            if not _is_def(member):
                todo.append(member)
            elif _implicit(member.name) or member.name in seen:
                todo.append(member)
            else:
                methods[member.name].append(member)

    while todo:
        for name in _names(todo.pop()) - seen:
            seen.add(name)
            for rel, stmt in defs.get(name, ()):
                reach(rel, stmt)
            todo.extend(assigns.get(name, ()))
            todo.extend(methods.pop(name, ()))

    dead = [(rel, stmt.lineno, stmt.end_lineno, name)
            for name, sites in defs.items() if name not in seen
            for rel, stmt in sites
            if name not in TEST_SUPPORT.get(rel, ())]
    dead += [(rel, m.lineno, m.end_lineno, f"{cls.name}.{m.name}")
             for rel, cls in classes for m in cls.body
             if _is_def(m) and m.name not in seen and not _implicit(m.name)
             and f"{cls.name}.{m.name}" not in UNWIRED.get(rel, ())]
    return sorted(dead)


def test_engine_definitions_are_reachable_from_the_contract():
    dead = scan()
    assert not dead, (
        f"{len(dead)} engine definitions no contract root reaches "
        "(delete them with their tests):\n" + "\n".join(
            f"  {rel}:{line} {name}" for rel, line, _, name in dead))


def test_test_support_set_names_live_definitions():
    """A stale entry would let a new dead definition of that name hide."""
    for rel, names in TEST_SUPPORT.items():
        tree = ast.parse((ENGINE / rel).read_text())
        top = {s.name for s in tree.body
               if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef))}
        assert names <= top, (rel, names - top)
    for rel, names in UNWIRED.items():
        tree = ast.parse((ENGINE / rel).read_text())
        methods = {f"{c.name}.{m.name}" for c in tree.body
                   if isinstance(c, ast.ClassDef) for m in c.body
                   if _is_def(m)}
        assert names <= methods, (rel, names - methods)


if __name__ == "__main__":
    dead = scan()
    for rel, line, end, name in dead:
        print(f"{rel}:{line} {name} ({end - line + 1} lines)")
    print(f"{len(dead)} unreachable, "
          f"{sum(end - line + 1 for _, line, end, _ in dead)} lines")
