"""Repo-wide audit of state that outlives a call: the session memo
(``session.SESSION_MEMO``) is the only place derived state is kept.

Enumerated by AST over ``hhek2sqlite_spark/``, like the collect
allowlist next to it:

- no module except ``session.py`` binds a module-level dict, list or
  set that a function then mutates (a cache keyed by hand, with its own
  validity and eviction rules);
- nothing calls ``setattr`` or assigns an attribute on an object other
  than ``self``/``cls``: state riding on a DataFrame object is lost on
  any ``.select``/``.filter`` and released by nobody.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "hhek2sqlite_spark"

MUTABLE_CALLS = {"dict", "list", "set", "OrderedDict", "defaultdict", "Counter", "deque"}
MUTATORS = {
    "append", "extend", "insert", "add", "update", "setdefault", "pop",
    "popitem", "remove", "discard", "clear", "move_to_end", "__setitem__",
}


def _modules():
    for p in sorted(PKG.rglob("*.py")):
        yield str(p.relative_to(PKG)), ast.parse(p.read_text())


def _module_containers(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        literal = isinstance(value, (ast.Dict, ast.List, ast.Set, ast.DictComp, ast.ListComp, ast.SetComp))
        call = isinstance(value, ast.Call) and (
            getattr(value.func, "id", None) or getattr(value.func, "attr", None)
        ) in MUTABLE_CALLS
        if literal or call:
            names.update(t.id for t in targets if isinstance(t, ast.Name))
    return names


def _mutated_in_functions(tree: ast.Module, names: set[str]) -> set[str]:
    hit = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            targets = []
            if isinstance(node, (ast.Assign, ast.Delete)):
                targets = node.targets
            elif isinstance(node, ast.AugAssign):
                targets = [node.target]
            for t in targets:
                if isinstance(t, ast.Subscript) and isinstance(t.value, ast.Name) and t.value.id in names:
                    hit.add(t.value.id)
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id in names
                and node.func.attr in MUTATORS
            ):
                hit.add(node.func.value.id)
    return hit


def test_no_module_level_cache_outside_the_session_memo():
    caches = {}
    for rel, tree in _modules():
        if rel == "session.py":
            continue
        mutated = _mutated_in_functions(tree, _module_containers(tree))
        if mutated:
            caches[rel] = sorted(mutated)
    assert not caches, f"module-level caches outside session.SESSION_MEMO: {caches}"


def test_no_state_rides_on_objects():
    found = []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "setattr":
                found.append(f"{rel}:{node.lineno} setattr")
            targets = []
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            for t in targets:
                for e in ast.walk(t):
                    if (
                        isinstance(e, ast.Attribute)
                        and isinstance(e.ctx, ast.Store)
                        and not (isinstance(e.value, ast.Name) and e.value.id in ("self", "cls"))
                    ):
                        found.append(f"{rel}:{node.lineno} {ast.unparse(t)}")
    assert not found, f"attributes set on objects other than self: {found}"


def test_the_audit_sees_the_mechanisms_it_forbids():
    tree = ast.parse(
        "_CACHE = {}\n"
        "_SEEN: list = []\n"
        "def get(k):\n"
        "    _CACHE[k] = 1\n"
        "    _SEEN.append(k)\n"
    )
    assert _mutated_in_functions(tree, _module_containers(tree)) == {"_CACHE", "_SEEN"}
    frozen = ast.parse("_TABLE = {'a': 1}\ndef get(k):\n    return _TABLE[k]\n")
    assert not _mutated_in_functions(frozen, _module_containers(frozen))
