#!/usr/bin/env python
"""Recompute the stale-changed re-attestation queue (VERDICT r14).

A registry key is STALE-CHANGED when the source that produces its
result — the registered build function (decorators included, so the
DuckDB oracle string counts), any module-level constant it reads, or
any engine helper it transitively calls — differs between HEAD and
the snapshot the driver last attested the key at.  Those keys need a
re-attestation pass through DRIVER_WINDOW (the r9/r12/r13 "changed
keys re-attest" precedent); this tool makes the queue reproducible
instead of a by-hand AST diff (how the r14 rotation derived it).

Method:
1. Last attestation round per key from CORRECTNESS_r*.json.
2. Round -> commit from the driver's "round N: verdict/..." commits
   (that commit carries the exact source the driver graded, since the
   driver only adds record files on top of the builder's final HEAD).
3. For each attestation commit: parse every etl_cnc_spark/**.py at
   that commit AND at HEAD; a key attested at round N is stale if any
   function in its HEAD call-graph closure (or any module-level
   assignment it references) has different source text at round N —
   including functions that did not exist then.

Call-graph resolution is name-based: direct calls within a module
plus `from .x import y` / `import etl_cnc_spark.x` names, closed
transitively.  That over-approximates (a changed helper marks every
transitive caller stale — exactly the safe direction for
re-attestation) and never under-approximates within the package.

Run:  python tools/stale_queue.py            # the queue, head first
      python tools/stale_queue.py --counts   # per-round summary only
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_cnc_spark.registry import load_all  # noqa: E402

PKG = "etl_cnc_spark"

# Shared harness files excluded from the per-key closure: every build
# references @register (and through it the build scope), so
# a change there marks ALL keys stale — but it is key-agnostic
# infrastructure, identically exercised by every key the driver runs
# in ANY window, and is separately pinned by its own pytest suite +
# the whole-registry close sweeps.  A per-key re-attest queue over it
# carries no signal.  Anything that shapes a key's RESULT (catalog
# table loading, utils quantizers, every operator module) stays in.
EXCLUDE = {os.path.join(PKG, "registry.py")}


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=False
    ).stdout


def round_commits() -> dict[int, str]:
    """round number -> the driver's record commit for that round."""
    out: dict[int, str] = {}
    for line in _git("log", "--format=%H %s").splitlines():
        sha, _, subj = line.partition(" ")
        m = re.match(r"round (\d+): verdict", subj)
        if m:
            out.setdefault(int(m.group(1)), sha)  # newest first wins
    return out


def last_attestation() -> dict[str, int]:
    """key -> latest round with a CORRECTNESS row for it."""
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for key in json.load(f):
                last[key] = max(last.get(key, 0), rnd)
    return last


# --------------------------------------------------------------- AST model


class ModuleIndex:
    """Functions, module-level assigns and import aliases of one file."""

    def __init__(self, relpath: str, source: str):
        self.relpath = relpath
        self.funcs: dict[str, str] = {}  # name -> source (with decorators)
        self.assigns: dict[str, str] = {}  # module-level name -> source
        self.imports: dict[str, str] = {}  # local name -> module relpath
        self.func_keys: dict[str, str] = {}  # func name -> registered key
        try:
            tree = ast.parse(source)
        except SyntaxError:
            return
        lines = source.splitlines(keepends=True)

        def seg(lo: int, hi: int) -> str:
            return "".join(lines[lo - 1 : hi])

        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                lo = min(
                    [d.lineno for d in node.decorator_list] + [node.lineno]
                )
                self.funcs[node.name] = seg(lo, node.end_lineno)
                for dec in node.decorator_list:
                    if (
                        isinstance(dec, ast.Call)
                        and getattr(dec.func, "id", getattr(dec.func, "attr", ""))
                        == "register"
                        and dec.args
                        and isinstance(dec.args[0], ast.Constant)
                    ):
                        self.func_keys[node.name] = dec.args[0].value
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (
                    node.targets
                    if isinstance(node, ast.Assign)
                    else [node.target]
                )
                for t in targets:
                    if isinstance(t, ast.Name):
                        self.assigns[t.id] = seg(node.lineno, node.end_lineno)
            elif isinstance(node, ast.ImportFrom) and node.module:
                mod = node.module
                if node.level:  # relative: resolve against this file's pkg
                    base = os.path.dirname(self.relpath).replace(os.sep, ".")
                    parts = base.split(".")
                    if node.level > 1:
                        parts = parts[: -(node.level - 1)]
                    mod = ".".join(parts + [mod])
                if mod.startswith(PKG):
                    rel = mod.replace(".", os.sep) + ".py"
                    for alias in node.names:
                        self.imports[alias.asname or alias.name] = rel


def index_tree(commit: str | None) -> dict[str, ModuleIndex]:
    """relpath -> ModuleIndex for every package .py at a commit/worktree."""
    out: dict[str, ModuleIndex] = {}
    if commit is None:
        for path in glob.glob(
            os.path.join(REPO, PKG, "**", "*.py"), recursive=True
        ):
            rel = os.path.relpath(path, REPO)
            with open(path) as f:
                out[rel] = ModuleIndex(rel, f.read())
    else:
        names = _git("ls-tree", "-r", "--name-only", commit).splitlines()
        for rel in names:
            if rel.startswith(PKG + os.sep) and rel.endswith(".py"):
                out[rel] = ModuleIndex(rel, _git("show", f"{commit}:{rel}"))
    return out


def _called_names(src: str) -> set[str]:
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return set()
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
    return names


def closure(
    tree_idx: dict[str, ModuleIndex], relpath: str, fname: str
) -> set[tuple[str, str, str]]:
    """Transitive (relpath, kind, name) deps of one function at HEAD."""
    seen: set[tuple[str, str]] = set()
    out: set[tuple[str, str, str]] = set()
    stack = [(relpath, fname)]
    while stack:
        rel, fn = stack.pop()
        if (rel, fn) in seen or rel not in tree_idx or rel in EXCLUDE:
            continue
        seen.add((rel, fn))
        mi = tree_idx[rel]
        src = mi.funcs.get(fn)
        if src is None:
            continue
        out.add((rel, "func", fn))
        for name in _called_names(src):
            if name in mi.funcs and (rel, name) not in seen:
                stack.append((rel, name))
            if name in mi.assigns:
                out.add((rel, "assign", name))
            tgt = mi.imports.get(name)
            if tgt and tgt in tree_idx and tgt not in EXCLUDE:
                ti = tree_idx[tgt]
                if name in ti.funcs:
                    stack.append((tgt, name))
                elif name in ti.assigns:
                    out.add((tgt, "assign", name))
    return out


def usage_of(usage: dict[tuple[str, str, str], int], label: str) -> int:
    """Total users of every dep rendering to this relpath:name label."""
    return sum(
        n for (rel, _k, name), n in usage.items() if f"{rel}:{name}" == label
    )


def _lookup(idx: dict[str, ModuleIndex], dep: tuple[str, str, str]) -> str | None:
    rel, kind, name = dep
    mi = idx.get(rel)
    if mi is None:
        return None
    return (mi.funcs if kind == "func" else mi.assigns).get(name)


def main() -> None:
    counts_only = "--counts" in sys.argv
    reg = load_all()
    last = last_attestation()
    rounds = round_commits()
    head_idx = index_tree(None)

    # key -> (relpath, func name) from the registered-key decorators
    key_fn: dict[str, tuple[str, str]] = {}
    for rel, mi in head_idx.items():
        for fn, key in mi.func_keys.items():
            key_fn[key] = (rel, fn)

    # Pass 1: HEAD closures + dep usage breadth.  A dep used by >=
    # BROAD_MIN keys is shared infrastructure (catalog.table, the
    # money/quantile helpers): every 50-key driver window re-exercises
    # it on dozens of keys, so a change there is re-attested
    # incidentally in the next window and queuing ALL its callers
    # would just reorder the whole registry.  Staleness is driven by
    # NARROW deps — the key's own build/oracle and helpers a handful
    # of keys share (the r13-campaign pattern).  Broad changed deps
    # are still reported so the coverage argument stays visible.
    BROAD_MIN = 30
    closures: dict[str, set[tuple[str, str, str]]] = {}
    never: list[str] = []
    for key in reg:
        if last.get(key) is None:
            never.append(key)
        if key in key_fn:
            rel, fn = key_fn[key]
            closures[key] = closure(head_idx, rel, fn)
    usage: dict[tuple[str, str, str], int] = {}
    for deps in closures.values():
        for dep in deps:
            usage[dep] = usage.get(dep, 0) + 1

    commit_idx: dict[str, dict[str, ModuleIndex]] = {}
    stale: list[tuple[str, int, str]] = []  # (key, round, first changed dep)
    broad_changed: dict[str, set[int]] = {}  # dep label -> rounds seen
    for key in reg:
        rnd = last.get(key)
        commit = rounds.get(rnd) if rnd else None
        if rnd is None or commit is None or key not in closures:
            continue
        if commit not in commit_idx:
            commit_idx[commit] = index_tree(commit)
        old_idx = commit_idx[commit]
        for dep in sorted(closures[key]):
            if _lookup(head_idx, dep) != _lookup(old_idx, dep):
                label = f"{dep[0]}:{dep[2]}"
                if usage[dep] >= BROAD_MIN:
                    broad_changed.setdefault(label, set()).add(rnd)
                    continue
                stale.append((key, rnd, label))
                break

    by_round: dict[int, int] = {}
    for _, rnd, _ in stale:
        by_round[rnd] = by_round.get(rnd, 0) + 1
    print(
        f"# stale-changed queue: {len(stale)} keys with a NARROW dep "
        f"(<{BROAD_MIN} users) changed since their last attestation"
        f" ({len(never)} never-checked, {len(reg)} registered)"
    )
    print(f"# per last-attestation round: {dict(sorted(by_round.items()))}")
    for label, rnds in sorted(broad_changed.items()):
        print(
            f"# broad infra dep changed (covered incidentally by every "
            f"window): {label} [{usage_of(usage, label)} users; vs rounds "
            f"{sorted(rnds)}]"
        )
    if not counts_only:
        for key, rnd, dep in stale:
            print(f'    "{key}",  # r{rnd}; changed: {dep}')


if __name__ == "__main__":
    main()
