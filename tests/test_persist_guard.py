"""Mechanical persist-leak guard (VERDICT r8 item 4, tightened per
ADVICE r9).

Two persist hygiene classes exist in the engine package:

1. A SINGLE ``persist()`` backing the returned lazy DataFrame — the
   cache is populated by the caller's one action and evicted by the
   gate/bench ``clearCache()``. Bounded at one cache per call;
   legitimate, not flagged.
2. ``persist()`` INSIDE a loop (iterate-style ops: BFS relaxation, BPE
   rounds, greedy set cover...) — one cache pinned PER ITERATION. This
   is the leak class the r8 verdict flagged on
   ``graph_bfs_landmark_distances`` (5 caches/call): round i-1's state
   must be unpersisted once round i materializes.

r9 weaknesses fixed here (ADVICE r9):

- ``unpersist()`` anywhere in the function used to clear ALL
  loop-persist sites — one unrelated unpersist could mask a real leak.
  Now a persist inside a ``for``/``while`` requires an ``unpersist()``
  inside the SAME loop body (the rotation idiom — round i unpersists
  round i-1 — always has one there; an unpersist only AFTER the loop
  releases just the final iteration's cache and IS the leak class).
- ``persist()`` inside comprehensions/generator expressions was not
  seen as loop-scoped. Comprehensions now count as loops; since a
  comprehension cannot contain an unpersist statement, those sites fall
  back to the function-level rule (any unpersist in the function — the
  bounded collect-then-release pattern ``[d.persist() ...]`` + a later
  release loop stays legal).
"""

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "rad_database_parse_spark")

_COMP_NODES = (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _loop_persist_offenders():
    offenders = []
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG)
            tree = ast.parse(open(path).read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    # per-function stack: {name, saw_unpersist anywhere,
                    # comprehension-persist lines (function-level rule)}
                    self.fn = []
                    # innermost-first stack of live loop records:
                    # {lines: persist linenos, unp: unpersist seen inside,
                    #  comp: is a comprehension}
                    self.loops = []

                def visit_FunctionDef(self, n):
                    self.fn.append({"name": n.name, "unp": False, "comp": []})
                    outer_loops = self.loops
                    self.loops = []
                    self.generic_visit(n)
                    self.loops = outer_loops
                    rec = self.fn.pop()
                    if rec["comp"] and not rec["unp"]:
                        offenders.append(
                            f"{rel}::{rec['name']} comprehension-persist "
                            f"lines {rec['comp']} (no unpersist in function)"
                        )

                visit_AsyncFunctionDef = visit_FunctionDef

                def _loop(self, n, is_comp):
                    self.loops.append({"lines": [], "unp": False, "comp": is_comp})
                    self.generic_visit(n)
                    rec = self.loops.pop()
                    name = self.fn[-1]["name"] if self.fn else "<module>"
                    if rec["comp"]:
                        # expressions can't hold an unpersist statement —
                        # defer these sites to the function-level rule
                        if self.fn:
                            self.fn[-1]["comp"].extend(rec["lines"])
                        elif rec["lines"]:
                            offenders.append(
                                f"{rel}::{name} comprehension-persist "
                                f"lines {rec['lines']} at module scope"
                            )
                    elif rec["lines"] and not rec["unp"]:
                        offenders.append(
                            f"{rel}::{name} lines {rec['lines']} "
                            "(no unpersist inside the same loop)"
                        )

                def visit_For(self, n):
                    self._loop(n, is_comp=False)

                visit_While = visit_For

                def visit_ListComp(self, n):
                    self._loop(n, is_comp=True)

                visit_SetComp = visit_ListComp
                visit_DictComp = visit_ListComp
                visit_GeneratorExp = visit_ListComp

                def visit_Call(self, n):
                    if isinstance(n.func, ast.Attribute):
                        if n.func.attr in ("persist", "cache") and self.loops:
                            self.loops[-1]["lines"].append(n.lineno)
                        if n.func.attr == "unpersist":
                            # an unpersist in an inner loop runs once per
                            # outer iteration too — clears every live loop
                            for rec in self.loops:
                                rec["unp"] = True
                            if self.fn:
                                self.fn[-1]["unp"] = True
                    self.generic_visit(n)

            V().visit(tree)  # offenders filled via closure
    return offenders


def test_no_persist_in_loop_without_unpersist():
    offenders = _loop_persist_offenders()
    assert not offenders, (
        "persist() inside a loop without an unpersist() inside that loop "
        "(one leaked cache per iteration): " + ", ".join(offenders)
        + " — materialize each round and unpersist the previous round's "
        "state within the loop body (see graph_bfs_landmark_distances)"
    )


def test_guard_sees_the_known_iterate_sites():
    # sanity: the walker actually parses the package — the known
    # iterate sites must carry their per-round release mechanism: BPE
    # rounds (round7r) and BFS rounds (round7k) checkpoint each round's
    # state and rebind it (no loop persist left for the guard to see —
    # lineage truncation replaces the cache rotation, measured 5.93 ->
    # 3.85s for BFS in SCALE.md)
    found = set()
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn == "round7r_ops.py":
                src = open(os.path.join(dirpath, fn)).read()
                if ".localCheckpoint()" in src:
                    found.add(fn)
            if fn == "round7k_ops.py":
                src = open(os.path.join(dirpath, fn)).read()
                if "localCheckpoint(eager=True)" in src:
                    found.add(fn)
    assert found == {"round7k_ops.py", "round7r_ops.py"}


def _persist_then_count_sites():
    """``rel::function`` for every function that binds a name to a
    ``persist``/``cache`` chain and later calls ``count()`` on that name."""
    sites = set()
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG)
            for f in ast.walk(ast.parse(open(path).read())):
                if not isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                cached = {
                    n.targets[0].id
                    for n in ast.walk(f)
                    if isinstance(n, ast.Assign)
                    and len(n.targets) == 1
                    and isinstance(n.targets[0], ast.Name)
                    and any(
                        isinstance(c, ast.Call)
                        and isinstance(c.func, ast.Attribute)
                        and c.func.attr in ("persist", "cache")
                        for c in ast.walk(n.value)
                    )
                }
                if any(
                    isinstance(c, ast.Call)
                    and isinstance(c.func, ast.Attribute)
                    and c.func.attr == "count"
                    and not c.args
                    and isinstance(c.func.value, ast.Name)
                    and c.func.value.id in cached
                    for c in ast.walk(f)
                ):
                    sites.add(f"{rel}::{f.name}")
    return sites


def test_intermediates_materialize_by_local_checkpoint():
    # persist + a count that materializes it + a later unpersist is the
    # pairing that leaked caches (no unpersist) and kept the caller's
    # lineage in every iterate's plan; localCheckpoint() materializes in
    # one job, truncates lineage and adds no CacheManager entry.
    # pagerank_fixed_point keeps its setup persists: its hint path stays
    # lazy, filled in-flight by the caller's one action.
    assert _persist_then_count_sites() == {"llm/cluster.py::pagerank_fixed_point"}


def test_guard_catches_the_r9_evasion_shapes():
    # the two ADVICE-r9 evasions must now be offenders: (a) a loop
    # persist "cleared" only by an unrelated unpersist outside the loop,
    # (b) a comprehension persist in a function with no unpersist at all
    import textwrap

    evasion = textwrap.dedent(
        """
        def leaky(dfs, other):
            for d in dfs:
                x = d.persist()
            other.unpersist()

        def comp_leak(dfs):
            return [d.persist() for d in dfs]

        def rotation_ok(rounds, seed):
            prev = seed.persist()
            for r in rounds:
                cur = step(prev).persist()
                cur.count()
                prev.unpersist()
                prev = cur
            return prev

        def bounded_release_ok(dfs):
            caches = [d.persist() for d in dfs]
            for c in caches:
                c.unpersist()
            return caches
        """
    )
    tree = ast.parse(evasion)
    # run the same visitor logic against the synthetic module by writing
    # it through the walker's code path: reimplement inline via a temp dir
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        global PKG
        real_pkg = PKG
        try:
            with open(os.path.join(td, "synthetic.py"), "w") as f:
                f.write(evasion)
            PKG = td
            offenders = _loop_persist_offenders()
        finally:
            PKG = real_pkg
    assert any("leaky" in o for o in offenders), offenders
    assert any("comp_leak" in o for o in offenders), offenders
    assert not any("rotation_ok" in o for o in offenders), offenders
    assert not any("bounded_release_ok" in o for o in offenders), offenders
