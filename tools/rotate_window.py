"""Diff-driven driver-window rotation.

The driver's correctness harness checks only the FIRST 50 entries of
`__spark_entry__.queries()`. Round 5 shipped a code change to q80 while
q80 sat below the cutoff — its driver record stayed round-3 even though
its physical plan changed (the round-5 VERDICT "What's wrong #2"). The
rule this tool enforces: **a query whose code path changed since its
last driver record must be inside the window.**

Selection = FLAGSHIPS ∪ CHANGED ∪ STALEST-fill, where

- FLAGSHIPS are the pinned always-in-window composites;
- CHANGED is computed from `git diff --name-only <base>..HEAD`:
  * package modules are resolved at SYMBOL granularity: diff hunks map to
    enclosing top-level defs/classes, a caller-ward fixpoint propagates
    "affected" across the package's reference graph (same-module names +
    cross-module import aliases), and a query is selected only if its
    body (or an entry helper it calls) references an affected symbol.
    Module granularity was tried first and flagged 85/87 queries when a
    get_spark-only conf change landed — a function the driver's
    bare-session gate never calls; hunks OUTSIDE any def (module-level
    imports/constants) still flag the whole module, fail-open;
  * a changed `__spark_entry__.py` is resolved per-FUNCTION: diff hunks
    are mapped to enclosing module-level defs, and helper changes
    propagate to queries through the module call graph (so touching
    `_ivf_index_dir` selects every query that calls it, but an
    unrelated query's docstring edit selects only that query);
- STALEST-fill orders the remainder by the round of their newest green
  CORRECTNESS_r*.json row (oldest record first) so records keep
  refreshing even without code churn.

`<base>` defaults to the newest commit whose subject matches the
driver's end-of-round artifact commit ("round N: verdict/..."), i.e. the
code as the previous round's records saw it.

Usage:
    python tools/rotate_window.py [--base <commit>] [--apply]

Without --apply it prints the proposed window and exits 1 if the current
registry order violates the rule (a changed query sits below the
cutoff). With --apply it rewrites the `_QUERIES = {` literal in
__spark_entry__.py in the proposed order (comments inside the dict are
dropped; a generated header comment states the rule).
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
ENTRY = os.path.join(REPO, "__spark_entry__.py")
WINDOW = 50

# always-in-window composites: the flagship + the deepest/most
# scale-sensitive operators (one per family)
FLAGSHIPS = [
    "q08_weighted_screen_time",
    "q56_commercial_detection",
    "q85_semantic_dedup",
    "q51_near_dup_embeddings",
    "q37_jaccard_verify",
    "q28_minhash_lsh_pairs",
]


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


def default_base() -> str:
    log = _git("log", "--format=%H %s", "-200")
    for line in log.splitlines():
        sha, _, subj = line.partition(" ")
        if re.match(r"round \d+: verdict", subj):
            return sha
    # fall back to the root commit
    return _git("rev-list", "--max-parents=0", "HEAD").split()[0]


def registry_order() -> list[str]:
    """Query names in current _QUERIES order (AST, no import)."""
    tree = ast.parse(open(ENTRY).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.AnnAssign) and getattr(node.target, "id", "") == "_QUERIES":
            return [ast.literal_eval(k) for k in node.value.keys]
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", "") == "_QUERIES" for t in node.targets
        ):
            return [ast.literal_eval(k) for k in node.value.keys]
    raise RuntimeError("_QUERIES literal not found")


def _module_files() -> dict[str, str]:
    """alias/module-name -> repo-relative file, for esper_tv_spark modules."""
    out = {}
    for path in glob.glob(os.path.join(REPO, "esper_tv_spark", "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)
        mod = rel[:-3].replace(os.sep, ".")
        out[mod] = rel
    return out


def entry_function_map() -> dict[str, tuple[int, int]]:
    """module-level def name -> (first line, last line) in __spark_entry__."""
    tree = ast.parse(open(ENTRY).read())
    return {
        n.name: (n.lineno, n.end_lineno)
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def entry_deps() -> tuple[dict[str, set[str]], dict[str, set[str]], dict[str, set["Sym"]]]:
    """For each module-level function in __spark_entry__:
    (names of other module-level functions it references,
     esper_tv_spark module files its body imports/uses,
     package (file, symbol) pairs its body references)."""
    src = open(ENTRY).read()
    tree = ast.parse(src)
    mod_files = _module_files()
    top_names = {
        n.name for n in tree.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    # module-level import aliases (import ... as sim / from x import y)
    alias_to_file: dict[str, str] = {}
    name_to_sym: dict[str, Sym] = {}

    def harvest(node, a2f, n2s) -> None:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in mod_files:
                    a2f[a.asname or a.name.split(".")[0]] = mod_files[a.name]
        elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(
            "esper_tv_spark"
        ):
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if full in mod_files:
                    a2f[a.asname or a.name] = mod_files[full]
                elif node.module in mod_files:
                    n2s[a.asname or a.name] = (mod_files[node.module], a.name)

    for n in tree.body:
        harvest(n, alias_to_file, name_to_sym)

    calls: dict[str, set[str]] = {}
    mods: dict[str, set[str]] = {}
    syms: dict[str, set[Sym]] = {}
    for n in tree.body:
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        used_fns: set[str] = set()
        used_mods: set[str] = set()
        used_syms: set[Sym] = set()
        local_a2f = dict(alias_to_file)
        local_n2s = dict(name_to_sym)
        for sub in ast.walk(n):
            harvest(sub, local_a2f, local_n2s)
            if isinstance(sub, ast.Name) and sub.id in top_names and sub.id != n.name:
                used_fns.add(sub.id)
            if isinstance(sub, ast.Name):
                if sub.id in local_a2f:
                    used_mods.add(local_a2f[sub.id])
                if sub.id in local_n2s:
                    used_syms.add(local_n2s[sub.id])
                    used_mods.add(local_n2s[sub.id][0])
            if isinstance(sub, ast.Attribute) and isinstance(sub.value, ast.Name):
                if sub.value.id in local_a2f:
                    used_syms.add((local_a2f[sub.value.id], sub.attr))
        calls[n.name] = used_fns
        mods[n.name] = used_mods
        syms[n.name] = used_syms
    return calls, mods, syms


Sym = tuple[str, str]  # (repo-relative file, top-level symbol name)


def _pkg_trees() -> dict[str, ast.Module]:
    out = {}
    for rel in _module_files().values():
        try:
            out[rel] = ast.parse(open(os.path.join(REPO, rel)).read())
        except SyntaxError:
            continue
    return out


def _top_symbols(tree: ast.Module) -> dict[str, tuple[int, int]]:
    """Top-level def/class name -> (first line incl. decorators, last)."""
    out = {}
    for n in tree.body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            lo = min([n.lineno] + [d.lineno for d in n.decorator_list])
            out[n.name] = (lo, n.end_lineno)
    return out


def _changed_pkg_symbols(base: str, diff_files: set[str]) -> dict[str, set[str]]:
    """Changed package file -> its changed TOP-LEVEL symbols, resolved from
    diff hunks exactly like the entry file.  '*' means module-level code
    outside any def/class changed (imports, constants) — conservatively
    the whole module.  Symbol granularity is the point: a get_spark-only
    change must not flag every query (the driver's gate runs a BARE
    session and never calls it — round 6 found module granularity marking
    85/87 queries changed, which makes the window rule unsatisfiable)."""
    trees = _pkg_trees()
    out: dict[str, set[str]] = {}
    for rel in diff_files:
        if rel not in trees:
            continue
        spans = _top_symbols(trees[rel])
        syms: set[str] = set()
        hunks = _git("diff", "-U0", f"{base}..HEAD", "--", rel)
        for m in re.finditer(r"^@@ .* \+(\d+)(?:,(\d+))? @@", hunks, re.M):
            start = int(m.group(1))
            count = int(m.group(2) or "1")
            lo, hi = start, start + max(count - 1, 0)
            enclosing = [s for s, (a, b) in spans.items() if a <= hi and b >= lo]
            if enclosing:
                syms.update(enclosing)
            else:
                syms.add("*")
        out[rel] = syms
    return out


def _pkg_symbol_deps() -> dict[Sym, set[Sym]]:
    """(file, symbol) -> package symbols it references: same-module
    top-level names, plus cross-module names via `import esper_tv_spark.x
    as y` attribute access and `from esper_tv_spark.x import f` (module-
    and function-level imports both)."""
    mod_files = _module_files()
    trees = _pkg_trees()
    deps: dict[Sym, set[Sym]] = {}
    for rel, tree in trees.items():
        tops = _top_symbols(tree)
        # alias -> file (module alias) / (file, symbol) (imported name)
        mod_alias: dict[str, str] = {}
        name_alias: dict[str, Sym] = {}

        def harvest_imports(node) -> None:
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name in mod_files:
                        mod_alias[a.asname or a.name.split(".")[0]] = mod_files[a.name]
            elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(
                "esper_tv_spark"
            ):
                for a in node.names:
                    full = f"{node.module}.{a.name}"
                    if full in mod_files:
                        mod_alias[a.asname or a.name] = mod_files[full]
                    elif node.module in mod_files:
                        name_alias[a.asname or a.name] = (mod_files[node.module], a.name)

        for n in tree.body:
            harvest_imports(n)
        for sym, _span in tops.items():
            node = next(
                n
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and n.name == sym
            )
            local_mod = dict(mod_alias)
            local_name = dict(name_alias)
            refs: set[Sym] = set()
            for sub in ast.walk(node):
                harvest_imports(sub)  # function-level imports accumulate into local view
                if isinstance(sub, ast.Attribute) and isinstance(sub.value, ast.Name):
                    if sub.value.id in local_mod:
                        refs.add((local_mod[sub.value.id], sub.attr))
                elif isinstance(sub, ast.Name):
                    if sub.id in local_name:
                        refs.add(local_name[sub.id])
                    elif sub.id in tops and sub.id != sym:
                        refs.add((rel, sub.id))
            deps[(rel, sym)] = refs
    return deps


def _affected_pkg_symbols(base: str, diff_files: set[str]) -> tuple[set[Sym], set[str]]:
    """Fixpoint caller-ward propagation: a symbol is affected if it changed
    or references an affected symbol.  Returns (affected symbols, files
    whose module-level code changed — treated as wholly affected)."""
    changed = _changed_pkg_symbols(base, diff_files)
    trees = _pkg_trees()
    star_files = {rel for rel, syms in changed.items() if "*" in syms}
    affected: set[Sym] = set()
    for rel, syms in changed.items():
        tops = _top_symbols(trees[rel])
        names = tops.keys() if "*" in syms else (syms & tops.keys())
        affected.update((rel, s) for s in names)
    deps = _pkg_symbol_deps()
    for _ in range(20):
        grew = False
        for sym, refs in deps.items():
            if sym in affected:
                continue
            if refs & affected or any(r[0] in star_files for r in refs):
                affected.add(sym)
                grew = True
        if not grew:
            break
    return affected, star_files


def changed_queries(base: str) -> set[str]:
    diff_files = set(_git("diff", "--name-only", f"{base}..HEAD").split())
    queries = [q for q in registry_order()]
    calls, mods, symrefs = entry_deps()
    fn_lines = entry_function_map()

    # 1) operator-package changes at SYMBOL granularity (hunks -> enclosing
    #    top-level defs, caller-ward fixpoint across the package)
    affected_syms, star_files = _affected_pkg_symbols(base, diff_files)

    # 2) entry-file changes resolved per function via diff hunks
    touched_fns: set[str] = set()
    if "__spark_entry__.py" in diff_files:
        hunks = _git("diff", "-U0", f"{base}..HEAD", "--", "__spark_entry__.py")
        for m in re.finditer(r"^@@ .* \+(\d+)(?:,(\d+))? @@", hunks, re.M):
            start = int(m.group(1))
            count = int(m.group(2) or "1")
            lo, hi = start, start + max(count - 1, 0)
            for fn, (a, b) in fn_lines.items():
                if a <= hi and b >= lo:
                    touched_fns.add(fn)

    # propagate helper changes through the entry call graph (fixpoint)
    affected_fns = set(touched_fns)
    for _ in range(10):
        grew = False
        for fn, deps in calls.items():
            if fn not in affected_fns and deps & affected_fns:
                affected_fns.add(fn)
                grew = True
        if not grew:
            break

    def fn_touches_pkg(fn: str) -> bool:
        return bool(
            symrefs.get(fn, set()) & affected_syms
            or mods.get(fn, set()) & star_files
        )

    out: set[str] = set()
    for q in queries:
        if q in affected_fns or fn_touches_pkg(q):
            out.add(q)
            continue
        # helper functions this query calls may use changed symbols
        seen: set[str] = set()
        stack = list(calls.get(q, ()))
        while stack:
            h = stack.pop()
            if h in seen:
                continue
            seen.add(h)
            if fn_touches_pkg(h) or h in affected_fns:
                out.add(q)
                break
            stack.extend(calls.get(h, ()))
    return out


def record_round() -> dict[str, int]:
    """query -> newest round with a green CORRECTNESS row (0 = never)."""
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)", path).group(1))
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for q, row in data.items():
            if isinstance(row, dict) and row.get("rows_match") and row.get("schema_match"):
                out[q] = max(out.get(q, 0), rnd)
    return out


def propose(base: str) -> tuple[list[str], set[str]]:
    order = registry_order()
    changed = changed_queries(base)
    rounds = record_round()
    window: list[str] = [q for q in FLAGSHIPS if q in order]
    for q in order:
        if q in changed and q not in window:
            window.append(q)
    # stalest-record fill, ties broken by current registry position
    pos = {q: i for i, q in enumerate(order)}
    rest = sorted(
        (q for q in order if q not in window), key=lambda q: (rounds.get(q, 0), pos[q])
    )
    for q in rest:
        if len(window) >= WINDOW:
            break
        window.append(q)
    tail = [q for q in order if q not in window]
    return window + tail, changed


def apply_order(new_order: list[str]) -> None:
    src = open(ENTRY).read()
    m = re.search(
        r"_QUERIES: dict\[str, Callable\[\[SparkSession, str\], DataFrame\]\] = \{.*?\n\}\n",
        src,
        re.S,
    )
    if not m:
        raise RuntimeError("_QUERIES literal not found for rewrite")
    lines = [
        "_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {",
        "    # ORDER GENERATED by tools/rotate_window.py — the driver checks only",
        "    # the first 50 entries; the window is flagships + every query whose",
        "    # code path changed since its last driver record (git-diff-driven,",
        "    # see the tool's docstring) + stalest-record fill.",
    ]
    for i, q in enumerate(new_order):
        if i == WINDOW:
            lines.append("    # ---- position 50 cutoff: rows below hold a prior-round green")
            lines.append("    # ---- record on code paths unchanged since (rule enforced above)")
        lines.append(f'    "{q}": {q},')
    lines.append("}")
    open(ENTRY, "w").write(src[: m.start()] + "\n".join(lines) + "\n" + src[m.end() :])


def main() -> int:
    base = default_base()
    apply = "--apply" in sys.argv
    if "--base" in sys.argv:
        base = sys.argv[sys.argv.index("--base") + 1]
    new_order, changed = propose(base)
    cur = registry_order()
    cur_window = set(cur[:WINDOW])
    missing = sorted(q for q in changed if q not in cur_window)
    print(f"base: {base[:12]}")
    print(f"changed queries ({len(changed)}): {' '.join(sorted(changed)) or '(none)'}")
    if missing:
        print(f"RULE VIOLATION — changed but below the cutoff: {' '.join(missing)}")
    if apply:
        apply_order(new_order)
        print(f"applied: window rewritten ({len(new_order)} queries, cutoff {WINDOW})")
        return 0
    print("proposed window:")
    for i, q in enumerate(new_order[:WINDOW]):
        mark = "*" if q in changed else " "
        print(f"  {i + 1:2d} {mark} {q}")
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
