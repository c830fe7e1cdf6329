"""Aggregates every query module's QUERIES / ORACLE_SQL into one registry.

Every query module registers the same way:
``QUERIES, ORACLE_SQL, _register = query_table()`` gives the module its own
two dicts and an ``@_register(name, oracle)`` decorator that requires the
query's DuckDB oracle and rejects a name registered twice.  This module
unions the per-module tables and is the single source the driver contract
(``__spark_entry__``) reads.

Ordering matters: the correctness driver verifies queries in registration
order and caps how many it checks per round (round 1 recorded exactly the
first 50).  The registry therefore rotates: it parses the committed
``CORRECTNESS_r*.json`` files (the driver's own per-round verdicts) and
orders queries least-recently-verified first — every round the driver's
window lands on the queries with the stalest (or no) green verdict, so
the whole catalog cycles through driver verification instead of a fixed
50 being re-checked forever.  With no history present, the order is
registration order.  To force a green query's re-proof, delete its stamp
from ``SOURCE_MANIFEST.json``: a green query with no stamp sorts into
tier 1 (see ``_ordered``).  Everything is additionally covered every
round by the repo's own driver-identical oracle suite
(tests/test_oracle_parity.py).
"""

from __future__ import annotations

import ast
import glob
import hashlib
import json
import os
import re
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def query_table() -> tuple[dict[str, QueryFn], dict[str, str], Callable]:
    """A query module's ``(QUERIES, ORACLE_SQL, register)``.

    ``@register(name, oracle)`` records the decorated query function under
    ``name`` and its DuckDB oracle SQL beside it, so both dicts keep the
    same keys in registration order.  Registering a name twice in one
    table raises ValueError; ``all_queries`` checks across tables."""
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}

    def register(name: str, oracle: str):
        def deco(fn: QueryFn) -> QueryFn:
            if name in queries:
                raise ValueError(f"query {name!r} registered twice")
            queries[name] = fn
            oracles[name] = oracle
            return fn

        return deco

    return queries, oracles, register


def _modules():
    from pedri_analysis_spark.plans import relational

    mods = [relational]
    for name in (
        "relational_ext",
        "advanced_queries",
        "sampling_queries",
        "feature_queries",
        "governance_queries",
        "layout_queries",
        "dedup_queries",
        "text_queries",
        "pipeline_queries",
        "multimodal_queries",
        "resolution_queries",
        "retrieval_queries",
        "similarity_queries",
        "streaming_queries",
        "pedri_queries",
        "pedri_profile_queries",
        "draft_r11",
        "draft_r12",
        "draft_r13",
        "draft_r14",
        "draft_r15",
    ):
        try:
            mods.append(
                __import__(f"pedri_analysis_spark.plans.{name}", fromlist=[name])
            )
        except ModuleNotFoundError as exc:
            # Only a genuinely absent optional dependency may drop a module;
            # and even then the shrink must be loud, never silent — a quiet
            # except would let whole query families vanish from the
            # correctness gate while it still reports green.
            warnings.warn(
                f"query module {name!r} dropped from registry: {exc}",
                RuntimeWarning,
                stacklevel=2,
            )
    return mods


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# SOURCE_MANIFEST.json maps query name -> sha256 of the query function's
# source AS LAST PROVEN GREEN by the driver (tools/update_source_manifest.py
# maintains it: --bootstrap reconstructs from the per-round git trees,
# --stamp-latest is the round-start protocol).  The ordering below compares
# it against the CURRENT source so a query rewritten after its green row
# re-enters the driver window immediately instead of waiting out the
# least-recently-green rotation (r10 verdict ask #2: the four pair queries
# rewritten in r9/r10 carried r08 proofs for two extra rounds).
_MANIFEST_PATH = os.path.join(_REPO_ROOT, "SOURCE_MANIFEST.json")


def extract_fn_source(module_text: str, fn_name: str) -> str | None:
    """Source slice (decorators INCLUDED — the oracle SQL lives in the
    ``@_register`` argument, so an oracle edit must count as a rewrite)
    of the unique top-level function ``fn_name``, or None if absent or
    ambiguous.  Shared with tools/update_source_manifest.py so the
    bootstrap's git-tree hashes and the runtime hashes are comparable."""
    try:
        tree = ast.parse(module_text)
    except SyntaxError:
        return None
    hits = [
        n
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and n.name == fn_name
    ]
    if len(hits) != 1:
        return None
    node = hits[0]
    lines = module_text.splitlines()
    start = min([d.lineno for d in node.decorator_list] + [node.lineno])
    return "\n".join(lines[start - 1 : node.end_lineno])


def fn_source_hash(module_text: str, fn_name: str) -> str | None:
    src = extract_fn_source(module_text, fn_name)
    if src is None:
        return None
    return hashlib.sha256(src.encode("utf-8")).hexdigest()


# --- transitive helper-closure hashing (r12, VERDICT r11 ask #5) ----------
#
# A per-function hash misses rewrites of SHARED helpers: r10/r11 rewrote
# lshplanes/similarity helpers under cosine_topk_bruteforce / ivf_topk /
# sq_recall_at_k without re-tiering them.  The stamp therefore now hashes
# the function TOGETHER with every repo-local top-level definition it
# transitively references (same-module helpers and constants, and
# helpers reached through `from pedri_analysis_spark...` imports or
# repo-module aliases) — an edit anywhere in that closure re-enters the
# query into the driver window.  Ubiquitous infrastructure every query
# goes through is excluded: a tables.py/session.py edit would flood the
# whole catalog into tier 1, yet ANY window re-proves those paths.

_REPO_PKG = "pedri_analysis_spark"
_CLOSURE_EXCLUDE = {
    f"{_REPO_PKG}.sources.tables",
    f"{_REPO_PKG}.session",
    f"{_REPO_PKG}.plans.registry",
    # plans.relational is NOT excluded: it exports semantics-bearing
    # shared helpers (events_us, money, factor, dsum) whose edits must
    # re-tier every caller — the exact gap this mechanism closes.
}


def _node_source(module_text: str, node: ast.stmt) -> str:
    lines = module_text.splitlines()
    start = node.lineno
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        decos = [d.lineno for d in node.decorator_list]
        start = min(decos + [node.lineno])
    return "\n".join(lines[start - 1 : node.end_lineno])


def _collect_imports(
    stmts,
    module_name: str,
    from_imports: dict[str, tuple[str, str]],
    mod_aliases: dict[str, str],
) -> None:
    """Fold Import/ImportFrom statements into the two lookup maps.
    Relative levels resolve against ``module_name``'s package."""
    pkg_parts = module_name.split(".")
    for n in stmts:
        if isinstance(n, ast.Import):
            for al in n.names:
                mod_aliases[al.asname or al.name.split(".")[0]] = al.name
        elif isinstance(n, ast.ImportFrom):
            if n.level:
                base = pkg_parts[: len(pkg_parts) - n.level]
                src_mod = ".".join(base + ([n.module] if n.module else []))
            else:
                src_mod = n.module or ""
            for al in n.names:
                from_imports[al.asname or al.name] = (src_mod, al.name)


def _module_maps(module_text: str, module_name: str):
    """(defs, from_imports, mod_aliases) for one module's top level.
    defs: name -> stmt node; from_imports: local name -> absolute
    source module + original name; mod_aliases: alias -> module."""
    tree = ast.parse(module_text)
    defs: dict[str, ast.stmt] = {}
    from_imports: dict[str, tuple[str, str]] = {}
    mod_aliases: dict[str, str] = {}
    for n in tree.body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[n.name] = n
        elif isinstance(n, ast.Assign):
            for t in n.targets:
                for sub in ast.walk(t):
                    if isinstance(sub, ast.Name):
                        defs[sub.id] = n
        elif isinstance(n, ast.AnnAssign) and isinstance(n.target, ast.Name):
            defs[n.target.id] = n
    _collect_imports(tree.body, module_name, from_imports, mod_aliases)
    return defs, from_imports, mod_aliases


def _local_imports(node: ast.stmt, module_name: str):
    """Imports written INSIDE a def's body (common in the query
    modules: ``from .retrieval_queries import _tf`` at function scope).
    Without these the closure hash silently misses the helper (editing
    draft_r13._perm_diff once left its caller's hash unchanged, defeating
    the re-tier-on-helper-edit guarantee)."""
    from_imports: dict[str, tuple[str, str]] = {}
    mod_aliases: dict[str, str] = {}
    _collect_imports(
        [s for s in ast.walk(node) if isinstance(s, (ast.Import, ast.ImportFrom))],
        module_name,
        from_imports,
        mod_aliases,
    )
    return from_imports, mod_aliases


def _referenced(node: ast.stmt):
    """(base_name, attr_or_None) pairs referenced inside ``node``."""
    for sub in ast.walk(node):
        if isinstance(sub, ast.Attribute) and isinstance(sub.value, ast.Name):
            yield sub.value.id, sub.attr
        elif isinstance(sub, ast.Name):
            yield sub.id, None


def closure_fn_hash(
    module_name: str,
    fn_name: str,
    get_text: Callable[[str], str | None],
    _maps_cache: dict | None = None,
) -> str | None:
    """sha256 over the query function's source plus the sources of every
    repo-local top-level definition it transitively references.  Returns
    None when the function itself can't be located (the caller treats
    that as 'cannot tell' and trusts the stamp)."""
    maps_cache = _maps_cache if _maps_cache is not None else {}

    def maps(mod: str):
        if mod not in maps_cache:
            text = get_text(mod)
            try:
                maps_cache[mod] = (
                    (text,) + _module_maps(text, mod) if text is not None else None
                )
            except SyntaxError:
                maps_cache[mod] = None
        return maps_cache[mod]

    root = maps(module_name)
    if root is None or fn_name not in root[1]:
        return None
    pieces: dict[tuple[str, str], str] = {}
    visited: set[tuple[str, str]] = set()
    stack: list[tuple[str, str]] = [(module_name, fn_name)]
    while stack:
        mod, name = stack.pop()
        if (mod, name) in visited or mod in _CLOSURE_EXCLUDE:
            continue
        visited.add((mod, name))
        m = maps(mod)
        if m is None:
            continue
        text, defs, fimps, maliases = m
        node = defs.get(name)
        if node is None:
            continue
        pieces[(mod, name)] = _node_source(text, node)
        # references resolve through the def's own body-level imports
        # first (they shadow module scope inside the function — including
        # a same-named top-level def, so the local maps must be consulted
        # BEFORE ``defs``; r13 advice), then module-level defs, then the
        # module's top-level imports
        n_fimps, n_malias = _local_imports(node, mod)
        def _via_from_import(base: str, attr, imap) -> bool:
            if base not in imap:
                return False
            smod, sname = imap[base]
            if not smod.startswith(_REPO_PKG):
                return True
            sm = maps(smod)
            if sm is not None and sname in sm[1]:
                stack.append((smod, sname))
            elif attr is not None and maps(f"{smod}.{sname}") is not None:
                # `from pkg.sub import module as alias` + alias.attr
                stack.append((f"{smod}.{sname}", attr))
            return True

        def _via_mod_alias(base: str, attr, amap) -> bool:
            if base not in amap or attr is None:
                return False
            amod = amap[base]
            if amod.startswith(_REPO_PKG):
                stack.append((amod, attr))
            return True

        for base, attr in _referenced(node):
            # A name's binding is position-dependent within the node:
            # the BODY sees function-local imports (which shadow module
            # scope, incl. a same-named top-level def — r13 advice),
            # while the DECORATOR / default expressions see module scope
            # only.  _referenced() is position-blind, so resolve through
            # EVERY map the name could bind to and hash the superset —
            # over-inclusion can only force a spurious re-proof, never
            # trust a stale proof.
            _via_from_import(base, attr, n_fimps)
            _via_mod_alias(base, attr, n_malias)
            if base in defs:
                stack.append((mod, base))
            elif not _via_from_import(base, attr, fimps):
                _via_mod_alias(base, attr, maliases)
    blob = "\n\n".join(
        f"# {m}:{n}\n{src}" for (m, n), src in sorted(pieces.items())
    )
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _disk_text_getter() -> Callable[[str], str | None]:
    cache: dict[str, str | None] = {}

    def get_text(mod: str) -> str | None:
        if mod not in cache:
            base = os.path.join(_REPO_ROOT, mod.replace(".", "/"))
            cache[mod] = None
            # package modules are backed by __init__.py (e.g.
            # pedri_analysis_spark.operators defines spread() there)
            for path in (base + ".py", os.path.join(base, "__init__.py")):
                try:
                    with open(path, encoding="utf-8") as f:
                        cache[mod] = f.read()
                    break
                except OSError:
                    continue
        return cache[mod]

    return get_text


def _current_hashes(fns: dict[str, object]) -> dict[str, str]:
    """Transitive-closure sha256 of each query function's on-disk source
    (closure_fn_hash), by query name.  Queries whose function can't be
    located (non-function placeholder in tests, C extension) are simply
    absent — the ordering treats that as 'cannot tell' and trusts the
    manifest stamp."""
    get_text = _disk_text_getter()
    maps_cache: dict = {}
    out: dict[str, str] = {}
    for name, fn in fns.items():
        mod = getattr(fn, "__module__", "") or ""
        if not mod.startswith(_REPO_PKG):
            continue
        h = closure_fn_hash(
            mod, getattr(fn, "__name__", ""), get_text, maps_cache
        )
        if h is not None:
            out[name] = h
    return out


def _manifest() -> dict[str, str]:
    try:
        with open(_MANIFEST_PATH, encoding="utf-8") as f:
            raw = json.load(f)
    except (OSError, ValueError):
        return {}
    if not isinstance(raw, dict):
        return {}
    return {
        n: e["hash"]
        for n, e in raw.items()
        if isinstance(e, dict) and isinstance(e.get("hash"), str)
    }


def _verification_history() -> tuple[dict[str, int], dict[str, int]]:
    """Parse the committed CORRECTNESS_r*.json files (the driver's own
    per-round verdicts) into (last_green, last_seen) round maps.  "Green"
    means a FULL verdict — rows + schema + hash all matched; errors,
    mismatches, and weaker rows-only checks do not count."""
    last_green: dict[str, int] = {}
    last_seen: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            last_seen[name] = max(last_seen.get(name, -1), rnd)
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                last_green[name] = max(last_green.get(name, -1), rnd)
    return last_green, last_seen


def _ordered(names: dict[str, object]) -> list[str]:
    last_green, last_seen = _verification_history()
    reg = {n: i for i, n in enumerate(names)}
    manifest = _manifest()
    current = _current_hashes(names)

    def rewritten(n: str) -> bool:
        stamped = manifest.get(n)
        if stamped is None:
            # green but never stamped: the proof's source is unknowable,
            # so re-prove (conservative; self-heals once the round-start
            # --stamp-latest protocol records the proven hash)
            return True
        cur = current.get(n)
        if cur is None:
            return False  # can't compute current source: trust the stamp
        return stamped != cur

    def key(n: str):
        # tier 0: latest driver check FAILED (error/mismatch after the
        #         last green) — must be re-proven immediately;
        # tier 1: green, but the query function's closure hash differs
        #         from the hash the green proof was recorded against
        #         (rewritten-since-green) — re-prove before trusting;
        # tier 2: never driver-checked at all (with no history, every
        #         query: registration order);
        # tier 3: green on proven source — least-recently-verified
        #         first, so the window sweeps the whole catalog.
        green, seen = last_green.get(n, -1), last_seen.get(n, -1)
        if seen > green:
            tier = 0
        elif green >= 0 and rewritten(n):
            tier = 1
        elif seen < 0:
            tier = 2
        else:
            tier = 3
        return (tier, green, reg[n])

    return sorted(names, key=key)


def all_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for mod in _modules():
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        out.update(mod.QUERIES)
    return {n: out[n] for n in _ordered(out)}


def all_oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(mod.ORACLE_SQL)
    return out
