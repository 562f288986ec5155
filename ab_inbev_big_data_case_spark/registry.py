"""Query registry: the bridge between engine operators and the driver's
correctness harness (``__spark_entry__.py``).

Each implemented operator registers a named callable ``(spark, sf_dir) ->
DataFrame`` plus (when SQL-expressible) an equivalent ANSI-SQL string the
DuckDB oracle runs on the same parquet files. Aliasing discipline: every
computed column is aliased identically in the Spark plan and the oracle SQL
(the driver sorts columns by name and hashes values).
"""

from __future__ import annotations

import ast
import glob
import hashlib
import importlib
import inspect
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

_QUERY_MODULES = [
    "ab_inbev_big_data_case_spark.queries.medallion",
    "ab_inbev_big_data_case_spark.queries.scalar",
    "ab_inbev_big_data_case_spark.queries.aggregates",
    "ab_inbev_big_data_case_spark.queries.joins",
    "ab_inbev_big_data_case_spark.queries.windows",
    "ab_inbev_big_data_case_spark.queries.setops",
    "ab_inbev_big_data_case_spark.queries.streaming_twins",
    "ab_inbev_big_data_case_spark.queries.udfs",
    "ab_inbev_big_data_case_spark.queries.analytics",
    "ab_inbev_big_data_case_spark.queries.llm",
    "ab_inbev_big_data_case_spark.queries.sources",
    "ab_inbev_big_data_case_spark.queries.warehouse",
    "ab_inbev_big_data_case_spark.queries.mlstats",
    "ab_inbev_big_data_case_spark.queries.llm_curation",
    "ab_inbev_big_data_case_spark.queries.timeseries",
    "ab_inbev_big_data_case_spark.queries.retail",
    "ab_inbev_big_data_case_spark.queries.distmetrics",
    "ab_inbev_big_data_case_spark.queries.privacy",
    "ab_inbev_big_data_case_spark.queries.rankcorr",
    "ab_inbev_big_data_case_spark.queries.allocation",
    "ab_inbev_big_data_case_spark.queries.linkpred",
]

# The driver's correctness harness verifies the FIRST 50 registered queries
# per round, so registration order decides what gets independent
# verification. Rounds 2-8 rotated this window BY HAND each round (a
# recurring start-of-round landmine — VERDICT r6/r7/r8 all had to carry it).
# Since round 9 the window is DERIVED from the evidence files themselves:
# ``load_all()`` reads every ``CORRECTNESS_r*.json`` at the repo root and
# orders the registry by evidence age — names whose latest driver row is
# red or missing come first, then checked names oldest-round-first (see
# ``_derive_order``); ties keep registration order, so no hand-kept backlog
# list is needed. The landmine is structurally impossible: as soon as a
# round's CORRECTNESS file lands in the repo, the next ``load_all()``
# demotes its greens and promotes the stalest backlog.
_WINDOW_SIZE = 50

# Derived head of the registration order; filled by ``load_all()``. Kept as
# a module attribute (not just a local) so tools/close_gates.py and tests
# can audit the window the driver will actually verify.
_CHECK_FIRST: list[str] = []

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _evidence_rounds(repo_root: str = _REPO_ROOT) -> dict[str, int]:
    """name -> evidence age for the rotation: the latest driver round with
    a GREEN correctness row, UNLESS a later round recorded a RED row for
    the same name (rows/schema/hash mismatch or a recorded error) — a
    regression maps to -1, the same bucket as never-checked, so the next
    driver window re-verifies the fix ahead of every green (ADVICE r9:
    tracking only greens let a round-N green outlive a round-M>N red)."""
    latest_green: dict[str, int] = {}
    latest_any: dict[str, tuple[int, bool]] = {}  # name -> (round, green)
    for path in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            green = (
                isinstance(row, dict)
                and row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is True
                and not row.get("err")
            )
            if green and rnd > latest_green.get(name, -1):
                latest_green[name] = rnd
            if rnd > latest_any.get(name, (-1, True))[0]:
                latest_any[name] = (rnd, green)
    return {
        name: (rnd if latest_any[name][1] else -1)
        for name, rnd in latest_green.items()
    }


def _derive_order(
    registered: list[str],
    evidence: dict[str, int],
    changed: frozenset[str] = frozenset(),
) -> list[str]:
    """Deterministic registry order, three buckets (VERDICT r11 item 1):

    0. never/red-checked,
    1. CHANGED since their last driver check — green evidence, but the
       implementation-or-oracle content hash no longer matches the hash
       recorded when that evidence was produced (``QUERY_HASHES.json``), so
       the green is describing code that no longer exists,
    2. unchanged greens.

    Within a bucket names go oldest-evidence-round first; ties keep their
    order in ``registered`` (the sort is stable).
    """

    def key(name: str) -> tuple[int, int]:
        ev = evidence.get(name, -1)
        return (0 if ev == -1 else (1 if name in changed else 2), ev)

    return sorted(registered, key=key)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the harness, optionally with its oracle SQL.

    Queries without oracle SQL (streaming/pandas-UDF ops not expressible in
    DuckDB) get the driver's weaker rows-only check.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The harness may hand us a session without engine defaults;
            # timestamp semantics (tz-naive fixtures vs session TZ) and AQE
            # are runtime-settable, so pin them here defensively.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn  # content-hash target (query_hash)
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Change-aware rotation (VERDICT r11 item 1): the r11-rewritten semdedup/IVF
# family carried round-3 driver evidence straight through its own rewrite,
# because the rotation ranked only never-checked > stalest-green. The fix is
# a content hash per query, RECORDED when driver evidence is produced
# (``tools/update_query_hashes.py`` at round start, from the just-landed
# CORRECTNESS file) and COMPARED at every ``load_all()``: a name whose
# current hash differs from its recorded hash outranks every unchanged
# green in the next driver window (bucket 1 in ``_derive_order``).
#
# Granularity: SYMBOL-level. A query's hash folds in the transitive source
# closure of exactly the engine helpers it references (via module-top or
# function-local imports), so editing ``ivf_assign`` re-flags the IVF
# family without flooding the window with every query that merely shares
# the helper FILE. Whole-module hashes are the fallback only when a
# reference can't be resolved to a named top-level definition.

_PKG = "ab_inbev_big_data_case_spark"
_WORD_RE_CACHE: dict[str, re.Pattern] = {}


def _word_re(name: str) -> re.Pattern:
    r = _WORD_RE_CACHE.get(name)
    if r is None:
        r = _WORD_RE_CACHE[name] = re.compile(rf"\b{re.escape(name)}\b")
    return r


def _code_only(src: str) -> str:
    """Source with comments and string literals (docstrings, SQL, labels)
    blanked — dependency detection must see CODE references only, or every
    docstring cross-mention ("read this beside cosine_topk") becomes a
    false dependency edge. Hashing still uses the FULL source."""
    import io
    import tokenize

    out = []
    try:
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type not in (tokenize.COMMENT, tokenize.STRING):
                out.append(tok.string)
    except (tokenize.TokenizeError, IndentationError, SyntaxError):
        return src  # fall back to full source (conservative: more deps)
    return " ".join(out)


_module_hash_cache: dict[str, str | None] = {}


def _module_file_hash(dotted: str) -> str | None:
    if dotted in _module_hash_cache:
        return _module_hash_cache[dotted]
    path = os.path.join(_REPO_ROOT, *dotted.split(".")) + ".py"
    h = None
    if os.path.isfile(path):
        with open(path, "rb") as f:
            h = hashlib.sha256(f.read()).hexdigest()
    _module_hash_cache[dotted] = h
    return h


def _segmenter(text: str) -> Callable[[ast.AST], str]:
    """``ast.get_source_segment(text, node)`` for many nodes of one text.
    The stdlib call re-splits the whole text on every call, which is
    quadratic over a module's top-level nodes; this finds the line starts
    once. AST column offsets count UTF-8 bytes, so slicing is in bytes."""
    data = text.encode()
    starts = [0] + [m.end() for m in re.finditer(rb"\r\n?|\n", data)]

    def segment(node: ast.AST) -> str:
        lo = starts[node.lineno - 1] + node.col_offset
        return data[lo : starts[node.end_lineno - 1] + node.end_col_offset].decode()

    return segment


# module -> {"defs": {name: source_segment}, "imports": {local: (module, orig|None)}}
_module_info_cache: dict[str, dict] = {}


def _module_info(module: str) -> dict:
    info = _module_info_cache.get(module)
    if info is not None:
        return info

    info = {"defs": {}, "imports": {}}
    path = os.path.join(_REPO_ROOT, *module.split(".")) + ".py"
    try:
        text = open(path).read()
        tree = ast.parse(text)
    except (OSError, SyntaxError):
        _module_info_cache[module] = info
        return info
    segment = _segmenter(text)
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            info["defs"][node.name] = segment(node)
        elif isinstance(node, ast.Assign):
            seg = segment(node)
            for t in node.targets:
                if isinstance(t, ast.Name):
                    info["defs"][t.id] = seg
        elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(_PKG):
            for alias in node.names:
                info["imports"][alias.asname or alias.name] = (node.module, alias.name)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(_PKG):
                    # ``import pkg.x as y``: attribute access is not resolved
                    # per-symbol -> whole-module fallback
                    info["imports"][alias.asname or alias.name.split(".")[0]] = (
                        alias.name,
                        None,
                    )
    _module_info_cache[module] = info
    return info


_symbol_hash_cache: dict[tuple[str, str], str] = {}


def _symbol_hash(module: str, name: str | None, stack: frozenset = frozenset()) -> str:
    """Content hash of one engine symbol: its top-level source segment plus
    the hashes of every symbol it references (same module or imported),
    transitively. ``name=None`` or an unresolvable name hashes the whole
    module file (conservative fallback)."""
    key = (module, name or "")
    if key in _symbol_hash_cache:
        return _symbol_hash_cache[key]
    if key in stack:  # recursion cycle: the cycle members hash each other's
        return "cycle"  # sources via the non-cyclic parts; marker is enough
    info = _module_info(module)
    src = info["defs"].get(name) if name else None
    if src is None:
        h = _module_file_hash(module) or ""
        _symbol_hash_cache[key] = h
        return h
    stack = stack | {key}
    code = _code_only(src)
    parts = [src]
    for dep, dep_src in info["defs"].items():
        if dep != name and _word_re(dep).search(code):
            parts.append(dep + "=" + _symbol_hash(module, dep, stack))
    for local, (mod2, orig) in info["imports"].items():
        if _word_re(local).search(code):
            parts.append(local + "=" + _symbol_hash(mod2, orig, stack))
    h = hashlib.sha256("\x00".join(parts).encode()).hexdigest()
    _symbol_hash_cache[key] = h
    return h


def _fn_engine_deps(fn) -> list[tuple[str, str | None]]:
    """(module, symbol) pairs a query function references: function-local
    ``from pkg.x import y`` statements (AST of the function source) plus
    module-top imports of its defining module whose local name appears in
    the function body."""
    import textwrap

    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return []
    deps: set[tuple[str, str | None]] = set()
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        tree = None
    if tree is not None:
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.module
                and node.module.startswith(_PKG)
            ):
                for alias in node.names:
                    deps.add((node.module, alias.name))
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(_PKG):
                        deps.add((alias.name, None))
    code = _code_only(src)
    for local, (mod2, orig) in _module_info(
        getattr(fn, "__module__", "") or ""
    )["imports"].items():
        if _word_re(local).search(code):
            deps.add((mod2, orig))
    return sorted(deps, key=lambda t: (t[0], t[1] or ""))


def query_hash(name: str) -> str:
    """Content hash of a registered query: its function source, its oracle
    SQL, and the transitive symbol-closure hash of every engine helper it
    references. Comment-only edits DO change the hash — conservative by
    design (a spurious re-check is cheap; a missed one is the r11 gap)."""
    fn = getattr(QUERIES[name], "__wrapped__", QUERIES[name])
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = ""
    parts = [src, ORACLE.get(name, "")]
    for module, symbol in _fn_engine_deps(fn):
        parts.append(f"{module}:{symbol}={_symbol_hash(module, symbol)}")
    return hashlib.sha256("\x00".join(parts).encode()).hexdigest()


def recorded_hashes(repo_root: str = _REPO_ROOT) -> dict[str, str]:
    path = os.path.join(repo_root, "QUERY_HASHES.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}


def changed_since_checked() -> frozenset[str]:
    """Names whose current content hash differs from the hash recorded at
    their last driver check. Absent-from-file names are NOT changed (they
    are either never-checked — bucket 0 already — or pre-date the hash
    file, where the r11-close 3-SF full sweep stands as the baseline)."""
    rec = recorded_hashes()
    return frozenset(
        n for n in QUERIES if n in rec and rec[n] != query_hash(n)
    )


def load_all() -> None:
    """Import every query module (idempotent) so registration side-effects
    run, then reorder the registry by evidence age so the driver-verified
    first ``_WINDOW_SIZE`` slots always hold the stalest-evidence names
    (never/red-checked first, changed-since-checked second). The rotation
    is derived, never manual."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)

    ordered = _derive_order(
        list(QUERIES), _evidence_rounds(), changed_since_checked()
    )
    _CHECK_FIRST[:] = ordered[:_WINDOW_SIZE]
    for reg in (QUERIES, ORACLE):
        snapshot = dict(reg)
        reg.clear()
        reg.update({n: snapshot[n] for n in ordered if n in snapshot})
