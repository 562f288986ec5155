"""Static source guards for the package's distributed-execution contract
(the properties every VERDICT audits by hand — pinned here so a regression
fails in CI, not in review):

1. ``.collect()`` only at the audited dimension-bounded sites — a new
   collect in a data path is a driver-side loop, the #1 anti-pattern the
   build bans.
2. No row-at-a-time Python UDFs (``F.udf`` / ``@udf``): every Python
   escape hatch must be Arrow-batched (pandas_udf / mapInPandas /
   applyInPandas).
3. No ``.toPandas()`` anywhere in the package (driver materialization).
4. RDD access only at the audited partition-count probe.
5. Every lineage cut goes through ``operators.lineage.cut``: no
   ``localCheckpoint`` call anywhere else.
6. Every global running sum or rank goes through
   ``operators.relational.prefix_sums``: the equal-width key-bucket
   expression ``DIV ((hi - lo) DIV`` appears nowhere else.
7. The retrieval audit's query sample and its exact / LSH / IVF ranked
   lists are defined once, in ``llm/similarity.py``: no query module
   spells them out again.
8. The portable hash and the n-token shingle rule are defined once per
   engine, in ``functions/text.py``; the MinHash signature / band /
   kept-band / candidate chain and the SimHash band split once per engine,
   in ``llm/dedup.py``.
9. No ``queries/`` module imports a private (underscore) name from another
   ``queries/`` module, and none binds a module-level name twice.
10. The money rule (``DECIMAL(18,6)``, then round to 2 or integer cents) is
    defined once per engine, in ``functions/money.py``: no other module
    casts to ``decimal(18,6)`` in Spark or in SQL.
"""

from __future__ import annotations

import ast
import io
import os
import re
import tokenize

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ab_inbev_big_data_case_spark",
)

#: file -> allowed occurrence count, each site audited (see the files'
#: own comments for the boundedness argument).
COLLECT_ALLOWED = {
    # per-micro-batch monitor fold over the day-spine-bounded batch
    "streaming/jobs.py": 1,
    # dim²-bounded Gram-matrix pull for the PQ codebook, plus the
    # K-bounded (K = O(√N)) centroid pull feeding ivf_assign's broadcast,
    # plus the Q-bounded query-side pull feeding cosine_pairs' broadcast
    # (it was already the broadcast side of the crossJoin)
    "llm/similarity.py": 3,
    # touched-partition list (partition-count-bounded) for targeted overwrite
    "sources/writers.py": 1,
}

RDD_ALLOWED = {
    # getNumPartitions probe (metadata only, no data movement) + its
    # docstring mention (the simple comment-stripper doesn't see
    # docstrings)
    "operators/partitioning.py": 2,
}


def _py_files():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _count_code_occurrences(path: str, pattern: str) -> int:
    n = 0
    for line in open(path, encoding="utf-8"):
        stripped = line.split("#", 1)[0]
        n += len(re.findall(pattern, stripped))
    return n


def _rel(path: str) -> str:
    return os.path.relpath(path, PKG).replace(os.sep, "/")


def test_collect_only_at_audited_sites():
    offenders = {}
    for path in _py_files():
        n = _count_code_occurrences(path, r"\.collect\(\)")
        allowed = COLLECT_ALLOWED.get(_rel(path), 0)
        if n != allowed and (n > allowed or allowed > 0):
            offenders[_rel(path)] = f"{n} collect() sites (allowed {allowed})"
    assert offenders == {}, offenders


def test_no_row_at_a_time_python_udfs():
    offenders = {}
    for path in _py_files():
        # F.udf( / @udf — but NOT pandas_udf (Arrow-batched, allowed)
        n = _count_code_occurrences(path, r"(?<!pandas_)\budf\(")
        if n:
            offenders[_rel(path)] = n
    assert offenders == {}, offenders


def test_no_topandas_in_package():
    offenders = [
        _rel(p) for p in _py_files() if _count_code_occurrences(p, r"\.toPandas\(\)")
    ]
    assert offenders == []


def test_rdd_access_only_at_audited_probe():
    offenders = {}
    for path in _py_files():
        n = _count_code_occurrences(path, r"\.rdd\b")
        allowed = RDD_ALLOWED.get(_rel(path), 0)
        if n > allowed:
            offenders[_rel(path)] = f"{n} .rdd sites (allowed {allowed})"
    assert offenders == {}, offenders


def test_no_local_checkpoint_outside_lineage():
    """``cut()`` is the one lazy-cut policy; a hand-written
    ``localCheckpoint`` call (eager or lazy) anywhere else bypasses its
    job labelling and the plan sweep's view behind the cut."""
    offenders = [
        f"{_rel(path)}:{node.lineno}"
        for path in _py_files()
        if _rel(path) != "operators/lineage.py"
        for node in ast.walk(ast.parse(open(path, encoding="utf-8").read()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]
    assert offenders == []


def test_key_buckets_only_in_prefix_sums():
    """``prefix_sums`` is the one two-level prefix sum; a hand-written
    equal-width bucket expression elsewhere is a second copy of its
    bucket-and-carry spine."""
    bucket_expr = r"DIV\s*\(\(\s*\w*hi\s*-\s*\w*lo\s*\)\s*DIV"
    sites = {
        _rel(path): n
        for path in _py_files()
        if (n := _count_code_occurrences(path, bucket_expr))
    }
    assert sites == {"operators/relational.py": 1}


def test_retrieval_audit_only_in_similarity():
    """``audit_query``/``AUDIT_QUERY_SQL``, ``cosine_topk_sql``,
    ``lsh_ranked_sql`` and ``ivf_candidates_sql`` are the one definition of
    the sample and of each ranked list; a query module that writes its own
    is a second copy that can drift from its Spark twin."""
    patterns = {
        "query sample": r"%\s*50\s*==?\s*0[^\n]{0,40}<\s*500",
        "LSH bucket-mate join": r"JOIN buckets cb USING \(tbl, bucket\)",
        "IVF probe scoring": r"FROM q CROSS JOIN cents c",
        "brute-force top-k window": (
            r"row_number\(\)\s*OVER\s*\(\s*PARTITION BY[^()]*"
            r"ORDER BY\s+round\(\{_\w*DOT\b"
        ),
    }
    offenders = [
        f"{_rel(path)}: {what}"
        for path in _py_files()
        if _rel(path).startswith("queries/")
        for what, pattern in patterns.items()
        if re.search(pattern, open(path, encoding="utf-8").read())
    ]
    assert offenders == []


def _offenders(patterns: dict[str, str], home: str) -> list[str]:
    return [
        f"{_rel(path)}: {what}"
        for path in _py_files()
        if _rel(path) != home
        for what, pattern in patterns.items()
        if re.search(pattern, open(path, encoding="utf-8").read())
    ]


def test_hash_and_shingles_only_in_text():
    """``token_hash64``/``token_hash64_sql`` and ``shingles``/``shingles_sql``
    are the one definition of the hash and of the shingle rule; a
    hand-written copy bypasses the signature a production deployment
    would swap the hash behind."""
    patterns = {
        "SQL portable hash": r"substr\(\s*sha256\(",
        "Spark portable hash": r"F\.substring\(\s*F\.sha2\(|F\.conv\((?:[^()]|\([^()]*\))*F\.sha2\(",
        "SQL shingle rule": r"concat_ws\(\s*' ',[^\n]{0,40}?\[i\]",
    }
    assert _offenders(patterns, "functions/text.py") == []


def test_minhash_and_simhash_chains_only_in_dedup():
    """``MINHASH_SIG_SQL``, ``KEPT_BANDS_SQL``, ``lsh_pairs_sql`` and
    ``simhash_band_pairs_sql`` are the DuckDB twins of the ``llm/dedup.py``
    operators; an oracle that re-types them can drift from the engine."""
    patterns = {
        "MinHash signature": r"min\(\(\(2\*seed \+ 1\)",
        "LSH candidate join": r"kept_bands a JOIN kept_bands b",
        "SimHash band split": r">> \(15 \* b\)",
    }
    assert _offenders(patterns, "llm/dedup.py") == []


def _module_bindings(tree: ast.Module):
    """(name, lineno) of every module-level binding, skipping a template
    formatted in place (``X = X.format(...)``)."""
    for node in tree.body:
        if isinstance(node, ast.Assign):
            v = node.value
            if (
                isinstance(v, ast.Call)
                and isinstance(v.func, ast.Attribute)
                and v.func.attr == "format"
                and isinstance(v.func.value, ast.Name)
                and [ast.dump(t) for t in node.targets]
                == [ast.dump(ast.Name(v.func.value.id, ast.Store()))]
            ):
                continue
            for t in node.targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node.lineno
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.target.id, node.lineno
        elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            yield node.name, node.lineno
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                yield (a.asname or a.name).split(".")[0], node.lineno


def test_query_modules_share_no_private_names():
    """A ``queries/`` module neither imports another one's underscore names
    (a shared rule belongs in an operator module, beside its Spark twin)
    nor binds one module-level name twice (the second binding silently
    changes what later references read)."""
    offenders = []
    for path in _py_files():
        if not _rel(path).startswith("queries/"):
            continue
        tree = ast.parse(open(path, encoding="utf-8").read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").split(".")[-2:-1] == ["queries"]
            ):
                offenders += [
                    f"{_rel(path)}:{node.lineno} imports {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
        first: dict[str, int] = {}
        for name, line in _module_bindings(tree):
            if name in first:
                offenders.append(f"{_rel(path)}:{line} rebinds {name} (line {first[name]})")
            first.setdefault(name, line)
    assert offenders == []


def _code_strings(path: str):
    """Every string literal in ``path`` except docstrings and other
    bare-string statements (prose is not code)."""
    src = open(path, encoding="utf-8").read()
    prose = {
        (n.value.lineno, n.value.col_offset)
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.STRING and tok.start not in prose:
            yield tok.string


#: file -> allowed DECIMAL(18,6) casts that are not money.
MONEY_TYPE_ALLOWED = {
    # markov_attribution_removal quantizes its 6-place removal-effect
    # RATIO to DECIMAL(18,6) (SQL ``::DECIMAL(18,6)`` and Spark cast) so
    # the normalizing sum is exact; it is not a money amount
    "queries/analytics.py": 2,
}


def test_money_rule_only_in_functions():
    """``money``/``money_sql``, ``money_sum``/``money_sum_sql`` and
    ``cents``/``cents_sql`` are the one definition of the money type and
    its rounding; a hand-written ``decimal(18,6)`` cast elsewhere is a copy
    that a change to the rule would miss."""
    casts = re.compile(
        r"""^[rRuU]?(["'])decimal\(18,\s*6\)\1$"""  # Spark type literal
        r"|\bAS\s+DECIMAL\(18,\s*6\)|::\s*DECIMAL\(18,\s*6\)",  # SQL casts
        re.I,
    )
    sites = {}
    for path in _py_files():
        if _rel(path) == "functions/money.py":
            continue
        n = sum(len(casts.findall(s)) for s in _code_strings(path))
        if n:
            sites[_rel(path)] = n
    assert sites == MONEY_TYPE_ALLOWED
