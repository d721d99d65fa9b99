"""No-per-row-Python lint (SURVEY.md §5.8; BASELINE.json:6/15 mandate all
transform logic as vectorized pandas/Arrow UDFs — never row-at-a-time
Python on data paths)."""

from __future__ import annotations

import ast
import os
import re

ENGINE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etlframwork_spark")

BANNED = [
    (re.compile(r"\bF\.udf\s*\("), "row-at-a-time F.udf"),
    (re.compile(r"@udf\b"), "row-at-a-time @udf"),
    (re.compile(r"\bimport\s+udf\b"), "udf import"),
    (re.compile(r"\.rdd\b"), "RDD drop-down"),
    (re.compile(r"\.toPandas\s*\("), "driver-side toPandas materialization"),
    (re.compile(r"\.foreach\s*\("), "per-row foreach"),
    (re.compile(r"\.first\s*\("), "driver-side first() probe"),
    (re.compile(r"\.head\s*\("), "driver-side head() probe"),
]

# .collect() is allowed ONLY for O(#buckets)/O(#files)/O(model) metadata,
# never data rows
COLLECT_ALLOWED = {
    "table.py",  # SnapshotTable.bucket_counts rows (<= num_buckets)
    # trained IVF centroids (K rows — the model), and round 7's
    # cosine_topk query matrix (O(#queries) — the exact driver footprint
    # the former F.broadcast of the query side already implied)
    "similarity.py",
    # verified dup-pair graph, gated by an EXACT count() <=
    # SMALL_GRAPH_MAX_EDGES before collecting; larger graphs take the
    # distributed CC loop (strategy equality pinned in tests/test_dedup.py)
    "dedup.py",
}


def _engine_files():
    for dirpath, _d, files in os.walk(ENGINE):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def test_no_per_row_python_in_engine():
    problems = []
    for path in _engine_files():
        with open(path) as fh:
            src = fh.read()
        for rx, why in BANNED:
            if rx.search(src):
                problems.append(f"{path}: {why}")
    assert not problems, problems


def test_collect_confined_to_metadata_paths():
    problems = []
    for path in _engine_files():
        base = os.path.basename(path)
        with open(path) as fh:
            src = fh.read()
        if ".collect()" in src and base not in COLLECT_ALLOWED:
            problems.append(path)
    assert not problems, f"collect() outside metadata paths: {problems}"


# The bucket-aligned write distribution has ONE spelling,
# table.bucket_exchange (dense slot per affected bucket, dealt over
# min(#buckets, cores) tasks). A hand-sized repartition on the bucket
# column elsewhere brings back hash collisions and empty tasks.
_REPARTITION = re.compile(r"\.repartition(ById|ByRange)?\s*\(")


def _call_args(src: str, start: int) -> str:
    """Source text of a call's arguments, from just after its '('."""
    depth, i = 1, start
    while depth and i < len(src):
        depth += {"(": 1, ")": -1}.get(src[i], 0)
        i += 1
    return src[start : i - 1]


def test_bucket_exchange_is_the_only_bucket_repartition():
    problems = []
    for path in _engine_files():
        with open(path) as fh:
            src = fh.read()
        for m in _REPARTITION.finditer(src):
            args = _call_args(src, m.end())
            line = src.count("\n", 0, m.start()) + 1
            if "BUCKET_COL" in args or "_bucket" in args:
                problems.append(f"{path}:{line}: repartition on the bucket column")
            if m.group(1) == "ById" and os.path.basename(path) != "table.py":
                problems.append(f"{path}:{line}: repartitionById outside table.bucket_exchange")
    assert not problems, problems


# Every bucket rewrite goes through SnapshotTable.rewrite_buckets, which
# owns the data dir, the partitioned write, the commit, the orphan cleanup
# and (with recompute_on_conflict) the CommitConflict recompute. These
# spellings outside table.py mean a hand-rolled second copy of it.
_REWRITE_OWNED = [
    (re.compile(r"\bnew_data_dir\s*\("), "new_data_dir("),
    (re.compile(r"partitionBy\(\s*BUCKET_COL"), "partitionBy(BUCKET_COL"),
    (re.compile(r"except\s+\(?[\w., ]*CommitConflict"), "except CommitConflict"),
]


def test_bucket_rewrite_is_owned_by_table():
    problems = []
    for path in _engine_files():
        if os.path.basename(path) == "table.py":
            continue
        with open(path) as fh:
            src = fh.read()
        for rx, what in _REWRITE_OWNED:
            for m in rx.finditer(src):
                line = src.count("\n", 0, m.start()) + 1
                problems.append(f"{path}:{line}: {what} outside table.py")
    assert not problems, problems


def _engine_sources():
    for path in _engine_files():
        with open(path) as fh:
            yield os.path.relpath(path, ENGINE), fh.read()


# One home per decision: the Python-side XXH64 lives in hashing.py, scan
# planning (bucket pin, file skipping, clean/dirty split) in table.py, and
# input sizes come from Catalyst's estimate (sources.io.scan_bytes), which
# works on any filesystem Spark reads — a local walk does not.
_XXH64_PRIME = re.compile(
    r"0x(9E3779B185EBCA87|C2B2AE3D27D4EB4F|165667B19E3779F9|85EBCA77C2B2AE63|27D4EB2F165667C5)",
    re.IGNORECASE,
)


def test_xxh64_lives_in_hashing():
    bad = [rel for rel, src in _engine_sources() if rel != "hashing.py" and _XXH64_PRIME.search(src)]
    assert not bad, f"XXH64 primes outside hashing.py: {bad}"


def test_file_skipping_is_planned_by_table():
    rx = re.compile(r"(?<!def )\bprune_files\(")
    bad = [rel for rel, src in _engine_sources() if rel != "table.py" and rx.search(src)]
    assert not bad, f"prune_files( called outside table.py: {bad}"


def test_no_local_walk_in_sources_or_functions():
    bad = [
        rel
        for rel, src in _engine_sources()
        if rel.split(os.sep)[0] in ("sources", "functions") and "os.walk" in src
    ]
    assert not bad, f"os.walk under sources/ or functions/: {bad}"


# The table has one read path (SnapshotTable.read, a JVM parquet scan)
# and one write path (merge_batch): no Python data source re-plans,
# re-resolves or re-hashes it behind an Arrow hop.
def test_no_python_data_source_in_the_engine():
    rx = re.compile(r"^\s*(from|import)\s+pyspark\.sql\.datasource\b", re.MULTILINE)
    bad = [rel for rel, src in _engine_sources() if rx.search(src)]
    assert not bad, f"engine modules importing pyspark.sql.datasource: {bad}"


# Every metadata change publishes through SnapshotTable._transact: it
# refreshes, applies the change to the fresh metadata, publishes through
# the _write_version CAS, and retries a lost CAS from fresh state. A
# second publish or a second VersionConflict handler is a hand-copied
# transaction.
def _sites(pred):
    """``(file, enclosing function)`` of every AST node ``pred`` accepts."""
    sites = []
    for rel, src in _engine_sources():
        def walk(node, fn):
            for child in ast.iter_child_nodes(node):
                inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
                if pred(child):
                    sites.append((rel, fn))
                walk(child, inner)

        walk(ast.parse(src), None)
    return sites


def test_metadata_is_published_only_by_the_transaction():
    publishes = _sites(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "_write_version"
    )
    handlers = _sites(
        lambda n: isinstance(n, ast.ExceptHandler)
        and n.type is not None
        and "VersionConflict" in ast.unparse(n.type)
    )
    assert publishes == [("table.py", "_transact")], publishes
    assert handlers == [("table.py", "_transact")], handlers


# LWW has one spelling, table.lww_resolve: the (lsn, commit) order, the
# delete-beats-live tie-break (LWW_PRI) and the max_by over them. A
# max_by or LWW_PRI elsewhere is a second copy of the rule; an
# applyInPandas fold in the merge or the table is a per-key Python
# crossing on the write path; a pandas or Arrow per-key fold (groupby,
# group_by, drop_duplicates) anywhere is a second resolve in Python.
# Spark's camel-case groupBy( does not match.
_PER_KEY_FOLDS = (".groupby(", "group_by(", "drop_duplicates(")


def test_lww_resolve_has_one_spelling():
    problems = []
    for rel, src in _engine_sources():
        if rel != "table.py":
            problems += [f"{rel}: {w}" for w in ("max_by(", "LWW_PRI") if w in src]
        problems += [f"{rel}: {w}" for w in _PER_KEY_FOLDS if w in src]
        if rel in ("merge.py", "table.py") and "applyInPandas" in src:
            problems.append(f"{rel}: applyInPandas")
    assert not problems, problems


# Outside table.py, the read-and-rewrite cycle has one caller per shape:
# merge_batch's mor epochs call rewrite_buckets directly (an append needs
# no pin and no stored read) and recompute a lost commit themselves;
# cow epochs and every other bucket rewrite go through
# SnapshotTable.rewrite, which owns the pin, the read, the validation
# from the pin and the CommitConflict recompute. Tombstones are written
# only by table.tombstone_where.
_CYCLE_OWNED = [
    ("recompute_on_conflict(", {"merge.py"}),
    ("rewrite_buckets(", {"merge.py"}),
    ("validate_from_snapshot", set()),
    ("withColumn(TOMBSTONE_COL", set()),
]


def test_rewrite_cycle_and_tombstone_rule_have_one_home():
    problems = []
    for rel, src in _engine_sources():
        if rel == "table.py":
            continue
        problems += [f"{rel}: {what}" for what, homes in _CYCLE_OWNED if what in src and rel not in homes]
    assert not problems, problems


def test_merge_calls_rewrite_buckets_only_to_append():
    with open(os.path.join(ENGINE, "merge.py")) as fh:
        src = fh.read()
    calls = [
        (src.count("\n", 0, m.start()) + 1, _call_args(src, m.end()))
        for m in re.finditer(r"\brewrite_buckets\(", src)
    ]
    assert calls, "merge.py no longer calls rewrite_buckets"
    bad = [line for line, args in calls if 'mode="append_delta"' not in args or '"replace"' in args]
    assert not bad, f"merge.py:{bad}: a replace write belongs in SnapshotTable.rewrite"


# A snapshot's file layout (its per-bucket "files" and "delta_files"
# maps) has one reader, SnapshotTable.bucket_files (with _bucket_files,
# its form for a snapshot dict already in hand). The writers that build
# or serialize the maps are the only other code that names them.
_LAYOUT_KEY = re.compile(r'"delta_files"|\["files"\]|\.get\("files"')
_LAYOUT_OWNERS = {"create", "hydrate_meta", "_dehydrate", "commit", "bucket_files", "_bucket_files"}


def _top_level_defs(src: str):
    """``(name, first line, last line)`` of every module-level function
    and class method; nested functions count as their enclosing def."""
    tree = ast.parse(src)
    nodes = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
    for cls in (n for n in tree.body if isinstance(n, ast.ClassDef)):
        nodes += [n for n in cls.body if isinstance(n, ast.FunctionDef)]
    return [(n.name, n.lineno, n.end_lineno) for n in nodes]


def test_snapshot_layout_has_one_reader():
    problems = []
    for rel, src in _engine_sources():
        defs = _top_level_defs(src)
        for m in _LAYOUT_KEY.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            owner = next((name for name, lo, hi in defs if lo <= line <= hi), None)
            if rel != "table.py" or owner not in _LAYOUT_OWNERS:
                problems.append(f"{rel}:{line}: {m.group(0)} read in {owner}")
    assert not problems, problems


# The tombstone test and the fence key's parse have one spelling each,
# in table.py: is_tombstone() and parse_fence().
def test_tombstone_test_and_fence_parse_live_in_table():
    problems = []
    for rel, src in _engine_sources():
        for what in ("F.coalesce(F.col(TOMBSTONE_COL)", 'rpartition(":")'):
            lines = [src.count("\n", 0, m.start()) + 1 for m in re.finditer(re.escape(what), src)]
            if len(lines) > (1 if rel == "table.py" else 0):
                problems.append(f"{rel}:{lines}: {what}")
    assert not problems, problems
