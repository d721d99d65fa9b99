"""Deduplication for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Tokenization, banding and verification stay JVM-side (higher-order
array functions + xxhash64). MinHash signatures and shingle sets run as
batch-native ``mapInArrow`` kernels (numpy XXH64 over the Arrow token
buffers) once the corpus is large enough to pay for the Python worker;
their per-row loop only assembles shingle byte strings. Shingling and
hashing are map-only, LSH turns the quadratic pair search into a
band-bucket shuffle, and the verify step joins only within buckets, so
the same code scales to a multi-billion-document corpus.

Exact dedup and bounded n-gram Jaccard have DuckDB oracles; MinHash/
SimHash use Spark's xxhash64 (no DuckDB twin) so the driver records
rows-only checks and tests/test_dedup.py verifies their quality against
exact Jaccard on small corpora instead.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType
from pyspark.sql.window import Window

from ..hashing import SPARK_SEED, xxh64_arrow
from ..operators.registry import query
from ..sources.io import load_table, scan_bytes

# deterministic (a, b) constants for the MinHash permutation family.
# 31-bit arithmetic: a*h31 + b stays < 2^62, so Spark's ANSI-mode long
# arithmetic can never overflow (Spark 4 throws on long overflow).
_P = (1 << 31) - 1  # Mersenne prime 2147483647
_RNG = np.random.default_rng(42)
NUM_PERM = 16
_AB = [(int(a), int(b)) for a, b in zip(_RNG.integers(1, _P, NUM_PERM), _RNG.integers(0, _P, NUM_PERM))]
BAND_ROWS = 2  # 8 bands of 2 rows: catches jaccard >~ 0.5 w.h.p.


# ----------------------------------------------------------------- exact dedup
@query(
    "docs_exact_dedup",
    oracle="""
    SELECT sha256(text) AS content_sha, MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def docs_exact_dedup(spark, sf_dir):
    """Exact dedup: hash-groupBy on sha256(text), keep the smallest id.
    The canonical first pass of any corpus dedup (map-side combine, one
    shuffle on the digest)."""
    # no spread: sha2+groupBy is cheap enough that the extra round-robin
    # exchange measured as a net loss (round-7 A/B: 0.27s -> 0.86s)
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.sha2(F.col("text"), 256).alias("content_sha")).agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies")
    )


# ----------------------------------------------------- bounded n-gram jaccard
# Document-frequency cap on the inverted index: a word present in more
# docs of one source than that source's cap (a stopword for that source)
# is dropped from BOTH the intersection and the vocabulary before
# pairing. Without it, "the" lands every same-source doc in one join
# group and the per-key cross product is enumerated BEFORE the id-window
# predicate prunes — invisible at sf0.01, the slowest stage at 100x,
# quadratic at corpus scale (round-2 verdict).
#
# The cap is DERIVED FROM THE DATA (round-3 verdict #3 — the former
# constant 20 was tuned to the driver's 25-doc sources): per source,
# df_cap = greatest(20, ceil(sqrt(n_docs))). On the driver corpus this
# is exactly the former constant (hash-stable vs round 3); at corpus
# scale the per-word join work is bounded by cap^2 = n_docs — linear in
# source size per vocabulary word — while vocabulary retention GROWS
# with the source instead of a constant silently dropping 99% of a
# 10^6-doc source's vocabulary. The DuckDB oracle applies the identical
# derivation.
DF_CAP_FLOOR = 20


def source_df_caps(d: DataFrame) -> DataFrame:
    """Per-source document-frequency cap: (source, df_cap) with
    df_cap = greatest(floor, ceil(sqrt(n_docs))). ``d`` is one row per
    document. Integer sqrt/ceil on exact counts — IEEE-identical across
    engines (cross-engine determinism rule)."""
    return d.groupBy("source").agg(
        F.greatest(F.lit(DF_CAP_FLOOR), F.ceil(F.sqrt(F.count(F.lit(1)))))
        .cast("int")
        .alias("df_cap")
    )


@query(
    "docs_ngram_jaccard",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, source,
               list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS words
        FROM documents
    ), nd AS (
        SELECT source, GREATEST(20, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS df_cap
        FROM d GROUP BY source
    ), e AS (
        SELECT doc_id, source, unnest(words) AS word FROM d
    ), e2 AS (
        SELECT doc_id, source, word FROM e JOIN nd USING (source)
        QUALIFY COUNT(*) OVER (PARTITION BY source, word) <= df_cap
    ), nw AS (
        SELECT doc_id, COUNT(*) AS nw FROM e2 GROUP BY doc_id
    ), p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM e2 a JOIN e2 b
          ON a.word = b.word AND a.source = b.source
         AND a.doc_id < b.doc_id AND b.doc_id <= a.doc_id + 40
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.id_a, p.id_b, p.n_common,
           na.nw AS nw_a, nb.nw AS nw_b,
           CAST(p.n_common AS DOUBLE) / (na.nw + nb.nw - p.n_common) AS jaccard
    FROM p JOIN nw na ON p.id_a = na.doc_id JOIN nw nb ON p.id_b = nb.doc_id
    WHERE CAST(p.n_common AS DOUBLE) / (na.nw + nb.nw - p.n_common) >= 0.2
    """,
)
def docs_ngram_jaccard(spark, sf_dir):
    """Word-set Jaccard over a bounded candidate window (same source, id
    distance <= 40) — the exact-verify kernel that LSH methods narrow to —
    computed over the DF-CAPPED vocabulary: per-source stopwords (df >
    that source's derived df_cap, see source_df_caps) are dropped from
    index and vocabulary before pairing, so no join group exceeds the cap
    and the per-key cross product stays ~linear per vocabulary word at
    any corpus size. The DuckDB oracle applies the identical derivation.
    Explode + window cap + equi-join + count; int/int jaccard is
    IEEE-stable."""
    d = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        "source",
        F.array_distinct(F.expr(r"split(trim(lower(text)), '\\s+')")).alias("words"),
    )
    caps = source_df_caps(d)
    e = d.select("doc_id", "source", F.explode("words").alias("word"))
    e2 = drop_hot_buckets(e.join(F.broadcast(caps), "source"), ["source", "word"], F.col("df_cap")).drop(
        "df_cap"
    )
    nw = e2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nw"))
    a, b = e2.alias("a"), e2.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.doc_id") <= F.col("a.doc_id") + 40),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = nw.select(F.col("doc_id").alias("id_a"), F.col("nw").alias("nw_a"))
    nb = nw.select(F.col("doc_id").alias("id_b"), F.col("nw").alias("nw_b"))
    j = p.join(na, "id_a").join(nb, "id_b")
    jac = F.col("n_common").cast("double") / (F.col("nw_a") + F.col("nw_b") - F.col("n_common"))
    return j.select(
        "id_a", "id_b", "n_common", F.col("nw_a").cast("long").alias("nw_a"),
        F.col("nw_b").cast("long").alias("nw_b"), jac.alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.2)


# ------------------------------------------------------------- MinHash + LSH
def _minhash_signature_hof(df: DataFrame, text_col: str = "text", ngram: int = 3) -> DataFrame:
    """Reference JVM implementation of :func:`minhash_signature` (interpreted
    higher-order functions). Kept as the bit-equality oracle for the numpy
    kernel (``test_numpy_minhash_matches_reference``); the production path
    below produces identical signatures ~10x cheaper."""
    tokens = F.expr(rf"split(trim(lower({text_col})), '\\s+')")
    df = df.withColumn("_tokens", tokens)
    n = F.size("_tokens")
    shingles = F.when(
        n >= ngram,
        F.expr(
            f"transform(sequence(0, size(_tokens) - {ngram}), i -> "
            f"xxhash64(concat_ws(' ', slice(_tokens, i + 1, {ngram}))))"
        ),
    ).otherwise(F.expr("array(xxhash64(concat_ws(' ', _tokens)))"))
    df = df.withColumn("_shingles", shingles)
    sig = F.array(
        *[
            F.array_min(
                F.expr(
                    f"transform(_shingles, h -> pmod({a}L * (h & {_P}L) + {b}L, {_P}L))"
                )
            )
            for a, b in _AB
        ]
    )
    return df.withColumn("sig", sig).drop("_tokens", "_shingles")


# Engage floor for the vectorized minhash/shingle kernels (same pattern
# as load_table's spread floor): below ~2 MB of corpus the Python-worker
# round-trip costs more than the interpreted HOF plan saves (sf0.1 A/B:
# kernel 2.3s vs HOF 1.9s on a 0.6 MB corpus; kernel wins 1.3-2x from
# ~6 MB up). Both paths are bit-identical (pinned), so the switch is
# purely a cost decision.
_VECTORIZE_MIN_BYTES = 2 << 20


def _use_vectorized(docs: DataFrame) -> bool:
    """Kernel or HOF plan for the corpus scan ``docs``, taken before any
    ``select`` (a projection scales the size estimate)."""
    return scan_bytes(docs) >= _VECTORIZE_MIN_BYTES


def minhash_signature(
    df: DataFrame, text_col: str = "text", ngram: int = 3, vectorized: bool = True
) -> DataFrame:
    """Append a MinHash signature column ``sig: array<long>``.

    Shingles are word ``ngram``-grams; each shingle is hashed with
    xxhash64, and each of the NUM_PERM permutations takes
    ``min((a*h + b) mod P)``.

    Round-7 shape (guide §4.2 — batch-native kernels over interpreted
    per-element expressions): tokenization stays JVM-side
    (``split(trim(lower(text)), '\\s+')`` — codegen'd, so the exact
    trim/lower/split semantics are Spark's own), then ONE ``mapInArrow``
    stage assembles shingle byte strings from the Arrow token buffers and
    hashes them with the numpy XXH64 of ``hashing.py`` (pinned
    bit-equal to the JVM's ``xxhash64``).
    Because the kernel hashes exactly the UTF-8 bytes
    ``concat_ws(' ', slice(_tokens, i+1, n))`` would produce, and the
    permutation arithmetic (``pmod(a*(h & P) + b, P)``) is the same
    wrap-free int64 math, the signatures are bit-identical to the
    reference HOF plan above (pinned by
    ``test_numpy_minhash_matches_reference`` across fixture corpora and
    edge cases). The interpreted plan evaluated ~4 expression-tree nodes
    per shingle and measured ~98 task-CPU-s on a 50k-doc corpus — the
    single largest CPU block in the dedup pipeline.

    Scale shape unchanged: a pure map stage, no shuffle, no driver state;
    the Python boundary carries only (passthrough columns, tokens).

    ``vectorized=False`` keeps the HOF plan — callers with tiny inputs
    (below ``_VECTORIZE_MIN_BYTES``) avoid the Python-worker round-trip."""
    if not vectorized:
        return _minhash_signature_hof(df, text_col, ngram)
    import pyarrow as pa

    tokens_expr = F.expr(rf"split(trim(lower({text_col})), '\\s+')")
    base = df.withColumn("_tokens", tokens_expr)
    out_schema = StructType(
        list(df.schema.fields) + [StructField("sig", ArrayType(LongType(), True), True)]
    )
    n_cols = len(df.schema.fields)
    a_arr = np.array([a for a, _ in _AB], dtype=np.int64)[:, None]
    b_arr = np.array([b for _, b in _AB], dtype=np.int64)[:, None]
    p64 = np.int64(_P)
    mask = np.uint64(_P)
    nperm = len(_AB)
    ng = int(ngram)

    def kernel(batches):
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            toks = batch.column(n_cols)
            row_valid = np.ones(n_rows, dtype=bool)
            if toks.null_count:
                row_valid = np.array(toks.is_valid())
            tlens = toks.value_lengths().to_numpy(zero_copy_only=False)
            tlens = np.where(row_valid, tlens, 0).astype(np.int64)
            tstarts = np.concatenate([[0], np.cumsum(tlens)])
            vals = toks.flatten().cast(pa.large_binary())
            _, ob, db = vals.buffers()
            off = np.frombuffer(ob, np.int64, len(vals) + 1, vals.offset * 8)
            mv = memoryview(db) if db is not None else memoryview(b"")
            tok_views = [mv[off[j] : off[j + 1]] for j in range(len(vals))]
            space = b" "
            shingles: list[bytes] = []
            counts = np.empty(n_rows, dtype=np.int64)
            for i in range(n_rows):
                if not row_valid[i]:
                    # NULL text: the HOF plan's concat_ws(' ', NULL) yields ""
                    # (concat_ws skips nulls), so the signature is that of a
                    # single empty shingle — not null
                    shingles.append(b"")
                    counts[i] = 1
                    continue
                ts, nt = tstarts[i], tlens[i]
                if nt >= ng:
                    row = tok_views[ts : ts + nt]
                    shingles.extend(
                        space.join(row[k : k + ng]) for k in range(nt - ng + 1)
                    )
                    counts[i] = nt - ng + 1
                else:
                    shingles.append(space.join(tok_views[ts : ts + nt]))
                    counts[i] = 1
            H = xxh64_arrow(
                pa.array(shingles, type=pa.large_binary()),
                np.full(len(shingles), SPARK_SEED, np.uint64),
            )
            h31 = (H & mask).astype(np.int64)
            perms = (a_arr * h31[None, :] + b_arr) % p64  # (nperm, n_sh)
            starts = np.concatenate([[0], np.cumsum(counts)])[:-1]
            mins = np.minimum.reduceat(perms, starts, axis=1)  # (nperm, n_rows)
            list_offs = pa.array(np.arange(n_rows + 1, dtype=np.int32) * nperm)
            sig_col = pa.ListArray.from_arrays(
                list_offs, pa.array(mins.T.ravel(), type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in range(n_cols)] + [sig_col],
                schema=pa.schema(
                    [batch.schema.field(c) for c in range(n_cols)]
                    + [pa.field("sig", pa.list_(pa.int64()))]
                ),
            )

    return base.mapInArrow(kernel, schema=out_schema)


# Band buckets larger than this are dropped from candidate generation: a
# degenerate corpus (thousands of identical/boilerplate docs) would
# otherwise form a single quadratic join group. At 100 TB this cap is what
# keeps the band join's worst case linear; the pairs it suppresses are
# mass duplicates better handled by exact dedup first.
MAX_BAND_BUCKET = 1000


def drop_hot_buckets(df: DataFrame, key_cols: str | list[str], max_bucket) -> DataFrame:
    """Shared bounded-worst-case policy for every bucketed candidate
    generator (LSH bands, SimHash segments, ANN sign codes, word inverted
    indexes): rows whose bucket key holds more than ``max_bucket`` members
    are excluded. ``max_bucket`` may be an int or a per-row Column (the
    data-derived df_cap).

    Implementation is a WINDOW count over the bucket key — ONE shuffle on
    the key the downstream self-join needs anyway, so the join's exchange
    is reused and the input is computed exactly once. (Round 2 used
    groupBy-count + broadcast anti join: that recomputed the exploded
    input — for ANN, every hyperplane dot product — and added a second
    aggregate exchange; it showed up as a +22% regression on emb_ann_lsh.)
    A degenerate mega-bucket buffers in WindowExec's spill-backed sorter
    before being dropped — bounded disk, never OOM, never quadratic."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = Window.partitionBy(*[F.col(k) for k in keys])
    return (
        df.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_n") <= max_bucket)
        .drop("_bucket_n")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int = MAX_BAND_BUCKET,
    with_est: bool = True,
) -> DataFrame:
    """Band the signatures (BAND_ROWS rows/band) and emit candidate pairs
    that collide in >=1 band — with their estimated jaccard (fraction of
    equal signature slots) when ``with_est``. One shuffle on band keys
    (the hot-bucket cap is a window count on the SAME partitioning — no
    extra aggregate pass); no quadratic scan. Buckets over ``max_bucket``
    members are excluded (bounded worst case).

    ``with_est=False`` (round 7): callers that only consume the id pairs
    (the exact-verify pipeline) get a plan that never carries the
    16-slot signature arrays through the band window or the pair-dedup
    exchange — measured ~70 MB of shuffle per 50k-doc corpus that pure
    column pruning did not remove. With ``with_est`` the estimate is now
    computed BEFORE the dedup exchange (duplicate collisions carry an
    identical estimate, so the surviving row is unchanged) — the dedup
    then shuffles one double instead of two signature arrays."""
    nbands = NUM_PERM // BAND_ROWS
    bands = F.array(
        *[
            F.xxhash64(F.lit(b), *[F.col("sig")[b * BAND_ROWS + r] for r in range(BAND_ROWS)])
            for b in range(nbands)
        ]
    )
    cols = [F.col(id_col), "sig"] if with_est else [F.col(id_col)]
    e = sigs.select(*cols, F.explode(bands).alias("band_key"))
    e = drop_hot_buckets(e, "band_key", max_bucket)
    # shuffle-hash self-join: both sides are already hash-partitioned by
    # band_key from the window's exchange, so SHJ builds per-partition
    # hash tables with NO broadcast of the exploded frame (round-7 A/B:
    # the default broadcast plan collected+shipped 400k rows and
    # measured ~15% slower; guide §3.1)
    a, b = e.alias("a"), e.alias("b").hint("shuffle_hash")
    joined = a.join(
        b,
        (F.col("a.band_key") == F.col("b.band_key")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    if not with_est:
        return (
            joined.select(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    with_sigs = joined.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.sig").alias("sig_a"),
        F.col("b.sig").alias("sig_b"),
    )
    est = (
        F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))").cast("double")
        / NUM_PERM
    )
    return (
        with_sigs.select("id_a", "id_b", est.alias("est_jaccard"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _shingle_sets_hof(df: DataFrame, text_col: str = "text", ngram: int = 3) -> DataFrame:
    """Reference JVM implementation of :func:`shingle_sets` (interpreted
    higher-order functions). Kept as the byte-equality oracle for the
    vectorized kernel (``test_numpy_shingles_match_reference``)."""
    tokens = F.expr(rf"split(trim(lower({text_col})), '\\s+')")
    df = df.withColumn("_tokens", tokens)
    n = F.size("_tokens")
    sh = F.when(
        n >= ngram,
        F.expr(
            f"transform(sequence(0, size(_tokens) - {ngram}), i -> "
            f"concat_ws(' ', slice(_tokens, i + 1, {ngram})))"
        ),
    ).otherwise(F.expr("array(concat_ws(' ', _tokens))"))
    return df.withColumn("shingles", F.array_distinct(sh)).drop("_tokens")


def shingle_sets(
    df: DataFrame, text_col: str = "text", ngram: int = 3, vectorized: bool = True
) -> DataFrame:
    """Append ``shingles: array<string>`` — DISTINCT word n-grams (the raw
    strings, not hashes, so the exact-verify stage is engine-portable).

    Round-7 shape (same argument as :func:`minhash_signature`): JVM
    tokenization, then one ``mapInArrow`` stage assembles the distinct
    shingle byte strings from the Arrow token buffers — byte-identical to
    the interpreted ``transform``/``concat_ws``/``array_distinct`` plan
    (including array_distinct's first-occurrence order; pinned by
    ``test_numpy_shingles_match_reference``), at a fraction of the
    per-element expression-tree cost. Pure map stage, no shuffle.
    ``vectorized=False`` keeps the HOF plan for tiny inputs."""
    if not vectorized:
        return _shingle_sets_hof(df, text_col, ngram)
    import pyarrow as pa

    from pyspark.sql.types import StringType

    tokens_expr = F.expr(rf"split(trim(lower({text_col})), '\\s+')")
    base = df.withColumn("_tokens", tokens_expr)
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("shingles", ArrayType(StringType(), True), True)]
    )
    n_cols = len(df.schema.fields)
    ng = int(ngram)

    def kernel(batches):
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            toks = batch.column(n_cols)
            row_valid = np.ones(n_rows, dtype=bool)
            if toks.null_count:
                row_valid = np.array(toks.is_valid())
            tlens = toks.value_lengths().to_numpy(zero_copy_only=False)
            tlens = np.where(row_valid, tlens, 0).astype(np.int64)
            tstarts = np.concatenate([[0], np.cumsum(tlens)])
            vals = toks.flatten().cast(pa.large_binary())
            _, ob, db = vals.buffers()
            off = np.frombuffer(ob, np.int64, len(vals) + 1, vals.offset * 8)
            mv = memoryview(db) if db is not None else memoryview(b"")
            tok_views = [mv[off[j] : off[j + 1]] for j in range(len(vals))]
            space = b" "
            flat: list[bytes] = []
            offs = np.empty(n_rows + 1, dtype=np.int32)
            offs[0] = 0
            for i in range(n_rows):
                if not row_valid[i]:
                    # NULL text: concat_ws(' ', NULL) yields "" (skips nulls)
                    flat.append(b"")
                    offs[i + 1] = offs[i] + 1
                    continue
                ts, nt = tstarts[i], tlens[i]
                if nt >= ng:
                    row = tok_views[ts : ts + nt]
                    # dict.fromkeys preserves first-occurrence order, exactly
                    # like array_distinct
                    uniq = dict.fromkeys(
                        space.join(row[k : k + ng]) for k in range(nt - ng + 1)
                    )
                else:
                    uniq = {space.join(tok_views[ts : ts + nt]): None}
                flat.extend(uniq)
                offs[i + 1] = offs[i] + len(uniq)
            # int64 value offsets (large_string): a batch's shingle bytes
            # may pass 2 GB; mapInArrow takes list<large_string> for
            # array<string> but rejects LargeList, so list offsets stay int32
            sh_col = pa.ListArray.from_arrays(
                pa.array(offs), pa.array(flat, type=pa.large_string())
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in range(n_cols)] + [sh_col],
                schema=pa.schema(
                    [batch.schema.field(c) for c in range(n_cols)]
                    + [pa.field("shingles", pa.list_(pa.large_string()))]
                ),
            )

    return base.mapInArrow(kernel, schema=out_schema)


def verify_pairs_exact(candidates: DataFrame, shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-set Jaccard for CANDIDATE pairs only (the verify leg
    of the dedup pipeline). Two slim equi-joins fetch each side's shingle
    set; the intersection runs JVM-side. Only candidate rows move — never
    the corpus cross product. int/int division is IEEE-stable for the
    cross-engine compare."""
    sa = shingled.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    j = candidates.join(sa, "id_a").join(sb, "id_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    j = j.select(
        "id_a",
        "id_b",
        n_common.alias("n_common"),
        F.size("sh_a").cast("long").alias("n_a"),
        F.size("sh_b").cast("long").alias("n_b"),
    )
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return j.withColumn("jaccard", jac)


def _verified_dup_pairs(spark, sf_dir):
    """Shared verify leg of the dedup pipeline/keepers queries: MinHash ->
    banded LSH candidates -> exact shingle-set Jaccard on the candidates.

    Round-7 shape (guide §2.4/§8 — decide with small rows): the candidate
    PAIR LIST (ids only, orders smaller than the corpus by the same
    argument as SMALL_GRAPH_MAX_EDGES) is materialized once with
    localCheckpoint, then shingle sets are computed ONLY for documents
    that actually appear in a candidate pair (broadcast semi-style inner
    join on the involved ids BEFORE the shingle transform). The former
    plan evaluated the full-corpus shingle subtree twice — once per side
    of the verify join; identical output, ~10x less shingle work on a
    typical (mostly-unique) corpus."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    vec = _use_vectorized(docs)
    d = docs.select("doc_id", "text")
    sigs = minhash_signature(d, vectorized=vec)
    cands = lsh_candidate_pairs(sigs, with_est=False).localCheckpoint(eager=True)
    involved = cands.select(F.explode(F.array("id_a", "id_b")).alias("doc_id")).distinct()
    shingled = shingle_sets(d.join(F.broadcast(involved), "doc_id"), vectorized=vec)
    return verify_pairs_exact(cands, shingled).filter(F.col("jaccard") >= 0.7)


@query(
    "docs_dedup_pipeline",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        FROM documents
    ), d AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(w) >= 3 THEN
                   list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               ELSE [array_to_string(w, ' ')] END) AS sh
        FROM t
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
           CAST(len(a.sh) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
    """,
)
def docs_dedup_pipeline(spark, sf_dir):
    """THE composed near-dup pipeline: MinHash signatures -> banded LSH
    candidates (capped buckets) -> exact shingle-set Jaccard verify ON THE
    CANDIDATES -> pairs with jaccard >= 0.7.

    The DuckDB oracle computes the same >= 0.7 pair set by brute force
    (all pairs), so this query also PROVES the LSH recall end-to-end: any
    true near-dup pair the bands missed would surface as a row-count
    mismatch. At 8 bands x 2 rows the analytic miss probability at
    j = 0.7 is ~0.45% per pair and ~2e-6 at j = 0.9; the corpus's planted
    dup pairs sit at j >= 0.7 and are all caught (deterministic — the
    permutation constants are fixed).

    Scale shape: signatures map-only; band join shuffles once on band
    keys with capped buckets; verify computes shingle sets for INVOLVED
    candidate docs only (see _verified_dup_pairs). No stage is quadratic
    in the corpus."""
    return _verified_dup_pairs(spark, sf_dir).orderBy("id_a", "id_b")


# -------------------------------------------- cluster representatives (CC)
#: Edge cap for the driver-side union-find fast path. The input is the
#: VERIFIED near-dup pair graph — orders of magnitude smaller than the
#: corpus (a corpus with 10^6 verified dup PAIRS has at most ~2*10^6
#: involved docs; 10^10-doc corpora still produce pair graphs this small
#: unless the dedup threshold is broken). The gate is an exact count, so
#: the collect is bounded by construction; larger graphs take the
#: distributed O(log diameter) loop below.
SMALL_GRAPH_MAX_EDGES = 1_000_000


def _union_find_min_labels(edge_rows) -> dict:
    """Driver-side union-find (path-halving) with min-id representatives.
    Deterministic: the representative of each component is its smallest id
    regardless of edge order."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def connected_min_labels(
    pairs: DataFrame,
    max_iters: int = 20,
    small_graph_max_edges: int = SMALL_GRAPH_MAX_EDGES,
) -> DataFrame:
    """Connected components over a (near-dup) pair graph: every node ends
    labeled with the smallest id reachable from it — the cluster
    representative the dedup KEEPS.

    Two execution strategies behind one contract (identical labels):

    - **small graph** (edge count <= ``small_graph_max_edges``): one
      bounded collect + driver union-find + one createDataFrame. The
      verified pair graph is orders smaller than the corpus, so this is
      the common case even at 10^10 docs; the gate is an exact count.
    - **large graph**: the distributed min-label-propagation +
      pointer-jumping loop below (O(log diameter) rounds).

    Each round does min-label propagation along edges PLUS a
    pointer-jumping shortcut (label := label's label — every label is
    itself a node, so the lookup always hits), which doubles the distance
    information travels per round: convergence is O(log diameter), so a
    chain of near-dups 1000 docs long converges in ~10 rounds, not 1000
    (round-2 advice: propagation alone silently mislabeled any component
    with diameter > max_iters).

    Scale shape: all iterations join only the PAIR GRAPH (candidates that
    survived verification — orders of magnitude smaller than the corpus).
    Each round localCheckpoints the label frame so the plan stays flat.
    The driver-side loop runs a count() per round (an aggregate action,
    not a row materialization) and stops at fixpoint; if the fixpoint is
    NOT reached within ``max_iters`` this RAISES instead of returning
    silently-wrong labels."""
    # materialize the (small) verified pair list ONCE before mirroring it
    # into the edge list: the two union branches would otherwise each
    # re-evaluate the whole upstream candidate+verify pipeline (round 7,
    # guide §2.4 — cut the duplicated subtree, not just its exchanges)
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    # Small-graph fast path: the verified pair graph usually fits the
    # driver with room to spare (see SMALL_GRAPH_MAX_EDGES). One exact
    # count gates a bounded collect + union-find. Union-find only needs
    # each undirected pair ONCE (round 7: the mirrored+deduplicated edge
    # frame is built only for the distributed propagation loop, saving
    # the union/distinct shuffle + a checkpoint job here); 2x the pair
    # count upper-bounds the mirrored edge count, so the gate is at
    # least as conservative as the former edge-count gate. Result is
    # identical (min-id representative per component) by construction.
    n_pairs = pairs.count()
    if 2 * n_pairs <= small_graph_max_edges:
        spark = pairs.sparkSession
        labels = _union_find_min_labels([(r[0], r[1]) for r in pairs.collect()])
        node_t = pairs.schema.fields[0].dataType
        schema = StructType(
            [StructField("node", node_t, False), StructField("label", node_t, False)]
        )
        return spark.createDataFrame(
            [(n, l) for n, l in sorted(labels.items())], schema=schema
        )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    changed = None
    for _ in range(max_iters):
        nmin = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        prop = labels.join(nmin, labels["node"] == nmin["src"], "left").select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
        )
        # pointer jumping: follow one more hop through the label table
        lookup = prop.select(F.col("node").alias("_ln"), F.col("label").alias("_ll"))
        new_labels = (
            prop.join(lookup, prop["label"] == lookup["_ln"], "left")
            .select("node", F.least(F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))).alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_min_labels did not converge in {max_iters} rounds "
            f"({changed} labels still moving) — the dup-pair graph has a "
            f"component of diameter > 2^{max_iters}; raise max_iters"
        )
    return labels


@query(
    "docs_dedup_keepers",
    oracle=r"""
    WITH RECURSIVE t AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        FROM documents
    ), d AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(w) >= 3 THEN
                   list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               ELSE [array_to_string(w, ' ')] END) AS sh
        FROM t
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_rep,
           CAST(node = MIN(label) AS BOOLEAN) AS is_keeper
    FROM reach GROUP BY node
    """,
)
def docs_dedup_keepers(spark, sf_dir):
    """THE dedup decision: near-dup pairs (MinHash -> LSH -> exact verify,
    jaccard >= 0.7) -> connected components -> keep the min doc_id per
    cluster. The DuckDB oracle recomputes the same representatives by
    brute-force pairs + a recursive transitive closure, so candidate
    recall, verification AND the component labeling are all checked."""
    pairs = _verified_dup_pairs(spark, sf_dir).select("id_a", "id_b")
    labels = connected_min_labels(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_rep"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    ).orderBy("doc_id")


# ------------------------------------------------------------------- SimHash
# 32 bits: 16 was too coarse for a homogeneous corpus (a quarter of ALL
# pairs landed within Hamming 3 of each other on the driver testdata —
# near-zero precision as a near-dup signal).
SIMHASH_BITS = 32


def simhash(df: DataFrame, text_col: str = "text", ngram: int = 1) -> DataFrame:
    """Append a ``simhash`` int column: sign-aggregated token-hash bits.

    ``ngram`` selects the feature unit. The default is UNIGRAM tokens — a
    deliberate, measured choice (round-2 review asked whether this should
    be MinHash's 3-gram shingles): with ``ngram=3`` a single token edit
    perturbs 3 shingles, tripling the bit noise per edit, and planted
    near-dup recall at Hamming<=3 drops from >=0.6 to 0.27 on the test
    corpus (tests/test_dedup.py). Shingles buy word-order discrimination
    (precision); unigrams buy edit tolerance (recall) — for a near-dup
    FINDER the recall side wins. JVM-side: one aggregate per bit over the
    feature-hash array."""
    tokens = F.expr(rf"split(trim(lower({text_col})), '\\s+')")
    if ngram == 1:
        df = df.withColumn("_h", F.expr(rf"transform(split(trim(lower({text_col})), '\\s+'), t -> xxhash64(t))"))
    else:
        df = df.withColumn("_tokens", tokens)
        shingles = F.when(
            F.size("_tokens") >= ngram,
            F.expr(
                f"transform(sequence(0, size(_tokens) - {ngram}), i -> "
                f"xxhash64(concat_ws(' ', slice(_tokens, i + 1, {ngram}))))"
            ),
        ).otherwise(F.expr("array(xxhash64(concat_ws(' ', _tokens)))"))
        df = df.withColumn("_h", shingles).drop("_tokens")
    bit_sum = [
        F.expr(f"aggregate(_h, 0L, (acc, h) -> acc + 2 * ((h >> {i}) & 1) - 1)") for i in range(SIMHASH_BITS)
    ]
    code = None
    for i, s in enumerate(bit_sum):
        term = F.when(s > 0, F.lit(1 << i)).otherwise(F.lit(0))
        code = term if code is None else code + term
    return df.withColumn("simhash", code.cast("long")).drop("_h")


# SimHash Hamming-<=k pairing: split the SIMHASH_BITS-bit code into
# SIMHASH_SEGMENTS segments; by pigeonhole, two codes at Hamming distance
# <= k with k < SIMHASH_SEGMENTS agree on at least one whole segment, so
# an equi-join on (segment index, segment bits) finds every such pair
# without an all-pairs scan. The pigeonhole recall guarantee holds for
# pairs whose shared segment lands in a bucket at or below the size cap;
# over-cap (degenerate) buckets are dropped for bounded worst-case work —
# tests/test_dedup.py asserts exact equality with brute force below the
# cap.
SIMHASH_SEGMENTS = 4
_SEG_BITS = SIMHASH_BITS // SIMHASH_SEGMENTS


def simhash_pairs(
    coded: DataFrame,
    max_hamming: int = SIMHASH_SEGMENTS - 1,
    id_col: str = "doc_id",
    max_bucket: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """Candidate pairs within Hamming distance ``max_hamming`` of each
    other (``coded`` needs columns (id_col, simhash)). Guaranteed-recall
    segment banding + exact bit_count(xor) verify; over-cap segment
    buckets are dropped via the shared window-count cap (bounded worst
    case, one shuffle on the segment key)."""
    if max_hamming >= SIMHASH_SEGMENTS:
        raise ValueError("pigeonhole guarantee needs max_hamming < SIMHASH_SEGMENTS")
    mask = (1 << _SEG_BITS) - 1
    segs = F.array(
        *[
            F.xxhash64(F.lit(s), F.shiftright(F.col("simhash"), s * _SEG_BITS).bitwiseAND(F.lit(mask)))
            for s in range(SIMHASH_SEGMENTS)
        ]
    )
    e = coded.select(F.col(id_col), "simhash", F.explode(segs).alias("seg_key"))
    e = drop_hot_buckets(e, "seg_key", max_bucket)
    a = e.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("code_a"), "seg_key")
    # same shuffle-hash rationale as lsh_candidate_pairs (round 7)
    b = e.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("code_b"), "seg_key").hint(
        "shuffle_hash"
    )
    hamming = F.bit_count(F.expr("code_a ^ code_b"))
    return (
        a.join(b, ["seg_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "code_a", "code_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def docs_simhash_pairs(spark, sf_dir):
    """Near-dup candidate pairs at SimHash Hamming distance <= 3 — the
    banded upgrade over distance-0 code collisions (round-1 gap: exact
    collisions under-recall). Recall vs exact Jaccard asserted in
    tests/test_dedup.py.

    NOT driver-registered since round 6 (was rows-only): its slot in the
    driver's 50-query window went to the oracle-paired
    cdc_update_where_state; correctness stays pinned by the three simhash
    pytests (banding recall, shingle variant, exact+near)."""
    d = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return simhash_pairs(simhash(d)).orderBy("id_a", "id_b")
